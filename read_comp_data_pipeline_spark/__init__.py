"""read_comp_data_pipeline_spark — a PySpark-native CDC / incremental-ingest engine.

A from-scratch re-expression of the capabilities of the reference repo
``jhyau/read-comp-data-pipeline`` (a single-threaded BeautifulSoup crawl →
metadata-extraction pipeline) as an idiomatic Spark engine:

* the crawl frontier becomes a WAL-style change-event log tailed in epochs
  (``sources.wal``),
* the seen-set becomes the key set of a MERGE target table
  (``operators.merge.HashMergeTable``),
* per-page extraction becomes Column expressions; ``scan_first_section``
  is the Python reference they are tested against (``functions.extract``),
* the hourly checkpoint becomes an idempotent per-(partition, epoch)
  commit manifest (exactly-once resume; ``streaming.ingest``).

Everything is DataFrame/Catalyst-first: Column expressions on the ingest
path; pandas UDFs only in queries that parse a whole document imperatively
(the multi-section scan, HTML metadata); no per-row Python UDFs anywhere,
no ``collect()`` in any data path.
"""

__version__ = "0.1.0"

from read_comp_data_pipeline_spark.session import get_spark  # noqa: F401
