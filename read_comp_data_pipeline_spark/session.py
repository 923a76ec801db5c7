"""SparkSession factory tuned for the CDC ingest workload.

The confs below are the scale knobs the engine relies on (SURVEY.md §4):

* AQE + skew-join splitting: hot-repo skew (Zipf key distribution in the
  WAL) is re-planned at runtime instead of hand-scheduled.
* Arrow execution for the pandas extraction UDFs; ``maxRecordsPerBatch``
  kept moderate because ``content`` rows are 0.2–50 KB strings.
* ``shuffle.partitions`` defaults to the local core count — on a real
  cluster this is set per-submit (``spark-submit --conf``) to
  ~2–3× total cores; every helper here takes an override.
* **Right-sized heap + pre-sized code cache.** An oversized ``-Xmx``
  is not free: the first workload that drives committed-heap growth
  pays the kernel's page-fault/zeroing cost for memory it never needed
  (measured on this host: an identical first job ran 51 s under a 48g
  heap vs 2.6 s under 8g — all system time; steady state identical).
  Same for the JIT code cache: growing it in 2 MB steps under load
  serializes compilation behind mprotect storms. Default 16g (plenty
  for the engine's bounded broadcasts; ``SPARK_GRAFT_DRIVER_MEM``
  overrides for outsized jobs) with the code cache reserved up front.
"""

from __future__ import annotations

import os
import threading
from typing import Any, Callable

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "read_comp_data_pipeline_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's standard confs.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (driver contract);
    on a real cluster the master comes from spark-submit and this argument
    is left None.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        try:
            n = int(master.split("[")[1].rstrip("]"))
        except (IndexError, ValueError):
            n = os.cpu_count() or 8
        shuffle_partitions = max(n, 8)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # InferFiltersFromGenerate copies the generator expression into a
        # `size(e) > 0 AND isnotnull(e)` pre-filter. For the engine's
        # shingle/gram pipelines the generator is the most expensive
        # expression in the query (split + transform + concat_ws over the
        # full text), so the "free" inferred filter evaluates it 3× per row
        # (twice in the filter, once in the project) — measured in the r6
        # plans (plans/r06/dup_ngram_spans_before.txt nodes 5/6). Every
        # explode in the engine already carries an explicit emptiness guard
        # (`size(toks) >= n`), so the inference buys nothing here at any
        # scale; excluding the rule is semantics-neutral (optimizer rules
        # never change results, only plans).
        .config(
            "spark.sql.optimizer.excludedRules",
            "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
        )
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
    )
    # pre-size the JIT code cache; callers' extraJavaOptions are appended
    java_opts = "-XX:InitialCodeCacheSize=256m -XX:ReservedCodeCacheSize=512m"
    extra_conf = dict(extra_conf or {})
    caller_opts = extra_conf.pop("spark.driver.extraJavaOptions", "")
    builder = builder.config(
        "spark.driver.extraJavaOptions", f"{java_opts} {caller_opts}".strip()
    )
    for k, v in extra_conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


class PerJVM:
    """Memo for plan pieces (Columns, schemas) built once per live JVM.

    A PySpark Column is an unresolved JVM expression: it can be applied to
    any DataFrame, but building one costs py4j round trips per node (a
    ``cast`` to a DataType alone looks up the active session each time).
    Plan builders that run every epoch fetch their pieces from here
    instead; callers must not mutate what they get. Entries are JVM
    handles, so the memo belongs to the gateway it was filled under: when
    ``SparkContext._gateway`` changes (a shutdown and restart in the same
    Python process) it empties itself rather than hand out dead
    JavaObjects. The oldest entry is dropped past ``maxsize``, so many
    schemas over a long process stay bounded. Safe to share between
    driver threads; ``build`` runs outside the lock, so two threads
    missing the same key may both build it.
    """

    maxsize = 256

    def __init__(self):
        self._memo: dict = {}
        self._gateway: Any = None
        self._lock = threading.Lock()

    def get(self, key, build: Callable[[], Any]) -> Any:
        from pyspark import SparkContext

        gw = SparkContext._gateway
        with self._lock:
            if gw is not self._gateway:
                self._memo.clear()
                self._gateway = gw
            elif key in self._memo:
                return self._memo[key]
        value = build()
        with self._lock:
            if gw is self._gateway:
                if key not in self._memo and len(self._memo) >= self.maxsize:
                    del self._memo[next(iter(self._memo))]
                self._memo[key] = value
        return value


def observed_or(obs, key: str, fallback: Callable[[], Any]) -> Any:
    """Metric ``key`` of an ``Observation`` if an action has already filled
    it, else ``fallback()``. Never blocks: ``Observation.get`` waits until
    some action consumes the observed lineage, which may never happen (an
    empty source list, a short-circuited plan), so the filled row is
    checked first. Spark 4.1's row conversion can also assert on the
    metrics row an empty-relation plan produces; that falls back too."""
    jo = getattr(obs, "_jo", None)
    try:
        if jo is not None and not jo.getRowOrEmpty().isEmpty():
            return obs.get[key]
    except Exception:
        pass
    return fallback()
