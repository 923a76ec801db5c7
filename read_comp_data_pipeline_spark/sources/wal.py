"""WAL (change-event log) source: deterministic generator + epoch reader.

This replaces the reference's crawl frontier — a mutable Python list popped
one URL at a time (``/root/reference/search_scrape.py:932,:940,:1347-1358``)
— with an append-only ordered event log read in bounded epoch slices
(SURVEY.md §2.1 S1-S3, §2.9).

Generation is **fully distributed and deterministic**: pure Column
expressions over ``spark.range(n)`` seeded via ``xxhash64`` — no driver-side
data, no wall clock, no Python RNG — so a 10^10-event WAL is just a bigger
range. The only shuffle is the per-key ``row_number`` that assigns each
key its event index (needed for the I/U/D state machine of FIXTURES.md §2).

The parquet layout is partitioned by ``epoch`` so the per-epoch slice read
in the ingest loop is pure partition pruning (no full-log scan).
"""

from __future__ import annotations

from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from read_comp_data_pipeline_spark.schemas import WAL_SCHEMA
from read_comp_data_pipeline_spark.session import PerJVM

# the Spark schema each footer schema infers to (read_epoch)
_EPOCH_SCHEMAS = PerJVM()
# footer key where Spark records the schema it wrote; inference prefers it
_SPARK_ROW_METADATA = b"org.apache.spark.sql.parquet.row.metadata"

# Vocabulary for synthetic content. Includes the reference's 13 classifier
# terms (search_scrape.py:1088-1102) so the keyword classifier (P5) and the
# extraction (W1) have real work on generated content.
_KEYWORDS = [
    "law", "legal", "statute", "legislative", "judicial", "legislation",
    "legislature", "government", "court", "due process", "jurisprudence",
    "jury", "tribunal",
]
_FILLER = [
    "alpha", "bravo", "charlie", "delta", "echo", "foxtrot", "golf",
    "hotel", "india", "juliet", "kilo", "lima", "mike", "november",
]
_LANGS = ["py", "js", "go", "java", "rs", "md"]


def _pick(arr_col, idx_col):
    """element_at over a literal array, 1-based, idx already bounded."""
    return F.element_at(arr_col, (idx_col + F.lit(1)).cast("int"))


def generate_change_events(
    spark: SparkSession,
    n_events: int,
    n_keys: int | None = None,
    epoch_size: int = 100_000,
    seed: int = 42,
    base_ts: str = "2024-01-01 00:00:00",
) -> DataFrame:
    """Deterministic synthetic WAL per FIXTURES.md §2.

    * ``seq``: 0..n-1 strictly increasing (``spark.range``).
    * key distribution: power-law skew — a few hot repos get most traffic
      (exercises salting/AQE; FIXTURES.md §1).
    * ``op``: first event per key 'I'; afterwards a deterministic hash picks
      ~10% 'D'; the event after a 'D' re-inserts with 'I'; else 'U'.
    * ``content``: seeded multi-line text with ``== H ==`` … ``====== H ======``
      header markers, classifier keywords, and an occasional
      ``== References ==`` tail (exercises W1's early-break); 0.2–50 KB;
      null for deletes.
    """
    if n_keys is None:
        n_keys = max(n_events // 8, 1)

    df = spark.range(n_events).withColumnRenamed("id", "seq")
    s = F.lit(seed)

    # --- key assignment with power-law skew ---------------------------------
    u = (F.pmod(F.xxhash64("seq", s), F.lit(1_000_000_007)) / 1_000_000_007.0)
    key = F.floor(F.lit(n_keys) * F.pow(u, F.lit(3.0))).cast("long")
    df = df.withColumn("_key", key)
    df = df.withColumn(
        "repo",
        F.concat(
            F.lit("org"), (F.col("_key") % 7).cast("string"),
            F.lit("/repo"), (F.col("_key") % 101).cast("string"),
        ),
    )
    lang_idx = (F.col("_key") % len(_LANGS)).cast("int")
    df = df.withColumn("lang", _pick(F.array(*[F.lit(x) for x in _LANGS]), lang_idx))
    df = df.withColumn(
        "path",
        F.concat(
            F.lit("src/d"), ((F.col("_key") / 101) % 13).cast("long").cast("string"),
            F.lit("/f"), F.col("_key").cast("string"),
            F.lit("."), F.col("lang"),
        ),
    )

    # --- per-key event index → op state machine -----------------------------
    # The one generation shuffle. At ingest time the engine never needs this
    # window: compaction is a salted max_by aggregate (operators/compact.py).
    w = Window.partitionBy("repo", "path").orderBy("seq")
    df = df.withColumn("_idx", F.row_number().over(w).cast("long"))

    def op_hash(idx_col):
        return F.pmod(F.xxhash64("repo", "path", idx_col, s), F.lit(10))

    h_cur = op_hash(F.col("_idx"))
    h_prev = op_hash(F.col("_idx") - 1)
    prev_was_delete = (F.col("_idx") >= 3) & (h_prev == 0)
    df = df.withColumn(
        "op",
        F.when(F.col("_idx") == 1, F.lit("I"))
        .when(h_cur == 0, F.lit("D"))
        .when(prev_was_delete, F.lit("I"))
        .otherwise(F.lit("U")),
    )

    df = df.withColumn(
        "commit",
        F.substring(
            F.sha2(F.concat_ws("|", "repo", "path", F.col("_idx").cast("string"), s.cast("string")), 256),
            1, 40,
        ),
    )

    # --- content synthesis (Column-expression text builder) -----------------
    kws = F.array(*[F.lit(x) for x in _KEYWORDS])
    fil = F.array(*[F.lit(x) for x in _FILLER])

    def r(tag: str, mod: int):
        return F.pmod(F.xxhash64("seq", F.lit(tag), s), F.lit(mod))

    # size class: 80% small / 18% medium / 2% large → 0.2–50 KB
    size_cls = r("sz", 100)
    n_body = (
        F.when(size_cls < 80, 4 + r("nb", 28))
        .when(size_cls < 98, 64 + r("nb", 192))
        .otherwise(512 + r("nb", 1024))
    ).cast("int")

    w1, w2, w3, w4 = (_pick(fil, r(f"w{i}", len(_FILLER))) for i in range(4))
    kw1 = _pick(kws, r("k1", len(_KEYWORDS)))
    # ~75% of rows carry a second distinct keyword → classifier (≥2-of-13)
    # has both positives and negatives.
    kw2 = F.when(r("k2", 4) > 0, _pick(kws, r("k2x", len(_KEYWORDS)))).otherwise(w2)

    body_seg = F.concat(w2, F.lit(" "), kw1, F.lit(" "), w3, F.lit(" code segment "))
    body_a = F.repeat(body_seg, n_body)
    body_b = F.repeat(F.concat(w4, F.lit(" body line ")), (n_body / 2 + 1).cast("int"))

    content = F.concat(
        F.lit("File "), F.col("path"), F.lit(" intro "), kw2, F.lit("\n"),
        F.lit("== "), w1, F.lit(" Overview ==\n"),
        body_a, F.lit("\n"),
        F.lit("=== "), w3, F.lit(" Detail ===\n"),
        body_b, F.lit("\n"),
        # deeper levels on ~half of rows (exercises h4/h5/h6 carry-forward)
        F.when(
            r("deep", 2) == 0,
            F.concat(
                F.lit("==== "), w4, F.lit(" Sub ====\n"), body_seg, F.lit("\n"),
                F.lit("====== "), w1, F.lit(" Leaf ======\n"), body_seg, F.lit("\n"),
            ),
        ).otherwise(F.lit("")),
        F.lit("== Summary "), kw1, F.lit(" ==\n"), body_seg, F.lit("\n"),
        # ~25% get a References tail that W1 must drop (search_scrape.py:592-595)
        F.when(
            r("ref", 4) == 0,
            F.lit("== References ==\nshould be ignored by the scanner\n"),
        ).otherwise(F.lit("")),
    )
    df = df.withColumn("content", F.when(F.col("op") == "D", F.lit(None)).otherwise(content))
    df = df.withColumn("commit", F.when(F.col("op") == "D", F.lit(None)).otherwise(F.col("commit")))

    df = (
        df.withColumn("epoch", (F.col("seq") / epoch_size).cast("long"))
        .withColumn("ts", F.expr(f"timestampadd(SECOND, seq, TIMESTAMP'{base_ts}')"))
        .select("seq", "epoch", "ts", "op", "repo", "path", "commit", "lang", "content")
    )
    return df


def write_wal(df: DataFrame, path: str, row_group_mb: int = 8) -> None:
    """Persist the WAL partitioned by epoch → epoch reads are pruned scans.

    Small parquet row groups (default 8 MB vs parquet's 128 MB default)
    keep the files SPLITTABLE: a row group is the atomic scan unit, so a
    coarse layout (few files × one big row group) would cap the parallelism
    of everything downstream of the scan — measured on this host: the
    scan+semi-join+shuffle stage of a 1.2 GB epoch ran 41-wide on 32 cores
    at 21-40% CPU. Any real WAL writer should do the same; the engine also
    defends itself at read time (ingest.prebucket_for_merge) when handed a
    coarse log it didn't write."""
    (
        df.write.mode("overwrite")
        .option("parquet.block.size", str(row_group_mb * 1024 * 1024))
        .partitionBy("epoch")
        .parquet(path)
    )


def read_epoch(
    spark: SparkSession, path: str, epoch: int, footers: EpochFooters | None = None
) -> DataFrame:
    """Bounded micro-batch read of one epoch (Trigger.AvailableNow-style).

    Reads the epoch's partition directory directly — pruning by
    construction — with that epoch's own schema, so a WAL whose later
    epochs carry evolved columns (FIXTURES.md §3) presents each slice with
    its native schema (the ingest loop evolves the target transactionally
    before applying it).

    The schema is Spark's inference over the epoch's files, run once per
    distinct footer schema (``footers``, from :func:`epoch_footers`; read
    here when not given) and then handed to the reader; an epoch whose
    files disagree on their schema is inferred every time.
    """
    import os

    edir = os.path.join(path, f"epoch={epoch}")
    if footers is None:
        footers = epoch_footers(path, epoch)
    if footers.schema is None:
        df = spark.read.parquet(edir)
    else:
        schema = _EPOCH_SCHEMAS.get(
            footers.schema, lambda: spark.read.parquet(edir).schema
        )
        df = spark.read.schema(schema).parquet(edir)
    return df.withColumn("epoch", F.lit(epoch).cast("long"))


def max_epoch(spark: SparkSession, path: str) -> int:
    import os

    epochs = [
        int(n.split("=", 1)[1])
        for n in os.listdir(path)
        if n.startswith("epoch=")
    ]
    return max(epochs) if epochs else -1


class EpochFooters(NamedTuple):
    """What one epoch's parquet footers say, read without Spark."""

    seq_lo: int | None
    seq_hi: int | None
    n_events: int
    n_read_units: int
    # the files' common footer schema (parquet schema + Spark's row
    # metadata), or None when the files disagree or there are none
    schema: tuple[str, bytes | None] | None


def epoch_footers(path: str, epoch: int) -> EpochFooters:
    """Footer statistics and schema of one epoch partition via pyarrow —
    no Spark job, no data read. The WAL's epoch dirs are its manifest."""
    import os

    import pyarrow.parquet as pq

    edir = os.path.join(path, f"epoch={epoch}")
    lo: int | None = None
    hi: int | None = None
    n = 0
    units = 0
    schemas = set()
    if not os.path.isdir(edir):
        return EpochFooters(None, None, 0, 0, None)
    for f in os.listdir(edir):
        if not f.endswith(".parquet"):
            continue
        md = pq.ParquetFile(os.path.join(edir, f)).metadata
        n += md.num_rows
        units += md.num_row_groups
        # the schema's text without its first line (a Python object address)
        text = str(md.schema).partition("\n")[2]
        schemas.add((text, (md.metadata or {}).get(_SPARK_ROW_METADATA)))
        seq_idx = {md.schema.column(i).name: i for i in range(md.num_columns)}["seq"]
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(seq_idx).statistics
            if st is not None and st.has_min_max:
                lo = st.min if lo is None else min(lo, st.min)
                hi = st.max if hi is None else max(hi, st.max)
    return EpochFooters(lo, hi, n, units, schemas.pop() if len(schemas) == 1 else None)


def epoch_stats(path: str, epoch: int) -> tuple[int | None, int | None, int, int]:
    """(seq_lo, seq_hi, n_events, n_read_units) for one epoch partition,
    from its parquet footers (:func:`epoch_footers`).

    ``n_read_units`` = total row groups: the hard ceiling on scan
    parallelism (Spark assigns a row group to exactly one task, whatever
    maxPartitionBytes says). The ingest loop uses it to decide whether the
    expensive extraction stage needs a repartition to reach full cluster
    parallelism (a coarse WAL epoch of a few big single-row-group files
    would otherwise bind the extraction stage to its file layout)."""
    return epoch_footers(path, epoch)[:4]


def expected_final_state(wal: DataFrame) -> DataFrame:
    """Golden oracle (FIXTURES.md §2): latest non-delete event wins,
    deleted keys absent. Window implementation — deliberately a *different*
    code path from the engine's salted max_by compaction, so tests compare
    two independent implementations.
    """
    w = Window.partitionBy("repo", "path").orderBy(F.col("seq").desc())
    return (
        wal.withColumn("_rn", F.row_number().over(w))
        .where((F.col("_rn") == 1) & (F.col("op") != "D"))
        .drop("_rn")
    )
