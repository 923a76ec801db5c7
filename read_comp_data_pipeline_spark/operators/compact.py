"""Per-key last-writer-wins compaction (SURVEY.md §2.4 A5).

The reference enforces "exactly one state per key" with a seen-set that
keeps the *first* occurrence (``/root/reference/search_scrape.py:336-337,
:1054-1064``); CDC inverts it to *latest*-writer-wins per key. Same
invariant, opposite order.

Scale note (why max_by, not a window): ``row_number() over (partition by
key order by seq desc)`` shuffles **every event** of a hot key to one task
— a Zipf-skewed WAL makes that task the straggler. A hash aggregate with
``max_by(struct, seq)`` gets map-side partial aggregation from Catalyst:
each map task pre-combines its events to ≤1 row per key before the
shuffle, so a key with 10^7 updates contributes at most #map-partitions
rows to the exchange. That *is* the salting — done by the engine for free.
Verify in the plan: HashAggregate(partial) → Exchange → HashAggregate(final).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from read_comp_data_pipeline_spark.schemas import KEY_COLS
from read_comp_data_pipeline_spark.session import PerJVM

_COLUMNS = PerJVM()


def compact_latest(
    df: DataFrame,
    key_cols: list[str] | None = None,
    order_col: str = "seq",
    strategy: str = "broadcast_semi",
) -> DataFrame:
    """Keep the single latest row per key (max ``order_col``).

    ``strategy``:

    * ``"broadcast_semi"`` (default — the hot-path shape): aggregate only
      ``(key, max(order))`` — a hash aggregate over pruned columns, tiny
      and map-side combinable — then broadcast it and semi-join the full
      rows on (key, order). **The payload (multi-KB content strings) never
      shuffles and never sorts**; the only exchange carries key+seq pairs.
      Valid while an epoch's distinct-key set fits a broadcast (engine
      epochs are sized for this; at 10^7+ keys/epoch use ``"agg"``).
    * ``"broadcast_hash_semi"``: like broadcast_semi but the broadcast
      carries ONE long per key — ``xxhash64(key..., max seq)`` — instead
      of the key strings: ~6× smaller broadcast and a long-keyed hash
      relation the driver builds several times faster (the broadcast build
      is the dominant SERIAL cost per epoch once epochs reach 10^7
      events). 64-bit collisions (P ≈ n²/2⁻⁶⁵) can only *keep* a
      superseded row, never drop a live one — harmless in MOR where the
      read path re-reconciles per key by max seq (the stale row loses),
      so the MOR hot path uses this; COW sticks to the exact variant.
    * ``"agg"``: single ``max_by(struct(payload), order)`` aggregate.
      Shuffles full rows once; Catalyst compiles struct-buffer max_by to a
      SortAggregate (two full-data sorts) — correct and broadcast-free,
      but strictly heavier; the fallback when keys don't fit a broadcast.

    Requires ``order_col`` values unique per key (WAL seq is globally
    unique). Output columns match the input.
    """
    key_cols = tuple(key_cols or KEY_COLS)
    # the Columns are built once per JVM (session.PerJVM): this runs per
    # epoch on the ingest path and per scan on the MOR read path
    max_seq = _COLUMNS.get(("max", order_col), lambda: F.max(order_col).alias(order_col))
    if strategy == "broadcast_semi":
        latest = df.groupBy(*key_cols).agg(max_seq)
        return df.join(F.broadcast(latest), on=[*key_cols, order_col], how="left_semi")
    if strategy == "broadcast_hash_semi":
        h = _COLUMNS.get(
            ("hash", key_cols, order_col), lambda: F.xxhash64(*key_cols, order_col)
        )
        latest = df.groupBy(*key_cols).agg(max_seq).select(h.alias("_h"))
        return (
            df.withColumn("_h", h)
            .join(F.broadcast(latest), on="_h", how="left_semi")
            .drop("_h")
        )
    payload = tuple(c for c in df.columns if c not in key_cols)

    def agg_cols():
        packed = F.struct(*[F.col(c) for c in payload])
        return (
            F.max_by(packed, F.col(order_col)).alias("_p"),
            [F.col(f"_p.{c}").alias(c) for c in payload],
        )

    latest_row, unpacked = _COLUMNS.get(("agg", key_cols, order_col, payload), agg_cols)
    out = df.groupBy(*key_cols).agg(latest_row)
    return out.select(*key_cols, *unpacked)
