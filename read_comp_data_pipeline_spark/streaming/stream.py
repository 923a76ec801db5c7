"""Structured Streaming ingest variant.

The batch epoch loop (``ingest.py``) is the deterministic, replayable
form; this module runs the same epochs through Spark Structured
Streaming: ``readStream`` over the WAL directory → ``foreachBatch`` →
``ingest.apply_epoch``, the batch loop's own compaction, extraction,
MERGE, audit gate and compaction/maintenance cadence, with
``Trigger.AvailableNow`` for bounded runs. The stream keeps only what a
micro-batch source needs for itself: the batch's seq range and count
(from the persisted batch, not from parquet footers), the replay skip
below, and raising on an audit rejection so the query stops with its
offset uncommitted.

Exactly-once is keyed on SOURCE data, not on the streaming batch id.
Batch ids are not a safe idempotency key — after a checkpoint-directory
loss they restart at 0, and a replayed batch 0 can contain BOTH
already-applied files and genuinely new ones; an epoch<=committed skip
would silently drop the new rows. Two layers replace it: (a) the MERGE
itself is per-key seq-aware (``operators/merge.py`` — equal-or-older seq
loses to the target, so replayed rows are row-level no-ops while new
rows apply), and (b) the snapshot's ``seq_hi`` watermark lets a batch
whose entire seq range is already committed skip the merge cost
outright (sound because a monotone WAL tail never delivers an unseen
gap below the watermark). Tested:
test_stream_checkpoint_loss_is_lossless. The streaming checkpoint
remains a read-efficiency layer, not the correctness layer.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from read_comp_data_pipeline_spark.operators.merge import HashMergeTable
from read_comp_data_pipeline_spark.schemas import TARGET_SCHEMA, WAL_SCHEMA
from read_comp_data_pipeline_spark.streaming.ingest import apply_epoch


def _run_stream(stream: DataFrame, checkpoint_path: str, table: HashMergeTable, apply) -> None:
    """Drive ``stream`` to its end (AvailableNow), calling
    ``apply(batch_df, batch_id, lo, hi, n)`` for each micro-batch that
    holds rows above the table's ``seq_hi`` watermark. A batch entirely at
    or below it is a pure replay of committed data (a monotone WAL tail
    never delivers an unseen gap below the watermark) and is skipped
    without merge cost. There is no row-level filter against the
    watermark: the MERGE is per-key seq-aware, so a mixed batch (replayed
    prefix + new suffix after checkpoint loss) applies the new rows and
    no-ops the replayed ones."""

    def on_batch(batch_df: DataFrame, batch_id: int) -> None:
        # the batch feeds several consumers (seq stats, compaction, the
        # MERGE) — persist so the file scan runs once
        batch_df = batch_df.persist()
        try:
            lo, hi, n = batch_df.agg(F.min("seq"), F.max("seq"), F.count("*")).first()
            if n and hi > table.last_seq_hi:
                apply(batch_df, batch_id, int(lo), int(hi), int(n))
        finally:
            batch_df.unpersist()

    (
        stream.writeStream.foreachBatch(on_batch)
        .option("checkpointLocation", os.path.join(checkpoint_path, "cp"))
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


def stream_ingest(
    spark: SparkSession,
    wal_path: str,
    table_path: str,
    checkpoint_path: str,
    n_buckets: int = 16,
    mode: str = "mor",
    max_files_per_trigger: int | None = None,
    compact_threshold: int = 5_000_000,
    audit_max_shrink: float | None = None,
) -> None:
    """Run the WAL through Structured Streaming until no data remains
    (AvailableNow), applying each micro-batch as one epoch through
    ``ingest.apply_epoch`` — MOR tables compact and all tables are
    maintained on ``run_ingest``'s default cadence.

    ``audit_max_shrink`` is the batch loop's write-audit-publish shrink
    gate: each micro-batch stages, and a poisoned batch is DISCARDED
    (readers never saw it) with the stream stopped by raising —
    foreachBatch exceptions fail the query, which is the correct behavior
    for a mass-delete upstream bug: the checkpoint has not advanced past
    the rejected batch, so a restart after the fix re-delivers it."""
    if not HashMergeTable.exists(table_path):
        HashMergeTable.create(spark, table_path, TARGET_SCHEMA, n_buckets=n_buckets, mode=mode)
    table = HashMergeTable(spark, table_path)

    reader = spark.readStream.schema(WAL_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    # the audit's 'before' count carries across micro-batches
    audit_base: dict = {}

    def apply(batch_df: DataFrame, batch_id: int, lo: int, hi: int, n: int) -> None:
        # the cached batch's partitions are its scan width
        res = apply_epoch(
            table, batch_df, table.last_epoch + 1, mode=mode, lo=lo, hi=hi,
            cnt=n, units=batch_df.rdd.getNumPartitions(), src_rows=n,
            compact_threshold=compact_threshold,
            audit_max_shrink=audit_max_shrink, audit_base=audit_base,
        )
        if "rejected" in res:
            raise RuntimeError(
                f"audit rejected streaming batch {batch_id}: {res['rejected']}"
            )

    _run_stream(reader.parquet(wal_path), checkpoint_path, table, apply)


def stream_ingest_partial(
    spark: SparkSession,
    wal_path: str,
    table_path: str,
    checkpoint_path: str,
    value_cols: list[str],
    event_schema,
    key_cols: list[str] | None = None,
    n_buckets: int = 16,
    compact_threshold: int = 5_000_000,
) -> None:
    """Structured-Streaming ingest of a SPARSE (partial-column) CDC feed:
    readStream over the WAL directory → foreachBatch → merge_partial
    (operators/partial.py), Trigger.AvailableNow.

    Exactly-once is keyed on source data with an even stronger guarantee
    than the full-row variant above: merge_partial resolves conflicts
    per COLUMN by shadow seq, so after a checkpoint loss a mixed replayed
    batch no-ops cell-by-cell — the replayed prefix can't clobber a column
    a newer batch already set. The ``seq_hi`` watermark still short-cuts
    pure replays for free.

    ``event_schema``: the sparse WAL's StructType (keys + op + seq + the
    tracked columns, NULL = not provided). The table is created with the
    matching ``partial_schema`` layout on first run.
    """
    from pyspark.sql import types as T

    from read_comp_data_pipeline_spark.operators.partial import partial_schema

    key_cols = key_cols or ["repo", "path"]
    if not HashMergeTable.exists(table_path):
        value_fields = [
            T.StructField(f.name, f.dataType, True)
            for f in event_schema.fields
            if f.name in value_cols
        ]
        HashMergeTable.create(
            spark, table_path, partial_schema(value_fields, key_cols),
            n_buckets=n_buckets, key_cols=key_cols, mode="cow",
        )
    table = HashMergeTable(spark, table_path)

    def apply(batch_df: DataFrame, batch_id: int, lo: int, hi: int, n: int) -> None:
        table.merge_partial(
            batch_df, table.last_epoch + 1, value_cols,
            src_seq_lo=lo, src_seq_hi=hi,
            # same size-based degradation guard as the batch loops: a
            # batch whose key set can't be assumed broadcastable takes
            # shuffled probe joins instead of a driver-built broadcast
            folded_broadcastable=(n <= compact_threshold),
            # batch size already counted → fold auto-switch
            src_rows=n,
        )

    _run_stream(
        spark.readStream.schema(event_schema).parquet(wal_path), checkpoint_path, table, apply
    )
