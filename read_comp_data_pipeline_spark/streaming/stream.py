"""Structured Streaming ingest variant.

The batch epoch loop (``ingest.py``) is the deterministic, replayable
form; this module runs the same transform through Spark Structured
Streaming — ``readStream`` over the WAL directory → ``foreachBatch`` →
the same compaction/extraction/MERGE — with ``Trigger.AvailableNow`` for
bounded runs.

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

from read_comp_data_pipeline_spark.operators.compact import compact_latest
from read_comp_data_pipeline_spark.operators.merge import HashMergeTable
from read_comp_data_pipeline_spark.schemas import TARGET_SCHEMA, WAL_SCHEMA
from read_comp_data_pipeline_spark.streaming.evolve import ensure_evolved
from read_comp_data_pipeline_spark.streaming.ingest import (
    bucket_before_extraction,
    prepare_target_rows,
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
    (AvailableNow), applying each micro-batch as one MERGE epoch.

    ``audit_max_shrink`` is the streaming arm of the batch loop's
    write-audit-publish gate (``ingest.run_ingest``): each micro-batch
    stages, the staged row count is checked against the shrink bound,
    and a poisoned batch is DISCARDED (readers never saw it) with the
    stream stopped by raising — foreachBatch exceptions fail the query,
    which is the correct behavior for a mass-delete upstream bug: the
    checkpoint has not advanced past the rejected batch, so a restart
    after the fix re-delivers it."""
    if not HashMergeTable.exists(table_path):
        HashMergeTable.create(spark, table_path, TARGET_SCHEMA, n_buckets=n_buckets, mode=mode)
    table = HashMergeTable(spark, table_path)

    reader = spark.readStream.schema(WAL_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(wal_path)

    # the audit's 'before' count carries across micro-batches (publish is a
    # pointer swing, so batch N's staged 'after' IS batch N+1's 'before') —
    # mirrors _run_epochs' audit_prev_rows: on MOR tables a fresh 'before'
    # would otherwise cost a full reconciled table count per batch, scaling
    # audit cost with table size instead of batch size
    audit_prev_rows: list[int | None] = [None]

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        # the batch feeds three consumers (seq stats, compaction, MERGE) —
        # persist so the file scan runs once
        batch_df = batch_df.persist()
        try:
            lo, hi, n = batch_df.agg(
                F.min("seq"), F.max("seq"), F.count("*")
            ).first()
            if not n:
                return
            committed = table.last_seq_hi
            if hi <= committed:
                # pure replay of already-committed data (a monotone WAL tail
                # never delivers an unseen gap below the watermark) — skip
                # the merge cost entirely
                return
            ensure_evolved(table, batch_df.schema)
            # same size-based degradation guard as the batch loop: a batch
            # whose key set can't be assumed broadcastable takes the
            # shuffle-agg compaction instead of the broadcast-semi plan
            if n > compact_threshold:
                strategy = "agg"
            elif mode == "mor":
                strategy = "broadcast_hash_semi"  # self-heals at read
            else:
                strategy = "broadcast_semi"
            # no row-level filtering against the watermark: the MERGE is
            # per-key seq-aware (operators/merge.py), so a mixed batch
            # (replayed prefix + new suffix after checkpoint loss) applies
            # the new rows and no-ops the replayed ones
            # the batch loop's rule for where the bucket shuffle goes: the
            # cached batch's partitions are its scan width
            compacted, _ = bucket_before_extraction(
                compact_latest(batch_df, strategy=strategy), table.n_buckets,
                mode, n, batch_df.rdd.getNumPartitions(),
            )
            src = prepare_target_rows(compacted)
            staging = audit_max_shrink is not None
            table.merge(
                src,
                table.last_epoch + 1,
                src_seq_lo=int(lo),
                src_seq_hi=int(hi),
                stage=staging,
            )
            if staging:
                from read_comp_data_pipeline_spark.streaming.ingest import (
                    _snapshot_row_count,
                )

                staged_snap = table.staged_snapshot()
                before = (
                    audit_prev_rows[0]
                    if audit_prev_rows[0] is not None
                    else _snapshot_row_count(table, table._snapshot())
                )
                after = _snapshot_row_count(table, staged_snap)
                if before > 0 and after < before * (1.0 - audit_max_shrink):
                    table.discard_staged()
                    from read_comp_data_pipeline_spark.streaming.ingest import (
                        _record_audit_rejection,
                    )

                    reason = (
                        f"audit rejected streaming batch {batch_id}: staged "
                        f"row count shrank {before} -> {after} (more than "
                        f"{audit_max_shrink:.0%} of the table)"
                    )
                    _record_audit_rejection(
                        table_path, int(staged_snap["epoch"]), reason
                    )
                    raise RuntimeError(reason)
                audit_prev_rows[0] = after
                table.publish_staged()
        finally:
            batch_df.unpersist()

    (
        stream.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", os.path.join(checkpoint_path, "cp"))
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


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
    stream = spark.readStream.schema(event_schema).parquet(wal_path)

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch_df = batch_df.persist()
        try:
            lo, hi, n = batch_df.agg(F.min("seq"), F.max("seq"), F.count("*")).first()
            if not n or hi <= table.last_seq_hi:
                return
            table.merge_partial(
                batch_df, table.last_epoch + 1, value_cols,
                src_seq_lo=int(lo), src_seq_hi=int(hi),
                # same size-based degradation guard as the batch loops: a
                # batch whose key set can't be assumed broadcastable takes
                # shuffled probe joins instead of a driver-built broadcast
                folded_broadcastable=(n <= compact_threshold),
                # batch size already counted above → fold auto-switch
                src_rows=int(n),
            )
        finally:
            batch_df.unpersist()

    (
        stream.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", os.path.join(checkpoint_path, "cp"))
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
