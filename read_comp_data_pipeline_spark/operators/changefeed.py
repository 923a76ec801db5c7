"""Resumable changelog export — the table as an incremental SOURCE.

``follow_changes`` turns a :class:`HashMergeTable` into a composable feed
for downstream pipelines (a second ingest, a search indexer, a training-
corpus refresher): each run exports the NET row-level changes since the
last run as one parquet window and advances a cursor, so downstream work
is proportional to what changed, never to table size. Iceberg
incremental-read / Delta CDF-stream analogue, built on the engine's own
``changes_between``.

Exactly-once delivery without a transaction log on the consumer side:

* window directories are DETERMINISTICALLY named by their epoch range
  (``windows/e{lo}-{hi}``) and written with overwrite, so a crash between
  the window write and the cursor swap re-runs into the SAME directory —
  the retry replaces, never duplicates;
* the cursor is a one-file atomic rename (same commit protocol as the
  table's snapshot pointer), recording the (epoch, version) the feed has
  delivered through;
* re-running when current is a no-op (epoch-level skip, like the
  ingest loop).

Loud-over-wrong: if the cursor's snapshot has been vacuumed away or the
source was rolled back below the cursor, the gap is UNRECOVERABLE for a
feed (downstream already consumed the old windows — silently re-
bootstrapping would double-deliver every live row), so the export raises
with instructions instead of guessing. Size vacuum retention to the
follow cadence.

Reference analogue: the crawler's per-page append of newly seen pages to
its output CSV (/root/reference/search_scrape.py:1088-1106) — the "only
what's new" delivery contract, here with deletes and update images.
"""

from __future__ import annotations

import json
import os
from typing import Any

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from read_comp_data_pipeline_spark.operators.merge import (
    atomic_write,
    parquet_rows,
    same_content,
)

_CURSOR = "CURSOR"


def read_cursor(out_path: str) -> dict[str, Any] | None:
    p = os.path.join(out_path, _CURSOR)
    if not os.path.exists(p):
        return None
    with open(p) as f:
        return json.load(f)


def _write_cursor(out_path: str, cursor: dict[str, Any]) -> None:
    # atomic like the table's snapshot pointer: a torn/empty cursor would
    # wedge the feed (or worse, a lost one would re-bootstrap and
    # double-deliver every live row)
    atomic_write(os.path.join(out_path, _CURSOR), json.dumps(cursor))


def window_dirs(out_path: str) -> list[str]:
    """Exported window directories, delivery order."""
    wdir = os.path.join(out_path, "windows")
    if not os.path.isdir(wdir):
        return []
    return [os.path.join(wdir, n) for n in sorted(os.listdir(wdir))]


def replicate_feed(
    spark: SparkSession,
    feed_path: str,
    target_path: str,
    n_buckets: int = 16,
    mode: str = "mor",
    key_cols: list[str] | None = None,
) -> dict[str, Any]:
    """Feed CONSUMER: apply every unconsumed window of a ``follow_changes``
    feed into a target :class:`HashMergeTable` — CDC-out feeding CDC-in,
    the full replication loop (read replica, cross-region copy, dev
    snapshot that trails prod) with work ∝ changes per run.

    Resumable and exactly-once with NO consumer-side bookkeeping: each
    window commits to the target as epoch ``_to_epoch``, so the target's
    own epoch watermark IS the cursor — a re-run (or a kill mid-feed)
    skips already-applied windows through the same idempotent epoch gate
    the ingest loop uses. Net-change windows map directly onto MERGE ops:
    insert/update_after → upsert, delete → delete, update_before →
    dropped (an image for consumers that need it, not an instruction).

    The target evolves its schema from each window before applying it
    (same transactional order as the ingest loop), so feeds spanning
    ADD-COLUMN / widening DDL replicate cleanly. A source RENAME is not
    inferable from row shape alone (the feed would show it as a new
    column): run the same ``rename_column`` on the replica before
    applying the post-rename windows.
    """
    from read_comp_data_pipeline_spark.operators.merge import HashMergeTable
    from read_comp_data_pipeline_spark.streaming.evolve import evolved_schema

    applied = skipped = rows = 0
    target = None
    if HashMergeTable.exists(target_path):
        target = HashMergeTable(spark, target_path)
    watermark = target.last_epoch if target is not None else -1
    for w in window_dirs(feed_path):
        # the window's epoch range is in its name — already-applied
        # windows skip on string work alone, no parquet or snapshot read
        to_epoch = int(os.path.basename(w).split("-")[1])
        if to_epoch <= watermark:
            skipped += 1
            continue
        df = spark.read.parquet(w)
        src = (
            df.where(F.col("_change_type") != "update_before")
            .withColumn(
                "op",
                F.when(F.col("_change_type") == "delete", F.lit("D")).otherwise(F.lit("U")),
            )
            .drop("_change_type", "_from_epoch", "_to_epoch")
        )
        incoming = src.drop("op").schema
        if target is None:
            target = HashMergeTable.create(
                spark, target_path, incoming, n_buckets=n_buckets,
                mode=mode, key_cols=key_cols,
            )
        new_schema = evolved_schema(target.schema, incoming)
        if new_schema is not None:
            target.evolve_schema(new_schema)
        st = target.merge(src, epoch=to_epoch)
        watermark = to_epoch
        applied += 1
        rows += int(st.get("rows_applied", 0))
    return {
        "windows_applied": applied,
        "windows_skipped": skipped,
        "rows_applied": rows,
        "target_epoch": target.last_epoch if target is not None else -1,
    }


def follow_changes(
    spark: SparkSession,
    source,
    out_path: str,
) -> dict[str, Any]:
    """Export the net changes committed since the last run to one new
    parquet window under ``out_path/windows`` and advance the cursor.

    The first run bootstraps: the whole current state is delivered as one
    ``insert`` window (the full scan the incremental path then never
    repeats). Every row carries ``_change_type`` plus the window's
    ``_from_epoch`` / ``_to_epoch`` for consumer bookkeeping. Rows inside
    a window are net-of-window (insert / delete / update before+after
    pairs), and consecutive windows tile the epoch line with no gap or
    overlap — applying them in order reconstructs the table exactly
    (pinned by tests/test_changefeed.py).
    """
    import shutil

    os.makedirs(out_path, exist_ok=True)
    # pin ONE source snapshot for the whole export (watermark + window
    # end + any read) — reading "current" twice would race a concurrent
    # commit and double-deliver its changes next run
    src_snap = source._snapshot()
    to_epoch = int(src_snap["epoch"])
    cursor = read_cursor(out_path)
    from_epoch = int(cursor["epoch"]) if cursor else -1
    reserved = {"_change_type", "_from_epoch", "_to_epoch", "op"}
    clash = reserved & {f.name for f in source.schema.fields}
    if clash:
        raise ValueError(
            f"table columns {sorted(clash)} collide with the feed's "
            "bookkeeping columns — rename them before following"
        )
    if to_epoch <= from_epoch:
        if cursor is not None and to_epoch < from_epoch:
            raise ValueError(
                f"source epoch {to_epoch} is BELOW the cursor ({from_epoch}): "
                "the source was rolled back past what the feed already "
                "delivered. The old windows cannot be retracted — start a "
                "NEW feed directory and reset the consumer."
            )
        return {"noop": True, "epoch": from_epoch}
    if cursor is not None:
        # the diff base is the EXACT snapshot the feed last delivered —
        # resolving by version (not just epoch) is what lets a same-epoch
        # content change (delete_where) ride out in the next window
        # instead of being silently skipped
        base = None
        if "version" in cursor:
            matches = [
                s for s in source.snapshots()
                if int(s["version"]) == int(cursor["version"])
            ]
            base = matches[0] if matches else None
        if base is None:
            # exact version vacuumed: fall back to the latest same-epoch
            # snapshot, which is safe only if content and timeline match
            base = source.snapshot_at_epoch(from_epoch)  # raises if vacuumed
            if not same_content(base, cursor):
                # epoch mismatch = vacuumed past the cursor; timeline
                # mismatch = rolled back below the cursor and replayed;
                # content_rev mismatch = a delete_where landed and its
                # pre-image snapshot is already vacuumed — in every case
                # diffing from this snapshot would skip changes downstream
                # never saw.
                raise ValueError(
                    f"cursor epoch {from_epoch} no longer resolves to the "
                    "exact state the feed delivered (vacuumed past a "
                    "row-level delete, or the source was rolled back below "
                    "the cursor and replayed). The feed cannot re-bootstrap "
                    "without double-delivering — start a NEW feed directory "
                    "and reset the consumer, and size vacuum retention to "
                    "the follow cadence."
                )
        changes = source.changes_between(base, src_snap)
    else:
        changes = source.read(at_snapshot=src_snap).withColumn(
            "_change_type", F.lit("insert")
        )
    win_dir = os.path.join(
        out_path, "windows", f"e{from_epoch + 1:010d}-{to_epoch:010d}"
    )
    # a crash between a window write and the cursor swap, followed by NEW
    # source commits before the retry, would leave the crashed attempt's
    # window (same lo, smaller hi) as an OVERLAPPING orphan — the cursor
    # never advanced past from_epoch, so any window starting at this lo is
    # uncommitted and must be superseded, not accumulated
    wroot = os.path.join(out_path, "windows")
    lo_prefix = f"e{from_epoch + 1:010d}-"
    if os.path.isdir(wroot):
        for name in os.listdir(wroot):
            if name.startswith(lo_prefix) and os.path.join(wroot, name) != win_dir:
                shutil.rmtree(os.path.join(wroot, name))
    (
        changes
        .withColumn("_from_epoch", F.lit(from_epoch).cast("long"))
        .withColumn("_to_epoch", F.lit(to_epoch).cast("long"))
        .write.mode("overwrite").parquet(win_dir)
    )
    n = parquet_rows(win_dir)
    _write_cursor(out_path, {
        "epoch": to_epoch,
        "version": int(src_snap["version"]),
        "timeline": int(src_snap.get("timeline", 0)),
        "content_rev": int(src_snap.get("content_rev", 0)),
        "windows": (cursor or {}).get("windows", 0) + 1,
    })
    return {
        "noop": False,
        "from_epoch": from_epoch,
        "to_epoch": to_epoch,
        "changes": int(n),
        "window": win_dir,
    }
