"""Incremental materialized-view maintenance from the CDC changelog.

The canonical changelog consumer: a derived aggregate (per-repo row/token
counts, per-language corpus stats, ...) is kept current by applying each
epoch window's change feed (`HashMergeTable.changes_between`) instead of
rescanning the table. Insert/update_after rows contribute +1, delete/
update_before rows −1 — the standard signed-delta formulation for
abelian-group aggregates (SUM / COUNT), the same algebra Flink retract
streams and Materialize/DBSP use for incremental view maintenance.

Scale shape: the delta aggregation is change-feed-sized and map-side
combinable; folding it into the view is ONE key-partitioned full-outer
join against a view whose cardinality is the GROUP count, not the table
row count. A 10^10-row table with 10^5 repos maintains a 10^5-row view
with work ∝ |changes| per epoch.

Reference analogue: the crawler keeps `pages_processed`-style running
counters updated per page rather than recounting its output directory
(/root/reference/search_scrape.py:1088-1106).

Only additive aggregates belong here: SUM and COUNT invert exactly under
retraction (longs/decimals — float sums would drift under −/+
cancellation; cast to decimal first). MIN/MAX do not invert — deleting
the current max needs a rescan of the group — so they are deliberately
not offered.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

_ADD_TYPES = ("insert", "update_after")


def changes_to_agg_delta(
    changes: DataFrame,
    group_cols: list[str],
    sum_cols: dict[str, str] | None = None,
    count_alias: str = "n_rows",
    change_type_col: str = "_change_type",
) -> DataFrame:
    """Signed per-group delta of a change feed: one map-side-combinable
    aggregation over the (epoch-sized) changelog. ``sum_cols`` maps source
    column → output alias."""
    sum_cols = sum_cols or {}
    sign = F.when(F.col(change_type_col).isin(*_ADD_TYPES), F.lit(1)).otherwise(
        F.lit(-1)
    )
    aggs = [F.sum(sign).cast("long").alias(count_alias)]
    for src, alias in sum_cols.items():
        aggs.append(F.sum(sign * F.coalesce(F.col(src), F.lit(0))).alias(alias))
    return changes.groupBy(*group_cols).agg(*aggs)


def apply_changes_to_agg(
    state: DataFrame | None,
    changes: DataFrame,
    group_cols: list[str],
    sum_cols: dict[str, str] | None = None,
    count_alias: str = "n_rows",
    change_type_col: str = "_change_type",
) -> DataFrame:
    """Fold a change feed into an aggregate view.

    ``state`` is the view before the window (``None`` bootstraps from an
    empty view); the result equals a from-scratch aggregation of the table
    AFTER the window — exactly (longs/decimals), proven in
    tests/test_matview.py by comparing against the direct groupBy of the
    post-window snapshot. Groups whose row count reaches zero drop out of
    the view (retraction semantics).
    """
    sum_cols = sum_cols or {}
    delta = changes_to_agg_delta(
        changes, group_cols, sum_cols, count_alias, change_type_col
    )
    if state is None:
        return delta.where(F.col(count_alias) > 0)
    val_cols = [count_alias, *sum_cols.values()]
    d = delta.select(
        *group_cols, *[F.col(c).alias(f"_d_{c}") for c in val_cols]
    )
    # NULL-SAFE group-key join: groupBy treats NULL as one group, so a
    # plain equi-join (NULL != NULL) would split a touched NULL-keyed
    # group into two rows instead of folding it — eqNullSafe keeps the
    # fold's semantics aligned with the aggregation's
    cond = None
    for g in group_cols:
        c = state[g].eqNullSafe(d[g])
        cond = c if cond is None else cond & c
    merged = state.join(d, on=cond, how="full_outer")
    out = merged.select(
        *[F.coalesce(state[g], d[g]).alias(g) for g in group_cols],
        *[
            (
                F.coalesce(F.col(c), F.lit(0)) + F.coalesce(F.col(f"_d_{c}"), F.lit(0))
            ).alias(c)
            for c in val_cols
        ],
    )
    return out.where(F.col(count_alias) > 0)


def sync_agg_view(
    spark: SparkSession,
    source,
    view_path: str,
    group_cols: list[str],
    sum_cols: dict[str, str] | None = None,
    count_alias: str = "n_rows",
    n_buckets: int = 4,
):
    """Exactly-once incremental DERIVED TABLE: keep an aggregate view of a
    HashMergeTable current by folding its changelog — the Materialize /
    Databricks-DLT derived-pipeline shape on this engine's own primitives.

    The view is itself a HashMergeTable keyed by ``group_cols`` whose
    committed epoch mirrors the source epoch it reflects, which is what
    makes the sync RESUMABLE and IDEMPOTENT for free:

    * a re-run after the view is current is a no-op (the view's own
      epoch-level skip);
    * a kill-and-resume catches up from the view's watermark — the
      changelog window is ``source.snapshot_at_epoch(view.last_epoch) →
      current``, so catch-up work ∝ changes missed, not table size;
    * if the watermark snapshot was vacuumed away — or the retained
      snapshot at the watermark epoch is not EXACTLY the watermark (a
      tagged older snapshot, or a rollback that rewound the source's
      timeline) — the sync falls back to a full recompute of the view
      (folding from the wrong base would silently double-apply changes).

    Per sync, only groups the changelog TOUCHED are merged (upserts for
    live groups, deletes for groups whose count reached zero); untouched
    groups are never rewritten. Returns the view table.

    Caveats (loud, not silent): group keys must be non-NULL in the view
    (the MERGE table's key contract) — a NULL-keyed group raises with
    guidance to coalesce the group column at the source. A source
    ROLLBACK that rewrites epochs at or below the view's watermark with
    DIFFERENT data is undetectable once the replay passes the watermark
    again — drop and resync the view after such a recovery.
    """
    import json
    import os

    from read_comp_data_pipeline_spark.operators.merge import HashMergeTable, atomic_write

    sum_cols = sum_cols or {}
    val_cols = [count_alias, *sum_cols.values()]
    # pin ONE source snapshot for the whole sync: epoch watermark, window
    # end, and any full read all come from it — reading "current" twice
    # would race a concurrent source commit (the view would record epoch
    # N while folding an N+1 window, double-applying N+1 next sync)
    src_snap = source._snapshot()
    src_epoch = int(src_snap["epoch"])
    src_schema = {f.name: f for f in source.schema.fields}
    view_schema = T.StructType(
        [
            T.StructField(g, src_schema[g].dataType, True) if g in src_schema
            else T.StructField(g, T.StringType(), True)
            for g in group_cols
        ]
        + [T.StructField(c, T.LongType(), True) for c in val_cols]
        + [T.StructField("seq", T.LongType(), True)]
    )
    if HashMergeTable.exists(view_path):
        view = HashMergeTable(spark, view_path)
    else:
        view = HashMergeTable.create(
            spark, view_path, view_schema, n_buckets=n_buckets,
            key_cols=list(group_cols),
        )
    if src_epoch <= view.last_epoch:
        return view  # already current (idempotent re-sync)

    def direct_agg(df: DataFrame) -> DataFrame:
        # coalesce to 0 so the bootstrap/fallback path agrees with the
        # incremental delta algebra on all-NULL groups (sum(NULLs) = NULL
        # would make the view's content depend on which path ran)
        aggs = [F.count("*").cast("long").alias(count_alias)]
        for src_c, alias in sum_cols.items():
            aggs.append(
                F.sum(F.coalesce(F.col(src_c), F.lit(0))).cast("long").alias(alias)
            )
        return df.groupBy(*group_cols).agg(*aggs)

    if view.last_epoch < 0:
        # first sync: bootstrap from a direct aggregation (the one full
        # scan the incremental path then never repeats)
        new_rows = direct_agg(source.read(at_snapshot=src_snap))
        touched = new_rows.select(*group_cols)
        dead = touched.limit(0)
    else:
        snap_a = None
        try:
            cand = source.snapshot_at_epoch(view.last_epoch)
            # snapshot_at_epoch returns the latest retained snapshot with
            # epoch <= watermark; a retained TAGGED snapshot (or a
            # rollback-rewound one) OLDER than the watermark is the wrong
            # fold base — folding from it double-applies every change the
            # view already reflects. Exact match or full recompute.
            # Epoch equality alone is NOT enough: maintenance commits like
            # delete_where bump the source VERSION without an epoch, so
            # the latest epoch-N snapshot can already include deletions
            # the view never saw — folding from it would silently keep the
            # deleted rows' counts forever. The sidecar written at each
            # sync records the exact source version the view reflects;
            # any mismatch degrades to the full recompute below.
            if int(cand.get("epoch", -1)) == int(view.last_epoch):
                recorded = None
                try:
                    with open(os.path.join(view_path, "_sync_meta.json")) as f:
                        recorded = json.load(f)
                except (FileNotFoundError, ValueError):
                    pass  # pre-sidecar view: keep the epoch-only check
                if recorded is None or int(recorded.get("src_version", -1)) == int(
                    cand.get("version", -2)
                ):
                    snap_a = cand
        except ValueError:
            pass  # watermark snapshot expired (vacuum)
        if snap_a is None:
            new_state = direct_agg(source.read(at_snapshot=src_snap))
            old = view.read().select(*group_cols)
            dead = old.join(new_state.select(*group_cols), group_cols, "left_anti")
            new_rows, touched = new_state, new_state.select(*group_cols)
        else:
            changes = source.changes_between(snap_a, src_snap)
            state = view.read().select(*group_cols, *val_cols)
            new_state = apply_changes_to_agg(
                state, changes, group_cols, sum_cols, count_alias
            )
            # touched = the distinct group keys the window mentions — a
            # projection, not a second full aggregation of the feed
            touched = changes.select(*group_cols).distinct()
            new_rows = new_state.join(touched, group_cols, "left_semi")
            dead = touched.join(new_state.select(*group_cols), group_cols, "left_anti")

    src = new_rows.withColumn("op", F.lit("U")).unionByName(
        dead.select(
            *group_cols,
            *[F.lit(None).cast("long").alias(c) for c in val_cols],
            F.lit("D").alias("op"),
        )
    ).withColumn("seq", F.lit(src_epoch).cast("long"))
    # the view is a MERGE table keyed by the group columns, and the MERGE
    # key contract is non-NULL keys (a NULL key never equi-matches itself
    # → duplicate rows on every sync). Loud-over-wrong on a group-sized
    # relation: one cheap probe, actionable message.
    any_null = None
    for g in group_cols:
        c = F.col(g).isNull()
        any_null = c if any_null is None else any_null | c
    if src.where(any_null).limit(1).count() > 0:
        raise ValueError(
            f"NULL group key in {group_cols}: the view's MERGE keys must be "
            "non-NULL — coalesce the group column at the source (e.g. "
            "COALESCE(lang, 'und')) before syncing"
        )
    view.merge(src, epoch=src_epoch)
    # record the exact source snapshot the view now reflects (epoch AND
    # version — the next sync's fold base must match both). Written after
    # the view commit: a crash in between leaves a stale sidecar whose
    # version mismatch simply forces a full recompute next sync — safe,
    # never wrong.
    atomic_write(
        os.path.join(view_path, "_sync_meta.json"),
        json.dumps({"src_epoch": src_epoch, "src_version": int(src_snap.get("version", -1))}),
    )
    return view
