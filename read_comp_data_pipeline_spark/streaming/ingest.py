"""The ingest loop: WAL epoch slices → compact → extract → evolve → MERGE.

This is the engine's replacement for the reference's main crawl loop
(``/root/reference/search_scrape.py:932-1366``): pop-one-URL becomes a
bounded epoch read, the seen-set check becomes the MERGE key match, the
per-page extraction becomes JVM Column expressions over the whole batch,
and the hourly checkpoint (``:316-321``) becomes an atomic per-epoch
snapshot commit — so kill-and-resume replays converge to the identical
final table (north_rule; tests/test_ingest.py).

Deliberate dataflow shape (SURVEY §4): compaction runs BEFORE extraction,
so the engine discards superseded events first and parses only the ≤1
surviving row per key.
"""

from __future__ import annotations

import math
import os
import time
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from read_comp_data_pipeline_spark.functions.extract import (
    content_sha_expr,
    first_section_exprs,
    title_expr,
)
from read_comp_data_pipeline_spark.operators.compact import compact_latest
from read_comp_data_pipeline_spark.operators.merge import (
    HashMergeTable,
    atomic_write,
    bucket_expr,
    same_content,
    shuffle_by_bucket,
)
from read_comp_data_pipeline_spark.schemas import TARGET_SCHEMA
from read_comp_data_pipeline_spark.session import PerJVM, observed_or
from read_comp_data_pipeline_spark.sources import wal as wal_src
from read_comp_data_pipeline_spark.streaming.evolve import ensure_evolved


def prepare_target_rows(slice_df: DataFrame, enrich: bool = True) -> DataFrame:
    """Transform a compacted WAL slice into target-table rows.

    Extraction fields (title/heading/text) mirror the reference's output
    contract: ``heading`` keeps the ``" - "``-joined breadcrumb encoding the
    downstream consumer splits on (``query_gpt.py:52,:59``; SURVEY §3 EP3).
    Deletes pass through untouched (op column drives the MERGE arm).

    ``enrich`` adds the per-document analysis columns a training-data
    pipeline computes at ingest (the reference ran its 13-term classifier on
    every page, search_scrape.py:1088-1106): keyword hit count, quality
    score, token count, normalized fingerprint. All JVM Column expressions,
    built once per JVM (:func:`_extraction_layers`) and applied as three
    ``withColumns`` projections; the helper columns ``_low``/``_len`` are
    dropped at the end.
    """
    out = slice_df
    for layer in _LAYERS.get(enrich, lambda: _extraction_layers(enrich)):
        out = out.withColumns(layer)
    return out.drop("_low", "_len") if enrich else out


_LAYERS = PerJVM()


def _extraction_layers(enrich: bool) -> tuple[dict[str, Column], ...]:
    """The extraction Columns, grouped by what they read: each layer
    references only columns of the layer before it, so one
    ``withColumns`` per layer builds the same plan as one ``withColumn``
    per column, with 3 analysis passes instead of 8."""
    from read_comp_data_pipeline_spark.functions.classify import _lowered_hits

    is_del = F.col("op") == "D"
    live = lambda c: F.when(is_del, F.lit(None)).otherwise(c)  # noqa: E731
    content = F.col("content")
    first = {"title": live(title_expr(content, F.col("path")))}
    # O(prefix) lead-section scan as pure JVM expressions: only the first
    # (heading, text) pair is stored, so the scan stops at the first header
    # marker instead of walking the whole document — and the epoch's
    # multi-GB content never crosses the JVM↔Python boundary (the pandas
    # UDF this replaces shipped it through Arrow both ways and looped rows
    # in Python; functions/extract.first_section_exprs carries the
    # equivalence argument, property-tested against the UDF)
    h1, t1 = first_section_exprs(F.col("title"), content)
    sections = {
        "heading": F.when(~is_del, h1),
        "text": F.when(~is_del, t1),
        "content_sha": live(content_sha_expr(content)),
    }
    if not enrich:
        return first, sections
    # ingest-grade variants: constant passes over the content, no
    # array-materializing regexes (operators/textstats.py keeps the
    # full-fidelity versions for the analysis catalog — at 10^6+ rows
    # per epoch, regexp_extract_all's per-row token arrays are pure GC
    # pressure the hot path can't afford)
    #
    # Each heavy subexpression is its own column of the first, unconditional
    # layer: inside live()'s CASE WHEN branch Spark's subexpression
    # elimination shares nothing (functions/classify.keyword_hits), so
    # written there lower(content) would run once per classifier term (13
    # per row) and length(content) once per use. _low/_len are referenced
    # several times by the next layers, so CollapseProject keeps their
    # projection apart.
    first["_low"] = F.lower(content)
    first["_len"] = F.length(content)
    # replace-then-length beats split-size HERE despite losing an
    # isolated microbench: split materializes a per-row array of token
    # substrings, and inside the already allocation-heavy extraction
    # projection that extra garbage cost more than replace's single
    # copy (measured: MOR replay 11.6s -> 17.5s with split-size).
    # octet_length is the byte count a UTF-8 string already holds; a space
    # is one byte and one character, so the byte difference equals the
    # character difference without walking the string twice.
    n_tokens = (
        F.octet_length(content)
        - F.octet_length(F.replace(content, F.lit(" "), F.lit("")))
        + 1
    ).cast("long")
    # kw_hits lands in its own projection and quality references the
    # COLUMN: the classifier (13 contains over _low) is evaluated once
    # per row, not once per consumer
    sections["kw_hits"] = live(_lowered_hits(F.col("_low")).cast("int"))
    n_chars = F.col("_len")
    quality = F.round(
        F.least(
            F.lit(1.0),
            F.when((n_chars >= 200) & (n_chars <= 50000), 0.5)
            .otherwise(0.2)
            + F.least(F.col("kw_hits").cast("double") / 10.0, F.lit(0.5)),
        ),
        4,
    )
    scores = {
        "quality": live(quality),
        "n_tokens": live(n_tokens),
        # exact-dup fingerprint derived from the sha256 already computed
        # over the content — grouping needs any collision-resistant
        # digest; a second full hash pass over multi-KB content buys
        # nothing (measured: one md5 pass ≈ one sha pass over the epoch)
        "fingerprint": live(F.substring(F.col("content_sha"), 1, 32)),
    }
    return first, sections, scores


def default_validator(df: DataFrame):
    """Standard structural checks → error-string Column (null = good)."""
    bad_op = ~F.col("op").isin("I", "U", "D")
    null_key = F.col("repo").isNull() | F.col("path").isNull()
    null_content = (F.col("op") != "D") & F.col("content").isNull()
    return (
        F.when(bad_op, F.lit("invalid op"))
        .when(null_key, F.lit("null key"))
        .when(null_content, F.lit("null content for upsert"))
    )


def constraints_validator(constraints: dict[str, str], base=default_validator):
    """Compile named CHECK expectations (table.constraints — boolean SQL
    over WAL rows) into a validator Column for :func:`validate_slice`.

    Standard CHECK semantics: a row violates a constraint only when the
    expression evaluates to FALSE — NULL passes (the SQL standard, and
    Delta's). Structural ``base`` errors win over constraint names;
    constraints are checked in sorted-name order so the reported error is
    deterministic. Everything stays one codegen'd when-chain — no extra
    job, no UDF; violations ride the existing quarantine machinery
    (attempt escalation → dead letters, requeue after a fix)."""

    def validator(df: DataFrame):
        err = base(df) if base is not None else F.when(F.lit(False), F.lit(""))
        for name in sorted(constraints):
            ok = F.coalesce(F.expr(constraints[name]).cast("boolean"), F.lit(True))
            err = F.when(err.isNotNull(), err).when(~ok, F.lit(f"constraint:{name}"))
        return err

    return validator


def validate_slice(
    slice_df: DataFrame, validator=None, observation=None
) -> tuple[DataFrame, DataFrame]:
    """Split a WAL slice into (good, quarantined) rows.

    Replaces the reference's retry machine (``search_scrape.py:241-306`` —
    3 attempts, 300 s sleeps, then give up and count the failure) with a
    dead-letter relation plus attempt escalation: failed rows carry an
    ``attempts`` counter, are re-driven on subsequent epochs by the ingest
    loop, and move to the permanent dead-letter area once ``attempts``
    reaches the cap (see ``_run_epochs``). Transient *task* failures are
    Spark's own ``spark.task.maxFailures`` retry; this path is for data
    errors (and, via a custom ``validator``, transient upstream errors).

    ``validator``: optional ``(DataFrame) -> Column`` producing an error
    string (null = good); defaults to :func:`default_validator`. The input
    may carry an ``_attempts`` column (prior attempt count, 0 for fresh
    rows) which a validator can consult to model transient failures; bad
    rows come out with ``attempts = _attempts + 1``.

    ``observation``: optional ``pyspark.sql.Observation`` attached to the
    GOOD branch's lineage below its filter — any action that consumes the
    good rows (the merge apply) reports the total bad-row count as
    ``bad_rows`` for free, letting the ingest loop skip the quarantine
    write entirely on clean epochs. The bad branch is built un-observed
    so writing it later re-executes nothing observation-related.
    """
    if "_attempts" not in slice_df.columns:
        slice_df = slice_df.withColumn("_attempts", F.lit(0))
    err = (validator or default_validator)(slice_df)
    tagged = slice_df.withColumn("error", err)
    good_src = tagged
    if observation is not None:
        good_src = tagged.observe(
            observation,
            F.coalesce(
                F.sum(F.col("error").isNotNull().cast("long")), F.lit(0).cast("long")
            ).alias("bad_rows"),  # coalesce: empty slice → 0, not NULL
        )
    good = good_src.where(F.col("error").isNull()).drop("error", "_attempts")
    bad = (
        tagged.where(F.col("error").isNotNull())
        .withColumn("attempts", (F.col("_attempts") + 1).cast("int"))
        .drop("_attempts")
    )
    return good, bad


PREBUCKET_MIN_EVENTS = 500_000


def prebucket_for_merge(
    df: DataFrame, n_buckets: int, parallelism: int, order_col: str = "seq"
) -> DataFrame:
    """Place the epoch's ONE full-row shuffle BEFORE extraction: each
    bucket gets its own partition, split by a salt of ``order_col`` into
    ``n_salts = ceil(parallelism / n_buckets)`` partitions, the fewest
    that fill the cores (:func:`merge.shuffle_by_bucket`).

    Why: scan parallelism is capped by the source's row-group count
    (wal.epoch_stats n_read_units) — a one-file WAL epoch runs compaction
    and extraction in ONE task, and a few big files bind the expensive
    extraction stage to that layout (e.g. 41 read units on 32 cores = 1.3
    task waves with stragglers). After this shuffle extraction runs at
    full cluster parallelism, and the MOR delta write needs no further
    shuffle (each task holds one (bucket, salt) pair → ≤ n_salts files per
    bucket): on MOR the shuffle count is unchanged — the shuffle just
    moved to where it also buys extraction parallelism. More salts than
    the cores need only add tasks and files per bucket.
    """
    n_salts = max(1, math.ceil(parallelism / n_buckets))
    return shuffle_by_bucket(
        df.withColumn("_b", bucket_expr(n_buckets)), n_buckets,
        n_salts=n_salts, order_col=order_col,
    )


def bucket_before_extraction(
    df: DataFrame, n_buckets: int, mode: str, events: int, read_units: int,
) -> tuple[DataFrame, bool]:
    """The one rule for where an epoch's bucket shuffle goes: before
    extraction (:func:`prebucket_for_merge`) when the scan is narrower than
    the cluster (``read_units < 2 × defaultParallelism``), after it
    otherwise. MOR's delta write pays the shuffle anyway, so on MOR it only
    moves; on COW the merge plan shuffles again, so a COW epoch moves it
    only from ``PREBUCKET_MIN_EVENTS`` events up. Returns the compacted
    slice and whether it was prebucketed."""
    par = df.sparkSession.sparkContext.defaultParallelism
    if read_units >= 2 * par or (mode != "mor" and events < PREBUCKET_MIN_EVENTS):
        return df, False
    return prebucket_for_merge(df, n_buckets, par), True


@dataclass
class IngestStats:
    epochs_applied: int = 0
    epochs_skipped: int = 0
    events_applied: int = 0
    secs: float = 0.0
    per_epoch: list[dict] = field(default_factory=list)
    # write-audit-publish: epoch rejected by the audit gate (loop stopped)
    rejected_epoch: int | None = None
    reject_reason: str | None = None

    @property
    def events_per_sec(self) -> float:
        return self.events_applied / self.secs if self.secs > 0 else 0.0


def run_ingest(
    spark: SparkSession,
    wal_path: str,
    table_path: str,
    n_buckets: int = 16,
    max_epoch: int | None = None,
    fail_after_epoch: int | None = None,
    extract: bool = True,
    mode: str = "cow",
    compact_every: int = 10,
    quarantine: bool = False,
    validator=None,
    max_attempts: int = 3,
    compact_threshold: int = 5_000_000,
    maintain_every: int | None = 50,
    keep_snapshots: int = 25,
    audit=None,
    audit_max_shrink: float | None = None,
) -> IngestStats:
    """Tail the WAL from the last committed epoch to ``max_epoch``.

    ``audit``/``audit_max_shrink`` turn each epoch into a
    WRITE-AUDIT-PUBLISH commit: the MERGE lands on the STAGING pointer
    (invisible to readers), the staged state is audited, and only a
    passing epoch publishes. A failing epoch is DISCARDED (readers never
    saw it — no rollback window) and the loop stops with
    ``stats.rejected_epoch``/``reject_reason`` set; fix the WAL and
    re-run — the epoch number is free to re-merge. ``audit_max_shrink``
    is the declarative mass-delete guard: reject if the staged row count
    shrinks by more than this fraction (COW evaluates it from snapshot
    metadata — zero extra jobs; MOR counts the reconciled staged read).
    ``audit`` is an arbitrary callable(staged_read_df) -> bool for
    operator-level gates (dedup rate, contamination, anything in the
    engine — the staged state is a first-class snapshot).

    Resumable and idempotent: the table's snapshot records the last
    committed epoch; already-committed epochs are skipped (exactly-once).
    ``fail_after_epoch`` injects a crash for the kill-and-resume tests.

    ``mode='mor'`` appends per-epoch deltas (write-optimized hot path) and
    folds them into the base every ``compact_every`` epochs.

    ``quarantine=True`` validates each slice (``validator``, default
    structural checks) and escalates failures the way the reference's
    retry machine did (3 attempts then give up,
    ``search_scrape.py:241-306``): bad rows land in the epoch's single
    status-partitioned quarantine write (``quarantine/e*/status=pending``)
    with an attempts counter, are re-driven on each subsequent epoch, and
    move permanently to the ``status=dead`` partition once ``attempts``
    reaches ``max_attempts``.

    ``compact_threshold``: epochs whose event count (free, from parquet
    footers) exceeds this switch per-key compaction from the
    broadcast-semi plan to the broadcast-free ``agg`` plan — a mis-sized
    epoch degrades to a heavier shuffle instead of OOMing the driver
    (operators/compact.py docstring; the count upper-bounds the key count).

    ``maintain_every``/``keep_snapshots``: automatic table maintenance —
    every ``maintain_every`` committed epochs the loop runs
    ``vacuum(keep_snapshots)`` (expire old snapshots + unreferenced data
    dirs) and ``compact_sidecars()`` (fold per-epoch manifest/metrics
    files into consolidated segments). This bounds ``snapshots/`` and
    side-table file counts at the 10^5-epoch target the way the
    reference's hourly flush was automatic (search_scrape.py:316-321);
    time travel stays available within the retention window. ``None``
    disables (manual maintenance only).
    """
    if not HashMergeTable.exists(table_path):
        HashMergeTable.create(spark, table_path, TARGET_SCHEMA, n_buckets=n_buckets, mode=mode)
    table = HashMergeTable(spark, table_path)

    # table-declared CHECK expectations: auto-enforced when quarantining
    # and the caller didn't bring their own validator (an explicit
    # validator takes full responsibility, constraints included)
    if quarantine and validator is None:
        declared = table.constraints
        if declared:
            validator = constraints_validator(declared)

    # CPU-heavy per-row extraction wants more, smaller scan splits than the
    # I/O-oriented 128MB default — unless the epoch is bucketed before
    # extraction, the scan IS the extraction's parallelism. Restored on exit.
    prev_mpb = spark.conf.get("spark.sql.files.maxPartitionBytes", None)
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(32 * 1024 * 1024))

    hi_epoch = wal_src.max_epoch(spark, wal_path) if max_epoch is None else max_epoch
    stats = IngestStats()
    t0 = time.monotonic()

    try:
        _run_epochs(
            spark, table, wal_path, table_path, hi_epoch, stats,
            extract=extract, mode=mode, compact_every=compact_every,
            quarantine=quarantine, fail_after_epoch=fail_after_epoch,
            validator=validator, max_attempts=max_attempts,
            compact_threshold=compact_threshold,
            maintain_every=maintain_every, keep_snapshots=keep_snapshots,
            audit=audit, audit_max_shrink=audit_max_shrink,
        )
    finally:
        if prev_mpb is not None:
            spark.conf.set("spark.sql.files.maxPartitionBytes", prev_mpb)
        stats.secs = time.monotonic() - t0
    return stats


def _run_epochs(
    spark, table, wal_path, table_path, hi_epoch, stats,
    *, extract, mode, compact_every, quarantine, fail_after_epoch,
    validator=None, max_attempts=3, compact_threshold=5_000_000,
    maintain_every=50, keep_snapshots=25, audit=None, audit_max_shrink=None,
) -> None:
    audit_base: dict = {}
    epochs = range(table.last_epoch + 1, hi_epoch + 1)
    # the tail epoch is fixed for the call: read its seq range once (lag)
    tail_hi = wal_src.epoch_stats(wal_path, hi_epoch)[1] if epochs else None

    for epoch in epochs:
        # slice metadata from parquet footers (pyarrow, no Spark job): seq
        # range + event count → lag metric + compaction-strategy choice;
        # row-group count → extraction-parallelism guard; footer schema →
        # the slice's Spark schema without re-inferring it every epoch.
        footers = wal_src.epoch_footers(wal_path, epoch)
        lo, hi, cnt, units = footers[:4]
        slice_df = wal_src.read_epoch(spark, wal_path, epoch, footers)
        lag = max(0, int(tail_hi) - int(hi)) if (tail_hi is not None and hi is not None) else 0
        quarantine_pre_commit = None
        if quarantine:
            # re-drive previously quarantined rows (attempt escalation:
            # the reference's 3-attempts-then-give-up, search_scrape.py:241-306).
            # A retried row keeps its original seq, so the per-key seq-aware
            # MERGE rejects it if the key moved on in the meantime — no
            # extra staleness guard needed here.
            pending = _read_pending(spark, table_path, before_epoch=epoch)
            status_col = F.when(
                F.col("attempts") < max_attempts, F.lit("pending")
            ).otherwise(F.lit("dead"))
            qpath = f"{table_path}/quarantine/e{epoch:010d}"
            if pending is not None:
                retry_src = (
                    pending.where(F.col("attempts") < max_attempts)
                    .drop("error")
                    .withColumnRenamed("attempts", "_attempts")
                )
                slice_df = slice_df.withColumn("_attempts", F.lit(0)).unionByName(
                    retry_src, allowMissingColumns=True
                )
                # pendings were consumed: the epoch MUST write its own
                # quarantine dir (even an empty one) so _read_pending's
                # latest-dir rule sees the consumption and stops re-driving
                # rows that just succeeded. ONE status-partitioned write
                # (pending | dead); a row goes dead in exactly one epoch.
                slice_df, bad = validate_slice(slice_df, validator)
                bad.withColumn("status", status_col).write.mode(
                    "overwrite"
                ).partitionBy("status").parquet(qpath)
            else:
                # nothing pending → the write is only needed if this slice
                # actually has bad rows. The bad-count rides the merge
                # action via Observation (zero extra jobs on the clean
                # path); the conditional write runs at merge pre-commit —
                # after the data write, before the snapshot commit — so a
                # crash on either side replays or retains it (merge()
                # docstring). Clean epochs write NOTHING: the last fixed
                # per-epoch quarantine job is gone (VERDICT r3 #3).
                from pyspark.sql import Observation

                q_obs = Observation()
                slice_df, bad = validate_slice(slice_df, validator, observation=q_obs)

                def quarantine_pre_commit(bad=bad, q_obs=q_obs, qpath=qpath, status_col=status_col):
                    # the merge path always runs an action over the
                    # observed lineage (CoW's affected-bucket collect / the
                    # MOR delta write), but a caller reaching the commit
                    # with none (e.g. an externally-supplied empty bucket
                    # list) gets the direct count instead — one extra job
                    # on that cold path only (ADVICE r4)
                    n_bad = int(observed_or(q_obs, "bad_rows", bad.count) or 0)
                    if n_bad > 0:
                        bad.withColumn("status", status_col).write.mode(
                            "overwrite"
                        ).partitionBy("status").parquet(qpath)

        res = apply_epoch(
            table, slice_df, epoch, mode=mode, lo=lo, hi=hi, cnt=cnt, units=units,
            # with quarantine on, applied rows ≠ footer count (bad dropped,
            # retries added) — let the MERGE count its written files
            src_rows=None if quarantine else cnt,
            lag=lag, pre_commit=quarantine_pre_commit, extract=extract,
            compact_threshold=compact_threshold, compact_every=compact_every,
            maintain_every=maintain_every, keep_snapshots=keep_snapshots,
            audit=audit, audit_max_shrink=audit_max_shrink, audit_base=audit_base,
        )
        if "rejected" in res:
            # a poisoned WAL needs intervention, not more epochs
            stats.rejected_epoch = epoch
            stats.reject_reason = res["rejected"]
            return
        if res.get("skipped"):
            stats.epochs_skipped += 1
        else:
            stats.epochs_applied += 1
            stats.events_applied += res["rows_applied"]
            stats.per_epoch.append(res)
        if fail_after_epoch is not None and epoch >= fail_after_epoch:
            raise RuntimeError(f"injected failure after epoch {epoch}")


def apply_epoch(
    table: HashMergeTable, slice_df: DataFrame, epoch: int, *,
    mode: str, lo: int, hi: int, cnt: int, units: int, src_rows: int | None,
    lag: int = 0, pre_commit=None, extract: bool = True,
    compact_threshold: int = 5_000_000, compact_every: int = 10,
    maintain_every: int | None = 50, keep_snapshots: int = 25,
    audit=None, audit_max_shrink: float | None = None, audit_base: dict | None = None,
) -> dict:
    """Apply one WAL slice as epoch ``epoch``: compaction → extraction →
    MERGE → audit gate → maintenance cadence. The batch loop
    (:func:`run_ingest`) and the Structured Streaming loop
    (``stream.stream_ingest``) both apply their epochs here.

    ``lo``/``hi``/``cnt`` are the slice's seq range and event count,
    ``units`` its scan width (row groups, or a cached micro-batch's
    partitions); ``src_rows`` is the MERGE's applied-row count, or None to
    count the written files. The other keywords are :func:`run_ingest`'s.
    ``audit_base`` is the caller's dict that carries the audit's row count
    from one epoch to the next.

    Returns the MERGE's stats dict plus ``compact_strategy`` and
    ``prebucketed``; a rejected epoch is discarded, recorded under
    ``{table}/audits/`` and returned with ``rejected`` set to the reason.
    """
    # size-based degradation guard: above the threshold the epoch's key
    # set can't be assumed broadcastable — fall back to the shuffle agg.
    # MOR gets the hash-semi variant (6× smaller broadcast, long-keyed
    # build; collisions self-heal at read — compact.py docstring)
    if cnt > compact_threshold:
        strategy = "agg"
    elif mode == "mor":
        strategy = "broadcast_hash_semi"
    else:
        strategy = "broadcast_semi"

    # transactional schema evolution BEFORE the wave that needs it
    ensure_evolved(table, slice_df.schema)

    # broadcast_semi compaction: only (key, seq) pairs shuffle; the
    # content payload flows scan → semi-join filter → extraction →
    # bucket write. Parallelism guard: an epoch whose file layout can't
    # feed the cluster (few row groups) gets its bucket shuffle moved
    # BEFORE the extraction so it runs at full width; on MOR that is
    # still the epoch's one full-row shuffle.
    n_buckets = table.n_buckets
    compacted, prebucketed = bucket_before_extraction(
        compact_latest(slice_df, strategy=strategy), n_buckets, mode, cnt, units,
    )
    src = prepare_target_rows(compacted) if extract else compacted

    # affected-bucket hint for COW (pruned key-columns-only scan): the
    # MERGE is then a single Spark action per epoch — the
    # extraction lineage runs once.
    affected = None
    if mode == "cow":
        affected = [
            int(r["_b"])
            for r in slice_df.select(bucket_expr(n_buckets).alias("_b")).distinct().collect()
        ]
    staging = audit is not None or audit_max_shrink is not None
    res = table.merge(
        src, epoch,
        src_seq_lo=lo,
        src_seq_hi=hi,
        affected_buckets=affected,
        src_rows=src_rows,
        lag_events=lag,
        # same gate as the compaction strategy: an epoch too large for the
        # broadcast-semi compaction is also too large for the COW probe
        # broadcast (the event count upper-bounds the key count) — the
        # MERGE falls back to shuffled probe joins
        src_keys_broadcastable=strategy != "agg",
        pre_commit=pre_commit,
        stage=staging,
    )
    res["compact_strategy"] = strategy
    res["prebucketed"] = prebucketed
    if res.get("skipped"):
        return res
    if staging:
        # WRITE-AUDIT-PUBLISH: the epoch landed on STAGING only — audit
        # the staged state, publish on pass, discard on fail
        reason = _audit_staged(table, audit, audit_max_shrink, audit_base)
        if reason is not None:
            table.discard_staged()
            _record_audit_rejection(table.path, epoch, reason)
            res["rejected"] = reason
            return res
        table.publish_staged()
    if mode == "mor" and compact_every and (epoch + 1) % compact_every == 0:
        table.compact_table()
    # automatic maintenance cadence: expire snapshots + fold side-table
    # files so snapshots/ and manifest/metrics stay bounded over a
    # 10^5-epoch run (off the per-epoch hot path; sidecar folding is
    # generational so the cadence is amortized-linear —
    # merge.compact_sidecars docstring)
    if maintain_every and (epoch + 1) % maintain_every == 0:
        table.vacuum(keep_snapshots=keep_snapshots)
        table.compact_sidecars()
    return res


def _audit_staged(table, audit, audit_max_shrink, base: dict | None) -> str | None:
    """The staged epoch's rejection reason, or None if it passes. ``base``
    holds the last passing epoch's staged snapshot and row count: publish
    is a pointer swing, so that count is this epoch's 'before' while the
    current snapshot still has the same content (:func:`merge.same_content`
    — compaction and vacuum keep it, a ``delete_where`` or another
    writer's epoch does not); otherwise 'before' is counted again. On MOR
    that reuse halves the audit cost."""
    staged = table.staged_snapshot()
    if audit_max_shrink is not None:
        base = {} if base is None else base
        before = _audit_before(table, base)
        after = _snapshot_row_count(table, staged)
        if before > 0 and after < before * (1.0 - audit_max_shrink):
            return (
                f"staged row count shrank {before} -> {after} "
                f"(more than {audit_max_shrink:.0%} of the table)"
            )
        base.update(snap=staged, rows=after)
    if audit is not None and not audit(table.read(at_snapshot=staged)):
        return "audit callable rejected the staged state"
    return None


def _audit_before(table, base: dict) -> int:
    """The current snapshot's row count: ``base['rows']`` while its content
    equals ``base['snap']``'s, a fresh count otherwise."""
    cur = table._snapshot()
    if base and same_content(base["snap"], cur):
        return base["rows"]
    return _snapshot_row_count(table, cur)


def _record_audit_rejection(table_path: str, epoch: int, reason: str) -> None:
    """Durable ops record of an audit rejection — the discarded snapshot
    leaves no trace in the table, but an operator paging through a stopped
    ingest needs the why on disk (``{table}/audits/e{epoch}.json``; the
    ``show`` CLI surfaces the count). Deterministic name: a re-rejected
    epoch overwrites its own record; an epoch that later passes keeps the
    record as history of the rejection event."""
    import json

    d = os.path.join(table_path, "audits")
    os.makedirs(d, exist_ok=True)
    atomic_write(
        os.path.join(d, f"e{epoch:010d}.json"),
        json.dumps({"epoch": epoch, "reason": reason, "rejected_ts": time.time()}),
    )


def _snapshot_row_count(table, snap) -> int:
    """Row count of a snapshot's state. COW: free from snapshot metadata
    (per-bucket footer counts recorded at commit). MOR: the deltas make
    metadata insufficient — one reconciled count (audits are opt-in)."""
    if snap.get("mode", "cow") == "cow" and not snap.get("deltas"):
        return sum(int(e.get("rows", 0)) for e in snap["buckets"].values())
    return table.read(at_snapshot=snap).count()


def _read_pending(spark: SparkSession, table_path: str, before_epoch: int) -> DataFrame | None:
    """Latest pending-quarantine state produced by an epoch < before_epoch
    (the ``status=pending`` partition of that epoch's single quarantine
    write; absent partition = nothing pending). Orphans from a crashed
    epoch carry an index >= before_epoch (the crash means that epoch never
    committed, so the loop re-runs and overwrites them) and are ignored."""
    import os

    qdir = os.path.join(table_path, "quarantine")
    if not os.path.isdir(qdir):
        return None
    idxs = [
        int(n[1:]) for n in os.listdir(qdir)
        if n.startswith("e") and n[1:].isdigit() and int(n[1:]) < before_epoch
    ]
    if not idxs:
        return None
    pdir = os.path.join(qdir, f"e{max(idxs):010d}", "status=pending")
    if not os.path.isdir(pdir):
        return None
    return spark.read.parquet(pdir)


def requeue_dead_letters(
    spark: SparkSession, table_path: str, reset_attempts: bool = True
) -> dict:
    """Operational recovery AFTER a fix ships: move permanent dead letters
    back into the pending retry stream so the next ingest epoch re-drives
    them (with a fresh attempt budget by default). The reference's
    give-up is final (search_scrape.py:241-306 counts the failure and
    moves on); a durable dead-letter relation is what makes recovery a
    maintenance command instead of a re-crawl.

    Runs offline (never concurrently with ingest). The combined
    (current pending ∪ dead) set is first materialized to a staging dir,
    then atomically swung in as the latest quarantine state, then the old
    ``status=dead`` partitions are removed. Crash windows: before the
    swing → nothing changed; between swing and cleanup → rows appear both
    dead and pending, which a re-run of this command converges (and
    re-applying a recovered row is harmless anyway — the per-key
    seq-aware MERGE arms reject stale replays).
    """
    import shutil

    qdir = os.path.join(table_path, "quarantine")
    empty = {"requeued": 0, "pending_total": 0, "cleared_dead_dirs": 0}
    if not os.path.isdir(qdir):
        return empty
    epoch_dirs = sorted(
        n for n in os.listdir(qdir) if n.startswith("e") and n[1:].isdigit()
    )
    dead_dirs = [
        os.path.join(qdir, n, "status=dead")
        for n in epoch_dirs
        if os.path.isdir(os.path.join(qdir, n, "status=dead"))
    ]
    if not dead_dirs:
        return empty
    dead = spark.read.parquet(*dead_dirs)
    if reset_attempts:
        dead = dead.withColumn("attempts", F.lit(0).cast("int"))
    pending = _read_pending(spark, table_path, before_epoch=1 << 62)
    rows = dead if pending is None else pending.unionByName(
        dead, allowMissingColumns=True
    )
    n_dead = dead.count()
    # stage first: the target index may be the dir we are reading from
    staging = os.path.join(qdir, ".requeue.tmp")
    shutil.rmtree(staging, ignore_errors=True)
    rows.withColumn("status", F.lit("pending")).write.mode("overwrite").partitionBy(
        "status"
    ).parquet(staging)
    n_total = spark.read.parquet(os.path.join(staging, "status=pending")).count()
    # the latest index wins _read_pending's latest-dir rule and stays
    # below the next ingest epoch (epochs are monotone past max existing)
    new_idx = max(int(n[1:]) for n in epoch_dirs)
    target = os.path.join(qdir, f"e{new_idx:010d}")
    shutil.rmtree(target, ignore_errors=True)
    os.replace(staging, target)
    cleared = 0
    for d in dead_dirs:
        if os.path.isdir(d):  # the target's own dead partition is gone already
            shutil.rmtree(d, ignore_errors=True)
            cleared += 1
    return {"requeued": n_dead, "pending_total": n_total, "cleared_dead_dirs": cleared}


def read_quarantine(spark: SparkSession, table_path: str) -> DataFrame | None:
    """All currently-quarantined rows: permanent dead letters (disjoint
    ``status=dead`` partitions across epochs) plus the latest pending
    (still-retryable) state. None if quarantine never ran."""
    import os

    qdir = os.path.join(table_path, "quarantine")
    if not os.path.isdir(qdir):
        return None
    parts = []
    dead_dirs = sorted(
        os.path.join(qdir, n, "status=dead")
        for n in os.listdir(qdir)
        if n.startswith("e") and os.path.isdir(os.path.join(qdir, n, "status=dead"))
    )
    if dead_dirs:
        parts.append(spark.read.parquet(*dead_dirs))
    pending = _read_pending(spark, table_path, before_epoch=1 << 62)
    if pending is not None:
        parts.append(pending)
    if not parts:
        return None
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p, allowMissingColumns=True)
    return out
