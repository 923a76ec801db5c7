"""Golden replay + exactly-once resume + schema evolution (SURVEY §5.2-5.4).

The north_rule correctness gate: a full WAL replay must converge to the
independently-computed expected final state, verified row-by-row by
sha256(content) equality; a killed-and-resumed replay must converge to the
identical state; re-running a committed epoch must be a no-op.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from read_comp_data_pipeline_spark.operators.compact import compact_latest
from read_comp_data_pipeline_spark.operators.merge import HashMergeTable
from read_comp_data_pipeline_spark.sources.wal import (
    expected_final_state,
    generate_change_events,
    write_wal,
)
from read_comp_data_pipeline_spark.streaming.ingest import run_ingest

N_EVENTS = 3000
N_KEYS = 300
EPOCH_SIZE = 500


@pytest.fixture(scope="module")
def wal_path(spark, tmp_path_factory):
    p = str(tmp_path_factory.mktemp("wal") / "change_events")
    df = generate_change_events(spark, N_EVENTS, n_keys=N_KEYS, epoch_size=EPOCH_SIZE)
    write_wal(df, p)
    return p


def _final_expected(spark, wal_path):
    wal = spark.read.parquet(wal_path)
    return expected_final_state(wal)


def _state_digest(df):
    """Order-insensitive digest of (repo, path, sha256(content))."""
    return (
        df.select(
            F.xxhash64(
                "repo", "path", F.sha2(F.encode(F.coalesce(F.col("content"), F.lit("")), "utf-8"), 256)
            ).alias("h")
        )
        .agg(F.sum(F.col("h").cast("decimal(38,0)")).alias("d"), F.count("*").alias("n"))
        .first()
    )


def test_wal_generation_invariants(spark, wal_path):
    wal = spark.read.parquet(wal_path)
    assert wal.count() == N_EVENTS
    # first event per key is an Insert; deletes have null content
    firsts = (
        wal.groupBy("repo", "path").agg(F.min_by("op", "seq").alias("first_op"))
    )
    assert firsts.where(F.col("first_op") != "I").count() == 0
    assert wal.where((F.col("op") == "D") & F.col("content").isNotNull()).count() == 0
    assert wal.where((F.col("op") != "D") & F.col("content").isNull()).count() == 0
    ops = {r["op"] for r in wal.select("op").distinct().collect()}
    assert ops == {"I", "U", "D"}


def test_compaction_matches_window_oracle(spark, wal_path):
    wal = spark.read.parquet(wal_path)
    expected = expected_final_state(wal)  # window row_number implementation
    got = compact_latest(wal).where(F.col("op") != "D")
    assert _state_digest(got) == _state_digest(expected)
    got_hash = compact_latest(wal, strategy="broadcast_hash_semi").where(F.col("op") != "D")
    assert _state_digest(got_hash) == _state_digest(expected)


def test_golden_replay_sha_equality(spark, wal_path, tmp_path):
    tbl_path = str(tmp_path / "target")
    stats = run_ingest(spark, wal_path, tbl_path, n_buckets=8)
    assert stats.epochs_applied == N_EVENTS // EPOCH_SIZE
    table = HashMergeTable(spark, tbl_path)
    final = table.read()
    expected = _final_expected(spark, wal_path)

    assert final.count() == expected.count()
    # row-by-row sha256(content) equality via full outer join on the key
    j = final.select("repo", "path", "content_sha").join(
        expected.select(
            "repo", "path",
            F.sha2(F.encode("content", "utf-8"), 256).alias("exp_sha"),
        ),
        on=["repo", "path"],
        how="full_outer",
    )
    mismatches = j.where(
        F.col("content_sha").isNull()
        | F.col("exp_sha").isNull()
        | (F.col("content_sha") != F.col("exp_sha"))
    ).count()
    assert mismatches == 0
    # extraction fields present on every row
    assert final.where(F.col("title").isNull()).count() == 0
    assert final.where(F.col("heading").isNull()).count() == 0


def test_kill_and_resume_converges_identically(spark, wal_path, tmp_path):
    a = str(tmp_path / "uninterrupted")
    b = str(tmp_path / "resumed")
    run_ingest(spark, wal_path, a, n_buckets=8)

    with pytest.raises(RuntimeError, match="injected failure"):
        run_ingest(spark, wal_path, b, n_buckets=8, fail_after_epoch=2)
    stats = run_ingest(spark, wal_path, b, n_buckets=8)  # resume
    assert stats.epochs_skipped == 0  # resumes at last+1, not from 0
    ta, tb = HashMergeTable(spark, a), HashMergeTable(spark, b)
    assert _state_digest(ta.read()) == _state_digest(tb.read())
    # manifest covers every epoch exactly once per touched partition
    m = tb.manifest()
    dup = m.groupBy("partition", "epoch").count().where(F.col("count") > 1).count()
    assert dup == 0


def test_rerun_committed_epoch_is_noop(spark, wal_path, tmp_path):
    tbl_path = str(tmp_path / "target")
    run_ingest(spark, wal_path, tbl_path, n_buckets=8)
    table = HashMergeTable(spark, tbl_path)
    before = _state_digest(table.read())
    version_before = table._snapshot()["version"]
    stats = run_ingest(spark, wal_path, tbl_path, n_buckets=8)  # replay all
    assert stats.epochs_applied == 0
    assert _state_digest(table.read()) == before
    assert table._snapshot()["version"] == version_before


def test_delete_keys_absent(spark, wal_path, tmp_path):
    tbl_path = str(tmp_path / "target")
    run_ingest(spark, wal_path, tbl_path, n_buckets=8)
    wal = spark.read.parquet(wal_path)
    final = HashMergeTable(spark, tbl_path).read()
    last_op = compact_latest(wal).select("repo", "path", "op")
    deleted = last_op.where(F.col("op") == "D")
    assert deleted.count() > 0  # generator produced trailing deletes
    assert final.join(deleted, on=["repo", "path"], how="left_semi").count() == 0


def test_mor_mode_matches_cow_and_oracle(spark, wal_path, tmp_path):
    cow = str(tmp_path / "cow")
    mor = str(tmp_path / "mor")
    run_ingest(spark, wal_path, cow, n_buckets=8, mode="cow")
    run_ingest(spark, wal_path, mor, n_buckets=8, mode="mor", compact_every=3)
    dc = _state_digest(HashMergeTable(spark, cow).read())
    dm = _state_digest(HashMergeTable(spark, mor).read())
    assert dc == dm
    expected = _final_expected(spark, wal_path)
    assert dm == _state_digest(expected)


def test_mor_resume_with_pending_deltas(spark, wal_path, tmp_path):
    """Kill between delta commits (deltas not yet folded into the base) →
    resume → identical final state."""
    mor = str(tmp_path / "mor")
    with pytest.raises(RuntimeError, match="injected failure"):
        run_ingest(spark, wal_path, mor, n_buckets=8, mode="mor",
                   compact_every=100, fail_after_epoch=1)
    run_ingest(spark, wal_path, mor, n_buckets=8, mode="mor", compact_every=100)
    expected = _final_expected(spark, wal_path)
    assert _state_digest(HashMergeTable(spark, mor).read()) == _state_digest(expected)


def test_time_travel_and_vacuum(spark, wal_path, tmp_path):
    tbl_path = str(tmp_path / "t")
    run_ingest(spark, wal_path, tbl_path, n_buckets=4)
    t = HashMergeTable(spark, tbl_path)
    snaps = t.snapshots()
    assert len(snaps) >= 3
    # time travel: an earlier snapshot reflects fewer applied epochs
    early = next(s for s in snaps if s["epoch"] == 1)
    early_keys = t.read(at_snapshot=early).count()
    final_keys = t.read().count()
    wal01 = spark.read.parquet(wal_path).where(F.col("epoch") <= 1)
    exp_early = expected_final_state(wal01).count()
    assert early_keys == exp_early
    # vacuum: expired snapshots + unreferenced dirs removed; CURRENT intact
    before = _state_digest(t.read())
    res = t.vacuum(keep_snapshots=1)
    assert res["removed_snapshots"] >= 2
    assert _state_digest(t.read()) == before
    with pytest.raises(Exception):
        t.read(at_snapshot=early).count()  # expired data may be gone


def test_metrics_record_throughput_and_lag(spark, wal_path, tmp_path, monkeypatch):
    from read_comp_data_pipeline_spark.sources import wal as wal_src

    tail_reads = []
    stats = wal_src.epoch_stats
    monkeypatch.setattr(
        wal_src, "epoch_stats", lambda path, epoch: tail_reads.append(epoch) or stats(path, epoch)
    )
    tbl_path = str(tmp_path / "t")
    st = run_ingest(spark, wal_path, tbl_path, n_buckets=4, mode="mor")
    # the lag's tail footers are read once per call, not once per epoch
    assert st.epochs_applied == N_EVENTS // EPOCH_SIZE and tail_reads == [st.epochs_applied - 1]
    m = HashMergeTable(spark, tbl_path).metrics().toPandas()
    assert (m["events_per_sec"] > 0).all()
    # earlier epochs committed while later WAL epochs were pending → lag > 0;
    # the final epoch has lag 0
    by_epoch = m.groupby("epoch")["lag_events"].max()
    assert by_epoch.iloc[0] > 0
    assert by_epoch.loc[by_epoch.index.max()] == 0


def test_extreme_hot_key_skew(spark, tmp_path):
    """90% of events hit ONE key (hot repo). Correctness must hold and the
    hot key must collapse map-side: the (key, max seq) aggregate feeding
    the broadcast-semi compaction sends at most #map-partitions rows per
    key into the exchange, so no reducer receives the hot key's full
    event stream (north_rule: skew handled explicitly)."""
    import datetime as dt

    from pyspark.sql import functions as SF

    n = 4000
    df = (
        spark.range(n).withColumnRenamed("id", "seq")
        .withColumn("_hot", F.pmod(F.xxhash64("seq"), F.lit(10)) < 9)
        .withColumn("repo", F.when(F.col("_hot"), F.lit("org0/hot")).otherwise(F.lit("org1/cold")))
        .withColumn(
            "path",
            F.when(F.col("_hot"), F.lit("src/hot.py")).otherwise(
                F.concat(F.lit("src/cold"), (F.col("seq") % 97).cast("string"), F.lit(".py"))
            ),
        )
        .withColumn("op", F.when(F.col("seq") == 0, F.lit("I")).otherwise(F.lit("U")))
        .withColumn("content", F.concat(F.lit("v"), F.col("seq").cast("string")))
        .withColumn("commit", F.md5("content"))
        .withColumn("lang", F.lit("py"))
        .withColumn("epoch", (F.col("seq") / 1000).cast("long"))
        .withColumn("ts", SF.expr("timestampadd(SECOND, seq, TIMESTAMP'2024-01-01')"))
        .drop("_hot")
    )
    wal_path = str(tmp_path / "wal")
    df.write.partitionBy("epoch").parquet(wal_path)
    tbl = str(tmp_path / "t")
    run_ingest(spark, wal_path, tbl, n_buckets=4, mode="mor")
    final = HashMergeTable(spark, tbl).read()
    rows = {(r["repo"], r["path"]): r["content"] for r in final.collect()}
    # hot key holds exactly its highest-seq content
    wal = spark.read.parquet(wal_path)
    hot_max = wal.where(F.col("repo") == "org0/hot").agg(F.max("seq")).first()[0]
    assert rows[("org0/hot", "src/hot.py")] == f"v{hot_max}"
    # every cold key holds its own latest
    expected = expected_final_state(wal)
    assert len(rows) == expected.count()


def test_snapshot_size_constant_wrt_epochs(spark, tmp_path):
    """The scale contract for commit metadata: manifest/metrics live in
    appendable parquet side-tables, so the snapshot JSON must NOT grow with
    epoch count (an embedded manifest would be O(epochs²) cumulative write
    bytes at the 10^5-epoch target)."""
    import json
    import os

    wal = str(tmp_path / "wal")
    write_wal(generate_change_events(spark, 3000, n_keys=300, epoch_size=60), wal)
    tbl = str(tmp_path / "t")
    # maintenance off: this test asserts the full 50-snapshot history
    run_ingest(spark, wal, tbl, n_buckets=4, maintain_every=None)  # 50 epochs
    t = HashMergeTable(spark, tbl)
    sdir = os.path.join(tbl, "snapshots")
    sizes = {
        int(n[5:-5]): os.path.getsize(os.path.join(sdir, n))
        for n in os.listdir(sdir)
        if n.startswith("snap-") and n.endswith(".json")
    }
    assert len(sizes) >= 50
    early = sizes[10]
    late = sizes[max(sizes)]
    assert late <= early * 1.2, f"snapshot grew with epochs: {early} -> {late}"
    # the manifest side-table holds the full history anyway
    m = t.manifest()
    assert m.select("epoch").distinct().count() == 50
    assert t.metrics().count() > 0
    # and snapshot JSON carries no embedded history keys at all
    snap = t._snapshot()
    assert "manifest" not in snap and "metrics" not in snap


def test_compaction_strategy_auto_switches_by_epoch_size(spark, tmp_path):
    """Epochs above compact_threshold must degrade to the broadcast-free
    'agg' compaction instead of broadcasting an unbounded key set."""
    wal = str(tmp_path / "wal")
    write_wal(generate_change_events(spark, 1200, n_keys=200, epoch_size=400), wal)

    small = str(tmp_path / "small_thresh")
    stats = run_ingest(spark, wal, small, n_buckets=4, compact_threshold=100)
    assert stats.per_epoch and all(
        e["compact_strategy"] == "agg" for e in stats.per_epoch
    )
    assert _state_digest(HashMergeTable(spark, small).read()) == _state_digest(
        _final_expected(spark, wal)
    )

    big = str(tmp_path / "default_thresh")
    stats2 = run_ingest(spark, wal, big, n_buckets=4)
    assert all(e["compact_strategy"] == "broadcast_semi" for e in stats2.per_epoch)
    assert _state_digest(HashMergeTable(spark, big).read()) == _state_digest(
        _final_expected(spark, wal)
    )


def test_merge_is_seq_aware_under_out_of_order_replay(spark, tmp_path):
    """Row-level idempotency: slices merged out of order (and replayed)
    still converge to per-key max-seq state — the COW MERGE arm applies a
    source row only when its seq beats the target's."""
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("repo", T.StringType(), False),
            T.StructField("path", T.StringType(), False),
            T.StructField("content", T.StringType(), True),
            T.StructField("seq", T.LongType(), False),
        ]
    )
    tbl_path = str(tmp_path / "t")
    table = HashMergeTable.create(spark, tbl_path, schema, n_buckets=4)

    def mk(rows):
        return spark.createDataFrame(
            [(r[0], r[1], r[2], r[3], r[4]) for r in rows],
            T.StructType(list(schema.fields) + [T.StructField("op", T.StringType(), False)]),
        )

    new = mk([("r", f"k{i}", f"new{i}", 100 + i, "U") for i in range(9)]
             + [("r", "k9", None, 119, "D")])
    old = mk([("r", f"k{i}", f"old{i}", i, "I") for i in range(9)]
             + [("r", "k_only_old", "keepme", 50, "I")])

    from read_comp_data_pipeline_spark.operators.compact import compact_latest

    # newer slice applied first, older upserts arrive late
    table.merge(compact_latest(new, key_cols=["repo", "path"]), epoch=0)
    table.merge(compact_latest(old, key_cols=["repo", "path"]), epoch=1)
    got = {r["path"]: (r["content"], r["seq"]) for r in table.read().collect()}
    # late old rows never clobber newer state; unseen keys still insert
    assert got["k0"] == ("new0", 100)
    assert "k9" not in got
    assert got["k_only_old"] == ("keepme", 50)
    # replaying the newer slice again is a row-level no-op — including the
    # delete: op='D' is guarded out of the NOT-MATCHED insert arm, so a
    # replayed delete of an absent key stays absent
    table.merge(compact_latest(new, key_cols=["repo", "path"]), epoch=2)
    got2 = {r["path"]: (r["content"], r["seq"]) for r in table.read().collect()}
    assert got2 == got


def test_sidecar_compaction_preserves_history_and_is_crash_safe(spark, tmp_path):
    """compact_sidecars folds per-epoch manifest/metrics files into
    snapshot-referenced segment files without changing their contents.
    Every crash window is simulated: an orphan segment (crash before the
    snapshot commit) is never read and gets cleaned; stale per-epoch files
    (crash after the commit, before cleanup) are excluded by the watermark
    and re-folding them is impossible — the ADVICE r2 duplicate-rows
    scenario."""
    import os
    import shutil

    wal = str(tmp_path / "wal")
    write_wal(generate_change_events(spark, 2000, n_keys=200, epoch_size=100), wal)
    tbl = str(tmp_path / "t")
    run_ingest(spark, wal, tbl, n_buckets=4, maintain_every=None)  # 20 epochs
    t = HashMergeTable(spark, tbl)

    def digest(df):
        return sorted(tuple(r) for r in df.collect())

    def seg_files(d):
        return sorted(n for n in os.listdir(d) if n.startswith("seg-"))

    m_before = digest(t.manifest())
    k_before = digest(t.metrics().select("epoch", "partition", "events"))
    res = t.compact_sidecars()
    assert not res.get("skipped") and res["folded"]["manifest"] == 20

    mdir = os.path.join(tbl, "manifest")
    files = [n for n in os.listdir(mdir) if n.endswith(".parquet")]
    assert len(files) == 1 and files[0].startswith("seg-")
    assert digest(t.manifest()) == m_before
    assert digest(t.metrics().select("epoch", "partition", "events")) == k_before

    # crash window A (ADVICE r2): segment written but snapshot NOT
    # committed — the orphan is unreferenced, so reads ignore it and the
    # next compaction's cleanup removes it instead of re-folding
    orphan = os.path.join(mdir, "seg-99999999-deadbeef.parquet")
    shutil.copyfile(os.path.join(mdir, files[0]), orphan)
    assert digest(t.manifest()) == m_before

    # crash window B: commit done but folded per-epoch file not deleted —
    # the watermark keeps it invisible, no duplicate rows
    stale = os.path.join(mdir, "e0000000003.parquet")
    shutil.copyfile(os.path.join(mdir, files[0]), stale)
    assert digest(t.manifest()) == m_before

    # later epochs append fresh per-epoch files that reads pick up
    write_wal(generate_change_events(spark, 2100, n_keys=200, epoch_size=100), wal)
    run_ingest(spark, wal, tbl, n_buckets=4, maintain_every=None)
    assert t.manifest().select("epoch").distinct().count() == 21
    # second compaction folds only the new file into a SECOND segment
    # (generational — no rewrite of the first) and cleans both crash relics
    res2 = t.compact_sidecars()
    assert res2["folded"]["manifest"] == 1
    assert t.manifest().select("epoch").distinct().count() == 21
    assert len(seg_files(mdir)) == 2
    assert not os.path.exists(orphan) and not os.path.exists(stale)


def test_sidecar_segments_merge_lsm_style(spark, tmp_path):
    """Repeated compactions keep the segment count bounded by
    max_segments via full merges, with history preserved throughout."""
    import os

    wal = str(tmp_path / "wal")
    write_wal(generate_change_events(spark, 1200, n_keys=100, epoch_size=100), wal)
    tbl = str(tmp_path / "t")
    t = None
    for upto in range(0, 12, 2):
        run_ingest(spark, wal, tbl, n_buckets=4, max_epoch=upto + 1,
                   extract=False, maintain_every=None)
        t = HashMergeTable(spark, tbl)
        t.compact_sidecars(max_segments=2)
    mdir = os.path.join(tbl, "manifest")
    segs = [n for n in os.listdir(mdir) if n.startswith("seg-")]
    assert len(segs) <= 2
    assert t.manifest().select("epoch").distinct().count() == 12
    dup = (
        t.manifest().groupBy("partition", "epoch").count()
        .where(F.col("count") > 1).count()
    )
    assert dup == 0


def test_auto_maintenance_bounds_files_and_keeps_time_travel(spark, tmp_path):
    """run_ingest's maintain_every cadence keeps snapshots/ and side-table
    file counts bounded over a long run, while reads at retained snapshots
    (time travel inside the retention window) still work."""
    import os

    wal = str(tmp_path / "wal")
    write_wal(generate_change_events(spark, 3000, n_keys=150, epoch_size=50), wal)
    tbl = str(tmp_path / "t")
    run_ingest(spark, wal, tbl, n_buckets=4, extract=False,
               maintain_every=10, keep_snapshots=5)  # 60 epochs
    t = HashMergeTable(spark, tbl)

    snaps = [n for n in os.listdir(os.path.join(tbl, "snapshots")) if n.endswith(".json")]
    # ≤ keep_snapshots survivors at the last vacuum + ≤ maintain_every
    # commits since (plus the sidecar-compaction commit)
    assert len(snaps) <= 5 + 10 + 1
    mdir = os.path.join(tbl, "manifest")
    per_epoch = [n for n in os.listdir(mdir) if n.startswith("e")]
    assert len(per_epoch) <= 10
    assert len([n for n in os.listdir(mdir) if n.startswith("seg-")]) <= 8

    # full manifest history survives folding
    assert t.manifest().select("epoch").distinct().count() == 60
    # time travel within the retention window
    old = t.snapshots()[0]
    assert t.read(at_snapshot=old).count() > 0
    # final state still correct
    assert _state_digest(t.read()) == _state_digest(_final_expected(spark, wal))


def test_prebucketed_ingest_converges_and_bounds_files(spark, wal_path, tmp_path):
    """The pre-extraction bucket+salt shuffle (extraction-parallelism
    guard) must produce the identical final state, and MOR delta dirs
    must hold a bounded <= n_salts files per bucket (no small-files
    explosion). A one-file MOR epoch prebuckets; a one-file COW epoch of
    that size does not (below ``PREBUCKET_MIN_EVENTS``)."""
    import math
    import os

    from read_comp_data_pipeline_spark.sources.wal import epoch_footers

    tbl = str(tmp_path / "t")
    first = run_ingest(spark, wal_path, tbl, n_buckets=4, mode="mor", max_epoch=2,
                       compact_every=100)
    default = run_ingest(spark, wal_path, tbl, n_buckets=4, mode="mor",
                         compact_every=100)
    epochs = first.per_epoch + default.per_epoch
    assert default.per_epoch and all(e["prebucketed"] for e in epochs)
    assert epoch_footers(wal_path, default.per_epoch[0]["epoch"]).n_read_units == 1
    expected = _final_expected(spark, wal_path)
    assert _state_digest(HashMergeTable(spark, tbl).read()) == _state_digest(expected)

    n_salts = math.ceil(spark.sparkContext.defaultParallelism / 4)
    ddir = os.path.join(tbl, "delta")
    for e in sorted(os.listdir(ddir)):
        for b in os.listdir(os.path.join(ddir, e)):
            if not b.startswith("_b="):
                continue
            files = [n for n in os.listdir(os.path.join(ddir, e, b))
                     if n.endswith(".parquet")]
            assert 1 <= len(files) <= n_salts, (e, b, len(files))

    cow = run_ingest(spark, wal_path, str(tmp_path / "c"), n_buckets=4, mode="cow",
                     max_epoch=0)
    assert not cow.per_epoch[0]["prebucketed"]


def test_missing_committed_segment_fails_loudly(spark, tmp_path):
    """ADVICE r3: a segment file the COMMITTED snapshot references that is
    gone from disk must raise — silently skipping it would drop
    manifest/metrics history and mask exactly the corruption the
    segment-list commit protocol exists to surface."""
    import os

    import pytest

    wal = str(tmp_path / "wal")
    write_wal(generate_change_events(spark, 400, n_keys=50, epoch_size=100), wal)
    tbl = str(tmp_path / "t")
    run_ingest(spark, wal, tbl, n_buckets=4, maintain_every=None)
    t = HashMergeTable(spark, tbl)
    t.compact_sidecars()

    mdir = os.path.join(tbl, "manifest")
    seg = next(n for n in os.listdir(mdir) if n.startswith("seg-"))
    os.remove(os.path.join(mdir, seg))
    with pytest.raises(FileNotFoundError, match="committed snapshot"):
        t.manifest().collect()
