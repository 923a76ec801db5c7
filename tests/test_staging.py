"""Write-audit-publish staging (Iceberg WAP / audit-branch analogue).

``merge(..., stage=True)`` commits an epoch to the STAGING pointer —
invisible to readers — so the staged state can be audited (row-count
drift, dedup rate, any operator: it is a first-class snapshot) and then
``publish_staged()`` (one atomic pointer swing) or ``discard_staged()``
(readers never saw it — no rollback window, the epoch number is free to
re-merge after the fix). ``run_ingest(audit=..., audit_max_shrink=...)``
wires the gate into the epoch loop: the declarative shrink bound is the
mass-delete guard (the classic poisoned-CDC failure: an upstream bug
emits deletes for most of the table)."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import types as T

from read_comp_data_pipeline_spark.operators.merge import HashMergeTable
from read_comp_data_pipeline_spark.schemas import WAL_SCHEMA
from read_comp_data_pipeline_spark.streaming.ingest import run_ingest

SCHEMA = T.StructType(
    [
        T.StructField("repo", T.StringType(), False),
        T.StructField("path", T.StringType(), False),
        T.StructField("content", T.StringType(), True),
        T.StructField("seq", T.LongType(), True),
    ]
)


def _src(spark, rows):
    """rows: (repo, path, content, seq, op)"""
    return spark.createDataFrame(
        [tuple(r) for r in rows],
        T.StructType(list(SCHEMA.fields) + [T.StructField("op", T.StringType(), False)]),
    )


def _state(t, at=None):
    return sorted(map(tuple, t.read(at_snapshot=at).collect()))


@pytest.fixture(params=["cow", "mor"])
def table(spark, tmp_path, request):
    t = HashMergeTable.create(
        spark, str(tmp_path / "t"), SCHEMA, n_buckets=2, mode=request.param
    )
    t.merge(
        _src(spark, [("r", "a", "a0", 0, "I"), ("r", "b", "b0", 1, "I")]), epoch=0
    )
    return t


def test_staged_epoch_invisible_until_publish(table, spark):
    before = _state(table)
    res = table.merge(
        _src(spark, [("r", "a", "a1", 10, "U"), ("r", "c", "c0", 11, "I")]),
        epoch=1, stage=True,
    )
    assert not res["skipped"]
    # readers see NOTHING: CURRENT unchanged, epoch watermark unchanged
    assert _state(table) == before
    assert table.last_epoch == 0
    # the staged state is a first-class snapshot
    staged = table.staged_snapshot()
    assert staged is not None and staged["epoch"] == 1
    staged_rows = _state(table, at=staged)
    assert ("r", "a", "a1", 10) in staged_rows and ("r", "c", "c0", 11) in staged_rows
    # publish = one atomic pointer swing
    pub = table.publish_staged()
    assert pub == {"published": True, "epoch": 1, "version": staged["version"]}
    assert _state(table) == staged_rows
    assert table.staged_snapshot() is None


def test_discard_frees_the_epoch_for_remerge(table, spark):
    before = _state(table)
    table.merge(_src(spark, [("r", "a", "BAD", 10, "U")]), epoch=1, stage=True)
    d = table.discard_staged()
    assert d["discarded"] and d["epoch"] == 1
    assert _state(table) == before and table.staged_snapshot() is None
    # the epoch number re-merges cleanly (deterministic dirs overwritten)
    table.merge(_src(spark, [("r", "a", "FIXED", 10, "U")]), epoch=1)
    assert ("r", "a", "FIXED", 10) in _state(table)


def test_pending_stage_blocks_other_commits(table, spark):
    table.merge(_src(spark, [("r", "c", "c0", 10, "I")]), epoch=1, stage=True)
    # a different epoch cannot commit past the pending stage
    with pytest.raises(ValueError, match="staged but not published"):
        table.merge(_src(spark, [("r", "d", "d0", 11, "I")]), epoch=2)
    with pytest.raises(ValueError, match="staged"):
        table.rollback(epoch=0)
    # re-staging the SAME epoch is the idempotent crash-recovery path
    table.merge(_src(spark, [("r", "c", "c0", 10, "I")]), epoch=1, stage=True)
    table.publish_staged()
    assert ("r", "c", "c0", 10) in _state(table)
    # and the follow-up epoch commits normally afterwards
    table.merge(_src(spark, [("r", "d", "d0", 11, "I")]), epoch=2)
    assert table.last_epoch == 2


def test_vacuum_keeps_current_and_staged_while_pending(table, spark):
    before = _state(table)
    table.merge(_src(spark, [("r", "z", "z0", 10, "I")]), epoch=1, stage=True)
    staged = table.staged_snapshot()
    # "last 1 by version" alone would expire CURRENT's snapshot (the staged
    # one is version current+1) — both pointers' snapshots must survive
    table.vacuum(keep_snapshots=1)
    assert _state(table) == before
    assert _state(table, at=table.staged_snapshot())
    table.publish_staged()
    assert ("r", "z", "z0", 10) in _state(table)
    assert staged["version"] == table._snapshot()["version"]


def _ts(i):
    return dt.datetime(2024, 1, 1) + dt.timedelta(seconds=i)


def _wal_with_mass_delete(spark, path, n_keys=8):
    """epoch 0: insert n_keys; epoch 1: update one; epoch 2: POISON —
    deletes every key but one (the upstream-bug shape the guard exists
    for); epoch 3: a normal update that must never land past a reject."""
    rows = [
        (i, 0, _ts(i), "I", "r", f"k{i}", "c", "py", f"v{i}") for i in range(n_keys)
    ]
    rows.append((n_keys, 1, _ts(n_keys), "U", "r", "k0", "c", "py", "v0b"))
    rows += [
        (n_keys + 1 + i, 2, _ts(n_keys + 1 + i), "D", "r", f"k{i}", None, None, None)
        for i in range(n_keys - 1)
    ]
    rows.append((2 * n_keys, 3, _ts(2 * n_keys), "U", "r", f"k{n_keys-1}", "c", "py", "tail"))
    nullable = T.StructType(
        [T.StructField(f.name, f.dataType, True) for f in WAL_SCHEMA.fields]
    )
    spark.createDataFrame(rows, nullable).write.partitionBy("epoch").parquet(path)


@pytest.mark.parametrize("mode", ["cow", "mor"])
def test_ingest_mass_delete_guard_rejects_and_preserves_state(spark, tmp_path, mode):
    wal = str(tmp_path / "wal")
    tbl = str(tmp_path / "t")
    _wal_with_mass_delete(spark, wal)
    st = run_ingest(spark, wal, tbl, n_buckets=2, mode=mode, audit_max_shrink=0.5)
    assert st.rejected_epoch == 2 and "shrank" in st.reject_reason
    assert st.epochs_applied == 2  # epochs 0-1 published, 2 rejected, 3 never ran
    t = HashMergeTable(spark, tbl)
    assert t.last_epoch == 1 and t.staged_snapshot() is None
    assert t.read().count() == 8  # the poison epoch never became visible
    # durable ops record: the discarded snapshot leaves no table trace, so
    # the rejection reason must survive on disk for the operator
    import json as _json
    import os as _os

    rec_path = _os.path.join(tbl, "audits", "e0000000002.json")
    with open(rec_path) as f:
        rec = _json.load(f)
    assert rec["epoch"] == 2 and "shrank" in rec["reason"]
    # after review the deletes are deemed legit: re-run without the guard —
    # the rejected epoch number re-applies and the replay converges
    st2 = run_ingest(spark, wal, tbl, n_buckets=2, mode=mode)
    assert st2.epochs_applied == 2 and st2.rejected_epoch is None
    rows = {r["path"]: r["content"] for r in t.read().collect()}
    assert rows == {"k7": "tail"}


def test_ingest_audit_callable_gates_publish(spark, tmp_path):
    from pyspark.sql import functions as F

    wal = str(tmp_path / "wal")
    tbl = str(tmp_path / "t")
    _wal_with_mass_delete(spark, wal)
    # operator-level audit: reject any staged state containing 'v0b'
    # (stand-in for a contamination / quality gate over the staged read)
    audit = lambda df: df.where(F.col("content") == "v0b").count() == 0
    st = run_ingest(spark, wal, tbl, n_buckets=2, audit=audit)
    assert st.rejected_epoch == 1 and "audit callable" in st.reject_reason
    t = HashMergeTable(spark, tbl)
    assert t.last_epoch == 0 and t.read().count() == 8
    assert {r["content"] for r in t.read().collect()} == {f"v{i}" for i in range(8)}


def test_pending_stage_blocks_maintenance_commits(table, spark):
    """Every snapshot-committing mutator must refuse while a stage is
    pending — its commit would collide with the staged version number
    (and a later publish would then 'publish' the wrong snapshot)."""
    table.merge(_src(spark, [("r", "c", "c0", 10, "I")]), epoch=1, stage=True)
    with pytest.raises(ValueError, match="staged but not published"):
        table.set_sort_order(["seq"])
    with pytest.raises(ValueError, match="staged but not published"):
        table.set_constraint("c1", "seq >= 0")
    with pytest.raises(ValueError, match="staged but not published"):
        table.rebucket(4)
    with pytest.raises(ValueError, match="staged but not published"):
        table.compact_sidecars()
    if table._snapshot().get("mode") == "mor":
        with pytest.raises(ValueError, match="staged but not published"):
            table.compact_table()
    table.publish_staged()
    table.set_sort_order(["seq"])  # clears after publish


def test_crashed_publish_self_heals_instead_of_bricking(table, spark):
    """A crash between publish's two pointer writes leaves STAGING naming
    the SAME snapshot CURRENT names. That stale pointer must read as 'no
    pending stage', and reading must NOT mutate the table (staged_snapshot
    is invoked from `show`/vacuum — a read-only command healing state
    another process may be acting on is an operator surprise, ADVICE r5);
    the cleanup happens on the next WRITE path instead."""
    import os

    table.merge(_src(spark, [("r", "c", "c0", 10, "I")]), epoch=1, stage=True)
    # simulate the crash window: CURRENT swung, STAGING not yet removed
    with open(os.path.join(table.path, "STAGING")) as f:
        staged_name = f.read().strip()
    cur = os.path.join(table.path, "CURRENT")
    with open(cur, "w") as f:
        f.write(staged_name)
    # read-only probe: no pending stage reported, pointer left untouched
    assert table.staged_snapshot() is None
    assert os.path.exists(os.path.join(table.path, "STAGING"))
    # the table reads the published state and commits continue normally;
    # the next write path heals the stale pointer
    assert ("r", "c", "c0", 10) in _state(table)
    table.merge(_src(spark, [("r", "d", "d0", 11, "I")]), epoch=2)
    assert table.last_epoch == 2
    assert not os.path.exists(os.path.join(table.path, "STAGING"))
    import pytest as _pytest
    with _pytest.raises(ValueError, match="no staged snapshot"):
        table.discard_staged()


def test_audit_baseline_recounts_only_after_a_content_change(spark, tmp_path):
    """The shrink gate reuses the last published 'after' count as the next
    'before' only while the table still holds that content
    (``merge.same_content``): a ``delete_where`` forces a recount;
    ``compact_table`` and ``vacuum`` rewrite layout only and do not."""
    from read_comp_data_pipeline_spark.streaming.ingest import _audit_before

    t = HashMergeTable.create(spark, str(tmp_path / "t"), SCHEMA, n_buckets=2, mode="mor")
    t.merge(_src(spark, [("r", "a", "a0", 0, "I"), ("r", "b", "b0", 1, "I")]), epoch=0)
    t.merge(_src(spark, [("r", "c", "c0", 2, "I")]), epoch=1)
    # a sentinel count: the real one is 3, so a recount is visible
    base = {"snap": t._snapshot(), "rows": 99}
    assert _audit_before(t, base) == 99
    t.delete_where("path = 'a'")
    assert _audit_before(t, base) == 2

    t.merge(_src(spark, [("r", "d", "d0", 3, "I")]), epoch=2)
    base = {"snap": t._snapshot(), "rows": 99}
    v = t._snapshot()["version"]
    assert not t.compact_table()["skipped"]
    t.vacuum(keep_snapshots=1)
    assert t._snapshot()["version"] > v
    assert _audit_before(t, base) == 99
    assert _audit_before(t, {}) == 3
