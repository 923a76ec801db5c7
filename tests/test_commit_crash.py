"""A commit that dies at its pointer swing changes nothing a reader sees.

Every commit path of ``HashMergeTable`` ends in the same two steps: write
the snapshot file, then swing ``CURRENT`` (``STAGING`` for a staged
epoch). Each case below makes that swing raise, then checks that the
table is exactly as before (version, rows, listed snapshots, manifest,
staged snapshot), and that retrying the operation gives the same table as
a twin that never crashed. The snapshot file the crashed commit left
above the pointer must not be listed, resolved by epoch, or published by
a rollback.
"""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import types as T

from read_comp_data_pipeline_spark.operators.merge import HashMergeTable
from read_comp_data_pipeline_spark.operators.partial import partial_schema

SCHEMA = T.StructType(
    [
        T.StructField("repo", T.StringType(), False),
        T.StructField("path", T.StringType(), False),
        T.StructField("content", T.StringType(), True),
        T.StructField("seq", T.LongType(), True),
    ]
)
PARTIAL_EVENTS = "seq long, repo string, path string, op string, title string, text string"
EPOCH2 = [("r", "b", "b2", 5, "U"), ("r", "e", "e0", 6, "I"), ("r", "c", None, 7, "D")]
SCALARS = (
    "version", "epoch", "seq_hi", "n_buckets", "current_schema_id", "mode",
    "key_cols", "order_col", "sort_order", "sort_strategy", "constraints",
    "content_rev", "timeline", "rollback_of",
)


class _Crash(Exception):
    pass


def _src(spark, rows):
    """rows: (repo, path, content, seq, op)"""
    return spark.createDataFrame(
        rows, T.StructType(list(SCHEMA.fields) + [T.StructField("op", T.StringType(), False)])
    )


def _partial_src(spark, rows):
    return spark.createDataFrame(rows, PARTIAL_EVENTS)


@pytest.fixture(scope="module")
def bases(spark, tmp_path_factory):
    """Two-epoch COW and MOR tables and a one-epoch partial-column table,
    built once and copied per case."""
    root = tmp_path_factory.mktemp("crash_bases")
    out = {}
    for mode in ("cow", "mor"):
        t = HashMergeTable.create(spark, str(root / mode), SCHEMA, n_buckets=2, mode=mode)
        epoch0 = [("r", "a", "a0", 0, "I"), ("r", "b", "b0", 1, "I"), ("r", "c", "c0", 2, "I")]
        t.merge(_src(spark, epoch0), epoch=0, src_seq_lo=0, src_seq_hi=2)
        t.merge(
            _src(spark, [("r", "a", "a1", 3, "U"), ("r", "d", "d0", 4, "I")]),
            epoch=1, src_seq_lo=3, src_seq_hi=4,
        )
        out[mode] = t.path
    schema = partial_schema(
        [T.StructField("title", T.StringType(), True), T.StructField("text", T.StringType(), True)]
    )
    t = HashMergeTable.create(spark, str(root / "partial"), schema, n_buckets=2, mode="cow")
    t.merge_partial(
        _partial_src(spark, [(0, "r", "a", "I", "t0", None), (1, "r", "b", "I", None, "x1")]),
        epoch=0, value_cols=["title", "text"], src_seq_lo=0, src_seq_hi=1,
    )
    out["partial"] = t.path
    return out


def _merge_epoch2(t, spark, stage=False):
    t.merge(_src(spark, EPOCH2), epoch=2, src_seq_lo=5, src_seq_hi=7, stage=stage)


def _stage_epoch2(t, spark):
    _merge_epoch2(t, spark, stage=True)


# case -> (base table or None for a new path, preparation, the commit under test)
CASES = {
    "create": (None, None, lambda t, s: HashMergeTable.create(s, t.path, SCHEMA, n_buckets=2)),
    "merge_cow": ("cow", None, _merge_epoch2),
    "merge_mor": ("mor", None, _merge_epoch2),
    "merge_empty": ("cow", None, lambda t, s: t.merge(_src(s, []), epoch=2, src_seq_lo=5, src_seq_hi=5)),
    "merge_partial": ("partial", None, lambda t, s: t.merge_partial(
        _partial_src(s, [(2, "r", "a", "U", None, "x2"), (3, "r", "c", "I", "t3", None)]),
        epoch=1, value_cols=["title", "text"], src_seq_lo=2, src_seq_hi=3,
    )),
    "merge_staged": ("cow", None, _stage_epoch2),
    "publish_staged": ("cow", _stage_epoch2, lambda t, s: t.publish_staged()),
    "compact_table": ("mor", None, lambda t, s: t.compact_table()),
    "rebucket": ("cow", None, lambda t, s: t.rebucket(3)),
    "delete_where": ("cow", None, lambda t, s: t.delete_where("path = 'a'")),
    "evolve_schema": ("cow", None, lambda t, s: t.evolve_schema(
        T.StructType(list(SCHEMA.fields) + [T.StructField("stars", T.LongType(), True)])
    )),
    "rename_column": ("cow", None, lambda t, s: t.rename_column("content", "body")),
    "drop_column": ("cow", None, lambda t, s: t.drop_column("content")),
    "set_constraint": ("cow", None, lambda t, s: t.set_constraint("nonneg", "seq >= 0")),
    "drop_constraint": (
        "cow", lambda t, s: t.set_constraint("nonneg", "seq >= 0"),
        lambda t, s: t.drop_constraint("nonneg"),
    ),
    "set_sort_order": ("cow", None, lambda t, s: t.set_sort_order(["path"])),
    "compact_sidecars": ("cow", None, lambda t, s: t.compact_sidecars()),
    "rollback": ("cow", None, lambda t, s: t.rollback(epoch=0)),
}


def _table(spark, bases, base, path):
    if base is not None:
        shutil.copytree(bases[base], path)
    return HashMergeTable(spark, path)


def _state(t) -> dict:
    if not HashMergeTable.exists(t.path):
        listed = t.snapshots() if os.path.isdir(os.path.join(t.path, "snapshots")) else []
        return {"exists": False, "snapshots": [s["version"] for s in listed]}
    snap = t._snapshot()
    staged = t.staged_snapshot()
    return {
        "scalars": {k: snap.get(k) for k in SCALARS},
        "schema": t.schema.simpleString(),
        "rows": sorted(map(tuple, t.read().collect()), key=repr),
        "snapshots": [(s["version"], s["epoch"]) for s in t.snapshots()],
        "at_epoch": t.snapshot_at_epoch(t.last_epoch)["version"],
        "manifest": sorted(
            (r.partition, r.epoch, r.rows_applied, r.src_seq_lo, r.src_seq_hi)
            for r in t.manifest().collect()
        ),
        "staged": None if staged is None else staged["version"],
    }


@pytest.mark.parametrize("case", list(CASES))
def test_crash_before_pointer_swing(spark, bases, tmp_path, monkeypatch, case):
    base, prep, commit = CASES[case]
    t = _table(spark, bases, base, str(tmp_path / "t"))
    if prep is not None:
        prep(t, spark)
    before = _state(t)

    real_replace = os.replace

    def replace(src, dst, *args, **kwargs):
        if os.path.basename(dst) in ("CURRENT", "STAGING"):
            raise _Crash(dst)
        return real_replace(src, dst, *args, **kwargs)

    with monkeypatch.context() as m:
        m.setattr(os, "replace", replace)
        with pytest.raises(_Crash):
            commit(t, spark)
    assert _state(t) == before
    if base is not None:
        # the never-committed snapshot cannot be published by a rollback
        with pytest.raises(ValueError):
            t.rollback(version=before["scalars"]["version"] + 1)

    commit(t, spark)
    twin = _table(spark, bases, base, str(tmp_path / "twin"))
    if prep is not None:
        prep(twin, spark)
    commit(twin, spark)
    assert _state(t) == _state(twin)
