"""Writer fencing: a commit refuses unless CURRENT still names its base.

Each commit is built on the snapshot CURRENT named when it started. If a
second ``HashMergeTable`` handle on the same path commits in between, both
commits would take the same version number, and without the check the
later pointer swing silently drops the earlier commit.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import types as T

from read_comp_data_pipeline_spark.operators.merge import HashMergeTable

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
        rows, T.StructType(list(SCHEMA.fields) + [T.StructField("op", T.StringType(), False)])
    )


def _rows(t):
    return sorted(map(tuple, t.read().collect()))


@pytest.mark.parametrize("mode,stage", [("cow", False), ("mor", False), ("cow", True)])
def test_merge_refuses_when_another_handle_committed_first(spark, tmp_path, mode, stage):
    path = str(tmp_path / "t")
    t = HashMergeTable.create(spark, path, SCHEMA, n_buckets=2, mode=mode)
    t.merge(_src(spark, [("r", "a", "a0", 0, "I"), ("r", "b", "b0", 1, "I")]), epoch=0)
    before = _rows(t)
    other = HashMergeTable(spark, path)

    def ddl_from_another_handle():
        other.set_constraint("nonneg", "seq >= 0")

    with pytest.raises(ValueError, match="another writer committed first"):
        t.merge(
            _src(spark, [("r", "c", "c0", 2, "I")]), epoch=1,
            pre_commit=ddl_from_another_handle, stage=stage,
        )
    # CURRENT keeps the DDL commit; the refused epoch left no trace a
    # reader or the next writer sees
    assert t.constraints == {"nonneg": "seq >= 0"}
    assert t.last_epoch == 0
    assert t.staged_snapshot() is None
    assert _rows(t) == before

    t.merge(_src(spark, [("r", "c", "c0", 2, "I")]), epoch=1, stage=stage)
    if stage:
        t.publish_staged()
    assert t.constraints == {"nonneg": "seq >= 0"}
    assert _rows(t) == sorted(before + [("r", "c", "c0", 2)])


def test_publish_refuses_when_current_moved_off_the_staged_base(spark, tmp_path):
    t = HashMergeTable.create(spark, str(tmp_path / "t"), SCHEMA, n_buckets=2)
    t.merge(_src(spark, [("r", "a", "a0", 0, "I")]), epoch=0)
    t.set_constraint("nonneg", "seq >= 0")
    t.merge(_src(spark, [("r", "b", "b0", 1, "I")]), epoch=1, stage=True)
    # a writer that ignores the pending stage swings CURRENT back to an
    # older snapshot; publishing over it would drop that commit unseen
    with open(os.path.join(t.path, "CURRENT"), "w") as f:
        f.write("snap-00000001.json")
    with pytest.raises(ValueError, match="another writer committed first"):
        t.publish_staged()
    assert t.staged_snapshot() is not None
    assert t._snapshot()["version"] == 1
