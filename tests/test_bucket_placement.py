"""Bucket placement: every bucketed shuffle gives each bucket its own
partition, so a bucketed write runs one task and writes one file per
bucket. A hash of the bucket id would put 8 buckets in 5 partitions.
Also the sweep of temp files an interrupted ``atomic_write`` leaves."""

from __future__ import annotations

import json
import os
import re

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from read_comp_data_pipeline_spark.operators.merge import (
    HashMergeTable,
    bucket_expr,
    shuffle_by_bucket,
)
from read_comp_data_pipeline_spark.streaming.ingest import prebucket_for_merge

SCHEMA = T.StructType(
    [
        T.StructField("repo", T.StringType(), False),
        T.StructField("path", T.StringType(), False),
        T.StructField("content", T.StringType(), True),
        T.StructField("seq", T.LongType(), True),
    ]
)


def _src(spark, keys, seq0=0):
    return spark.createDataFrame(
        [("r", k, f"c{k}", seq0 + i, "I") for i, k in enumerate(keys)],
        T.StructType(list(SCHEMA.fields) + [T.StructField("op", T.StringType(), False)]),
    )


def _placement(df):
    return {(r[0], r[1]) for r in df.select("_b", F.spark_partition_id()).distinct().collect()}


def _keyed(spark, n_buckets, n_rows=2000):
    return (
        spark.range(n_rows)
        .select(F.lit("r").alias("repo"), F.col("id").cast("string").alias("path"),
                F.col("id").alias("seq"))
        .withColumn("_b", bucket_expr(n_buckets))
    )


@pytest.mark.parametrize("n_buckets", [4, 8, 16])
def test_each_bucket_gets_its_own_partition(spark, n_buckets):
    placed = _placement(shuffle_by_bucket(_keyed(spark, n_buckets), n_buckets))
    assert placed == {(b, b) for b in range(n_buckets)}


def test_cow_subset_is_placed_by_rank(spark):
    df = _keyed(spark, 8).where(F.col("_b").isin(2, 5, 7))
    assert _placement(shuffle_by_bucket(df, 8, [7, 2, 5])) == {(2, 0), (5, 1), (7, 2)}


def test_salted_prebucket_splits_each_bucket_alone(spark):
    """4 buckets on 16 cores: ceil(16/4) = 4 salts, partition b*4 + salt,
    so every partition holds one bucket and every bucket fills 4."""
    out = prebucket_for_merge(_keyed(spark, 4).drop("_b"), 4, parallelism=16)
    assert out.rdd.getNumPartitions() == 16
    placed = _placement(out)
    assert {p for _, p in placed} == set(range(16))
    assert all(p // 4 == b for b, p in placed)
    # one core per bucket or fewer: no salt
    assert _placement(prebucket_for_merge(_keyed(spark, 8).drop("_b"), 8, 4)) == {
        (b, b) for b in range(8)
    }


def _part_ids(data_dir):
    """{bucket: task partition id} of a bucketed data dir, from the
    ``part-<id>-`` file names; each bucket dir must hold one file."""
    out = {}
    for d in os.listdir(data_dir):
        if not d.startswith("_b="):
            continue
        files = [f for f in os.listdir(os.path.join(data_dir, d)) if f.endswith(".parquet")]
        assert len(files) == 1, (data_dir, d, files)
        out[int(d[3:])] = int(re.match(r"part-(\d+)-", files[0]).group(1))
    return out


def test_cow_epoch_and_compaction_write_one_task_and_file_per_bucket(spark, tmp_path):
    keys = [str(i) for i in range(200)]
    cow = HashMergeTable.create(spark, str(tmp_path / "cow"), SCHEMA, n_buckets=8)
    cow.merge(_src(spark, keys), epoch=0)
    assert _part_ids(str(tmp_path / "cow" / "data" / "e0000000000")) == {
        b: b for b in range(8)
    }
    # a COW epoch touching 3 buckets: one task per touched bucket
    by_bucket = {}
    for r in _src(spark, keys).withColumn("_b", bucket_expr(8)).collect():
        by_bucket.setdefault(r["_b"], r["path"])
    few = [by_bucket[b] for b in (1, 4, 6)]
    cow.merge(_src(spark, few, seq0=1000), epoch=1)
    assert _part_ids(str(tmp_path / "cow" / "data" / "e0000000001")) == {1: 0, 4: 1, 6: 2}

    mor = HashMergeTable.create(spark, str(tmp_path / "mor"), SCHEMA, n_buckets=8, mode="mor")
    mor.merge(_src(spark, keys), epoch=0)
    mor.merge(_src(spark, keys[:100], seq0=1000), epoch=1)
    assert _part_ids(str(tmp_path / "mor" / "delta" / "e0000000001")) == {
        b: b for b in range(8)
    }
    mor.compact_table()
    (cdir,) = [d for d in os.listdir(tmp_path / "mor" / "data") if d.startswith("c")]
    assert _part_ids(str(tmp_path / "mor" / "data" / cdir)) == {b: b for b in range(8)}
    assert sorted(r["path"] for r in mor.read().collect()) == sorted(keys)


def test_vacuum_sweeps_atomic_write_temp_files_and_show_counts_audits_only(
    spark, tmp_path, capsys
):
    from read_comp_data_pipeline_spark.__main__ import main

    tbl = str(tmp_path / "t")
    t = HashMergeTable.create(spark, tbl, SCHEMA, n_buckets=2)
    t.merge(_src(spark, ["a", "b"]), epoch=0)
    os.makedirs(os.path.join(tbl, "audits"))
    with open(os.path.join(tbl, "audits", "e0000000000.json"), "w") as f:
        json.dump({"epoch": 0, "reason": "x"}, f)
    hexes = iter(f"{i:032x}" for i in range(10, 20))
    planted = [
        os.path.join(tbl, sub, f".{name}.{next(hexes)}.tmp")
        for sub, name in [
            ("", "CURRENT"), ("", "STAGING"), ("snapshots", "v0000000003.json"),
            ("audits", "e0000000001.json"), ("manifest", "e0000000001.parquet"),
            ("metrics", "e0000000001.parquet"),
        ]
    ]
    kept = [os.path.join(tbl, "notes.tmp"), os.path.join(tbl, "audits", ".e1.json.x.tmp")]
    for p in planted + kept:
        os.makedirs(os.path.dirname(p), exist_ok=True)
        open(p, "w").close()

    assert main(["show", "--table", tbl]) == 0
    shown = json.loads(next(
        ln for ln in capsys.readouterr().out.splitlines() if ln.startswith("{")
    ))
    assert shown["audit_rejections"] == 1

    out = t.vacuum(keep_snapshots=1)
    assert out["removed_temp_files"] == len(planted)
    assert not any(os.path.exists(p) for p in planted)
    assert all(os.path.exists(p) for p in kept)
    assert os.path.exists(os.path.join(tbl, "audits", "e0000000000.json"))
    assert sorted(r["path"] for r in t.read().collect()) == ["a", "b"]
