"""Spark job counts of the engine's steady calls, pinned.

Each call runs under its own job group and the pin counts the jobs the
group launched (``statusTracker().getJobIdsForGroup``). A change that adds
an action to a hot path (a ``count``, a ``collect``, a re-read) fails here
before any benchmark runs; a change that removes one lowers the pin.
"""

from __future__ import annotations

import uuid

import pytest

from read_comp_data_pipeline_spark.operators.changefeed import follow_changes
from read_comp_data_pipeline_spark.operators.merge import HashMergeTable
from read_comp_data_pipeline_spark.sources.wal import generate_change_events, write_wal
from read_comp_data_pipeline_spark.streaming.ingest import run_ingest

EPOCH_EVENTS = 400
N_EPOCHS = 6


def spark_jobs(spark, fn):
    """(number of Spark jobs ``fn()`` launched, its result)."""
    sc = spark.sparkContext
    group = f"pin-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "job-count pin")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group)), out


@pytest.fixture(scope="module")
def wal(spark, tmp_path_factory):
    p = str(tmp_path_factory.mktemp("jobs_wal") / "wal")
    df = generate_change_events(
        spark, N_EPOCHS * EPOCH_EVENTS, n_keys=150, epoch_size=EPOCH_EVENTS, seed=11
    )
    write_wal(df, p)
    return p


def _ingest(spark, wal, tbl, mode, max_epoch):
    return run_ingest(spark, wal, tbl, n_buckets=4, mode=mode, max_epoch=max_epoch)


def test_mor_ingest_scan_and_feed_window_job_counts(spark, wal, tmp_path):
    tbl, feed = str(tmp_path / "mor"), str(tmp_path / "feed")
    _ingest(spark, wal, tbl, "mor", 1)
    table = HashMergeTable(spark, tbl)
    follow_changes(spark, table, feed)  # bootstrap window

    jobs, st = spark_jobs(spark, lambda: _ingest(spark, wal, tbl, "mor", 2))
    assert st.epochs_applied == 1
    assert jobs == 4

    jobs, _ = spark_jobs(
        spark, lambda: table.read().write.format("noop").mode("overwrite").save()
    )
    assert jobs <= 2

    jobs, out = spark_jobs(spark, lambda: follow_changes(spark, table, feed))
    assert out["to_epoch"] == 2 and out["changes"] > 0
    assert jobs == 3


def test_cow_two_epoch_ingest_job_count(spark, wal, tmp_path):
    tbl = str(tmp_path / "cow")
    _ingest(spark, wal, tbl, "cow", 1)
    jobs, st = spark_jobs(spark, lambda: _ingest(spark, wal, tbl, "cow", 3))
    assert st.epochs_applied == 2
    assert jobs == 16
