"""Table sort order (within-bucket clustering) — zone-map evidence.

Hash bucketing destroys value locality: every bucket sees the full range
of every non-key column, so file-level stats can never prune a value
predicate. The lever that remains at 100 TB is WITHIN-file clustering:
sort rows inside each bucket on the declared columns so parquet row-group
min/max zone maps become tight and disjoint — a point/range predicate then
skips whole row groups instead of decoding the bucket. These tests verify
the physical property directly from the written parquet footers (pyarrow),
i.e. exactly the stats any parquet reader consults for skipping.
"""

from __future__ import annotations

import os

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from read_comp_data_pipeline_spark.operators.merge import HashMergeTable

SCHEMA = T.StructType(
    [
        T.StructField("repo", T.StringType(), False),
        T.StructField("path", T.StringType(), False),
        T.StructField("v", T.LongType(), True),
        T.StructField("content", T.StringType(), True),
        T.StructField("seq", T.LongType(), True),
    ]
)

# small row groups so a test-sized bucket file has many of them (at real
# scale a bucket file is GBs and has many 128 MB row groups by default)
SMALL_GROUPS = {"parquet.block.size": 64 * 1024, "parquet.page.size": 8 * 1024}

N_ROWS = 40_000


def _source(spark):
    """40k rows whose sort column `v` is uncorrelated with insertion order
    (a hash permutation) — an unsorted write then yields row groups whose
    v-ranges all span ~the whole domain."""
    return spark.range(N_ROWS).select(
        F.concat(F.lit("r"), (F.col("id") % 4).cast("string")).alias("repo"),
        F.concat(F.lit("p"), F.col("id").cast("string")).alias("path"),
        F.pmod(F.xxhash64("id"), F.lit(1_000_000)).cast("long").alias("v"),
        F.sha2(F.col("id").cast("string"), 256).alias("content"),
        F.col("id").alias("seq"),
        F.lit("I").alias("op"),
    )


def _make(spark, sort_order, path):
    t = HashMergeTable.create(
        spark,
        str(path),
        SCHEMA,
        n_buckets=2,
        mode="cow",
        sort_order=sort_order,
        write_options=SMALL_GROUPS,
    )
    t.merge(_source(spark), epoch=0, src_keys_broadcastable=False)
    return t


def _data_files(t):
    snap = t._snapshot()
    for e in snap["buckets"].values():
        d = os.path.join(t.path, e["dir"])
        for n in os.listdir(d):
            if n.endswith(".parquet"):
                yield os.path.join(d, n)


def _rowgroup_ranges(path, col):
    md = pq.ParquetFile(path).metadata
    idx = md.schema.to_arrow_schema().get_field_index(col)
    out = []
    for i in range(md.num_row_groups):
        st = md.row_group(i).column(idx).statistics
        out.append((st.min, st.max))
    return out


@pytest.fixture(scope="module")
def tables(spark, tmp_path_factory):
    return (
        _make(spark, ["v"], tmp_path_factory.mktemp("srt")),
        _make(spark, None, tmp_path_factory.mktemp("unsrt")),
    )


def test_sorted_rowgroups_are_tight_and_disjoint(tables):
    srt, _ = tables
    files = list(_data_files(srt))
    assert files
    for f in files:
        ranges = _rowgroup_ranges(f, "v")
        assert len(ranges) >= 4, (f, len(ranges))  # small groups took effect
        for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
            assert lo1 <= hi1 <= lo2 <= hi2, ranges  # sorted & non-overlapping


def test_zone_maps_prune_point_predicates(tables):
    """The skipping any parquet reader performs: row groups whose [min,max]
    can contain the predicate value. Sorted: ≤2 per file (boundary
    straddle); unsorted: essentially all of them."""
    srt, unsrt = tables
    # mid-domain probes: with ~650-row groups over a 1e6 hash domain the
    # per-group min/max sit ~1500 inside the domain edges, so edge probes
    # would fall outside every UNSORTED group too and prove nothing
    probes = [123_456, 333_333, 654_321, 876_543]

    def candidates(t):
        tot = cand = 0
        for f in _data_files(t):
            for v in probes:
                for lo, hi in _rowgroup_ranges(f, "v"):
                    tot += 1
                    cand += lo <= v <= hi
        return cand, tot

    s_cand, s_tot = candidates(srt)
    u_cand, u_tot = candidates(unsrt)
    n_files_srt = len(list(_data_files(srt)))
    assert s_cand <= 2 * len(probes) * n_files_srt, (s_cand, s_tot)
    assert u_cand >= 0.8 * u_tot, (u_cand, u_tot)  # unsorted: no skipping
    assert s_cand * 5 <= u_cand, (s_cand, u_cand)


def test_sort_order_does_not_change_table_content(tables):
    srt, unsrt = tables
    a = sorted(map(tuple, srt.read().collect()))
    b = sorted(map(tuple, unsrt.read().collect()))
    assert a == b and len(a) == N_ROWS


def test_sort_order_evolution_is_metadata_only_then_applies(spark, tmp_path):
    t = _make(spark, None, tmp_path)
    files_before = sorted(_data_files(t))
    t.set_sort_order(["v"])
    assert sorted(_data_files(t)) == files_before  # metadata-only commit
    # next rewrite clusters: rebucket is the explicit re-cluster move
    t.rebucket(4)
    for f in _data_files(t):
        ranges = _rowgroup_ranges(f, "v")
        for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
            assert lo1 <= hi1 <= lo2 <= hi2
    assert t.read().count() == N_ROWS


def test_set_sort_order_rejects_unknown_column(spark, tmp_path):
    t = _make(spark, None, tmp_path)
    with pytest.raises(ValueError, match="not in table schema"):
        t.set_sort_order(["nope"])


def test_mor_deltas_unsorted_until_compaction(spark, tmp_path):
    """MOR hot path stays write-optimized: delta appends are unsorted;
    compact_table (the rewrite) applies the declared order."""
    t = HashMergeTable.create(
        spark, str(tmp_path), SCHEMA, n_buckets=2,
        mode="mor", sort_order=["v"], write_options=SMALL_GROUPS,
    )
    t.merge(_source(spark), epoch=0)
    res = t.compact_table()
    assert not res["skipped"]
    for f in _data_files(t):
        ranges = _rowgroup_ranges(f, "v")
        for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
            assert lo1 <= hi1 <= lo2 <= hi2
    assert t.read().count() == N_ROWS
