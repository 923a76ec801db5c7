"""Z-order (Morton) multi-dimensional clustering — zone-map evidence.

A linear table sort makes row-group min/max tight on the LEADING column
only: every row group still spans ~the whole domain of the second column,
so predicates on it skip nothing. Z-ordering interleaves the bits of
per-column equi-depth bucket ids, clustering rows that are close in EVERY
sort dimension — row-group zone maps become tight on all the columns at
once, which is the 100-TB lever for multi-dimensional point/range
predicates over hash-bucketed tables (same role as Delta OSS OPTIMIZE
ZORDER / Iceberg's z-order rewrite strategy).

These tests verify the physical property directly from written parquet
footers (pyarrow) — exactly the stats any parquet reader consults.
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
        T.StructField("x", T.LongType(), True),
        T.StructField("y", T.LongType(), True),
        T.StructField("lang", T.StringType(), True),
        T.StructField("seq", T.LongType(), True),
    ]
)

SMALL_GROUPS = {"parquet.block.size": 32 * 1024, "parquet.page.size": 8 * 1024}
N_ROWS = 40_000
DOMAIN = 1_000_000


def _source(spark):
    """x and y are independent hash permutations — neither correlates with
    insertion order or with each other, the adversarial case for
    clustering."""
    return spark.range(N_ROWS).select(
        F.concat(F.lit("r"), (F.col("id") % 4).cast("string")).alias("repo"),
        F.concat(F.lit("p"), F.col("id").cast("string")).alias("path"),
        F.pmod(F.xxhash64("id"), F.lit(DOMAIN)).cast("long").alias("x"),
        F.pmod(F.xxhash64("id", F.lit(7)), F.lit(DOMAIN)).cast("long").alias("y"),
        F.element_at(
            F.array(F.lit("py"), F.lit("rs"), F.lit("go"), F.lit("js")),
            (F.pmod(F.xxhash64("id", F.lit(3)), F.lit(4)) + 1).cast("int"),
        ).alias("lang"),
        F.col("id").alias("seq"),
        F.lit("I").alias("op"),
    )


def _make(spark, path):
    t = HashMergeTable.create(
        spark, str(path), SCHEMA, n_buckets=2,
        mode="cow", write_options=SMALL_GROUPS,
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
    return [
        (md.row_group(i).column(idx).statistics.min,
         md.row_group(i).column(idx).statistics.max)
        for i in range(md.num_row_groups)
    ]


def _mean_span(t, col):
    spans, n = 0.0, 0
    for f in _data_files(t):
        for lo, hi in _rowgroup_ranges(f, col):
            spans += (hi - lo) / DOMAIN
            n += 1
    assert n >= 8  # small row groups took effect
    return spans / n


@pytest.fixture(scope="module")
def tables(spark, tmp_path_factory):
    """Same data three ways: z-ordered on (x, y), linearly sorted on
    (x, y), unsorted. Z-order cuts sample the loaded table, then the
    rebucket rewrite applies the clustering (sort orders bind to
    rewrites)."""
    z = _make(spark, tmp_path_factory.mktemp("zord"))
    assert z.set_sort_order(["x", "y"], zorder=True)["strategy"] == "zorder"
    z.rebucket(4)
    lin = _make(spark, tmp_path_factory.mktemp("lin"))
    lin.set_sort_order(["x", "y"])
    lin.rebucket(4)
    return z, lin, _make(spark, tmp_path_factory.mktemp("uns"))


def test_zorder_rowgroups_tight_on_every_dimension(tables):
    z, lin, uns = tables
    # linear: tight on the leading column, blind on the second
    assert _mean_span(lin, "x") < 0.25
    assert _mean_span(lin, "y") > 0.8
    # unsorted: blind on both
    assert _mean_span(uns, "x") > 0.8 and _mean_span(uns, "y") > 0.8
    # z-order: tight on BOTH (coarser than linear's leading column — the
    # bounded trade for covering every dimension)
    assert _mean_span(z, "x") < 0.6, _mean_span(z, "x")
    assert _mean_span(z, "y") < 0.6, _mean_span(z, "y")


def test_zorder_prunes_second_column_predicates(tables):
    """The skipping a reader performs for a predicate on the SECOND sort
    column: z-order excludes most row groups; linear excludes none."""
    z, lin, _ = tables
    probes = [123_456, 333_333, 654_321, 876_543]

    def candidate_fraction(t):
        tot = cand = 0
        for f in _data_files(t):
            ranges = _rowgroup_ranges(f, "y")
            for v in probes:
                for lo, hi in ranges:
                    tot += 1
                    cand += lo <= v <= hi
        return cand / tot

    zf, lf = candidate_fraction(z), candidate_fraction(lin)
    assert lf > 0.8, lf          # linear: y predicates skip ~nothing
    assert zf < 0.6, zf          # z-order: majority of row groups skipped
    assert zf * 1.5 < lf, (zf, lf)


def test_zorder_does_not_change_table_content(spark, tables):
    z, _, uns = tables
    a = sorted(map(tuple, z.read().collect()))
    b = sorted(map(tuple, uns.read().collect()))
    assert a == b and len(a) == N_ROWS


def test_zorder_on_string_column_runs(spark, tmp_path):
    """String sort columns rank by a 56-bit lexicographic prefix — the
    mechanism must run end-to-end and preserve content."""
    t = _make(spark, tmp_path)
    t.set_sort_order(["lang", "x"], zorder=True, bits=4)
    t.rebucket(4)
    assert t.read().count() == N_ROWS
    # zone-map usefulness: a lang point predicate must be able to skip a
    # sizable share of row groups (unsorted: every group spans all 4 langs
    # and skips nothing). Adjacent langs whose bucket ids differ only in
    # low Morton bits still mix — that narrows intervals rather than
    # collapsing them, so measure skipping, not single-valuedness.
    langs = ["go", "js", "py", "rs"]
    tot = cand = 0
    for f in _data_files(t):
        for lo, hi in _rowgroup_ranges(f, "lang"):
            for v in langs:
                tot += 1
                cand += lo <= v <= hi
    assert cand <= 0.7 * tot, (cand, tot)


def test_zorder_survives_sort_column_rename(spark, tmp_path):
    """Cut points are stored positionally, so a metadata-only rename of a
    sort column must not detach them."""
    t = _make(spark, tmp_path)
    t.set_sort_order(["x", "y"], zorder=True)
    t.rename_column("x", "x_coord")
    assert t._snapshot()["sort_order"] == ["x_coord", "y"]
    t.rebucket(4)
    assert _mean_span(t, "x_coord") < 0.6
    assert t.read().count() == N_ROWS


def test_zorder_guards(spark, tmp_path):
    t = HashMergeTable.create(
        spark, str(tmp_path), SCHEMA, n_buckets=2,
    )
    with pytest.raises(ValueError, match="load data|NULL"):
        t.set_sort_order(["x", "y"], zorder=True)  # empty: nothing to sample
    t.merge(_source(spark).limit(100), epoch=0)
    with pytest.raises(ValueError, match="fit a long"):
        t.set_sort_order(["x", "y"], zorder=True, bits=31)
    # clearing the order drops the z-order state
    t.set_sort_order(["x"], zorder=True)
    assert t._snapshot().get("sort_strategy") == "zorder"
    t.set_sort_order([])
    snap = t._snapshot()
    assert snap.get("sort_strategy") == "linear" and "sort_cuts" not in snap


def test_zorder_cli(spark, tmp_path):
    from read_comp_data_pipeline_spark.__main__ import main

    t = _make(spark, tmp_path)
    assert main(["sort-order", "--table", t.path, "--by", "x", "y",
                 "--zorder", "--bits", "5"]) == 0
    assert t._snapshot()["sort_strategy"] == "zorder"
