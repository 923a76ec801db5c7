"""Per-JVM plan pieces: the extraction layers, the alignment projections,
the compaction Columns and the epoch schemas are built once per JVM and
reused. These tests pin that the cached pieces build the same executed
plans the per-call construction built, that a steady MOR epoch stays
under a py4j round-trip ceiling, that a new footer schema is re-inferred
and that a new gateway empties the memo. Also the non-blocking
Observation probe the ingest and merge paths share."""

from __future__ import annotations

import gc
import re
import threading

import pytest
from pyspark.sql import Observation
from pyspark.sql import functions as F
from pyspark.sql import types as T

from read_comp_data_pipeline_spark.functions.classify import TERMS_BFS, _lowered_hits
from read_comp_data_pipeline_spark.functions.extract import (
    content_sha_expr,
    first_section_exprs,
    title_expr,
)
from read_comp_data_pipeline_spark.operators import compact, merge
from read_comp_data_pipeline_spark.operators.merge import HashMergeTable, bucket_expr
from read_comp_data_pipeline_spark.schemas import TARGET_SCHEMA
from read_comp_data_pipeline_spark.session import PerJVM, observed_or
from read_comp_data_pipeline_spark.sources import wal as wal_src
from read_comp_data_pipeline_spark.streaming.ingest import (
    prebucket_for_merge,
    prepare_target_rows,
    run_ingest,
)

EPOCH_SIZE = 500


@pytest.fixture(scope="module")
def wal_path(spark, tmp_path_factory):
    p = str(tmp_path_factory.mktemp("wal") / "events")
    wal_src.write_wal(
        wal_src.generate_change_events(spark, 4 * EPOCH_SIZE, n_keys=200, epoch_size=EPOCH_SIZE), p
    )
    return p


# -- the per-call construction the caches replaced --------------------------------


def _percall_prepare(df):
    is_del = F.col("op") == "D"
    live = lambda c: F.when(is_del, F.lit(None)).otherwise(c)  # noqa: E731
    content = F.col("content")
    df = (
        df.withColumn("title", live(title_expr(content, F.col("path"))))
        .withColumn("_low", F.lower(content))
        .withColumn("_len", F.length(content))
    )
    h1, t1 = first_section_exprs(F.col("title"), content)
    df = (
        df.withColumn("heading", F.when(~is_del, h1))
        .withColumn("text", F.when(~is_del, t1))
        .withColumn("content_sha", live(content_sha_expr(content)))
    )
    n_tokens = (
        F.octet_length(content)
        - F.octet_length(F.replace(content, F.lit(" "), F.lit("")))
        + 1
    ).cast("long")
    df = df.withColumn("kw_hits", live(_lowered_hits(F.col("_low")).cast("int")))
    quality = F.round(
        F.least(
            F.lit(1.0),
            F.when((F.col("_len") >= 200) & (F.col("_len") <= 50000), 0.5)
            .otherwise(0.2)
            + F.least(F.col("kw_hits").cast("double") / 10.0, F.lit(0.5)),
        ),
        4,
    )
    return (
        df.withColumn("quality", live(quality))
        .withColumn("n_tokens", live(n_tokens))
        .withColumn("fingerprint", live(F.substring(F.col("content_sha"), 1, 32)))
        .drop("_low", "_len")
    )


def _percall_align(df, schema, keep=()):
    have = {f.name for f in df.schema.fields}
    cols = [
        F.col(f.name).cast(f.dataType).alias(f.name) if f.name in have
        else F.lit(None).cast(f.dataType).alias(f.name)
        for f in schema.fields
    ]
    cols.extend(F.col(k) for k in keep if k in have)
    return df.select(*cols)


def _percall_align_by_id(df, written, written_ids, cur, cur_ids, keep=()):
    by_id = dict(zip(written_ids, written.fields))
    cols = [
        F.col(by_id[i].name).cast(f.dataType).alias(f.name) if i in by_id
        else F.lit(None).cast(f.dataType).alias(f.name)
        for i, f in zip(cur_ids, cur.fields)
    ]
    have = {f.name for f in df.schema.fields}
    cols.extend(F.col(k) for k in keep if k in have)
    return df.select(*cols)


def _percall_compact(df, key_cols=None, order_col="seq", strategy="broadcast_semi"):
    key_cols = key_cols or ["repo", "path"]
    if strategy == "broadcast_semi":
        latest = df.groupBy(*key_cols).agg(F.max(order_col).alias(order_col))
        return df.join(F.broadcast(latest), on=[*key_cols, order_col], how="left_semi")
    if strategy == "broadcast_hash_semi":
        latest = (
            df.groupBy(*key_cols).agg(F.max(order_col).alias(order_col))
            .select(F.xxhash64(*key_cols, order_col).alias("_h"))
        )
        return (
            df.withColumn("_h", F.xxhash64(*key_cols, order_col))
            .join(F.broadcast(latest), on="_h", how="left_semi").drop("_h")
        )
    payload = [c for c in df.columns if c not in key_cols]
    packed = F.struct(*[F.col(c) for c in payload])
    out = df.groupBy(*key_cols).agg(F.max_by(packed, F.col(order_col)).alias("_p"))
    return out.select(*key_cols, *[F.col(f"_p.{c}").alias(c) for c in payload])


def _percall_cow_plan(table, snap, src, op_col, affected):
    key_cols = snap["key_cols"]
    cur = T.StructType.fromJson(snap["schemas"][snap["current_schema_id"]])
    order = snap.get("order_col", "seq")
    src_keys = src.select(*key_cols, F.col(order).alias("_sseq"))
    tgt = table.read(buckets=affected, at_snapshot=snap)
    kept = (
        tgt.join(F.broadcast(src_keys), on=key_cols, how="left")
        .where(F.col("_sseq").isNull() | (F.col("_sseq") <= F.col(order)))
        .drop("_sseq")
    )
    tgt_wins = (
        tgt.join(F.broadcast(src_keys), on=key_cols, how="inner")
        .where(F.col("_sseq") <= F.col(order))
        .select(*key_cols)
    )
    applied = _percall_align(
        src.where(F.col(op_col) != "D").join(
            F.broadcast(tgt_wins), on=key_cols, how="left_anti"
        ),
        cur,
    )
    return kept.unionByName(applied).withColumn(
        "_b", F.pmod(F.xxhash64(*key_cols), F.lit(snap["n_buckets"])).cast("int")
    )


@pytest.fixture
def percall(monkeypatch):
    """Route the shared helpers through the per-call construction."""

    def use():
        monkeypatch.setattr(merge, "_align", _percall_align)
        monkeypatch.setattr(merge, "_align_by_id", _percall_align_by_id)
        monkeypatch.setattr(compact, "compact_latest", _percall_compact)

    return use


def _executed(df) -> str:
    """The physical plan with expression ids and plan ids normalised."""
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return re.sub(r"plan_id=\d+", "plan_id=", re.sub(r"#\d+", "#", buf.getvalue()))


def _epoch_slice(
    spark, wal_path, epoch, percall: bool, strategy="broadcast_hash_semi", buckets=None
):
    """One epoch's extracted slice, read with the cached schema and built
    from cached pieces, or inferred and built per call. ``buckets``: bucket
    the compacted slice before extraction, as a narrow MOR epoch does."""
    if percall:
        sl = spark.read.parquet(f"{wal_path}/epoch={epoch}").withColumn(
            "epoch", F.lit(epoch).cast("long")
        )
        compacted = _percall_compact(sl, strategy=strategy)
    else:
        sl = wal_src.read_epoch(spark, wal_path, epoch)
        compacted = compact.compact_latest(sl, strategy=strategy)
    if buckets:
        compacted = prebucket_for_merge(
            compacted, buckets, spark.sparkContext.defaultParallelism
        )
    return (_percall_prepare if percall else prepare_target_rows)(compacted)


# -- plan pinning ------------------------------------------------------------------


def test_mor_delta_write_plan_unchanged(spark, wal_path, percall):
    with_op = T.StructType(
        list(TARGET_SCHEMA.fields) + [T.StructField("op", T.StringType(), True)]
    )

    def delta_write(align, percall_src):
        src = _epoch_slice(spark, wal_path, 1, percall_src, buckets=4)
        return align(src, with_op, keep=("_b",))

    cached = _executed(delta_write(merge._align, False))
    percall()
    assert cached == _executed(delta_write(_percall_align, True))


def test_cow_plan_unchanged(spark, wal_path, tmp_path, percall):
    tbl = str(tmp_path / "t")
    run_ingest(spark, wal_path, tbl, n_buckets=4, max_epoch=1, mode="cow")
    t = HashMergeTable(spark, tbl)
    snap = t._snapshot()
    src = _epoch_slice(spark, wal_path, 2, False, "broadcast_semi").withColumn("_b", bucket_expr(4))
    cached = _executed(t._cow_plan(snap, src, "op", [0, 1, 2, 3]))
    percall()
    src = _epoch_slice(spark, wal_path, 2, True, "broadcast_semi").withColumn("_b", bucket_expr(4))
    assert cached == _executed(_percall_cow_plan(t, snap, src, "op", [0, 1, 2, 3]))


def test_mor_read_plan_unchanged(spark, wal_path, tmp_path, percall):
    tbl = str(tmp_path / "t")
    # epochs 0-1 are compacted into the base; epochs 2-3 stay deltas
    run_ingest(spark, wal_path, tbl, n_buckets=4, max_epoch=1, mode="mor", compact_every=2)
    run_ingest(spark, wal_path, tbl, n_buckets=4, mode="mor")
    t = HashMergeTable(spark, tbl)
    snap = t._snapshot()
    assert snap["buckets"] and len(snap["deltas"]) == 2
    cached = _executed(t.read())
    percall()
    assert cached == _executed(t.read())


def test_classifier_evaluated_once_per_row(spark, wal_path):
    """Every heavy subexpression of the extraction appears exactly once in
    the optimized ingest plan: ``lower(content)`` and ``length(content)``
    each in the unconditional first layer (inside live()'s CASE WHEN
    branch Spark would evaluate each copy), and each term's containment
    check over the lowered column in kw_hits' own projection."""
    opt = _epoch_slice(spark, wal_path, 1, False)._jdf.queryExecution().optimizedPlan().toString()
    assert len(re.findall(r"(?<![\w])lower\(content#\d+\)", opt)) == 1, opt
    assert len(re.findall(r"(?<![\w])length\(content#\d+\)", opt)) == 1, opt
    for term in TERMS_BFS:
        assert len(re.findall(rf"Contains\(_low#\d+, {term}\)", opt)) == 1, term


# -- round trips and cache scope ---------------------------------------------------


def test_steady_mor_epoch_round_trip_ceiling(spark, wal_path, tmp_path, monkeypatch):
    """One steady-state MOR epoch, bucketed before extraction, makes at
    most 600 py4j round trips (about 200 now). Building every plan piece
    per call, the same epoch made 2,046, and an epoch of the 5k-event MOR
    benchmark shape about 2,400."""
    import py4j.clientserver
    import py4j.java_gateway

    tbl = str(tmp_path / "t")
    run_ingest(spark, wal_path, tbl, n_buckets=8, max_epoch=1, mode="mor")
    calls = [0]
    me = threading.get_ident()
    for cls in (py4j.clientserver.ClientServerConnection, py4j.java_gateway.GatewayConnection):
        orig = cls.send_command

        def counted(self, command, _orig=orig):
            # only this thread's: another thread may be sending py4j's
            # deletes of proxies an earlier test left for collection
            calls[0] += threading.get_ident() == me
            return _orig(self, command)

        monkeypatch.setattr(cls, "send_command", counted)
    # deletes of collected JavaObject proxies are round trips too: collect
    # now, and keep the cyclic collector from firing inside the window
    gc.collect()
    gc.disable()
    try:
        st = run_ingest(spark, wal_path, tbl, n_buckets=8, max_epoch=2, mode="mor")
    finally:
        gc.enable()
    assert st.epochs_applied == 1 and st.per_epoch[0]["prebucketed"]
    assert calls[0] <= 600, calls[0]


class _CountingMemo(PerJVM):
    def __init__(self):
        super().__init__()
        self.builds = 0

    def get(self, key, build):
        def counted():
            self.builds += 1
            return build()

        return super().get(key, counted)


def test_new_footer_schema_is_inferred_then_reused(spark, tmp_path, monkeypatch):
    """FIXTURES §3: epochs 2-3 carry an added column. Epoch 2's footer
    schema is new, so it is inferred and the column lands; epoch 3 has the
    same footers and reuses the schema."""
    p = str(tmp_path / "wal")
    df = wal_src.generate_change_events(spark, 4 * EPOCH_SIZE, n_keys=200, epoch_size=EPOCH_SIZE)
    df.where(F.col("epoch") < 2).write.partitionBy("epoch").parquet(p)
    df.where(F.col("epoch") >= 2).withColumn(
        "stars", F.pmod(F.xxhash64("seq"), F.lit(100)).cast("int")
    ).write.mode("append").partitionBy("epoch").parquet(p)
    memo = _CountingMemo()
    monkeypatch.setattr(wal_src, "_EPOCH_SCHEMAS", memo)
    tbl = str(tmp_path / "t")
    builds = []
    for e in range(4):
        run_ingest(spark, p, tbl, n_buckets=4, max_epoch=e)
        builds.append(memo.builds)
    assert builds == [1, 1, 2, 2]
    t = HashMergeTable(spark, tbl)
    assert "stars" in t.schema.fieldNames()
    assert t.read().where(F.col("stars").isNotNull()).count() > 0


def test_memo_is_dropped_with_its_gateway(monkeypatch):
    from pyspark import SparkContext

    memo = PerJVM()
    memo.maxsize = 2
    monkeypatch.setattr(SparkContext, "_gateway", object())
    assert memo.get("k", lambda: 1) == 1
    assert memo.get("k", lambda: 2) == 1  # reused under the same gateway
    monkeypatch.setattr(SparkContext, "_gateway", object())  # a restarted JVM
    assert memo.get("k", lambda: 3) == 3
    memo.get("a", lambda: 0)
    memo.get("b", lambda: 0)  # past maxsize: the oldest entry goes
    assert memo.get("k", lambda: 4) == 4


def test_memo_shared_by_threads_never_mixes_entries():
    import sys

    memo = PerJVM()
    memo.maxsize = 16
    errors = []

    def work(seed):
        try:
            for i in range(2000):
                k = (seed * 7 + i) % 48
                assert memo.get(k, lambda k=k: ("v", k)) == ("v", k)
                assert len(memo._memo) <= 16
        except Exception as e:  # surfaced by the assertion below
            errors.append(e)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=work, args=(n,), daemon=True) for n in range(12)]
        for th in threads:
            th.start()
        for th in threads:
            th.join(timeout=60)
    finally:
        sys.setswitchinterval(old)
    assert not any(th.is_alive() for th in threads)
    assert errors == []


# -- the Observation probe ---------------------------------------------------------


def test_observed_or_does_not_wait_for_an_unconsumed_observation(spark):
    obs = Observation()
    spark.range(10).observe(obs, F.count("*").alias("n"))  # no action runs
    out = []
    th = threading.Thread(target=lambda: out.append(observed_or(obs, "n", lambda: -1)), daemon=True)
    th.start()
    th.join(timeout=30)
    assert out == [-1]
    assert observed_or(Observation(), "n", lambda: -2) == -2  # never attached

    done = Observation()
    spark.range(10).observe(done, F.count("*").alias("n")).write.format("noop").mode(
        "overwrite"
    ).save()
    assert observed_or(done, "n", lambda: -3) == 10
