"""Incremental corpus-vs-delta EMBEDDING near-dup (operators/similarity.py)
— the third leg of the incremental trio (minhash text dedup, paragraph
dedup, now embeddings):

* value-exact equality with the batch LSH pipeline on the union —
  including exact-vector membership growth, keeper TAKEOVER relabeling,
  delta-delta dups, and singletons (the contract holds whatever the
  hyperplanes do: a near-dup the buckets split is missed by BOTH sides);
* the scan contract: the delta pass reads only the store (partition-pruned
  to the delta's own buckets) and the delta — corpus vectors are never
  rescanned wholesale.
"""

from __future__ import annotations

import os
import random

import pytest
from pyspark.sql import functions as F

from read_comp_data_pipeline_spark.operators.similarity import (
    build_embedding_store,
    embedding_near_dup_lsh,
    incremental_embedding_near_dups,
    update_embedding_store,
)

PARAMS = dict(n_planes=3, dim=8, threshold=0.9)
SCHEMA = "vec_id long, embedding array<float>"


def _vec(seed: str, dim: int = 8) -> list[float]:
    rnd = random.Random(seed)
    return [round(rnd.uniform(-1, 1), 4) for _ in range(dim)]


def _near(v: list[float], j: int = 0, eps: float = 0.01) -> list[float]:
    w = list(v)
    w[j] = round(w[j] + eps, 4)
    return w


def _corpus_and_delta(spark):
    A, B, D, E = _vec("A"), _vec("B"), _vec("D"), _vec("E")
    corpus = spark.createDataFrame(
        [
            (100, A),            # group A keeper (pre-delta)
            (101, A),            # exact dup of A
            (102, _near(A)),     # near dup of A (same bucket unless a plane splits)
            (103, B),
            (110, D),
        ],
        SCHEMA,
    )
    delta = spark.createDataFrame(
        [
            (50, A),             # TAKEOVER: new keeper of group A
            (200, A),            # plain new member of group A
            (201, _near(D)),     # cross near-dup vs corpus vec 110
            (202, E),            # new content
            (203, E),            # delta-delta exact dup
            (204, _near(E, 1)),  # delta-delta near dup
            (205, _vec("G")),    # singleton
        ],
        SCHEMA,
    )
    return corpus, delta


def _edge_set(df):
    return {(r["id_a"], r["id_b"], round(r["cosine"], 6)) for r in df.collect()}


def test_emb_incremental_equals_batch_on_union(spark, tmp_path):
    corpus, delta = _corpus_and_delta(spark)
    store = str(tmp_path)
    build_embedding_store(corpus, store, **PARAMS)
    inc = _edge_set(incremental_embedding_near_dups(delta, store))
    batch = _edge_set(embedding_near_dup_lsh(corpus.unionByName(delta), **PARAMS))
    assert inc == batch
    # takeover re-rooted the exact star: 50 is the keeper of group A now
    assert {(50, 100, 1.0), (50, 101, 1.0), (50, 200, 1.0)} <= inc
    # delta-delta exact dup collapsed within the epoch
    assert (202, 203, 1.0) in inc


def test_emb_incremental_empty_delta_returns_store_edges(spark, tmp_path):
    corpus, _ = _corpus_and_delta(spark)
    store = str(tmp_path)
    build_embedding_store(corpus, store, **PARAMS)
    empty = corpus.where(F.lit(False))
    inc = _edge_set(incremental_embedding_near_dups(empty, store))
    batch = _edge_set(embedding_near_dup_lsh(corpus, **PARAMS))
    assert inc == batch


def test_emb_store_update_chains_epochs(spark, tmp_path):
    """store0 + delta1 folded → store1; incremental(delta2, store1) equals
    batch on the 3-way union, including a second-epoch takeover."""
    corpus, delta1 = _corpus_and_delta(spark)
    A = _vec("A")
    delta2 = corpus.sparkSession.createDataFrame(
        [
            (7, A),                       # takeover AGAIN (7 < 50)
            (300, _vec("newround")),      # fresh content
            (301, _vec("newround")),      # its exact dup
            (302, _near(_vec("E"), 2)),   # near-dup vs epoch-1 content
        ],
        SCHEMA,
    )
    root = str(tmp_path)
    s0, s1 = os.path.join(root, "s0"), os.path.join(root, "s1")
    build_embedding_store(corpus, s0, **PARAMS)
    update_embedding_store(delta1, s0, s1)
    inc = _edge_set(incremental_embedding_near_dups(delta2, s1))
    batch = _edge_set(
        embedding_near_dup_lsh(
            corpus.unionByName(delta1).unionByName(delta2), **PARAMS
        )
    )
    assert inc == batch
    assert {(7, 50, 1.0), (7, 100, 1.0), (7, 101, 1.0), (7, 200, 1.0)} <= inc


def test_emb_updated_store_equals_rebuilt_store(spark, tmp_path):
    corpus, delta = _corpus_and_delta(spark)
    root = str(tmp_path)
    s0, s1, sref = (os.path.join(root, x) for x in ("s0", "s1", "sref"))
    build_embedding_store(corpus, s0, **PARAMS)
    update_embedding_store(delta, s0, s1)
    build_embedding_store(corpus.unionByName(delta), sref, **PARAMS)
    spark = corpus.sparkSession
    for rel in ["groups", "exact_edges", "edges"]:
        got = {tuple(r) for r in spark.read.parquet(f"{s1}/{rel}").collect()}
        exp = {tuple(r) for r in spark.read.parquet(f"{sref}/{rel}").collect()}
        assert got == exp, f"relation {rel} diverged"
    # reps carry float arrays — compare as (id, bucket, rounded vec)
    def reps(p):
        return {
            (r["id"], r["bucket"], tuple(round(float(x), 4) for x in r["vec"]))
            for r in spark.read.parquet(f"{p}/reps").collect()
        }
    assert reps(s1) == reps(sref)


def test_emb_incremental_never_scans_corpus_vectors(spark, tmp_path):
    """The delta plan reads only the store and the delta parquet; the
    store's reps relation is partition-pruned to the delta's buckets."""
    from read_comp_data_pipeline_spark.operators.similarity import (
        _emb_incremental_state,
    )

    corpus = spark.createDataFrame(
        [(i, _vec(f"c{i}")) for i in range(100, 180)], SCHEMA
    )
    delta = spark.createDataFrame(
        [(10, _vec("c100")), (11, _vec("freshone"))], SCHEMA
    )
    root = str(tmp_path)
    corpus_path = os.path.join(root, "corpus_vecs_DO_NOT_SCAN")
    store = os.path.join(root, "store")
    corpus.write.parquet(corpus_path)
    build_embedding_store(spark.read.parquet(corpus_path), store, **PARAMS)

    out = incremental_embedding_near_dups(delta, store)
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        out.explain("formatted")
    plan = buf.getvalue()
    assert "corpus_vecs_DO_NOT_SCAN" not in plan
    assert "store" in plan

    # on-disk pruning: the reps scan reads a strict subset of store files
    st = _emb_incremental_state(delta, store, "vec_id", "embedding")

    def files(df):
        return {r["f"] for r in
                df.select(F.input_file_name().alias("f")).distinct().collect()}

    all_rep_files = files(spark.read.parquet(f"{store}/reps"))
    read_rep_files = files(st["_reps_scan"])
    assert read_rep_files, "delta must touch at least one rep bucket"
    assert read_rep_files < all_rep_files, (
        f"reps scan not pruned: {len(read_rep_files)}/{len(all_rep_files)}"
    )
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        st["_reps_scan"].explain("formatted")
    assert "PartitionFilters" in buf.getvalue()
    assert "ek" in buf.getvalue().split("PartitionFilters")[1][:120]


def test_emb_store_parameter_mismatch_fails_loudly(spark, tmp_path):
    corpus, delta = _corpus_and_delta(spark)
    store = str(tmp_path)
    build_embedding_store(corpus, store, **PARAMS)
    with pytest.raises(ValueError, match="must differ"):
        update_embedding_store(delta, store, store)


def test_emb_vec_hash_keeps_null_positions_and_double_precision(spark):
    """The exact-duplicate identity must match the batch pipeline's groupBy
    on the raw array: [1,null,2] and [1,2,null] are DISTINCT vectors (a
    null-dropping concat would merge them), and values differing below
    float precision stay distinct."""
    from read_comp_data_pipeline_spark.operators.similarity import _vec_hash

    rows = spark.createDataFrame(
        [
            (1, [1.0, None, 2.0]),
            (2, [1.0, 2.0, None]),
            (3, [1.0, 2.0, 2.0000001]),   # differs from 4 below float precision
            (4, [1.0, 2.0, 2.00000012]),
        ],
        "vec_id long, embedding array<double>",
    )
    hashes = {r["vec_id"]: r["h"] for r in rows.select(
        "vec_id", _vec_hash(F.col("embedding")).alias("h")).collect()}
    assert hashes[1] != hashes[2]
    assert hashes[3] != hashes[4]


def test_emb_incremental_emits_no_self_pairs_on_id_reuse(spark, tmp_path):
    """A delta row reusing a corpus vec_id with a CHANGED vector becomes a
    new rep while the store still holds a rep under the same id; if both
    land in one bucket (a scaled vector always does — hyperplane signs are
    scale-invariant) the cross join must not emit (X, X) — the batch
    self-join's a.id < b.id never does."""
    A = _vec("A")
    corpus = spark.createDataFrame([(100, A), (103, _vec("B"))], SCHEMA)
    delta = spark.createDataFrame(
        [(100, [round(x * 1.5, 4) for x in A])], SCHEMA  # same signs, new hash
    )
    store = str(tmp_path)
    build_embedding_store(corpus, store, **PARAMS)
    out = incremental_embedding_near_dups(delta, store)
    assert out.where(F.col("id_a") == F.col("id_b")).count() == 0
