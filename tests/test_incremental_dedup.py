"""Incremental corpus-vs-delta dedup (operators/dedup.py):

* value-exact equality with the batch pipeline on the union — including
  exact-dup membership growth, keeper TAKEOVER (a delta id smaller than
  the stored keeper re-roots the group and relabels every stored edge),
  delta-delta exact/near dups, and singletons;
* the scan contract: the incremental plan reads ONLY the signature store
  and the delta — corpus text is never rescanned (the property that makes
  per-epoch dedup work proportional to the delta; reference analogue: the
  crawl seen-set, /root/reference/search_scrape.py:330).
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from read_comp_data_pipeline_spark.operators.dedup import (
    build_signature_store,
    incremental_near_dups,
    minhash_near_dups,
)

PARAMS = dict(n=5, k=16, bands=4, threshold=0.5)


def _words(seed: str, n: int = 40) -> str:
    return " ".join(f"{seed}{i}" for i in range(n))


def _variant(text: str, pos: int, repl: str) -> str:
    toks = text.split()
    toks[pos] = repl
    return " ".join(toks)


def _corpus_and_delta(spark):
    A = _words("alpha")
    B = _words("beta")
    C = _words("gamma")
    D = _words("delta")
    E = _words("eps")
    corpus = spark.createDataFrame(
        [
            (100, A),                       # group A keeper (pre-delta)
            (101, A),                       # exact dup of A
            (102, _variant(A, 37, "xx")),   # near dup of A
            (103, B),
            (104, C),
            (110, D),
        ],
        "doc_id long, text string",
    )
    delta = spark.createDataFrame(
        [
            (50, A),                        # TAKEOVER: new keeper of group A
            (200, A),                       # plain new member of group A
            (201, _variant(D, 38, "yy")),   # cross near-dup vs corpus doc 110
            (202, E),                       # new content
            (203, E),                       # delta-delta exact dup
            (204, _variant(E, 36, "zz")),   # delta-delta near dup
            (205, _words("omega")),         # singleton
        ],
        "doc_id long, text string",
    )
    return corpus, delta


def _edge_set(df):
    return {
        (r["id_a"], r["id_b"], round(r["jaccard"], 9))
        for r in df.collect()
    }


def test_incremental_equals_batch_on_union(spark, tmp_path):
    corpus, delta = _corpus_and_delta(spark)
    store = str(tmp_path)
    build_signature_store(corpus, store, **PARAMS)
    inc = _edge_set(incremental_near_dups(delta, store))
    batch = _edge_set(minhash_near_dups(corpus.unionByName(delta), **PARAMS))
    assert inc == batch
    # takeover re-rooted the exact star: 50 is the keeper of group A now
    assert {(50, 100, 1.0), (50, 101, 1.0), (50, 200, 1.0)} <= inc
    # delta-delta exact dup collapsed within the epoch
    assert (202, 203, 1.0) in inc
    # every old edge mentioning the deposed keeper 100 was relabeled
    assert not any(100 in (a, b) and j < 1.0 for a, b, j in inc if a != 50)


def test_incremental_noop_delta_returns_store_edges(spark, tmp_path):
    """An empty delta must reproduce exactly the stored state (= batch on
    the corpus alone): no spurious edges, no lost edges."""
    corpus, _ = _corpus_and_delta(spark)
    store = str(tmp_path)
    build_signature_store(corpus, store, **PARAMS)
    empty = corpus.where(F.lit(False))
    inc = _edge_set(incremental_near_dups(empty, store))
    batch = _edge_set(minhash_near_dups(corpus, **PARAMS))
    assert inc == batch


def test_incremental_plan_never_scans_corpus_text(spark, tmp_path):
    """The delta plan's file scans touch only the signature store and the
    delta parquet — the corpus documents file never appears (work ∝ delta,
    the 100 TB per-epoch contract)."""
    corpus, delta = _corpus_and_delta(spark)
    root = str(tmp_path)
    corpus_path = os.path.join(root, "corpus_docs_DO_NOT_SCAN")
    delta_path = os.path.join(root, "delta_docs")
    store = os.path.join(root, "store")
    corpus.write.parquet(corpus_path)
    delta.write.parquet(delta_path)
    build_signature_store(spark.read.parquet(corpus_path), store, **PARAMS)

    out = incremental_near_dups(spark.read.parquet(delta_path), store)
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        out.explain("formatted")
    plan = buf.getvalue()
    assert "corpus_docs_DO_NOT_SCAN" not in plan
    assert "store" in plan  # the signature relations ARE read
    # and the result is still the full-union batch answer
    assert _edge_set(out) == _edge_set(
        minhash_near_dups(
            spark.read.parquet(corpus_path).unionByName(spark.read.parquet(delta_path)),
            **PARAMS,
        )
    )


def test_store_update_chains_epochs(spark, tmp_path):
    """update_signature_store makes the incremental path CHAINABLE: store0
    (corpus) + delta1 → store1; incremental(delta2, store1) must equal
    batch on the 3-way union — including a second-epoch takeover of a
    group the first epoch already grew."""
    from read_comp_data_pipeline_spark.operators.dedup import update_signature_store

    corpus, delta1 = _corpus_and_delta(spark)
    A = _words("alpha")
    delta2 = spark.createDataFrame(
        [
            (7, A),                          # takeover AGAIN (7 < 50)
            (300, _words("newround")),       # fresh content
            (301, _words("newround")),       # its exact dup
            (302, _variant(_words("eps"), 35, "qq")),  # near-dup vs epoch-1 content
        ],
        "doc_id long, text string",
    )
    root = str(tmp_path)
    s0, s1 = os.path.join(root, "s0"), os.path.join(root, "s1")
    build_signature_store(corpus, s0, **PARAMS)
    update_signature_store(delta1, s0, s1)
    inc = _edge_set(incremental_near_dups(delta2, s1))
    batch = _edge_set(
        minhash_near_dups(corpus.unionByName(delta1).unionByName(delta2), **PARAMS)
    )
    assert inc == batch
    # the twice-taken-over group is rooted at 7 now
    assert {(7, 50, 1.0), (7, 100, 1.0), (7, 101, 1.0), (7, 200, 1.0)} <= inc


def test_updated_store_equals_rebuilt_store(spark, tmp_path):
    """store0 + delta folded in == store built from scratch on the union,
    relation by relation (the invariant that lets epochs chain forever)."""
    from read_comp_data_pipeline_spark.operators.dedup import update_signature_store

    corpus, delta = _corpus_and_delta(spark)
    root = str(tmp_path)
    s0, s1, sref = (os.path.join(root, x) for x in ("s0", "s1", "sref"))
    build_signature_store(corpus, s0, **PARAMS)
    update_signature_store(delta, s0, s1)
    build_signature_store(corpus.unionByName(delta), sref, **PARAMS)
    for rel in ["groups", "exact_edges", "bands", "shingles", "edges"]:
        got = {tuple(r) for r in spark.read.parquet(f"{s1}/{rel}").collect()}
        exp = {tuple(r) for r in spark.read.parquet(f"{sref}/{rel}").collect()}
        assert got == exp, f"relation {rel} diverged"


def test_incremental_prunes_store_partitions_on_disk(spark, tmp_path):
    """The store's bands/shingles relations are PARTITIONED (bk = band-hash
    bucket, sk = id bucket) and the delta's candidate work pushes static
    partition filters — only the buckets the delta touches are read from
    disk (the IVF-style on-disk pruning evidence, now for the dedup
    store). Asserted against real files via input_file_name()."""
    from pyspark.sql import functions as F

    from read_comp_data_pipeline_spark.operators.dedup import _incremental_state

    # corpus with widely varied content → band hashes spread over buckets
    corpus = spark.createDataFrame(
        [(i, _words(f"c{i}x")) for i in range(100, 180)],
        "doc_id long, text string",
    )
    delta = spark.createDataFrame(
        [(10, _words("c100x")), (11, _words("freshone"))],
        "doc_id long, text string",
    )
    store = str(tmp_path)
    build_signature_store(corpus, store, **PARAMS)
    st = _incremental_state(delta, store, "text", "doc_id")

    def files(df):
        return {r["f"] for r in
                df.select(F.input_file_name().alias("f")).distinct().collect()}

    all_band_files = files(spark.read.parquet(f"{store}/bands"))
    read_band_files = files(st["_bands_scan"])
    assert read_band_files, "delta must touch at least one band bucket"
    assert read_band_files < all_band_files, (
        f"bands scan not pruned: {len(read_band_files)}/{len(all_band_files)}"
    )
    all_sh_files = files(spark.read.parquet(f"{store}/shingles"))
    read_sh_files = files(st["_shingles_scan"])
    assert read_sh_files < all_sh_files, (
        f"shingles scan not pruned: {len(read_sh_files)}/{len(all_sh_files)}"
    )
    # and the partition filter is in the plan, not incidental
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        st["_bands_scan"].explain("formatted")
    assert "PartitionFilters" in buf.getvalue()
    assert "bk" in buf.getvalue().split("PartitionFilters")[1][:120]


def test_cli_dedup_delta_reads_threshold_from_store(spark, tmp_path):
    """dedup-delta takes its parameters from the store it reads: a store
    built at --threshold 0.5 yields the batch edges at 0.5, including a
    cross pair below the old CLI default of 0.7."""
    from read_comp_data_pipeline_spark.__main__ import main

    corpus, delta = _corpus_and_delta(spark)
    B = _words("beta")
    delta = delta.unionByName(spark.createDataFrame(
        [(206, _variant(_variant(B, 8, "m1"), 25, "m2"))],  # vs 103: J ≈ 0.57
        "doc_id long, text string",
    ))
    cdir, ddir, store, edges = (str(tmp_path / x) for x in ("c", "d", "s", "e"))
    corpus.write.parquet(cdir)
    delta.write.parquet(ddir)
    assert main(["dedup-store", "--docs", cdir, "--store", store,
                 "--threshold", "0.5"]) == 0
    assert main(["dedup-delta", "--docs", ddir, "--store", store,
                 "--edges-out", edges]) == 0
    got = _edge_set(spark.read.parquet(edges))
    batch = _edge_set(minhash_near_dups(corpus.unionByName(delta), **PARAMS))
    assert got == batch
    assert any(a == 103 and b == 206 and j < 0.7 for a, b, j in got)
