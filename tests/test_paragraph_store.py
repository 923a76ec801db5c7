"""Incremental corpus-vs-delta PARAGRAPH dedup (operators/paragraphs.py):

* epoch precedence: a delta paragraph already in the corpus store is
  dropped no matter how the ids compare (the store is a membership
  seen-set, not a winner registry);
* equality with the batch pipeline on the union when the corpus precedes
  the delta in (doc_id) order — the normal epoch layout;
* the scan contract: the delta plan reads ONLY the paragraph-hash store
  and the delta — corpus text is never rescanned, and the store scan is
  partition-pruned to the delta's touched hash buckets;
* store chaining: update_paragraph_store == rebuild from the union.
"""

from __future__ import annotations

import contextlib
import io
import json
import os

import pytest
from pyspark.sql import functions as F

from read_comp_data_pipeline_spark.operators.paragraphs import (
    build_paragraph_store,
    paragraph_dedup,
    paragraph_dedup_incremental,
    update_paragraph_store,
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _by_id(df):
    return {r["doc_id"]: r for r in df.collect()}


CHROME = "home | nav | about"
FOOT = "(c) corp"


def _corpus_and_delta(spark):
    corpus = _docs(
        spark,
        [
            (100, f"{CHROME}\nalpha body one\n{FOOT}"),
            (101, f"{CHROME}\nbeta body two\n{FOOT}"),
            (102, f"{CHROME}\nshared snippet\ngamma body\n{FOOT}"),
        ],
    )
    delta = _docs(
        spark,
        [
            (200, f"{CHROME}\nfresh delta text\n{FOOT}"),        # chrome dropped
            (201, f"{CHROME}\nshared snippet\n{FOOT}"),           # fully boilerplate
            (202, "fresh delta text\nsecond fresh line"),         # intra-delta dup of 200's line
            (203, None),                                          # NULL text
            (204, "   \n   "),                                    # space-only lines
        ],
    )
    return corpus, delta


def test_paragraph_incremental_matches_batch_when_corpus_precedes(spark, tmp_path):
    """Corpus ids all precede delta ids, so batch first-occurrence-wins on
    the union restricted to the delta docs IS the epoch semantics — the
    incremental path must reproduce it value-exactly."""
    corpus, delta = _corpus_and_delta(spark)
    store = str(tmp_path)
    build_paragraph_store(corpus, store)
    inc = _by_id(paragraph_dedup_incremental(delta, store))
    delta_ids = {r["doc_id"] for r in delta.collect()}
    batch = {
        k: v
        for k, v in _by_id(paragraph_dedup(corpus.unionByName(delta))).items()
        if k in delta_ids
    }
    assert set(inc) == set(batch)
    for k in batch:
        for c in ("n_paras", "n_kept", "cleaned_text"):
            assert inc[k][c] == batch[k][c], (k, c, inc[k][c], batch[k][c])
    # planted expectations: chrome + shared snippet die, fresh text lives
    assert inc[200]["cleaned_text"] == "fresh delta text"
    assert (inc[201]["n_paras"], inc[201]["n_kept"], inc[201]["cleaned_text"]) == (
        3, 0, ""
    )
    # 202's first line lost to 200 (first within the delta), second kept
    assert inc[202]["cleaned_text"] == "second fresh line"
    assert (inc[203]["n_paras"], inc[203]["cleaned_text"]) == (0, "")
    assert (inc[204]["n_paras"], inc[204]["cleaned_text"]) == (0, "")


def test_paragraph_incremental_epoch_precedence_overrides_id_order(spark, tmp_path):
    """A delta doc with a SMALLER id than the corpus owner still loses its
    stored paragraphs: the epoch order (corpus committed first) decides,
    not the id order — this is exactly where incremental deliberately
    diverges from batch-on-union."""
    corpus = _docs(spark, [(500, "stored line\nother stored")])
    delta = _docs(spark, [(1, "stored line\nbrand new line")])
    store = str(tmp_path)
    build_paragraph_store(corpus, store)
    inc = _by_id(paragraph_dedup_incremental(delta, store))
    assert inc[1]["cleaned_text"] == "brand new line"
    assert inc[1]["n_kept"] == 1
    # batch on the union would have kept "stored line" on doc 1 (id 1 < 500)
    batch = _by_id(paragraph_dedup(corpus.unionByName(delta)))
    assert batch[1]["n_kept"] == 2


def test_paragraph_incremental_plan_scans_store_not_corpus(spark, tmp_path):
    """The delta plan's file scans touch only the hash store and the delta
    parquet — the corpus documents file never appears — and the store scan
    carries a pb partition filter (bucket pruning on disk)."""
    corpus, delta = _corpus_and_delta(spark)
    root = str(tmp_path)
    corpus_path = os.path.join(root, "corpus_docs_DO_NOT_SCAN")
    delta_path = os.path.join(root, "delta_docs")
    store = os.path.join(root, "pstore")
    corpus.write.parquet(corpus_path)
    delta.write.parquet(delta_path)
    build_paragraph_store(spark.read.parquet(corpus_path), store)

    out = paragraph_dedup_incremental(spark.read.parquet(delta_path), store)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        out.explain("formatted")
    plan = buf.getvalue()
    assert "corpus_docs_DO_NOT_SCAN" not in plan
    assert "pstore" in plan  # the hash relation IS read
    pstore_scans = [
        seg for seg in plan.split("(")
        if "pstore" in seg and "PartitionFilters" in seg
    ]
    assert pstore_scans, "store scan must carry a pb partition filter"
    assert all("pb" in seg.split("PartitionFilters", 1)[1][:200]
               for seg in pstore_scans)


def test_paragraph_store_prunes_buckets_on_disk(spark, tmp_path):
    """A small delta touches few hash buckets; the membership join must
    read strictly fewer store files than exist (real partition pruning,
    asserted against files on disk via the touched-bucket filter)."""
    corpus = _docs(
        spark, [(i, "\n".join(f"corp {i} line {j}" for j in range(4))) for i in range(60)]
    )
    delta = _docs(spark, [(1000, "corp 7 line 2\nonly new line")])
    store = str(tmp_path)
    build_paragraph_store(corpus, store)
    all_files = {
        r["f"]
        for r in spark.read.parquet(f"{store}/hashes")
        .select(F.input_file_name().alias("f")).distinct().collect()
    }
    out = paragraph_dedup_incremental(delta, store)
    assert _by_id(out)[1000]["cleaned_text"] == "only new line"
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        out.explain("formatted")
    # count the store files surviving the partition filter by re-applying
    # the delta's touched-bucket predicate to the store relation
    from read_comp_data_pipeline_spark.operators.paragraphs import (
        _pb_expr,
        explode_paragraphs,
    )

    touched = {
        r["pb"]
        for r in explode_paragraphs(delta)
        .select(F.sha2(F.col("para"), 256).alias("h"))
        .withColumn("pb", _pb_expr())
        .select("pb").distinct().collect()
    }
    pruned_files = {
        r["f"]
        for r in spark.read.parquet(f"{store}/hashes")
        .where(F.col("pb").isin(list(touched)))
        .select(F.input_file_name().alias("f")).distinct().collect()
    }
    assert len(all_files) > 4, "corpus must spread over multiple buckets"
    assert pruned_files < all_files


def test_paragraph_store_update_equals_rebuild(spark, tmp_path):
    """store0 + delta folded in == store rebuilt from the union — the
    invariant that lets epochs chain forever."""
    corpus, delta = _corpus_and_delta(spark)
    root = str(tmp_path)
    s0, s1, sref = (os.path.join(root, x) for x in ("s0", "s1", "sref"))
    build_paragraph_store(corpus, s0)
    update_paragraph_store(delta, s0, s1)
    build_paragraph_store(corpus.unionByName(delta), sref)
    got = {tuple(r) for r in spark.read.parquet(f"{s1}/hashes").collect()}
    exp = {tuple(r) for r in spark.read.parquet(f"{sref}/hashes").collect()}
    assert got == exp
    # and a second epoch against the chained store behaves
    delta2 = _docs(spark, [(300, "fresh delta text\nepoch two line")])
    inc = _by_id(paragraph_dedup_incremental(delta2, s1))
    assert inc[300]["cleaned_text"] == "epoch two line"  # line 1 seen in epoch 1


def test_cli_para_store_delta_roundtrip(spark, tmp_path, capsys):
    """para-store → para-delta (--update-out) CLI chain: cleaned docs land
    at --out, the chained store equals a rebuild from the union."""
    from read_comp_data_pipeline_spark.__main__ import main

    corpus, delta = _corpus_and_delta(spark)
    cdir, ddir = str(tmp_path / "c"), str(tmp_path / "d")
    store, s1, out = (str(tmp_path / x) for x in ("s0", "s1", "out"))
    corpus.write.parquet(cdir)
    delta.write.parquet(ddir)
    assert main(["para-store", "--docs", cdir, "--store", store]) == 0
    assert main(["para-delta", "--docs", ddir, "--store", store,
                 "--out", out, "--update-out", s1]) == 0
    got = _by_id(spark.read.parquet(out))
    assert got[200]["cleaned_text"] == "fresh delta text"
    assert got[201]["n_kept"] == 0
    sref = str(tmp_path / "sref")
    build_paragraph_store(corpus.unionByName(delta), sref)
    assert (
        {tuple(r) for r in spark.read.parquet(f"{s1}/hashes").collect()}
        == {tuple(r) for r in spark.read.parquet(f"{sref}/hashes").collect()}
    )


def test_paragraph_store_meta_guard(spark, tmp_path):
    corpus, delta = _corpus_and_delta(spark)
    store = str(tmp_path)
    build_paragraph_store(corpus, store)
    with open(os.path.join(store, "_store_meta.json"), "w") as f:
        json.dump({"buckets": 8}, f)
    with pytest.raises(ValueError, match="buckets"):
        paragraph_dedup_incremental(delta, store).collect()
    with pytest.raises(ValueError, match="snapshot"):
        update_paragraph_store(delta, store, store)
