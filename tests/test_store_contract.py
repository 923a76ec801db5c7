"""The contract the three persisted corpus stores share
(operators/store.py):

* the store is the one source of its build parameters: a store built with
  non-default parameters, queried and folded with none, gives the batch
  answer on the union at the build parameters, and the folded store
  equals the store rebuilt from the union, meta included;
* a store the code did not write for that kind and bucket count (no meta
  file, another kind, another bucket count) is refused, and an ``update_*``
  fold never overwrites the store it reads;
* the registered store queries remove their scratch directories when the
  process exits.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

from read_comp_data_pipeline_spark.operators import dedup, paragraphs, similarity
from read_comp_data_pipeline_spark.operators.store import _META

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _words(seed: str, n: int = 30) -> str:
    return " ".join(f"{seed}{i}" for i in range(n))


def _rows(df) -> list[str]:
    return sorted(str(tuple(r)) for r in df.collect())


def _signature(spark):
    params = dict(n=3, k=12, bands=3, threshold=0.5)
    A, B = _words("a"), _words("b")
    schema = "doc_id long, text string"
    corpus = spark.createDataFrame([(100, A), (101, A), (102, B)], schema)
    delta = spark.createDataFrame(
        [(50, A), (200, B.replace("b17", "x")), (201, _words("c")), (202, _words("c"))],
        schema,
    )

    def batch(union):
        return _rows(dedup.minhash_near_dups(union, **params).selectExpr(
            "id_a", "id_b", "round(jaccard, 9)"))

    return dict(
        corpus=corpus, delta=delta, params=params,
        relations=["groups", "exact_edges", "bands", "shingles", "edges"],
        build=lambda df, p: dedup.build_signature_store(df, p, **params),
        query=lambda df, p: _rows(dedup.incremental_near_dups(df, p).selectExpr(
            "id_a", "id_b", "round(jaccard, 9)")),
        fold=dedup.update_signature_store,
        batch=lambda c, d: batch(c.unionByName(d)),
    )


def _embedding(spark):
    params = dict(n_planes=4, dim=4, threshold=0.8)
    A, B = [0.5, -0.25, 0.75, 0.1], [-0.6, 0.3, 0.2, -0.9]
    schema = "vec_id long, embedding array<double>"
    corpus = spark.createDataFrame([(100, A), (101, A), (102, B)], schema)
    delta = spark.createDataFrame(
        [(50, A), (200, [-0.61, 0.3, 0.2, -0.9]), (201, [0.9, 0.9, -0.1, 0.3])], schema
    )

    def edges(df):
        return _rows(df.selectExpr("id_a", "id_b", "round(cosine, 6)"))

    return dict(
        corpus=corpus, delta=delta, params=params,
        relations=["groups", "exact_edges", "reps", "edges"],
        build=lambda df, p: similarity.build_embedding_store(df, p, **params),
        query=lambda df, p: edges(similarity.incremental_embedding_near_dups(df, p)),
        fold=similarity.update_embedding_store,
        batch=lambda c, d: edges(
            similarity.embedding_near_dup_lsh(c.unionByName(d), **params)),
    )


def _paragraph(spark):
    schema = "doc_id long, text string"
    corpus = spark.createDataFrame(
        [(1, "nav\nbody one\nfooter"), (2, "nav\nbody two")], schema
    )
    delta = spark.createDataFrame(
        [(10, "nav\nfresh\nfooter"), (11, "fresh\nlast")], schema
    )

    def batch(c, d):
        # the corpus precedes the delta in (doc_id, pos) order, so batch on
        # the union restricted to the delta's documents is the epoch answer
        out = paragraphs.paragraph_dedup(c.unionByName(d))
        return _rows(out.join(d.select("doc_id"), on="doc_id", how="left_semi"))

    return dict(
        corpus=corpus, delta=delta, params={},
        relations=["hashes"],
        build=paragraphs.build_paragraph_store,
        query=lambda df, p: _rows(paragraphs.paragraph_dedup_incremental(df, p)),
        fold=paragraphs.update_paragraph_store,
        batch=batch,
    )


KINDS = {"signature": _signature, "embedding": _embedding, "paragraph": _paragraph}
BUCKETS = {"signature": 16, "embedding": 16, "paragraph": 64}  # on-disk layout


def _meta(path: str) -> dict:
    with open(os.path.join(path, _META)) as f:
        return json.load(f)


def _put_meta(path: str, meta: dict | None) -> None:
    if meta is None:
        os.remove(os.path.join(path, _META))
        return
    with open(os.path.join(path, _META), "w") as f:
        json.dump(meta, f)


@pytest.mark.parametrize("kind", sorted(KINDS))
def test_store_contract(spark, tmp_path, kind):
    case = KINDS[kind](spark)
    corpus, delta = case["corpus"], case["delta"]
    s0, s1, sref = (str(tmp_path / x) for x in ("s0", "s1", "sref"))
    case["build"](corpus, s0)
    meta = _meta(s0)
    assert meta == {"kind": kind, "buckets": BUCKETS[kind], **case["params"]}

    # queried and folded with no parameters: the store's own are used
    assert case["query"](delta, s0) == case["batch"](corpus, delta)
    case["fold"](delta, s0, s1)
    case["build"](corpus.unionByName(delta), sref)
    assert _meta(s1) == _meta(sref) == meta
    for rel in case["relations"]:
        assert _rows(spark.read.parquet(f"{s1}/{rel}")) == _rows(
            spark.read.parquet(f"{sref}/{rel}")
        ), f"{kind}: relation {rel} diverged"

    # an update never overwrites the store it reads
    with pytest.raises(ValueError, match="must differ"):
        case["fold"](delta, s0, s0)

    # refused: no meta file, another kind, another bucket count
    other = next(k for k in KINDS if k != kind)
    for bad, match in [
        (None, "rebuild"),
        ({**meta, "kind": other}, "was built with kind/buckets"),
        ({**meta, "buckets": meta["buckets"] * 2}, "was built with kind/buckets"),
    ]:
        _put_meta(s0, bad)
        with pytest.raises(ValueError, match=match):
            case["query"](delta, s0)
        with pytest.raises(ValueError, match=match):
            case["fold"](delta, s0, str(tmp_path / "s2"))


def test_store_query_scratch_dirs_removed_at_exit(tmp_path, sf_dir):
    """A store query's DataFrame is lazy, so its store directory must live
    until the process exits, and no longer."""
    tmp = tmp_path / "tmp"
    tmp.mkdir()
    script = (
        "import os, sys, tempfile\n"
        "import __spark_entry__ as em\n"
        "from read_comp_data_pipeline_spark.session import get_spark\n"
        "spark = get_spark('scratch', master='local[2]', shuffle_partitions=2)\n"
        "em.queries()['paragraph_dedup_incremental'](spark, sys.argv[1]).count()\n"
        "print(sorted(os.listdir(tempfile.gettempdir())))\n"
    )
    env = {**os.environ, "TMPDIR": str(tmp), "SPARK_GRAFT_DRIVER_MEM": "1g"}
    proc = subprocess.run(
        [sys.executable, "-c", script, sf_dir],
        capture_output=True, text=True, timeout=300, cwd=REPO, env=env,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    while_running = proc.stdout.strip().splitlines()[-1]
    assert "pstore_q_" in while_running
    assert not [d for d in os.listdir(tmp) if d.startswith("pstore_q_")]
