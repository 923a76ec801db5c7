"""Similarity search over embedding columns (array<float>).

Two paths, per the scale plan:

* brute-force cosine top-k — the exact baseline. Queries are broadcast
  (small side), candidates stream; the dot product is a JVM-side
  ``zip_with``/``aggregate`` fold (no Python). O(Q×N) but embarrassingly
  parallel and shuffle-free until the final per-query top-k.
* LSH-bucketed ANN — deterministic random-hyperplane signatures; only
  same-bucket (plus optional multi-probe) candidates are scored. The
  bucket join replaces the cross product: this is the 100 TB path.

An IVF variant would cluster first (KMeans) and probe nearest centroids;
the LSH version is preferred here because it is fully deterministic and
needs no training pass.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from read_comp_data_pipeline_spark.operators.store import (
    StoreKind,
    check_out_path,
    exact_groups,
    fold_delta,
    relabel_edges,
    relabel_ids,
)


def dot_expr(a: Column, b: Column) -> Column:
    """JVM-side dot product: fold over zip_with in doubles (element order —
    deterministic, matches DuckDB's list functions)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm_expr(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def cosine_expr(a: Column, b: Column) -> Column:
    return dot_expr(a, b) / (norm_expr(a) * norm_expr(b))


def brute_force_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k for each query vector.

    ``queries`` (few rows) is explicitly broadcast; the candidate scan never
    shuffles until the per-query top-k window (partitioned by query id —
    Q partitions, each holding N rows pre-filtered by nothing: for large N
    use :func:`lsh_ann_topk`).
    """
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
    )
    c = emb.select(F.col(id_col).alias("cand_id"), F.col(vec_col).alias("c_vec"))
    scored = (
        c.crossJoin(F.broadcast(q))
        .where(F.col("cand_id") != F.col("query_id"))
        .select(
            "query_id",
            "cand_id",
            F.round(cosine_expr(F.col("q_vec"), F.col("c_vec")), 6).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("cand_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "cand_id", "cosine", "rank")
    )


def _plane_component(plane: int, d: int) -> float:
    """Deterministic pseudo-random hyperplane component in [-1, 1]:
    (md5-hash('p:d') % 2001 - 1000)/1000. Computed driver-side (tiny,
    deterministic) so the per-row expression is a plain literal-array dot
    product instead of 64 hash expressions per plane."""
    import hashlib

    h = int(hashlib.md5(f"{plane}:{d}".encode()).hexdigest()[:15], 16)
    return (h % 2001 - 1000) / 1000.0


def _hyperplane_sign(vec: Column, plane: int, dim: int) -> Column:
    comps = F.array(*[F.lit(_plane_component(plane, d)) for d in range(dim)])
    return (dot_expr(vec, comps) >= 0).cast("int")


def lsh_signature(vec: Column, n_planes: int, dim: int) -> Column:
    sig = None
    for p in range(n_planes):
        term = _hyperplane_sign(vec, p, dim) * F.lit(2 ** p)
        sig = term if sig is None else sig + term
    return sig.cast("int")


def lsh_ann_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_planes: int = 8,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: score only candidates in the query's LSH bucket.

    With n_planes=8 a uniform corpus splits ~256-way → ~N/256 scored per
    query instead of N. Multi-probe (flip one bit) widens recall: all
    (n_planes+1) probe buckets per query are unioned before the join.
    """
    c = emb.select(
        F.col(id_col).alias("cand_id"),
        F.col(vec_col).alias("c_vec"),
        lsh_signature(F.col(vec_col), n_planes, dim).alias("bucket"),
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        lsh_signature(F.col(vec_col), n_planes, dim).alias("sig"),
    )
    probes = q.select(
        "query_id", "q_vec",
        F.explode(
            F.array(F.col("sig"), *[
                F.col("sig").bitwiseXOR(F.lit(2 ** p)) for p in range(n_planes)
            ])
        ).alias("bucket"),
    )
    scored = (
        c.join(F.broadcast(probes), on="bucket")
        .where(F.col("cand_id") != F.col("query_id"))
        .select(
            "query_id", "cand_id",
            F.round(cosine_expr(F.col("q_vec"), F.col("c_vec")), 6).alias("cosine"),
        )
        .dropDuplicates(["query_id", "cand_id"])
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("cand_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "cand_id", "cosine", "rank")
    )


def _plane_sql(p: int, dim: int) -> str:
    """The plane's literal component array, rendered for DuckDB."""
    return "[" + ", ".join(repr(_plane_component(p, d)) for d in range(dim)) + "]::DOUBLE[]"


def lsh_sig_sql(vexpr: str, n_planes: int, dim: int) -> str:
    """DuckDB rendering of :func:`lsh_signature` over ``vexpr`` — exact,
    because the hyperplanes are deterministic literals embedded verbatim."""

    def dot_lit(p: int) -> str:
        return (
            f"list_aggregate(list_transform(list_zip({vexpr}, {_plane_sql(p, dim)}),"
            " x -> x[1] * x[2]), 'sum')"
        )

    return " + ".join(
        f"(CASE WHEN ({dot_lit(p)}) >= 0 THEN {2 ** p} ELSE 0 END)"
        for p in range(n_planes)
    )


_DOT_SQL = "list_aggregate(list_transform(list_zip({a}, {b}), x -> x[1] * x[2]), 'sum')"
_NRM_SQL = "sqrt(list_aggregate(list_transform({a}, x -> x * x), 'sum'))"


def cosine_sql(a: str, b: str) -> str:
    return (
        f"({_DOT_SQL.format(a=a, b=b)}) / "
        f"(({_NRM_SQL.format(a=a)}) * ({_NRM_SQL.format(a=b)}))"
    )


def lsh_oracle_sql(
    k: int = 5,
    n_planes: int = 8,
    dim: int = 64,
    n_queries: int = 8,
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> str:
    """Exact DuckDB rendering of :func:`lsh_ann_topk`.

    Possible because the hyperplanes are deterministic literals
    (:func:`_plane_component`): the same constant arrays are embedded in
    the SQL, so signature bits, multi-probe buckets, candidate sets, and
    rounded cosines replicate the Spark plan bit-for-bit — a full value
    oracle for an ANN operator, not just a recall verdict."""

    def sig(vexpr: str) -> str:
        return lsh_sig_sql(vexpr, n_planes, dim)

    cos = cosine_sql("qv", "cv")
    probes = "[sig, " + ", ".join(f"xor(sig, {2 ** p})" for p in range(n_planes)) + "]"
    v = f"CAST({vec_col} AS DOUBLE[])"
    return f"""
    WITH c AS (
      SELECT {id_col} AS cand_id, {v} AS cv, ({sig(v)}) AS bucket FROM {table}
    ),
    q AS (
      SELECT {id_col} AS query_id, {v} AS qv, ({sig(v)}) AS sig
      FROM {table} WHERE {id_col} < {n_queries}
    ),
    probes AS (SELECT query_id, qv, unnest({probes}) AS bucket FROM q),
    scored AS (
      SELECT DISTINCT p.query_id, c.cand_id, round({cos}, 6) AS cosine
      FROM c JOIN probes p ON c.bucket = p.bucket
      WHERE c.cand_id <> p.query_id
    )
    SELECT query_id, cand_id, cosine, rank FROM (
      SELECT *, CAST(row_number() OVER (PARTITION BY query_id
                                        ORDER BY cosine DESC, cand_id) AS INT) AS rank
      FROM scored
    ) WHERE rank <= {k}
    """


def ivf_ann_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_centroids: int = 16,
    n_probe: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF (inverted-file) ANN: KMeans-partition the corpus, score only
    candidates in the query's ``n_probe`` nearest cells.

    The trained-centroid counterpart to :func:`lsh_ann_topk`: better
    recall/selectivity on clustered data, at the cost of a training pass.
    Centroids (n_centroids × dim floats) are broadcast as literals; the
    candidate join is keyed on the cell id — at scale the corpus is
    written bucketed by cell so probes are partition-pruned scans.

    Probe cells are ranked by squared L2 distance — the SAME metric KMeans
    assigns candidates with. Ranking probes by raw dot product (pre-r3)
    systematically missed the cells near-boundary candidates actually land
    in: recall@5 on the synthetic corpus was 0.70-0.78; metric-matched
    ranking at n_probe=8 measures 0.90 (sf0.01) / 0.925 (sf0.1).
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    data = emb.withColumn("_feat", array_to_vector(F.col(vec_col).cast("array<double>")))
    model = KMeans(k=n_centroids, seed=42, featuresCol="_feat", predictionCol="_cell").fit(data)
    assigned = model.transform(data).select(
        F.col(id_col).alias("cand_id"), F.col(vec_col).alias("c_vec"), F.col("_cell").alias("cell")
    )

    # per-query n_probe nearest centroids, relationally (centroids are tiny
    # literals — no driver round-trip for the query vectors)
    cents = F.array(*[
        F.struct(
            F.lit(i).alias("cell"),
            F.array(*[F.lit(float(x)) for x in c]).alias("cvec"),
        )
        for i, c in enumerate(model.clusterCenters())
    ])
    l2sq = F.aggregate(
        F.zip_with(
            F.col("q_vec"), F.col("c.cvec"),
            lambda x, y: (x.cast("double") - y) * (x.cast("double") - y),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec"))
    q_cells = (
        q.select("query_id", "q_vec", F.explode(cents).alias("c"))
        .select(
            "query_id", "q_vec", F.col("c.cell").alias("cell"),
            l2sq.alias("_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("_sim").asc(), F.col("cell"))
    probes = (
        q_cells.withColumn("_r", F.row_number().over(w))
        .where(F.col("_r") <= n_probe)
        .select("query_id", "q_vec", "cell")
    )
    scored = (
        assigned.join(F.broadcast(probes), on="cell")
        .where(F.col("cand_id") != F.col("query_id"))
        .select(
            "query_id", "cand_id",
            F.round(cosine_expr(F.col("q_vec"), F.col("c_vec")), 6).alias("cosine"),
        )
    )
    wk = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("cand_id"))
    return (
        scored.withColumn("rank", F.row_number().over(wk))
        .where(F.col("rank") <= k)
        .select("query_id", "cand_id", "cosine", "rank")
    )


def embedding_near_dup_lsh(
    emb: DataFrame,
    threshold: float = 0.30,
    n_planes: int = 6,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    collapse: bool = True,
    bucket_cap: int | None = None,
    observation=None,
) -> DataFrame:
    """Embedding near-dup pairs blocked by LSH bucket — the 100 TB path
    :func:`embedding_near_dup_pairs` documents: the self-join shuffles on
    the signature only, so candidate volume is Σ bucket² instead of N².
    Deterministic (literal hyperplanes) → exact DuckDB oracle via
    :func:`emb_near_dup_lsh_sql`. Near-dups differing on a plane side are
    missed by design — the standard LSH recall trade.

    ``collapse=True`` (default) is the duplicate-cluster hot-bucket guard:
    byte-identical vectors (which agree on every plane and would make the
    bucket self-join quadratic in copy count) collapse to one keeper
    (min id) before bucketing; output unions the rep-level near-dup pairs
    with (keeper → member, cosine = 1.0) star edges — linear per cluster,
    same connected components.

    ``bucket_cap``/``observation``: secondary guard for clusters of
    distinct-but-near-identical vectors that agree on every plane (same
    contract as dedup.lsh_bucket_pairs): each bucket keeps only the
    ``bucket_cap`` smallest ids; dropped-row count reports as
    ``capped_drop_rows`` on the Observation.
    """
    if collapse:
        grp = emb.groupBy(F.col(vec_col).alias("v")).agg(
            F.min(id_col).alias("keeper_id")
        )
        reps = grp.select(F.col("keeper_id").alias(id_col), F.col("v").alias(vec_col))
        exact_edges = (
            emb.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
            .join(grp, on="v")
            .where(F.col("id") != F.col("keeper_id"))
            .select(
                F.col("keeper_id").alias("id_a"),
                F.col("id").alias("id_b"),
                F.lit(1.0).alias("cosine"),
            )
        )
        core = embedding_near_dup_lsh(
            reps, threshold, n_planes, dim, id_col, vec_col, collapse=False,
            bucket_cap=bucket_cap, observation=observation,
        )
        return core.unionByName(exact_edges)
    sig = lsh_signature(F.col(vec_col), n_planes, dim)
    bucketed = emb.select(
        F.col(id_col).alias("_id"), F.col(vec_col).alias("_v"), sig.alias("bucket")
    )
    if bucket_cap is not None:
        w = Window.partitionBy("bucket").orderBy("_id")
        ranked = bucketed.withColumn("_rn", F.row_number().over(w))
        if observation is not None:
            ranked = ranked.observe(
                observation,
                F.sum((F.col("_rn") > bucket_cap).cast("long")).alias("capped_drop_rows"),
            )
        bucketed = ranked.where(F.col("_rn") <= bucket_cap).drop("_rn")
    a = bucketed.select(
        F.col("_id").alias("id_a"), F.col("_v").alias("v_a"), "bucket"
    )
    b = bucketed.select(
        F.col("_id").alias("id_b"), F.col("_v").alias("v_b"), "bucket"
    )
    return (
        a.join(b, on="bucket")
        .where(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a", "id_b",
            F.round(cosine_expr(F.col("v_a"), F.col("v_b")), 6).alias("cosine"),
        )
        .where(F.col("cosine") >= threshold)
    )


def emb_near_dup_lsh_sql(
    threshold: float = 0.30,
    n_planes: int = 6,
    dim: int = 64,
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    collapse: bool = True,
) -> str:
    """Exact DuckDB rendering of :func:`embedding_near_dup_lsh`
    (including the identical-vector collapse guard when ``collapse``)."""
    v = f"CAST({vec_col} AS DOUBLE[])"
    if not collapse:
        return f"""
        WITH e AS (
          SELECT {id_col} AS id, {v} AS v, ({lsh_sig_sql(v, n_planes, dim)}) AS bucket
          FROM {table}
        )
        SELECT a.id AS id_a, b.id AS id_b, round({cosine_sql('a.v', 'b.v')}, 6) AS cosine
        FROM e a JOIN e b ON a.bucket = b.bucket AND a.id < b.id
        WHERE round({cosine_sql('a.v', 'b.v')}, 6) >= {threshold}
        """
    return f"""
    WITH raw AS (SELECT {id_col} AS id, {v} AS v FROM {table}),
    grp AS (SELECT v, min(id) AS keeper_id FROM raw GROUP BY v),
    e AS (
      SELECT keeper_id AS id, v, ({lsh_sig_sql('v', n_planes, dim)}) AS bucket
      FROM grp
    )
    SELECT a.id AS id_a, b.id AS id_b, round({cosine_sql('a.v', 'b.v')}, 6) AS cosine
    FROM e a JOIN e b ON a.bucket = b.bucket AND a.id < b.id
    WHERE round({cosine_sql('a.v', 'b.v')}, 6) >= {threshold}
    UNION ALL
    SELECT g.keeper_id AS id_a, r.id AS id_b, 1.0 AS cosine
    FROM raw r JOIN grp g ON r.v = g.v
    WHERE r.id <> g.keeper_id
    """


def embedding_near_dup_pairs(
    emb: DataFrame,
    threshold: float = 0.99,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_col: str | None = "label",
) -> DataFrame:
    """Embedding-cosine near-dup pairs, blocked to avoid the full cross
    product (block on ``label`` here; at scale the block key is an LSH
    bucket — see lsh_signature)."""
    a = emb.select(
        F.col(id_col).alias("id_a"), F.col(vec_col).alias("v_a"),
        *( [F.col(block_col).alias("blk")] if block_col else [] ),
    )
    b = emb.select(
        F.col(id_col).alias("id_b"), F.col(vec_col).alias("v_b"),
        *( [F.col(block_col).alias("blk")] if block_col else [] ),
    )
    joined = a.join(b, on="blk") if block_col else a.crossJoin(b)
    return (
        joined.where(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a", "id_b",
            F.round(cosine_expr(F.col("v_a"), F.col("v_b")), 6).alias("cosine"),
        )
        .where(F.col("cosine") >= threshold)
    )


# ═══════════════════════════════════════════════════════════════════════════
# incremental (corpus-vs-delta) embedding near-dup — the third leg of the
# incremental trio (minhash: dedup.build_signature_store; paragraphs:
# paragraphs.build_paragraph_store). Reference analogue: the crawl's
# persisted seen-set makes per-page work independent of corpus size
# (/root/reference/search_scrape.py:330).
# ═══════════════════════════════════════════════════════════════════════════

_EMB_STORE_BUCKETS = 16
_EMB = StoreKind("embedding", _EMB_STORE_BUCKETS, (("reps", "ek"),))


def _vec_hash(vec: Column) -> Column:
    """Deterministic content hash of a vector (exact-duplicate identity —
    same values ⇒ same hash on both the store-build and the delta side,
    both Spark-computed). Faithful to the batch pipeline's groupBy on the
    raw array: full double precision (no float truncation that would merge
    sub-float-distinct vectors) and NULL elements keep their position via
    a sentinel no numeric string can collide with (concat_ws alone would
    silently DROP nulls, hashing [1,null,2] and [1,2,null] identically)."""
    return F.md5(
        F.concat_ws(
            ",",
            F.transform(
                vec,
                lambda x: F.coalesce(x.cast("double").cast("string"), F.lit("∅")),
            ),
        )
    )


def _ek_expr():
    """Store partition key for the reps relation: bucket-hash bucket, so a
    delta pass statically prunes store files to the buckets it touches."""
    return F.pmod(F.xxhash64(F.col("bucket")), F.lit(_EMB_STORE_BUCKETS)).cast("int")


def build_embedding_store(
    emb: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 6,
    dim: int = 64,
    threshold: float = 0.30,
) -> None:
    """Persist the embedding near-dup store for a corpus: everything
    :func:`incremental_embedding_near_dups` needs to process a NEW epoch's
    vectors with work proportional to the delta. Four thin relations:

    * ``groups``      (vec_hash, keeper_id)     — exact-vector seen-set
    * ``exact_edges`` (vec_hash, id_a, id_b)    — keeper→member stars
    * ``reps``        (id, vec, bucket, ek)     — representatives' vectors
      + LSH signature, PARTITIONED by bucket-hash ``ek`` (the delta's
      candidate join prunes store files to its own bucket set); unlike
      minhash there is ONE bucket per vector, and the rep's vector doubles
      as the verification payload — no separate shingle relation
    * ``edges``       (id_a, id_b, cosine)      — known rep-rep near-dups

    ``n_planes``, ``dim`` and ``threshold`` are recorded in the store's
    meta (:mod:`.store`); the delta-side calls read them from there.
    """
    d = emb.select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("vec"),
        _vec_hash(F.col(vec_col)).alias("vec_hash"),
    )
    # thin (hash, keeper) relation feeds three consumers — checkpointed
    # once instead of re-running the scan + vector-hash + aggregate each
    grp, exact = exact_groups(d, "vec_hash")
    reps = (
        d.join(
            grp.select("vec_hash", F.col("keeper_id").alias("id")),
            on=["vec_hash", "id"], how="left_semi",
        )
        .select("id", "vec")
        .withColumn("bucket", lsh_signature(F.col("vec"), n_planes, dim))
    )
    _EMB.write_meta(path, n_planes=n_planes, dim=dim, threshold=threshold)
    # groups / exact / reps depend only on the checkpointed grp —
    # independent, written concurrently
    _EMB.write(path, groups=grp, exact_edges=exact, reps=reps.withColumn("ek", _ek_expr()))
    # known rep-rep edges from the JUST-WRITTEN reps relation — its stored
    # `bucket` IS the deterministic lsh_signature, so the edge pass reads
    # thin parquet instead of re-running collapse + signature
    reps_r = emb.sparkSession.read.parquet(f"{path}/reps")
    _EMB.write(path, edges=_bucket_self_edges(reps_r, threshold))


def _bucket_self_edges(reps: DataFrame, threshold: float) -> DataFrame:
    """Verified near-dup pairs from an (id, vec, bucket) relation by bucket
    self-join — the collapse=False LSH pass with the signature already
    materialized (identical output: the bucket column is the deterministic
    lsh_signature of the vector)."""
    a = reps.select(F.col("id").alias("id_a"), F.col("vec").alias("v_a"), "bucket")
    b = reps.select(F.col("id").alias("id_b"), F.col("vec").alias("v_b"), "bucket")
    return (
        a.join(b, on="bucket")
        .where(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a", "id_b",
            F.round(cosine_expr(F.col("v_a"), F.col("v_b")), 6).alias("cosine"),
        )
        .where(F.col("cosine") >= threshold)
    )


def _emb_incremental_state(
    delta: DataFrame, store_path: str, id_col: str, vec_col: str
) -> dict[str, DataFrame]:
    """Shared machinery for :func:`incremental_embedding_near_dups` (needs
    ``out``) and :func:`update_embedding_store` (needs the relations).
    Same contract as dedup._incremental_state: value-exact equality with
    the batch pipeline on the union, work proportional to the delta, and
    the LSH parameters and threshold read from the store's meta — the
    persisted edges hold only pairs at or above the build threshold."""
    p = _EMB.params(store_path)
    n_planes, dim, threshold = p["n_planes"], p["dim"], p["threshold"]

    spark = delta.sparkSession
    groups_s = spark.read.parquet(f"{store_path}/groups")
    exact_s = spark.read.parquet(f"{store_path}/exact_edges")
    reps_s = spark.read.parquet(f"{store_path}/reps")
    edges_s = spark.read.parquet(f"{store_path}/edges")

    d = delta.select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("vec"),
        _vec_hash(F.col(vec_col)).alias("vec_hash"),
    )
    fold = fold_delta(d, groups_s, exact_s, "vec_hash")
    relabel = fold["relabel"]

    # ── new vectors: bucket the delta's new reps, verify ────────────────
    new_reps = (
        fold["new_rows"].select("vec_hash", "id", "vec")
        .withColumn("bucket", lsh_signature(F.col("vec"), n_planes, dim))
        .localCheckpoint(eager=True)
    )
    # static partition pruning on the store's reps files: the delta's own
    # bucket-hash set is bounded by _EMB_STORE_BUCKETS (same pattern as
    # dedup's bk pruning — static beats DPP because the broadcast delta
    # side carries no selective predicate)
    eks = [r["ek"] for r in new_reps.select(_ek_expr().alias("ek")).distinct().collect()]
    reps_pruned = reps_s.where(F.col("ek").isin(eks) if eks else F.lit(False))
    cross_edges = (
        new_reps.alias("dl").join(reps_pruned.alias("st"), on="bucket")
        # batch's self-join filters a.id < b.id and can never emit a
        # self-pair; without this guard, a delta row REUSING a corpus
        # vec_id with a changed vector (new vec_hash, old id) would emit
        # (X, X, cosine) here
        .where(F.col("dl.id") != F.col("st.id"))
        .select(
            F.least(F.col("dl.id"), F.col("st.id")).alias("id_a"),
            F.greatest(F.col("dl.id"), F.col("st.id")).alias("id_b"),
            F.round(cosine_expr(F.col("dl.vec"), F.col("st.vec")), 6).alias("cosine"),
        )
        .where(F.col("cosine") >= threshold)
    )
    # within-delta pairs reuse the checkpointed new_reps' bucket column
    # (identical to re-deriving the signature; one less interpreted
    # lsh_signature pass over the delta)
    within_edges = _bucket_self_edges(
        new_reps.select("id", "vec", "bucket"), threshold
    )
    near_new = cross_edges.unionByName(within_edges)

    near_all = relabel_edges(edges_s.unionByName(near_new), relabel, "cosine")
    out = near_all.unionByName(
        fold["exact_edges"].select("id_a", "id_b", F.lit(1.0).alias("cosine"))
    )
    return {
        "out": out,
        "groups": fold["groups"],
        "exact_edges": fold["exact_edges"],
        "reps": relabel_ids(reps_s.select("id", "vec", "bucket"), relabel).unionByName(
            new_reps.select("id", "vec", "bucket")
        ),
        "edges": near_all,
        "_reps_scan": reps_pruned,  # introspection (tests assert pruning)
    }


def incremental_embedding_near_dups(
    delta: DataFrame,
    store_path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding near-dup edge set of (corpus ∪ delta), computed by
    bucketing ONLY the delta against a persisted
    :func:`build_embedding_store` — value-exact equal to
    :func:`embedding_near_dup_lsh` on the full union at the store's build
    parameters (collapse semantics included), while signature/cosine work
    is proportional to the delta; the corpus's vectors are read only from
    the store's pruned candidate buckets, never rescanned wholesale."""
    return _emb_incremental_state(delta, store_path, id_col, vec_col)["out"]


def update_embedding_store(
    delta: DataFrame,
    store_path: str,
    out_path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Fold a processed delta INTO the embedding store, producing the store
    of (corpus ∪ delta) at ``out_path`` with the same build parameters —
    chains epoch over epoch; identical to rebuilding from the union
    (tested), but only delta rows are computed fresh."""
    check_out_path(store_path, out_path)
    st = _emb_incremental_state(delta, store_path, id_col, vec_col)
    _EMB.write_meta(out_path, **_EMB.params(store_path))
    _EMB.write(
        out_path,
        groups=st["groups"],
        exact_edges=st["exact_edges"],
        reps=st["reps"].withColumn("ek", _ek_expr()),
        edges=st["edges"],
    )
