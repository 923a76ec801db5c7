"""Deduplication operators for large-scale training-data pipelines.

The reference deduplicates with an in-driver seen-set (exact key identity,
``/root/reference/search_scrape.py:330-337``). At 100 TB the engine needs
content-level dedup families, each shuffle-conscious:

* exact          — hash-groupBy on md5(text); map-side combinable.
* minhash + LSH  — shingle → k minhashes → banded signatures → bucket join;
                   candidate verification by exact Jaccard. Pair generation
                   is bounded per bucket (no all-pairs blowup).
* simhash        — 64-bit sign-sum fingerprint; near-dups share a bucket
                   (hamming-k search via bit-block banding).
* n-gram Jaccard — exact verification used on LSH candidates.
* embedding cosine — see operators/similarity.py.

Everything is Column-expression only (no UDFs) so DuckDB oracles can
replicate it bit-for-bit via the portable hash (functions/hashing.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from read_comp_data_pipeline_spark.functions.hashing import phash, phash_sql
from read_comp_data_pipeline_spark.operators.store import (
    StoreKind,
    check_out_path,
    exact_groups,
    fold_delta,
    relabel_edges,
    relabel_ids,
)


def exact_dedup_groups(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Group identical texts: (content_hash, keeper_id = min id, dup_count).

    One hash-aggregate; partial agg makes it skew-safe even if one document
    is duplicated millions of times.
    """
    return (
        df.groupBy(F.md5(F.col(text_col)).alias("content_hash"))
        .agg(
            F.min(id_col).alias("keeper_id"),
            F.count("*").alias("dup_count"),
        )
    )


def duplicate_ngram_spans(
    df: DataFrame,
    n: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_count: int = 2,
) -> DataFrame:
    """Exact substring-level duplicate detection (the Lee et al. 2022
    "Deduplicating Training Data" shape, word-granular): per document, how
    many of its n-token spans occur ≥ ``min_count`` times in the whole
    corpus. Unlike document-level dedup (exact/minhash/simhash above),
    this catches boilerplate shared by otherwise-distinct documents —
    licence headers, navigation chrome, templated intros.

    Output: (doc_id, n_spans, n_dup_spans, dup_span_fraction) for every
    document with ≥ 1 span (≥ n tokens).

    Scale shape: spans explode ONCE and immediately aggregate to
    ((doc, gram-hash) → occurrences) — map-side combinable, so a
    10^8-occurrence boilerplate gram partial-counts per partition (no hot
    reducer) and everything downstream (corpus gram totals, the dup-mark
    join, the per-doc rollup) flows from that compacted relation. Grams
    shuffle as 64-bit xxhash64 values, never as n-token strings (a
    2^-64-per-pair collision merging two distinct grams is the accepted
    trade — the same one the minhash family makes). Per-doc span totals
    come from size() on the gram array: zero extra shuffle. Suffix
    automata don't distribute; this does.
    """
    toks = tokens_expr(text_col)
    # two-projection shape: tokens materialized first so the split regex
    # never re-runs inside the interpreted transform (see _gram_array);
    # the CASE WHEN guard keeps the gram expression TOTAL (an unguarded
    # sequence(0, size-n) would crash on <n-token docs)
    base = (
        df.select(F.col(id_col).alias("id"), toks.alias("_toks"))
        .where(F.size("_toks") >= n)
        .select("id", _gram_array("_toks", n).alias("_grams"))
    )
    # per_doc_gram feeds BOTH the corpus gram totals and the per-doc dup
    # rollup; without truncation the whole scan + gram build + explode +
    # aggregate subtree executes twice (the two consumers differ by an
    # inferred IsNotNull, so exchange reuse never fires — r6 plan nodes
    # 4-12 vs 13-21). The checkpointed relation is the already-compacted
    # (doc, gram-hash, count) set — the exact bytes both downstream
    # shuffles move anyway, never the gram strings.
    per_doc_gram = (
        base.select("id", F.explode("_grams").alias("gram"))
        .where(F.col("gram") != "")
        .groupBy("id", F.xxhash64("gram").alias("_g"))
        .agg(F.count("*").alias("_c"))
        .localCheckpoint(eager=True)
    )
    dup = (
        per_doc_gram.groupBy("_g")
        .agg(F.sum("_c").alias("_tc"))
        .where(F.col("_tc") >= min_count)
        .select("_g")
    )
    dup_per_doc = per_doc_gram.join(dup, on="_g").groupBy("id").agg(
        F.sum("_c").alias("n_dup_spans")
    )
    # size(transform(sequence(0, size-n), ...)) ≡ size(toks) - n + 1 for
    # every row the filter keeps — same count, zero gram construction
    totals = df.where(F.size(toks) >= n).select(
        F.col(id_col).alias("id"),
        (F.size(toks) - F.lit(n - 1)).cast("long").alias("n_spans"),
    )
    out = totals.join(dup_per_doc, on="id", how="left")
    n_dup = F.coalesce(F.col("n_dup_spans"), F.lit(0)).cast("long")
    return out.select(
        F.col("id").alias(id_col),
        F.col("n_spans").cast("long").alias("n_spans"),
        n_dup.alias("n_dup_spans"),
        F.round(n_dup.cast("double") / F.col("n_spans"), 6).alias(
            "dup_span_fraction"
        ),
    )


def duplicate_ngram_spans_sql(
    n: int = 8, min_count: int = 2, table: str = "documents"
) -> str:
    """DuckDB mirror of :func:`duplicate_ngram_spans` (same lead-window
    gram construction as contamination._shingle_cte_sql, kept NON-distinct
    so every occurrence counts)."""
    leads = " || ' ' || ".join(
        ["tok"] + [f"lead(tok, {i}) OVER w" for i in range(1, n)]
    )
    return rf"""
    WITH toks AS (
      SELECT doc_id AS id,
             unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS tok,
             unnest(generate_series(1, len(regexp_split_to_array(lower(trim(text)), '\s+')))) AS pos
      FROM {table}
    ),
    grams AS (
      SELECT id, {leads} AS gram, lead(tok, {n - 1}) OVER w AS t_last
      FROM toks WHERE tok <> ''
      WINDOW w AS (PARTITION BY id ORDER BY pos)
    ),
    spans AS (SELECT id, gram FROM grams WHERE t_last IS NOT NULL),
    dup AS (SELECT gram FROM spans GROUP BY gram HAVING count(*) >= {min_count}),
    cnt AS (
      SELECT s.id, count(*) AS n_dup
      FROM spans s JOIN dup USING (gram) GROUP BY s.id
    ),
    tot AS (SELECT id, count(*) AS n_spans FROM spans GROUP BY id)
    SELECT t.id AS doc_id,
           CAST(t.n_spans AS BIGINT) AS n_spans,
           CAST(coalesce(c.n_dup, 0) AS BIGINT) AS n_dup_spans,
           round(CAST(coalesce(c.n_dup, 0) AS DOUBLE) / t.n_spans, 6)
             AS dup_span_fraction
    FROM tot t LEFT JOIN cnt c USING (id)
    """


def collapse_exact(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> tuple[DataFrame, DataFrame]:
    """Collapse byte-identical documents to one representative each.

    Returns ``(reps, exact_edges)``:

    * ``reps`` — one row per distinct text, carrying the keeper (min) id
      under the original column names; feed THIS to the banding pipelines.
    * ``exact_edges`` — ``(id_a=keeper, id_b=member)`` star edges linking
      every non-keeper duplicate to its keeper (keeper = min id ⇒
      ``id_a < id_b``). Linear in group size — NOT the quadratic
      within-group pairing.

    This is the hot-bucket guard for the near-dup LSH family: m exact
    copies of a document agree on every band, so one bucket would yield
    m(m-1)/2 candidate pairs (10^6 copies of a license file → 10^12 pairs
    from one key — AQE skew-split parallelizes that blowup, it does not
    shrink it). Collapsing first makes the banding input one row per
    distinct content; downstream clustering recovers full groups from the
    star edges via connected components.

    Shuffle shape: one hash-aggregate keyed on md5(text) over LONGS ONLY
    (map-side combinable — a million-copy cluster partially aggregates on
    the map side, so the hot key never concentrates raw rows), then the
    keeper's text is fetched back by a SHUFFLE_HASH semi-join on
    (content_hash, id). Carrying ``min(text)`` through the aggregate
    instead forces a SortAggregate — every map task sorts the full multi-KB
    payload (the same payload-sort pathology operators/partial.py's
    hash_fetch fold exists to avoid; observed as the dominant cost in the
    r6 minhash plan, plans/r06/dedup_minhash_lsh_before.txt). The fetch is
    value-identical: all texts in a group are md5-equal, so the keeper
    row's text IS min(text).
    """
    hashed = df.select(
        F.col(id_col).alias("id"),
        F.col(text_col).alias("text"),
        F.md5(F.col(text_col)).alias("content_hash"),
    )
    groups = hashed.groupBy("content_hash").agg(F.min("id").alias("keeper_id"))
    # hash-join (never sort-merge: the streamed side carries the payload)
    # keyed on (content_hash, id) — exact even if an id is duplicated
    reps = hashed.join(
        groups.select("content_hash", F.col("keeper_id").alias("id")).hint(
            "SHUFFLE_HASH"
        ),
        on=["content_hash", "id"],
        how="left_semi",
    ).select(F.col("id").alias(id_col), F.col("text").alias(text_col))
    exact_edges = (
        hashed.drop("text")
        .join(groups.select("content_hash", "keeper_id"), on="content_hash")
        .where(F.col("id") != F.col("keeper_id"))
        .select(F.col("keeper_id").alias("id_a"), F.col("id").alias("id_b"))
    )
    return reps, exact_edges


def collapse_exact_sql(
    text_col: str = "text", id_col: str = "doc_id", table: str = "documents"
) -> str:
    """DuckDB CTE bodies mirroring :func:`collapse_exact`: defines
    ``hashed``, ``grp``, ``repdocs`` (reps under original column names)
    and ``exact_edges`` (id_a, id_b)."""
    return f"""
    hashed AS (
      SELECT {id_col} AS id, {text_col} AS text, md5({text_col}) AS content_hash
      FROM {table}
    ),
    grp AS (
      SELECT content_hash, min(id) AS keeper_id, min(text) AS keeper_text
      FROM hashed GROUP BY content_hash
    ),
    repdocs AS (SELECT keeper_id AS {id_col}, keeper_text AS {text_col} FROM grp),
    exact_edges AS (
      SELECT g.keeper_id AS id_a, h.id AS id_b
      FROM hashed h JOIN grp g ON h.content_hash = g.content_hash
      WHERE h.id <> g.keeper_id
    )"""


def tokens_expr(text_col: str = "text"):
    return F.split(F.lower(F.trim(F.col(text_col))), r"\s+")


def _gram_array(toks_col: str, n: int):
    """n-gram array over a MATERIALIZED token-array column.

    The token array must be a bound column (not the inline ``split``
    expression): higher-order functions evaluate interpreted, and any
    expression referenced INSIDE the lambda body is re-evaluated per
    element — an inline ``split`` re-runs its regex once per shingle
    (measured 7× slower on this host). The CASE WHEN guard keeps the
    expression total (sequence(0, size-n) is descending for <n-token
    rows), so it is safe wherever filters land.
    """
    toks = F.col(toks_col)
    return F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - n),
            lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))


def shingles(df: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 5) -> DataFrame:
    """(id, shingle) — distinct n-gram word shingles per document.

    ZERO-SHUFFLE: ``array_distinct`` dedupes within the row before the
    explode, so (id, shingle) is already unique — no global distinct runs
    (a corpus-wide shuffle that used to sit here, contradicting the
    broadcast-consumer scale shape in contamination.py). Precondition:
    ``id_col`` uniquely identifies a document (one row per id), the same
    contract every consumer already assumes.

    The token array is materialized in its own projection first —
    multiply-referenced, so CollapseProject keeps it apart and the split
    regex runs once per row, not once per shingle (see :func:`_gram_array`).
    """
    base = df.select(
        F.col(id_col).alias("id"), tokens_expr(text_col).alias("_toks")
    ).where(F.size("_toks") >= n)  # <n-token docs yield no shingles
    return (
        base.select("id", F.explode(F.array_distinct(_gram_array("_toks", n))).alias("shingle"))
        .where(F.col("shingle") != "")
    )


# universal-hash family over ONE base hash per shingle: h_i = (A_i*h30 + B_i)
# mod P. One md5 instead of k — the md5 was 90% of signature cost. Constants
# are plain arithmetic so DuckDB oracles replicate bit-for-bit.
_MH_P = 2_147_483_647  # 2^31 - 1
_MH_H30 = 1 << 30


def _mh_coeffs(i: int) -> tuple[int, int]:
    return 1_000_003 + 97 * i, 10_007 + 31 * i


def minhash_signatures(sh: DataFrame, k: int = 16) -> DataFrame:
    """(id, h0..h{k-1}) — k minhashes per document from a single portable
    base hash via a universal-hash family. One aggregate over the exploded
    shingle relation; map-side combinable → skew-safe.
    """
    h30 = F.pmod(phash(F.col("shingle")), F.lit(_MH_H30))
    aggs = []
    for i in range(k):
        a, b = _mh_coeffs(i)
        aggs.append(F.min(F.pmod(h30 * a + b, F.lit(_MH_P))).alias(f"h{i}"))
    return sh.groupBy("id").agg(*aggs)


def minhash_sql_aggs(k: int = 16) -> str:
    """DuckDB rendering of :func:`minhash_signatures`'s aggregate list."""
    base = f"(({phash_sql('shingle')}) % {_MH_H30})"
    parts = []
    for i in range(k):
        a, b = _mh_coeffs(i)
        parts.append(f"min(({base} * {a} + {b}) % {_MH_P}) AS h{i}")
    return ", ".join(parts)


def band_stack(sig: DataFrame, k: int = 16, bands: int = 4) -> DataFrame:
    """(id, band_no, band_hash) — each signature's banded LSH keys, one
    row per band. The persisted half of the incremental signature store
    (:func:`build_signature_store`) and the join key relation
    :func:`lsh_bucket_pairs` self-joins on."""
    rows_per_band = k // bands
    band_cols = []
    for b in range(bands):
        cols = [F.col(f"h{b * rows_per_band + i}").cast("string") for i in range(rows_per_band)]
        band_cols.append(F.md5(F.concat_ws(",", *cols)).alias(f"band{b}"))
    banded = sig.select("id", *band_cols)
    return banded.select(
        "id",
        F.explode(
            F.array(*[
                F.struct(F.lit(b).alias("band_no"), F.col(f"band{b}").alias("band_hash"))
                for b in range(bands)
            ])
        ).alias("bd"),
    ).select("id", "bd.band_no", "bd.band_hash")


def lsh_bucket_pairs(
    sig: DataFrame,
    k: int = 16,
    bands: int = 4,
    bucket_cap: int | None = None,
    observation=None,
) -> DataFrame:
    """Banded LSH: docs agreeing on any full band become candidate pairs.

    Returns distinct (id_a < id_b) pairs. The self-join shuffles on the
    band-hash key only. Bucket sizes are bounded by signature agreement
    ONLY for non-identical content — run :func:`collapse_exact` first (the
    default in :func:`minhash_near_dups`) so byte-identical clusters never
    reach the banding at all.

    ``bucket_cap`` is the secondary guard for *near*-identical clusters
    that survive the exact collapse (e.g. million-copy boilerplate with
    one-line mutations — every variant still agrees on most bands): each
    (band_no, band_hash) bucket keeps only the ``bucket_cap`` smallest ids
    and drops the rest, so a bucket contributes ≤ cap² candidate pairs.
    Recall note: the kept members of a capped bucket still pair with each
    other, and a dropped member usually re-appears in some other band's
    uncapped bucket; the cap trades bounded recall loss on pathological
    clusters for a hard O(cap²) bound. Dropped-row count is reported via
    ``observation`` (a ``pyspark.sql.Observation``) as ``capped_drop_rows``
    when provided — no extra job, the metric rides the main action.
    """
    # the banded keys are `bands` thin rows per doc but feed both sides of
    # the bucket self-join — truncating here caps the shingle → signature
    # pipeline at ONE execution (same discipline as jaccard_on_pairs)
    stacked = band_stack(sig, k, bands).localCheckpoint(eager=True)
    if bucket_cap is not None:
        from pyspark.sql import Window

        w = Window.partitionBy("band_no", "band_hash").orderBy("id")
        ranked = stacked.withColumn("_rn", F.row_number().over(w))
        if observation is not None:
            ranked = ranked.observe(
                observation,
                F.sum((F.col("_rn") > bucket_cap).cast("long")).alias("capped_drop_rows"),
            )
        stacked = ranked.where(F.col("_rn") <= bucket_cap).drop("_rn")
    a = stacked.alias("a")
    b = stacked.alias("b")
    return (
        a.join(b, on=["band_no", "band_hash"])
        .where(F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )


def jaccard_on_pairs(pairs: DataFrame, sh: DataFrame) -> DataFrame:
    """Exact n-gram Jaccard for candidate pairs.

    The shingle self-join is restricted FIRST to docs that appear in a
    candidate pair (broadcast semi-join on the small candidate-id set) —
    without that, intersection counting grows with the whole corpus's
    shared-shingle volume instead of the candidates'. union =
    |A| + |B| - |A∩B|; all shuffles keyed on doc id or shingle.

    ``pairs`` feeds two branches (the id broadcast and the final join), so
    it is materialized here via an eager localCheckpoint — otherwise the
    banding subtree executes twice. localCheckpoint (not persist): its
    storage is released by the ContextCleaner when the DataFrame is
    garbage-collected, so repeated invocations (bench loops, catalog
    re-runs, long sessions) don't accumulate cached partitions the way an
    unpaired persist() would.
    """
    pairs = pairs.localCheckpoint(eager=True)
    cand_ids = (
        pairs.select(F.col("id_a").alias("id"))
        .unionByName(pairs.select(F.col("id_b").alias("id")))
        .distinct()
    )
    # sh_c feeds three consumers (sizes, both sides of the intersection
    # self-join); without truncation each re-runs the full upstream
    # collapse + shingle pipeline (measured 3× in the r6 plan). Its size is
    # bounded by the candidates' shingles — the verify working set that
    # flows through the joins anyway — so materializing it is the same
    # trade as the `pairs` checkpoint above.
    sh_c = sh.join(F.broadcast(cand_ids), on="id", how="left_semi").localCheckpoint(
        eager=True
    )
    sizes = sh_c.groupBy("id").agg(F.count("*").alias("n_sh"))
    inter = (
        sh_c.alias("x")
        .join(sh_c.alias("y"), on="shingle")
        .where(F.col("x.id") < F.col("y.id"))
        .groupBy(F.col("x.id").alias("id_a"), F.col("y.id").alias("id_b"))
        .agg(F.count("*").alias("n_inter"))
    )
    return (
        pairs.join(inter, on=["id_a", "id_b"], how="inner")
        .join(sizes.withColumnRenamed("id", "id_a").withColumnRenamed("n_sh", "n_a"), on="id_a")
        .join(sizes.withColumnRenamed("id", "id_b").withColumnRenamed("n_sh", "n_b"), on="id_b")
        .select(
            "id_a", "id_b",
            (F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter"))).alias("jaccard"),
        )
    )


def minhash_near_dups(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
    k: int = 16,
    bands: int = 4,
    threshold: float = 0.7,
    collapse: bool = True,
    bucket_cap: int | None = None,
    observation=None,
) -> DataFrame:
    """Full MinHash-LSH near-dup pipeline: shingle → sign → band → verify.

    With ``collapse=True`` (default — the duplicate-cluster hot-bucket
    guard) byte-identical documents are first collapsed to one
    representative (:func:`collapse_exact`); banding/verification run over
    representatives only and the output is the union of

    * near-dup edges among representatives (exact Jaccard ≥ threshold), and
    * exact-duplicate star edges (keeper → member, jaccard = 1.0).

    The edge set is linear in cluster size and connects exactly the same
    components as the quadratic all-pairs output would — m identical
    copies contribute m-1 edges instead of m(m-1)/2 candidate pairs from
    every band bucket. ``collapse=False`` restores the raw all-pairs
    semantics for small corpora.
    """
    if collapse:
        reps, exact_edges = collapse_exact(df, text_col, id_col)
        sh = shingles(reps, text_col, id_col, n)
        sig = minhash_signatures(sh, k)
        pairs = lsh_bucket_pairs(sig, k, bands, bucket_cap, observation)
        near = jaccard_on_pairs(pairs, sh).where(F.col("jaccard") >= threshold)
        return near.unionByName(
            exact_edges.select("id_a", "id_b", F.lit(1.0).alias("jaccard"))
        )
    sh = shingles(df, text_col, id_col, n)
    sig = minhash_signatures(sh, k)
    pairs = lsh_bucket_pairs(sig, k, bands, bucket_cap, observation)
    return jaccard_on_pairs(pairs, sh).where(F.col("jaccard") >= threshold)


def connected_components(
    edges: DataFrame,
    nodes: DataFrame,
    id_col: str = "doc_id",
    max_iter: int = 25,
) -> DataFrame:
    """Cluster assignment over a near-dup edge set: every node gets
    ``cluster_id`` = min node id of its connected component (singletons
    keep their own id). This is the step that turns pairwise near-dup
    edges into actionable dedup groups (keep ``cluster_id``, drop the
    rest).

    Spark-first iterative min-label propagation:

    * one round = one equi-join (neighbor min-label, keyed on node id) +
      one map-side-combinable min-aggregate — no cross products;
    * rounds needed = graph diameter. The guarded near-dup family
      (:func:`collapse_exact` star edges + rep-level edges) produces
      star-of-stars topologies with diameter ≤ ~4, so this converges in
      a handful of rounds even for million-copy clusters; for adversarial
      long-chain graphs the large-star/small-star variant would cap
      rounds at O(log n) — not needed for dedup graphs;
    * per-round lineage is truncated with an eager localCheckpoint
      (iterative plans otherwise stack joins into an exponential tree);
    * convergence is TYPE-AGNOSTIC: a round carries a ``_chg`` boolean
      (did any neighbor offer a strictly smaller label?) through the
      checkpoint, and the loop stops when no row changed. Works for
      numeric AND string/UUID ids (labels only ever decrease in the
      column's natural ordering); the previous label-sum signal crashed
      under ANSI on non-numeric ids (CAST_INVALID_INPUT) or silently
      converged after one round on non-ANSI configs. The change-count
      scan runs over the just-checkpointed rows — no join recompute.
    """
    a, b = "_cc_a", "_cc_b"
    bidir = edges.select(
        F.col(edges.columns[0]).alias(a), F.col(edges.columns[1]).alias(b)
    ).unionByName(
        edges.select(
            F.col(edges.columns[1]).alias(a), F.col(edges.columns[0]).alias(b)
        )
    )
    labels = nodes.select(F.col(id_col).alias("id"), F.col(id_col).alias("label"))
    labels = labels.localCheckpoint(eager=True)
    for _ in range(max_iter):
        nbr = (
            bidir.join(labels, bidir[b] == labels["id"])
            .groupBy(F.col(a).alias("id"))
            .agg(F.min("label").alias("_nbr_label"))
        )
        stepped = (
            labels.join(nbr, on="id", how="left")
            .select(
                "id",
                F.least(
                    F.col("label"), F.coalesce(F.col("_nbr_label"), F.col("label"))
                ).alias("label"),
                # NULL _nbr_label (no neighbors) → NULL → filtered out below
                (F.col("_nbr_label") < F.col("label")).alias("_chg"),
            )
            .localCheckpoint(eager=True)
        )
        labels = stepped.drop("_chg")
        if stepped.where(F.col("_chg")).count() == 0:
            break
    return labels.select(F.col("id").alias(id_col), F.col("label").alias("cluster_id"))


def connected_components_sql(
    edges_cte: str, id_col: str = "doc_id", table: str = "documents"
) -> str:
    """DuckDB rendering of :func:`connected_components`: exact transitive
    closure via a recursive CTE (UNION-deduped reachability), then
    min-reachable-id per node. Quadratic in cluster size — an oracle
    formulation, not the engine path."""
    return f"""
    WITH RECURSIVE eb AS (
      SELECT id_a AS a, id_b AS b FROM ({edges_cte})
      UNION ALL
      SELECT id_b AS a, id_a AS b FROM ({edges_cte})
    ),
    reach(src, dst) AS (
      SELECT {id_col}, {id_col} FROM {table}
      UNION
      SELECT r.src, e.b FROM reach r JOIN eb e ON r.dst = e.a
    )
    SELECT src AS {id_col}, min(dst) AS cluster_id FROM reach GROUP BY src
    """


# ═══════════════════════════════════════════════════════════════════════════
# Incremental (corpus-vs-delta) near-dup — work ∝ delta, not corpus
# ═══════════════════════════════════════════════════════════════════════════

# partition-count default for the store's bucketed relations (bands by
# band-hash bucket `bk`, shingles by id bucket `sk`): the knob a real
# deployment sizes to its file-count budget; recorded in the store's meta
# so readers always agree with the writer
_STORE_BUCKETS = 16
_SIG = StoreKind("signature", _STORE_BUCKETS, (("bands", "bk"), ("shingles", "sk")))


def _bk_expr():
    return F.pmod(phash(F.col("band_hash")), F.lit(_STORE_BUCKETS)).cast("int")


def _sk_expr():
    return F.pmod(
        phash(F.concat(F.lit("sk:"), F.col("id").cast("string"))),
        F.lit(_STORE_BUCKETS),
    ).cast("int")


def build_signature_store(
    df: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
    k: int = 16,
    bands: int = 4,
    threshold: float = 0.7,
) -> None:
    """Persist the dedup signature store for a corpus: everything
    :func:`incremental_near_dups` needs to process a NEW epoch's documents
    without ever rescanning corpus text. Five thin parquet relations under
    ``path`` (in production: Iceberg tables MERGEd per epoch):

    * ``groups``      (content_hash, keeper_id)        — the exact seen-set
    * ``exact_edges`` (content_hash, id_a, id_b)       — keeper→member stars
      (duplicate groups only; singletons contribute nothing)
    * ``bands``       (id, band_no, band_hash, bk)     — reps' LSH keys,
      PARTITIONED by band-hash bucket ``bk`` so the delta's candidate
      join dynamically prunes store files (work ∝ delta's buckets, not
      the corpus's — plan-tested)
    * ``shingles``    (id, shingle, sk)                — reps' n-gram sets,
      PARTITIONED by id bucket ``sk`` (the one corpus-sized relation —
      the Jaccard verification semi-joins it on (sk, id), so only the
      candidates' buckets are read; a system willing to accept
      signature-estimate verification could drop it entirely)
    * ``edges``       (id_a, id_b, jaccard)            — verified near-dup
      edges among reps (the already-known result)

    ``n``, ``k``, ``bands`` and ``threshold`` are recorded in the store's
    meta (:mod:`.store`); the delta-side calls read them from there.

    Reference analogue: the crawl's persisted seen-set makes per-page work
    independent of corpus size (``/root/reference/search_scrape.py:330``,
    ``:1048``); this is the content-level generalization.
    """
    _SIG.write_meta(path, n=n, k=k, bands=bands, threshold=threshold)
    # ONE md5 hash-aggregate over the corpus, checkpointed and reused by
    # groups / exact_edges / reps (store.exact_groups, longs only); the
    # keeper's text is fetched by a SHUFFLE_HASH semi-join — value-identical
    # (texts in a group are md5-equal). The hint stays here: the embedding
    # store's keeper fetch is faster without it.
    hashed = df.select(
        F.col(id_col).alias("id"),
        F.col(text_col).alias("text"),
        F.md5(F.col(text_col)).alias("content_hash"),
    )
    grp, exact_edges = exact_groups(hashed, "content_hash")
    reps = hashed.join(
        grp.select("content_hash", F.col("keeper_id").alias("id")).hint("SHUFFLE_HASH"),
        on=["content_hash", "id"],
        how="left_semi",
    ).select(F.col("id").alias(id_col), F.col("text").alias(text_col))
    sh = shingles(reps, text_col, id_col, n)
    # groups / exact_edges / shingles depend only on the checkpointed grp —
    # independent jobs, written concurrently; Spark schedules concurrent
    # jobs FIFO within one session
    _SIG.write(
        path, groups=grp, exact_edges=exact_edges, shingles=sh.withColumn("sk", _sk_expr())
    )
    spark = df.sparkSession
    sh_r = spark.read.parquet(f"{path}/shingles")  # reuse, don't re-shingle
    sig = minhash_signatures(sh_r.select("id", "shingle"), k)
    _SIG.write(path, bands=band_stack(sig, k, bands).withColumn("bk", _bk_expr()))
    bands_r = spark.read.parquet(f"{path}/bands")
    pairs = (
        bands_r.alias("a")
        .join(bands_r.alias("b"), on=["band_no", "band_hash"])
        .where(F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    near = jaccard_on_pairs(pairs, sh_r.select("id", "shingle")).where(
        F.col("jaccard") >= threshold
    )
    _SIG.write(path, edges=near)


def incremental_near_dups(
    delta: DataFrame,
    store_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Near-dup edge set of (corpus ∪ delta), computed by banding ONLY the
    delta against a persisted :func:`build_signature_store` — value-exact
    equal to running :func:`minhash_near_dups` on the full union at the
    store's build parameters, while shingling/signing/verifying work is
    proportional to the delta (the per-epoch ingest shape: at 100 TB the
    corpus is never re-read — its TEXT is not even in the store).

    How batch equality is preserved:

    * delta docs whose content_hash is already known join the existing
      group — no banding (their rep's bands/shingles are already stored);
      a delta id smaller than the stored keeper TAKES OVER the group and
      every stored relation mentioning the old keeper is relabeled
      (same text ⇒ identical bands/shingles ⇒ only the label changes);
      this exact-group fold is :func:`.store.fold_delta`;
    * genuinely new content is collapsed within the delta, banded, and
      its band keys joined against the stored band relation (corpus side)
      and itself (delta side); candidates get the same exact-Jaccard
      verification, reading shingles from the store — never corpus text;
    * stored rep-rep edges pass through (relabeled); exact star edges are
      rebuilt only for groups the delta touched, passed through otherwise.

    All delta-derived lookup sides (touched groups, relabel map) are
    broadcast — they are epoch-bounded, so the store relations are never
    shuffled. The store's band and shingle files are pruned to the
    buckets the delta touches; the plan never scans corpus text.
    """
    return _incremental_state(delta, store_path, text_col, id_col)["out"]


def update_signature_store(
    delta: DataFrame,
    store_path: str,
    out_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> None:
    """Fold a processed delta INTO the signature store, producing the store
    of (corpus ∪ delta) at ``out_path`` — the commit step that makes
    :func:`incremental_near_dups` chainable epoch over epoch: process
    epoch's delta against store N, write store N+1 (same build
    parameters), repeat. Identical to rebuilding the store from the union
    (tested), but only delta-derived rows are computed fresh; corpus rows
    pass through (relabeled on keeper takeover). Parquet rewrites whole
    relations here; on Iceberg each relation is a MERGE/append and
    untouched files are untouched.
    """
    check_out_path(store_path, out_path)
    st = _incremental_state(delta, store_path, text_col, id_col)
    _SIG.write_meta(out_path, **_SIG.params(store_path))
    # the five relations are independent actions over the delta pass's
    # checkpointed intermediates. sk is a hash of the id, so takeover
    # relabeling moves rows across buckets — recomputed from the final ids.
    _SIG.write(
        out_path,
        groups=st["groups"],
        exact_edges=st["exact_edges"],
        bands=st["bands"],
        shingles=st["shingles"].withColumn("sk", _sk_expr()),
        edges=st["edges"],
    )


def _incremental_state(
    delta: DataFrame, store_path: str, text_col: str, id_col: str
) -> dict[str, DataFrame]:
    """Shared machinery for :func:`incremental_near_dups` (needs ``out``)
    and :func:`update_signature_store` (needs the five updated relations).
    The shingle/band/threshold parameters come from the store's meta: a
    store is only joinable under the parameters it was built with."""
    p = _SIG.params(store_path)
    n, k, bands, threshold = p["n"], p["k"], p["bands"], p["threshold"]

    spark = delta.sparkSession
    groups_s = spark.read.parquet(f"{store_path}/groups")
    exact_s = spark.read.parquet(f"{store_path}/exact_edges")
    bands_s = spark.read.parquet(f"{store_path}/bands")
    sh_s = spark.read.parquet(f"{store_path}/shingles")
    edges_s = spark.read.parquet(f"{store_path}/edges")

    d = delta.select(
        F.col(id_col).alias("id"),
        F.col(text_col).alias("text"),
        F.md5(F.col(text_col)).alias("content_hash"),
    )
    fold = fold_delta(d, groups_s, exact_s, "content_hash")
    relabel = fold["relabel"]

    # ── new hashes: band the delta's new reps, verify ──────────────────
    delta_sh = shingles(
        fold["new_rows"].select("content_hash", "id", "text"), "text", "id", n
    ).localCheckpoint(eager=True)
    delta_bands = band_stack(minhash_signatures(delta_sh, k), k, bands).withColumn(
        "bk", _bk_expr()
    ).localCheckpoint(eager=True)
    # STATIC partition pruning on the store's band files: the delta's own
    # bucket set is collected (bounded by _STORE_BUCKETS — same pattern as
    # the engine's bucket-id collects in operators/merge.py) and pushed as
    # a partition filter, so only the store band files the delta's buckets
    # touch are ever read (plan-tested). Static beats DPP here: the
    # broadcast delta side carries no selective predicate, so Spark's DPP
    # heuristic declines to insert the dynamic filter.
    bks = [r["bk"] for r in delta_bands.select("bk").distinct().collect()]
    bands_pruned = bands_s.where(F.col("bk").isin(bks) if bks else F.lit(False))
    cand_cross = delta_bands.alias("dl").join(
        bands_pruned.alias("st"), on=["bk", "band_no", "band_hash"]
    ).select(F.col("dl.id").alias("x"), F.col("st.id").alias("y"))
    cand_within = (
        delta_bands.alias("p").join(delta_bands.alias("q"), on=["band_no", "band_hash"])
        .where(F.col("p.id") < F.col("q.id"))
        .select(F.col("p.id").alias("x"), F.col("q.id").alias("y"))
    )
    pairs = (
        cand_cross.unionByName(cand_within)
        .select(F.least("x", "y").alias("id_a"), F.greatest("x", "y").alias("id_b"))
        .distinct()
        .localCheckpoint(eager=True)  # candidate ids drive the sk pruning below
    )
    # Jaccard verification reads ONLY the shingle buckets the candidates
    # live in: the candidates' sk set (bounded by _STORE_BUCKETS) prunes
    # the store partitions, then a broadcast semi-join restricts to the
    # exact candidate ids
    cand_ids = (
        pairs.select(F.col("id_a").alias("id"))
        .unionByName(pairs.select(F.col("id_b").alias("id")))
        .distinct()
        .withColumn("sk", _sk_expr())
        .localCheckpoint(eager=True)
    )
    sks = [r["sk"] for r in cand_ids.select("sk").distinct().collect()]
    sh_cand = sh_s.where(F.col("sk").isin(sks) if sks else F.lit(False)).join(
        F.broadcast(cand_ids), on=["sk", "id"], how="left_semi"
    ).select("id", "shingle")
    near_new = jaccard_on_pairs(pairs, sh_cand.unionByName(delta_sh)).where(
        F.col("jaccard") >= threshold
    )

    near_all = relabel_edges(edges_s.unionByName(near_new), relabel, "jaccard")
    out = near_all.unionByName(
        fold["exact_edges"].select("id_a", "id_b", F.lit(1.0).alias("jaccard"))
    )
    return {
        "out": out,
        "groups": fold["groups"],
        "exact_edges": fold["exact_edges"],
        "bands": relabel_ids(bands_s, relabel).unionByName(delta_bands),
        "shingles": relabel_ids(sh_s.select("id", "shingle"), relabel).unionByName(delta_sh),
        "edges": near_all,
        # introspection handles (tests assert the pruning on real files)
        "_bands_scan": bands_pruned,
        "_shingles_scan": sh_cand,
    }


def _bit_weight(b: int) -> int:
    """2^b as a signed-64 term: bit 63 is the sign bit, so its weight is
    -2^63 (two's complement) — keeps the fingerprint inside BIGINT range
    in both Spark's ANSI mode and DuckDB."""
    return -(2 ** 63) if b == 63 else 2 ** b


def simhash(df: DataFrame, text_col: str = "text", id_col: str = "doc_id", bits: int = 64) -> DataFrame:
    """(id, simhash) — sign-sum fingerprint over token hashes.

    bit_b(doc) = 1 iff sum over tokens of (2*bit_b(hash(token)) - 1) > 0.
    Pure Column expressions; one explode + one aggregate.

    Default 64 bits: a 16-bit fingerprint space (65,536 values) saturates
    at corpus scale — hamming-banding buckets degenerate toward all-pairs
    once the corpus dwarfs the value space (VERDICT r2). The portable base
    hash carries 60 bits (15 md5 nibbles), so bits 60-63 come from a
    seeded second hash; bit 63 lands on the BIGINT sign bit via its two's
    complement weight. Width is parameterized; 16 stays tested as the
    regression width.
    """
    assert 1 <= bits <= 64
    toks = (
        df.select(F.col(id_col).alias("id"), F.explode(tokens_expr(text_col)).alias("tok"))
        .where(F.col("tok") != "")
    )
    h = phash(F.col("tok"))
    h_ext = phash(F.col("tok"), seed=1) if bits > 60 else None

    def bit(b):
        src, off = (h, b) if b < 60 else (h_ext, b - 60)
        return F.shiftright(src, off).bitwiseAND(F.lit(1))

    bit_sums = [
        F.sum(F.when(bit(b) == 1, 1).otherwise(-1)).alias(f"s{b}") for b in range(bits)
    ]
    per_doc = toks.groupBy("id").agg(*bit_sums)
    sim = None
    for b in range(bits):
        term = F.when(F.col(f"s{b}") > 0, F.lit(_bit_weight(b))).otherwise(F.lit(0))
        sim = term if sim is None else sim + term
    return per_doc.select("id", sim.cast("long").alias("simhash"))


def simhash_sql(
    bits: int = 64,
    table: str = "documents",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> str:
    """DuckDB rendering of :func:`simhash` — a SELECT yielding
    (id, simhash), bit-exact at any width ≤ 64 (same portable hashes,
    same two's-complement weight for bit 63)."""
    assert 1 <= bits <= 64
    h2 = f", {phash_sql('tok', seed=1)} AS h2" if bits > 60 else ""

    def bit(b):
        return f"((h >> {b}) & 1)" if b < 60 else f"((h2 >> {b - 60}) & 1)"

    bitsum = ", ".join(
        f"sum(CASE WHEN {bit(b)} = 1 THEN 1 ELSE -1 END) AS s{b}" for b in range(bits)
    )
    val = " + ".join(
        f"(CASE WHEN s{b} > 0 THEN {'(-9223372036854775807 - 1)' if b == 63 else 2 ** b} ELSE 0 END)"
        for b in range(bits)
    )
    return rf"""
    SELECT id, CAST({val} AS BIGINT) AS simhash FROM (
      SELECT id, {bitsum} FROM (
        SELECT id, {phash_sql('tok')} AS h{h2} FROM (
          SELECT {id_col} AS id,
                 unnest(regexp_split_to_array(lower(trim({text_col})), '\s+')) AS tok
          FROM {table}
        ) WHERE tok <> ''
      ) GROUP BY id
    )
    """


def _hamming_blocks(bits: int, max_hamming: int) -> list[tuple[int, int]]:
    """(shift, width) per block, splitting ``bits`` into max_hamming+1
    near-equal blocks. Pigeonhole: two fingerprints within hamming k agree
    exactly on at least one of k+1 disjoint blocks."""
    n_blocks = max_hamming + 1
    base, extra = divmod(bits, n_blocks)
    out, off = [], 0
    for i in range(n_blocks):
        w = base + (1 if i < extra else 0)
        out.append((off, w))
        off += w
    return out


def simhash_hamming_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 64,
    max_hamming: int = 2,
    collapse: bool = True,
    bucket_cap: int | None = None,
    observation=None,
) -> DataFrame:
    """Near-dup pairs with hamming(simhash) ≤ k via bit-block banding —
    the same banding trick as MinHash-LSH, applied to fingerprint bits:
    candidate pairs come only from block-bucket agreement (each self-join
    shuffles on (block_no, block_val), bounded per bucket — no all-pairs
    cross product), then exact popcount verifies. Scales like LSH.

    ``collapse=True`` (default) is the duplicate-cluster hot-bucket guard,
    applied at the FINGERPRINT level: documents sharing a simhash value
    (byte-identical docs always do, and so do the near-identical variants
    that defeat a content-hash collapse) are grouped to one representative
    before banding; the output unions

    * hamming ≤ k edges among distinct fingerprints' representatives, and
    * hamming-0 star edges (keeper → member) inside each identical-
      fingerprint group — linear in group size, exact by construction.

    m identical fingerprints thus contribute m-1 edges instead of
    m(m-1)/2 pairs from every bit-block bucket; connected components over
    the union recover the same clusters. ``collapse=False`` restores raw
    all-pairs output.

    ``bucket_cap``/``observation``: secondary guard for clusters of
    DISTINCT-but-close fingerprints that still flood a bit-block bucket
    (same contract as :func:`lsh_bucket_pairs`) — each (block_no,
    block_val) bucket keeps the ``bucket_cap`` smallest ids; dropped-row
    count reports as ``capped_drop_rows`` on the Observation.
    """
    # (id, simhash) is two longs per document but feeds four lineages
    # (the fingerprint collapse, the exact-edge join, both sides of the
    # bit-block self-join) — without truncation the token explode + 64-bit
    # sum aggregate re-runs for each (4× in the r6 plan). Same
    # localCheckpoint discipline as jaccard_on_pairs.
    s = simhash(df, text_col, id_col, bits).localCheckpoint(eager=True)
    if collapse:
        grp = s.groupBy("simhash").agg(F.min("id").alias("keeper_id"))
        reps = grp.select(F.col("keeper_id").alias("id"), "simhash")
        exact_edges = (
            s.join(grp, on="simhash")
            .where(F.col("id") != F.col("keeper_id"))
            .select(
                F.col("keeper_id").alias("id_a"),
                F.col("id").alias("id_b"),
                F.lit(0).cast("int").alias("hamming"),
            )
        )
        core = _simhash_banded_pairs(reps, bits, max_hamming, bucket_cap, observation)
        return core.unionByName(exact_edges)
    return _simhash_banded_pairs(s, bits, max_hamming, bucket_cap, observation)


def _simhash_banded_pairs(
    s: DataFrame,
    bits: int,
    max_hamming: int,
    bucket_cap: int | None = None,
    observation=None,
) -> DataFrame:
    """Bit-block banding + popcount verify over an (id, simhash) relation."""
    blocks = _hamming_blocks(bits, max_hamming)
    stacked = s.select(
        "id",
        "simhash",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(i).alias("block_no"),
                    F.shiftright(F.col("simhash"), shift)
                    .bitwiseAND(F.lit((1 << width) - 1))
                    .alias("block_val"),
                )
                for i, (shift, width) in enumerate(blocks)
            ])
        ).alias("b"),
    ).select("id", "simhash", "b.block_no", "b.block_val")
    if bucket_cap is not None:
        from pyspark.sql import Window

        w = Window.partitionBy("block_no", "block_val").orderBy("id")
        ranked = stacked.withColumn("_rn", F.row_number().over(w))
        if observation is not None:
            ranked = ranked.observe(
                observation,
                F.sum((F.col("_rn") > bucket_cap).cast("long")).alias("capped_drop_rows"),
            )
        stacked = ranked.where(F.col("_rn") <= bucket_cap).drop("_rn")
    a, b = stacked.alias("a"), stacked.alias("b")
    cand = (
        a.join(b, on=["block_no", "block_val"])
        .where(F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.simhash").alias("sh_a"),
            F.col("b.simhash").alias("sh_b"),
        )
        .distinct()
    )
    ham = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))).cast("int")
    return (
        cand.withColumn("hamming", ham)
        .where(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def simhash_hamming_sql(
    simhash_cte: str, bits: int = 64, max_hamming: int = 2, collapse: bool = True
) -> str:
    """DuckDB rendering of :func:`simhash_hamming_pairs` given a CTE body
    ``simhash_cte`` that yields (id, simhash). Mirrors the fingerprint-
    level collapse guard when ``collapse=True`` (the Spark default)."""
    blocks = _hamming_blocks(bits, max_hamming)
    src = "reps" if collapse else "s"
    stacked = " UNION ALL ".join(
        f"SELECT id, simhash, {i} AS block_no,"
        f" (simhash >> {shift}) & {(1 << width) - 1} AS block_val FROM {src}"
        for i, (shift, width) in enumerate(blocks)
    )
    collapse_ctes = """
    grp AS (SELECT simhash, min(id) AS keeper_id FROM s GROUP BY simhash),
    reps AS (SELECT keeper_id AS id, simhash FROM grp),""" if collapse else ""
    exact_union = f"""
    UNION ALL
    SELECT g.keeper_id AS id_a, s.id AS id_b, CAST(0 AS INT) AS hamming
    FROM s JOIN grp g ON s.simhash = g.simhash
    WHERE s.id <> g.keeper_id""" if collapse else ""
    return f"""
    WITH s AS ({simhash_cte}),{collapse_ctes}
    stacked AS ({stacked}),
    cand AS (
      SELECT DISTINCT a.id AS id_a, b.id AS id_b,
             a.simhash AS sh_a, b.simhash AS sh_b
      FROM stacked a JOIN stacked b
        ON a.block_no = b.block_no AND a.block_val = b.block_val AND a.id < b.id
    )
    SELECT id_a, id_b, CAST(bit_count(CAST(xor(sh_a, sh_b) AS BIGINT)) AS INT) AS hamming
    FROM cand
    WHERE bit_count(CAST(xor(sh_a, sh_b) AS BIGINT)) <= {max_hamming}{exact_union}
    """
