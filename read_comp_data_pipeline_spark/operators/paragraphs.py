"""Corpus-wide paragraph deduplication — training-data hygiene.

Web corpora are dominated by *granular* duplication: navigation chrome,
cookie banners, templated footers, and licence boilerplate repeat across
millions of pages even when no two whole documents match. The standard
pretraining fix (C4 / CCNet-style) deduplicates at the paragraph/line
level across the WHOLE corpus: every distinct paragraph survives exactly
once — at its first occurrence in a canonical order — and each document
is reassembled from its surviving paragraphs.

Scale shape (the reason this is NOT a window query): the natural
formulation — ``row_number() OVER (PARTITION BY paragraph ORDER BY
doc_id, pos) = 1`` — sorts every occurrence of a paragraph in ONE
reducer task. Boilerplate is precisely the case where a single paragraph
has 10^8 occurrences, so the window formulation re-creates the hot-key
problem the near-dup family's collapse guard exists to kill. Instead the
winner per paragraph is computed with ``min(struct(doc_id, pos, para))``
over a sha2-keyed hash aggregate: map-side combinable, so the hottest
boilerplate paragraph costs one partial min per task — no hot reducer,
no sort, no join back for the winner row (the winning paragraph's
content rides through the same min-struct). Total cost: one explode, one
hash-key aggregate, one doc-keyed aggregate for reassembly.

The shuffle key is ``sha2(para, 256)`` rather than the paragraph string:
the aggregate then moves 64-char digests + one winner struct per
distinct paragraph instead of every paragraph occurrence, and a 256-bit
key cannot collide at corpus scale the way a 64-bit hash would
(birthday bound at ~4×10^9 distinct paragraphs).

Reference analogue: none — the reference (a single-page crawler,
``/root/reference/search_scrape.py``) has no corpus-level view; this is
part of the training-data extension surface. The first-occurrence-wins
discipline mirrors the exact-dedup keeper rule
(:func:`read_comp_data_pipeline_spark.operators.dedup.exact_dedup_groups`)
applied at paragraph granularity.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from read_comp_data_pipeline_spark.functions.hashing import phash
from read_comp_data_pipeline_spark.operators.store import StoreKind, check_out_path

# paragraph-store hash-bucket fanout: at 100 TB the store would use a
# much larger fanout (2^12-2^14) so a small epoch's touched-bucket set
# prunes most store files; 64 keeps test artifacts readable
_PSTORE_BUCKETS = 64
_PARA = StoreKind("paragraph", _PSTORE_BUCKETS, (("hashes", "pb"),))


def explode_paragraphs(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(doc_id, pos, para): trimmed non-empty lines of ``text_col``.

    ``pos`` is the 0-based index in the RAW newline split (before
    trimming/filtering), so reassembly preserves the original relative
    order and the oracle can reproduce positions without re-deriving
    the filter.
    """
    return (
        df.select(
            F.col(id_col).alias("doc_id"),
            F.posexplode(F.split(F.coalesce(F.col(text_col), F.lit("")), "\n")).alias(
                "pos", "para"
            ),
        )
        .withColumn("para", F.trim("para"))
        .where(F.col("para") != "")
    )


def paragraph_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Keep each distinct paragraph once corpus-wide (first occurrence in
    (doc_id, pos) order); reassemble every document from its survivors.

    Returns one row per input document:
      (doc_id, n_paras, n_kept, cleaned_text)
    where ``n_paras`` counts the document's non-empty paragraphs,
    ``n_kept`` how many survived, and ``cleaned_text`` is the surviving
    paragraphs re-joined with ``\\n`` in original order ('' when the
    whole document was boilerplate already seen elsewhere).
    """
    paras = explode_paragraphs(df, text_col, id_col)

    # winner per distinct paragraph: min-struct over a sha2-keyed hash agg
    # (map-side combinable — a 10^8-occurrence boilerplate line costs one
    # partial min per task, never a hot reducer; see module docstring)
    winners = (
        paras.groupBy(F.sha2(F.col("para"), 256).alias("h"))
        .agg(F.min(F.struct("doc_id", "pos", "para")).alias("w"))
        .select(
            F.col("w.doc_id").alias("doc_id"),
            F.col("w.pos").alias("pos"),
            F.col("w.para").alias("para"),
        )
    )

    return _reassemble(df, paras, winners, id_col)


def _reassemble(
    df: DataFrame, paras: DataFrame, kept: DataFrame, id_col: str
) -> DataFrame:
    """(doc_id, n_paras, n_kept, cleaned_text) for every row of ``df``,
    given the exploded paragraphs and the surviving (doc_id, pos, para)
    subset."""
    totals = paras.groupBy("doc_id").agg(F.count("*").alias("n_paras"))
    rebuilt = (
        kept.groupBy("doc_id")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "para"))).alias("kp"))
        .select(
            "doc_id",
            F.size("kp").cast("long").alias("n_kept"),
            F.concat_ws(
                "\n", F.transform("kp", lambda s: s["para"])
            ).alias("cleaned_text"),
        )
    )
    base = df.select(F.col(id_col).alias("doc_id"))
    return (
        base.join(totals, on="doc_id", how="left")
        .join(rebuilt, on="doc_id", how="left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_paras"), F.lit(0)).cast("long").alias("n_paras"),
            F.coalesce(F.col("n_kept"), F.lit(0)).cast("long").alias("n_kept"),
            F.coalesce(F.col("cleaned_text"), F.lit("")).alias("cleaned_text"),
        )
    )


def _pb_expr():
    return F.pmod(phash(F.col("h")), F.lit(_PSTORE_BUCKETS)).cast("int")


def build_paragraph_store(
    df: DataFrame, path: str, text_col: str = "text", id_col: str = "doc_id"
) -> None:
    """Persist the corpus's distinct-paragraph seen-set: one thin relation
    ``hashes(h, pb)`` of sha2-256 paragraph digests, PARTITIONED by hash
    bucket ``pb`` so a delta's membership join prunes store files to the
    delta's touched buckets. Winner identity is NOT stored — under epoch
    semantics the corpus always precedes the delta, so membership alone
    decides (a delta paragraph already in the store is dropped no matter
    which corpus doc owns it).

    Reference analogue: the crawl's persisted seen-set
    (``/root/reference/search_scrape.py:330``), here at paragraph
    granularity — the same discipline
    :func:`read_comp_data_pipeline_spark.operators.dedup.build_signature_store`
    applies at document granularity (the shared store contract is
    :mod:`.store`).
    """
    _PARA.write_meta(path)
    _PARA.write(
        path,
        hashes=explode_paragraphs(df, text_col, id_col)
        .select(F.sha2(F.col("para"), 256).alias("h"))
        .distinct()
        .withColumn("pb", _pb_expr()),
    )


def _load_pstore(spark, path: str):
    _PARA.params(path)
    return spark.read.parquet(f"{path}/hashes")


def paragraph_dedup_incremental(
    delta: DataFrame,
    store_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Paragraph dedup of a NEW epoch against a persisted corpus
    seen-set: the CCNet streaming shape — per-epoch work proportional
    to the delta, the corpus text never re-read (only its digest store).

    Semantics (epoch precedence): a delta paragraph survives iff it is
    absent from the corpus store AND this is its first (doc_id, pos)
    occurrence within the delta. Same output schema as
    :func:`paragraph_dedup`, one row per delta document.

    Scale shape: intra-delta winners via the same sha2-keyed min-struct
    hash agg; corpus membership via one LEFT ANTI hash join against the
    store relation restricted to the delta's touched hash buckets (a
    driver-side bucket-id collect bounded by the store fanout, pushed as
    a partition filter so only those store files are read — the same
    pruning discipline as the document-level signature store). At a
    production fanout the anti join is additionally storage-partitioned
    on both sides, so the store is never re-shuffled.
    """
    store = _load_pstore(delta.sparkSession, store_path)  # refuse before any job
    paras = explode_paragraphs(delta, text_col, id_col)
    winners = (
        paras.groupBy(F.sha2(F.col("para"), 256).alias("h"))
        .agg(F.min(F.struct("doc_id", "pos", "para")).alias("w"))
        .select(
            "h",
            F.col("w.doc_id").alias("doc_id"),
            F.col("w.pos").alias("pos"),
            F.col("w.para").alias("para"),
        )
        .withColumn("pb", _pb_expr())
        .localCheckpoint(eager=False)
    )
    touched = [r["pb"] for r in winners.select("pb").distinct().collect()]
    kept = winners.join(
        store.where(F.col("pb").isin(touched)), on=["pb", "h"], how="left_anti"
    ).drop("pb", "h")
    return _reassemble(delta, paras, kept, id_col)


def update_paragraph_store(
    delta: DataFrame,
    store_path: str,
    out_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> None:
    """Fold a processed delta's paragraphs into the seen-set, writing the
    store of (corpus ∪ delta) at ``out_path`` — makes
    :func:`paragraph_dedup_incremental` chainable epoch over epoch.
    Snapshot-style like the signature store: identical to rebuilding from
    the union (tested), but only the delta's digests are computed fresh.
    """
    check_out_path(store_path, out_path)
    spark = delta.sparkSession
    new_h = (
        explode_paragraphs(delta, text_col, id_col)
        .select(F.sha2(F.col("para"), 256).alias("h"))
        .distinct()
        .withColumn("pb", _pb_expr())
    )
    merged = _load_pstore(spark, store_path).unionByName(new_h).distinct()
    _PARA.write_meta(out_path)
    _PARA.write(out_path, hashes=merged)


def paragraph_dedup_incremental_oracle_sql(corpus_rel: str, delta_rel: str) -> str:
    """DuckDB mirror of :func:`paragraph_dedup_incremental` — epoch
    precedence: a delta paragraph survives iff its CONTENT is absent from
    the corpus (store membership; owner identity irrelevant) AND this is
    its first (doc_id, pos) occurrence within the delta. Output schema and
    reassembly identical to :func:`paragraph_dedup_oracle_sql`, one row
    per delta document (CTE ``pdi_out``)."""
    return f"""
    pdi_cp AS (
      SELECT unnest(list_transform(string_split(coalesce(text, ''), chr(10)),
                                   l -> trim(l))) AS para
      FROM {corpus_rel}
    ),
    pdi_corp AS (SELECT DISTINCT para FROM pdi_cp WHERE para <> ''),
    pdi_dp AS (
      SELECT doc_id,
             unnest(list_transform(string_split(coalesce(text, ''), chr(10)),
                                   l -> trim(l))) AS para,
             unnest(generate_series(
                 0, len(string_split(coalesce(text, ''), chr(10))) - 1)) AS pos
      FROM {delta_rel}
    ),
    pdi_np AS (SELECT * FROM pdi_dp WHERE para <> ''),
    pdi_win AS (
      SELECT doc_id, pos, para,
             row_number() OVER (PARTITION BY para ORDER BY doc_id, pos) AS rn
      FROM pdi_np
    ),
    pdi_kept AS (
      SELECT w.doc_id, w.pos, w.para
      FROM pdi_win w
      WHERE w.rn = 1
        AND NOT EXISTS (SELECT 1 FROM pdi_corp c WHERE c.para = w.para)
    ),
    pdi_tot AS (SELECT doc_id, count(*) AS n_paras FROM pdi_np GROUP BY doc_id),
    pdi_agg AS (
      SELECT doc_id, count(*) AS n_kept,
             string_agg(para, chr(10) ORDER BY pos) AS cleaned_text
      FROM pdi_kept GROUP BY doc_id
    ),
    pdi_out AS (
      SELECT d.doc_id,
             CAST(coalesce(t.n_paras, 0) AS BIGINT) AS n_paras,
             CAST(coalesce(a.n_kept, 0) AS BIGINT) AS n_kept,
             coalesce(a.cleaned_text, '') AS cleaned_text
      FROM {delta_rel} d
      LEFT JOIN pdi_tot t USING (doc_id)
      LEFT JOIN pdi_agg a USING (doc_id)
    )
    """


def paragraph_dedup_oracle_sql(source_rel: str = "documents") -> str:
    """DuckDB mirror of :func:`paragraph_dedup` over ``source_rel``
    (a relation with doc_id + text). Partitions by the paragraph CONTENT
    (sha2 groups == content groups); the oracle may use the window
    formulation the Spark side deliberately avoids — at oracle scale
    there is no hot key.
    """
    return f"""
    pd_p AS (
      SELECT doc_id,
             unnest(list_transform(string_split(coalesce(text, ''), chr(10)),
                                   l -> trim(l))) AS para,
             unnest(generate_series(
                 0, len(string_split(coalesce(text, ''), chr(10))) - 1)) AS pos
      FROM {source_rel}
    ),
    pd_np AS (SELECT * FROM pd_p WHERE para <> ''),
    pd_win AS (
      SELECT doc_id, pos, para,
             row_number() OVER (PARTITION BY para ORDER BY doc_id, pos) AS rn
      FROM pd_np
    ),
    pd_kept AS (SELECT doc_id, pos, para FROM pd_win WHERE rn = 1),
    pd_tot AS (SELECT doc_id, count(*) AS n_paras FROM pd_np GROUP BY doc_id),
    pd_agg AS (
      SELECT doc_id, count(*) AS n_kept,
             string_agg(para, chr(10) ORDER BY pos) AS cleaned_text
      FROM pd_kept GROUP BY doc_id
    ),
    pd_out AS (
      SELECT d.doc_id,
             CAST(coalesce(t.n_paras, 0) AS BIGINT) AS n_paras,
             CAST(coalesce(a.n_kept, 0) AS BIGINT) AS n_kept,
             coalesce(a.cleaned_text, '') AS cleaned_text
      FROM {source_rel} d
      LEFT JOIN pd_tot t USING (doc_id)
      LEFT JOIN pd_agg a USING (doc_id)
    )
    """
