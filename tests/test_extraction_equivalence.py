"""The extraction hoists ``lower(content)`` and ``length(content)`` into an
unconditional layer and counts tokens on byte lengths. Its output must
equal the earlier formulas, written out below, on rows built to find
where a character count and a byte count, or a hoisted and an inline
expression, could part."""

from __future__ import annotations

from pyspark.sql import functions as F

from read_comp_data_pipeline_spark.functions.classify import keyword_hits
from read_comp_data_pipeline_spark.functions.extract import (
    content_sha_expr,
    first_section_exprs,
    title_expr,
)
from read_comp_data_pipeline_spark.streaming.ingest import prepare_target_rows


def _inline_prepare(df):
    """Every enrichment subexpression written inside live()'s CASE WHEN,
    token count on character lengths."""
    is_del = F.col("op") == "D"
    live = lambda c: F.when(is_del, F.lit(None)).otherwise(c)  # noqa: E731
    content = F.col("content")
    df = df.withColumn("title", live(title_expr(content, F.col("path"))))
    h1, t1 = first_section_exprs(F.col("title"), content)
    df = (
        df.withColumn("heading", F.when(~is_del, h1))
        .withColumn("text", F.when(~is_del, t1))
        .withColumn("content_sha", live(content_sha_expr(content)))
        .withColumn("kw_hits", live(keyword_hits(content).cast("int")))
    )
    n_tokens = (
        F.length(content) - F.length(F.replace(content, F.lit(" "), F.lit(""))) + 1
    ).cast("long")
    quality = F.round(
        F.least(
            F.lit(1.0),
            F.when((F.length(content) >= 200) & (F.length(content) <= 50000), 0.5)
            .otherwise(0.2)
            + F.least(F.col("kw_hits").cast("double") / 10.0, F.lit(0.5)),
        ),
        4,
    )
    return (
        df.withColumn("quality", live(quality))
        .withColumn("n_tokens", live(n_tokens))
        .withColumn("fingerprint", live(F.substring(F.col("content_sha"), 1, 32)))
    )


DOCS = [
    ("U", None),  # NULL-content upsert
    ("D", None),
    ("D", "a deleted law court page"),
    ("U", ""),
    ("U", " "),
    ("U", "     "),
    ("U", "law  and   court"),
    ("U", "  leading and trailing  "),
    ("U", "tab\tseparated\tlaw"),
    ("U", "cr\r\nline\rbreaks Court"),
    ("U", "non\u00a0breaking\u00a0space legal\u00a0"),
    ("U", "café statute é ü"),
    ("U", "法律 法院 court 憲法"),
    ("U", "emoji 🎉 law 👩‍⚖️ jury 🏛️"),
    ("U", "İSTANBUL LAW COURT ΣΊΣΥΦΟΣ"),
    ("U", "Title line\n== Section ==\nbody with Due Process\n=== Sub ===\nmore"),
    # 150 characters, 300 bytes: quality's size band is on characters
    ("U", "é" * 150),
    ("U", "é" * 199 + "x"),  # 200 characters: in the band
    ("U", "Government " * 20),
    ("U", "x" * 50001),
    ("U", "ü" * 50000),
]


def test_prepare_target_rows_matches_the_inline_formulas(spark):
    df = spark.createDataFrame(
        [("r", f"p{i}", "c", "py", content, i, op) for i, (op, content) in enumerate(DOCS)],
        "repo string, path string, commit string, lang string, "
        "content string, seq long, op string",
    )
    got, want = prepare_target_rows(df), _inline_prepare(df)
    assert got.schema == want.schema
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0
    # the rows exercise what they are there for
    r = {row["path"]: row for row in got.collect()}
    assert r["p16"]["quality"] == 0.2 and r["p17"]["quality"] == 0.5
    assert r["p0"]["kw_hits"] == 0 and r["p0"]["n_tokens"] is None
    assert r["p2"]["kw_hits"] is None and r["p2"]["quality"] is None
    assert r["p3"]["n_tokens"] == 1 and r["p5"]["n_tokens"] == 6
    assert r["p13"]["n_tokens"] == 6 and r["p14"]["kw_hits"] == 2
