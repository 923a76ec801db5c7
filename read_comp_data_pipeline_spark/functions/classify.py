"""Keyword-containment classifier (SURVEY §2.2 P5, §2.4 A1) — pure Column
expressions, no UDF (codegen'd JVM-side, pushdown-friendly).

Reference semantics (``/root/reference/search_scrape.py:365-415`` DFS,
``:1084-1138`` BFS): lowercase substring containment of each term over the
full content; keep the row iff **≥ threshold** (2) terms match. The BFS
copy adds a 13th term ``tribunal`` (``:1100-1102``) — the reference's
informal schema evolution; both term sets are exposed.

``has_keyword`` is the any-of variant from ``query_gpt.py:8-12``.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# search_scrape.py:368-381 (DFS, 12 terms)
TERMS_DFS = [
    "law", "legal", "statute", "legislative", "judicial", "legislation",
    "legislature", "government", "court", "due process", "jurisprudence",
    "jury",
]
# search_scrape.py:1088-1102 (BFS) adds "tribunal"
TERMS_BFS = TERMS_DFS + ["tribunal"]

DEFAULT_THRESHOLD = 2  # search_scrape.py:385, :1106


def keyword_hits(content: Column, terms: list[str] | None = None) -> Column:
    """Number of matching terms — the reference's ``sum([bool, ...])``
    (A1/F14).

    Shape matters at scale: this is a plain sum of int-cast containment
    checks, NOT ``size(filter(array(...), identity))`` — higher-order
    array functions are interpreted (they drop the whole projection out of
    WholeStageCodegen), measured at ~2× the cost of the codegen'd sum on
    content-sized strings. Same values, cheaper plan.

    The 13 checks share one ``lower(content)`` node, but Spark's
    subexpression elimination only shares what every row evaluates: a
    CASE WHEN's first condition, a COALESCE's first argument, and what
    appears in every branch. Inside a CASE WHEN branch — as the ingest's
    ``live()`` wraps every enrichment column — the lowering runs once per
    term. A caller that wraps the count computes ``lower`` in an
    unconditional projection of its own and counts over that column
    (``streaming/ingest._extraction_layers``).

    NULL contract: a NULL ``content`` counts as 0 hits (the reference's
    ``sum([t in page for t in terms])`` never sees None — an unfetchable
    page is skipped upstream — and the pre-round-2 ``size(filter(...))``
    form returned 0 too). Without the coalesce, ``contains`` propagates
    NULL through the sum and downstream ``least``/aggregations silently
    skip the row instead of scoring it 0.
    """
    return _lowered_hits(F.lower(content), terms)


def _lowered_hits(low: Column, terms: list[str] | None = None) -> Column:
    """:func:`keyword_hits` over a column that is already lowercase."""
    out = None
    for t in terms or TERMS_BFS:
        e = low.contains(t).cast("int")
        out = e if out is None else out + e
    return F.coalesce(out, F.lit(0))


def passes_classifier(
    content: Column,
    terms: list[str] | None = None,
    threshold: int = DEFAULT_THRESHOLD,
) -> Column:
    """The ≥2-of-N gate (P5)."""
    return keyword_hits(content, terms) >= threshold


def has_keyword(text: Column, terms: list[str] | None = None) -> Column:
    """Any-of containment (query_gpt.py:8-12) — codegen'd OR chain."""
    terms = terms or TERMS_BFS
    low = F.lower(text)
    out = None
    for t in terms:
        e = low.contains(t)
        out = e if out is None else out | e
    return out
