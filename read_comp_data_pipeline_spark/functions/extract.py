"""Content extraction: the header-breadcrumb scanner (W1) and metadata
fallback chains (F10). The ingest path's lead section is Column expressions
(:func:`first_section_exprs`); :func:`scan_first_section` is the Python
reference they are tested against.

Behavioral port (NOT a code port) of the reference's stateful ordered scan
``/root/reference/search_scrape.py:434-620`` (DFS copy) /
``:1150-1336`` (BFS copy), preserving its quirks exactly:

* marker dispatch is **most-specific-first** and uses substring ``find``,
  not ``startswith`` — a marker anywhere in the line triggers
  (``search_scrape.py:453,:476,:500,:525,:552``);
* the h5 branch strips with ``replace("===", "")`` which leaves a literal
  ``== … ==`` wrapper in the stored h5 header (``:497``);
* breadcrumb = non-empty ``prev_h2..h6`` joined ``" - "`` — with a leading
  ``" - "`` when ``prev_h2`` is empty but a deeper level is set; falls back
  to the running header (initially the page title) when all are empty
  (``:458-470``);
* a row is emitted on *every* header line, even with an empty accumulated
  description (``:471``); the post-loop flush emits only when description
  is non-empty (``:600-620``);
* scanning stops when a **new h2** contains ``References`` or ``Notes``
  (``:592-595``) — deeper headers never trigger the break.

Per-document state (prev_h2..h6 carry-forward) never crosses rows, so no
Spark window is needed: one document in → N section rows out, via a pandas
UDF returning ``array<struct<heading,text>>`` + ``explode`` (SURVEY §2.10).
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from read_comp_data_pipeline_spark.schemas import METADATA_SCHEMA, SECTION_SCHEMA

# (marker, level, strip-token) in reference dispatch order — most specific
# first. Strip tokens reproduce the reference's exact replace() calls,
# including the h5 quirk (replace "===" on a 5-equals fence leaves "==").
_MARKERS = (
    ("====== ", 6, "==="),
    ("===== ", 5, "==="),
    ("==== ", 4, "===="),
    ("=== ", 3, "==="),
    ("== ", 2, "=="),
)


def scan_sections(title: str | None, content: str | None) -> list[tuple[str, str]]:
    """Pure-Python single-document scanner; the pandas UDF maps this over
    Arrow batches, and tests property-check it against an independent
    re-implementation of the reference loop."""
    if content is None:
        return []
    header = title or ""
    prev = {2: "", 3: "", 4: "", 5: "", 6: ""}
    description = ""
    out: list[tuple[str, str]] = []

    def breadcrumb() -> str:
        total = ""
        if prev[2] != "":
            total += prev[2]
        for lvl in (3, 4, 5, 6):
            if prev[lvl] != "":
                total += " - " + prev[lvl]
        if total == "":
            total = header
        return total

    for line in content.split("\n"):
        hit = None
        for marker, lvl, strip_tok in _MARKERS:
            if line.find(marker) != -1:
                hit = (lvl, strip_tok)
                break
        if hit is None:
            description += line + " "
            continue
        lvl, strip_tok = hit
        out.append((breadcrumb(), description.strip()))
        new_header = line.replace(strip_tok, "").strip()
        header = new_header
        prev[lvl] = new_header
        for deeper in range(lvl + 1, 7):
            prev[deeper] = ""
        description = ""
        if lvl == 2 and (
            new_header.find("References") != -1 or new_header.find("Notes") != -1
        ):
            break
    if description != "":
        out.append((breadcrumb(), description.strip()))
    return out


def scan_first_section(title: str | None, content: str | None) -> tuple[str | None, str | None]:
    """First (heading, text) pair of :func:`scan_sections`, computed in
    O(prefix): the scan stops at the first header line instead of walking
    the whole document — the ingest hot path stores only the lead section
    (TARGET_SCHEMA heading/text), so scanning past it is pure waste on
    multi-KB documents. (None, None) only for null content — the
    well-defined form of what ``element_at(scan_sections(...), 1)`` raises
    on under ANSI mode. Non-null content always yields a section (the
    reference's final flush runs whenever any line was accumulated, and
    every string has ≥1 line).

    Equivalence with ``scan_sections(...)[0]`` is property-tested
    (test_first_section_equals_full_scan).
    """
    if content is None:
        return (None, None)
    header = title or ""
    desc_parts: list[str] = []
    pos, n = 0, len(content)
    while pos <= n:
        nl = content.find("\n", pos)
        line = content[pos:] if nl == -1 else content[pos:nl]
        for marker, _lvl, _strip in _MARKERS:
            if line.find(marker) != -1:
                return (header, " ".join(desc_parts).strip() if desc_parts else "")
        desc_parts.append(line)
        if nl == -1:
            break
        pos = nl + 1
    return (header, " ".join(desc_parts).strip())


def first_section_exprs(title: Column, content: Column) -> tuple[Column, Column]:
    """:func:`scan_first_section` as pure JVM Column expressions — the
    ingest hot path's extraction with ZERO JVM↔Python boundary (guide §4:
    built-ins beat any UDF; a pandas UDF would ship every epoch's full
    content through Arrow both ways and loop rows in Python).

    Equivalence argument (property-tested against ``scan_first_section``):

    * ``scan_first_section`` never updates ``header`` before its first
      return, so heading ≡ ``title or ""`` (null only for null content);
    * every marker in ``_MARKERS`` contains ``"== "`` as a substring and
      any ``"== "`` hit IS the level-2 marker, so the first marker LINE is
      exactly the line containing the first ``"== "`` occurrence;
    * text ≡ the lines strictly before that line, joined with a single
      space, stripped — i.e. the prefix up to the last newline before the
      match, newlines replaced by spaces. No marker anywhere → the whole
      content.

    Whitespace note: the strip uses Java's ``\\s`` (space/tab/newline/CR/
    FF/VT) where Python's ``str.strip()`` also covers exotic Unicode
    whitespace — identical on any ASCII corpus (the WAL generator's
    alphabet, and every fixture), and property-tested so any future
    divergence fails loudly.
    """
    p = F.instr(content, "== ")
    left = F.substring(content, F.lit(1), p - 1)
    rp = F.instr(F.reverse(left), "\n")
    prefix = F.when(rp == 0, F.lit("")).otherwise(
        F.substring(left, F.lit(1), F.length(left) - rp)
    )
    raw = F.when(p == 0, content).otherwise(prefix)
    text = F.regexp_replace(
        F.replace(raw, F.lit("\n"), F.lit(" ")), r"^\s+|\s+$", ""
    )
    not_null = content.isNotNull()
    return (
        F.when(not_null, F.coalesce(title, F.lit(""))),
        F.when(not_null, text),
    )


@pandas_udf(T.ArrayType(SECTION_SCHEMA))
def scan_sections_udf(title: pd.Series, content: pd.Series) -> pd.Series:
    return pd.Series(
        [
            [{"heading": h, "text": t} for h, t in scan_sections(ti, c)]
            for ti, c in zip(title, content)
        ]
    )


def explode_sections(df: DataFrame, title_col: str = "title", content_col: str = "content") -> DataFrame:
    """UDTF-shaped expansion: one document row → N (heading, text) rows,
    preserving section order via posexplode (the reference's output-file
    line order)."""
    sec = F.posexplode(scan_sections_udf(F.col(title_col), F.col(content_col)))
    return (
        df.select("*", sec.alias("section_no", "_s"))
        .withColumn("heading", F.col("_s.heading"))
        .withColumn("text", F.col("_s.text"))
        .drop("_s")
    )


# ---------------------------------------------------------------------------
# Title extraction — F10 coalesce chain, pure Column expressions (JVM-side;
# no UDF needed). Chain: first h2 heading → first non-empty line → path.
# Analogue of scrape.py:124-138 (<title> → og:title → first <h1>).
# ---------------------------------------------------------------------------
_H2_RE = r"==\s*([^=\n][^\n=]*[^=\s\n]|[^=\s\n])\s*=="


def title_expr(content: Column, fallback: Column) -> Column:
    h2 = F.regexp_extract(content, _H2_RE, 1)
    first_line = F.trim(F.substring_index(content, "\n", 1))
    return F.coalesce(
        F.nullif(h2, F.lit("")),
        F.nullif(first_line, F.lit("")),
        fallback,
    )


def content_sha_expr(content: Column) -> Column:
    """The per-row invariant (BASELINE.json input_hint): sha256 of the utf-8
    content — built-in, codegen'd, never a UDF."""
    return F.sha2(F.encode(content, "utf-8"), 256)


# ---------------------------------------------------------------------------
# 5-field page metadata (P8/F10) — scrape.py:104-199's fallback chains over
# an HTML-ish document, as one Series→DataFrame pandas UDF.
# ---------------------------------------------------------------------------
_TITLE_TAG = re.compile(r"<title[^>]*>(.*?)</title>", re.I | re.S)
_OG = {
    "title": re.compile(r'<meta[^>]+property=["\']og:title["\'][^>]+content=["\']([^"\']*)', re.I),
    "description": re.compile(r'<meta[^>]+property=["\']og:description["\'][^>]+content=["\']([^"\']*)', re.I),
    "image": re.compile(r'<meta[^>]+property=["\']og:image["\'][^>]+content=["\']([^"\']*)', re.I),
}
_META_DESC = re.compile(r'<meta[^>]+name=["\']description["\'][^>]+content=["\']([^"\']*)', re.I)
_H1 = re.compile(r"<h1[^>]*>(.*?)</h1>", re.I | re.S)
_P = re.compile(r"<p[^>]*>(.*?)</p>", re.I | re.S)
_IMG = re.compile(r'<img[^>]+src=["\']([^"\']*)', re.I)
_ICON = re.compile(r'<link[^>]+rel=["\'](?:shortcut )?icon["\'][^>]+href=["\']([^"\']*)', re.I)
_THEME = re.compile(r'<meta[^>]+name=["\']theme-color["\'][^>]+content=["\']([^"\']*)', re.I)
_TAGS = re.compile(r"<[^>]+>")


def _first(rx: re.Pattern, s: str) -> str | None:
    m = rx.search(s)
    if not m:
        return None
    v = _TAGS.sub("", m.group(1)).strip()
    return v or None


def extract_page_metadata(html: str | None, url: str | None = None) -> dict:
    """Fallback chains per scrape.py: title = <title> → og:title → first <h1>;
    description = meta[description] → og:description → first <p>; image =
    og:image → first <img src>; favicon = <link rel=icon> → url+/favicon.ico;
    theme_color = meta[theme-color] → None."""
    if not html:
        return {k: None for k in ("title", "description", "image", "favicon", "theme_color")}
    favicon = _first(_ICON, html)
    if favicon is None and url:
        favicon = url.rstrip("/") + "/favicon.ico"
    return {
        "title": _first(_TITLE_TAG, html) or _first(_OG["title"], html) or _first(_H1, html),
        "description": _first(_META_DESC, html) or _first(_OG["description"], html) or _first(_P, html),
        "image": _first(_OG["image"], html) or _first(_IMG, html),
        "favicon": favicon,
        "theme_color": _first(_THEME, html),
    }


@pandas_udf(METADATA_SCHEMA)
def page_metadata_udf(html: pd.Series, url: pd.Series) -> pd.DataFrame:
    return pd.DataFrame([extract_page_metadata(h, u) for h, u in zip(html, url)])
