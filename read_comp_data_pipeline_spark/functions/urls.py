"""URL predicates & normalizers (SURVEY §2.2 P1, P3, P4) — single Column
expressions so Catalyst folds them into one codegen'd predicate and pushes
them into scans. P2 (namespace pages) is disabled in the reference and not
ported.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

WIKI_BASE = "https://en.wikipedia.org"

# The 18-clause conjunction of search_scrape.py:120-140: reject namespace
# pages, edit links, media extensions, fragment-only links, off-site http.
_REJECT_SUBSTRINGS = [
    "File:", "Wikipedia:", "Template:", "Template_talk:", "Help:",
    "Category:", "Talk:", "User:", "User_talk:", "Special:Contributions",
    "edit",
]
_REJECT_EXTENSIONS = [".svg", ".jpg", ".png", ".js", ".mp3", ".mp4"]


def url_accept(url: Column) -> Column:
    """P1 — accept iff no reject clause fires (search_scrape.py:120-140)."""
    cond = F.lit(True)
    for s in _REJECT_SUBSTRINGS:
        cond = cond & ~url.contains(s)
    for ext in _REJECT_EXTENSIONS:
        cond = cond & ~url.endswith(ext)
    cond = cond & ~url.startswith("#")
    cond = cond & ~(url.startswith("http") & ~url.contains("wikipedia.org"))
    return cond


def strip_fragment(url: Column) -> Column:
    """P3 — drop '#...' suffix (search_scrape.py:56-65)."""
    return F.substring_index(url, "#", 1)


def absolutize(href: Column, base: str = WIKI_BASE) -> Column:
    """P4 — prefix the base onto root-relative hrefs (search_scrape.py:23-28)."""
    return F.when(href.startswith("/"), F.concat(F.lit(base), href)).otherwise(href)
