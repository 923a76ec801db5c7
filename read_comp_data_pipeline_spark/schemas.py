"""Fixed StructType schemas for every table the engine owns.

The reference is schema-implicit (dict keys + line splits,
``/root/reference/beautifulsoup_tutorial/scrape.py:114-120``,
``/root/reference/query_gpt.py:52``); the engine makes every schema
explicit (SURVEY.md §1.3) and evolves them transactionally
(``streaming/evolve.py``).

Input shape is mandated by BASELINE.json:input_hint:
``(repo, path, commit, lang, content)`` plus the WAL envelope
``(seq, epoch, ts, op)`` defined in FIXTURES.md §2.
"""

from __future__ import annotations

from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# WAL / change-event log (FIXTURES.md §2). op ∈ {'I','U','D'}; content is
# null for deletes. seq is a strictly-increasing global sequence number:
# the total order the reference's FIFO frontier had implicitly
# (/root/reference/search_scrape.py:940 `unseen_links.pop(0)`).
# ---------------------------------------------------------------------------
WAL_SCHEMA = T.StructType(
    [
        T.StructField("seq", T.LongType(), False),
        T.StructField("epoch", T.LongType(), False),
        T.StructField("ts", T.TimestampType(), False),
        T.StructField("op", T.StringType(), False),
        T.StructField("repo", T.StringType(), False),
        T.StructField("path", T.StringType(), False),
        T.StructField("commit", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
        T.StructField("content", T.StringType(), True),
    ]
)

# Key columns: the MERGE ON condition and the seen-set identity
# (reference: seen_urls/seen_page_titles, search_scrape.py:336-337).
KEY_COLS = ["repo", "path"]

# ---------------------------------------------------------------------------
# Target table (FIXTURES.md §4): input columns + extraction fields computed
# by Column expressions (title/heading/text — the reference's metadata
# dict + breadcrumb rows, scrape.py:113-121 / search_scrape.py:434-620)
# + the sha256 per-row invariant (input_hint).
# ---------------------------------------------------------------------------
TARGET_SCHEMA = T.StructType(
    [
        T.StructField("repo", T.StringType(), False),
        T.StructField("path", T.StringType(), False),
        T.StructField("commit", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
        T.StructField("content", T.StringType(), True),
        T.StructField("title", T.StringType(), True),
        T.StructField("heading", T.StringType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("content_sha", T.StringType(), True),
        T.StructField("seq", T.LongType(), True),  # lineage: applying event
        # per-document analysis computed at ingest (classifier / quality /
        # token count / fingerprint — SURVEY §2.2 P5, training-data ops)
        T.StructField("kw_hits", T.IntegerType(), True),
        T.StructField("quality", T.DoubleType(), True),
        T.StructField("n_tokens", T.LongType(), True),
        T.StructField("fingerprint", T.StringType(), True),
    ]
)

# Extracted (breadcrumb, text) rows — the reference's tab-separated output
# lines (search_scrape.py:471), one row per section per document.
SECTION_SCHEMA = T.StructType(
    [
        T.StructField("heading", T.StringType(), True),
        T.StructField("text", T.StringType(), True),
    ]
)

# 5-field page metadata struct (scrape.py:113-121).
METADATA_SCHEMA = T.StructType(
    [
        T.StructField("title", T.StringType(), True),
        T.StructField("description", T.StringType(), True),
        T.StructField("image", T.StringType(), True),
        T.StructField("favicon", T.StringType(), True),
        T.StructField("theme_color", T.StringType(), True),
    ]
)

# ---------------------------------------------------------------------------
# Commit manifest (FIXTURES.md §4): idempotency key (partition, epoch);
# the engine's replacement for seen_urls.txt checkpoints
# (search_scrape.py:817-823, :1386-1392).
# ---------------------------------------------------------------------------
MANIFEST_SCHEMA = T.StructType(
    [
        T.StructField("partition", T.IntegerType(), False),
        T.StructField("epoch", T.LongType(), False),
        T.StructField("committed_ts", T.TimestampType(), False),
        T.StructField("rows_applied", T.LongType(), False),
        T.StructField("src_seq_lo", T.LongType(), True),
        T.StructField("src_seq_hi", T.LongType(), True),
    ]
)

METRICS_SCHEMA = T.StructType(
    [
        T.StructField("epoch", T.LongType(), False),
        T.StructField("partition", T.IntegerType(), False),
        T.StructField("events", T.LongType(), False),
        T.StructField("bytes", T.LongType(), False),
        T.StructField("secs", T.DoubleType(), False),
        T.StructField("events_per_sec", T.DoubleType(), False),
        T.StructField("lag_events", T.LongType(), False),
    ]
)

# Dead-letter table (SURVEY §2.1 S4/S5 — the reference's failure counter
# and 3×300s retry machine become a quarantine append).
QUARANTINE_SCHEMA = T.StructType(
    list(WAL_SCHEMA.fields)
    + [
        T.StructField("error", T.StringType(), True),
        T.StructField("attempts", T.IntegerType(), True),
    ]
)
