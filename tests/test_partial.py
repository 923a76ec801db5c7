"""Partial-column (sparse) update battery — operators/partial.py +
HashMergeTable.merge_partial.

Ground truth is a tiny pure-Python cell-store interpreter (`_truth`):
per (key, column) keep the latest provided (seq, value); a delete wipes
older cells and removes the row if final. Every Spark result is compared
against it value-exactly.
"""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from read_comp_data_pipeline_spark.operators.merge import HashMergeTable
from read_comp_data_pipeline_spark.operators.partial import (
    apply_partial,
    fold_partial_updates,
    partial_schema,
    shadow_col,
)

VALUE_COLS = ["title", "text"]
EVENT_SCHEMA = (
    "seq long, repo string, path string, op string, title string, text string"
)


def _truth(events):
    """Reference interpreter: events = [(seq, repo, path, op, title, text)]
    in any order; returns {key: {'title': (v, s)|None, 'text': ..., 'seq': n}}
    for live rows (delete-final keys absent)."""
    state: dict = {}
    for seq, repo, path, op, title, text in sorted(events):
        k = (repo, path)
        cells = state.setdefault(k, {"title": None, "text": None, "seq": -1})
        cells["seq"] = max(cells["seq"], seq)
        if op == "D":
            cells["title"] = cells["text"] = None
            cells["deleted"] = True
            continue
        cells["deleted"] = False
        for col, v in (("title", title), ("text", text)):
            if v is not None:
                cells[col] = (v, seq)
    return {
        k: c for k, c in state.items() if not c.get("deleted", False)
    }


def _rows_from_table(df):
    out = {}
    for r in df.collect():
        out[(r["repo"], r["path"])] = {
            "title": (r["title"], r[shadow_col("title")]) if r["title"] is not None else None,
            "text": (r["text"], r[shadow_col("text")]) if r["text"] is not None else None,
            "seq": r["seq"],
        }
    return out


def _assert_matches(df, events):
    got = _rows_from_table(df)
    want = _truth(events)
    assert set(got) == set(want), (set(got) ^ set(want))
    for k, w in want.items():
        g = got[k]
        assert g["title"] == w["title"], (k, g["title"], w["title"])
        assert g["text"] == w["text"], (k, g["text"], w["text"])
        assert g["seq"] == w["seq"], (k, g["seq"], w["seq"])


def _random_events(seed: int, n: int = 300, keys: int = 30):
    rng = random.Random(seed)
    evs = []
    for seq in range(n):
        kid = rng.randrange(keys)
        op = rng.choices(["I", "U", "D"], weights=[1, 7, 1])[0]
        title = f"t{seq}" if op != "D" and rng.random() < 0.4 else None
        text = f"x{seq}" if op != "D" and rng.random() < 0.6 else None
        evs.append((seq, f"r{kid % 3}", f"p{kid}", op, title, text))
    return evs


def _make_table(spark, path) -> HashMergeTable:
    schema = partial_schema(
        [
            T.StructField("title", T.StringType(), True),
            T.StructField("text", T.StringType(), True),
        ]
    )
    return HashMergeTable.create(
        spark, str(path), schema, n_buckets=4, mode="cow"
    )


# ── fold ─────────────────────────────────────────────────────────────────────


def test_fold_latest_provided_value_per_column(spark):
    evs = [
        (1, "r", "p", "I", "t1", "x1"),
        (2, "r", "p", "U", None, "x2"),
        (3, "r", "p", "U", "t3", None),
    ]
    f = fold_partial_updates(spark.createDataFrame(evs, EVENT_SCHEMA), VALUE_COLS)
    r = f.collect()[0]
    assert (r["title"], r[shadow_col("title")]) == ("t3", 3)
    assert (r["text"], r[shadow_col("text")]) == ("x2", 2)
    assert (r["seq"], r["op"]) == (3, "U")


def test_fold_delete_masks_older_values(spark):
    evs = [
        (1, "r", "p", "U", "t1", "x1"),
        (2, "r", "p", "D", None, None),
        (3, "r", "p", "U", None, "x3"),
    ]
    r = fold_partial_updates(
        spark.createDataFrame(evs, EVENT_SCHEMA), VALUE_COLS
    ).collect()[0]
    assert r["title"] is None and r[shadow_col("title")] is None  # pre-delete
    assert (r["text"], r[shadow_col("text")]) == ("x3", 3)  # post-delete
    assert r["op"] == "U" and r["_del_seq"] == 2


def test_fold_is_one_mapside_combinable_aggregate(spark):
    evs = _random_events(0)
    df = fold_partial_updates(spark.createDataFrame(evs, EVENT_SCHEMA), VALUE_COLS)
    phys = df._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in phys, phys
    # partial (map-side) aggregation before the exchange — the skew answer
    assert phys.count("HashAggregate") >= 2 or "SortAggregate" in phys, phys
    assert "Exchange" in phys


# ── apply: replay through the table ─────────────────────────────────────────


def _replay(spark, table, events, epoch_size=60, order=None):
    """Replay in epoch slices. ``order`` permutes the SLICES (late-arriving
    WAL ranges) while commit epoch ids stay monotone — the table's epoch
    watermark rejects non-monotone epoch ids by design, but slice content
    may arrive in any order."""
    n_epochs = (max(e[0] for e in events) // epoch_size) + 1
    slices = list(range(n_epochs))
    if order is not None:
        slices = order
    df = spark.createDataFrame(events, EVENT_SCHEMA)
    for commit_epoch, sl_id in enumerate(slices):
        lo, hi = sl_id * epoch_size, (sl_id + 1) * epoch_size - 1
        sl = df.where(F.col("seq").between(lo, hi))
        table.merge_partial(sl, commit_epoch, VALUE_COLS, src_seq_lo=lo, src_seq_hi=hi)
    return table


def test_partial_replay_matches_interpreter(spark, tmp_path):
    evs = _random_events(1)
    t = _replay(spark, _make_table(spark, tmp_path / "pt_replay"), evs)
    _assert_matches(t.read(), evs)


def test_partial_update_does_not_clobber_unset_columns(spark, tmp_path):
    evs = [
        (1, "r", "p", "I", "t1", "x1"),
        (70, "r", "p", "U", None, "x70"),  # second epoch: text only
    ]
    t = _replay(spark, _make_table(spark, tmp_path / "pt_noclobber"), evs)
    r = t.read().collect()[0]
    assert (r["title"], r[shadow_col("title")]) == ("t1", 1)  # survived
    assert (r["text"], r[shadow_col("text")]) == ("x70", 70)
    assert r["seq"] == 70


def test_partial_replay_idempotent(spark, tmp_path):
    evs = _random_events(2)
    t = _replay(spark, _make_table(spark, tmp_path / "pt_idem"), evs)
    before = sorted(map(tuple, t.read().collect()))
    # re-merge every epoch: all must skip, state bit-identical
    df = spark.createDataFrame(evs, EVENT_SCHEMA)
    for ep in range(5):
        res = t.merge_partial(df, ep, VALUE_COLS)
        assert res["skipped"], res
    assert sorted(map(tuple, t.read().collect())) == before


def test_epoch_permutations_commute_for_updates(spark, tmp_path):
    """Per-column argmax conflict resolution makes UPDATE application
    order-insensitive: any epoch permutation converges bit-identically
    (deletes keep the engine's monotone contract and are excluded here)."""
    evs = [e for e in _random_events(3) if e[3] != "D"]
    states = []
    for perm_seed in range(3):
        order = list(range(5))
        random.Random(perm_seed).shuffle(order)
        t = _replay(spark, _make_table(spark, tmp_path / f"pt_perm{perm_seed}"), evs, order=order)
        states.append(sorted(map(tuple, t.read().collect())))
    assert states[0] == states[1] == states[2]
    _assert_matches_rows = _truth(evs)
    assert len(states[0]) == len(_assert_matches_rows)


def test_delete_then_sparse_reinsert_across_epochs(spark, tmp_path):
    evs = [
        (1, "r", "p", "I", "t1", "x1"),
        (65, "r", "p", "D", None, None),   # epoch 1: delete
        (130, "r", "p", "U", None, "x130"),  # epoch 2: sparse re-insert
    ]
    t = _replay(spark, _make_table(spark, tmp_path / "pt_del"), evs)
    r = t.read().collect()[0]
    assert r["title"] is None  # pre-delete value did not resurrect
    assert (r["text"], r["seq"]) == ("x130", 130)


def test_final_delete_removes_row(spark, tmp_path):
    evs = [(1, "r", "p", "I", "t1", "x1"), (65, "r", "p", "D", None, None)]
    t = _replay(spark, _make_table(spark, tmp_path / "pt_gone"), evs)
    assert t.read().count() == 0


def test_apply_partial_target_never_shuffles(spark):
    """Scale shape: the target leaves via broadcast anti/inner joins only —
    no Exchange on the target lineage, no sort anywhere."""
    tgt_schema = partial_schema(
        [
            T.StructField("title", T.StringType(), True),
            T.StructField("text", T.StringType(), True),
        ]
    )
    tgt = spark.createDataFrame(
        [("r", "p", "t", 1, "x", 1, 1)], tgt_schema
    )
    folded = fold_partial_updates(
        spark.createDataFrame([(2, "r", "p", "U", "t2", None)], EVENT_SCHEMA),
        VALUE_COLS,
    )
    out = apply_partial(tgt, folded, VALUE_COLS)
    phys = out._jdf.queryExecution().executedPlan().toString()
    # the TARGET leaves only through broadcast key probes (anti + inner):
    # the one driver-built broadcast is the key-only fkeys relation — the
    # full-row COW probe discipline. The epoch × epoch column-merge join
    # (f ⟕ tmatch) is deliberately shuffled: broadcasting a full-width
    # epoch image through the driver is a serial per-epoch cost that
    # measurably inverted the 8→32 scaling curve.
    assert phys.count("BroadcastHashJoin") >= 2, phys


def test_merge_partial_requires_cow(spark, tmp_path):
    schema = partial_schema([T.StructField("title", T.StringType(), True)])
    t = HashMergeTable.create(
        spark, str(tmp_path), schema, n_buckets=2, mode="mor"
    )
    with pytest.raises(NotImplementedError):
        t.merge_partial(
            spark.createDataFrame(
                [(1, "r", "p", "U", "t")],
                "seq long, repo string, path string, op string, title string",
            ),
            0,
            ["title"],
        )


# ── Structured Streaming composition ─────────────────────────────────────────


def test_stream_partial_matches_batch_and_survives_checkpoint_loss(spark, tmp_path):
    """stream_ingest_partial == epoch-loop merge_partial on the same sparse
    WAL; after a checkpoint-directory loss the replayed mixed batch no-ops
    cell-by-cell (per-column seq awareness) while new files apply."""
    import shutil

    from pyspark.sql import types as T

    from read_comp_data_pipeline_spark.streaming.stream import stream_ingest_partial

    event_schema = T.StructType(
        [
            T.StructField("seq", T.LongType(), False),
            T.StructField("repo", T.StringType(), False),
            T.StructField("path", T.StringType(), False),
            T.StructField("op", T.StringType(), False),
            T.StructField("title", T.StringType(), True),
            T.StructField("text", T.StringType(), True),
        ]
    )
    evs = _random_events(7, n=200, keys=25)
    wal = str(tmp_path / "wal")
    df = spark.createDataFrame([(s, r, p, o, t, x) for s, r, p, o, t, x in evs], event_schema)
    # two initial files so the stream sees multiple batches worth of input
    df.where(F.col("seq") < 100).coalesce(1).write.mode("append").parquet(wal)
    df.where(F.col("seq").between(100, 149)).coalesce(1).write.mode("append").parquet(wal)

    tbl_s = str(tmp_path / "ts")
    cp = str(tmp_path / "cp")
    stream_ingest_partial(spark, wal, tbl_s, cp, VALUE_COLS, event_schema, n_buckets=4)

    # checkpoint loss + late tail: replayed rows must no-op, tail applies
    shutil.rmtree(cp)
    df.where(F.col("seq") >= 150).coalesce(1).write.mode("append").parquet(wal)
    stream_ingest_partial(spark, wal, tbl_s, cp, VALUE_COLS, event_schema, n_buckets=4)

    got = sorted(map(tuple, HashMergeTable(spark, tbl_s).read().collect()))
    batch_t = _replay(spark, _make_table(spark, tmp_path / "pt_sb"), evs, epoch_size=50)
    want = sorted(map(tuple, batch_t.read().collect()))
    assert got == want
    _assert_matches(batch_t.read(), evs)


def test_partial_table_composes_with_changelog_and_rebucket(spark, tmp_path):
    """Maintenance surfaces work unchanged on a partial-update table:
    changes_between classifies per-column updates as row-level
    update_before/after pairs; rebucket preserves values AND shadow seqs."""
    t = HashMergeTable.create(
        spark,
        str(tmp_path),
        partial_schema([T.StructField("title", T.StringType(), True)]),
        n_buckets=2,
        mode="cow",
    )
    E = "seq long, repo string, path string, op string, title string"
    t.merge_partial(
        spark.createDataFrame([(1, "r", "a", "I", "t1"), (2, "r", "b", "I", "t2")], E),
        0, ["title"],
    )
    snap_a = t._snapshot()
    t.merge_partial(
        spark.createDataFrame([(3, "r", "a", "U", "t3"), (4, "r", "c", "I", "t4")], E),
        1, ["title"],
    )
    ch = sorted((r["path"], r["_change_type"]) for r in t.changes_between(snap_a).collect())
    assert ch == [("a", "update_after"), ("a", "update_before"), ("c", "insert")]
    assert t.rebucket(4)["n_buckets"] == 4
    state = sorted((r["path"], r["title"], r[shadow_col("title")]) for r in t.read().collect())
    assert state == [("a", "t3", 3), ("b", "t2", 2), ("c", "t4", 4)]


def test_partial_table_schema_evolution_adds_tracked_column(spark, tmp_path):
    """A sparse feed grows a new tracked column mid-stream: evolve the
    table (metadata-only — value + shadow seq columns added), then merge
    epochs that carry it; old rows read back with NULL/NULL for the new
    pair, existing cells untouched."""
    t = HashMergeTable.create(
        spark,
        str(tmp_path),
        partial_schema([T.StructField("title", T.StringType(), True)]),
        n_buckets=2,
        mode="cow",
    )
    E1 = "seq long, repo string, path string, op string, title string"
    t.merge_partial(spark.createDataFrame([(1, "r", "a", "I", "t1")], E1), 0, ["title"])
    t.evolve_schema(
        partial_schema(
            [
                T.StructField("title", T.StringType(), True),
                T.StructField("text", T.StringType(), True),
            ]
        )
    )
    E2 = E1 + ", text string"
    t.merge_partial(
        spark.createDataFrame(
            [(2, "r", "a", "U", None, "x2"), (3, "r", "b", "I", "t3", None)], E2
        ),
        1,
        ["title", "text"],
    )
    state = sorted(
        (r["path"], r["title"], r[shadow_col("title")], r["text"], r[shadow_col("text")])
        for r in t.read().collect()
    )
    assert state == [("a", "t1", 1, "x2", 2), ("b", "t3", 3, None, None)]


def test_fold_strategies_are_value_identical(spark):
    """hash_fetch (longs-only HashAggregate + semi fetch) and sort_agg
    (one SortAggregate) must fold identically — op normalization aside
    (hash_fetch reports all non-deletes as 'U'; only 'D' is semantic)."""
    evs = _random_events(11, n=400, keys=40)
    df = spark.createDataFrame(evs, EVENT_SCHEMA)
    cols = ["repo", "path", "seq", "_del_seq", "title", "_s_title", "text", "_s_text"]
    a = fold_partial_updates(df, VALUE_COLS, strategy="hash_fetch").select(*cols)
    b = fold_partial_updates(df, VALUE_COLS, strategy="sort_agg").select(*cols)
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))
    # delete flag parity ('D' is the only op value apply_partial reads)
    da = {(r["repo"], r["path"]) for r in fold_partial_updates(df, VALUE_COLS).where("op = 'D'").collect()}
    db = {(r["repo"], r["path"]) for r in fold_partial_updates(df, VALUE_COLS, strategy="sort_agg").where("op = 'D'").collect()}
    assert da == db


def test_hash_fetch_fold_never_sorts_the_payload(spark):
    """The scale property: HashAggregate (not SortAggregate) does the
    fold, and no Sort node anywhere — the multi-KB payload columns are
    only scanned and hash-joined."""
    evs = _random_events(12)
    df = fold_partial_updates(
        spark.createDataFrame(evs, EVENT_SCHEMA), VALUE_COLS, strategy="hash_fetch"
    )
    phys = df._jdf.queryExecution().executedPlan().toString()
    assert "SortAggregate" not in phys, phys
    assert "HashAggregate" in phys, phys
    assert "SortMergeJoin" not in phys, phys
    assert "Sort " not in phys, phys


def test_merge_partial_fold_strategy_auto_switch(spark, monkeypatch, tmp_path):
    """merge_partial picks the fold strategy from the src_rows hint (same
    footer-derived discipline as the compaction auto-switch): small slices
    take the cheaper one-aggregate sort_agg; large or UNKNOWN-size slices
    take the scale-safe hash_fetch (payload never sorts)."""
    import read_comp_data_pipeline_spark.operators.partial as P

    seen: list[str] = []
    orig = P.fold_partial_updates

    def spy(*a, **kw):
        seen.append(kw.get("strategy", "hash_fetch"))
        return orig(*a, **kw)

    monkeypatch.setattr(P, "fold_partial_updates", spy)
    t = _make_table(spark, tmp_path / "autosw")
    evs = _random_events(21, n=60, keys=10)
    df = spark.createDataFrame(evs, EVENT_SCHEMA)
    t.merge_partial(df.where("seq < 30"), 0, VALUE_COLS, src_rows=30)
    t.merge_partial(df.where("seq >= 30"), 1, VALUE_COLS, src_rows=5_000_000)
    t2 = _make_table(spark, tmp_path / "autosw2")
    t2.merge_partial(df.where("seq < 30"), 0, VALUE_COLS)  # size unknown
    assert seen == ["sort_agg", "hash_fetch", "hash_fetch"]
    # and the mixed-strategy replay still matches the interpreter
    assert _rows_from_table(t.read()) == _rows_from_table(
        _replay(spark, _make_table(spark, tmp_path / "autosw3"), evs).read()
    )


def test_hash_fetch_fold_collapses_at_least_once_duplicates(spark):
    """An at-least-once WAL can redeliver the winning event inside a slice
    (same key+seq+payload). The semi-probe keeps every copy, so without
    the post-probe distinct the folded frame would carry >1 row per key
    and apply_partial would commit duplicate key rows — the ≤1-row/key
    contract must hold under redelivery, and match sort_agg."""
    rows = [
        (0, "r", "a", "I", "t0", "x0"),
        (5, "r", "a", "U", "t5", None),
        (5, "r", "a", "U", "t5", None),   # redelivered winning event
        (5, "r", "a", "U", "t5", None),   # and again
        (1, "r", "b", "I", None, "y1"),
        (1, "r", "b", "I", None, "y1"),   # duplicate is the key's ONLY event pair
    ]
    df = spark.createDataFrame(rows, EVENT_SCHEMA)
    for strat in ("hash_fetch", "sort_agg"):
        folded = fold_partial_updates(df, VALUE_COLS, strategy=strat)
        per_key = folded.groupBy("repo", "path").count().collect()
        assert all(r["count"] == 1 for r in per_key), (strat, per_key)
    got = {
        (r["repo"], r["path"], r["title"], r["text"])
        for r in fold_partial_updates(df, VALUE_COLS).collect()
    }
    assert got == {("r", "a", "t5", "x0"), ("r", "b", None, "y1")}
