"""What the three persisted corpus stores share.

The signature (:mod:`.dedup`), embedding (:mod:`.similarity`) and
paragraph (:mod:`.paragraphs`) stores are directories of parquet relations
plus a ``_store_meta.json``: the reference crawl's persisted seen-set
(``search_scrape.py:330``) applied to content, so per-epoch work is
proportional to the delta. This module owns the meta rule (kind, bucket
count and every build parameter; delta-side calls read their parameters
from it), the relation writer, the ``out_path`` check of the ``update_*``
folds, and the exact-group relations of the two near-dup stores: their
batch build and the delta fold with keeper takeover. Matching,
verification, keeper fetches and partition columns stay in each store's
module.
"""

from __future__ import annotations

import json
import os
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from read_comp_data_pipeline_spark.operators.merge import atomic_write

_META = "_store_meta.json"


def _par_jobs(*thunks) -> None:
    """Run independent Spark actions concurrently from driver threads
    (guide §2.6): each job's straggler tail back-fills the others'
    executors instead of serializing the latencies. Exceptions propagate
    (the first failure re-raises). A single action runs on the calling
    thread."""
    if len(thunks) == 1:
        thunks[0]()
        return
    with ThreadPoolExecutor(max_workers=min(3, len(thunks))) as pool:
        for fut in [pool.submit(t) for t in thunks]:
            fut.result()


@dataclass(frozen=True)
class StoreKind:
    """One kind of store: its name, its bucket count, and the bucket
    column each partitioned relation is written under."""

    name: str
    buckets: int
    partitions: tuple[tuple[str, str], ...] = ()

    def write_meta(self, path: str, **params) -> None:
        os.makedirs(path, exist_ok=True)
        atomic_write(
            os.path.join(path, _META),
            json.dumps({"kind": self.name, "buckets": self.buckets, **params}),
        )

    def params(self, path: str) -> dict:
        """The build parameters recorded by the store at ``path``. Raises
        ``ValueError`` when the meta file is missing or records another
        kind or bucket count: a different parameter silently changes the
        result, and a different bucket count prunes the wrong files."""
        meta_path = os.path.join(path, _META)
        if not os.path.exists(meta_path):
            raise ValueError(f"{self.name} store at {path} has no {_META}; rebuild it")
        with open(meta_path) as f:
            meta = json.load(f)
        got = (meta.pop("kind", None), meta.pop("buckets", None))
        if got != (self.name, self.buckets):
            raise ValueError(
                f"{self.name} store at {path} was built with kind/buckets="
                f"{got[0]}/{got[1]}, got {self.name}/{self.buckets}; rebuild it"
            )
        return meta

    def write(self, path: str, **rels: DataFrame) -> None:
        """Overwrite each named relation under ``path``, partitioned by its
        bucket column where the layout has one. The relations must not
        depend on each other's output: they are written concurrently."""
        parts = dict(self.partitions)

        def job(name: str, df: DataFrame):
            w = df.write.mode("overwrite")
            if name in parts:
                w = w.partitionBy(parts[name])
            return lambda: w.parquet(f"{path}/{name}")

        _par_jobs(*(job(name, df) for name, df in rels.items()))


def check_out_path(store_path: str, out_path: str) -> None:
    """An ``update_*`` fold reads the store it replaces, so it must write
    the next store somewhere else (snapshot-style)."""
    if os.path.abspath(out_path) == os.path.abspath(store_path):
        raise ValueError("out_path must differ from store_path (snapshot-style update)")


def exact_groups(hashed: DataFrame, key: str) -> tuple[DataFrame, DataFrame]:
    """Batch build of ``(groups, exact_edges)`` from ``hashed`` rows
    carrying ``id`` and the content key ``key``. ``groups`` (key,
    keeper_id = min id) is checkpointed: the caller's keeper fetch reads
    it again. ``exact_edges`` (key, id_a = keeper, id_b = member) is the
    star linking every non-keeper to its keeper, linear in group size.
    The aggregate carries longs only, so it stays a map-side-combinable
    hash aggregate however hot a key is."""
    grp = (
        hashed.groupBy(key)
        .agg(F.min("id").alias("keeper_id"))
        .localCheckpoint(eager=True)
    )
    exact = (
        hashed.select("id", key)
        .join(grp, on=key)
        .where(F.col("id") != F.col("keeper_id"))
        .select(key, F.col("keeper_id").alias("id_a"), F.col("id").alias("id_b"))
    )
    return grp, exact


def fold_delta(
    d: DataFrame, groups: DataFrame, exact: DataFrame, key: str
) -> dict[str, DataFrame]:
    """Fold delta rows ``d`` (``id``, ``key`` and payload columns) into a
    store's ``groups`` and ``exact_edges``. Returns:

    * ``groups``, ``exact_edges``: the relations of (corpus ∪ delta),
      equal to :func:`exact_groups` on the union;
    * ``relabel`` (_old, _new): keepers a smaller delta id took over. The
      same content means the same rep payload, so only the label changes;
      apply it with :func:`relabel_edges` / :func:`relabel_ids`;
    * ``new_rows``: the rows of each key the store has not seen that
      carry the key's min id, with every column of ``d``. These are the
      only rows a store has to match and verify.

    Every delta-derived lookup side is broadcast: it is epoch-bounded, so
    the corpus-sized store relations are never shuffled for it.
    """
    # ONE checkpoint for the seen-set join; known/new are filters over it
    # (two separate checkpoints re-ran the corpus-side join twice and paid
    # two actions for one epoch-sized relation). groups is corpus-sized,
    # so it is never the broadcast side here
    dj = d.join(groups, on=key, how="left").localCheckpoint(eager=True)
    known = dj.where(F.col("keeper_id").isNotNull())
    new = dj.where(F.col("keeper_id").isNull()).drop("keeper_id")

    # known keys: the group grows, and a delta id smaller than the stored
    # keeper takes the group over
    kagg = known.groupBy(key).agg(F.min("id").alias("_delta_min"))
    touched = (
        groups.join(F.broadcast(kagg), on=key)
        .withColumn("new_keeper", F.least("keeper_id", "_delta_min"))
        .localCheckpoint(eager=True)  # reused 3×: relabel, rebuild, anti keys
    )
    relabel = touched.where(F.col("new_keeper") != F.col("keeper_id")).select(
        F.col("keeper_id").alias("_old"), F.col("new_keeper").alias("_new")
    )
    # exact star edges: untouched groups pass through; touched rebuilt
    touched_keys = F.broadcast(touched.select(key))
    untouched_exact = exact.join(touched_keys, on=key, how="left_anti")
    members = (
        touched.select(key, F.col("keeper_id").alias("m"))
        .unionByName(exact.join(touched_keys, on=key).select(key, F.col("id_b").alias("m")))
        .unionByName(known.select(key, F.col("id").alias("m")))
    )
    touched_exact = (
        members.join(F.broadcast(touched.select(key, "new_keeper")), on=key)
        .where(F.col("m") != F.col("new_keeper"))
        .select(key, F.col("new_keeper").alias("id_a"), F.col("m").alias("id_b"))
    )

    # new keys: collapsed within the delta (longs-only aggregate, keeper
    # rows fetched by a broadcast semi-join)
    new_keepers = new.groupBy(key).agg(F.min("id").alias("id"))
    new_exact = (
        new.join(F.broadcast(new_keepers.withColumnRenamed("id", "_k")), on=key)
        .where(F.col("id") != F.col("_k"))
        .select(key, F.col("_k").alias("id_a"), F.col("id").alias("id_b"))
    )
    new_rows = new.join(F.broadcast(new_keepers), on=[key, "id"], how="left_semi")

    groups_u = groups.join(
        F.broadcast(touched.select(key, "new_keeper")), on=key, how="left"
    ).select(
        key, F.coalesce(F.col("new_keeper"), F.col("keeper_id")).alias("keeper_id")
    ).unionByName(new_keepers.select(key, F.col("id").alias("keeper_id")))
    return {
        "groups": groups_u,
        "exact_edges": untouched_exact.unionByName(touched_exact).unionByName(new_exact),
        "relabel": relabel,
        "new_rows": new_rows,
    }


def relabel_edges(e: DataFrame, relabel: DataFrame, weight: str) -> DataFrame:
    """Rep-level edges (id_a, id_b, ``weight``) with taken-over keepers
    replaced by their new keeper, re-ordered so ``id_a < id_b``."""
    e = e.join(
        F.broadcast(relabel.withColumnRenamed("_old", "id_a").withColumnRenamed("_new", "_na")),
        on="id_a", how="left",
    ).join(
        F.broadcast(relabel.withColumnRenamed("_old", "id_b").withColumnRenamed("_new", "_nb")),
        on="id_b", how="left",
    )
    a2 = F.coalesce(F.col("_na"), F.col("id_a"))
    b2 = F.coalesce(F.col("_nb"), F.col("id_b"))
    return e.select(F.least(a2, b2).alias("id_a"), F.greatest(a2, b2).alias("id_b"), weight)


def relabel_ids(rel: DataFrame, relabel: DataFrame) -> DataFrame:
    """``rel`` with its ``id`` column relabeled (first column), other
    columns kept in order."""
    return rel.join(
        F.broadcast(relabel.withColumnRenamed("_old", "id")), on="id", how="left"
    ).select(
        F.coalesce(F.col("_new"), F.col("id")).alias("id"),
        *[c for c in rel.columns if c != "id"],
    )
