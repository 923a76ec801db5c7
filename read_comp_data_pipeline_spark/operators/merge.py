"""HashMergeTable — the MERGE-upsert sink (SURVEY.md §2.1 S6-S8).

Iceberg-style semantics on plain parquet:

* **table = data files + snapshot pointer.** Data lives under
  ``data/e{epoch}/_b={bucket}/*.parquet``; a snapshot JSON maps every
  bucket to its current data dir; ``CURRENT`` is an atomically-renamed
  pointer file. Readers only ever see committed snapshots.
* **bucket partition pruning.** Keys hash to ``pmod(xxhash64(repo,path),
  n_buckets)``; a MERGE reads *only* the buckets the source touches
  (copy-on-write of affected buckets — same effect as Iceberg file-level
  pruning on ``bucket(repo, path)``).
* **idempotent commits.** The snapshot records the last committed epoch
  (and highest applied source ``seq``); replaying an already-committed
  epoch is a no-op (exactly-once resume — the fix for the reference's
  duplicate ``_SeenUrls{n}`` output files,
  ``/root/reference/search_scrape.py:419-420``).
* **constant-size snapshot metadata.** Manifest and metrics rows are
  appended as per-epoch parquet side-tables (``manifest/e*.parquet``,
  ``metrics/e*.parquet``) written atomically *before* the snapshot
  commit; the snapshot JSON holds only bucket pointers + schemas +
  ``epoch``/``seq_hi`` scalars, so commit cost and driver memory are
  O(n_buckets) per epoch — not O(total epochs) (at the 10^10-event /
  10^5-epoch target, an embedded manifest would be O(epochs²) write
  bytes). Side files are anchored by the snapshot: readers filter to
  ``epoch <= snapshot.epoch``, so an orphan file from a crashed commit
  is invisible and gets atomically overwritten on the retried epoch.
  :meth:`compact_sidecars` folds per-epoch files into consolidated
  segment files generationally (LSM-style: each invocation writes one
  new segment; full merges only when ``max_segments`` is exceeded), so
  the ingest loop can run it on a per-N-epoch cadence at amortized-
  linear cost. Segment lists + watermarks commit atomically in the
  snapshot, so no crash window duplicates a folded row.
* **transactional schema evolution.** Add-column / type-widening is a
  metadata-only snapshot commit; old data files are read with the schema
  they were written with and aligned (cast + null-fill) at scan time.
* **time travel.** Old snapshots are retained; ``read(at_snapshot=...)``.
* **one commit path.** Every commit (epoch, DDL, maintenance, rollback)
  runs in one order: data files → side-table rows → ``pre_commit`` →
  snapshot file → pointer swing (``CURRENT``, or ``STAGING`` for a staged
  epoch). The last two are :meth:`HashMergeTable._commit`, and every
  metadata file is written by :func:`atomic_write`. A snapshot file whose
  version is above both pointers comes from a commit interrupted before
  its swing: it is not committed, :meth:`HashMergeTable.snapshots` does
  not list it, and the next commit of that version overwrites it.

MERGE semantics (per epoch, source already compacted to ≤1 row/key,
per-key seq-aware — replays of any subset in any order are no-ops):

    MERGE INTO target t USING source s
      ON t.repo = s.repo AND t.path = s.path
    WHEN MATCHED AND s.seq > t.seq AND s.op = 'D' THEN DELETE
    WHEN MATCHED AND s.seq > t.seq THEN UPDATE SET *
    WHEN NOT MATCHED AND s.op != 'D' THEN INSERT *

implemented relationally as (kept = target rows the source doesn't beat)
∪ (source non-deletes the target doesn't beat) over affected buckets
only — the source (key, seq) set is broadcast, the target side never
shuffles or sorts.

Delete contract: a committed delete drops the row without a tombstone.
Replaying a delete is a no-op (the NOT-MATCHED arm is guarded on op),
and any *prefix* replay of the WAL converges because the delete itself
is re-delivered after the rows it beat. The one sequence the sink does
not defend against is a never-before-delivered event OLDER than an
applied delete arriving later — excluded by the monotone WAL delivery
contract (an append-only log tailed in order can't produce an unseen
gap below the watermark). Retained tombstones + retention GC would lift
that assumption if a non-monotone source were ever attached.
"""

from __future__ import annotations

import json
import os
import re
import time
import uuid
from typing import Any

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from read_comp_data_pipeline_spark.schemas import KEY_COLS, MANIFEST_SCHEMA, METRICS_SCHEMA
from read_comp_data_pipeline_spark.session import PerJVM, observed_or

_CURRENT = "CURRENT"
_STAGING = "STAGING"

# merge_partial fold auto-switch: slices at or below this row count (known
# free from parquet footers via the src_rows hint) fold through the
# one-aggregate sort_agg strategy; larger (or unknown-size) slices take
# hash_fetch, whose plan never sorts the payload (operators/partial.py)
_FOLD_SORT_MAX_ROWS = 1_000_000


# per-JVM memos of the Columns the read and write paths apply on every call
_BUCKET_EXPRS = PerJVM()
_PROJECTIONS = PerJVM()


def bucket_expr(n_buckets: int, key_cols: list[str] | None = None):
    key_cols = tuple(key_cols or KEY_COLS)
    return _BUCKET_EXPRS.get(
        (n_buckets, key_cols),
        lambda: F.pmod(F.xxhash64(*key_cols), F.lit(n_buckets)).cast("int"),
    )


def shuffle_by_bucket(
    df: DataFrame,
    n_buckets: int,
    buckets: list[int] | None = None,
    n_salts: int = 1,
    order_col: str = "seq",
) -> DataFrame:
    """The engine's bucket shuffle: ``df`` (carrying ``_b``) is placed by
    partition id, one bucket per partition, so a bucketed write runs one
    task and writes one file per bucket. A hash of ``_b`` would not: it
    sends 8 buckets to 5 partitions, leaving 3 tasks empty and one task
    with 3 buckets.

    ``buckets``: only these buckets are written (a COW subset); partition
    ``i`` holds the ``i``-th of them in sorted order. ``n_salts`` > 1
    splits each bucket over that many partitions by a hash of
    ``order_col``: partition ``_b * n_salts + salt``."""
    whole = buckets is None or sorted(buckets) == list(range(n_buckets))
    subset = None if whole else tuple(sorted(int(b) for b in buckets))
    n_parts, pid = _PROJECTIONS.get(
        ("placement", n_buckets, subset, n_salts, order_col),
        lambda: _placement(n_buckets, subset, n_salts, order_col),
    )
    return df.repartitionById(n_parts, pid)


def _placement(n_buckets, subset, n_salts, order_col) -> tuple[int, Column]:
    b = F.col("_b")
    if subset is not None:
        rank = F.array_position(F.array(*[F.lit(x) for x in subset]), b) - 1
        return len(subset), rank.cast("int")
    if n_salts == 1:
        return n_buckets, b
    salt = F.pmod(F.xxhash64(order_col), F.lit(n_salts))
    return n_buckets * n_salts, (b * n_salts + salt).cast("int")


# the temp name atomic_write renames from: .<name>.<uuid4 hex>.tmp
_ATOMIC_TMP = re.compile(r"\..+\.[0-9a-f]{32}\.tmp")


def atomic_write(path: str, data: str | bytes) -> None:
    """Replace ``path`` with ``data`` through a uniquely named temp file in
    the same directory: write, flush, fsync, rename. A reader or a crash
    sees the old file or the new one, never a torn one."""
    d, name = os.path.split(path)
    tmp = os.path.join(d, f".{name}.{uuid.uuid4().hex}.tmp")
    with open(tmp, "wb" if isinstance(data, bytes) else "w") as f:
        f.write(data)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, path)


def parquet_rows(directory: str) -> int:
    """Rows in the parquet files directly under a just-written directory,
    from their footers via pyarrow — no Spark job, no data read (the same
    way Iceberg serves counts from manifest stats)."""
    import pyarrow.parquet as pq

    return sum(
        pq.ParquetFile(os.path.join(directory, f)).metadata.num_rows
        for f in os.listdir(directory)
        if f.endswith(".parquet")
    )


def same_content(a: dict[str, Any], b: dict[str, Any]) -> bool:
    """Whether two snapshot-like dicts name the same table rows: same
    ``epoch``, ``timeline`` and ``content_rev``. An epoch commit moves the
    epoch, a rollback the timeline and ``delete_where`` the content_rev;
    compaction, vacuum, sort, rebucket and sidecar folding move none of
    them, so a count or diff base taken at ``a`` still holds at ``b``."""
    return all(
        int(a.get(k, d)) == int(b.get(k, d))
        for k, d in (("epoch", -1), ("timeline", 0), ("content_rev", 0))
    )


def _parquet_bytes(table) -> bytes:
    import pyarrow as pa
    import pyarrow.parquet as pq

    buf = pa.BufferOutputStream()
    pq.write_table(table, buf)
    return buf.getvalue().to_pybytes()


def _side_epoch(name: str) -> int | None:
    """The epoch of a per-epoch side file ``e{epoch}.parquet``, else None
    (segments, temp files)."""
    if name.startswith("e") and name.endswith(".parquet") and name[1:-8].isdigit():
        return int(name[1:-8])
    return None


def _globs(dirs: list[str]) -> list[str]:
    """Read file globs, not directories: leaf dirs from different snapshot
    generations (data/e1/_b=0 vs data/e2/_b=3) would otherwise trip Spark's
    partition-structure discovery (CONFLICTING_DIRECTORY_STRUCTURES). The
    snapshot is the manifest — same role as Iceberg's file lists."""
    return [os.path.join(d, "*.parquet") for d in dirs]


def _zorder_norm(col: str, dtype: T.DataType):
    """Order-preserving map of a sortable column onto a LONG/DOUBLE so it
    can be quantile-bucketized for z-ordering. Integrals/floats cast
    directly; strings map to the big-endian long of their first 7 UTF-8
    bytes (preserves lexicographic order at 56-bit prefix granularity —
    ties land in the same z-bucket, which only costs clustering sharpness,
    never correctness). Returns None for unsupported types."""
    if isinstance(dtype, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        return F.col(col).cast("long")
    if isinstance(dtype, (T.FloatType, T.DoubleType, T.DecimalType)):
        return F.col(col).cast("double")
    if isinstance(dtype, T.TimestampType):
        return F.unix_micros(F.col(col))
    if isinstance(dtype, T.DateType):
        return F.datediff(F.col(col), F.lit("1970-01-01")).cast("long")
    if isinstance(dtype, T.StringType):
        # 14 hex chars = 7 bytes = 56 bits: fits a signed long, no overflow
        padded = F.rpad(F.hex(F.encode(F.col(col), "utf-8")), 14, "0")
        return F.conv(F.substring(padded, 1, 14), 16, 10).cast("long")
    return None


def _zorder_key(norms, cuts: list[list[float]], bits: int):
    """Interleaved-bit (Morton) key over per-column equi-depth bucket ids.

    Each column's normalized value is ranked against its stored cut points
    (``size(filter(cuts, c <= v))`` — a literal-array scan, JVM-side, no
    join) giving a ``bits``-bit bucket id; the ids' bits are interleaved
    so sorting by the key clusters rows that are close in EVERY sort
    dimension. Zone maps on each data file's row groups then stay tight on
    ALL the columns at once, where a linear sort is tight only on the
    leading one. NULL normalized values rank 0 (sort first)."""
    k = len(norms)

    def _le(norm):  # one-arg lambda: F.filter treats a 2-arg one as (elem, idx)
        return lambda c: c <= norm

    buckets = []
    for norm, col_cuts in zip(norms, cuts):
        arr = F.array(*[F.lit(c) for c in col_cuts])
        buckets.append(F.size(F.filter(arr, _le(norm))).cast("long"))
    parts = []
    for i in range(bits):
        for j, b in enumerate(buckets):
            parts.append(F.shiftleft(F.shiftright(b, i).bitwiseAND(F.lit(1)), i * k + j))
    out = parts[0]
    for p in parts[1:]:
        out = out + p
    return out


def _align(df: DataFrame, schema: T.StructType, keep: tuple[str, ...] = ()) -> DataFrame:
    """Project df onto ``schema``: cast matching columns, null-fill missing
    (``keep`` columns ride along untouched, e.g. a precomputed ``_b``).

    This is what makes add-column and type-widening evolution metadata-only:
    files written under an old schema are aligned at scan time. Used for
    INCOMING sources (which speak current column names); committed data
    files align by field ID instead (:func:`_align_by_id`) so rename and
    drop/re-add are also metadata-only.
    """
    have = frozenset(df.columns)
    key = ("name", schema.json(), have, keep)
    return df.select(*_PROJECTIONS.get(key, lambda: _align_cols(schema, have, keep)))


def _align_cols(schema: T.StructType, have: frozenset, keep: tuple[str, ...]) -> list:
    cols = []
    for f in schema.fields:
        if f.name in have:
            cols.append(F.col(f.name).cast(f.dataType).alias(f.name))
        else:
            cols.append(F.lit(None).cast(f.dataType).alias(f.name))
    cols.extend(F.col(k) for k in keep if k in have)
    return cols


def _snap_field_ids(snap: dict[str, Any]) -> tuple[list[list[int]], int]:
    """Per-schema-generation field IDs, Iceberg-style: every column is
    tracked by a stable integer ID, so RENAME is a metadata-only commit
    (the ID is unchanged; old files read through the mapping) and a column
    dropped then re-added under the same name gets a NEW ID (pre-drop
    values never resurface — Iceberg's drop/re-add correctness rule).

    Returns ``(ids, next_id)`` where ``ids[sid]`` parallels
    ``snap["schemas"][sid].fields``. Legacy snapshots (written before this
    layer) synthesize name-stable IDs, which reproduces the old
    name-matched alignment exactly; every schema-mutating commit
    materializes the result into the snapshot.
    """
    if "field_ids" in snap:
        return [list(r) for r in snap["field_ids"]], int(snap["next_field_id"])
    name_to_id: dict[str, int] = {}
    ids: list[list[int]] = []
    for sch in snap["schemas"]:
        row = []
        for f in sch["fields"]:
            if f["name"] not in name_to_id:
                name_to_id[f["name"]] = len(name_to_id) + 1
            row.append(name_to_id[f["name"]])
        ids.append(row)
    return ids, len(name_to_id) + 1


def _push_schema(
    snap: dict[str, Any], schema: T.StructType, field_ids: list[int], next_id: int
) -> None:
    """Append a schema generation with its field IDs and make it current."""
    ids, _ = _snap_field_ids(snap)
    snap["schemas"].append(json.loads(schema.json()))
    snap["field_ids"], snap["next_field_id"] = ids + [list(field_ids)], next_id
    snap["current_schema_id"] = len(snap["schemas"]) - 1


def _align_by_id(
    df: DataFrame,
    written: T.StructType,
    written_ids: list[int],
    cur: T.StructType,
    cur_ids: list[int],
    keep: tuple[str, ...] = (),
) -> DataFrame:
    """Project a scan of files written under schema generation ``written``
    onto the current schema by FIELD ID: each current field reads from
    whichever written column carries the same ID (cast covers widening),
    or null when that ID was absent at write time (column added later, or
    re-added after a drop). Columns whose ID was since dropped are simply
    not projected. ``keep`` columns (e.g. the sidecar ``op``) map by name
    and must be in the scan's schema beside ``written``'s columns.
    """
    key = ("id", written.json(), tuple(written_ids), cur.json(), tuple(cur_ids), keep)
    return df.select(*_PROJECTIONS.get(
        key, lambda: _align_by_id_cols(written, written_ids, cur, cur_ids, keep)
    ))


def _align_by_id_cols(written, written_ids, cur, cur_ids, keep) -> list:
    by_id = {i: f for i, f in zip(written_ids, written.fields)}
    cols = []
    for i, f in zip(cur_ids, cur.fields):
        src = by_id.get(i)
        if src is not None:
            cols.append(F.col(src.name).cast(f.dataType).alias(f.name))
        else:
            cols.append(F.lit(None).cast(f.dataType).alias(f.name))
    cols.extend(F.col(k) for k in keep)
    return cols


class HashMergeTable:
    """A key-partitioned MERGE target with atomic snapshot commits.

    Concurrency contract: ONE writer per table (the engine's ingest loop).
    Commits are crash-atomic (snapshot file then pointer swing) and
    fenced: a commit refuses unless CURRENT still names the snapshot it
    was built on, so a writer that lost a race to another handle raises
    instead of silently dropping the other's commit. The check and the
    swing are two filesystem steps, not a compare-and-swap, so two
    writers racing inside that gap can still both pass it; on a real
    catalog the swap point is Iceberg's optimistic CAS commit, which
    turns the race into a retryable CommitFailedException. Readers are
    unlimited: they resolve one pointer read and only ever see
    fully-committed snapshots.
    """

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path

    # -- creation / snapshot plumbing ---------------------------------------

    @classmethod
    def create(
        cls,
        spark: SparkSession,
        path: str,
        schema: T.StructType,
        n_buckets: int = 16,
        key_cols: list[str] | None = None,
        mode: str = "cow",
        order_col: str = "seq",
        sort_order: list[str] | None = None,
        write_options: dict[str, str] | None = None,
        constraints: dict[str, str] | None = None,
    ) -> "HashMergeTable":
        """``mode``:

        * ``"cow"`` (copy-on-write): each MERGE rewrites the affected
          buckets — read-optimized, write-amplified (every epoch that
          touches a bucket rewrites it).
        * ``"mor"`` (merge-on-read): each MERGE appends a bucket-partitioned
          delta; reads compact base+deltas on the fly (last-writer-wins by
          ``order_col``, deletes filtered); :meth:`compact_table` folds
          deltas back into the base. Write-optimized — the CDC hot path at
          high event rates, same trade Iceberg makes with position/equality
          deletes vs data-file rewrites.
        """
        assert mode in ("cow", "mor")
        os.makedirs(os.path.join(path, "snapshots"), exist_ok=True)
        os.makedirs(os.path.join(path, "data"), exist_ok=True)
        snap = {
            "version": -1,  # _commit makes it 0
            "epoch": -1,
            "mode": mode,
            "order_col": order_col,
            "n_buckets": n_buckets,
            "key_cols": key_cols or KEY_COLS,
            "schemas": [json.loads(schema.json())],
            "current_schema_id": 0,
            "buckets": {},  # bucket -> {dir, schema_id, rows}
            "deltas": [],  # ordered [{dir, schema_id, epoch}] (mor mode)
            "seq_hi": -1,  # highest applied source seq (stream idempotency)
            # within-bucket clustering: rewrites sort rows by these columns
            # so parquet row-group zone maps prune range/point predicates
            "sort_order": list(sort_order) if sort_order else [],
            "write_options": dict(write_options) if write_options else {},
            # named CHECK expectations over incoming WAL rows; the ingest
            # loop quarantines violating rows instead of committing them
            "constraints": dict(constraints) if constraints else {},
        }
        t = cls(spark, path)
        t._commit(snap)
        return t

    @classmethod
    def exists(cls, path: str) -> bool:
        return os.path.exists(os.path.join(path, _CURRENT))

    def _pointer(self, pointer: str) -> str | None:
        """The snapshot file name a pointer file holds, or None."""
        p = os.path.join(self.path, pointer)
        if not os.path.exists(p):
            return None
        with open(p) as f:
            return f.read().strip()

    def _load(self, name: str) -> dict[str, Any]:
        with open(os.path.join(self.path, "snapshots", name)) as f:
            return json.load(f)

    def _snapshot(self) -> dict[str, Any]:
        with open(os.path.join(self.path, _CURRENT)) as f:
            return self._load(f.read().strip())

    def _begin_commit(self) -> dict[str, Any]:
        """The current snapshot, for a DDL or maintenance commit to build
        on; refuses while a staged snapshot is pending."""
        self._check_staging_clear(-1, False)
        return self._snapshot()

    def _commit(self, snap: dict[str, Any], stage: bool = False) -> None:
        """The one commit point: bump the version, write the snapshot file,
        then atomically swing CURRENT (or STAGING for a write-audit-publish
        staged commit, invisible to readers until :meth:`publish_staged`).

        A crash before the swing leaves the table at the previous snapshot:
        the new snapshot file is above every pointer, so :meth:`snapshots`
        does not list it, and orphan data files are vacuumable. A crash
        after it means the commit fully happened. This ordering is the
        exactly-once foundation (SURVEY.md §2.9).

        Writer fencing: ``snap["version"]`` is the base the commit was
        built on, and CURRENT must still name it (no CURRENT for
        :meth:`create`'s version -1). A second writer that committed in
        between makes this one refuse instead of silently losing its commit.
        """
        self._check_base(snap["version"])
        snap["version"] += 1
        name = f"snap-{snap['version']:08d}.json"
        atomic_write(os.path.join(self.path, "snapshots", name), json.dumps(snap))
        atomic_write(os.path.join(self.path, _STAGING if stage else _CURRENT), name)

    def _check_base(self, version: int) -> None:
        """Refuse a commit unless CURRENT names snapshot ``version`` (or is
        absent, for ``version`` -1)."""
        expected = f"snap-{version:08d}.json" if version >= 0 else None
        found = self._pointer(_CURRENT)
        if found != expected:
            raise ValueError(
                f"commit built on {expected or 'no snapshot'} but CURRENT names "
                f"{found or 'no snapshot'}: another writer committed first"
            )

    # -- properties -----------------------------------------------------------

    @property
    def schema(self) -> T.StructType:
        snap = self._snapshot()
        return T.StructType.fromJson(snap["schemas"][snap["current_schema_id"]])

    @property
    def last_epoch(self) -> int:
        return int(self._snapshot()["epoch"])

    @property
    def n_buckets(self) -> int:
        return int(self._snapshot()["n_buckets"])

    @property
    def last_seq_hi(self) -> int:
        """Highest source ``seq`` applied by a committed epoch (-1 if none).
        The data-keyed idempotency watermark: a streaming replay whose
        batch ids restarted (checkpoint loss) filters to ``seq > this``
        instead of trusting the batch id (streaming/stream.py)."""
        return int(self._snapshot().get("seq_hi", -1) or -1)

    # -- read path ------------------------------------------------------------

    def _scan_generations(
        self, snap: dict, by_schema: dict[int, list[str]], keep: tuple[str, ...] = ()
    ) -> DataFrame | None:
        """One scan per schema generation over its dirs, aligned by field ID
        to the current schema and unioned in generation order; ``keep``
        names string columns stored beside the data (the deltas' ``op``).
        None when there are no dirs."""
        cur_schema = T.StructType.fromJson(snap["schemas"][snap["current_schema_id"]])
        ids, _ = _snap_field_ids(snap)
        cur_ids = ids[snap["current_schema_id"]]
        out = None
        for sid, dirs in sorted(by_schema.items()):
            written = T.StructType.fromJson(snap["schemas"][sid])
            scanned = T.StructType(
                list(written.fields) + [T.StructField(k, T.StringType(), True) for k in keep]
            )
            part = _align_by_id(
                self.spark.read.schema(scanned).parquet(*_globs(dirs)),
                written, ids[sid], cur_schema, cur_ids, keep=keep,
            )
            out = part if out is None else out.unionByName(part)
        return out

    def _read_base(self, snap: dict, buckets: list[int] | None) -> DataFrame:
        entries = snap["buckets"]
        if buckets is not None:
            wanted = {str(b) for b in buckets}
            entries = {b: e for b, e in entries.items() if b in wanted}
        by_schema: dict[int, list[str]] = {}
        for e in entries.values():
            by_schema.setdefault(e["schema_id"], []).append(os.path.join(self.path, e["dir"]))
        out = self._scan_generations(snap, by_schema)
        if out is None:
            cur_schema = T.StructType.fromJson(snap["schemas"][snap["current_schema_id"]])
            return self.spark.createDataFrame([], cur_schema)
        return out

    def _read_deltas(self, snap: dict, buckets: list[int] | None) -> DataFrame | None:
        """Union of delta files (mor mode), aligned to the current schema
        with the ``op`` column retained. Bucket pruning = reading only the
        ``_b=N`` subdirectories that exist for the wanted buckets."""
        by_schema: dict[int, list[str]] = {}
        for d in snap.get("deltas", []):
            base_dir = os.path.join(self.path, d["dir"])
            if buckets is None:
                leaf_buckets = [
                    n for n in os.listdir(base_dir) if n.startswith("_b=")
                ]
            else:
                leaf_buckets = [f"_b={b}" for b in buckets]
            for n in leaf_buckets:
                p = os.path.join(base_dir, n)
                if os.path.isdir(p):
                    by_schema.setdefault(d["schema_id"], []).append(p)
        return self._scan_generations(snap, by_schema, keep=("op",))

    def read(self, buckets: list[int] | None = None, at_snapshot: dict | None = None) -> DataFrame:
        """Scan the table (optionally only ``buckets`` — manual partition
        pruning; optionally at an old snapshot — time travel).

        In mor mode the scan merges base + deltas: last-writer-wins per key
        by ``order_col`` (skew-immune max_by compaction), deletes filtered.
        """
        snap = at_snapshot or self._snapshot()
        base = self._read_base(snap, buckets)
        if snap.get("mode", "cow") == "cow":
            return base
        deltas = self._read_deltas(snap, buckets)
        if deltas is None:
            return base
        from read_comp_data_pipeline_spark.operators.compact import compact_latest

        unioned = base.withColumn("op", F.lit("I")).unionByName(deltas)
        # strategy="agg": the reconcile set here is table-sized — its key
        # set cannot be assumed broadcastable (unlike a single epoch's)
        merged = compact_latest(
            unioned, key_cols=snap["key_cols"], order_col=snap["order_col"], strategy="agg"
        )
        return merged.where(F.col("op") != "D").drop("op")

    # -- changelog emission (CDC change-data feed) ------------------------------

    def _changed_buckets(self, snap_a: dict, snap_b: dict) -> list[int]:
        """Buckets whose logical content MAY differ between two snapshots —
        a pure driver-side snapshot diff, no Spark job, no manifest scan.

        * cow: a MERGE rewrites the affected bucket dirs, so a bucket is
          unchanged iff its entry (dir + schema generation) is identical.
        * mor: a MERGE appends a delta dir; a bucket is touched iff a delta
          present only in ``snap_b`` has its ``_b=N`` leaf. Compaction
          between the snapshots rewrites base entries, which the cow-style
          entry diff already flags (superset: correct, never lossy).
        """
        a_b, b_b = snap_a.get("buckets", {}), snap_b.get("buckets", {})
        changed = {b for b in set(a_b) | set(b_b) if a_b.get(b) != b_b.get(b)}
        a_deltas = {d["dir"] for d in snap_a.get("deltas", [])}
        for d in snap_b.get("deltas", []):
            if d["dir"] in a_deltas:
                continue
            base_dir = os.path.join(self.path, d["dir"])
            if os.path.isdir(base_dir):
                for n in os.listdir(base_dir):
                    if n.startswith("_b="):
                        changed.add(n[3:])
        return sorted(int(b) for b in changed)

    def changes_between(self, snap_a: dict, snap_b: dict | None = None) -> DataFrame:
        """Net row-level changes between two committed snapshots — the
        change-data feed an Iceberg ``table_changes`` / Delta CDF read
        emits. Output = the current-schema row plus ``_change_type`` in
        {'insert', 'delete', 'update_before', 'update_after'} (updates emit
        the before and after image, Iceberg changelog style). Keys whose
        row is byte-identical in both snapshots emit nothing.

        Scale shape: work is proportional to the TOUCHED buckets, not the
        table — the bucket set comes from a driver-side snapshot diff
        (:meth:`_changed_buckets`), both sides are bucket-pruned scans, and
        the classify step is ONE full-outer key join between the pruned
        before/after images. An epoch that touched 3 of 4096 buckets diffs
        3 buckets. Reference analogue: the crawler re-checks only pages in
        the current frontier, never the whole seen-set
        (/root/reference/search_scrape.py:330).

        ``snap_a`` must still be inside the vacuum retention window (its
        data files exist); reading an expired snapshot fails loudly at
        scan time. A compaction inside the window flags every bucket (a
        correct superset — the diff then finds no logical change).
        """
        snap_b = snap_b or self._snapshot()
        if int(snap_a["version"]) > int(snap_b["version"]):
            raise ValueError(
                f"changes_between: snap_a (version {snap_a['version']}) is newer "
                f"than snap_b (version {snap_b['version']}) — swap the arguments"
            )
        cur = T.StructType.fromJson(snap_b["schemas"][snap_b["current_schema_id"]])
        keys = list(snap_b["key_cols"])
        non_keys = [f.name for f in cur.fields if f.name not in keys]
        change_t = T.StructType(
            [T.StructField("row", cur, True), T.StructField("_change_type", T.StringType(), False)]
        )
        buckets = self._changed_buckets(snap_a, snap_b)
        if not buckets:
            return self.spark.createDataFrame([], change_t).select(
                F.col("row.*"), "_change_type"
            )
        # old snapshot rows aligned to the CURRENT schema BY FIELD ID so
        # evolution between the snapshots diffs as added-column updates
        # (and a rename diffs as no change at all), not errors. The schemas
        # list is append-only, so snap_a's current generation is the same
        # index inside snap_b's history. A stale snap_a from an abandoned
        # (rolled-back) timeline breaks that invariant — fall back to
        # name-matched alignment rather than mis-mapping IDs.
        ids_b, _ = _snap_field_ids(snap_b)
        a_sid = int(snap_a["current_schema_id"])
        a_cur = T.StructType.fromJson(snap_a["schemas"][a_sid])
        if a_sid < len(snap_b["schemas"]) and snap_b["schemas"][a_sid] == snap_a["schemas"][a_sid]:
            before = _align_by_id(
                self.read(buckets=buckets, at_snapshot=snap_a),
                a_cur, ids_b[a_sid], cur, ids_b[snap_b["current_schema_id"]],
            )
        else:
            before = _align(self.read(buckets=buckets, at_snapshot=snap_a), cur)
        after = _align(self.read(buckets=buckets, at_snapshot=snap_b), cur)
        names = [f.name for f in cur.fields]
        b = before.select(*keys, F.struct(*names).alias("_b_row"))
        a = after.select(*keys, F.struct(*names).alias("_a_row"))
        j = b.join(a, on=keys, how="full_outer")
        same = F.struct(*[F.col("_b_row")[c] for c in non_keys]).eqNullSafe(
            F.struct(*[F.col("_a_row")[c] for c in non_keys])
        )
        j = j.where(F.col("_b_row").isNull() | F.col("_a_row").isNull() | ~same)

        def tagged(row_col: str, tag: str):
            return F.struct(
                F.col(row_col).alias("row"), F.lit(tag).alias("_change_type")
            )

        arr = (
            F.when(F.col("_b_row").isNull(), F.array(tagged("_a_row", "insert")))
            .when(F.col("_a_row").isNull(), F.array(tagged("_b_row", "delete")))
            .otherwise(
                F.array(tagged("_b_row", "update_before"), tagged("_a_row", "update_after"))
            )
        )
        return j.select(F.explode(arr).alias("_c")).select(
            F.col("_c.row.*"), F.col("_c._change_type").alias("_change_type")
        )

    # -- schema evolution (metadata-only commit) -------------------------------

    def evolve_schema(self, new_schema: T.StructType) -> bool:
        """Transactionally set a new current schema (add columns / widen
        types). Returns True if a new snapshot was committed. Existing data
        files are untouched; reads align old files to the new schema.
        """
        snap = self._begin_commit()
        cur = T.StructType.fromJson(snap["schemas"][snap["current_schema_id"]])
        if cur.json() == new_schema.json():
            return False
        _check_compatible_evolution(cur, new_schema)
        ids, next_id = _snap_field_ids(snap)
        cur_by_name = {f.name: i for f, i in zip(cur.fields, ids[snap["current_schema_id"]])}
        new_ids = []
        for f in new_schema.fields:
            if f.name in cur_by_name:  # retained (possibly widened): same ID
                new_ids.append(cur_by_name[f.name])
            else:  # added column: fresh ID (a re-added dropped name is NEW)
                new_ids.append(next_id)
                next_id += 1
        _push_schema(snap, new_schema, new_ids, next_id)
        self._commit(snap)
        return True

    def _constraints_referencing(self, snap: dict, col: str) -> list[str]:
        pat = re.compile(rf"\b{re.escape(col)}\b")
        return [n for n, e in (snap.get("constraints") or {}).items() if pat.search(e)]

    def rename_column(self, old: str, new: str) -> dict[str, Any]:
        """Iceberg-style METADATA-ONLY rename: the column keeps its field
        ID, so no data file is rewritten — files from every prior schema
        generation read through the ID mapping under the new name, and
        time travel / ``changes_between`` across the rename stay exact.

        ``key_cols`` / ``order_col`` / ``sort_order`` references follow the
        rename automatically (subsequent MERGE sources must speak the new
        name — they align by name, like any DDL rename breaks an out-of-
        date writer). A CHECK constraint referencing the column must be
        dropped first: constraint exprs are opaque SQL, and silently
        rewriting them is how engines corrupt expectations.
        """
        snap = self._begin_commit()
        cur = T.StructType.fromJson(snap["schemas"][snap["current_schema_id"]])
        names = [f.name for f in cur.fields]
        if old not in names:
            raise KeyError(f"no column named {old!r}")
        if new in names:
            raise ValueError(f"column {new!r} already exists")
        if (
            new in ("op", "_b", "_change_type", "_from_epoch", "_to_epoch")
            or not str(new).isidentifier()
        ):
            raise ValueError(f"invalid column name {new!r}")
        refs = self._constraints_referencing(snap, old)
        if refs:
            raise ValueError(
                f"column {old!r} is referenced by constraint(s) {refs}; "
                "drop them first, then re-declare against the new name"
            )
        ids, next_id = _snap_field_ids(snap)
        new_schema = T.StructType(
            [
                T.StructField(new if f.name == old else f.name, f.dataType, f.nullable)
                for f in cur.fields
            ]
        )
        # same IDs: rename only
        _push_schema(snap, new_schema, ids[snap["current_schema_id"]], next_id)
        snap["key_cols"] = [new if c == old else c for c in snap["key_cols"]]
        if snap.get("order_col") == old:
            snap["order_col"] = new
        snap["sort_order"] = [new if c == old else c for c in snap.get("sort_order") or []]
        self._commit(snap)
        return {"renamed": {old: new}, "version": snap["version"]}

    def drop_column(self, name: str) -> dict[str, Any]:
        """METADATA-ONLY column drop: data files keep the bytes (rewrites —
        compaction, rebucket, COW epochs — shed them over time); readers
        stop projecting the field ID immediately. Re-adding the same name
        later allocates a NEW field ID, so pre-drop values never resurface.

        Structural references block the drop (key/order/sort-order columns,
        CHECK constraints) — remove those first.
        """
        snap = self._begin_commit()
        cur = T.StructType.fromJson(snap["schemas"][snap["current_schema_id"]])
        names = [f.name for f in cur.fields]
        if name not in names:
            raise KeyError(f"no column named {name!r}")
        if name in snap["key_cols"]:
            raise ValueError(f"cannot drop key column {name!r}")
        if snap.get("order_col") == name:
            raise ValueError(f"cannot drop order column {name!r}")
        if name in (snap.get("sort_order") or []):
            raise ValueError(
                f"column {name!r} is in the table sort order; clear it first "
                "(set_sort_order)"
            )
        refs = self._constraints_referencing(snap, name)
        if refs:
            raise ValueError(
                f"column {name!r} is referenced by constraint(s) {refs}; drop them first"
            )
        ids, next_id = _snap_field_ids(snap)
        cur_ids = ids[snap["current_schema_id"]]
        keep = [(f, i) for f, i in zip(cur.fields, cur_ids) if f.name != name]
        _push_schema(snap, T.StructType([f for f, _ in keep]), [i for _, i in keep], next_id)
        self._commit(snap)
        return {"dropped": name, "version": snap["version"]}

    # -- the MERGE -------------------------------------------------------------

    def merge(
        self,
        source: DataFrame,
        epoch: int,
        src_seq_lo: int | None = None,
        src_seq_hi: int | None = None,
        op_col: str = "op",
        affected_buckets: list[int] | None = None,
        src_rows: int | None = None,
        lag_events: int = 0,
        src_keys_broadcastable: bool = True,
        pre_commit=None,
        stage: bool = False,
    ) -> dict[str, Any]:
        """Apply one compacted epoch slice. Source must have ≤1 row per key
        plus an ``op`` column ('I'/'U'/'D'); all non-op columns must exist in
        (or be castable to) the current table schema.

        ``stage``: write-audit-publish — commit the epoch to the STAGING
        pointer instead of CURRENT. Readers see nothing until
        :meth:`publish_staged`; audit the staged state via
        ``read(at_snapshot=staged_snapshot())`` and either publish or
        :meth:`discard_staged`. One epoch stages at a time (re-staging the
        SAME epoch is the idempotent crash-recovery path).

        ``affected_buckets``/``src_rows`` are optional hints (computed
        cheaply from the raw slice by the ingest loop — a pruned scan of the
        key columns only) that let the MERGE run as a single Spark action:
        without them the source lineage (which carries the extraction
        expressions) would be executed once per metadata query.

        ``src_keys_broadcastable``: set False when the epoch's key set is
        too large for a driver-built broadcast (the ingest loop passes
        ``event_count <= compact_threshold``, the same footer-derived gate
        that switches the compaction strategy). The COW probe joins then
        run as plain shuffled joins — heavier but bounded; AQE may still
        upgrade them at runtime if the statistics allow.

        ``pre_commit``: optional zero-arg callable invoked after the
        epoch's data files are written but BEFORE the snapshot commit —
        the crash-safe point for epoch-scoped side effects (e.g. the
        deferred quarantine write): a crash before the commit re-runs the
        epoch and overwrites the side effect; a crash after it finds the
        side effect already durable. Never invoked for skipped epochs.

        Returns a stats dict; skips (idempotently) if ``epoch`` was already
        committed.
        """
        t0 = time.monotonic()
        snap = self._snapshot()
        if epoch <= snap["epoch"]:
            return {"skipped": True, "epoch": epoch, "rows_applied": 0}
        self._check_staging_clear(epoch, stage)
        if snap.get("mode", "cow") == "mor":
            return self._merge_mor(snap, source, epoch, src_seq_lo, src_seq_hi, t0, src_rows, lag_events, pre_commit, stage)

        n_buckets = snap["n_buckets"]
        key_cols = snap["key_cols"]

        src = source.withColumn("_b", bucket_expr(n_buckets, key_cols))
        if affected_buckets is not None:
            affected = list(affected_buckets)
        else:
            affected = [r["_b"] for r in src.select("_b").distinct().collect()]
        rows = {}
        if affected:
            merged = self._cow_plan(snap, src, op_col, affected, src_keys_broadcastable)
            rows = self._rewrite(snap, merged, f"data/e{epoch:010d}", affected)
        return self._commit_epoch(
            snap, epoch, rows, src_seq_lo, src_seq_hi, t0, src_rows, lag_events,
            pre_commit, stage,
        )

    def merge_partial(
        self,
        source: DataFrame,
        epoch: int,
        value_cols: list[str],
        src_seq_lo: int | None = None,
        src_seq_hi: int | None = None,
        op_col: str = "op",
        affected_buckets: list[int] | None = None,
        src_rows: int | None = None,
        lag_events: int = 0,
        folded_broadcastable: bool = True,
        pre_commit=None,
        stage: bool = False,
    ) -> dict[str, Any]:
        """Apply one epoch of PARTIAL-COLUMN events (NULL tracked column =
        "not provided" — see operators/partial.py for the full semantics).

        The table must have been created with a ``partial_schema`` layout
        (each tracked column shadowed by ``_s_<col>``); ``source`` is the
        RAW sparse slice — it is folded here (one map-side-combinable hash
        aggregate) and applied with per-column argmax-by-seq conflict
        resolution, so epoch application commutes for updates and replays
        are row-level no-ops. COW mode only: a partial event is not a
        self-contained row image, so the MOR delta read would have to fold
        every delta column-wise on every scan — supportable, but not the
        write-optimized contract MOR exists for.
        """
        t0 = time.monotonic()
        snap = self._snapshot()
        if epoch <= snap["epoch"]:
            return {"skipped": True, "epoch": epoch, "rows_applied": 0}
        self._check_staging_clear(epoch, stage)
        if snap.get("mode", "cow") != "cow":
            raise NotImplementedError("merge_partial requires a cow-mode table")
        from read_comp_data_pipeline_spark.operators.partial import (
            apply_partial,
            fold_partial_updates,
        )

        n_buckets = snap["n_buckets"]
        key_cols = snap["key_cols"]
        # fold-strategy auto-switch (same footer-derived discipline as the
        # compaction strategy): a SMALL slice folds cheaper through the
        # one-aggregate sort_agg (its per-task sort is tiny; hash_fetch's
        # 1+|cols| scans and joins cost more jobs than they save), a BIG
        # slice must take hash_fetch — the payload sort is what made
        # local[32] slower than local[8] on the 8M-event protocol. Both
        # strategies are value-identical (parity-tested).
        strategy = "sort_agg" if (
            src_rows is not None and int(src_rows) <= _FOLD_SORT_MAX_ROWS
        ) else "hash_fetch"
        # materialize the fold ONCE per epoch (localCheckpoint, same
        # discipline as connected_components): the apply consumes it
        # through several lineages (bucket hint, untouched-row anti probe,
        # matched-row probe, the column merge) and without truncation each
        # would re-run the slice's fold — measured 8M-event protocol: the
        # recompute made local[32] SLOWER than local[8]
        folded = fold_partial_updates(
            source, value_cols, key_cols, snap.get("order_col", "seq"), op_col,
            strategy=strategy,
        ).withColumn("_b", bucket_expr(n_buckets, key_cols))
        obs = None
        if affected_buckets is None:
            # the affected-bucket set rides the checkpoint action as an
            # Observation (bounded by n_buckets) — previously a separate
            # per-epoch distinct+collect job over the folded slice
            from pyspark.sql import Observation

            obs = Observation()
            folded = folded.observe(obs, F.collect_set("_b").alias("_bks"))
        folded = folded.localCheckpoint()
        if affected_buckets is not None:
            affected = list(affected_buckets)
        else:
            # empty-relation short-circuit plans can leave the metric
            # unpopulated: then one distinct+collect over the checkpoint
            affected = sorted(int(b) for b in observed_or(
                obs, "_bks",
                lambda: [r["_b"] for r in folded.select("_b").distinct().collect()],
            ) or [])
        rows = {}
        if affected:
            tgt = self.read(buckets=affected, at_snapshot=snap)
            merged = apply_partial(
                tgt, folded, value_cols, key_cols, snap.get("order_col", "seq"),
                op_col, folded_broadcastable,
            ).withColumn("_b", bucket_expr(n_buckets, key_cols))
            rows = self._rewrite(snap, merged, f"data/e{epoch:010d}", affected)
        return self._commit_epoch(
            snap, epoch, rows, src_seq_lo, src_seq_hi, t0, src_rows, lag_events,
            pre_commit, stage,
        )

    def _rewrite(
        self, snap: dict, df: DataFrame, data_dir: str, buckets: list[int] | None = None
    ) -> dict[int, int]:
        """Write ``df`` (carrying ``_b``) bucketed under ``data_dir``, read
        the per-bucket row counts from the footers, and repoint the bucket
        map: each of ``buckets`` (None: the whole map, replaced by every
        bucket written) at its new dir, dropping those left empty. Returns
        the row count per repointed bucket, empty ones included."""
        out_path = os.path.join(self.path, data_dir)
        self._write_bucketed(snap, df, buckets, out_path)
        written = self._written_bucket_counts(out_path)
        rows = written if buckets is None else {int(b): written.get(int(b), 0) for b in buckets}
        entries = {} if buckets is None else dict(snap["buckets"])
        for b, n in rows.items():
            if n > 0:
                entries[str(b)] = {
                    "dir": f"{data_dir}/_b={b}",
                    "schema_id": snap["current_schema_id"],
                    "rows": n,
                }
            else:
                entries.pop(str(b), None)
        snap["buckets"] = entries
        return rows

    def _commit_epoch(
        self, snap, epoch: int, rows: dict[int, int], lo, hi, t0, src_rows=None,
        lag_events=0, pre_commit=None, stage: bool = False,
    ) -> dict[str, Any]:
        """Commit one epoch whose data (if any) is written and referenced by
        ``snap``: manifest and metrics rows, one per bucket in ``rows``,
        then ``pre_commit``, then :meth:`_commit`. An empty epoch (no
        ``rows``) records its seq range in one ``partition=-1`` manifest
        row and writes no metrics file.

        Side tables first, snapshot commit last: a crash in between leaves
        orphan side files with epoch > snapshot.epoch, invisible to readers
        and overwritten when the epoch is retried."""
        applied = 0
        if rows:
            applied = int(src_rows) if src_rows is not None else sum(rows.values())
        committed_ts = time.time()
        secs = time.monotonic() - t0
        self._append_side_rows("manifest", epoch, [
            {"partition": int(b), "epoch": epoch, "committed_ts": committed_ts,
             "rows_applied": n, "src_seq_lo": lo, "src_seq_hi": hi}
            for b, n in (rows or {-1: 0}).items()
        ])
        if rows:
            self._append_side_rows("metrics", epoch, [
                {"epoch": epoch, "partition": int(b), "events": n, "bytes": 0,
                 "secs": secs, "events_per_sec": (applied / secs) if secs > 0 else 0.0,
                 "lag_events": int(lag_events)}
                for b, n in rows.items()
            ])
        snap["epoch"] = epoch
        if hi is not None:
            snap["seq_hi"] = max(int(snap.get("seq_hi", -1) or -1), int(hi))
        if pre_commit is not None:
            pre_commit()
        self._commit(snap, stage)
        return {
            "skipped": False,
            "epoch": epoch,
            "rows_applied": applied,
            "buckets_touched": len(rows),
            "secs": secs,
        }

    def _write_bucketed(
        self, snap: dict, merged: DataFrame, buckets: list[int] | None, out_path: str
    ) -> None:
        """Shared bucket-partitioned data write (COW epochs, MOR compaction,
        rebucket, delete_where): one shuffle that gives each bucket its own
        task (:func:`shuffle_by_bucket`; ``buckets``: the COW subset, None
        for every bucket) → exactly one file per bucket dir, and no task
        writes two buckets while another sits empty. Without the shuffle:
        shuffle_partitions × n_buckets tiny files, and the next epoch's
        read pays for every one of them.

        Honors the snapshot's declared ``sort_order`` (Iceberg-style table
        sort order): rows are sorted WITHIN each bucket task before the
        write, so every data file's parquet row groups carry tight,
        non-overlapping min/max zone maps on the sort columns — a range or
        point predicate then skips whole row groups at scan time instead
        of decoding the bucket. Costs one in-task sort per rewritten
        bucket, off the MOR hot path (delta appends stay unsorted; the
        sort applies when compaction folds them — the Iceberg model where
        sort orders bind to rewrites, not hot appends). ``write_options``
        (e.g. parquet.block.size) tune row-group granularity: smaller row
        groups = finer skipping, more footer metadata.
        """
        shuffled = shuffle_by_bucket(merged, snap["n_buckets"], buckets)
        sort_order = snap.get("sort_order") or []
        if sort_order and snap.get("sort_strategy") == "zorder":
            cur = T.StructType.fromJson(snap["schemas"][snap["current_schema_id"]])
            fields = {f.name: f for f in cur.fields}
            norms = [_zorder_norm(c, fields[c].dataType) for c in sort_order]
            zk = _zorder_key(norms, snap["sort_cuts"], int(snap["sort_bits"]))
            shuffled = (
                shuffled.withColumn("_zk", zk)
                .sortWithinPartitions("_b", "_zk")
                .drop("_zk")
            )
        elif sort_order:
            shuffled = shuffled.sortWithinPartitions("_b", *sort_order)
        writer = shuffled.write.mode("overwrite")
        for k, v in (snap.get("write_options") or {}).items():
            writer = writer.option(k, str(v))
        writer.partitionBy("_b").parquet(out_path)

    @property
    def constraints(self) -> dict[str, str]:
        """Named CHECK expectations (boolean SQL over incoming WAL rows,
        standard CHECK semantics: NULL passes, only FALSE violates)."""
        return dict(self._snapshot().get("constraints") or {})

    def set_constraint(self, name: str, expr: str) -> dict[str, Any]:
        """Declare (or replace) a named CHECK expectation — metadata-only
        commit, like Delta's ADD CONSTRAINT: rows of SUBSEQUENT epochs that
        violate it are quarantined by the ingest loop (error
        ``constraint:<name>``, normal attempt escalation to dead letters);
        already-committed rows are not re-validated. The expression is
        parse-checked here (F.expr parses lazily in PySpark 4, so the
        session parser is asked directly); unresolvable column references
        fail loudly at first enforcement."""
        snap = self._begin_commit()
        try:
            parser = self.spark._jsparkSession.sessionState().sqlParser()
        except AttributeError:  # non-classic session (e.g. Connect)
            parser = None
        if parser is not None:
            try:
                parser.parseExpression(expr)
            except Exception as e:
                raise ValueError(f"constraint {name!r} does not parse: {e}") from None
        cons = dict(snap.get("constraints") or {})
        cons[str(name)] = str(expr)
        snap["constraints"] = cons
        self._commit(snap)
        return {"constraints": cons}

    def drop_constraint(self, name: str) -> dict[str, Any]:
        snap = self._begin_commit()
        cons = dict(snap.get("constraints") or {})
        if name not in cons:
            raise KeyError(f"no constraint named {name!r}")
        del cons[name]
        snap["constraints"] = cons
        self._commit(snap)
        return {"constraints": cons}

    def set_sort_order(
        self, sort_order: list[str] | None, zorder: bool = False, bits: int = 6,
    ) -> dict[str, Any]:
        """Declare (or clear) the table sort order — a METADATA-ONLY commit,
        like schema evolution: existing files keep their layout; every
        subsequent rewrite (COW epoch, compaction, rebucket) emits files
        sorted by these columns. Run :meth:`compact_table` (mor) or
        :meth:`rebucket` (same bucket count is rejected — use any rewrite)
        to re-cluster history immediately.

        ``zorder=True`` declares MULTI-DIMENSIONAL clustering instead of a
        linear sort: rewrites order rows by an interleaved-bit (Morton) key
        over per-column equi-depth buckets, so row-group zone maps stay
        tight on EVERY sort column — predicates on the second or third
        column skip row groups too, where a linear sort only serves the
        leading column. The ``2^bits - 1`` cut points per column are
        sampled from the CURRENT table state by one sketch aggregate here
        at declaration time and stored in the snapshot, so the per-epoch
        rewrite hot path pays zero extra jobs; distribution drift degrades
        clustering sharpness, never correctness — re-run this to refresh.
        Requires a non-empty table (there is nothing to sample cuts from)
        and sortable column types (numeric / string / timestamp / date).
        """
        snap = self._begin_commit()
        cur = T.StructType.fromJson(snap["schemas"][snap["current_schema_id"]])
        fields = {f.name: f for f in cur.fields}
        for c in sort_order or []:
            if c not in fields:
                raise ValueError(f"sort_order column {c!r} not in table schema")
        snap["sort_order"] = list(sort_order) if sort_order else []
        if zorder and snap["sort_order"]:
            if not (1 <= bits <= 12 and bits * len(snap["sort_order"]) <= 60):
                # the per-column cut list is 2^bits entries — cap bits
                # itself (4096 buckets/column is already finer than any
                # row-group granularity), not just the interleaved width
                raise ValueError(
                    f"bits must be in [1, 12] and bits * n_columns must "
                    f"fit a long, got {bits}"
                )
            norms = []
            for c in snap["sort_order"]:
                norm = _zorder_norm(c, fields[c].dataType)
                if norm is None:
                    raise ValueError(
                        f"z-order unsupported for column {c!r} of type "
                        f"{fields[c].dataType.simpleString()}"
                    )
                norms.append(norm)
            probs = [i / (1 << bits) for i in range(1, 1 << bits)]
            row = self.read().agg(
                *[
                    F.percentile_approx(n, F.lit(probs), F.lit(10_000)).alias(f"c{i}")
                    for i, n in enumerate(norms)
                ]
            ).first()
            cuts = [row[f"c{i}"] for i in range(len(norms))]
            if any(c is None for c in cuts):
                raise ValueError(
                    "z-order needs rows to sample cut points from — load data "
                    "first (or a sort column is entirely NULL)"
                )
            snap["sort_strategy"] = "zorder"
            snap["sort_bits"] = int(bits)
            snap["sort_cuts"] = [list(c) for c in cuts]
        else:
            snap["sort_strategy"] = "linear"
            snap.pop("sort_cuts", None)
            snap.pop("sort_bits", None)
        self._commit(snap)
        return {"sort_order": snap["sort_order"], "strategy": snap["sort_strategy"]}

    def _cow_plan(
        self,
        snap: dict,
        src: DataFrame,
        op_col: str,
        affected: list[int],
        src_keys_broadcastable: bool = True,
    ) -> DataFrame:
        """Build the copy-on-write MERGE plan for one epoch slice (``src``
        already carries ``_b``). Split out so plan tests can assert its
        shape without committing anything.

        MERGE arms, relationally and PER-KEY SEQ-AWARE (a source row wins
        only if its order_col beats the target's current row — Iceberg's
        "WHEN MATCHED AND s.seq > t.seq"):

        * kept    = target rows whose key is absent from source OR whose
          seq >= the source row's seq
        * applied = source non-deletes minus keys the target won

        Seq-awareness makes the MERGE idempotent at the ROW level: any
        subset of the WAL replayed in any order converges (equal seq →
        target wins → replay is a no-op), which is what lets the
        streaming variant survive checkpoint loss (streaming/stream.py).

        Probe strategy: the source (key, seq) set — one compacted epoch,
        pruned columns — is broadcast when ``src_keys_broadcastable``, so
        the target side streams through both probes without shuffling or
        sorting; ``tgt_wins`` is ≤ |source keys| rows. Above the ingest
        loop's ``compact_threshold`` (a 10^7-key epoch would be a multi-GB
        driver build) the same joins run shuffled on the key columns —
        one bounded exchange per side instead of an unbounded broadcast.
        """
        hint = F.broadcast if src_keys_broadcastable else (lambda df: df)
        key_cols = snap["key_cols"]
        cur_schema = T.StructType.fromJson(snap["schemas"][snap["current_schema_id"]])
        order = snap.get("order_col", "seq")

        def arms():
            sseq = F.col("_sseq")
            return (
                F.col(order).alias("_sseq"),
                sseq.isNull() | (sseq <= F.col(order)),
                sseq <= F.col(order),
                F.col(op_col) != "D",
            )

        src_seq, tgt_kept, tgt_won, upsert = _PROJECTIONS.get(("cow", order, op_col), arms)
        src_keys = src.select(*key_cols, src_seq)
        tgt = self.read(buckets=affected, at_snapshot=snap)
        kept = (
            tgt.join(hint(src_keys), on=key_cols, how="left")
            .where(tgt_kept)
            .drop("_sseq")
        )
        tgt_wins = (
            tgt.join(hint(src_keys), on=key_cols, how="inner")
            .where(tgt_won)
            .select(*key_cols)
        )
        applied = _align(
            src.where(upsert).join(hint(tgt_wins), on=key_cols, how="left_anti"),
            cur_schema,
        )
        return (
            kept.unionByName(applied)
            .withColumn("_b", bucket_expr(snap["n_buckets"], key_cols))
        )

    def _merge_mor(
        self, snap, source: DataFrame, epoch: int, lo, hi, t0,
        src_rows: int | None = None, lag_events: int = 0, pre_commit=None,
        stage: bool = False,
    ) -> dict[str, Any]:
        """Merge-on-read arm: append the compacted slice (op retained) as a
        bucket-partitioned delta — no target read, no join, no rewrite.
        One write and one bucket shuffle per epoch; reads reconcile (see
        read())."""
        n_buckets = snap["n_buckets"]
        key_cols = snap["key_cols"]
        cur_schema = T.StructType.fromJson(snap["schemas"][snap["current_schema_id"]])
        with_op_schema = T.StructType(
            list(cur_schema.fields) + [T.StructField("op", T.StringType(), True)]
        )
        pre_bucketed = "_b" in source.columns
        with_op = _align(source, with_op_schema, keep=("_b",) if pre_bucketed else ())
        data_dir = f"delta/e{epoch:010d}"
        out_path = os.path.join(self.path, data_dir)
        if not pre_bucketed:
            # single action: one task per bucket → one file per bucket dir
            with_op = shuffle_by_bucket(
                with_op.withColumn("_b", bucket_expr(n_buckets, key_cols)), n_buckets
            )
        # pre-bucketed: the ingest loop already placed the one full-row
        # shuffle BEFORE the extraction expressions
        # (ingest.prebucket_for_merge); each task holds one (bucket, salt)
        # pair, so the write emits ≤ n_salts files per bucket
        with_op.write.mode("overwrite").partitionBy("_b").parquet(out_path)
        rows = dict(sorted(self._written_bucket_counts(out_path).items()))
        if sum(rows.values()):
            snap["deltas"].append(
                {"dir": data_dir, "schema_id": snap["current_schema_id"], "epoch": epoch}
            )
        else:
            rows = {}  # nothing written: an empty epoch
        return self._commit_epoch(
            snap, epoch, rows, lo, hi, t0, src_rows, lag_events, pre_commit, stage
        )

    def _written_bucket_counts(self, out_path: str) -> dict[int, int]:
        """Per-bucket row counts of a just-written bucket-partitioned dir,
        from parquet footers (:func:`parquet_rows`). Keeps the hot ingest
        path at exactly one Spark job per epoch."""
        return {
            int(name.split("=", 1)[1]): parquet_rows(os.path.join(out_path, name))
            for name in os.listdir(out_path)
            if name.startswith("_b=")
        }

    def compact_table(self) -> dict[str, Any]:
        """Maintenance compaction (mor mode): fold all deltas into the base
        and clear them. Runs off the hot ingest path (every N epochs); the
        analogue of Iceberg's rewrite_data_files."""
        t0 = time.monotonic()
        snap = self._begin_commit()
        if snap.get("mode", "cow") != "mor" or not snap.get("deltas"):
            return {"skipped": True}
        merged = self.read(at_snapshot=snap).withColumn(
            "_b", bucket_expr(snap["n_buckets"], snap["key_cols"])
        )
        rows = self._rewrite(snap, merged, f"data/c{snap['version']:010d}")
        snap["deltas"] = []
        self._commit(snap)
        return {"skipped": False, "secs": time.monotonic() - t0, "rows": sum(rows.values())}

    def rebucket(self, new_n_buckets: int) -> dict[str, Any]:
        """Partition-spec evolution: rewrite the live rows into a NEW
        bucket count as one committed snapshot — Iceberg's bucket-spec
        change + rewrite_data_files in a single maintenance move. The
        operation a 10^10-row table needs when it outgrows its bucket
        count (oversized files, too-coarse pruning): one shuffle of the
        live rows, atomic swap, no reader disruption (pre-commit readers
        keep the old layout; time travel to old snapshots still resolves
        their own bucket mapping). MOR deltas are folded in the same
        rewrite. The changelog across a rebucket is EMPTY — the bucket
        diff flags everything (superset) but finds no logical change.
        """
        snap = self._begin_commit()
        if int(new_n_buckets) < 1:
            raise ValueError(f"rebucket: n_buckets must be >= 1, got {new_n_buckets}")
        t0 = time.monotonic()
        if int(new_n_buckets) == int(snap["n_buckets"]):
            return {"skipped": True, "n_buckets": int(snap["n_buckets"])}
        merged = self.read(at_snapshot=snap).withColumn(
            "_b", bucket_expr(new_n_buckets, snap["key_cols"])
        )
        snap["n_buckets"] = int(new_n_buckets)
        rows = self._rewrite(snap, merged, f"data/r{snap['version']:010d}")
        snap["deltas"] = []
        self._commit(snap)
        return {
            "skipped": False,
            "n_buckets": int(new_n_buckets),
            "rows": sum(rows.values()),
            "secs": time.monotonic() - t0,
        }

    def key_history(self, key: dict[str, Any]) -> DataFrame:
        """All retained versions of ONE key across snapshots — "show me
        this file's history" (time travel, row-granular). Each retained
        snapshot contributes a bucket-pruned point lookup under its OWN
        bucket mapping (rebucket-safe); the result is their lazy union
        tagged with (_version, _epoch). O(retained snapshots) single-
        bucket scans — a debug/audit op, not a table scan.
        """
        snaps = self.snapshots()
        if not snaps:
            return self.spark.createDataFrame([], self.schema)
        key_cols = snaps[-1]["key_cols"]
        # ONE tiny job computes the key's xxhash64; each snapshot's bucket
        # is then driver-side arithmetic (pmod), whatever its bucket count.
        # The probe row MUST carry the key columns' REAL types: xxhash64
        # over a string-cast of a long hashes different bytes than the
        # bucketing hash, silently pruning the wrong bucket (ADVICE r5).
        cur = {f.name: f for f in self.schema.fields}
        probe_schema = T.StructType(
            [
                T.StructField(
                    k, cur[k].dataType if k in cur else T.StringType(), True
                )
                for k in key_cols
            ]
        )
        h = int(
            self.spark.createDataFrame(
                [tuple(key[k] for k in key_cols)], probe_schema
            )
            .select(F.xxhash64(*key_cols).alias("h"))
            .first()["h"]
        )
        parts = []
        for snap in snaps:
            n = int(snap["n_buckets"])
            b = ((h % n) + n) % n
            df = self.read(buckets=[int(b)], at_snapshot=snap)
            for k in key_cols:
                df = df.where(F.col(k) == key[k])
            parts.append(
                df.withColumn("_version", F.lit(int(snap["version"])))
                .withColumn("_epoch", F.lit(int(snap["epoch"])))
            )
        if not parts:
            return self.spark.createDataFrame([], self.schema)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p, allowMissingColumns=True)
        return out

    # -- maintenance ------------------------------------------------------------

    def _snapshot_files(self) -> list[tuple[int, str]]:
        """``(version, file name)`` of every snapshot file, oldest first,
        committed or not."""
        return sorted(
            (int(n[5:-5]), n) for n in os.listdir(os.path.join(self.path, "snapshots"))
            if n.startswith("snap-") and n.endswith(".json")
        )

    def snapshots(self) -> list[dict[str, Any]]:
        """All retained committed snapshots, oldest first (time travel:
        pass one to ``read(at_snapshot=...)``). A snapshot file whose
        version is above both CURRENT and STAGING comes from a commit
        interrupted before its pointer swing: it is not committed and not
        listed."""
        named = [self._pointer(p) for p in (_CURRENT, _STAGING)]
        top = max((int(n[5:-5]) for n in named if n), default=-1)
        return [self._load(n) for v, n in self._snapshot_files() if v <= top]

    def snapshot_at_epoch(self, epoch: int) -> dict[str, Any]:
        """The table state as of ``epoch``: the latest retained snapshot
        whose committed epoch is ≤ ``epoch`` (an evolve-only commit shares
        its predecessor's epoch — the later version wins). Raises if the
        epoch predates the retention window (vacuumed away)."""
        cands = [s for s in self.snapshots() if int(s.get("epoch", -1)) <= epoch]
        if not cands:
            raise ValueError(
                f"no retained snapshot at epoch <= {epoch} (expired by vacuum?)"
            )
        return max(cands, key=lambda s: int(s["version"]))

    # -- tags (named time travel) -----------------------------------------------

    def tags(self) -> dict[str, int]:
        """Named snapshot pins: {tag: snapshot version} (Iceberg tags).
        Tagged snapshots survive vacuum until the tag is dropped."""
        p = os.path.join(self.path, "TAGS")
        if not os.path.exists(p):
            return {}
        with open(p) as f:
            return {k: int(v) for k, v in json.load(f).items()}

    def set_tag(self, name: str, version: int | None = None) -> dict[str, Any]:
        """Pin a snapshot under a name (default: the current one) —
        audit/reproducibility handles ("the corpus train-v3 was built
        from"): ``read(at_snapshot=snapshot_by_tag(name))`` forever
        resolves the same rows, because vacuum keeps tagged snapshots and
        the data they reference until the tag is dropped."""
        versions = {int(s["version"]) for s in self.snapshots()}
        v = int(self._snapshot()["version"]) if version is None else int(version)
        if v not in versions:
            raise ValueError(f"no retained snapshot with version {v}")
        tags = self.tags()
        tags[str(name)] = v
        atomic_write(os.path.join(self.path, "TAGS"), json.dumps(tags))
        return {"tags": tags}

    def drop_tag(self, name: str) -> dict[str, Any]:
        tags = self.tags()
        if name not in tags:
            raise KeyError(f"no tag named {name!r}")
        del tags[name]
        atomic_write(os.path.join(self.path, "TAGS"), json.dumps(tags))
        return {"tags": tags}

    def snapshot_by_tag(self, name: str) -> dict[str, Any]:
        tags = self.tags()
        if name not in tags:
            raise KeyError(f"no tag named {name!r}")
        for s in self.snapshots():
            if int(s["version"]) == tags[name]:
                return s
        raise ValueError(f"tag {name!r} points at version {tags[name]}, "
                         "which is no longer retained")

    def vacuum(self, keep_snapshots: int = 1) -> dict[str, Any]:
        """Delete data directories unreferenced by the last ``keep_snapshots``
        snapshots, the expired snapshot files, and the temp files an
        interrupted :func:`atomic_write` left in the table root,
        ``snapshots/``, ``audits/``, ``manifest/`` and ``metrics/``. Safe
        ordering: the CURRENT pointer is never touched; only files no
        retained snapshot references are removed (Iceberg expire_snapshots
        analogue).
        Tagged snapshots (and everything they reference) are always kept."""
        import shutil

        snaps = self.snapshots()
        keep = snaps[-keep_snapshots:] if keep_snapshots > 0 else snaps[-1:]
        # the snapshots the pointers name are ALWAYS kept: with a staged
        # snapshot pending (version = current+1), "last N by version" alone
        # would expire CURRENT's own snapshot at keep_snapshots=1
        pinned = {int(self._snapshot()["version"])} | set(self.tags().values())
        staged = self.staged_snapshot()
        if staged is not None:
            pinned.add(int(staged["version"]))
        kept_versions = {int(s["version"]) for s in keep}
        keep = keep + [
            s for s in snaps
            if int(s["version"]) in pinned and int(s["version"]) not in kept_versions
        ]
        # a snapshot file above the pointers may be a commit in flight (its
        # writer swings the pointer next): keep it and the data it names
        top = int(snaps[-1]["version"])
        keep += [self._load(n) for v, n in self._snapshot_files() if v > top]
        referenced: set[str] = set()
        for s in keep:
            for e in s["buckets"].values():
                # bucket dirs live one level under their data dir
                referenced.add(e["dir"].split("/_b=")[0])
            for d in s.get("deltas", []):
                referenced.add(d["dir"])
        removed_dirs = 0
        for root in ("data", "delta"):
            rdir = os.path.join(self.path, root)
            if not os.path.isdir(rdir):
                continue
            for name in os.listdir(rdir):
                rel = f"{root}/{name}"
                if rel not in referenced:
                    shutil.rmtree(os.path.join(rdir, name), ignore_errors=True)
                    removed_dirs += 1
        keep_versions = {s["version"] for s in keep}
        removed_snaps = 0
        for v, name in self._snapshot_files():
            if v not in keep_versions:
                os.remove(os.path.join(self.path, "snapshots", name))
                removed_snaps += 1
        # temp files of atomic_write calls that died before their rename;
        # the table's one writer is this process, so none is in flight
        removed_tmp = 0
        for sub in ("", "snapshots", "audits", "manifest", "metrics"):
            d = os.path.join(self.path, sub)
            for name in os.listdir(d) if os.path.isdir(d) else ():
                if _ATOMIC_TMP.fullmatch(name):
                    os.remove(os.path.join(d, name))
                    removed_tmp += 1
        return {"removed_data_dirs": removed_dirs, "removed_snapshots": removed_snaps,
                "removed_temp_files": removed_tmp}

    # -- write-audit-publish staging ----------------------------------------------

    def delete_where(self, predicate: str) -> dict[str, Any]:
        """Row-level ``DELETE FROM … WHERE`` (Iceberg copy-on-write DELETE
        analogue) as a MAINTENANCE commit: the affected buckets are
        rewritten without the matching rows and the version advances with
        the EPOCH UNCHANGED — the WAL's epoch numbering is never consumed
        (a delete that claimed an epoch number would make the ingest loop
        silently skip that WAL slice). The retention/GDPR redaction move.

        SQL DELETE semantics: rows where the predicate is NULL are KEPT.
        MOR deltas are folded first (one compact) so an older delta row
        cannot resurrect a deleted key at read time. Work ∝ affected
        buckets. Time travel BEFORE this commit still shows the rows —
        vacuum expires that history when the point is erasure. The commit
        bumps ``content_rev``: the marker content-preserving maintenance
        (compaction, sort, rebucket) leaves alone, so state-diff consumers
        (the follow feed) can tell "same epoch, rows changed" from "same
        epoch, layout changed".
        """
        snap = self._begin_commit()
        if snap.get("deltas"):
            self.compact_table()
            snap = self._snapshot()
        n_buckets = snap["n_buckets"]
        key_cols = snap["key_cols"]
        hit = F.coalesce(F.expr(predicate), F.lit(False))
        victims = (
            self.read(at_snapshot=snap).where(hit)
            .withColumn("_b", bucket_expr(n_buckets, key_cols))
        )
        affected = sorted(r["_b"] for r in victims.select("_b").distinct().collect())
        if not affected:
            return {"deleted": 0, "buckets_rewritten": 0,
                    "version": int(snap["version"])}
        kept = (
            self.read(buckets=affected, at_snapshot=snap).where(~hit)
            .withColumn("_b", bucket_expr(n_buckets, key_cols))
        )
        old_rows = sum(
            int(e["rows"]) for b, e in snap["buckets"].items() if int(b) in set(affected)
        )
        rows = self._rewrite(snap, kept, f"data/dl{snap['version']:010d}", affected)
        deleted = old_rows - sum(rows.values())
        snap["content_rev"] = int(snap.get("content_rev", 0)) + 1
        self._commit(snap)
        return {
            "deleted": int(deleted),
            "buckets_rewritten": len(affected),
            "version": int(snap["version"]),
            "epoch": int(snap["epoch"]),
        }

    def maintain(
        self,
        max_delta_epochs: int = 8,
        max_loose_sidecars: int = 64,
        keep_snapshots: int = 25,
    ) -> dict[str, Any]:
        """One POLICY-DRIVEN maintenance pass: run each maintenance move
        only when its metadata signal says it is due — the standing
        cron-style table service a 10^5-epoch ingest needs (Iceberg's
        maintenance procedures behind one decision layer). Idempotent: a
        second invocation right after finds nothing due.

        * MOR delta fold (``compact_table``) when the snapshot lists more
          than ``max_delta_epochs`` un-compacted delta epochs — the
          read-amplification bound;
        * sidecar folding (``compact_sidecars``) when loose per-epoch
          manifest/metrics files exceed ``max_loose_sidecars`` — the
          small-files bound;
        * snapshot expiry (``vacuum``) when retained snapshots exceed
          ``keep_snapshots`` — the metadata/storage bound.

        Every DECISION comes from snapshot metadata + a directory listing;
        no data row is scanned to decide anything. Returns what ran and,
        for what didn't, the observed level vs its threshold.
        """
        snap = self._snapshot()
        out: dict[str, Any] = {}

        n_deltas = len(snap.get("deltas") or [])
        if snap.get("mode", "cow") == "mor" and n_deltas > max_delta_epochs:
            out["compact"] = self.compact_table()
        else:
            out["compact"] = {"due": False, "delta_epochs": n_deltas,
                              "threshold": max_delta_epochs}

        loose = 0
        for kind in ("manifest", "metrics"):
            d = os.path.join(self.path, kind)
            if os.path.isdir(d):
                loose += sum(1 for n in os.listdir(d) if _side_epoch(n) is not None)
        if loose > max_loose_sidecars:
            out["sidecars"] = self.compact_sidecars()
        else:
            out["sidecars"] = {"due": False, "loose_files": loose,
                               "threshold": max_loose_sidecars}

        n_snaps = len(self.snapshots())
        if n_snaps > keep_snapshots:
            out["vacuum"] = self.vacuum(keep_snapshots=keep_snapshots)
        else:
            out["vacuum"] = {"due": False, "snapshots": n_snaps,
                             "threshold": keep_snapshots}
        return out

    def _check_staging_clear(self, epoch: int, stage: bool) -> None:
        """A pending staged snapshot blocks every commit except re-staging
        the SAME epoch (the crash-recovery path): committing past it would
        collide on the version number (staged version = current+1), and
        publishing implicitly would defeat the audit gate. Loud-over-wrong."""
        # heal a crashed publish HERE (a write path): a STAGING pointer
        # naming the same snapshot as CURRENT means the publish fully
        # happened before the crash — remove the stale pointer so it
        # neither blocks this commit nor tempts a discard_staged that
        # would delete the snapshot CURRENT names. Read paths
        # (staged_snapshot via show/vacuum) stay strictly read-only.
        staged_name = self._pointer(_STAGING)
        if staged_name is not None and staged_name == self._pointer(_CURRENT):
            os.remove(os.path.join(self.path, _STAGING))
        staged = self.staged_snapshot()
        if staged is None:
            return
        if stage and int(staged.get("epoch", -2)) == int(epoch):
            return  # idempotent re-stage after a crash
        raise ValueError(
            f"epoch {staged['epoch']} is staged but not published — "
            "publish_staged() or discard_staged() first"
        )

    def staged_snapshot(self) -> dict[str, Any] | None:
        """The pending staged snapshot (write-audit-publish), or None. A
        STAGING pointer whose snapshot file is gone (discarded mid-crash)
        reads as None; a STAGING pointer naming the SAME snapshot as
        CURRENT means a publish crashed between the two pointer writes —
        the publish already fully happened, so it reads as None. This is
        a STRICTLY READ-ONLY probe (it is invoked from `show` and vacuum
        pinning — a nominally read-only command must not mutate table
        state another process may be acting on); the stale-pointer
        cleanup happens on the next WRITE path via _check_staging_clear."""
        name = self._pointer(_STAGING)
        if name is None or name == self._pointer(_CURRENT):
            return None
        if not os.path.exists(os.path.join(self.path, "snapshots", name)):
            return None
        return self._load(name)

    def publish_staged(self) -> dict[str, Any]:
        """Atomically make the staged snapshot the table's CURRENT state —
        the PUBLISH step of write-audit-publish. Call after auditing
        ``read(at_snapshot=staged_snapshot())`` (row-count drift, dedup
        rate, contamination — any operator works: the staged state is a
        first-class snapshot)."""
        staged = self.staged_snapshot()
        if staged is None:
            raise ValueError("no staged snapshot to publish")
        self._check_base(int(staged["version"]) - 1)
        name = f"snap-{staged['version']:08d}.json"
        atomic_write(os.path.join(self.path, _CURRENT), name)
        os.remove(os.path.join(self.path, _STAGING))
        return {"published": True, "epoch": int(staged["epoch"]),
                "version": int(staged["version"])}

    def discard_staged(self) -> dict[str, Any]:
        """Drop the staged snapshot without publishing — the audit REJECTED
        the epoch. CURRENT never moved, so readers saw nothing; the epoch's
        data files are orphaned (vacuumable) and the epoch number is free
        to be re-merged after the upstream fix (its deterministic dirs are
        overwritten). Pointer first, snapshot file second: a crash between
        leaves an orphan snapshot file that the next commit of the same
        version overwrites."""
        staged = self.staged_snapshot()
        if staged is None:
            raise ValueError("no staged snapshot to discard")
        os.remove(os.path.join(self.path, _STAGING))
        sp = os.path.join(self.path, "snapshots", f"snap-{staged['version']:08d}.json")
        if os.path.exists(sp):
            os.remove(sp)
        return {"discarded": True, "epoch": int(staged["epoch"]),
                "version": int(staged["version"])}

    # -- rollback (recover-and-replay) -------------------------------------------

    def _side_table_through(self, snap: dict, kind: str, through_epoch: int):
        """Driver-side (pyarrow) read of a side table's committed rows with
        ``epoch <= through_epoch`` — the files :meth:`_side_files` resolves
        for ``snap``. Side tables are O(epochs × buckets) rows; no Spark
        job. Returns a pyarrow Table or None."""
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        paths = self._side_files(snap, kind)
        if not paths:
            return None
        t = pa.concat_tables([pq.read_table(p) for p in paths])
        t = t.filter(pc.less_equal(t.column("epoch"), pa.scalar(through_epoch, type=pa.int64())))
        return t if t.num_rows else None

    def rollback(
        self,
        version: int | None = None,
        epoch: int | None = None,
        tag: str | None = None,
    ) -> dict[str, Any]:
        """Make an earlier retained snapshot the CURRENT table state via a
        new snapshot commit (Iceberg ``rollback_to_snapshot`` analogue) —
        the bad-epoch recovery primitive: roll back past the poisoned
        commit, fix the WAL, re-ingest; exactly-once epoch numbering makes
        the replay converge (``merge`` re-applies every epoch above the
        rolled-back watermark and skips nothing else).

        Exactly one selector: ``version`` (snapshot version), ``epoch``
        (resolved via :meth:`snapshot_at_epoch`), or ``tag``.

        Semantics — the new snapshot is the TARGET's full committed state
        (data refs, schema history, seq_hi watermark, sort order,
        constraints) under a fresh version number:

        * lineage follows the data: manifest/metrics rows above the target
          epoch are consolidated AWAY (one rewritten segment per side table,
          watermark = target epoch), so a replayed epoch re-records its
          lineage exactly once — no stale row from the abandoned timeline
          can resurface even if a replayed epoch lands as a no-op;
        * snapshots ABOVE the target are retired (their files deleted, data
          dirs left to :meth:`vacuum`): epoch dirs are deterministic
          (``data/e{epoch}``), so a replay OVERWRITES the abandoned
          timeline's files — retaining those snapshots would leave time
          travel pointing at data that silently changes underneath it.
          Loud-over-wrong: if a TAG pins a superseded snapshot the rollback
          refuses until the tag is dropped;
        * crash ordering is the commit protocol's: new segments first
          (orphans if we crash — never read, swept later), then the
          one-file snapshot commit, then cleanup (re-runnable).
        """
        if sum(x is not None for x in (version, epoch, tag)) != 1:
            raise ValueError("rollback needs exactly one of version=, epoch=, tag=")
        if self.staged_snapshot() is not None:
            raise ValueError(
                "a staged snapshot is pending — publish_staged() or "
                "discard_staged() before rolling back"
            )
        cur = self._snapshot()
        if tag is not None:
            target = self.snapshot_by_tag(tag)
        elif epoch is not None:
            target = self.snapshot_at_epoch(int(epoch))
        else:
            matches = [s for s in self.snapshots() if int(s["version"]) == int(version)]
            if not matches:
                raise ValueError(f"no retained snapshot with version {version}")
            target = matches[0]
        if int(target["version"]) == int(cur["version"]):
            return {"noop": True, "version": int(cur["version"]), "epoch": int(cur["epoch"])}
        blocking = {
            name: v for name, v in self.tags().items()
            if int(v) > int(target["version"])
        }
        if blocking:
            raise ValueError(
                "rollback would retire tagged snapshot(s) — drop the tag(s) "
                f"first or roll back to a later state: {blocking}"
            )

        target_epoch = int(target["epoch"])
        new = json.loads(json.dumps(target))  # deep copy of the target state
        new["version"] = int(cur["version"])  # _commit bumps it
        new["rollback_of"] = int(target["version"])
        new["rolled_back_from"] = int(cur["version"])
        # timeline marker: every rollback starts a new lineage; all later
        # commits inherit it (commits mutate the loaded dict). Consumers
        # that diff across snapshots (the follow feed) use it to tell
        # "replayed epoch N on a NEW timeline" apart from "maintenance
        # commit at the same epoch" — epoch+version alone cannot.
        new["timeline"] = int(cur.get("timeline", 0)) + 1
        # consolidate each side table to the target epoch under the CURRENT
        # snapshot's file view (the target's own segment list may reference
        # files a later compact_sidecars folded and removed)
        for kind in ("manifest", "metrics"):
            t = self._side_table_through(cur, kind, target_epoch)
            if t is None:
                new[f"{kind}_segments"] = []
            else:
                seg = f"seg-{uuid.uuid4().hex}.parquet"
                atomic_write(os.path.join(self.path, kind, seg), _parquet_bytes(t))
                new[f"{kind}_segments"] = [seg]
            new[f"{kind}_compacted_through"] = target_epoch

        self._commit(new)

        # cleanup (all re-runnable; a crash anywhere here is benign):
        # retire superseded snapshot files, drop the abandoned timeline's
        # per-epoch side files, sweep segments nothing references
        retired = 0
        for v, name in self._snapshot_files():
            if int(target["version"]) < v < int(new["version"]):
                os.remove(os.path.join(self.path, "snapshots", name))
                retired += 1
        for kind in ("manifest", "metrics"):
            d = os.path.join(self.path, kind)
            if not os.path.isdir(d):
                continue
            for n in os.listdir(d):
                if (e := _side_epoch(n)) is not None and e > target_epoch:
                    os.remove(os.path.join(d, n))
        self._clean_side_orphans(new)
        return {
            "noop": False,
            "version": int(new["version"]),
            "epoch": target_epoch,
            "rolled_back_from": int(cur["version"]),
            "rollback_of": int(target["version"]),
            "snapshots_retired": retired,
        }

    # -- lineage / metrics (appendable parquet side-tables) ---------------------

    # On-disk raw schemas: committed_ts is stored as epoch-seconds double
    # (timezone-free, engine-portable) and surfaced as TimestampType.
    _MANIFEST_RAW = T.StructType(
        [
            T.StructField("partition", T.IntegerType(), True),
            T.StructField("epoch", T.LongType(), True),
            T.StructField("committed_ts", T.DoubleType(), True),
            T.StructField("rows_applied", T.LongType(), True),
            T.StructField("src_seq_lo", T.LongType(), True),
            T.StructField("src_seq_hi", T.LongType(), True),
        ]
    )

    _SIDE_RAW = {"manifest": _MANIFEST_RAW, "metrics": METRICS_SCHEMA}

    def _append_side_rows(self, kind: str, epoch: int, rows: list[dict]) -> None:
        """Atomically write one epoch's manifest/metrics rows as a parquet
        file under ``{table}/{kind}/e{epoch}.parquet`` — pyarrow, driver-side,
        O(n_buckets) rows, no Spark job on the hot path. Deterministic name
        + atomic replace ⇒ a retried epoch overwrites its own orphan. The
        file's columns are the raw schema's, every field nullable."""
        import pyarrow as pa

        arrow = {"integer": "int32", "long": "int64", "double": "float64"}
        schema = pa.schema([
            pa.field(f.name, pa.type_for_alias(arrow[f.dataType.typeName()]))
            for f in self._SIDE_RAW[kind].fields
        ])
        d = os.path.join(self.path, kind)
        os.makedirs(d, exist_ok=True)
        cols = {name: [r[name] for r in rows] for name in schema.names}
        tbl = pa.Table.from_pydict(cols, schema=schema)
        atomic_write(os.path.join(d, f"e{epoch:010d}.parquet"), _parquet_bytes(tbl))

    def _side_segments(self, snap: dict, kind: str) -> list[str]:
        """Names of the committed consolidated segment files for a side
        table (legacy tables that predate segment naming fall back to the
        old single ``all.parquet`` if it exists)."""
        segs = snap.get(f"{kind}_segments")
        if segs is not None:
            return list(segs)
        if os.path.exists(os.path.join(self.path, kind, "all.parquet")):
            return ["all.parquet"]
        return []

    def _side_files(self, snap: dict, kind: str) -> list[str]:
        """A side table's files under ``snap``: the consolidated segments
        it names plus the per-epoch files newer than its consolidation
        watermark. Only segment files the SNAPSHOT references are read, so
        an orphan segment from a crashed :meth:`compact_sidecars` is
        invisible; stale per-epoch files below the watermark are excluded
        by the watermark. No crash window can make a row appear twice."""
        d = os.path.join(self.path, kind)
        if not os.path.isdir(d):
            return []
        segs = [os.path.join(d, n) for n in self._side_segments(snap, kind)]
        missing = [p for p in segs if not os.path.exists(p)]
        if missing:
            # a segment the COMMITTED snapshot references is gone — that is
            # exactly the corruption the segment-list commit protocol
            # exists to surface; silently skipping it would drop
            # manifest/metrics history without a trace
            raise FileNotFoundError(
                f"{kind} segment(s) named in committed snapshot are missing "
                f"on disk: {missing} — side table at {d} is corrupt"
            )
        wm = int(snap.get(f"{kind}_compacted_through", -1))
        return segs + [
            os.path.join(d, n) for n in sorted(os.listdir(d))
            if (e := _side_epoch(n)) is not None and e > wm
        ]

    def _read_side(self, kind: str) -> DataFrame | None:
        """Spark scan of a side table's :meth:`_side_files` under the
        current snapshot."""
        snap = self._snapshot()
        paths = self._side_files(snap, kind)
        if not paths:
            return None
        df = self.spark.read.schema(self._SIDE_RAW[kind]).parquet(*paths)
        # anchor to the committed snapshot: orphan files from a crashed
        # commit carry epoch > snapshot.epoch and are filtered out
        return df.where(F.col("epoch") <= F.lit(snap["epoch"]))

    def _clean_side_orphans(self, snap: dict) -> int:
        """Remove side files no committed snapshot state references: stale
        per-epoch files at/below the watermark and consolidated segments
        absent from the snapshot's segment list (either kind is left behind
        only by a crash inside :meth:`compact_sidecars`, and is never read)."""
        removed = 0
        for kind in ("manifest", "metrics"):
            d = os.path.join(self.path, kind)
            if not os.path.isdir(d):
                continue
            through = int(snap.get(f"{kind}_compacted_through", -1))
            referenced = set(self._side_segments(snap, kind))
            for n in os.listdir(d):
                if not n.endswith(".parquet"):
                    continue
                stale_epoch = (e := _side_epoch(n)) is not None and e <= through
                orphan_seg = (n.startswith("seg-") or n == "all.parquet") and n not in referenced
                if stale_epoch or orphan_seg:
                    os.remove(os.path.join(d, n))
                    removed += 1
        return removed

    def compact_sidecars(self, max_segments: int = 8) -> dict[str, Any]:
        """Maintenance: fold per-epoch manifest/metrics files into
        consolidated segment files (the small-files answer at 10^5 epochs —
        the analogue of Iceberg's manifest rewrite), generationally so a
        per-N-epoch cadence stays amortized-linear: each invocation folds
        only the NEW per-epoch files into a NEW segment; when the segment
        count would exceed ``max_segments``, all segments merge into one
        (LSM-style — full rewrites happen every ``max_segments``
        invocations, not every invocation).

        Crash-safe ordering (single commit for all kinds): write every new
        segment under a fresh unique name → commit the segment lists +
        watermarks in ONE snapshot → delete folded per-epoch files and
        superseded segments. A crash before the commit leaves orphan
        segment files no snapshot references (never read, removed by the
        next invocation's cleanup); a crash after it leaves stale
        per-epoch/segment files the watermark and segment list already
        exclude. Readers can never see a folded row twice."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        t0 = time.monotonic()
        snap = self._begin_commit()
        # cleanup from any previously crashed invocation, against the
        # committed snapshot — safe because only unreferenced files go
        self._clean_side_orphans(snap)
        folded: dict[str, int] = {}
        for kind in ("manifest", "metrics"):
            d = os.path.join(self.path, kind)
            if not os.path.isdir(d):
                continue
            through = int(snap.get(f"{kind}_compacted_through", -1))
            epoch_files = sorted(
                n for n in os.listdir(d)
                if (e := _side_epoch(n)) is not None and through < e <= snap["epoch"]
            )
            segments = self._side_segments(snap, kind)
            if not epoch_files:
                continue
            new_tables = [pq.read_table(os.path.join(d, n)) for n in epoch_files]
            if len(segments) + 1 > max_segments:
                # full merge: fold existing segments in as well
                new_tables = [
                    pq.read_table(os.path.join(d, n)) for n in segments
                ] + new_tables
                segments = []
            seg_name = f"seg-{snap['version'] + 1:08d}-{uuid.uuid4().hex[:8]}.parquet"
            atomic_write(os.path.join(d, seg_name), _parquet_bytes(pa.concat_tables(new_tables)))
            snap[f"{kind}_segments"] = segments + [seg_name]
            snap[f"{kind}_compacted_through"] = int(snap["epoch"])
            folded[kind] = len(epoch_files)
        if not folded:
            return {"skipped": True}
        self._commit(snap)
        self._clean_side_orphans(snap)
        return {"skipped": False, "folded": folded, "secs": time.monotonic() - t0}

    def manifest(self) -> DataFrame:
        raw = self._read_side("manifest")
        if raw is None:
            return self.spark.createDataFrame([], MANIFEST_SCHEMA)
        return raw.select(
            "partition",
            "epoch",
            F.timestamp_seconds("committed_ts").alias("committed_ts"),
            "rows_applied",
            "src_seq_lo",
            "src_seq_hi",
        )

    def metrics(self) -> DataFrame:
        raw = self._read_side("metrics")
        if raw is None:
            return self.spark.createDataFrame([], METRICS_SCHEMA)
        return raw

    # -- metadata inspection tables ------------------------------------------

    _FILES_SCHEMA = T.StructType(
        [
            T.StructField("content", T.StringType(), False),  # base | delta
            T.StructField("bucket", T.IntegerType(), False),
            T.StructField("file", T.StringType(), False),  # table-relative
            T.StructField("schema_id", T.IntegerType(), False),
            T.StructField("epoch", T.LongType(), True),  # delta epoch; base: null
            T.StructField("rows", T.LongType(), False),
            T.StructField("size_bytes", T.LongType(), False),
            T.StructField("row_groups", T.IntegerType(), False),
        ]
    )

    def inspect(self, kind: str) -> DataFrame:
        """Iceberg-style metadata tables (``table.files`` / ``.partitions``
        / ``.snapshots`` / ``.schemas`` analogue) — what an operator reads
        to answer "is compaction due?", "which bucket is skewed?", "what
        does time travel retain?" without scanning a single data row.

        ``files`` / ``partitions`` walk only SNAPSHOT-REFERENCED files and
        read parquet footers — O(#live files) driver-side metadata work,
        the same cardinality the commit manifest itself holds (orphans
        awaiting vacuum are deliberately invisible, exactly like Iceberg's
        files table). ``snapshots`` and ``schemas`` read retained snapshot
        JSON only.
        """
        import pyarrow.parquet as pq

        snap = self._snapshot()
        if kind in ("files", "partitions"):
            rows = []

            def _scan(leaf_dir: str, content: str, bucket: int, sid: int, epoch):
                d = os.path.join(self.path, leaf_dir)
                if not os.path.isdir(d):
                    return
                for n in sorted(os.listdir(d)):
                    if n.endswith(".parquet"):
                        p = os.path.join(d, n)
                        md = pq.ParquetFile(p).metadata
                        rows.append(
                            (content, bucket, f"{leaf_dir}/{n}", sid, epoch,
                             md.num_rows, os.path.getsize(p), md.num_row_groups)
                        )

            for b, e in sorted(snap["buckets"].items(), key=lambda kv: int(kv[0])):
                _scan(e["dir"], "base", int(b), int(e["schema_id"]), None)
            for d_ent in snap.get("deltas", []):
                base_dir = os.path.join(self.path, d_ent["dir"])
                if not os.path.isdir(base_dir):
                    continue
                for sub in sorted(os.listdir(base_dir)):
                    if sub.startswith("_b="):
                        _scan(
                            f"{d_ent['dir']}/{sub}", "delta", int(sub[3:]),
                            int(d_ent["schema_id"]), int(d_ent["epoch"]),
                        )
            files = self.spark.createDataFrame(rows, self._FILES_SCHEMA)
            if kind == "files":
                return files
            return (
                files.groupBy("bucket")
                .agg(
                    F.count("*").alias("n_files"),
                    F.sum("rows").alias("rows"),
                    F.sum("size_bytes").alias("size_bytes"),
                    F.sum(F.when(F.col("content") == "delta", 1).otherwise(0))
                    .cast("int").alias("n_delta_files"),
                )
                .orderBy("bucket")
            )
        if kind == "snapshots":
            rows = [
                (
                    int(s["version"]), int(s["epoch"]), s.get("mode", "cow"),
                    int(s["n_buckets"]), int(s["current_schema_id"]),
                    len(s["schemas"]), len(s.get("buckets") or {}),
                    len(s.get("deltas") or []), int(s.get("seq_hi", -1)),
                    int(s.get("timeline", 0)),
                )
                for s in self.snapshots()
            ]
            return self.spark.createDataFrame(
                rows,
                "version long, epoch long, mode string, n_buckets int, "
                "current_schema_id int, n_schemas int, n_live_buckets int, "
                "n_deltas int, seq_hi long, timeline int",
            )
        if kind == "schemas":
            ids, _ = _snap_field_ids(snap)
            rows = [
                (sid, int(fid), f["name"], f["type"] if isinstance(f["type"], str)
                 else json.dumps(f["type"]), bool(f["nullable"]),
                 sid == int(snap["current_schema_id"]))
                for sid, sch in enumerate(snap["schemas"])
                for fid, f in zip(ids[sid], sch["fields"])
            ]
            return self.spark.createDataFrame(
                rows,
                "schema_id int, field_id int, name string, type string, "
                "nullable boolean, is_current boolean",
            )
        raise ValueError(
            f"unknown inspect kind {kind!r}; one of: files, partitions, "
            "snapshots, schemas"
        )


def _check_compatible_evolution(old: T.StructType, new: T.StructType) -> None:
    """Allow add-column and numeric widening; reject drops/narrowing."""
    widen_ok = {
        ("integer", "long"), ("integer", "double"), ("long", "double"),
        ("float", "double"), ("short", "integer"), ("short", "long"),
    }
    new_names = {f.name: f for f in new.fields}
    for f in old.fields:
        if f.name not in new_names:
            raise ValueError(f"schema evolution cannot drop column {f.name!r}")
        nf = new_names[f.name]
        if nf.dataType != f.dataType:
            pair = (f.dataType.typeName(), nf.dataType.typeName())
            if pair not in widen_ok:
                raise ValueError(
                    f"incompatible type change for {f.name!r}: {pair[0]} -> {pair[1]}"
                )

