"""Traced run: spans from the benchmark's own wrappers, per-call Spark
job groups, the Spark event log reduced per call, single-layer probes and
JVM counters. Nothing here reaches inside the engine; every number is
measured around a public call.

Used by ``run.py --trace 1``: after the untraced window, Spark restarts in
the same JVM with ``spark.eventLog`` on, the same workload runs a traced
window, the probes run once per layer, and the gate checks the change
feed and the view the probes advanced.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from pathlib import Path

LAYERS = [
    # (name, unit)
    ("wal.epoch_stats_s", "s"),
    ("evolve.s", "s"),
    ("compact.s", "s"),
    ("compact.rows_in", "count"),
    ("compact.rows_out", "count"),
    ("extract.s", "s"),
    ("extract.rows", "count"),
    ("merge.s", "s"),
    ("merge.driver_s", "s"),
    ("merge.jobs", "count"),
    ("merge.stages", "count"),
    ("merge.tasks", "count"),
    ("merge.executor_cpu_s", "s"),
    ("merge.shuffle_write_bytes", "bytes"),
    ("merge.shuffle_read_bytes", "bytes"),
    ("merge.spill_bytes", "bytes"),
    ("merge.task_skew", "ratio"),
    ("merge.bytes_written", "bytes"),
    ("merge.files_written", "count"),
    ("merge.write_amp", "ratio"),
    ("merge.compact_table_s", "s"),
    ("merge.compact_table_bytes", "bytes"),
    ("merge.vacuum_s", "s"),
    ("merge.compact_sidecars_s", "s"),
    ("read.s", "s"),
    ("read.files", "count"),
    ("read.delta_epochs", "count"),
    ("read.rows", "count"),
    ("changefeed.follow_s", "s"),
    ("changefeed.rows", "count"),
    ("changefeed.buckets", "count"),
    ("matview.sync_s", "s"),
    ("matview.rows_changed", "count"),
    ("jvm.jit_ms", "ms"),
    ("jvm.gc_ms", "ms"),
    ("self.block_s", "s"),
    ("self.scan_s", "s"),
    ("self.feed_s", "s"),
    ("self.view_s", "s"),
    ("trace.overhead_frac", "ratio"),
]

PROBE_REPS = 3


def med(xs):
    return statistics.median(xs) if xs else 0.0


class Tracer:
    """Spans (name, start, end, parent, epoch) kept in memory; every
    engine call runs under its own Spark job group so the event log can be
    cut per call."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self.stack: list[int] = []
        self.calls: list[dict] = []  # the engine-call spans, in order

    def open(self, name: str, epoch=None) -> dict:
        span = {
            "id": len(self.spans), "name": name, "epoch": epoch,
            "parent": self.stack[-1] if self.stack else None,
            "start": time.perf_counter(), "end": None,
        }
        self.spans.append(span)
        self.stack.append(span["id"])
        return span

    def close(self) -> dict:
        span = self.spans[self.stack.pop()]
        span["end"] = time.perf_counter()
        return span

    # engine calls (Bench.call hooks)
    def begin(self, kind: str, epoch) -> None:
        span = self.open(kind, epoch)
        span["group"] = f"pb-{span['id']}"
        self.sc.setJobGroup(span["group"], kind, False)
        self.calls.append(span)

    def end(self) -> None:
        self.close()
        self.sc.setLocalProperty("spark.jobGroup.id", None)

    def self_times(self) -> dict[str, list[float]]:
        covered: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None:
                covered[s["parent"]] = covered.get(s["parent"], 0.0) + s["end"] - s["start"]
        out: dict[str, list[float]] = {}
        for s in self.spans:
            out.setdefault(s["name"], []).append(s["end"] - s["start"] - covered.get(s["id"], 0.0))
        return out

    def dump(self, path: Path) -> None:
        keep = ("id", "name", "epoch", "parent", "start", "end")
        with open(path, "w") as f:
            json.dump([{k: s[k] for k in keep} for s in self.spans], f)


# -- event log -----------------------------------------------------------------

def read_event_log(log_dir: Path) -> dict[str, dict]:
    """Reduce a Spark JSON event log to per-job-group totals."""
    files = [p for p in log_dir.iterdir() if p.is_file()]
    stage_job: dict[int, int] = {}
    job_group: dict[int, str] = {}
    job_span: dict[int, list[int]] = {}
    tasks: dict[int, list[dict]] = {}
    for p in files:
        with open(p) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    props = ev.get("Properties") or {}
                    job_group[jid] = props.get("spark.jobGroup.id")
                    job_span[jid] = [ev["Submission Time"], ev["Submission Time"]]
                    for sid in ev.get("Stage IDs", []):
                        stage_job[sid] = jid
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in job_span:
                        job_span[ev["Job ID"]][1] = ev["Completion Time"]
                elif kind == "SparkListenerTaskEnd":
                    tasks.setdefault(ev["Stage ID"], []).append(ev)
    groups: dict[str, dict] = {}
    for jid, g in job_group.items():
        if g is None:
            continue
        acc = groups.setdefault(g, {"jobs": 0, "stages": set(), "tasks": 0, "cpu_ns": 0,
                                    "sw": 0, "sr": 0, "spill": 0, "intervals": [],
                                    "stage_task_ms": {}})
        acc["jobs"] += 1
        acc["intervals"].append(job_span[jid])
    for sid, jid in stage_job.items():
        g = job_group.get(jid)
        if g is None or sid not in tasks:
            continue  # skipped stages run no tasks
        acc = groups[g]
        acc["stages"].add(sid)
        durs = []
        for ev in tasks[sid]:
            m = ev.get("Task Metrics") or {}
            acc["tasks"] += 1
            acc["cpu_ns"] += m.get("Executor CPU Time", 0)
            sw = m.get("Shuffle Write Metrics") or {}
            sr = m.get("Shuffle Read Metrics") or {}
            acc["sw"] += sw.get("Shuffle Bytes Written", 0)
            acc["sr"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            acc["spill"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            info = ev.get("Task Info") or {}
            durs.append(info.get("Finish Time", 0) - info.get("Launch Time", 0))
        acc["stage_task_ms"][sid] = durs
    return groups


def covered_ms(intervals: list[list[int]]) -> float:
    """Length of the union of [start, end] intervals."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return float(total)


def task_skew(stage_task_ms: dict[int, list[int]]) -> float:
    """max/median task time of the call's largest stage (by task time)."""
    if not stage_task_ms:
        return 0.0
    durs = max(stage_task_ms.values(), key=sum)
    m = statistics.median(durs)
    return max(durs) / m if m > 0 else 1.0


# -- files ---------------------------------------------------------------------

def file_sizes(root: str) -> dict[str, int]:
    out = {}
    for d, _, names in os.walk(root):
        for n in names:
            p = os.path.join(d, n)
            try:
                out[p] = os.path.getsize(p)
            except OSError:
                pass
    return out


def written(before: dict[str, int], after: dict[str, int]) -> tuple[int, int]:
    new = [p for p in after if p not in before]
    return len(new), sum(after[p] for p in new)


def wal_epoch_bytes(wal: str, epochs) -> int:
    return sum(sum(file_sizes(os.path.join(wal, f"epoch={e}")).values()) for e in epochs)


# -- the traced run ------------------------------------------------------------

def traced_window(b, seconds: float) -> dict:
    """Run the workload's window again under spans, job groups and the
    event log. Ingest calls also record the files they write."""
    from run import jvm_counters

    tr = Tracer(b.spark)
    b.tracer = tr
    b.samples.clear()
    writes: dict[int, tuple[int, int, int]] = {}
    plain_ingest = b.ingest

    def ingest(to_epoch):
        first = b.next_epoch
        before = file_sizes(b.table_path)
        st = plain_ingest(to_epoch)
        files, nbytes = written(before, file_sizes(b.table_path))
        writes[tr.calls[-1]["id"]] = (
            files, nbytes, wal_epoch_bytes(b.wal, range(first, to_epoch + 1)))
        return st

    b.ingest = ingest
    jit0, gc0 = jvm_counters(b.spark)
    tr.open("window")
    b.window(seconds)
    tr.close()
    jit1, gc1 = jvm_counters(b.spark)
    del b.ingest
    b.tracer = None
    return {"tracer": tr, "writes": writes, "jit_ms": jit1 - jit0, "gc_ms": gc1 - gc0}


def view_rows(b) -> set[tuple]:
    from read_comp_data_pipeline_spark.operators.merge import HashMergeTable

    return {tuple(r) for r in HashMergeTable(b.spark, b.view_path).read().collect()}


def probes(b) -> dict[str, float]:
    """Single-layer timings around public functions, PROBE_REPS each,
    on the last applied epoch and the final table."""
    from read_comp_data_pipeline_spark.operators.compact import compact_latest
    from read_comp_data_pipeline_spark.operators.merge import bucket_expr
    from read_comp_data_pipeline_spark.sources import wal as wal_src
    from read_comp_data_pipeline_spark.streaming.evolve import ensure_evolved
    from read_comp_data_pipeline_spark.streaming.ingest import prepare_target_rows

    spark = b.spark
    e = b.next_epoch - 1
    strategy = "broadcast_hash_semi" if b.wl.mode == "mor" else "broadcast_semi"

    def timed(fn):
        t0 = time.perf_counter()
        fn()
        return time.perf_counter() - t0

    def noop(df):
        df.write.format("noop").mode("overwrite").save()

    out: dict[str, list[float]] = {}
    prev = spark.conf.get("spark.sql.files.maxPartitionBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(32 * 1024 * 1024))
    try:
        table = b.table()
        for _ in range(PROBE_REPS):
            out.setdefault("wal.epoch_stats_s", []).append(
                timed(lambda: wal_src.epoch_stats(b.wal, e)))
            sl = wal_src.read_epoch(spark, b.wal, e)
            out.setdefault("evolve.s", []).append(timed(lambda: ensure_evolved(table, sl.schema)))
            tc = timed(lambda: noop(compact_latest(sl, strategy=strategy)))
            tx = timed(lambda: noop(prepare_target_rows(compact_latest(sl, strategy=strategy))))
            out.setdefault("compact.s", []).append(tc)
            out.setdefault("extract.s", []).append(max(tx - tc, 0.0))
        rows_in = wal_src.epoch_stats(b.wal, e)[2]
        rows_out = compact_latest(wal_src.read_epoch(spark, b.wal, e), strategy=strategy).count()
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", prev)

    res = {k: med(v) for k, v in out.items()}
    res.update({"compact.rows_in": rows_in, "compact.rows_out": rows_out,
                "extract.rows": rows_out})

    # one more epoch leaves a delta (MOR) for the read, feed, view and
    # compact_table probes; vacuum and compact_sidecars then clean up
    b.ingest(b.next_epoch)
    table = b.table()
    snap = max(table.snapshots(), key=lambda s: int(s["version"]))
    df = table.read()
    res["read.files"] = len(df.inputFiles())
    res["read.delta_epochs"] = len(snap.get("deltas", []))
    res["read.rows"] = df.count()

    from read_comp_data_pipeline_spark.operators.changefeed import window_dirs

    b.feed()
    win = spark.read.parquet(window_dirs(b.feed_path)[-1])
    res["changefeed.rows"] = win.count()
    res["changefeed.buckets"] = win.select(
        bucket_expr(table.n_buckets).alias("_b")).distinct().count()
    before = view_rows(b)
    b.view()
    res["matview.rows_changed"] = len(view_rows(b) - before)

    before = file_sizes(b.table_path)
    res["merge.compact_table_s"] = timed(table.compact_table)
    res["merge.compact_table_bytes"] = written(before, file_sizes(b.table_path))[1]
    res["merge.vacuum_s"] = timed(lambda: table.vacuum(keep_snapshots=25))
    res["merge.compact_sidecars_s"] = timed(table.compact_sidecars)
    return res


def traced_run(b, untraced: dict, seconds: float) -> dict[str, tuple[float, str]]:
    """Restart Spark with the event log on, run the traced window and the
    probes, and return every per-layer metric."""
    log_dir = b.work / "eventlog"
    log_dir.mkdir(exist_ok=True)
    b.stop_spark(shutdown_jvm=False)
    b.start_spark({
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": str(log_dir),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    })
    # the loop does not serve these consumers: bootstrap them so the
    # probes below measure one incremental feed window and view fold
    b.feed()
    b.view()
    tw = traced_window(b, seconds)
    tr: Tracer = tw["tracer"]
    b.tracer = tr
    res = probes(b)
    b.tracer = None
    b.gate_consumers()
    b.stop_spark(shutdown_jvm=False)  # flushes the event log
    groups = read_event_log(log_dir)

    ingest_calls = [s for s in tr.calls if s["id"] in tw["writes"]]

    def per_call(fn):
        return med([fn(groups.get(s["group"]) or {}, s) for s in ingest_calls])

    def total(key):
        return per_call(lambda acc, s: acc.get(key, 0))

    def calls(kind):
        return ingest_calls if kind == "ingest" else [s for s in tr.calls if s["name"] == kind]

    def call_s(kind):
        return med([s["end"] - s["start"] for s in calls(kind)])

    def driver_s(kind):
        """Call time not covered by any of the call's Spark jobs."""
        return med([(s["end"] - s["start"])
                    - covered_ms((groups.get(s["group"]) or {}).get("intervals", [])) / 1000.0
                    for s in calls(kind)])

    res["merge.s"] = call_s("ingest")
    res["merge.driver_s"] = driver_s("ingest")
    res["merge.jobs"] = total("jobs")
    res["merge.stages"] = per_call(lambda acc, s: len(acc.get("stages", ())))
    res["merge.tasks"] = total("tasks")
    res["merge.executor_cpu_s"] = total("cpu_ns") / 1e9
    res["merge.shuffle_write_bytes"] = total("sw")
    res["merge.shuffle_read_bytes"] = total("sr")
    res["merge.spill_bytes"] = total("spill")
    res["merge.task_skew"] = per_call(lambda acc, s: task_skew(acc.get("stage_task_ms", {})))
    w = [tw["writes"][s["id"]] for s in ingest_calls]
    res["merge.files_written"] = med([x[0] for x in w])
    res["merge.bytes_written"] = med([x[1] for x in w])
    res["merge.write_amp"] = med([x[1] / x[2] for x in w if x[2]])
    res["read.s"] = call_s("scan")
    res["changefeed.follow_s"] = call_s("feed")
    res["matview.sync_s"] = call_s("view")
    res["jvm.jit_ms"] = tw["jit_ms"]
    res["jvm.gc_ms"] = tw["gc_ms"]
    # self time: a span's time not covered by its child spans; for an
    # engine call the children are its Spark jobs, so this is driver time
    # (merge.driver_s for the ingest call)
    res["self.block_s"] = med(tr.self_times()["block"])
    for name in ("scan", "feed", "view"):
        res[f"self.{name}_s"] = driver_s(name)
    base = untraced["cycle_p50_s"][0]
    res["trace.overhead_frac"] = med(b.samples["cycle"]) / base - 1.0

    out_dir = Path.cwd() / ".perfbench_out"
    out_dir.mkdir(exist_ok=True)
    tr.dump(out_dir / f"spans-{b.args.workload}-seed{b.args.seed}.json")
    return {name: (float(res[name]), unit) for name, unit in LAYERS}
