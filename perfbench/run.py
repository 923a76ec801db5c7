#!/usr/bin/env python3
"""Closed-loop CDC benchmark over the engine's public API.

    python3 perfbench/run.py --workload tail_mor --seed 1 --seconds 12 --trace 0

Run from the repository root. Each run is one process with one client:
the next call starts only when the previous one returns. The WAL is
generated from ``--seed`` before anything is timed; the engine only sees
the generated files. Every call is timed from outside, through
``run_ingest`` and ``HashMergeTable.read`` (plus ``follow_changes``,
``sync_agg_view`` and ``compact_table``/``vacuum``/``compact_sidecars``
in the traced run's probes).

A run:

1. set-up, repeated ``SETUP_REPS`` times on fresh directories: build the
   start table from the WAL prefix (``setup_s`` is the median repetition);
2. untimed warm-up on the kept copy up to a block boundary;
3. the timed window: whole blocks until ``--seconds`` have passed (a block
   is one compaction and maintenance period, so every window carries the
   same share of it);
4. the correctness gate, outside the window.

``--trace 1`` then restarts Spark with the event log on, repeats the
window with spans and job groups, probes single layers, checks the change
feed and the view, and prints the per-layer metrics instead
(perfbench/layers.py).

The last stdout line is the result JSON; the line before it is a report
with every sample, the checks and host diagnostics.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
from dataclasses import dataclass
from pathlib import Path

ROOT = Path.cwd()
HERE = Path(__file__).resolve().parent
SETUP_REPS = 3
N_BUCKETS = 8
WAL_MARGIN = 2  # the WAL fits a window of blocks run this many times faster than block_s
MIN_BLOCKS = 2  # a window holds at least this many blocks, however slow the host
KEY = ["repo", "path"]
VIEW_GROUP = ["lang"]
VIEW_SUMS = {"n_tokens": "tokens"}


@dataclass(frozen=True)
class Workload:
    """Per-workload settings; BENCHMARK.json and README.md say why each
    workload exists."""

    mode: str
    epoch_events: int
    n_keys: int  # small enough that the table is nearly full before the window
    epochs_per_call: int  # >1: one run_ingest call catches up a backlog
    scans: int  # full snapshot scans after each ingest call
    block_epochs: int  # compact/maintain cadence; windows are whole blocks
    prefix_epochs: int  # table contents built by each set-up repetition
    warm_epochs: int  # untimed, after set-up; prefix + warm ends a block
    block_s: float  # block time measured on a 4-core host
    wal_files: int  # files per WAL epoch

    def ingest_kwargs(self) -> dict:
        return {
            "mode": self.mode,
            "n_buckets": N_BUCKETS,
            "compact_every": self.block_epochs,
            "maintain_every": self.block_epochs,
        }

    def total_epochs(self, seconds: float, windows: int) -> int:
        """WAL length: enough whole blocks for ``windows`` windows of
        ``seconds`` at WAL_MARGIN times the measured speed, plus one."""
        blocks = windows * (math.ceil(seconds * WAL_MARGIN / self.block_s) + 1)
        return self.prefix_epochs + self.warm_epochs + self.block_epochs * blocks


WORKLOADS = {
    "bulk_cow": Workload(
        mode="cow", epoch_events=20_000, n_keys=10_000, epochs_per_call=2, scans=3,
        block_epochs=2, prefix_epochs=1, warm_epochs=6, block_s=4.0, wal_files=4,
    ),
    "tail_mor": Workload(
        mode="mor", epoch_events=5_000, n_keys=2_500, epochs_per_call=1, scans=1,
        block_epochs=4, prefix_epochs=1, warm_epochs=3, block_s=7.5, wal_files=1,
    ),
}


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--driver-mem", default="3g",
                    help="driver heap, passed as SPARK_GRAFT_DRIVER_MEM")
    return ap.parse_args(argv)


# -- host diagnostics (recorded, never gated) ----------------------------------

def calibrate() -> float:
    """Fixed single-thread CPU loop; its time tracks host speed, not ours."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(2_000_000):
        acc = (acc * 31 + i) & 0xFFFFFFFF
    return time.perf_counter() - t0


def cpu_ticks() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    d = [b - a for a, b in zip(before, after)]
    total = sum(d[:8])
    return d[7] / total if total > 0 and len(d) > 7 else 0.0


def vm_hwm_mb(pid: int | str) -> float:
    """Peak resident set of a process, from /proc."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for process {pid}")


def jvm_counters(spark) -> tuple[int, int]:
    """(JIT compile ms, GC ms) since JVM start, from the management beans."""
    mf = spark._jvm.java.lang.management.ManagementFactory
    jit = int(mf.getCompilationMXBean().getTotalCompilationTime())
    gc = sum(int(b.getCollectionTime()) for b in mf.getGarbageCollectorMXBeans())
    return jit, gc


median = statistics.median


# -- the run -------------------------------------------------------------------

class Bench:
    """One benchmark process: session, inputs, directories and samples."""

    def __init__(self, args, work: Path):
        self.args = args
        self.wl = WORKLOADS[args.workload]
        self.work = work
        self.wal = str(work / "wal")
        self.samples: dict[str, list[float]] = {}
        self.attempted = 0
        self.failed = 0
        self.checks: dict[str, int] = {}  # mismatches (or -1) per check
        self.tracer = None  # set for the traced window
        self.next_epoch = 0
        self.spark = None

    # session ------------------------------------------------------------------
    def start_spark(self, extra: dict | None = None):
        from read_comp_data_pipeline_spark.session import get_spark

        conf = {
            "spark.local.dir": str(self.work / "spark-local"),
            "spark.sql.warehouse.dir": str(self.work / "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            # keep JVM scratch inside the run's directory
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={self.work} -XX:-UsePerfData",
        }
        conf.update(extra or {})
        self.spark = get_spark(
            f"perfbench-{self.args.workload}", master=f"local[{len(os.sched_getaffinity(0))}]",
            extra_conf=conf,
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def stop_spark(self, shutdown_jvm: bool):
        from pyspark import SparkContext

        self.spark.stop()
        if not shutdown_jvm:
            return
        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None) if gw is not None else None
        if gw is not None:
            gw.shutdown()
        if proc is not None:
            # the gateway JVM exits when its stdin closes
            try:
                proc.stdin.close()
            except OSError:
                pass
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
        SparkContext._gateway = None
        SparkContext._jvm = None

    # inputs -------------------------------------------------------------------
    def make_wal(self, seconds: float):
        # a traced run repeats the window, then probes one more epoch
        self.last_epoch = self.wl.total_epochs(seconds, 1 + self.args.trace) + self.args.trace - 1
        self.write_wal()

    def write_wal(self):
        """Generate epochs 0..last_epoch from the seed. The generator's one
        shuffle sets the number of files per epoch, and ingest plans depend
        on it. Left to adaptive coalescing it grows with the WAL's length,
        so it is pinned to ``wal_files``."""
        from read_comp_data_pipeline_spark.sources.wal import (
            generate_change_events, write_wal,
        )

        wl = self.wl
        conf = self.spark.conf
        pinned = {"spark.sql.shuffle.partitions": str(wl.wal_files),
                  "spark.sql.adaptive.coalescePartitions.enabled": "false"}
        saved = {k: conf.get(k) for k in pinned}
        for k, v in pinned.items():
            conf.set(k, v)
        try:
            df = generate_change_events(
                self.spark, (self.last_epoch + 1) * wl.epoch_events, n_keys=wl.n_keys,
                epoch_size=wl.epoch_events, seed=self.args.seed,
            )
            write_wal(df, self.wal)
        finally:
            for k, v in saved.items():
                conf.set(k, v)

    # timed calls --------------------------------------------------------------
    def call(self, kind: str, fn, epoch: int | None = None):
        """Run one engine call, time it from outside, count failures."""
        self.attempted += 1
        tr = self.tracer
        if tr is not None:
            tr.begin(kind, epoch)
        t0 = time.perf_counter()
        try:
            out = fn()
        except Exception as e:  # any failed call counts against the run
            self.failed += 1
            print(f"[perfbench] {kind} failed: {e!r}", file=sys.stderr)
            raise
        dt = time.perf_counter() - t0
        if tr is not None:
            tr.end()
        self.samples.setdefault(kind, []).append(dt)
        return out, dt

    def ingest(self, to_epoch: int):
        from read_comp_data_pipeline_spark.streaming.ingest import run_ingest

        n_epochs = to_epoch + 1 - self.next_epoch

        def fn():
            st = run_ingest(self.spark, self.wal, self.table_path,
                            max_epoch=to_epoch, **self.wl.ingest_kwargs())
            if st.epochs_applied != n_epochs:
                raise RuntimeError(f"applied {st.epochs_applied} of {n_epochs} epochs")
            return st

        st, dt = self.call("ingest", fn, self.next_epoch)
        self.next_epoch = to_epoch + 1
        self.samples.setdefault("epoch", []).append(dt / n_epochs)
        self.samples.setdefault("events", []).append(st.events_applied)
        return st

    def table(self):
        from read_comp_data_pipeline_spark.operators.merge import HashMergeTable

        return HashMergeTable(self.spark, self.table_path)

    def scan(self):
        t = self.table()
        self.call("scan", lambda: t.read().write.format("noop").mode("overwrite").save())

    def feed(self):
        from read_comp_data_pipeline_spark.operators.changefeed import follow_changes

        t = self.table()
        self.call("feed", lambda: follow_changes(self.spark, t, self.feed_path))

    def view(self):
        from read_comp_data_pipeline_spark.operators.matview import sync_agg_view

        t = self.table()
        self.call("view", lambda: sync_agg_view(
            self.spark, t, self.view_path, VIEW_GROUP, VIEW_SUMS))

    def cycle(self):
        """One closed-loop round: an ingest call, then the readers."""
        wl = self.wl
        t0 = time.perf_counter()
        self.ingest(self.next_epoch + wl.epochs_per_call - 1)
        for _ in range(wl.scans):
            self.scan()
        self.samples.setdefault("cycle", []).append(time.perf_counter() - t0)

    def block(self):
        if self.tracer is not None:
            self.tracer.open("block")
        t0 = time.perf_counter()
        jit0, _ = jvm_counters(self.spark)
        for _ in range(self.wl.block_epochs // self.wl.epochs_per_call):
            self.cycle()
        self.samples.setdefault("block", []).append(time.perf_counter() - t0)
        self.samples.setdefault("block_jit_ms", []).append(jvm_counters(self.spark)[0] - jit0)
        if self.tracer is not None:
            self.tracer.close()

    # phases -------------------------------------------------------------------
    def setup(self) -> list[float]:
        """Build the start table SETUP_REPS times on fresh directories and
        keep the last; then warm up."""
        wl = self.wl
        times = []
        for rep in range(SETUP_REPS):
            d = self.work / f"rep{rep}"
            if rep:
                shutil.rmtree(self.work / f"rep{rep - 1}", ignore_errors=True)
            self.table_path = str(d / "table")
            self.feed_path, self.view_path = str(d / "feed"), str(d / "view")
            self.next_epoch = 0
            t0 = time.perf_counter()
            self.ingest(wl.prefix_epochs - 1)
            times.append(time.perf_counter() - t0)
        while self.next_epoch < wl.prefix_epochs + wl.warm_epochs:
            self.cycle()
        self.samples.clear()
        return times

    def window(self, seconds: float) -> tuple[float, int]:
        """Whole blocks until ``seconds`` have passed, and at least
        MIN_BLOCKS. A window that the end of the WAL cuts short counts as
        a failed check."""
        blocks = 0
        t0 = time.perf_counter()
        while ((blocks < MIN_BLOCKS or time.perf_counter() - t0 < seconds)
               and self.next_epoch + self.wl.block_epochs - 1 <= self.last_epoch):
            self.block()
            blocks += 1
        window_s = time.perf_counter() - t0
        short = window_s < seconds
        self.attempted += 1
        self.checks["short_windows"] = self.checks.get("short_windows", 0) + short
        if short:
            self.failed += 1
            print(f"[perfbench] the WAL ran out after {window_s:.1f} s of a "
                  f"{seconds:g} s window", file=sys.stderr)
        return window_s, blocks

    # correctness gate ---------------------------------------------------------
    def gate(self) -> None:
        """Final table vs the WAL oracle, per key on ``content_sha``.
        Records mismatch counts in ``checks``."""
        from pyspark.sql import functions as F

        from read_comp_data_pipeline_spark.sources.wal import expected_final_state

        table = self.table()
        got = table.read().select(*KEY, "content_sha").cache()
        wal = self.spark.read.parquet(self.wal).where(F.col("epoch") <= table.last_epoch)
        oracle = expected_final_state(wal).select(
            *KEY, F.sha2(F.encode("content", "utf-8"), 256).alias("content_sha"))
        self._run_checks([("oracle", got, oracle)], got)

    def gate_consumers(self) -> None:
        """Feed windows replayed vs the table; view vs a direct groupBy.
        Run by the traced run, which bootstraps both consumers before its
        window and advances them in its probes."""
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        from read_comp_data_pipeline_spark.operators.changefeed import window_dirs
        from read_comp_data_pipeline_spark.operators.merge import HashMergeTable

        spark = self.spark
        table = self.table()
        got = table.read().select(*KEY, "content_sha").cache()
        # bring the consumers up to the last commit (untimed)
        self.feed()
        self.view()
        windows = spark.read.parquet(*window_dirs(self.feed_path))
        latest = Window.partitionBy(*KEY).orderBy(F.col("_to_epoch").desc())
        replayed = (
            windows.where(F.col("_change_type") != "update_before")
            .withColumn("_rn", F.row_number().over(latest))
            .where((F.col("_rn") == 1) & (F.col("_change_type") != "delete"))
            .select(*KEY, "content_sha")
        )

        vcols = [*VIEW_GROUP, "n_rows", *VIEW_SUMS.values()]
        view = HashMergeTable(spark, self.view_path).read().select(*vcols)
        direct = table.read().groupBy(*VIEW_GROUP).agg(
            F.count("*").cast("long").alias("n_rows"),
            *[F.sum(F.coalesce(F.col(c), F.lit(0))).cast("long").alias(a)
              for c, a in VIEW_SUMS.items()],
        ).select(*vcols)
        self._run_checks([("feed_replay", got, replayed), ("view", view, direct)], got)

    def _run_checks(self, checks, cached) -> None:
        def diff(a, b) -> int:
            fresh = [d for d in (a, b) if not d.is_cached]  # each side is read twice
            for d in fresh:
                d.cache()
            try:
                return a.exceptAll(b).count() + b.exceptAll(a).count()
            finally:
                for d in fresh:
                    d.unpersist()

        out = self.checks
        for name, a, b in checks:
            self.attempted += 1
            try:
                out[name] = diff(a, b)
            except Exception as e:  # a check that cannot run is a failed check
                print(f"[perfbench] check {name} failed: {e!r}", file=sys.stderr)
                out[name] = -1
            if out[name] != 0:
                self.failed += 1
        cached.unpersist()


def end_to_end(b: Bench, setup_times: list[float]) -> dict:
    s = b.samples
    return {
        "setup_s": (median(setup_times), "s"),
        "events_per_s": (sum(s["events"]) / sum(s["ingest"]), "1/s"),
        "epoch_p50_s": (median(s["epoch"]), "s"),
        "cycle_p50_s": (median(s["cycle"]), "s"),
    }


def measure_window(b: Bench, seconds: float) -> dict:
    spark = b.spark
    calib0 = calibrate()
    ticks0 = cpu_ticks()
    jit0, gc0 = jvm_counters(spark)
    window_s, blocks = b.window(seconds)
    jit1, gc1 = jvm_counters(spark)
    ticks1 = cpu_ticks()
    calib1 = calibrate()
    return {
        "window_s": window_s,
        "blocks": blocks,
        "calib_before_s": calib0,
        "calib_after_s": calib1,
        "steal_share": steal_share(ticks0, ticks1),
        "jit_ms": jit1 - jit0,
        "gc_ms": gc1 - gc0,
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    t_start = time.perf_counter()
    sys.path.insert(0, str(ROOT))
    try:
        import pyspark  # noqa: F401

        import read_comp_data_pipeline_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: run from the repository root ({e})", file=sys.stderr)
        return 2

    os.environ["SPARK_GRAFT_DRIVER_MEM"] = args.driver_mem
    work_root = ROOT / ".perfbench_work"
    work_root.mkdir(exist_ok=True)
    work = Path(tempfile.mkdtemp(prefix=f"{args.workload}-{args.seed}-", dir=work_root))
    # pyspark and the JVM write their temporary files under the run's dir
    os.environ["TMPDIR"] = str(work)
    tempfile.tempdir = str(work)

    b = Bench(args, work)
    try:
        phases = {}
        b.start_spark()
        phases["session_s"] = time.perf_counter() - t_start
        b.make_wal(args.seconds)
        phases["wal_s"] = time.perf_counter() - t_start - phases["session_s"]
        setup_times = b.setup()
        phases["to_window_s"] = time.perf_counter() - t_start
        diag = measure_window(b, args.seconds)
        metrics = end_to_end(b, setup_times)
        samples = {k: v for k, v in b.samples.items() if k != "events"}
        peak_rss = (vm_hwm_mb(b.spark._jvm.java.lang.ProcessHandle.current().pid())
                    + vm_hwm_mb("self"))
        b.gate()
        layers = None
        if args.trace:
            from layers import traced_run

            layers = traced_run(b, metrics, args.seconds)
    finally:
        if b.spark is not None:
            b.stop_spark(shutdown_jvm=True)
        shutil.rmtree(work, ignore_errors=True)

    report = {
        "workload": args.workload,
        "seed": args.seed,
        "samples": samples,
        "checks": b.checks,
        "op_error_rate": b.failed / b.attempted,
        "peak_rss_mb": peak_rss,
        "setup_reps_s": setup_times,
        "phases": phases,
        "host": diag,
        "wall_s": time.perf_counter() - t_start,
    }
    print(json.dumps({"report": report}))
    chosen = layers if args.trace else metrics
    print(json.dumps({
        "correct": b.failed == 0,
        "attempted": b.attempted,
        "failed": b.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in chosen.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.path.insert(0, str(HERE))
    sys.exit(main())
