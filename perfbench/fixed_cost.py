#!/usr/bin/env python3
"""Fixed-cost share of a bulk_cow ingest call.

    python3 perfbench/fixed_cost.py

Run from the repository root. For each epoch size n in SIZES it builds a
table shaped like bulk_cow's (COW, n/2 keys, two epochs per
``run_ingest`` call, compaction and maintenance every two epochs) in one
shared session. It then times one call per size in each of ROUNDS rounds,
the sizes interleaved. A least-squares line through each size's median
call time (rounds after the first two) gives the fixed cost per call as
its intercept. The script prints that cost's share of the call time at
each size.
"""

from __future__ import annotations

import argparse
import dataclasses
import os
import shutil
import statistics
import sys
import tempfile
from pathlib import Path

from run import ROOT, WORKLOADS, Bench

SIZES = [5_000, 20_000, 80_000]  # events per epoch; bulk_cow runs 20k
ROUNDS = 7
SEED = 7


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--driver-mem", default="3g",
                    help="driver heap, passed as SPARK_GRAFT_DRIVER_MEM")
    args = ap.parse_args()

    sys.path.insert(0, str(ROOT))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = args.driver_mem
    (ROOT / ".perfbench_work").mkdir(exist_ok=True)
    work = Path(tempfile.mkdtemp(prefix="fixed-cost-", dir=ROOT / ".perfbench_work"))
    os.environ["TMPDIR"] = str(work)
    tempfile.tempdir = str(work)
    run_args = argparse.Namespace(workload="bulk_cow", seed=SEED, trace=0)
    base = WORKLOADS["bulk_cow"]
    benches = {n: Bench(run_args, work / f"n{n}") for n in SIZES}
    first = benches[SIZES[0]]
    try:
        spark = first.start_spark()
        for n, b in benches.items():
            b.wl = dataclasses.replace(base, epoch_events=n, n_keys=n // 2)
            b.spark = spark
            b.table_path = str(b.work / "table")
            b.last_epoch = base.prefix_epochs + base.epochs_per_call * ROUNDS - 1
            b.write_wal()
            b.ingest(base.prefix_epochs - 1)
            b.samples.clear()
        for r in range(ROUNDS):
            for n, b in benches.items():
                b.ingest(b.next_epoch + base.epochs_per_call - 1)
            print(f"round {r}: " + ", ".join(
                f"{n}: {b.samples['ingest'][-1]:.3f} s" for n, b in benches.items()), flush=True)
    finally:
        if first.spark is not None:
            first.stop_spark(shutdown_jvm=True)
        shutil.rmtree(work, ignore_errors=True)

    ys = [statistics.median(benches[n].samples["ingest"][2:]) for n in SIZES]
    mx, my = statistics.fmean(SIZES), statistics.fmean(ys)
    slope = (sum((x - mx) * (y - my) for x, y in zip(SIZES, ys))
             / sum((x - mx) ** 2 for x in SIZES))
    fixed = my - slope * mx
    print(f"fixed cost per call: {fixed:.3f} s; per epoch-size event: {slope * 1e6:.2f} us")
    print("| events per epoch | median call s | fixed-cost share |")
    print("|---|---|---|")
    for n, y in zip(SIZES, ys):
        print(f"| {n} | {y:.3f} | {fixed / y:.2f} |")
    return 0


if __name__ == "__main__":
    sys.exit(main())
