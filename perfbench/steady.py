#!/usr/bin/env python3
"""Steadiness and warm-up check for perfbench/run.py.

    python3 perfbench/steady.py --runs 5 --long-seconds 90 --out perfbench/STEADINESS.md

Run from the repository root, with nothing else running on the host.

* Steadiness: for each workload, two sets of ``--runs`` runs of the same
  code, interleaved (A, B, A, B, ...), each on its own seed. Prints each
  end-to-end metric's median, quartiles and inter-quartile spread over all
  runs (as a share of the median), and the gap between the two sets'
  medians, against the metric's bound in BENCHMARK.json: "ok" when the
  spread is at most a third of the bound, "within bound" up to the bound,
  "NOISY" (a failure) beyond it or when the set gap exceeds the bound.
  ``setup_s`` is judged on its set gap only.
* Warm-up: in each run's timed window, the median block time of the
  first quarter of its blocks against the last quarter, and the same for
  their JIT ms. Every block does the same work, compaction and
  maintenance included; a window of one block cannot be checked.
  ``--long-seconds`` adds one long window per workload to show how much
  later blocks still speed up (recorded, not gated).

Exits non-zero if any check fails.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path


def run_once(command: list[str], workload: str, seed: int, seconds: float) -> tuple[dict, dict]:
    cmd = [*command, "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", "0"]
    p = subprocess.run(cmd, capture_output=True, text=True, timeout=900)
    lines = [ln for ln in p.stdout.splitlines() if ln.startswith("{")]
    if p.returncode != 0 or len(lines) < 2:
        raise RuntimeError(f"{' '.join(cmd)} failed ({p.returncode}):\n{p.stderr[-2000:]}")
    return json.loads(lines[-2])["report"], json.loads(lines[-1])


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=5, help="runs per set (two sets)")
    ap.add_argument("--long-seconds", type=float, default=0.0,
                    help="also run one long window per workload (not gated)")
    ap.add_argument("--out", default=None, help="also write the report here")
    args = ap.parse_args()

    spec = json.loads(Path("BENCHMARK.json").read_text())
    seconds = spec["run_seconds"]
    workloads = [w["name"] for w in spec["workloads"]]
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    tight = min(bounds.values())

    out: list[str] = []
    ok = True

    def say(line: str = "") -> None:
        out.append(line)
        print(line, flush=True)

    say(f"# perfbench steadiness: {args.runs} + {args.runs} interleaved runs per workload, "
        f"{seconds:g} s windows")
    results: dict[str, dict[str, list]] = {w: {"A": [], "B": []} for w in workloads}
    for i in range(args.runs):
        for set_name, offset in (("A", 0), ("B", 1)):
            for w in workloads:
                seed = 1000 + 2 * i + offset
                report, res = run_once(spec["command"], w, seed, seconds)
                if not res["correct"]:
                    ok = False
                results[w][set_name].append((seed, report, res))
                vals = {k: round(v["value"], 4) for k, v in res["metrics"].items()}
                print(f"  {w} set {set_name} seed {seed}: {vals} "
                      f"wall {report['wall_s']:.1f}s", file=sys.stderr, flush=True)

    for w in workloads:
        runs = results[w]["A"] + results[w]["B"]
        say()
        say(f"## {w}")
        say()
        say(f"runs: {len(runs)}; correct: {sum(r[2]['correct'] for r in runs)}; "
            f"max op_error_rate: {max(r[1]['op_error_rate'] for r in runs)}; "
            f"wall per run: median {statistics.median(r[1]['wall_s'] for r in runs):.1f} s, "
            f"max {max(r[1]['wall_s'] for r in runs):.1f} s")
        counts = runs[0][1]["samples"]
        say("samples per run: " + ", ".join(f"{k} {len(v)}" for k, v in counts.items()))
        say()
        say("| metric | unit | median | q1 | q3 | spread (IQR/median) | set A median | "
            "set B median | set gap | bound | verdict |")
        say("|---|---|---|---|---|---|---|---|---|---|---|")
        for name in runs[0][2]["metrics"]:
            unit = runs[0][2]["metrics"][name]["unit"]
            allv = [r[2]["metrics"][name]["value"] for r in runs]
            a = [r[2]["metrics"][name]["value"] for r in results[w]["A"]]
            b = [r[2]["metrics"][name]["value"] for r in results[w]["B"]]
            q1, q2, q3 = quartiles(allv)
            spread = (q3 - q1) / q2
            ma, mb = statistics.median(a), statistics.median(b)
            gap = abs(mb - ma) / ma
            bound = bounds.get(name)
            if gap > bound or (spread > bound and name != "setup_s"):
                verdict = "NOISY"
            elif spread > bound / 3 and name != "setup_s":
                verdict = "within bound"
            else:
                verdict = "ok"
            ok &= verdict != "NOISY"
            say(f"| {name} | {unit} | {q2:.4g} | {q1:.4g} | {q3:.4g} | {spread:.3f} | "
                f"{ma:.4g} | {mb:.4g} | {gap:.3f} | {bound} | {verdict} |")
        host = [r[1]["host"] for r in runs]
        rss = [r[1]["peak_rss_mb"] for r in runs]
        q1, q2, q3 = quartiles(rss)
        say()
        say("host diagnostics (recorded, not gated): "
            f"calibration loop {min(h['calib_before_s'] for h in host):.3f}-"
            f"{max(h['calib_after_s'] for h in host):.3f} s, "
            f"steal share max {max(h['steal_share'] for h in host):.4f}, "
            f"window JIT ms median {statistics.median(h['jit_ms'] for h in host):.0f}, "
            f"GC ms median {statistics.median(h['gc_ms'] for h in host):.0f}, "
            f"peak RSS median {q2:.0f} MB (spread {(q3 - q1) / q2:.3f})")
        say()
        names = list(runs[0][2]["metrics"])
        say("| set | seed | " + " | ".join(names) + " | blocks | calibration s (before/after) "
            "| steal | JIT ms | GC ms | wall s |")
        say("|---" * (len(names) + 8) + "|")
        for set_name in ("A", "B"):
            for seed, report, res in results[w][set_name]:
                h = report["host"]
                say(f"| {set_name} | {seed} | "
                    + " | ".join(f"{res['metrics'][n]['value']:.4g}" for n in names)
                    + f" | {h['blocks']} | {h['calib_before_s']:.3f}/{h['calib_after_s']:.3f} | "
                    f"{h['steal_share']:.3f} | {h['jit_ms']} | {h['gc_ms']} | "
                    f"{report['wall_s']:.1f} |")

    say()
    say("## warm-up check")
    say()
    say("Per run: the median block time of the timed window's first quarter of "
        "blocks against its last quarter, and the same for their JIT ms. A block is "
        "one compaction and maintenance period, so every block does the same work. "
        "The time check fails if the median gap over the runs exceeds the tightest "
        "bound. The JIT check fails if the first quarter compiles more than twice as "
        "much as the last. Neither applies to a window of one block.")
    say()
    say("| workload | blocks per run | median time gap | max time gap | time | "
        "first-quarter JIT ms (median) | last-quarter JIT ms (median) | JIT |")
    say("|---|---|---|---|---|---|---|---|")
    for w in workloads:
        runs = results[w]["A"] + results[w]["B"]
        gaps, jf, jl = [], [], []
        for _, report, _ in runs:
            xs, jit = report["samples"]["block"], report["samples"]["block_jit_ms"]
            if len(xs) < 2:
                continue
            q = max(1, len(xs) // 4)
            first, last = statistics.median(xs[:q]), statistics.median(xs[-q:])
            gaps.append(abs(first - last) / last)
            jf.append(statistics.median(jit[:q]))
            jl.append(statistics.median(jit[-q:]))
        counts = sorted({len(r[1]["samples"]["block"]) for r in runs})
        if not gaps:
            say(f"| {w} | {counts} | - | - | n/a | - | - | n/a |")
            continue
        time_ok = statistics.median(gaps) <= tight
        jit_ok = statistics.median(jf) <= 2 * statistics.median(jl)
        ok &= time_ok and jit_ok
        say(f"| {w} | {counts} | {statistics.median(gaps):.3f} | {max(gaps):.3f} | "
            f"{'ok' if time_ok else 'WARMING'} | {statistics.median(jf):.0f} | "
            f"{statistics.median(jl):.0f} | {'ok' if jit_ok else 'WARMING'} |")

    if args.long_seconds:
        say()
        say(f"### after the window ({args.long_seconds:g} s window, seed 7; not gated)")
        say()
        say("How much later blocks still speed up: block seconds and JIT ms per block, "
            "first quarter against last quarter of one long window.")
        say()
        say("| workload | blocks | first-quarter block s | last-quarter block s | "
            "first-quarter JIT ms | last-quarter JIT ms |")
        say("|---|---|---|---|---|---|")
        for w in workloads:
            report, res = run_once(spec["command"], w, 7, args.long_seconds)
            ok &= res["correct"]
            blocks = report["samples"]["block"]
            jit = report["samples"]["block_jit_ms"]
            q = max(1, len(blocks) // 4)
            say(f"| {w} | {len(blocks)} | {statistics.median(blocks[:q]):.3f} | "
                f"{statistics.median(blocks[-q:]):.3f} | {statistics.median(jit[:q]):.0f} | "
                f"{statistics.median(jit[-q:]):.0f} |")

    say()
    say(f"overall: {'ok' if ok else 'FAILED'}")
    if args.out:
        Path(args.out).write_text("\n".join(out) + "\n")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
