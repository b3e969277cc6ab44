"""Steadiness: run one workload N times, each with another seed, and print
the median, quartiles and spread ((q3 - q1) / median) of every metric.

    python3 perfbench/steady.py --workload extract_slice --runs 10 --first-seed 1

Runs are sequential child processes of perfbench/run.py (one Spark driver
at a time). Each run's result line and the summary are written to
.bench_results/<workload>-<first_seed>x<runs>.json.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def summarize(results: list[dict]) -> dict:
    names = sorted({k for r in results for k in r["metrics"]})
    out = {}
    for k in names:
        vals = [r["metrics"][k]["value"] for r in results if k in r["metrics"]]
        q1, med, q3 = (statistics.quantiles(vals, n=4) if len(vals) > 1
                       else (vals[0],) * 3)
        out[k] = {"unit": results[0]["metrics"][k]["unit"], "median": med,
                  "q1": q1, "q3": q3,
                  "spread": (q3 - q1) / med if med else 0.0}
    return out


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--runs", type=int, default=10)
    p.add_argument("--first-seed", type=int, default=1)
    p.add_argument("--seconds", type=int, default=10)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = p.parse_args()

    results, walls = [], []
    for seed in range(a.first_seed, a.first_seed + a.runs):
        t = time.time()
        proc = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload",
             a.workload, "--seed", str(seed), "--seconds", str(a.seconds),
             "--trace", str(a.trace)],
            cwd=ROOT, capture_output=True, text=True)
        walls.append(time.time() - t)
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            print(f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}",
                  file=sys.stderr)
            return 1
        r = json.loads(lines[-1])
        r["seed"], r["wall_s"] = seed, walls[-1]
        notes = [ln for ln in proc.stderr.splitlines() if ln.startswith("{")]
        r["note"] = json.loads(notes[-1]) if notes else {}
        results.append(r)
        print(f"seed {seed}: {walls[-1]:.1f} s correct={r['correct']} "
              f"attempted={r['attempted']} failed={r['failed']}",
              file=sys.stderr, flush=True)

    summary = summarize(results)
    shares = sorted({r["failed"] / r["attempted"] for r in results})
    print(f"{a.workload}: {a.runs} runs, seeds {a.first_seed}.."
          f"{a.first_seed + a.runs - 1}, trace={a.trace}, "
          f"{os.cpu_count()} cpus, run wall median "
          f"{statistics.median(walls):.1f} s, max {max(walls):.1f} s, "
          f"failed shares {shares}, all correct "
          f"{all(r['correct'] for r in results)}")
    print(f"{'metric':34} {'unit':9} {'median':>12} {'q1':>12} {'q3':>12} "
          f"{'spread':>7}")
    for k, s in summary.items():
        print(f"{k:34} {s['unit']:9} {s['median']:12.4f} {s['q1']:12.4f} "
              f"{s['q3']:12.4f} {s['spread']:7.3f}")
    out_dir = os.path.join(ROOT, ".bench_results")
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, f"{a.workload}-{a.first_seed}x{a.runs}"
                           f"{'-trace' if a.trace else ''}.json"), "w") as f:
        json.dump({"runs": results, "summary": summary}, f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
