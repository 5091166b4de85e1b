"""Repeat the benchmark over consecutive seeds and summarize the spread.

    python3 perfbench/sweep.py --workload corpus_batch --runs 10 --seed0 100 \\
        [--seconds 20] [--cpus N] [--out results.json]

Runs ``perfbench/run.py`` once per seed, one process at a time, from
the current directory, and prints per metric the median, the first and
third quartiles (``statistics.quantiles(values, n=4)``) and their
distance as a share of the median, plus the failed share of attempted
operations. Extra environment (e.g. ``SPARK_GRAFT_STOCK_DAEMON=1``) is
passed through to every run.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time


def summarize(results: list[dict]) -> dict:
    names = list(results[0]["metrics"])
    out = {}
    for n in names:
        vals = [r["metrics"][n]["value"] for r in results]
        med = statistics.median(vals)
        if len(vals) >= 2:
            q1, _, q3 = statistics.quantiles(vals, n=4)
        else:
            q1 = q3 = vals[0]
        out[n] = {
            "unit": results[0]["metrics"][n]["unit"],
            "median": med, "q1": q1, "q3": q3,
            "iqr_share": (q3 - q1) / med if med else float("nan"),
            "values": vals,
        }
    att = sum(r["attempted"] for r in results)
    fail = sum(r["failed"] for r in results)
    return {"runs": len(results), "metrics": out,
            "attempted": att, "failed": fail,
            "all_correct": all(r["correct"] for r in results)}


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--runs", type=int, default=10)
    p.add_argument("--seed0", type=int, default=100)
    p.add_argument("--seconds", type=int, default=20)
    p.add_argument("--cpus", type=int)
    p.add_argument("--out")
    a = p.parse_args()
    here = os.path.dirname(os.path.abspath(__file__))
    results, walls = [], []
    for i in range(a.runs):
        cmd = [sys.executable, os.path.join(here, "run.py"),
               "--workload", a.workload, "--seed", str(a.seed0 + i),
               "--seconds", str(a.seconds), "--trace", "0"]
        if a.cpus:
            cmd += ["--cpus", str(a.cpus)]
        t0 = time.time()
        proc = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
        walls.append(time.time() - t0)
        lines = [ln for ln in proc.stdout.splitlines() if ln.strip()]
        if proc.returncode != 0 or not lines:
            print(f"seed {a.seed0 + i}: exit {proc.returncode}\n{proc.stderr[-2000:]}",
                  file=sys.stderr)
            return 1
        results.append(json.loads(lines[-1]))
        print(f"seed {a.seed0 + i}: {walls[-1]:.1f} s  "
              + " ".join(f"{k}={v['value']:.4g}" for k, v in results[-1]["metrics"].items()),
              flush=True)
    summary = summarize(results)
    summary["wall_s"] = walls
    summary.update(workload=a.workload, seed0=a.seed0, seconds=a.seconds,
                   cpus=a.cpus,
                   stock_daemon=bool(os.environ.get("SPARK_GRAFT_STOCK_DAEMON")))
    print(f"{'metric':<34} {'unit':<7} {'median':>12} {'q1':>12} {'q3':>12} {'iqr/med':>8}")
    for n, m in summary["metrics"].items():
        print(f"{n:<34} {m['unit']:<7} {m['median']:>12.5g} {m['q1']:>12.5g} "
              f"{m['q3']:>12.5g} {m['iqr_share']:>8.3f}")
    print(f"failed {summary['failed']}/{summary['attempted']}, "
          f"all correct: {summary['all_correct']}, "
          f"wall per run: median {statistics.median(walls):.1f} s, max {max(walls):.1f} s")
    if a.out:
        with open(a.out, "w") as f:
            json.dump(summary, f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
