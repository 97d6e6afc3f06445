"""Run the benchmark over several seeds and report each end-to-end
metric's median and spread against its bound in BENCHMARK.json.

    python3 etlbench/repeat.py --workload etl_daily --seeds 1-10

The spread is (Q3 - Q1) / median over the runs, with the quartiles of
``statistics.quantiles(values, n=4)``; a metric is steady when its
spread stays below a third of its bound. Run from the checkout root.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

import stats

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="inclusive range, e.g. 1-10")
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        bench = json.load(f)
    values: dict[str, list[float]] = {m["name"]: [] for m in bench["end_to_end"]}
    for seed in seeds(a.seeds):
        cmd = bench["command"] + ["--workload", a.workload, "--seed", str(seed),
                                  "--seconds", str(bench["run_seconds"]), "--trace", "0"]
        out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=180)
        lines = out.stdout.strip().splitlines()
        result = json.loads(lines[-1])
        stamp = json.loads(next(x for x in lines if x.startswith("# stamp "))[len("# stamp "):])
        print(f"seed {seed}: exit {out.returncode} correct={result['correct']} "
              f"steal={stamp.get('host_steal_share')} "
              f"attempted={result['attempted']} failed={result['failed']} "
              + " ".join(f"{k}={v['value']:.4f}" for k, v in result["metrics"].items()), flush=True)
        for prefix in ("# batches ", "# timed phase"):
            print("  " + next((x[2:] for x in lines if x.startswith(prefix)), prefix[2:] + " -"), flush=True)
        for k in values:
            values[k].append(result["metrics"][k]["value"])
    for m in bench["end_to_end"]:
        xs = values[m["name"]]
        spread = stats.quartile_spread(xs)
        verdict = "steady" if spread < m["bound"] / 3 else "within bound" if spread <= m["bound"] else "TOO NOISY"
        print(f"{m['name']}: median={stats.median(xs):.4f}{m['unit']} spread={spread:.4f} "
              f"bound={m['bound']} n={len(xs)} -> {verdict}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
