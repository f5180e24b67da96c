#!/usr/bin/env python3
"""Traced-run checks for one workload and seed.

    python3 perfbench/trace_check.py --workload serve_mixed --seed 1

Runs the workload once untraced and twice traced (same seed), then
reports:
  * tracing overhead: traced minus untraced median latency per op kind;
  * self-time accounting: the share of each op's wall time that the
    self times of its spans add up to (1.0 when the spans tile the op);
  * determinism: the counts named in the run's `determinism` section
    (input hash, jobs per op, J3 rows examined, triangle wedges, store
    files, output bytes) must repeat exactly across the two traced runs.
Exits 1 if a determinism count differs.
"""
import argparse
import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run(workload, seed, seconds, trace):
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
                       cwd=ROOT, capture_output=True, text=True)
    if p.returncode != 0:
        sys.exit(f"{workload} seed {seed} trace {trace}: exit {p.returncode}\n{p.stderr[-2000:]}")
    lines = p.stdout.strip().splitlines()
    return json.loads(lines[-2])["detail"], json.loads(lines[-1])


def p50s(detail):
    return {k[:-len("_p50_ms")]: v["value"] for k, v in detail["metrics"].items()
            if k.endswith("_p50_ms") and v["value"] is not None}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    a = ap.parse_args()
    seconds = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))["run_seconds"]
    plain, _ = run(a.workload, a.seed, seconds, 0)
    t1, r1 = run(a.workload, a.seed, seconds, 1)
    t2, _ = run(a.workload, a.seed, seconds, 1)
    base, traced = p50s(plain), p50s(t1)
    print("tracing overhead (traced - untraced median, ms):")
    for k in sorted(base):
        if k in traced:
            print(f"  {k:10s} {traced[k] - base[k]:+10.1f}  ({traced[k]:.1f} vs {base[k]:.1f})")
    print("span self times / op wall time, median per op kind:")
    for k, v in sorted(t1["trace"]["self_time_coverage"].items()):
        print(f"  {k:14s} {v:.4f}")
    print("per-layer metrics (first traced run):")
    for k, v in sorted(r1["metrics"].items()):
        print(f"  {k:34s} {v['value']:14.3f} {v['unit']}")
    d1, d2 = t1["trace"]["determinism"], t2["trace"]["determinism"]
    same = d1 == d2
    print("determinism counts " + ("repeat exactly:" if same else "DIFFER:"))
    for k in sorted(set(d1) | set(d2)):
        mark = "" if d1.get(k) == d2.get(k) else "   <-- differs"
        print(f"  {k}: {d1.get(k)} | {d2.get(k)}{mark}")
    sys.exit(0 if same else 1)


if __name__ == "__main__":
    main()
