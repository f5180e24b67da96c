#!/usr/bin/env python3
"""Steadiness runs: run each workload once per seed and report, per
end-to-end metric, the median and the spread (distance between the
first and third quartile as a share of the median).

    python3 perfbench/steady.py --seeds 1-10 [--workload serve_mixed] [--out runs.json]

Run from the root of a checkout. Bounds and run length come from
BENCHMARK.json.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def seeds(spec):
    if "-" in spec:
        lo, hi = spec.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(s) for s in spec.split(",")]


def quartiles(values):
    q1, _, q3 = statistics.quantiles(values, n=4)
    return q1, statistics.median(values), q3


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--workload", action="append")
    ap.add_argument("--out")
    a = ap.parse_args()
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    workloads = a.workload or [w["name"] for w in bench["workloads"]]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    runs = {}
    for w in workloads:
        for seed in seeds(a.seeds):
            t = time.time()
            p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", w,
                                "--seed", str(seed), "--seconds", str(bench["run_seconds"]),
                                "--trace", "0"], cwd=ROOT, capture_output=True, text=True)
            wall = time.time() - t
            if p.returncode != 0:
                print(f"{w} seed {seed}: exit {p.returncode}\n{p.stderr[-2000:]}", file=sys.stderr)
                sys.exit(1)
            lines = p.stdout.strip().splitlines()
            res = json.loads(lines[-1])
            detail = json.loads(lines[-2])["detail"] if len(lines) > 1 else {}
            runs.setdefault(w, []).append({"seed": seed, "wall_s": wall, "result": res,
                                           "noise": detail.get("noise"),
                                           "host": detail.get("host"),
                                           "nproc": detail.get("nproc"),
                                           "heap_max_mb": detail.get("heap_max_mb")})
            vals = {k: round(v["value"], 3) for k, v in res["metrics"].items()}
            print(f"{w} seed {seed}: wall {wall:.1f} s correct={res['correct']} "
                  f"failed={res['failed']}/{res['attempted']} {vals}", flush=True)
    summary = {}
    for w, rs in runs.items():
        for m in bounds:
            vals = [r["result"]["metrics"][m]["value"] for r in rs]
            if len(vals) >= 2:
                q1, med, q3 = quartiles(vals)
                s = (q3 - q1) / med
                summary.setdefault(w, {})[m] = {"median": med, "q1": q1, "q3": q3, "spread": s,
                                                "bound": bounds[m], "values": vals}
                flag = "" if s <= bounds[m] / 3 else ("  > bound/3" if s <= bounds[m] else "  > BOUND")
                print(f"{w:18s} {m:14s} median {med:12.3f} spread {s:.4f} (bound {bounds[m]}){flag}")
        print(f"{w}: mean wall per run {statistics.mean(r['wall_s'] for r in rs):.1f} s")
    if a.out:
        first = next(iter(runs.values()))[0]
        with open(a.out, "w") as fh:
            json.dump({"host": first["host"], "nproc": first["nproc"],
                       "heap_max_mb": first["heap_max_mb"], "run_seconds": bench["run_seconds"],
                       "seeds": seeds(a.seeds), "summary": summary, "runs": runs}, fh, indent=1)


if __name__ == "__main__":
    main()
