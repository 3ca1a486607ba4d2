#!/usr/bin/env python3
"""Steadiness check: run the benchmark N times per workload, each with
another seed, and report for every end-to-end metric its median and the
spread (interquartile range over median, `statistics.quantiles(n=4)`)
next to the metric's bound in BENCHMARK.json.

    python3 perfbench/steady.py --runs 10 [--workloads a,b] [--seed0 100] [--out FILE]

Run from the repository root. Writes every run's metrics and the
summary as JSON to --out (default: stdout only).
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--workloads", default="")
    ap.add_argument("--seed0", type=int, default=100)
    ap.add_argument("--out", default="")
    a = ap.parse_args()
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    names = [w["name"] for w in bench["workloads"]]
    if a.workloads:
        names = a.workloads.split(",")
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    report = {"runs": {}, "summary": {}}
    for w in names:
        runs = []
        for i in range(a.runs):
            seed = a.seed0 + i
            t0 = time.time()
            p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", w,
                                "--seed", str(seed), "--seconds", str(bench["run_seconds"]),
                                "--trace", "0"], capture_output=True, text=True)
            wall = time.time() - t0
            last = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else "{}"
            r = json.loads(last) if p.returncode == 0 else {}
            runs.append({"seed": seed, "wall_s": wall, "rc": p.returncode,
                         "report": p.stdout.strip().splitlines()[:-1], **r})
            vals = {k: round(v["value"], 4) for k, v in r.get("metrics", {}).items()}
            host = [l.split()[:2] for l in p.stdout.splitlines()
                    if l.strip().startswith(("op_process_cpu_ms", "host_steal_pct"))]
            print(f"{w} seed {seed} rc {p.returncode} wall {wall:.1f}s "
                  f"correct {r.get('correct')} {vals} {host}", flush=True)
        report["runs"][w] = runs
        ok = [r for r in runs if r["rc"] == 0]
        summ = {"wall_s_total": sum(r["wall_s"] for r in runs),
                "all_correct": all(r.get("correct") for r in runs) and len(ok) == len(runs)}
        for m, bound in bounds.items():
            vals = [r["metrics"][m]["value"] for r in ok]
            q1, med, q3 = statistics.quantiles(vals, n=4)
            summ[m] = {"median": statistics.median(vals), "spread": (q3 - q1) / statistics.median(vals),
                       "bound": bound}
            print(f"  {w} {m:>14}: median {summ[m]['median']:.4f} "
                  f"spread {summ[m]['spread']:.4f} (bound {bound})", flush=True)
        report["summary"][w] = summ
    if a.out:
        with open(a.out, "w") as f:
            json.dump(report, f, indent=1)
            f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
