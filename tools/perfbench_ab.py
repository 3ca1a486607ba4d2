#!/usr/bin/env python3
"""Alternating A/B of perfbench between two checkouts.

    python3 tools/perfbench_ab.py <parentDir> <changeDir> <workload> <seed>...

For each seed it runs `perfbench/run.py --workload <workload> --seed <seed>`
once in each checkout, one pair per seed; the parent runs first in even
pairs and the change first in odd ones, so drift over the session does not
favour either side. Each run's metrics are printed as they come. At the
end, per end-to-end metric: each side's median and quartiles, the pairs
the change won, and the gap between the medians against the parent's
interquartile range; then each side's `correct` runs and failed ops.

Directions ("better") and `run_seconds` come from the parent's
BENCHMARK.json. Both checkouts build their own program on their first
run. Nothing under either checkout's `perfbench/` is changed by this tool.
"""
import argparse
import json
import os
import subprocess
import sys


def quartiles(xs):
    """(Q1, median, Q3) with linear interpolation between order statistics."""
    s = sorted(xs)

    def q(p):
        i = p * (len(s) - 1)
        lo = int(i)
        hi = min(lo + 1, len(s) - 1)
        return s[lo] + (s[hi] - s[lo]) * (i - lo)
    return q(0.25), q(0.5), q(0.75)


def run(checkout, workload, seed, seconds):
    """One perfbench run in `checkout`: its last stdout line, parsed."""
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=checkout, capture_output=True, text=True)
    lines = [ln for ln in p.stdout.splitlines() if ln.startswith("{")]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-2000:] + p.stderr[-4000:])
        return {"correct": False, "attempted": 0, "failed": 0, "metrics": {}}
    return json.loads(lines[-1])


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("workload")
    ap.add_argument("seeds", nargs="+", type=int)
    ap.add_argument("--out", help="write every run's result here as JSON")
    a = ap.parse_args(argv)
    with open(os.path.join(a.parent, "BENCHMARK.json")) as f:
        bench = json.load(f)
    metrics = [(m["name"], m["better"], m["unit"]) for m in bench["end_to_end"]]
    seconds = bench.get("run_seconds", 8)
    sides = {"parent": os.path.abspath(a.parent), "change": os.path.abspath(a.change)}
    runs = {"parent": [], "change": []}
    for i, seed in enumerate(a.seeds):
        order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
        for side in order:
            r = run(sides[side], a.workload, seed, seconds)
            runs[side].append(r)
            vals = "  ".join(
                f"{n} {r['metrics'].get(n, {}).get('value', float('nan')):.2f}"
                for n, _, _ in metrics)
            print(f"pair {i + 1} seed {seed} {side:>6}: correct {r['correct']} "
                  f"failed {r['failed']}  {vals}", flush=True)
    if a.out:
        with open(a.out, "w") as f:
            json.dump({"workload": a.workload, "seeds": a.seeds, **runs}, f, indent=1)

    def values(side, name):
        return [r["metrics"].get(name, {}).get("value") for r in runs[side]]

    print(f"\n{a.workload}: {len(a.seeds)} pairs")
    for name, better, unit in metrics:
        p, c = values("parent", name), values("change", name)
        pairs = [(x, y) for x, y in zip(p, c) if x is not None and y is not None]
        if not pairs:
            print(f"{name}: no values")
            continue
        sign = 1 if better == "lower" else -1
        wins = sum(sign * (x - y) > 0 for x, y in pairs)
        pq, cq = quartiles([x for x, _ in pairs]), quartiles([y for _, y in pairs])
        gap = sign * (pq[1] - cq[1])
        iqr = pq[2] - pq[0]
        change = 100.0 * (cq[1] - pq[1]) / pq[1] if pq[1] else float("nan")
        print(f"{name} ({unit}, {better} is better)")
        print(f"  parent median {pq[1]:.2f}  quartiles [{pq[0]:.2f}, {pq[2]:.2f}]")
        print(f"  change median {cq[1]:.2f}  quartiles [{cq[0]:.2f}, {cq[2]:.2f}]"
              f"  ({change:+.1f}%)")
        print(f"  change better in {wins}/{len(pairs)} pairs; median gap "
              f"{gap:+.2f} against parent IQR {iqr:.2f}"
              f" ({'exceeds' if gap > iqr else 'within'})")
    for side in ("parent", "change"):
        rs = runs[side]
        print(f"{side}: correct {sum(r['correct'] for r in rs)}/{len(rs)} runs, "
              f"failed ops {sum(r['failed'] for r in rs)} "
              f"of {sum(r['attempted'] for r in rs)}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
