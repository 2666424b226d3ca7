#!/usr/bin/env python3
"""Measures the run-to-run spread of every end-to-end metric.

    python3 pipebench/steadiness.py --seeds 1-10 [--workloads a,b] [--trace] [--out FILE]
    python3 pipebench/steadiness.py --seeds 695425565,2035525363,...

Runs pipebench/run.py once per (workload, seed), one run at a time, and
prints, per workload and metric, the median, the quartiles
(statistics.quantiles, n=4) and the spread (q3 - q1) / median next to
the metric's bound from BENCHMARK.json. A spread above a third of the
bound is marked '!', above the bound '!!'. Raw results are appended to
FILE (JSON lines) when --out is given.
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
    """'3-7' is seeds 3 to 7; '11,52,907' lists them."""
    if "," in spec:
        return [int(s) for s in spec.split(",")]
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    ap.add_argument("--trace", action="store_true")
    ap.add_argument("--out")
    args = ap.parse_args()
    metrics = bench["per_layer"] if args.trace else bench["end_to_end"]
    for w in args.workloads.split(","):
        rows = []
        for seed in seeds(args.seeds):
            t0 = time.time()
            p = subprocess.run(
                [sys.executable, os.path.join(ROOT, "pipebench", "run.py"),
                 "--workload", w, "--seed", str(seed),
                 "--seconds", str(bench["run_seconds"]), "--trace", "1" if args.trace else "0"],
                cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
            took = time.time() - t0
            lines = p.stdout.strip().splitlines()
            if p.returncode != 0 or not lines:
                print(f"{w} seed {seed}: exit {p.returncode}, no result", flush=True)
                continue
            res = json.loads(lines[-1])
            res.update(workload=w, seed=seed, run_s=round(took, 2), trace=args.trace)
            rows.append(res)
            print(f"{w} seed {seed}: {took:.1f}s correct={res['correct']} "
                  f"failed={res['failed']}/{res['attempted']}", flush=True)
            if args.out:
                with open(args.out, "a") as fh:
                    fh.write(json.dumps(res) + "\n")
        if len(rows) < 2:
            continue
        print(f"\n{w}: {len(rows)} runs, median run {statistics.median(r['run_s'] for r in rows):.1f}s")
        print(f"{'metric':34} {'median':>14} {'q1':>14} {'q3':>14} {'spread':>8} {'bound':>6}")
        for m in metrics:
            vals = [r["metrics"][m["name"]]["value"] for r in rows]
            q1, med, q3 = statistics.quantiles(vals, n=4)
            spread = (q3 - q1) / med if med else 0.0
            bound = m.get("bound")
            mark = ""
            if bound is not None:
                mark = "!!" if spread > bound else "!" if spread > bound / 3 else ""
            print(f"{m['name']:34} {med:14.6g} {q1:14.6g} {q3:14.6g} {spread:8.4f} "
                  f"{'' if bound is None else bound:>6} {mark}")
        print(flush=True)


if __name__ == "__main__":
    main()
