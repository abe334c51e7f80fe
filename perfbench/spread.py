#!/usr/bin/env python3
"""Run workloads over several seeds and report each metric's spread.

    python3 perfbench/spread.py --workloads spatial corpus_pipeline --seeds 1 2 3 4 5

Run from the root of a checkout. For every end-to-end metric it prints the
median over the seeds and the interquartile range as a share of that median
(statistics.quantiles, n=4), next to the metric's bound in BENCHMARK.json.
Every run's result line is appended to .bench_out/spread.jsonl.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", nargs="+", required=True)
    ap.add_argument("--seeds", nargs="+", type=int, required=True)
    ap.add_argument("--trace", default="0", choices=("0", "1"))
    args = ap.parse_args()
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    seconds = str(bench["run_seconds"])
    log = os.path.join(".bench_out", "spread.jsonl")
    os.makedirs(".bench_out", exist_ok=True)
    for wl in args.workloads:
        values = {}
        for seed in args.seeds:
            t0 = time.time()
            proc = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload", wl,
                 "--seed", str(seed), "--seconds", seconds, "--trace", args.trace],
                stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
            wall = time.time() - t0
            lines = proc.stdout.strip().splitlines()
            if proc.returncode != 0 or not lines:
                print(f"{wl} seed {seed}: exit {proc.returncode}", flush=True)
                continue
            res = json.loads(lines[-1])
            with open(log, "a") as f:
                f.write(json.dumps({"workload": wl, "seed": seed, "wall_s": wall, **res}) + "\n")
            print(f"{wl} seed {seed}: {wall:.0f} s, correct={res['correct']} "
                  f"failed={res['failed']}/{res['attempted']}", flush=True)
            for k, v in res["metrics"].items():
                values.setdefault(k, []).append(v["value"])
        for k, vs in values.items():
            med = statistics.median(vs)
            if len(vs) >= 2 and med:
                q = statistics.quantiles(vs, n=4)
                spread = f"{(q[2] - q[0]) / med:.3f}"
            else:
                spread = "-"
            bound = bounds.get(k)
            print(f"  {wl:16s} {k:24s} median {med:12.5g}  spread {spread:>6s}  bound {bound}")


if __name__ == "__main__":
    main()
