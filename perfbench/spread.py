#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics.

usage: python3 perfbench/spread.py [--workloads a,b] [--seeds 1,2,...]
                                   [--seconds S] [--out results.json]

Runs `perfbench/run.py --trace 0` once per workload and seed, from the
checkout root, and prints for each end-to-end metric of BENCHMARK.json its
median and its spread: the distance between the first and third quartiles
(Python's statistics.quantiles(values, n=4)) as a share of the median, next
to the metric's bound. A spread at or above a third of the bound is flagged.
"""
import argparse
import json
import statistics
import subprocess
import sys


def main():
    spec = json.load(open("BENCHMARK.json"))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", default=",".join(w["name"] for w in spec["workloads"]))
    ap.add_argument("--seeds", default="1,2,3,4,5,6,7,8,9,10")
    ap.add_argument("--seconds", type=float, default=spec["run_seconds"])
    ap.add_argument("--out", help="also write every run's metrics here")
    args = ap.parse_args()
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    runs = {}
    for w in args.workloads.split(","):
        runs[w] = []
        for seed in args.seeds.split(","):
            p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", w,
                                "--seed", seed, "--seconds", str(args.seconds),
                                "--trace", "0"], stdout=subprocess.PIPE, text=True)
            if p.returncode != 0:
                sys.exit(f"{w} seed {seed}: exit code {p.returncode}")
            line = json.loads(p.stdout.strip().splitlines()[-1])
            if not line["correct"]:
                print(f"{w} seed {seed}: {line['failed']} failed ops", file=sys.stderr)
            runs[w].append({k: v["value"] for k, v in line["metrics"].items()})
            print(w, seed, json.dumps(runs[w][-1]), file=sys.stderr, flush=True)
    worst = 0.0
    for w, rs in runs.items():
        print(f"== {w} ({len(rs)} runs)")
        for name, bound in bounds.items():
            vals = [r[name] for r in rs]
            med = statistics.median(vals)
            q = statistics.quantiles(vals, n=4) if len(vals) > 1 else [med] * 3
            spread = (q[2] - q[0]) / med if med else float("inf")
            flag = "" if spread < bound / 3 else "  <-- over a third of the bound"
            if name != "setup_s":
                worst = max(worst, spread / bound)
            print(f"  {name:<22} median {med:<12.6g} spread {spread:7.4f}  "
                  f"bound {bound}{flag}")
    print(f"largest spread/bound (setup_s excluded): {worst:.3f}")
    if args.out:
        json.dump(runs, open(args.out, "w"), indent=1)


if __name__ == "__main__":
    main()
