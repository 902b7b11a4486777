#!/usr/bin/env python3
"""Determinism self-check of the traced counters.

usage: python3 perfbench/selfcheck.py [--workloads a,b] [--seed N]
                                      [--other-seed M] [--seconds S]

For each workload, from the checkout root:
  1. two traced runs with --seed N must run the same op sequence and give,
     op by op, identical Spark job, stage and task counts, input records
     and filesystem op counts;
  2. a traced run with --other-seed M must run the same op sequence (the
     schedule does not depend on the seed) over different data.
Counters that differ are listed with the ops they differ on. Exit code 1
when a counter outside VARIES differs or the op sequences differ.
"""
import argparse
import json
import subprocess
import sys

# Counters that may legitimately differ between two runs of one seed, with
# the reason. Every other compared counter repeated exactly on both
# workloads in the runs that defined this check (AQE decides from map
# output sizes, which repeat with the data).
VARIES = {
    "fs.bytes_written.index": "index sidecars written by parallel tasks; "
                              "one epoch in four differed by 1 byte, the "
                              "op counts repeat",
}
COMPARED = ("spark.jobs", "spark.stages", "spark.tasks", "spark.input_records",
            "fs.")


def traced(workload, seed, seconds):
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", "1"],
                       stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    if p.returncode != 0:
        sys.exit(f"{workload} seed {seed}: exit code {p.returncode}")
    with open(f".bench_build/out/{workload}-{seed}-1.json") as f:
        return json.load(f)


def main():
    spec = json.load(open("BENCHMARK.json"))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", default=",".join(w["name"] for w in spec["workloads"]))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--other-seed", type=int, default=2)
    ap.add_argument("--seconds", type=float, default=spec["run_seconds"])
    args = ap.parse_args()
    ok = True
    for w in args.workloads.split(","):
        a = traced(w, args.seed, args.seconds)
        b = traced(w, args.seed, args.seconds)
        c = traced(w, args.other_seed, args.seconds)
        kinds = [o["kind"] for o in a["ops"]]
        print(f"== {w}: {len(kinds)} ops")
        if kinds != [o["kind"] for o in b["ops"]]:
            print("  op sequence differs between two runs of one seed")
            ok = False
        diffs = {}
        for oa, ob in zip(a["ops"], b["ops"]):
            for k, va in oa["counters"].items():
                if k.startswith(COMPARED) and va != ob["counters"].get(k):
                    diffs.setdefault(k, []).append(
                        f"{oa['idx']}:{oa['kind']} {va:g}/{ob['counters'].get(k, 0):g}")
        for k in sorted(diffs):
            why = next((r for p, r in VARIES.items() if k.startswith(p)), None)
            ok = ok and why is not None
            label = f"varies ({why})" if why else "DIFFERS"
            print(f"  {k}: {label}: {', '.join(diffs[k][:6])}"
                  f"{' ...' if len(diffs[k]) > 6 else ''}")
        if not diffs:
            print("  every compared counter identical, op by op")
        same_mix = kinds == [o["kind"] for o in c["ops"]]
        ok = ok and same_mix
        ma, mc = a["metrics"], c["metrics"]
        moved = [k for k in ("recall_at_10", "stored_bytes_per_row", "spark.input_bytes_per_op")
                 if ma[k]["value"] != mc[k]["value"]]
        print(f"  seed {args.other_seed}: same op mix: {same_mix}; "
              f"data-dependent metrics that moved: {', '.join(moved) or 'none'}")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
