#!/usr/bin/env python3
"""Run the benchmark on several seeds and report, per workload and
end-to-end metric, the median and the spread: the distance between the
first and third quartile (statistics.quantiles, n=4) as a share of the
median, next to the metric's bound from BENCHMARK.json.

    python3 perfbench/spread.py [--runs 10] [--first-seed 1000] [WORKLOAD ...]

Run from the root of a checkout. Every run's result line is appended to
.bench_work/spread.jsonl.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1000)
    ap.add_argument("workloads", nargs="*",
                    default=[w["name"] for w in bench["workloads"]])
    a = ap.parse_args()
    log = os.path.join(ROOT, ".bench_work", "spread.jsonl")
    os.makedirs(os.path.dirname(log), exist_ok=True)
    ok = True
    for w in a.workloads:
        vals = {m["name"]: [] for m in bench["end_to_end"]}
        for i in range(a.runs):
            seed = a.first_seed + i
            out = subprocess.run(
                [*bench["command"], "--workload", w, "--seed", str(seed),
                 "--seconds", str(bench["run_seconds"]), "--trace", "0"],
                cwd=ROOT, capture_output=True, text=True)
            if out.returncode != 0:
                sys.exit(f"{w} seed {seed}: exit {out.returncode}\n{out.stderr}")
            res = json.loads(out.stdout.strip().splitlines()[-1])
            with open(log, "a") as f:
                f.write(json.dumps({"workload": w, "seed": seed, "result": res}) + "\n")
            ok &= res["correct"]
            for k in vals:
                vals[k].append(res["metrics"][k]["value"])
        for m in bench["end_to_end"]:
            xs = vals[m["name"]]
            q1, med, q3 = statistics.quantiles(xs, n=4)
            spread = (q3 - q1) / med
            flag = "" if m["name"] == "setup_s" or spread < m["bound"] / 3 else "  WIDE"
            print(f"{w:14s} {m['name']:12s} median {med:10.4f} {m['unit']:3s} "
                  f"spread {spread:6.3f} bound {m['bound']}{flag}")
    print("all runs correct" if ok else "SOME RUNS INCORRECT")


if __name__ == "__main__":
    main()
