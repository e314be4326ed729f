#!/usr/bin/env python3
"""Runs the benchmark on consecutive seeds and reports how much each
end-to-end metric spreads between runs.

    python3 perfbench/steadiness.py --runs 10 [--workloads a,b] \
        [--first-seed 1] [--out perfbench/results/steadiness.json]

From the root of a graft checkout. For each workload it makes --runs
untraced runs, one seed each, and prints every run's values and, per
metric, the median and the spread: the distance between the first and
third quartiles (statistics.quantiles(values, n=4)) as a share of the
median. The bounds in BENCHMARK.json are checked against these spreads.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time


def run_once(workload, seed, seconds):
    cmd = [sys.executable, os.path.join(os.path.dirname(os.path.abspath(__file__)), "run.py"),
           "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
           "--trace", "0"]
    t0 = time.time()
    r = subprocess.run(cmd, capture_output=True, text=True)
    wall = time.time() - t0
    if r.returncode != 0:
        raise SystemExit(f"{workload} seed {seed} exited {r.returncode}:\n{r.stderr[-2000:]}")
    res = json.loads(r.stdout.strip().splitlines()[-1])
    return {"seed": seed, "run_wall_s": round(wall, 1), "correct": res["correct"],
            "attempted": res["attempted"], "failed": res["failed"],
            "metrics": {k: v["value"] for k, v in res["metrics"].items()}}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--workloads", default=None)
    ap.add_argument("--out", default=None)
    args = ap.parse_args()
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    workloads = args.workloads.split(",") if args.workloads else [w["name"] for w in spec["workloads"]]
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    report = {}
    for w in workloads:
        runs = []
        for i in range(args.runs):
            r = run_once(w, args.first_seed + i, spec["run_seconds"])
            print(json.dumps({"workload": w, **r}), flush=True)
            runs.append(r)
        summary = {}
        for name in bounds:
            vals = [r["metrics"][name] for r in runs]
            med = statistics.median(vals)
            q = statistics.quantiles(vals, n=4) if len(vals) > 1 else [med, med, med]
            summary[name] = {"median": med, "spread": (q[2] - q[0]) / med if med else 0.0,
                             "bound": bounds[name], "values": vals}
            print(f"{w} {name}: median {med:.6g} spread {summary[name]['spread']:.4f} "
                  f"(bound {bounds[name]})", flush=True)
        report[w] = {"runs": runs, "summary": summary}
    if args.out:
        with open(args.out, "w") as f:
            json.dump(report, f, indent=1)


if __name__ == "__main__":
    main()
