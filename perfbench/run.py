#!/usr/bin/env python3
"""graft benchmark: one command per workload run.

    python3 perfbench/run.py --workload <kg_lifecycle|ops_suite> --seed <n> \
        --seconds <s> --trace <0|1> [--scale full|toy] [--record-expected]

Run from the root of a graft checkout. The first run compiles graft and
the benchmark (perfbench/build.py) into .bench_build/perfbench. The run
starts one JVM with local[N] Spark, N = the CPUs this process may use,
which generates the inputs from the seed, sets up, measures for
--seconds, and checks the outputs; ops_suite results with a DuckDB twin
are then checked in DuckDB here, and the outcome of each workload's
fixed canary inputs is compared with perfbench/expected.json
(--record-expected rewrites that entry instead, for a change that alters
the program's results on purpose). Every metric is printed by name with its
unit, and the last stdout line is one JSON object:
{"correct", "attempted", "failed", "metrics"} — the end-to-end metrics
with --trace 0, the per-layer metrics of the traced run with --trace 1.
The full report, and for traced runs the span file and self-time table,
are kept under .bench_build/perfbench/.
"""
import argparse
import glob
import json
import math
import os
import shutil
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.dont_write_bytecode = True
sys.path.insert(0, HERE)
import build  # noqa: E402

WORKLOADS = ("kg_lifecycle", "ops_suite")
# a fixed, pre-touched heap: timings do not move with when G1 grows it,
# and the peak resident set moves with the JVM's native memory (threads,
# code, buffers). The heap the program keeps live is heap_peak_mb, the
# peak after a collection; a fixed young generation makes collections
# come every YOUNG_GEN of allocation, so that peak is sampled evenly.
JVM_HEAP = "2g"
YOUNG_GEN = "256m"
EXPECTED = os.path.join(HERE, "expected.json")
RUN_LIMIT_S = 170  # a run must end within 180 s


def cpus():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def watch_peak_rss(proc, peak):
    """Polls the child's VmHWM (its peak resident set) until it exits."""
    path = f"/proc/{proc.pid}/status"
    while proc.poll() is None:
        try:
            with open(path) as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        peak[0] = max(peak[0], int(line.split()[1]) / 1024.0)
        except OSError:
            pass
        time.sleep(0.2)


def oracle_check(data_dir, out_dir):
    """DuckDB twin of every saved query result, compared like
    tools/oracle_check.py: columns sorted by name, rows by value, floats
    rounded to 9 places, compared as strings. Returns (checked, failures).
    """
    import duckdb
    import pandas as pd

    def canon(df):
        df = df.reindex(sorted(df.columns), axis=1)
        for c in df.columns:
            if df[c].dtype.kind == "f":
                df[c] = df[c].round(9)
        return df.sort_values(by=list(df.columns), ignore_index=True)

    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for p in sorted(glob.glob(os.path.join(data_dir, "*.parquet"))):
        name = os.path.basename(p)[: -len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')")
    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)
    failures = []
    for name, sql in sorted(oracle.items()):
        res = os.path.join(out_dir, name)
        try:
            got = canon(pd.read_parquet(res))
            exp = canon(con.execute(sql).fetchdf())
        except Exception as e:  # noqa: BLE001 — any error fails the check
            failures.append(f"{name}: oracle error {str(e)[:200]}")
            continue
        if list(got.columns) != list(exp.columns):
            failures.append(f"{name}: columns {list(got.columns)} vs {list(exp.columns)}")
        elif len(got) != len(exp):
            failures.append(f"{name}: rows {len(got)} vs {len(exp)}")
        elif (got.astype(str) != exp.astype(str)).any(axis=None):
            failures.append(f"{name}: values differ from the DuckDB twin")
    con.close()
    return len(oracle), failures


def same_outcome(out, args, outcome):
    """Every run of one seed must publish the same graph and query
    results: the first run's outcome in this checkout is kept and later
    runs, on any build, are compared with it. Returns the failures.
    """
    d = os.path.join(out, "outcomes")
    os.makedirs(d, exist_ok=True)
    path = os.path.join(d, f"{args.workload}-{args.scale}-{args.seed}.txt")
    if not os.path.exists(path):
        with open(path, "w") as f:
            f.write(outcome)
        return []
    with open(path) as f:
        first = f.read()
    return [] if first == outcome else [f"outcome differs from an earlier run of seed {args.seed}"]


def canary_check(args, canary):
    """The canary inputs' outcome must be the committed one. Returns the
    failures; with --record-expected, stores it instead.
    """
    expected = {}
    if os.path.exists(EXPECTED):
        with open(EXPECTED) as f:
            expected = json.load(f)
    if args.record_expected:
        expected[args.workload] = canary
        with open(EXPECTED, "w") as f:
            json.dump(expected, f, indent=1, sort_keys=True)
            f.write("\n")
        return []
    if args.workload not in expected:
        return [f"no expected canary outcome for {args.workload} in perfbench/expected.json"]
    if expected[args.workload] != canary:
        return [f"canary outcome {canary[:300]} differs from the expected "
                f"{expected[args.workload][:300]}"]
    return []


def java_command(classes, jars, args, work, report):
    opens = [x for p in build.ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return (["java", f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", f"-Xmn{YOUNG_GEN}",
             "-XX:+AlwaysPreTouch",
             "-Xss8m", "-XX:-UsePerfData",
             f"-Djava.io.tmpdir={work}/tmp"] + opens +
            ["-cp", f"{classes}{os.pathsep}{jars}/*", "perfbench.Main",
             "--workload", args.workload, "--seed", str(args.seed),
             "--seconds", str(args.seconds), "--trace", str(args.trace),
             "--cores", str(cpus()), "--work", work, "--out", report,
             "--scale", args.scale])


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "toy"), default="full")
    ap.add_argument("--record-expected", action="store_true")
    args = ap.parse_args()

    root = os.getcwd()
    try:
        classes, jars, _ = build.ensure_built(root)
    except build.BuildError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2
    # the metrics, with their units, are the ones BENCHMARK.json names
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    end_to_end = [(m["name"], m["unit"]) for m in spec["end_to_end"]]
    per_layer = [(m["name"], m["unit"]) for m in spec["per_layer"]]

    out = build.out_dir(root)
    work = os.path.join(out, f"work-{os.getpid()}")
    report = os.path.join(work, "report.json")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    t0 = time.time()
    try:
        peak = [0.0]
        with open(os.path.join(work, "jvm.log"), "w") as log:
            # few malloc arenas: the JVM's native footprint then varies less
            env = dict(os.environ, MALLOC_ARENA_MAX="2")
            proc = subprocess.Popen(java_command(classes, jars, args, work, report),
                                    cwd=root, env=env, stdout=log, stderr=subprocess.STDOUT)
            watcher = threading.Thread(target=watch_peak_rss, args=(proc, peak))
            watcher.start()
            try:
                code = proc.wait(timeout=RUN_LIMIT_S)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                code = "timeout"
            watcher.join()
        if code != 0 or not os.path.exists(report):
            with open(os.path.join(work, "jvm.log")) as f:
                tail = f.read()[-3000:]
            print(f"perfbench: JVM exited with {code}\n{tail}", file=sys.stderr)
            return 1
        with open(report) as f:
            rep = json.load(f)

        failures = list(rep["failures"])
        attempted = rep["attempted"]
        if args.workload == "ops_suite":
            n, fails = oracle_check(os.path.join(work, "ops", "data"),
                                    os.path.join(work, "ops", "out"))
            attempted += n
            failures += fails
        failures += same_outcome(out, args, rep["outcome"])
        failures += canary_check(args, rep["canary"])
        attempted += 2
        e2e = rep["end_to_end"]
        e2e["peak_rss_mb"] = {"value": round(peak[0], 1), "unit": "MB"}
        layers = rep["per_layer"]
        layers["failed_frac"] = {"value": len(failures) / max(1, attempted), "unit": "ratio"}
        for name, unit in per_layer:  # layers a workload does not touch read 0
            layers.setdefault(name, {"value": 0, "unit": unit})

        keep = os.path.join(out, f"last_{args.workload}.json")
        full = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
                "trace": args.trace, "cpus": cpus(), "wall_s": round(time.time() - t0, 3),
                "attempted": attempted, "failures": failures, "notes": rep["notes"],
                "end_to_end": e2e, "per_layer": layers}
        with open(keep, "w") as f:
            json.dump(full, f, indent=1)
        if args.trace:
            tdir = os.path.join(out, f"trace_{args.workload}_{args.seed}")
            os.makedirs(tdir, exist_ok=True)
            for name in ("spans.jsonl", "self_times.json"):
                shutil.copy(os.path.join(work, name), tdir)

        for note in rep["notes"]:
            print(f"# {note}")
        for f in failures:
            print(f"# FAILED {f}")
        print(f"# failed_frac {layers['failed_frac']['value']:.6g} ratio "
              f"({len(failures)} of {attempted} operations)")
        for name, unit in end_to_end:
            print(f"end_to_end {name} {e2e[name]['value']:.6g} {unit}")
        for name, unit in per_layer:
            print(f"per_layer {name} {layers[name]['value']:.6g} {unit}")

        pick = end_to_end if args.trace == 0 else per_layer
        metrics = {name: {"value": (e2e if args.trace == 0 else layers)[name]["value"],
                          "unit": unit} for name, unit in pick}
        for m in metrics.values():
            if not isinstance(m["value"], (int, float)) or not math.isfinite(m["value"]):
                m["value"] = 0
        print(json.dumps({"correct": not failures, "attempted": attempted,
                          "failed": len(failures), "metrics": metrics}))
        return 0
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
