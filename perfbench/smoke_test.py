#!/usr/bin/env python3
"""Smoke test of the benchmark at toy sizes (a few minutes on 4 cores).

    python3 perfbench/smoke_test.py      # from the root of a graft checkout

Runs kg_lifecycle traced and ops_suite traced and untraced at --scale
toy and asserts that every metric BENCHMARK.json names is printed with
its unit, that the last line is the result object with exactly the
metrics its --trace asks for, that each workload measures its own
layers, and that the output checks ran and passed. It also
asserts that the benchmark refuses to run, without a result, in a
directory that holds only the benchmark.
"""
import json
import os
import shutil
import subprocess
import sys
import tempfile

ROOT = os.getcwd()
OWN_LAYERS = {
    "kg_lifecycle": ["build_s", "build_triples_per_s", "pin_s", "ingest_s", "read_s",
                     "fold_s", "extract.wall_s", "extract.busy_s", "extract.triples",
                     "link.entities.wall_s", "link.edges.wall_s", "link.edges.busy_s",
                     "link.edges.rows", "canon.wall_s", "pipeline.nodes.wall_s",
                     "pipeline.edges.wall_s", "store.write_mb", "store.files", "store.io_s",
                     "ingest.jobs", "ingest.write_mb", "read.tax", "fold.write_mb",
                     "spark.jobs", "spark.busy_s"],
    "ops_suite": ["ops_suite_s", "query_s", "setup.warmup_s", "ops.dedup_s",
                  "ops.similarity_s", "ops.text_s", "ops.relational_s", "ops.curation_s",
                  "ops.multimodal_s", "streaming.wall_s",
                  "functions.minhash_sigs.ns_per_row", "functions.sign_lsh_bands.ns_per_row",
                  "spark.jobs", "spark.busy_s"],
}
HERE = os.path.dirname(os.path.abspath(__file__))


def run(workload, trace, cwd=ROOT):
    cmd = [sys.executable, os.path.join(cwd, "perfbench", "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "1", "--trace", str(trace), "--scale", "toy"]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=900)


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    layers = {m["name"]: m["unit"] for m in spec["per_layer"]}
    assert "setup_s" in e2e and e2e["setup_s"] == "s"

    for workload, trace in (("kg_lifecycle", 1), ("ops_suite", 1), ("ops_suite", 0)):
        assert workload in {w["name"] for w in spec["workloads"]}, workload
        r = run(workload, trace)
        assert r.returncode == 0, f"{workload} exited {r.returncode}:\n{r.stderr[-3000:]}"
        lines = r.stdout.strip().splitlines()
        printed = {}
        for line in lines[:-1]:
            parts = line.split()
            if len(parts) == 4 and parts[0] in ("end_to_end", "per_layer"):
                printed[(parts[0], parts[1])] = parts[3]
        for kind, want in (("end_to_end", e2e), ("per_layer", layers)):
            for name, unit in want.items():
                assert printed.get((kind, name)) == unit, f"{workload}: {kind} {name} [{unit}]"
        result = json.loads(lines[-1])
        assert set(result) == {"correct", "attempted", "failed", "metrics"}, result.keys()
        assert result["correct"] is True and result["failed"] == 0, lines
        assert result["attempted"] >= 1
        want = e2e if trace == 0 else layers
        assert set(result["metrics"]) == set(want), set(result["metrics"]) ^ set(want)
        for name, m in result["metrics"].items():
            assert m["unit"] == want[name] and isinstance(m["value"], (int, float)), name
        # a workload's own layers are measured (the others read 0)
        must = e2e if trace == 0 else OWN_LAYERS[workload]
        zero = [n for n in must if not result["metrics"][n]["value"] > 0]
        assert not zero, f"{workload}: no value for {zero}"
        # the checks ran: a lifecycle checks its graph, the suite its queries
        notes = "\n".join(l for l in lines if l.startswith("# "))
        if workload == "kg_lifecycle":
            assert "outcome=build=" in notes and result["attempted"] >= 4, notes
        else:
            assert "oracle=" in notes and result["attempted"] > 9, notes
        print(f"ok {workload} trace={trace}: {len(result['metrics'])} metrics, "
              f"{result['attempted']} operations checked")

    # a directory holding only the benchmark has nothing to build
    os.makedirs(os.path.join(ROOT, ".bench_build"), exist_ok=True)
    bare = tempfile.mkdtemp(dir=os.path.join(ROOT, ".bench_build"))
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        r = run("kg_lifecycle", 0, cwd=bare)
        assert r.returncode != 0 and not r.stdout.strip(), (r.returncode, r.stdout)
        print("ok bare directory refused")
    finally:
        shutil.rmtree(bare)


if __name__ == "__main__":
    main()
