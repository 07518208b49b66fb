#!/usr/bin/env python3
"""Self-test of the benchmark, on the smallest corpus.

    python3 perfbench/selftest.py

Runs run.py's `registry` workload on data/sf0.001 with a 5-second measured
stream, once untraced on two queries with a planted wrong result, and once
traced on the workload's own queries, and asserts:
  - every metric BENCHMARK.json names is printed, with its unit;
  - every per-layer metric has samples (n > 0), except the two-phase
    commit metrics, which belong to the other workload's pipeline;
  - the planted wrong result is counted as a failure;
  - listener events are attributed by job group (the listener bus cannot
    be drained from user code): the traced layers account for the traced
    sweep and see the queries' jobs;
  - the broadcast source has 4 partitions per batch (the default in-memory
    stream adds one per offer, so tasks per sink write would grow with the
    offers in a batch and lag would drift);
  - the pipeline is primed before it is timed (the first trigger of a
    pipeline in a fresh JVM is about twice as slow): the priming offer is
    processed as batch 0 and no timed event falls in it.
Exits non-zero on the first failed assertion.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
QUERIES = "agg_hash_group,llm_dedup_jaccard"
PLANT = "agg_hash_group"


def run(trace, extra):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", "registry",
           "--seed", "7", "--seconds", "10", "--trace", str(trace),
           "--data", os.path.join(HERE, "data", "sf0.001")] + extra
    p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True, timeout=600)
    assert p.returncode == 0, f"run.py exited {p.returncode}"
    last = json.loads(p.stdout.strip().splitlines()[-1])
    with open(os.path.join(HERE, "work", "registry", "result.json")) as fh:
        return last, json.load(fh)


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)

    last, res = run(0, ["--queries", QUERIES, "--plant", PLANT])
    assert set(last) == {"correct", "attempted", "failed", "metrics"}, last.keys()
    for m in spec["end_to_end"]:
        got = last["metrics"].get(m["name"])
        assert got is not None, f"end-to-end metric {m['name']} not printed"
        assert got["unit"] == m["unit"], f"{m['name']}: unit {got['unit']} != {m['unit']}"
        assert got["value"] > 0, f"{m['name']} is {got['value']}"
    assert last["failed"] >= 1 and not last["correct"], \
        f"planted wrong result of {PLANT} was not counted: {last}"
    assert res["notes"]["source_partitions"] == [4], res["notes"]["source_partitions"]
    assert res["notes"]["prime_s"] > 0 and res["notes"]["first_timed_batch"] >= 1, res["notes"]

    last, res = run(1, [])
    assert last["correct"] and last["failed"] == 0, last
    for m in spec["per_layer"]:
        got = last["metrics"].get(m["name"])
        assert got is not None, f"per-layer metric {m['name']} not printed"
        assert got["unit"] == m["unit"], f"{m['name']}: unit {got['unit']} != {m['unit']}"
        n = res["layers"][m["name"]]["n"]
        assert n > 0 or m["name"].startswith("twopc."), f"{m['name']} has no samples"
    lay = last["metrics"]
    assert lay["exec.jobs"]["value"] > 0, "no jobs attributed to the traced queries"
    acc = lay["trace.accounted_frac"]["value"]
    assert 0.8 < acc <= 1.05, f"traced layers account for {acc} of the traced sweep"

    print("selftest passed")


if __name__ == "__main__":
    main()
