#!/usr/bin/env python3
"""Benchmark of the graft engine: full-result query sweeps and open-loop
broadcast lag.

    python3 perfbench/run.py --workload registry --seed 1 --seconds 12 --trace 0

Builds the harness (perfbench/build.sbt, which compiles the engine in the
enclosing checkout) when its sources changed, runs one workload in one JVM,
checks every output (the DuckDB oracle compare of tools/verify_local.py for
oracle-backed queries; repeat fingerprints and exactly-once sink checks for
the rest) and prints a report. The last stdout line is one JSON object:
{"correct", "attempted", "failed", "metrics"} -- the end-to-end metrics with
--trace 0, the per-layer metrics with --trace 1. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "work")
DATA = os.path.join(HERE, "data", "sf0.01")
BUILD_TIMEOUT_S = 850
# a run, after the build, must end within 180 s
RUN_BUDGET_S = 170
# what an engine JVM launched outside spark-submit needs on JDK 17
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_digest():
    """Digest of everything the harness build reads."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile the engine and the harness; return the runtime classpath."""
    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            raise SystemExit(f"engine sources not found: {need} is missing")
    target = os.path.join(HERE, "target")
    cp_file = os.path.join(target, "classpath.txt")
    stamp = os.path.join(target, "classpath.digest")
    digest = source_digest()
    if os.path.exists(cp_file) and os.path.exists(stamp):
        with open(stamp) as fh:
            if fh.read() == digest:
                with open(cp_file) as fh:
                    return fh.read()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true "
                           f"-Dsbt.repository.config={repos} "
                           "-Dsbt.offline=true -Xmx3g")
    log("building the engine and the harness")
    try:
        tmp = os.path.join(WORK, "tmp")
        os.makedirs(tmp, exist_ok=True)
        p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                            f"-J-Djava.io.tmpdir={tmp}", "writeClasspath"],
                           cwd=HERE, env=env,
                           stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                           stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S,
                           text=True)
    except subprocess.TimeoutExpired:
        raise SystemExit("build timed out")
    if p.returncode != 0 or not os.path.exists(cp_file):
        sys.stderr.write(p.stdout[-4000:])
        raise SystemExit("build failed")
    with open(stamp, "w") as fh:
        fh.write(digest)
    with open(cp_file) as fh:
        return fh.read()


def run_harness(classpath, work, harness_args, timeout):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"]
    for o in ADD_OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    # a fixed heap and a metaspace large enough for Spark's classes: no
    # heap resizing and no full collections while classes load
    cmd += ["-Xms3g", "-Xmx3g", "-XX:MetaspaceSize=256m", "-XX:+UseParallelGC",
            "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmp}", f"-Dderby.system.home={work}",
            "-cp", classpath, "perfbench.Main", "--work", work] + harness_args
    log_path = os.path.join(work, "harness.log")
    with open(log_path, "w") as out:
        p = subprocess.Popen(cmd, cwd=work, stdout=out, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL)
        try:
            rc = p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise SystemExit(f"harness timed out; log in {log_path}")
    if rc != 0:
        with open(log_path, errors="replace") as fh:
            lines = [l for l in fh if "perfbench" in l or "Exception" in l
                     or "Error" in l]
        sys.stderr.write("".join(lines[-40:]))
        raise SystemExit(f"harness failed with exit code {rc}; log in {log_path}")


def single_file_tables(data_dir, work):
    """DuckDB reads each table as one parquet file; graft.Soak writes
    some tables as directories of parts. Mirror those as single files."""
    if all(os.path.isfile(os.path.join(data_dir, f))
           for f in os.listdir(data_dir) if f.endswith(".parquet")):
        return data_dir
    import pyarrow.parquet as pq
    mirror = os.path.join(work, "oracle_data")
    marker = os.path.join(mirror, "_DONE")
    if not os.path.exists(marker):
        shutil.rmtree(mirror, ignore_errors=True)
        os.makedirs(mirror)
        for f in os.listdir(data_dir):
            if f.endswith(".parquet"):
                src = os.path.join(data_dir, f)
                pq.write_table(pq.read_table(src), os.path.join(mirror, f))
        open(marker, "w").close()
    return mirror


def oracle_check(data_dir, check_dir, keys, work, timeout):
    """Run the DuckDB compare; return the keys that failed it."""
    if not keys:
        return []
    data = single_file_tables(data_dir, work)
    p = subprocess.run([sys.executable, os.path.join(ROOT, "tools", "verify_local.py"),
                        data, check_dir] + keys, stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True, timeout=timeout)
    passed = set(re.findall(r"^PASS (\S+)", p.stdout, re.M))
    failed = [k for k in keys if k not in passed]
    for line in p.stdout.splitlines():
        if line.startswith("FAIL"):
            log(line[:300])
    return failed


def report(res, failed_frac):
    out = []
    for name, m in sorted(res["metrics"].items()):
        out.append(f"{name:<22} {m['value']:>14.6g} {m['unit']:<6} n={m['n']}")
    out.append(f"{'failed_frac':<22} {failed_frac:>14.6g} ratio  "
               f"n={res['attempted']}")
    out.append(f"{'lag_p99_s (unbounded)':<22} {res['notes']['lag_p99_s']:>14.6g} s")
    for name, m in sorted(res["layers"].items()):
        out.append(f"{name:<32} {m['value']:>14.6g} {m['unit']:<6} n={m['n']}")
    qs = sorted(res["queries"].items(), key=lambda kv: -kv[1]["median_s"])
    out.append("per query, slowest first (median s, max/min over passes, samples):")
    for k, q in qs:
        out.append(f"  {k:<34} {q['median_s']:8.3f}  x{q['max_s'] / q['min_s']:.2f}"
                   f"  n={q['n']}  {q['module']}")
    return "\n".join(out)


def rank(classpath, a):
    """Per-query ranking of the whole registry under full materialization."""
    work = os.path.join(WORK, "rank")
    os.makedirs(work, exist_ok=True)
    out = os.path.join(work, "rank.json")
    args = ["--rank", str(a.rank), "--seed", str(a.seed or 0),
            "--data", os.path.abspath(a.data), "--out", out]
    if a.queries:
        args += ["--queries", a.queries]
    run_harness(classpath, work, args, timeout=None)
    with open(out) as fh:
        res = json.load(fh)
    print("query                               median_s    max_s  cold_s  module")
    for k, q in sorted(res.items(), key=lambda kv: -kv[1]["median_s"]):
        print(f"{k:<34} {q['median_s']:9.3f} {q['max_s']:8.3f} {q['cold_s']:7.3f}  {q['module']}"
              + ("  FAILED" if q["failed"] else ""))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--data", default=DATA)
    # self-test knobs: a query subset and a planted wrong result
    ap.add_argument("--queries")
    ap.add_argument("--plant")
    # rank mode: this many warm passes over every registered query
    ap.add_argument("--rank", type=int)
    a = ap.parse_args()

    classpath = build()
    deadline = time.monotonic() + RUN_BUDGET_S
    if a.rank:
        return rank(classpath, a)
    if a.workload is None or a.seed is None or a.seconds is None:
        ap.error("--workload, --seed and --seconds are required")
    work = os.path.join(WORK, a.workload)
    check_dir = os.path.join(work, "check")
    shutil.rmtree(check_dir, ignore_errors=True)
    out = os.path.join(work, "result.json")
    if os.path.exists(out):
        os.remove(out)
    args = ["--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--data", os.path.abspath(a.data), "--out", out]
    if a.queries:
        args += ["--queries", a.queries]
    if a.plant:
        args += ["--plant", a.plant]
    os.makedirs(work, exist_ok=True)
    run_harness(classpath, work, args, timeout=deadline - 15 - time.monotonic())
    with open(out) as fh:
        res = json.load(fh)

    bad = oracle_check(res["data"], res["check_dir"], res["oracle_keys"], work,
                       timeout=max(5.0, deadline - time.monotonic()))
    failed = res["failed"] + len(bad)
    attempted = res["attempted"]
    for f in res["failures"]:
        log(f"failure: {f[:300]}")
    print(report(res, failed / attempted))
    chosen = res["layers"] if a.trace else res["metrics"]
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v["value"], "unit": v["unit"]}
                    for k, v in sorted(chosen.items())},
    }))


if __name__ == "__main__":
    main()
