#!/usr/bin/env python3
"""Seeded, layered benchmark of the graft engine.

Usage (from the root of a checkout):

    python3 wxbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads: xql_interactive, grid_etl, corpus_dedup (see wxbench/README.md).
The first run builds the engine and the benchmark from source
(wxbench/build.py). One JVM then generates the workload's inputs from the
seed, sets up twice (fresh Spark session, fresh fixtures, warm-up),
runs a closed loop of ops for --seconds on one client thread and checks
every op's output outside the op timers. xql statements are checked
afterwards against their ANSI twins in DuckDB.

With --trace 0 the last stdout line carries the end-to-end metrics; with
--trace 1 it carries the per-layer metrics of a traced pass, and the
spans are left in .bench_build/wxbench/runs/<run>/trace.jsonl. The line
before it is a report with the workload's own figures (query_p50_s,
ingest_mb_per_s, docs_per_s, error_ratio, ...).
"""
import argparse
import datetime
import decimal
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True  # the checkout gets nothing but .bench_build/
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("xql_interactive", "grid_etl", "corpus_dedup")
# build.sbt's forked-JVM options: JDK 17 module opens for Spark, the
# throughput collector, UTC, no UI, the heap from SPARK_DRIVER_MEM and, last
# so that they win, the flags in SPARK_GRAFT_JAVA_OPTS
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
JVM_TIMEOUT_S = 165


def jvm_options(run_dir):
    opts = []
    for p in ADD_OPENS:
        opts += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return opts + [
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        f"-Xmx{os.environ.get('SPARK_DRIVER_MEM', '8g')}", "-XX:+UseParallelGC",
        "-XX:-UsePerfData", f"-Djava.io.tmpdir={run_dir}/tmp",
    ] + os.environ.get("SPARK_GRAFT_JAVA_OPTS", "").split()


def norm(v):
    if isinstance(v, datetime.datetime):
        return v.strftime("%Y-%m-%dT%H:%M:%S")
    if isinstance(v, datetime.date):
        return v.strftime("%Y-%m-%dT00:00:00")
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    return v


def same(a, b):
    if isinstance(a, bool) or isinstance(b, bool):
        return a == b
    if isinstance(a, (int, float)) and isinstance(b, (int, float)):
        return a == b or abs(a - b) <= 1e-9 * max(1.0, abs(a), abs(b))
    return a == b


def check_xql(outputs, log):
    """Runs each statement's ANSI twin in DuckDB over the same parquet (the
    Zarr store as the generator's values) and compares columns, row count
    and values. Returns the number of runs of statements that disagree."""
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    con.execute(f"CREATE VIEW grid AS SELECT * FROM read_parquet('{outputs['grid']}/*.parquet')")
    con.execute(f"CREATE VIEW era5 AS SELECT * FROM read_parquet('{outputs['era5_values']}/*.parquet')")
    failed = 0
    checked = 0
    with open(outputs["xql_results"]) as f:
        for line in f:
            r = json.loads(line)
            checked += 1
            try:
                rel = con.execute(r["ansi"])
                cols = [d[0].lower() for d in rel.description]
                rows = [[norm(v) for v in row] for row in rel.fetchall()]
            except Exception as e:  # an oracle error fails the statement
                print(f"[wxbench] duckdb error on stmt {r['stmt']}: {e}", file=log)
                cols, rows = None, None
            ok = (cols == [c.lower() for c in r["cols"]] and len(rows) == len(r["rows"]) and
                  all(len(a) == len(b) and all(same(x, y) for x, y in zip(a, b))
                      for a, b in zip(r["rows"], rows)))
            if not ok:
                failed += r["execs"] - r["bad_execs"]
                print(f"[wxbench] stmt {r['stmt']} disagrees with DuckDB: {r['xql']}", file=log)
    return failed, checked


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    log = sys.stderr

    try:
        build.build(log=log)
    except build.BuildError as e:
        print(f"[wxbench] build failed: {e}", file=log)
        return 1

    run_dir = os.path.join(build.OUT, "runs", f"{a.workload}-s{a.seed}-t{a.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    launch_ms = int(time.time() * 1000)
    cmd = (["java"] + jvm_options(run_dir) +
           ["-cp", build.classpath(), "graft.wxbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--out", run_dir, "--launch-ms", str(launch_ms)])
    try:
        return measure(a, cmd, run_dir, log)
    finally:
        # keep result.json, trace.jsonl and xql_results.jsonl; drop fixtures
        for d in os.listdir(run_dir):
            if d.startswith("setup") or d in ("tmp", "spark-local", "warehouse"):
                shutil.rmtree(os.path.join(run_dir, d), ignore_errors=True)


def measure(a, cmd, run_dir, log):
    proc = subprocess.Popen(cmd, stdout=log, stderr=log)
    try:
        proc.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print(f"[wxbench] benchmark JVM exceeded {JVM_TIMEOUT_S} s", file=log)
        return 1
    finally:
        # also on SIGTERM: never leave the JVM running
        if proc.poll() is None:
            proc.kill()
            proc.wait()
    if proc.returncode != 0:
        print(f"[wxbench] benchmark JVM exited with {proc.returncode}", file=log)
        return 1
    with open(os.path.join(run_dir, "result.json")) as f:
        res = json.load(f)
    failed = res["failed"]
    report = res["report"]
    if a.workload == "xql_interactive":
        bad, checked = check_xql(res["outputs"], log)
        failed += bad
        report["duckdb_checked_statements"] = {"value": checked, "unit": "count"}
    report["error_ratio"] = {"value": failed / max(res["attempted"], 1), "unit": "ratio"}
    print(json.dumps({"workload": a.workload, "seed": a.seed, "trace": a.trace, "report": report}))
    metrics = res["layers"] if a.trace else res["e2e"]
    print(json.dumps({"correct": failed == 0, "attempted": res["attempted"],
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    sys.exit(main())
