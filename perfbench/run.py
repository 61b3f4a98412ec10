#!/usr/bin/env python3
"""Benchmark of the graft engine: map tiles through the WMS service, and
whole-grid Block DAGs and DataFrame pipelines from SparkEntry.queries.

    python3 perfbench/run.py --workload tiles|geo_batch|pipelines \
        --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --self-test

Run it from the repository root. The first run builds the engine (with the
root build, a dependency of perfbench/build.sbt) and the harness from
source with sbt; later runs reuse the build while the sources are
unchanged. Each run starts one JVM (Spark local[4]), which writes its
record to perfbench/out/<workload>/jvm.json;
this script then checks the lane results with tools/check_oracle.py and
prints the record as the last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 prints the end-to-end metrics, --trace 1 the per-layer ones.
Every file the benchmark reads or writes lies inside the repository.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE = os.path.join(ROOT, "src", "main")
TARGET = os.path.join(HERE, "target")
DATA = os.path.join(HERE, "data")
WORKLOADS = ("tiles", "geo_batch", "pipelines")
CHECK_ORACLE = os.path.join(ROOT, "tools", "check_oracle.py")
# Spark on JDK 17 outside spark-submit (org.apache.spark.launcher.JavaModuleOptions)
ADD_OPENS = [a for p in (
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar") for a in ("--add-opens", p + "=ALL-UNNAMED")]
JVM_TIMEOUT_S = 160
# the end-to-end metrics printed by an untraced run (BENCHMARK.json)
END_TO_END = ("setup_s", "ops_per_s", "cpu_ms_per_op")


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def source_digest():
    files = [os.path.join(d, f) for d in (HERE, ROOT)
             for f in ("build.sbt", os.path.join("project", "build.properties"))]
    for base in (os.path.join(HERE, "src"), ENGINE):
        files += sorted(p for p in glob.glob(os.path.join(base, "**", "*"), recursive=True)
                        if os.path.isfile(p))
    h = hashlib.sha256()
    for p in files:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build():
    """Compile engine + harness unless the sources are unchanged since the
    last build; returns the runtime classpath."""
    for need in (os.path.join(ENGINE, "scala"), CHECK_ORACLE):
        if not os.path.exists(need):
            fail(f"{os.path.relpath(need, ROOT)} not found; run from a full checkout")
    digest = source_digest()
    stamp = os.path.join(TARGET, "build.stamp")
    cp_file = os.path.join(TARGET, "classpath.txt")
    if os.path.exists(stamp) and os.path.exists(cp_file) and open(stamp).read() == digest:
        return open(cp_file).read().strip()
    tmp = os.path.join(TARGET, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    env["SBT_OPTS"] = f"-Xmx2g -Dsbt.offline=true -Djava.io.tmpdir={tmp}"
    with open(os.path.join(TARGET, "build.log"), "w") as log:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                            "-Dsbt.server.autostart=false", "writeClasspath"],
                           cwd=HERE, env=env, stdout=log, stderr=subprocess.STDOUT,
                           stdin=subprocess.DEVNULL, timeout=840)
    if r.returncode != 0:
        fail(f"build failed; see {os.path.relpath(log.name, ROOT)}")
    with open(stamp, "w") as f:
        f.write(digest)
    return open(cp_file).read().strip()


def run_jvm(cp, out, args, timeout=JVM_TIMEOUT_S):
    """One JVM run of the harness; its record, or exit on failure."""
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(os.path.join(out, "tmp"))
    cmd = (["java", *ADD_OPENS, "-Xms3g", "-Xmx3g", f"-Djava.io.tmpdir={os.path.join(out, 'tmp')}",
            "-cp", cp, "graft.perfbench.Main", "--data", DATA, "--out", out] + args)
    log_path = os.path.join(out, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=out, stdout=log, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL,
                                env=dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(out, "spark-local")))
        try:
            rc = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"JVM timed out after {timeout} s; see {os.path.relpath(log_path, ROOT)}")
    if rc != 0:
        with open(log_path) as f:
            tail = [l for l in f.read().splitlines() if "Exception" in l or "Error" in l][:5]
        fail(f"JVM exited with {rc}: {' | '.join(tail)}")
    with open(os.path.join(out, "jvm.json")) as f:
        return json.load(f)


def oracle_failures(results_dir):
    """Lanes under results_dir that fail the repository's DuckDB oracle check,
    tools/check_oracle.py: a type gate, then a column-sorted, row-sorted
    value compare of each lane's parquet result with its SparkEntry.oracleSql
    query. A lane the check does not report OK has failed."""
    with open(os.path.join(results_dir, "oracle_sql.json")) as f:
        lanes = set(json.load(f))
    r = subprocess.run([sys.executable, CHECK_ORACLE, results_dir, os.path.join(DATA, "sf0.01")],
                       capture_output=True, text=True, stdin=subprocess.DEVNULL, timeout=120)
    if r.returncode != 0:
        fail(f"oracle check exited with {r.returncode}: {r.stderr.strip()[-300:]}")
    ok = {line.split()[1] for line in r.stdout.splitlines() if line.startswith("OK ")}
    for line in r.stdout.splitlines():
        if line.startswith(("MISMATCH", "ERROR")):
            print(f"perfbench: {line}", file=sys.stderr)
    return sorted(lanes - ok)


def corrupt_lane(lane_dir):
    """Add 1 to one value of the first integer or floating column of a lane's
    parquet result, keeping every column's type."""
    import duckdb
    con = duckdb.connect()
    src = f"read_parquet('{lane_dir}/*.parquet')"
    col = next(name for name, typ, *_ in con.execute(f"DESCRIBE SELECT * FROM {src}").fetchall()
               if typ in ("TINYINT", "SMALLINT", "INTEGER", "BIGINT", "FLOAT", "DOUBLE"))
    tmp = lane_dir + ".corrupt.parquet"
    con.execute(f'COPY (SELECT * EXCLUDE (perfbench_n) REPLACE (CASE WHEN perfbench_n = 1 '
                f'THEN "{col}" + 1 ELSE "{col}" END AS "{col}") FROM (SELECT *, row_number() '
                f'OVER () AS perfbench_n FROM {src})) TO \'{tmp}\' (FORMAT parquet)')
    for p in glob.glob(os.path.join(lane_dir, "*.parquet")):
        os.remove(p)
    os.replace(tmp, os.path.join(lane_dir, "part-0.parquet"))


def measure(workload, seed, seconds, trace, inject=False):
    cp = build()
    out = os.path.join(HERE, "out", workload)
    args = ["--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", str(int(trace))] + (["--inject-fault"] if inject else [])
    rec = run_jvm(cp, out, args)
    failed = rec["failed"]
    if "lane_execs" in rec:
        results = os.path.join(out, "results")
        if inject:
            corrupt_lane(os.path.join(results, sorted(rec["lane_execs"])[0]))
        for lane in oracle_failures(results):
            failed += rec["lane_execs"][lane]  # every run of a wrong lane failed
    metrics = rec["metrics"] if trace else {k: rec["metrics"][k] for k in END_TO_END}
    return {"correct": failed == 0, "attempted": rec["attempted"], "failed": failed,
            "metrics": metrics}


def self_test():
    """Every lane keeps its ScalaUDFs under the timed noop write, and an
    injected wrong lane result and an injected wrong tile are both counted."""
    cp = build()
    ok = True
    rec = run_jvm(cp, os.path.join(HERE, "out", "selftest-plans"),
                  ["--workload", "selftest-plans", "--seed", "0", "--seconds", "0", "--trace", "0"],
                  timeout=900)
    pruned = set(rec["count_pruned"])
    print(f"plans: {rec['attempted']} lanes, {rec['failed']} lose a ScalaUDF under noop; "
          f".count() loses one on {len(pruned)}")
    ok &= rec["failed"] == 0 and {"z01_zonal_mean", "z03_zonal_crs",
                                  "p34_semdedup", "p48_decontaminate_bloom"} <= pruned
    for workload in ("tiles", "pipelines"):
        r = measure(workload, 1, 4, False, inject=True)
        print(f"{workload} with one corrupted output: correct={r['correct']} "
              f"failed={r['failed']} of {r['attempted']}")
        ok &= not r["correct"] and r["failed"] >= 1
    print("self-test", "PASSED" if ok else "FAILED")
    return ok


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-test", action="store_true")
    a = ap.parse_args()
    if a.self_test:
        sys.exit(0 if self_test() else 1)
    if a.workload is None:
        ap.error("--workload is required")
    print(json.dumps(measure(a.workload, a.seed, a.seconds, a.trace == 1)))


if __name__ == "__main__":
    main()
