#!/usr/bin/env python3
"""Benchmark of the ingest pipeline (archives -> NDJSON -> Parquet).

Usage, from the repository root:

    python3 perfbench/run.py --workload backfill_nested --seed 1 --seconds 10 --trace 0

Builds the program and the benchmark from source with sbt on first use
(the classpath is cached under perfbench/target, keyed by a digest of the
sources), runs one workload in one JVM, checks its outputs, and prints as
its last line one JSON object: {"correct", "attempted", "failed",
"metrics"}. With --trace 0 the metrics are the end-to-end ones, with
--trace 1 the per-layer ones. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
TARGET = os.path.join(HERE, "target")
WORKLOADS = ("backfill_nested", "backfill_flat_invalid")
JVM_TIMEOUT_S = 170
HEAP = "-Xmx3g"


def fail(msg):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(2)


def build_inputs():
    """Every file the build reads, in a fixed order."""
    paths = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")):
        for d, dirs, files in os.walk(top):
            dirs.sort()
            paths += [os.path.join(d, f) for f in sorted(files)]
    return paths


def build():
    """Compile with sbt unless the cached build matches the sources."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail("the program's sources (build.sbt, src/main/scala) are not here")
    h = hashlib.sha256()
    for p in build_inputs():
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    digest = h.hexdigest()
    stamp = os.path.join(TARGET, "build-digest.txt")
    cp_file = os.path.join(TARGET, "runtime-classpath.txt")
    opts_file = os.path.join(TARGET, "java-options.txt")
    fresh = (os.path.isfile(stamp) and os.path.isfile(cp_file)
             and os.path.isfile(opts_file) and open(stamp).read() == digest)
    if not fresh:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                           cwd=HERE, stdout=sys.stderr, stderr=sys.stderr, timeout=840)
        if r.returncode != 0:
            fail("build failed")
        with open(stamp, "w") as f:
            f.write(digest)
    with open(opts_file) as f:
        opts = [o for o in f.read().split("\n") if o and not o.startswith("-Xmx")]
    return open(cp_file).read().strip(), opts


# ------------------------------------------------------------------ oracle

def norm(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else round(v, 6)
    return v


def rows_of(table):
    cols = sorted(table.column_names)
    data = [table.column(c).to_pylist() for c in cols]
    rows = [tuple(norm(v) for v in r) for r in zip(*data)] if data else []
    return cols, sorted(rows, key=lambda r: tuple(str(x) for x in r))


def oracle(tables_dir, out_dir):
    """Compare each entry's output with its registered DuckDB oracle: same
    columns, same rows, floats to 6 decimals. Returns (run, failed)."""
    import duckdb
    import pyarrow.parquet as pq
    con = duckdb.connect()
    for f in sorted(os.listdir(tables_dir)):
        name = f[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(tables_dir, f)}')")
    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        sqls = json.load(f)
    failed = 0
    for name, sql in sorted(sqls.items()):
        try:
            sc, sr = rows_of(pq.read_table(os.path.join(out_dir, name)))
            dc, dr = rows_of(con.execute(sql).fetch_arrow_table())
            bad = (sc != dc and f"columns {sc} vs {dc}") or \
                  (len(sr) != len(dr) and f"rows {len(sr)} vs {len(dr)}") or \
                  next((f"row {i}: {a} vs {b}" for i, (a, b) in enumerate(zip(sr, dr))
                        if a != b), None)
        except Exception as e:  # a failed entry or query is a failed check
            bad = str(e)
        if bad:
            failed += 1
            print(f"[perfbench] CHECK FAILED oracle[{name}]: {bad}", file=sys.stderr)
    return len(sqls), failed


# -------------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[1])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    cp, opts = build()
    shutil.rmtree(WORK, ignore_errors=True)
    dirs = {k: os.path.join(WORK, k) for k in ("jvm", "tables", "scratch", "tmp")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    try:
        args = ["--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace),
                "--work", dirs["jvm"]]
        if a.trace:
            sys.path.insert(0, HERE)
            import tables
            tables.write(dirs["tables"], a.seed)
            args += ["--tables", dirs["tables"]]
        env = dict(os.environ, GRAFT_SCRATCH_DIR=dirs["scratch"],
                   SPARK_LOCAL_DIRS=os.path.join(dirs["jvm"], "spark-local"),
                   TMPDIR=dirs["tmp"])
        java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
            if "JAVA_HOME" in os.environ else "java"
        cmd = [java] + opts + [HEAP, "-Djava.io.tmpdir=" + dirs["tmp"],
                               "-cp", cp, "perfbench.PipelineBench"] + args
        try:
            r = subprocess.run(cmd, cwd=WORK, env=env, stdout=subprocess.PIPE,
                               stderr=sys.stderr, text=True, timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail(f"benchmark JVM did not finish within {JVM_TIMEOUT_S} s")
        lines = r.stdout.strip().split("\n")
        if r.returncode != 0 or not lines[-1].startswith("{"):
            fail(f"benchmark JVM exited with {r.returncode}")
        for line in lines[:-1]:
            print(line)
        result = json.loads(lines[-1])
        if a.trace:
            run, failed = oracle(dirs["tables"], os.path.join(dirs["jvm"], "entries_out"))
            result["attempted"] += run
            result["failed"] += failed
            result["correct"] = result["correct"] and failed == 0
        print(json.dumps(result))
    finally:
        shutil.rmtree(WORK, ignore_errors=True)


if __name__ == "__main__":
    main()
