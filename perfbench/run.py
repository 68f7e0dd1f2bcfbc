#!/usr/bin/env python3
"""Benchmark launcher: builds the program, makes the workload's inputs from
the seed, runs the JVM side (perfbench.Main) and prints one JSON result line.

Usage (from the repository root):
  python3 perfbench/run.py --workload availability|pipeline --seed N \
      --seconds S --trace 0|1

--trace 0 prints the end-to-end metrics, --trace 1 the per-layer ones (and
writes the spans to .bench_build/traces/). Everything the run leaves behind
is under .bench_build/. Exits non-zero, without a result line, if the
program cannot be built or run.
"""
import argparse
import hashlib
import json
import os
import random
import shutil
import signal
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BUILD = os.path.join(ROOT, ".bench_build")
SOURCES = ["src/main", "perfbench/src", "perfbench/build.sh"]
RUN_TIMEOUT_S = 170
CORPUS_DOCS = 500
JVM_OPTS = [
    # A fixed, pre-touched heap: page faults happen at start, not while
    # measuring, and peak RSS does not depend on when the heap grew.
    "-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch", "-XX:ReservedCodeCacheSize=1g", "-XX:-UsePerfData",
    "-Duser.timezone=UTC", "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
] + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]
WORDS = ("batch part spark line column order small sort value scan hash slow group fast agg "
         "filter query a big key window row table stream merge data the join vector customer").split()
LANGS = ["en", "en", "en", "zh", "es", "fr", "de"]


def fail(msg):
    print(f"run.py: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit))) if submit else ""
    jars = os.path.join(home, "jars")
    if not os.path.isdir(jars):
        fail("Spark jars not found (set SPARK_HOME)")
    return jars


def source_hash():
    h = hashlib.sha256()
    for top in SOURCES:
        path = os.path.join(ROOT, top)
        if not os.path.exists(path):
            fail(f"missing {top}: run from a full checkout")
        files = [path] if os.path.isfile(path) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile into .bench_build/classes unless the sources are unchanged."""
    stamp = os.path.join(BUILD, "classes.sha256")
    digest = source_hash()
    if os.path.exists(stamp) and open(stamp).read() == digest and \
            os.path.isdir(os.path.join(BUILD, "classes")):
        return
    os.makedirs(BUILD, exist_ok=True)
    with open(os.path.join(BUILD, "build.log"), "w") as log:
        rc = subprocess.call(["bash", "perfbench/build.sh", BUILD], cwd=ROOT,
                             stdout=log, stderr=subprocess.STDOUT)
    if rc != 0:
        fail(f"build failed (see {os.path.join(BUILD, 'build.log')})")
    with open(stamp, "w") as fh:
        fh.write(digest)


def write_corpus(seed, path, n):
    """The `documents` table the pipeline queries read, from the seed."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    rnd = random.Random(seed)
    texts = [" ".join(rnd.choice(WORDS) for _ in range(rnd.randint(10, 100))) for _ in range(n)]
    os.makedirs(path)
    pq.write_table(pa.table({
        "doc_id": pa.array(range(n), pa.int64()),
        "text": texts,
        "lang": [rnd.choice(LANGS) for _ in texts],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }), os.path.join(path, "documents.parquet"))


def oracle_failures(corpus, results):
    """Compare each pipeline result with its oracle SQL run by DuckDB."""
    import glob
    import duckdb
    import pandas as pd
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    from check_correctness import canon
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{corpus}/documents.parquet'")
    failures = []
    for name, sql in json.load(open(os.path.join(results, "oracle_sql.json"))).items():
        files = sorted(glob.glob(os.path.join(results, name, "*.parquet")))
        got = canon(pd.concat([pd.read_parquet(f) for f in files]))
        want = canon(con.execute(sql).df())
        if got[:3] != want[:3]:
            failures.append(f"{name}: rows/columns/hash {got[:3]} != oracle {want[:3]}")
    return failures


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["availability", "pipeline"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    contract = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    metrics_wanted = contract["per_layer" if a.trace else "end_to_end"]
    jars = spark_jars()
    build()

    start = time.time()
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    work = os.path.join(BUILD, "work", tag)
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(work, d))
    out = os.path.join(work, "result.json")
    cmd = ["java"] + JVM_OPTS + [
        f"-Djava.io.tmpdir={work}/tmp", f"-Dspark.local.dir={work}/spark-local",
        f"-Dspark.sql.warehouse.dir={work}/warehouse",
        "-cp", f"{BUILD}/classes:{jars}/*", "perfbench.Main",
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--work", work, "--out", out]
    if a.trace:
        cmd += ["--spans", os.path.join(BUILD, "traces", tag + ".jsonl")]
    if a.workload == "pipeline":
        corpus = os.path.join(work, "corpus")
        write_corpus(a.seed, corpus, CORPUS_DOCS)
        cmd += ["--corpus", corpus]
    # Two malloc arenas: with one per thread, native memory, and so peak
    # RSS, depends on which threads happened to allocate.
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
               SPARK_LOCAL_DIRS=f"{work}/spark-local", MALLOC_ARENA_MAX="2")
    os.makedirs(os.path.join(BUILD, "logs"), exist_ok=True)
    try:
        with open(os.path.join(BUILD, "logs", tag + ".log"), "w") as log:
            proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=log, stderr=subprocess.STDOUT,
                                    start_new_session=True)
            deadline = start + RUN_TIMEOUT_S
            while True:
                pid, status, usage = os.wait4(proc.pid, os.WNOHANG)
                if pid:
                    break
                if time.time() > deadline:
                    os.killpg(proc.pid, signal.SIGKILL)
                    os.wait4(proc.pid, 0)
                    fail(f"{a.workload} exceeded {RUN_TIMEOUT_S} s (log: {log.name})")
                time.sleep(0.05)
        if not os.WIFEXITED(status) or os.WEXITSTATUS(status) != 0 or not os.path.exists(out):
            fail(f"JVM failed with status {status} (log: {log.name})")
        res = json.load(open(out))
        failures = res["failures"]
        attempted, failed = res["attempted"], res["failed"]
        if a.workload == "pipeline":
            bad = oracle_failures(corpus, os.path.join(work, "results"))
            failures += bad
            failed += len(bad)
        metrics = dict(res["metrics"])
        if not a.trace:
            metrics["setup_s"] = res["setup_end_ms"] / 1000 - start
            metrics["peak_rss_mb"] = usage.ru_maxrss / 1024
    finally:
        shutil.rmtree(work, ignore_errors=True)

    missing = [m["name"] for m in metrics_wanted if metrics.get(m["name"]) is None]
    if missing:
        fail(f"no value for {missing}")
    for f in failures:
        print(f"FAILED {f}", file=sys.stderr)
    print(json.dumps({
        "correct": failed == 0 and attempted > 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]}
                    for m in metrics_wanted},
    }))


if __name__ == "__main__":
    main()
