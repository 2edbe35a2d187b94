#!/usr/bin/env python3
"""Benchmark of the graft engine: one closed-loop workload per run.

    python3 perfbench/run.py --workload models|queries --seed N \
        --seconds S --trace 0|1

Run from the repository root. The first run compiles the library sources
(src/main/scala) and the benchmark sources (perfbench/scala) with the Scala
compiler shipped in the Spark jars, into .bench_build/perfbench; later runs
reuse the classes while the sources are unchanged. This script generates the
workload's inputs from the seed (inputs.py); the JVM warms up, runs the
timed loop and writes a run record; this script then replays the DuckDB
oracles for the `queries` workload and prints one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json,
with --trace 1 the per-layer metrics. Run records and traces stay in
.bench_build/perfbench/runs for perfbench/compare.py.
"""
import argparse
import glob
import hashlib
import json
import os
import random
import re
import shutil
import subprocess
import sys
import statistics
import time

import inputs

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(".bench_build", "perfbench")
MAIN_CLASS = "org.apache.spark.sql.perfbench.PerfBench"
JVM_TIMEOUT_S = 165
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
STRATA = os.path.join(HERE, "strata.json")
# The `queries` sample: PER_STRATUM queries from each job-count stratum,
# drawn once with SAMPLE_SEED; the run's seed makes the tables.
PER_STRATUM = 3
SAMPLE_SEED = 42
# The pool leaves out queries whose cold call at the census took longer than
# CALL_LIMIT_S (they spend it fitting, which the `models` workload times, and
# one would take half a run) and those whose DuckDB oracle replayed slower than
# ORACLE_LIMIT_S (every timed call's oracle is replayed after the run).
CALL_LIMIT_S = 2.0
ORACLE_LIMIT_S = 2.0
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources(rel):
    files = sorted(glob.glob(os.path.join(ROOT, rel, "**", "*.scala"), recursive=True))
    if not files:
        fail(f"no Scala sources under {rel}")
    return files


def compile_once(name, files, classpath):
    """Compiles `files` into BUILD/name unless the stamp says they are current."""
    digest = hashlib.sha256()
    for f in files:
        digest.update(f.encode())
        with open(f, "rb") as fh:
            digest.update(fh.read())
    digest.update(classpath.encode())
    stamp = digest.hexdigest()
    out = os.path.join(BUILD, name)
    stamp_file = out + ".stamp"
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return out
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    t0 = time.time()
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={out}",
           "-cp", os.path.join(spark_jars(), "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", out]
    if classpath:
        cmd += ["-cp", classpath]
    r = subprocess.run(cmd + files, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        fail(f"compiling {name} failed")
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    print(f"perfbench: compiled {name} ({len(files)} files) in {time.time() - t0:.1f} s", file=sys.stderr)
    return out


def spark_jars():
    """The Spark jars the project builds against (build.sbt's unmanagedBase),
    else $SPARK_HOME/jars."""
    found = []
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.exists(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        found += [m.group(1)] if m else []
    if os.environ.get("SPARK_HOME"):
        found.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    for d in found:
        if os.path.isdir(d):
            return d
    fail("no Spark jars: neither build.sbt's unmanagedBase nor $SPARK_HOME/jars exists")


def build():
    main = compile_once("main", sources("src/main/scala"), "")
    bench = compile_once("bench", sources("perfbench/scala"), main)
    return [bench, main, os.path.join(spark_jars(), "*")]


def run_jvm(classpath, args, out, timeout=JVM_TIMEOUT_S):
    tmp = os.path.join(out, "tmp")
    # every temporary file stays under `out`: JVM, Spark and Hadoop
    cmd = (["java", "-Xmx3g", "-Xms3g", "-XX:+UseParallelGC", "-Xss8m",
            "-XX:ReservedCodeCacheSize=512m", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmp}", f"-Dspark.hadoop.hadoop.tmp.dir={tmp}"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", os.pathsep.join(classpath), MAIN_CLASS] + args + ["--out", out])
    os.makedirs(tmp, exist_ok=True)
    log_path = os.path.join(out, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT)
        try:
            code = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            code = "timeout"
    if code != 0:
        with open(log_path) as fh:
            sys.stderr.write(fh.read()[-6000:])
        fail(f"benchmark JVM exited with {code}")


def normalise(df):
    import numpy as np
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif np.issubdtype(df[c].dtype, np.integer):
            df[c] = df[c].astype("int64")
        elif np.issubdtype(df[c].dtype, np.floating):
            df[c] = df[c].round(9)
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def oracle_failures(result, out):
    """Replays each sampled query's DuckDB oracle on the run's tables and
    compares it with every timed call's rows, as the project's oracle
    comparison does. Returns {oracle call number: reason}."""
    import duckdb
    import pandas as pd
    con = duckdb.connect()
    views(con, os.path.join(out, "data"))
    expected, bad = {}, {}
    for name, sql in result.get("oracles", {}).items():
        try:
            expected[name] = normalise(con.execute(sql).df())
        except Exception as e:  # an oracle that cannot run fails its calls
            expected[name] = f"oracle failed: {e}"
    for c in result.get("oracle_calls", []):
        want = expected[c["name"]]
        files = glob.glob(os.path.join(out, "q", c["dir"], "*.parquet"))
        got = normalise(pd.concat([pd.read_parquet(f) for f in files])) if files else None
        if isinstance(want, str):
            bad[c["call"]] = want
        elif got is None:
            bad[c["call"]] = "no output"
        elif list(got.columns) != list(want.columns):
            bad[c["call"]] = f"schema {list(got.columns)} vs {list(want.columns)}"
        elif len(got) != len(want):
            bad[c["call"]] = f"rows {len(got)} vs {len(want)}"
        elif not got.equals(want):
            col = next(k for k in got.columns if not got[k].equals(want[k]))
            bad[c["call"]] = f"values differ in column {col}"
    return bad


def views(con, data):
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")


def make_inputs(workload, data, seed):
    """Generates the workload's inputs three times into a fresh directory and
    returns the median seconds (the input share of setup_s)."""
    times = []
    for _ in range(3):
        shutil.rmtree(data, ignore_errors=True)
        os.makedirs(data)
        t0 = time.perf_counter()
        if workload == "models":
            inputs.fit_table(os.path.join(data, "fit.parquet"), seed)
        elif workload == "queries":
            inputs.sf_tables(data, seed)
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def census(classpath):
    """Counts every query's Spark jobs on the seed-42 tables, times each
    DuckDB oracle on the same tables, and rewrites strata.json."""
    import threading
    import duckdb
    out = os.path.abspath(os.path.join(BUILD, "work", "census"))
    shutil.rmtree(out, ignore_errors=True)
    raw = os.path.join(out, "census.json")
    inputs.sf_tables(os.path.join(out, "data"), 42)
    run_jvm(classpath, ["--census", raw], out, timeout=3600)
    with open(raw) as fh:
        c = json.load(fh)
    con = duckdb.connect()
    views(con, os.path.join(out, "data"))
    oracle_s = {}
    for name, sql in sorted(c.pop("oracles").items()):
        timer = threading.Timer(10 * ORACLE_LIMIT_S, con.interrupt)
        t0 = time.time()
        timer.start()
        try:
            con.execute(sql).fetchall()
        except Exception as e:
            print(f"perfbench: oracle {name}: {e}", file=sys.stderr)
        finally:
            timer.cancel()
        oracle_s[name] = round(time.time() - t0, 3)
    c["oracle_seconds"] = oracle_s
    with open(STRATA, "w") as fh:
        json.dump(c, fh, indent=1, sort_keys=True)
        fh.write("\n")
    shutil.rmtree(out, ignore_errors=True)


def query_sample():
    """The fixed stratified sample of queries."""
    with open(STRATA) as fh:
        st = json.load(fh)
    pool = {n: j for n, j in st["jobs"].items()
            if st["census_seconds"][n]["s"] <= CALL_LIMIT_S
            and st["oracle_seconds"].get(n, 0.0) <= ORACLE_LIMIT_S}
    strata = [sorted(n for n, j in pool.items() if lo <= j <= hi)
              for lo, hi in ((0, 4), (5, 9), (10, 10 ** 9))]
    pick = random.Random(SAMPLE_SEED)
    return [n for s in strata for n in pick.sample(s, PER_STRATUM)]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=["models", "queries"])
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--census", action="store_true",
                    help="count every query's Spark jobs and rewrite perfbench/strata.json")
    a = ap.parse_args()
    if not a.census and (a.workload is None or a.seed is None or a.seconds is None):
        ap.error("--workload, --seed and --seconds are required")

    classpath = build()
    if a.census:
        census(classpath)
        return
    tag = f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}"
    out = os.path.abspath(os.path.join(BUILD, "work", tag))
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    t0 = time.time()
    try:
        inputs_s = make_inputs(a.workload, os.path.join(out, "data"), a.seed)
        extra = ["--queries", ",".join(query_sample())] if a.workload == "queries" else []
        run_jvm(classpath, ["--workload", a.workload, "--seed", str(a.seed),
                            "--seconds", str(a.seconds), "--trace", str(a.trace),
                            "--inputs-s", repr(inputs_s)] + extra, out)
        t_run = time.time() - t0
        with open(os.path.join(out, "result.json")) as fh:
            result = json.load(fh)
        if a.workload == "queries":
            mismatches = oracle_failures(result, out)
            # every oracle-checked call that completed wrote its rows, in order
            checked = [c for c in result["calls"] if c["ok"] and c["name"] in result["oracles"]]
            assert [c["name"] for c in checked] == [c["name"] for c in result["oracle_calls"]]
            for call, oc in zip(checked, result["oracle_calls"]):
                if oc["call"] in mismatches:
                    call["ok"] = False
                    call["note"] = "oracle mismatch: " + mismatches[oc["call"]]
            result["failed"] = sum(1 for c in result["calls"] if not c["ok"])
        print(f"perfbench: inputs and JVM {t_run:.1f} s, checks {time.time() - t0 - t_run:.1f} s",
              file=sys.stderr)
        failures = [f"{c['name']}: {c['note']}" for c in result["calls"] if not c["ok"]]
        for f in failures:
            print(f"perfbench: FAILED {f}", file=sys.stderr)
        runs = os.path.join(BUILD, "runs")
        os.makedirs(runs, exist_ok=True)
        result["failures"] = failures
        with open(os.path.join(runs, f"{a.workload}-s{a.seed}-t{a.trace}-{int(time.time())}.json"), "w") as fh:
            json.dump(result, fh)
        if a.trace and os.path.exists(os.path.join(out, "spans.json")):
            shutil.copy(os.path.join(out, "spans.json"),
                        os.path.join(runs, f"{a.workload}-s{a.seed}-spans.json"))
        line = {"correct": result["failed"] == 0, "attempted": result["attempted"],
                "failed": result["failed"], "metrics": result["metrics"]}
    finally:
        shutil.rmtree(out, ignore_errors=True)
    print(json.dumps(line))


if __name__ == "__main__":
    main()
