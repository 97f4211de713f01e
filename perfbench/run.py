#!/usr/bin/env python3
"""graft benchmark: one seeded workload, one closed-loop client.

Usage (from the root of a checkout):
    python3 perfbench/run.py --workload dashboard --seed 1 --seconds 10 --trace 0

Builds the benchmark JVM from the checkout's sources when they changed
(sbt, offline), generates the workload's inputs from --seed, runs the
workload against graft's public functions for --seconds, checks the
outputs, and prints as its last line one JSON object:
    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
--trace 0 reports the end-to-end metrics, --trace 1 the per-layer
metrics of a traced run, whose spans land in perfbench/out/.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402

WORKLOADS = ("dashboard", "corpus_build")
GEN_REPS = 3
HEAP = "3g"
RUN_LIMIT_S = 170
# Class-data-sharing archive of the classes a run loads: the first run
# after a build writes it at exit, later runs map it and start faster.
CDS_ARCHIVE = os.path.join(HERE, "target", "perfbench.jsa")
BUILD_LIMIT_S = 850
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def die(msg, code=2):
    log(msg)
    sys.exit(code)


# --- build ---------------------------------------------------------------

def _build_inputs():
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")):
        for d, _, fs in os.walk(top):
            files += [os.path.join(d, f) for f in fs]
    return sorted(files)


def _stamp():
    h = hashlib.sha256(HERE.encode())  # the stamp records absolute paths
    for f in _build_inputs():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile graft plus the harness; returns the runtime classpath."""
    if not os.path.isfile(os.path.join(ROOT, "src", "main", "scala", "graft",
                                       "SparkEntry.scala")):
        die("graft's sources (src/main/scala) are not in this checkout")
    if not os.environ.get("SPARK_HOME"):
        die("SPARK_HOME is not set")
    stamp_file = os.path.join(HERE, "target", "perfbench.stamp")
    stamp = _stamp()
    if os.path.isfile(stamp_file):
        with open(stamp_file) as f:
            old, cp = f.read().split("\n", 1)
        if old == stamp:
            return cp.strip()
    log("building (sbt compile)")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    proc = subprocess.Popen(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "printClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=BUILD_LIMIT_S)
    except subprocess.TimeoutExpired:
        _kill(proc)
        die("build timed out")
    if proc.returncode != 0:
        sys.stderr.write(out[-4000:])
        die("build failed")
    cps = [ln[len("CLASSPATH="):] for ln in out.splitlines() if ln.startswith("CLASSPATH=")]
    if not cps:
        die("build printed no classpath")
    os.makedirs(os.path.dirname(stamp_file), exist_ok=True)
    if os.path.exists(CDS_ARCHIVE):
        os.remove(CDS_ARCHIVE)  # it records the old jar
    with open(stamp_file, "w") as f:
        f.write(stamp + "\n" + cps[-1] + "\n")
    return cps[-1]


def _kill(proc):
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()


# --- inputs --------------------------------------------------------------

def dir_digest(d):
    h = hashlib.sha256()
    for f in sorted(os.listdir(d)):
        h.update(f.encode())
        with open(os.path.join(d, f), "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def make_inputs(workload, seed, work):
    """Generate the inputs GEN_REPS times (set-up is timed as a median)
    and require identical bytes every time. Returns (dir, median s, ok).
    """
    times, digests = [], []
    for i in range(GEN_REPS):
        d = os.path.join(work, f"input{i}")
        t0 = time.perf_counter()
        gen.write_inputs(workload, seed, d)
        times.append(time.perf_counter() - t0)
        digests.append(dir_digest(d))
        if i:
            shutil.rmtree(d)
    return os.path.join(work, "input0"), statistics.median(times), len(set(digests)) == 1


# --- DuckDB oracle replay ------------------------------------------------

def _canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    return df.sort_values(by=list(df.columns), ignore_index=True)


def _cell_eq(a, b):
    if a is None and b is None:
        return True
    a_f, b_f = isinstance(a, float), isinstance(b, float)
    if a_f != b_f:
        return False
    if a_f:
        return (math.isnan(a) and math.isnan(b)) or a == b
    return str(a) == str(b)


def oracle_replay(input_dir, check_dir, checks):
    """Compare each dumped result with DuckDB's run of its oracle SQL over
    the same input parquet: column names, dtypes and every value, after
    sorting columns by name and rows by all columns. Returns failures.
    """
    import duckdb
    con = duckdb.connect()
    for p in glob.glob(os.path.join(input_dir, "*.parquet")):
        name = os.path.basename(p)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')")
    failures = []
    for c in checks:
        kind = c["kind"]
        try:
            exp = _canon(con.execute(c["sql"]).fetchdf())
            got = _canon(con.execute(
                f"SELECT * FROM read_parquet('{check_dir}/{kind}/*.parquet')").fetchdf())
        except Exception as e:  # noqa: BLE001
            failures.append(f"oracle {kind}: {e}")
            continue
        if list(exp.columns) != list(got.columns):
            failures.append(f"oracle {kind}: columns {list(exp.columns)} != {list(got.columns)}")
        elif any(str(exp[k].dtype) != str(got[k].dtype) for k in exp.columns):
            failures.append(f"oracle {kind}: dtypes differ")
        elif len(exp) != len(got):
            failures.append(f"oracle {kind}: {len(exp)} rows expected, {len(got)} got")
        elif not all(_cell_eq(a, b) for k in exp.columns
                     for a, b in zip(exp[k].tolist(), got[k].tolist())):
            failures.append(f"oracle {kind}: values differ")
    return failures


# --- run -----------------------------------------------------------------

def run_jvm(cp, workload, seed, seconds, trace, work, input_dir, deadline):
    out = os.path.join(work, "result.json")
    os.makedirs(os.path.join(HERE, "out"), exist_ok=True)
    spans = os.path.join(HERE, "out", f"{workload}-seed{seed}-spans.json")
    for d in ("tmp", "spark-local", "scratch"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cds = "SharedArchiveFile" if os.path.isfile(CDS_ARCHIVE) else "ArchiveClassesAtExit"
    cmd = [java, f"-Xmx{HEAP}", f"-XX:{cds}={CDS_ARCHIVE}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [
        f"-Djava.io.tmpdir={work}/tmp",
        f"-Dspark.local.dir={work}/spark-local",
        f"-Dspark.sql.warehouse.dir={work}/warehouse",
        "-Dspark.ui.showConsoleProgress=false",
        "-cp", cp, "perfbench.Main",
        "--workload", workload, "--input", input_dir,
        "--scratch", os.path.join(work, "scratch"),
        "--seconds", str(seconds), "--trace", str(trace),
        "--out", out, "--spans", spans,
        "--copies", str(gen.CORPUS_MULT), "--copy-offset", str(gen.COPY_OFFSET),
    ]
    env = dict(os.environ)
    env["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    env.pop("SPARK_GRAFT_PROFILE", None)
    with open(os.path.join(work, "jvm.log"), "w") as logf:
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=logf,
                                stderr=subprocess.STDOUT, start_new_session=True)
        try:
            proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            _kill(proc)
            die("benchmark JVM timed out", 1)
    if proc.returncode != 0 or not os.path.isfile(out):
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write(f.read()[-6000:])
        die(f"benchmark JVM failed (exit {proc.returncode})", 1)
    with open(out) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    cp = build()
    deadline = time.monotonic() + RUN_LIMIT_S
    work = os.path.join(HERE, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        input_dir, gen_s, same_bytes = make_inputs(a.workload, a.seed, work)
        input_rows = {os.path.basename(p)[:-len(".parquet")]:
                      pq.ParquetFile(p).metadata.num_rows
                      for p in sorted(glob.glob(os.path.join(input_dir, "*.parquet")))}
        res = run_jvm(cp, a.workload, a.seed, a.seconds, a.trace, work,
                      input_dir, deadline)
        failures = list(res["failures"])
        attempted = res["attempted"] + 1 + len(res["oracle_checks"])
        if not same_bytes:
            failures.append("input generation is not deterministic")
        failures += oracle_replay(input_dir, os.path.join(work, "scratch", "check"),
                                  res["oracle_checks"])
    finally:
        shutil.rmtree(work, ignore_errors=True)

    metrics = res["metrics"]
    if not a.trace:
        # session start + input generation + prebuild + warm-up
        metrics["setup_s"] = {"value": res["session_s"] + gen_s + res["prebuild_s"]
                              + res["warmup_s"], "unit": "s"}
    context = dict(res["context"], workload=a.workload, seed=a.seed,
                   input_rows=input_rows,
                   seconds=a.seconds, trace=a.trace, input_gen_s=gen_s,
                   session_s=res["session_s"])
    record = {"context": context, "failures": failures}
    os.makedirs(os.path.join(HERE, "out"), exist_ok=True)
    with open(os.path.join(HERE, "out", f"{a.workload}-seed{a.seed}-trace{a.trace}.json"),
              "w") as f:
        json.dump(dict(record, metrics=metrics), f, indent=1, sort_keys=True)
    for msg in failures:
        log(f"FAILED: {msg}")
    print(json.dumps(record, sort_keys=True))
    print(json.dumps({"correct": not failures, "attempted": attempted,
                      "failed": len(failures), "metrics": metrics}, sort_keys=True))


if __name__ == "__main__":
    main()
