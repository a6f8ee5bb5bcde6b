#!/usr/bin/env python3
"""Benchmark of the graft engine's three query surfaces.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Builds the engine together with the harness in perfbench/ (sbt, offline;
once per source state), generates the seeded sf0.1 tables, runs the
workload in a fresh JVM against a fresh artifact root, checks its outputs,
and prints one JSON line last: with --trace 0 the end-to-end metrics of
BENCHMARK.json, with --trace 1 its per-layer metrics (spans go to
.bench_build/traces/). A traced run then runs the same seed untraced, time
permitting, and reports the difference as its tracing overhead. Workloads and metrics are
described in perfbench/README.md.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ["cdc_ingest", "dedup_batch"]
# every JVM of one invocation must end within this many seconds of its start
DEADLINE_S = 170
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]

sys.path.insert(0, HERE)


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources_digest():
    """Digest of everything the build compiles, to rebuild on any change."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project")]
    for r in roots:
        files = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r)
            if "target" not in d.split(os.sep) for f in fs)
        for f in files:
            h.update(f.encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def spark_home():
    """$SPARK_HOME, else the first Spark install whose spark-submit is on
    the PATH and has its jars next to it."""
    if os.environ.get("SPARK_HOME"):
        return os.environ["SPARK_HOME"]
    for d in os.environ.get("PATH", "").split(os.pathsep):
        submit = os.path.join(d, "spark-submit")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
        if os.path.isfile(submit) and glob.glob(os.path.join(home, "jars", "spark-core_*.jar")):
            return home
    fail("Spark not found: set SPARK_HOME or put spark-submit on the PATH")


def build():
    """Compile engine + harness; returns the runtime classpath."""
    stamp = os.path.join(BUILD, "classpath.txt")
    digest = sources_digest()
    if os.path.exists(stamp):
        with open(stamp) as fh:
            key, cp = fh.read().split("\n", 1)
        if key == digest:
            return cp.strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env["SPARK_HOME"] = spark_home()
    proc = subprocess.run(
        ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdin=subprocess.DEVNULL, capture_output=True,
        text=True, timeout=800)
    lines = [l for l in proc.stdout.splitlines() if ".jar" in l and ":" in l]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stdout[-4000:] + proc.stderr[-4000:])
        fail("build failed")
    os.makedirs(BUILD, exist_ok=True)
    with open(stamp, "w") as fh:
        fh.write(digest + "\n" + lines[-1].strip())
    return lines[-1].strip()


def run_jvm(cp, args, work, deadline):
    """One harness JVM, stopped at `deadline` (a time.time() value); its
    stdout passes through, stderr goes to a log."""
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    env["GRAFT_ARTIFACT_DIR"] = os.path.join(work, "artifacts")
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = (["java", "-Xmx3g", f"-Djava.io.tmpdir={tmp}"] +
           [f"--add-opens={p}=ALL-UNNAMED" for p in JVM_OPENS] +
           ["-cp", cp, "perfbench.Main"] + args)
    log_path = os.path.join(BUILD, f"last-{args[1]}.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, env=env, cwd=work, stdin=subprocess.DEVNULL,
                                stderr=log, start_new_session=True)

        def stop(signum, _frame):
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            fail(f"stopped by signal {signum}")
        for sig in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
            signal.signal(sig, stop)
        try:
            code = proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            raise TimeoutError(f"run exceeded {DEADLINE_S} s (log: {log_path})")
    if code != 0:
        with open(log_path) as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        fail(f"harness exited with {code} (log: {log_path})")


def canon_rows(df):
    """Rows of a pandas frame, columns sorted by name, rows sorted."""
    df = df[sorted(df.columns)]
    df = df.sort_values(by=list(df.columns)).reset_index(drop=True)
    return [tuple("NaN" if isinstance(v, float) and math.isnan(v) else repr(v)
                  for v in row) for row in df.itertuples(index=False)]


def answer_diff(oracle, result):
    """Why the pandas frame `result` is not the oracle's answer, or None.
    Columns compare by name in any order, rows as a multiset."""
    if sorted(c.lower() for c in oracle.columns) != sorted(c.lower() for c in result.columns):
        return "columns differ"
    if len(oracle) != len(result) or canon_rows(oracle) != canon_rows(result):
        return f"{len(result)} rows, oracle {len(oracle)}, values differ"
    return None


def oracle_mismatches(work, data):
    """dedup_batch results, cold and warm, that differ from their DuckDB
    oracle answer."""
    import duckdb
    con = duckdb.connect()
    for f in glob.glob(os.path.join(data, "*.parquet")):
        name = os.path.basename(f)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{f}'")
    bad = []
    for path in sorted(glob.glob(os.path.join(work, "results", "cold", "*.sql"))):
        q = os.path.basename(path)[:-len(".sql")]
        with open(path) as fh:
            sql = fh.read()
        try:
            o = con.sql(sql).df()
        except Exception as e:  # an oracle that cannot run
            bad.append(f"{q}: oracle: {e}")
            continue
        for label in ("cold", "warm"):
            files = glob.glob(os.path.join(work, "results", label, q, "*.parquet"))
            try:
                s = con.sql(f"SELECT * FROM read_parquet({files!r})").df()
            except Exception as e:  # a result that cannot be read
                bad.append(f"{q} ({label}): {e}")
                continue
            diff = answer_diff(o, s)
            if diff:
                bad.append(f"{q} ({label}): {diff}")
    return bad


def run_once(cp, a, trace, data, deadline):
    """One harness run of the workload on `data`, its outputs checked.
    Returns the run's raw figures and its failure count."""
    work = os.path.join(BUILD, "runs", f"{a.workload}-{a.seed}-{os.getpid()}-{trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        print(f"perfbench {a.workload} seed={a.seed} seconds={a.seconds} "
              f"trace={trace} cores={a.cores}")
        sys.stdout.flush()
        run_jvm(cp, ["--workload", a.workload, "--seed", str(a.seed),
                     "--seconds", str(a.seconds), "--trace", str(trace),
                     "--work", work, "--data", data, "--cores", str(a.cores)],
                work, deadline)
        with open(os.path.join(work, "result.json")) as fh:
            res = json.load(fh)
        failed = res["failed"]
        if a.workload == "dedup_batch":
            t = time.time()
            bad = oracle_mismatches(work, data)
            print(f"  oracle check {time.time() - t:.1f} s")
            for b in bad:
                print(f"  oracle mismatch {b}")
            failed += len(bad)
        if trace:
            traces = os.path.join(BUILD, "traces")
            os.makedirs(traces, exist_ok=True)
            shutil.copy(os.path.join(work, "trace.jsonl"),
                        os.path.join(traces, f"{a.workload}-{a.seed}.jsonl"))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return res, failed


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--cores", type=int, default=os.cpu_count(),
                    help="local[N] of the session (default: all cores)")
    a = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "src", "main", "scala", "graft", "Graft.scala")):
        fail("engine sources (src/main/scala/graft) not found; run from a checkout root")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    cp = build()
    deadline = time.time() + DEADLINE_S

    import datagen
    data = os.path.join(BUILD, "runs", f"data-{a.seed}-{os.getpid()}")
    shutil.rmtree(data, ignore_errors=True)
    try:
        datagen.generate(data, a.seed)
        try:
            res, failed = run_once(cp, a, a.trace, data, deadline)
        except TimeoutError as e:
            fail(str(e))
        attempted = res["attempted"]
        # the untraced twin gets what is left of the time limit; if it does
        # not finish in it, only the overhead goes unmeasured
        plain = None
        if a.trace:
            try:
                plain, plain_failed = run_once(cp, a, 0, data, deadline)
            except TimeoutError:
                print("  the untraced twin ran out of time: tracing overhead not measured")
        if plain:
            failed += plain_failed
            attempted += plain["attempted"]
            for k, v in plain["e2e"].items():
                if v is not None and res["e2e"].get(k) is not None:
                    res["layer"][f"trace.overhead_{k}"] = res["e2e"][k] - v
    finally:
        shutil.rmtree(data, ignore_errors=True)

    source = res["layer"] if a.trace else res["e2e"]
    metrics, absent = {}, []
    for m in spec["per_layer" if a.trace else "end_to_end"]:
        v = source.get(m["name"])
        if v is None:
            if not a.trace:
                fail(f"end-to-end metric {m['name']} was not measured")
            absent.append(m["name"])
            v = 0.0
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    if absent:
        print(f"  layers not exercised by {a.workload} (reported as 0): "
              + ", ".join(absent))
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
