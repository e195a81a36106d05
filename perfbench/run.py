#!/usr/bin/env python3
"""Layered extraction benchmark runner.

Builds the program and the benchmark harness from source (scalac, against
the Spark jars of the installed Spark), runs one workload in a fresh JVM,
checks its outputs, and prints one JSON result line on stdout:

    python3 perfbench/run.py --workload extract_scan --seed 1 --seconds 3 --trace 0

Run from the repository root. Build output and scratch files go under
.bench_build/ at the root; the scratch directory of a run is removed when it
ends. See perfbench/README.md for the workloads and metrics.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("extract_scan", "mega_skew", "index_queries")
JVM_TIMEOUT_S = 170
# JDK 17 module opens that spark-submit normally injects (the build's
# javaOptions carry the same list).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """The jars directory of the installed Spark (SPARK_HOME, else pyspark's)."""
    cands = []
    if os.environ.get("SPARK_HOME"):
        cands.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    try:
        import pyspark
        cands.append(os.path.join(os.path.dirname(pyspark.__file__), "jars"))
    except ImportError:
        pass
    for c in cands:
        if glob.glob(os.path.join(c, "scala-compiler-*.jar")) and glob.glob(os.path.join(c, "spark-sql_*.jar")):
            return c
    fail("no Spark installation with a Scala compiler found (set SPARK_HOME)")


def sources():
    prog = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"), recursive=True))
    harness = sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))
    if not prog:
        fail(f"no program sources under {os.path.join(ROOT, 'src', 'main', 'scala')}")
    if not harness:
        fail("no harness sources")
    return prog + harness


def build(jars):
    """Compiles program + harness once per source state; returns the class dir."""
    srcs = sources()
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    out = os.path.join(BUILD, "classes-" + h.hexdigest()[:16])
    if os.path.isdir(out):
        return out
    os.makedirs(BUILD, exist_ok=True)
    tmp = out + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(BUILD, f"sources{os.getpid()}.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    cp = os.path.join(jars, "*")
    t0 = time.time()
    r = subprocess.run(["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
                        "-nowarn", "-d", tmp, "-classpath", cp, "@" + argfile],
                       stdout=sys.stderr, stderr=sys.stderr)
    os.remove(argfile)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        fail("compile failed")
    os.rename(tmp, out)
    print(f"perfbench: built in {time.time() - t0:.1f}s", file=sys.stderr)
    return out


def nproc():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def compute_oracles(ready, work):
    """Runs each index query's DuckDB oracle over the generated tables;
    returns {query: sorted rows as strings, or None if the oracle failed}."""
    import duckdb
    con = duckdb.connect()
    con.execute(f"SET temp_directory='{os.path.join(work, 'duckdb_tmp')}'")
    for t in ("documents", "embeddings", "events"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{ready['data']}/{t}.parquet/*.parquet')")
    out = {}
    for name, sql in ready["oracle"].items():
        try:
            out[name] = sorted(map(str, con.execute(sql).fetchall()))
        except Exception as e:  # an oracle error is a failed check, not a crash
            print(f"perfbench: oracle {name}: {e}", file=sys.stderr)
            out[name] = None
    con.close()
    return out


def run_jvm(classes, jars, args, work, tiny=False):
    """Runs the harness JVM; while it runs, answers its oracle.ready with the
    DuckDB oracles (index_queries). Returns (result, oracles or None)."""
    out = os.path.join(work, "result.json")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # A fixed heap and young generation: with an adaptive G1 heap, peak RSS
    # swung 1.1-1.6 GB between runs of one workload; fixed, it holds within 2%.
    cmd = ["java", "-Xms3g", "-Xmx3g", "-Xmn768m", "-Xss8m", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classes + os.pathsep + os.path.join(jars, "*"), "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", work, "--nproc", str(nproc()), "--out", out,
            "--tiny", "1" if tiny else "0"]
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    ready = os.path.join(work, "oracle.ready")
    oracles = None
    deadline = time.time() + JVM_TIMEOUT_S
    p = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr, cwd=work, env=env)
    try:
        while p.poll() is None:
            if oracles is None and os.path.exists(ready):
                with open(ready) as f:
                    oracles = compute_oracles(json.load(f), work)
                open(os.path.join(work, "oracle.done"), "w").close()
            if time.time() > deadline:
                fail(f"benchmark JVM exceeded {JVM_TIMEOUT_S}s")
            time.sleep(0.05)
    finally:
        if p.poll() is None:
            p.kill()
        p.wait()
    if p.returncode != 0 or not os.path.exists(out):
        fail(f"benchmark JVM exited with {p.returncode}")
    with open(out) as f:
        return json.load(f), oracles


def oracle_check(res, oracles):
    """Compares each index query's result with its oracle rows; a query
    whose output differs counts as failed on every execution, less those
    the harness already counted as failed (they threw)."""
    import duckdb
    checks = res["checks"]
    con = duckdb.connect()
    execs = int(checks.get("executions", "1"))
    bad = []
    for key, path in checks.items():
        if not key.startswith("result."):
            continue
        name = key[len("result."):]
        files = glob.glob(os.path.join(path, "*.parquet"))
        mine = sorted(map(str, con.execute(f"SELECT * FROM read_parquet({json.dumps(files)})").fetchall())) \
            if files else None
        if oracles is None or oracles.get(name) is None or mine != oracles[name]:
            bad.append(name)
    for name in bad:
        print(f"perfbench: query {name} differs from its oracle", file=sys.stderr)
    res["failed"] += sum(execs - int(checks.get(f"failed.{name}", "0")) for name in bad)
    if "ok_frac" in res["metrics"]:
        res["metrics"]["ok_frac"]["value"] = 1.0 - res["failed"] / res["attempted"]
    return res


def run(args, tiny=False):
    jars = spark_jars()
    classes = build(jars)
    work = os.path.join(BUILD, "work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        t0 = time.time()
        res, oracles = run_jvm(classes, jars, args, work, tiny)
        t1 = time.time()
        if args.workload == "index_queries":
            res = oracle_check(res, oracles)
        print(f"perfbench: jvm {t1 - t0:.1f}s, checks {time.time() - t1:.1f}s", file=sys.stderr)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    res["correct"] = res["failed"] == 0
    return {k: res[k] for k in ("correct", "attempted", "failed", "metrics")}


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv=None):
    args = parse_args(argv)
    if args.seconds < 1:
        fail("--seconds must be at least 1")
    print(json.dumps(run(args)))


if __name__ == "__main__":
    main()
