#!/usr/bin/env python3
"""graft's benchmark: one workload, one seed, one JSON line of metrics.

Usage (from the repository root):
  python3 graftbench/run.py --workload olap|corpus|table_churn --seed N \\
      --seconds S --trace 0|1 [--sf 0.1]

The first run in a checkout builds graft plus the harness (sbt, into
$CARGO_TARGET_DIR or .bench_build) and generates the input tables; later
runs reuse both. Each run launches one JVM with a local[nproc] Spark session,
checks the answers against DuckDB and prints, as the last line of stdout,
{"correct", "attempted", "failed", "metrics"}: the end-to-end metrics with
--trace 0, the per-layer metrics with --trace 1. See README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import oracle  # noqa: E402
import stats  # noqa: E402

WORKLOADS = ("olap", "corpus", "table_churn")
JVM_TIMEOUT_S = 150
# the read workloads warm up on these small tables: the same queries compile
# the same generated code, at a fraction of the cost
WARM_SF = "0.001"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def fail(msg):
    print(f"[graftbench] {msg}", file=sys.stderr)
    sys.exit(2)


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    return os.path.abspath(os.path.join(ROOT, d))


def sources_digest():
    """Digest of everything the build compiles, so a changed tree rebuilds."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(p.encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not os.path.isdir(jars):
        fail("no Spark installation found (set SPARK_HOME)")
    return jars


def build(bdir):
    """Compile graft and the harness once per source tree; return the
    runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail(f"graft sources not found under {ROOT}")
    digest = sources_digest()
    cp_file = os.path.join(bdir, "classpath.txt")
    stamp = os.path.join(bdir, "classpath.digest")
    if os.path.exists(cp_file) and os.path.exists(stamp) and \
            open(stamp).read() == digest:
        return open(cp_file).read().strip()
    os.makedirs(bdir, exist_ok=True)
    env = dict(os.environ, GRAFTBENCH_BUILD=bdir,
               GRAFTBENCH_SPARK_JARS=spark_jars(), COURSIER_MODE="offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true",
           "-Dsbt.server.autostart=false", "compile",
           "export Runtime/fullClasspath"]
    log = os.path.join(bdir, "build.log")
    with open(log, "w") as out:
        r = subprocess.run(cmd, cwd=HERE, env=env, stdout=out,
                           stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
    lines = open(log).read().splitlines()
    if r.returncode != 0:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail(f"build failed (log: {log})")
    cp = [ln for ln in lines if ln.startswith("/") and ".jar" in ln][-1]
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp, "w") as f:
        f.write(digest)
    return cp


def data(bdir, sf):
    """The generated tables at scale `sf`, made once per generator
    version."""
    gen = os.path.join(HERE, "datagen.py")
    with open(gen, "rb") as f:
        version = hashlib.sha256(f.read()).hexdigest()[:12]
    d = os.path.join(bdir, "data", f"sf{sf}-{version}")
    if not os.path.isdir(d):
        subprocess.run([sys.executable, gen, d, str(sf)], check=True)
    return d


def cores():
    return len(os.sched_getaffinity(0))


def run_jvm(cp, args, data_dir, warm_dir, run_dir, launched_ms):
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    cmd = ["java", "-Xmx3g", "-XX:+UseG1GC",
           f"-Djava.io.tmpdir={tmp}",
           f"-Dspark.local.dir={os.path.join(run_dir, 'spark-local')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graft.bench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--data", data_dir, "--warm-data", warm_dir, "--out", run_dir,
            "--cores", str(cores())]
    log = os.path.join(run_dir, "jvm.log")
    with open(log, "w") as out:
        p = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, cwd=run_dir)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            rc = "timeout"
    if rc != 0:
        sys.stderr.write(open(log).read()[-6000:])
        fail(f"benchmark JVM exited with {rc}")
    with open(os.path.join(run_dir, "raw.json")) as f:
        raw = json.load(f)
    raw["launched_ms"] = launched_ms
    return raw


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", default="0.1")
    args = ap.parse_args()

    bdir = build_dir()
    cp = build(bdir)
    data_dir = data(bdir, args.sf)
    warm_dir = data(bdir, WARM_SF)
    run_dir = os.path.join(bdir, "runs", str(os.getpid()))
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        # set-up time counts from here: the build and the input tables are
        # per-checkout, like installing the program
        raw = run_jvm(cp, args, data_dir, warm_dir, run_dir,
                      time.time() * 1000)
        problems = oracle.check(args.workload, data_dir, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    for p in problems:
        print(f"[graftbench] WRONG: {p}", file=sys.stderr)
    result = stats.result(raw, args.trace == 1, problems)
    print(f"[graftbench] workload={args.workload} seed={args.seed} "
          f"ops={result['attempted']} wrong={len(problems)}")
    for line in stats.report(raw, result, args.trace == 1):
        print(line)
    print(json.dumps(result))
    if not result["correct"]:
        sys.exit(1)


if __name__ == "__main__":
    main()
