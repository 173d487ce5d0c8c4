#!/usr/bin/env python3
"""Run one graft benchmark workload from the root of a graft checkout.

    python3 perfbench/run.py --workload ingest|curate --seed N \
        --seconds S --trace 0|1

Builds graft (src/main) and the harness (perfbench/src) from source with the
Scala compiler that ships in Spark's jars ($SPARK_HOME/jars, else the
directory build.sbt compiles against), caching the classes under
.bench_build/ by a digest of their sources. Runs the workload in one JVM on
Spark local[N], N <= 4 and <= the host's cores, with inputs generated from
the seed under .bench_work/, which is removed afterwards. Prints the
generated input's properties, then, as the last line, the result object
{"correct", "attempted", "failed", "metrics"}. Trace files of --trace 1
runs go to .bench_out/.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))

def spark_jars():
    """Spark's jars: $SPARK_HOME/jars, else the directory build.sbt compiles
    against (its `unmanagedBase`)."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    try:
        with open("build.sbt") as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    except OSError:
        m = None
    if not m:
        fail("set SPARK_HOME: build.sbt names no Spark jar directory")
    return m.group(1)

BUILD_DIR = ".bench_build"
WORK_DIR = ".bench_work"
OUT_DIR = ".bench_out"
JVM_TIMEOUT_S = 170
HEAP = "3g"
# what spark-submit would pass on JDK 17 (JavaModuleOptions)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"graftbench: {msg}", file=sys.stderr)
    sys.exit(code)


def scala_jars():
    jars = [glob.glob(os.path.join(spark_jars(), f"scala-{n}-2.13*.jar"))
            for n in ("compiler", "library", "reflect")]
    if not all(jars):
        fail(f"no Scala 2.13 compiler in {spark_jars()}")
    return [j[0] for j in jars]


def digest(paths, extra=""):
    h = hashlib.sha256(extra.encode())
    for p in paths:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def compile_scala(srcs, classpath, dest):
    """Compile into a temporary directory and publish it with a rename, so
    an interrupted build never leaves a half-filled cache entry."""
    tmp = dest + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", ":".join(scala_jars()),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", tmp,
           "-classpath", classpath] + srcs
    if subprocess.run(cmd).returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        fail(f"compilation into {dest} failed", 3)
    os.rename(tmp, dest)


def build(root):
    """Return the runtime classpath, compiling graft and the harness if
    their sources changed."""
    main_src = os.path.join(root, "src", "main", "scala")
    if not os.path.isfile(os.path.join(root, "build.sbt")) or not os.path.isdir(main_src):
        fail("run from the root of a graft checkout (no build.sbt or src/main/scala here)")
    graft_srcs = sorted(glob.glob(os.path.join(main_src, "**", "*.scala"), recursive=True))
    res_dir = os.path.join(root, "src", "main", "resources")
    resources = sorted(p for p in glob.glob(os.path.join(res_dir, "**"), recursive=True)
                       if os.path.isfile(p))
    bench_srcs = sorted(glob.glob(os.path.join(HERE, "src", "*.scala")))
    if not graft_srcs or not bench_srcs:
        fail("no Scala sources to build")
    jars = os.path.join(spark_jars(), "*")
    compiler = os.path.basename(scala_jars()[0])
    graft_dir = os.path.join(root, BUILD_DIR, "graft-" + digest(graft_srcs + resources, compiler))
    if not os.path.isdir(graft_dir):
        compile_scala(graft_srcs, jars, graft_dir)
        for p in resources:
            dst = os.path.join(graft_dir, os.path.relpath(p, res_dir))
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            shutil.copyfile(p, dst)
    bench_dir = os.path.join(root, BUILD_DIR,
                             "bench-" + digest(bench_srcs, os.path.basename(graft_dir)))
    if not os.path.isdir(bench_dir):
        compile_scala(bench_srcs, f"{graft_dir}:{jars}", bench_dir)
    return f"{bench_dir}:{graft_dir}:{jars}"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["ingest", "curate"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0, choices=[0, 1])
    a = ap.parse_args()
    root = os.getcwd()
    classpath = build(root)
    work = os.path.join(root, WORK_DIR, f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    # -XX:-UsePerfData and the temp directory keep the JVM's files inside
    # the checkout
    cmd = (["java", f"-Xmx{HEAP}", "-Xss8m", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classpath, "graftbench.Main",
              "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", str(a.trace), "--work", work,
              "--spec", os.path.join(root, "BENCHMARK.json"),
              "--out", os.path.join(root, OUT_DIR)])
    try:
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail(f"workload {a.workload} exceeded {JVM_TIMEOUT_S} s", 4)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = proc.stdout.splitlines()
    inp = [l for l in lines if l.startswith("GRAFTBENCH-INPUT ")]
    res = [l for l in lines if l.startswith("GRAFTBENCH-RESULT ")]
    if not res:
        sys.stderr.write(proc.stdout[-4000:])
        fail(f"workload {a.workload} printed no result (exit {proc.returncode})", 5)
    if inp:
        print(json.dumps({"input": json.loads(inp[-1].split(" ", 1)[1])}, sort_keys=True))
    result = json.loads(res[-1].split(" ", 1)[1])
    print(json.dumps(result, sort_keys=True))
    sys.exit(0 if proc.returncode == 0 and result["correct"] else 1)


if __name__ == "__main__":
    main()
