#!/usr/bin/env python3
"""Run one workload of the serving and CDC-ingest benchmark.

    python3 servebench/run.py --workload serve --seed 1 --seconds 4 --trace 0

Run from the root of a checkout. The first run compiles the program's
sources together with the benchmark's (sbt, offline); later runs reuse the
build while no source changed. Every run works in a fresh directory under
servebench/target/runs that it removes on exit. The last line of standard
output is the result JSON object; diagnostics come before it.
"""
import argparse
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
TARGET = os.path.join(BENCH, "target")
CLASSES = os.path.join(TARGET, "scala-2.13", "classes")
STAMP = os.path.join(TARGET, "build.stamp")
# the classes as one jar, so the JVM can keep them in a class-data-sharing
# archive: the first run of a build writes it at exit, later runs map it in
# and skip most class loading (about 7 s of a cold set-up here)
JAR = os.path.join(TARGET, "servebench.jar")
CDS = os.path.join(TARGET, "classes.jsa")
# the corpus: the sf0.1 fixture's embeddings and documents tables
DATA = os.path.join(BENCH, "data")
SPARK_JARS = os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

# Spark 4 on JDK 17 outside spark-submit needs these opens (the list
# org.apache.spark.launcher.JavaModuleOptions gives).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def sources():
    roots = [os.path.join(BENCH, "src"), os.path.join(ROOT, "src", "main", "scala")]
    files = [os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs if f.endswith((".scala", ".java"))]
    return sorted(files)


def fingerprint(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        sys.exit("servebench: the program's sources (src/main/scala/graft) are not in this checkout")
    files = sources()
    fp = fingerprint(files)
    if os.path.exists(STAMP) and open(STAMP).read() == fp and os.path.exists(JAR):
        return
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", "-Dsbt.repository.config=" + repos]
    env["SBT_OPTS"] = " ".join(opts)
    os.makedirs(TARGET, exist_ok=True)
    with open(os.path.join(TARGET, "build.log"), "w") as log:
        r = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "compile"], cwd=BENCH,
                           env=env, stdout=log, stderr=subprocess.STDOUT,
                           stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S)
    if r.returncode != 0:
        sys.exit("servebench: build failed, see servebench/target/build.log")
    for f in (CDS, STAMP):
        if os.path.exists(f):
            os.remove(f)
    with zipfile.ZipFile(JAR, "w") as z:
        for d, _, fs in sorted(os.walk(CLASSES)):
            for f in sorted(fs):
                p = os.path.join(d, f)
                z.write(p, os.path.relpath(p, CLASSES))
    with open(STAMP, "w") as fh:
        fh.write(fp)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", choices=["0", "1"], default="0")
    a = ap.parse_args()
    build()
    run_dir = os.path.join(TARGET, "runs", "%s-%d-%d" % (a.workload, a.seed, os.getpid()))
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    result = os.path.join(run_dir, "result.json")
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ else "java"
    cds = ("-XX:SharedArchiveFile=" if os.path.exists(CDS) else "-XX:ArchiveClassesAtExit=") + CDS
    cmd = [java, "-Xmx3g", cds, "-Xlog:disable", "-Xlog:all=warning:stderr",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC", "-Djava.io.tmpdir=" + run_dir]
    for o in ADD_OPENS:
        cmd += ["--add-opens", o + "=ALL-UNNAMED"]
    cmd += ["-cp", JAR + os.pathsep + os.path.join(SPARK_JARS, "*"), "servebench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", a.trace, "--run-dir", run_dir, "--data-dir", DATA, "--out-dir", os.path.join(TARGET, "out"),
            "--result", result]
    env = dict(os.environ, SPARK_LOCAL_IP="127.0.0.1", SPARK_LOCAL_HOSTNAME="localhost",
               SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"))
    try:
        with open(os.path.join(TARGET, "last-%s.log" % a.workload), "w") as err:
            p = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=subprocess.PIPE,
                                 stderr=err, stdin=subprocess.DEVNULL, text=True)
            try:
                out, _ = p.communicate(timeout=RUN_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                p.kill()
                p.wait()
                sys.exit("servebench: run exceeded %d s" % RUN_TIMEOUT_S)
        sys.stdout.write(out)
        if p.returncode != 0 or not os.path.exists(result):
            sys.exit("servebench: run failed (exit %d), see servebench/target/last-%s.log"
                     % (p.returncode, a.workload))
        with open(result) as fh:
            line = fh.read().strip()
        print(line, flush=True)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
