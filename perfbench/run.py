#!/usr/bin/env python3
"""Core-path benchmark for the Spark stripe-sync engine.

Run from the repository root:

    python3 perfbench/run.py --workload steady|catchup \
        --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --selftest      # generator determinism test

Builds the engine (src/main/scala) together with the benchmark
(perfbench/src) into .bench_build/perfbench with the Scala compiler that
ships in Spark's jar directory, runs one workload in a fresh JVM, and
prints the JSON result as the last line of standard output. The exit
code is non-zero if the build fails, the run fails, or the mirror does
not match the reference model.
"""

import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import threading
import time

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(ROOT, "perfbench", "src")
RUN_TIMEOUT_S = 170
HEAP = "3g"

# Spark 4 on JDK 17 outside spark-submit needs these (the same list as
# the engine's build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(code)


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else build.sbt's unmanagedBase."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.isfile(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    fail("no Spark jar directory (set SPARK_HOME)")


def sources():
    found = []
    for base in (ENGINE_SRC, BENCH_SRC):
        for dirpath, _, files in os.walk(base):
            found += [os.path.join(dirpath, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def source_digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode() + b"\0")
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(jars):
    """Compile engine + benchmark once per source digest; return (classes, digest)."""
    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        fail("engine sources not found under src/main/scala (run from the repository root)")
    files = sources()
    digest = source_digest(files)
    classes = os.path.join(BUILD, "classes-" + digest[:16])
    if os.path.isfile(os.path.join(classes, "BUILD_OK")):
        return classes, digest
    os.makedirs(BUILD, exist_ok=True)
    for old in os.listdir(BUILD):
        if old.startswith("classes-"):
            shutil.rmtree(os.path.join(BUILD, old), ignore_errors=True)
    os.makedirs(classes)
    argfile = os.path.join(BUILD, "scalac-args.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    cp = os.path.join(jars, "*")
    t0 = time.time()
    rc = subprocess.call(
        ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", cp, "scala.tools.nsc.Main",
         "-nowarn", "-d", classes, "-classpath", cp, "@" + argfile],
        stdout=sys.stderr, timeout=850)
    if rc != 0:
        shutil.rmtree(classes, ignore_errors=True)
        fail("build failed (scalac exit %d)" % rc, 3)
    open(os.path.join(classes, "BUILD_OK"), "w").write(digest + "\n")
    print("perfbench: built %d sources in %.1f s" % (len(files), time.time() - t0),
          file=sys.stderr)
    return classes, digest


def git_sha():
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return ""
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip()
    except (OSError, subprocess.SubprocessError):
        return ""


def java_cmd(classes, jars, work, main, args):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
    # A fixed heap: a growable one shrank at the full GCs between units,
    # and the next unit's timing then varied with how far it regrew.
    return (["java", "-Xms" + HEAP, "-Xmx" + HEAP, "-XX:+UseG1GC", "-XX:-UsePerfData"] + opens + [
        "-Djava.io.tmpdir=" + tmp,
        "-Dspark.local.dir=" + os.path.join(tmp, "spark"),
        "-Dspark.sql.warehouse.dir=" + os.path.join(tmp, "warehouse"),
        "-Dderby.system.home=" + tmp,
        "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        "-cp", classes + os.pathsep + os.path.join(jars, "*"), main] + args)


def run_jvm(cmd, deadline):
    """Run the JVM in its own process group, collect its stdout, and
    return (exit code, stdout lines). The group is killed on timeout."""
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, start_new_session=True)
    lines = []
    reader = threading.Thread(target=lambda: lines.extend(l.rstrip("\n") for l in proc.stdout))
    reader.start()
    try:
        rc = proc.wait(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        rc = None
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        reader.join()
    if rc is None:
        fail("run exceeded %d s" % RUN_TIMEOUT_S, 4)
    return rc, lines


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[1])
    ap.add_argument("--workload", choices=["steady", "catchup"])
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not a.selftest and (a.workload is None or a.seed is None or a.seconds is None):
        ap.error("--workload, --seed and --seconds are required")

    jars = spark_jars()
    classes, digest = build(jars)
    work = os.path.join(BUILD, "work", str(os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        if a.selftest:
            rc, lines = run_jvm(java_cmd(classes, jars, work, "perfbench.GenCheck", []),
                                time.time() + RUN_TIMEOUT_S)
            print("\n".join(lines))
            sys.exit(rc)
        args = ["--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace),
                "--work", work, "--out", os.path.join(BUILD, "results"),
                "--git-sha", git_sha(), "--source-sha", digest]
        rc, lines = run_jvm(java_cmd(classes, jars, work, "perfbench.Main", args),
                            time.time() + RUN_TIMEOUT_S)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for line in lines:
        print(line)
    result = None
    if lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            pass
    if not isinstance(result, dict) or set(result) != {"correct", "attempted", "failed", "metrics"}:
        fail("run produced no result (exit %d)" % rc, rc or 5)
    sys.exit(rc)


if __name__ == "__main__":
    main()
