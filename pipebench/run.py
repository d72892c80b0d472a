#!/usr/bin/env python3
"""Pipeline benchmark entry point.

Run from the root of a checkout:

    python3 pipebench/run.py --workload hot --seed 1 --seconds 12 --trace 0
    python3 pipebench/run.py --selftest

Builds the benchmark together with the engine sources of the checkout
(sbt, only when a source file changed), then runs one measurement in a
fresh JVM. The last line of standard output is the result JSON; the
exit code is 0 only when every output checked out.
"""
import argparse
import glob
import hashlib
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
STAMP = os.path.join(HERE, "target", "build.stamp")
WORK = os.path.join(HERE, "work")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 600
HEAP = "3g"

# Spark 4 on JDK 17 needs these when a session is created outside
# spark-submit (the list of Spark's JavaModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"[pipebench] {msg}", file=sys.stderr)
    sys.exit(2)


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not glob.glob(os.path.join(home, "jars", "spark-core_*.jar")):
        fail("no Spark installation found (set SPARK_HOME)")
    return home


def sources():
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for base in (os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")):
        for d, _, names in os.walk(base):
            files += [os.path.join(d, n) for n in names if n.endswith((".scala", ".java"))]
    return sorted(files)


def build(home):
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("engine sources not found: run from the root of a full checkout")
    h = hashlib.sha256()
    for f in sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    digest = h.hexdigest()
    if os.path.exists(STAMP) and open(STAMP).read() == digest:
        return
    env = dict(os.environ, SPARK_HOME=home)
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"]
    r = subprocess.run(cmd, cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
                       stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S)
    if r.returncode != 0:
        fail("build failed")
    os.makedirs(os.path.dirname(STAMP), exist_ok=True)
    with open(STAMP, "w") as fh:
        fh.write(digest)


def java_cmd(home, main, args):
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cp = os.pathsep.join([CLASSES, os.path.join(home, "jars", "*")])
    # no perf-data file: the JVM would write it outside the checkout
    return (["java", f"-Xmx{HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}"]
            + opens + ["-cp", cp, main] + args)


def run_jvm(cmd):
    """Run the JVM in its own process group; kill the group on timeout."""
    p = subprocess.Popen(cmd, cwd=ROOT, stdin=subprocess.DEVNULL, start_new_session=True)
    try:
        return p.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        fail(f"run exceeded {RUN_TIMEOUT_S} s")
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=12)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    # a terminated run must take its JVM down with it (see run_jvm)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not a.selftest and a.workload is None:
        fail("--workload is required")
    home = spark_home()
    build(home)
    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(WORK)
    if a.selftest:
        sys.exit(run_jvm(java_cmd(home, "pipebench.SelfTest", [])))
    sys.exit(run_jvm(java_cmd(home, "pipebench.Main", [
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace)])))


if __name__ == "__main__":
    main()
