#!/usr/bin/env python3
"""Run one geobench workload against graft built from this checkout.

    python3 geobench/run.py --workload compute --seed 1 --seconds 12 --trace 0 --slots 4

Builds graft and the harness with sbt when their sources changed since the
last build, then runs the harness on a fresh JVM. The harness prints a
detail line and, last, the result line. See geobench/README.md.
"""
import argparse
import hashlib
import json
import os
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
GRAFT_SRC = os.path.join(ROOT, "src", "main")
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
STAMP = os.path.join(HERE, "target", "geobench.stamp")
WORKLOADS = ("compute", "geo_io")
BUILD_TIMEOUT_S = 850
RUN_TIMEOUT_S = 170

# Spark 4 on JDK 17 outside spark-submit needs these (as in the root build).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code):
    print(f"[geobench] {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    roots = [GRAFT_SRC, os.path.join(HERE, "src"), os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for root in roots:
        if os.path.isfile(root):
            yield root
        for d, dirs, files in os.walk(root):
            dirs.sort()
            for f in sorted(files):
                yield os.path.join(d, f)


def run(cmd, timeout, what, own_group=False, **kw):
    """Runs cmd and returns (stdout, exit code). On timeout it kills cmd, or
    with `own_group` the process group cmd leads (sbt's launcher forks a
    JVM), waits for it and fails."""
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, start_new_session=own_group, **kw)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        if own_group:
            os.killpg(proc.pid, signal.SIGKILL)
        else:
            proc.kill()
        proc.communicate()
        fail(f"{what} timed out", 3)
    return out, proc.returncode


def build():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    if os.path.isfile(STAMP) and open(STAMP).read() == stamp and os.path.isdir(CLASSES):
        return
    print("[geobench] building graft and the harness", file=sys.stderr)
    # sbt's global state and temporary files go under target/ too, so a
    # build writes nothing outside the checkout
    tmp = os.path.join(HERE, "target", "tmp")
    os.makedirs(tmp, exist_ok=True)
    out, code = run(["sbt", "-batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
                     f"-Dsbt.global.base={os.path.join(HERE, 'target', 'sbt-global')}",
                     f"-Djava.io.tmpdir={tmp}", f"-Djna.tmpdir={tmp}", "compile"],
                    BUILD_TIMEOUT_S, "build", own_group=True, cwd=HERE, stderr=subprocess.STDOUT,
                    env=dict(os.environ, JAVA_TOOL_OPTIONS="-XX:-UsePerfData"))
    if code != 0:
        sys.stderr.write(out[-20000:])
        fail("build failed", 4)
    with open(STAMP, "w") as fh:
        fh.write(stamp)


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    ap.add_argument("--slots", type=int, default=4, help="Spark local slots (local[N])")
    a = ap.parse_args()
    if a.seconds < 1 or a.slots < 1:
        fail("--seconds and --slots must be positive", 2)
    if not os.path.isdir(os.path.join(GRAFT_SRC, "scala", "graft")):
        fail(f"graft sources not found under {GRAFT_SRC}", 2)
    spark_home = os.environ.get("SPARK_HOME")
    if not spark_home or not os.path.isdir(os.path.join(spark_home, "jars")):
        fail("SPARK_HOME must point at a Spark installation", 2)

    build()

    work = os.path.join(HERE, "work", a.workload)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    cmd = [java, "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
           "-Dspark.ui.enabled=false"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", os.pathsep.join([CLASSES, os.path.join(GRAFT_SRC, "resources"),
                                     os.path.join(spark_home, "jars", "*")]),
            "graftbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace), "--slots", str(a.slots),
            "--work", os.path.join(work, "run")]
    out, code = run(cmd, RUN_TIMEOUT_S, "run")
    lines = [l for l in out.splitlines() if l.strip()]
    if code != 0 or not lines:
        sys.stderr.write(out)
        fail(f"harness exited with {code}", code or 5)
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        fail("harness printed no result line", 5)
    sys.stdout.write("\n".join(lines) + "\n")


if __name__ == "__main__":
    main()
