#!/usr/bin/env python3
"""Run one benchmark workload of the graft engine and print its metrics.

    python3 perfbench/run.py --workload <interactive|batch> \
        --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run compiles the engine
(src/main/scala) together with the benchmark's own sources
(perfbench/src) with the Scala compiler shipped in the Spark jar
directory, into perfbench/.build; later runs reuse that build until a
source changes. The last line of standard output is the result JSON
{"correct", "attempted", "failed", "metrics"}; the exit code is non-zero
when the build fails, the run fails, or an output does not match ground
truth.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
BUILD = os.path.join(BENCH, ".build")
RUN_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_jars(root):
    """The Spark jar directory: $SPARK_HOME/jars, else the build's unmanagedBase."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    sbt = os.path.join(root, "build.sbt")
    if os.path.isfile(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    fail("no Spark jar directory: set SPARK_HOME")


def sources(root):
    out = []
    for top in (os.path.join(root, "src", "main", "scala"), os.path.join(BENCH, "src")):
        for d, _, files in os.walk(top):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def build(root, jars):
    """Compile engine + benchmark unless the same sources were built before."""
    srcs = sources(root)
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    stamp = h.hexdigest()
    classes = os.path.join(BUILD, "classes")
    stamp_file = os.path.join(BUILD, "stamp")
    if os.path.isfile(stamp_file) and open(stamp_file).read() == stamp and os.path.isdir(classes):
        return classes
    tmp = os.path.join(BUILD, "classes.tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cp = os.pathsep.join(os.path.join(jars, j) for j in sorted(os.listdir(jars)) if j.endswith(".jar"))
    args_file = os.path.join(BUILD, "scalac.args")
    with open(args_file, "w") as f:
        f.write("\n".join(["-nowarn", "-d", tmp, "-classpath", cp] + srcs) + "\n")
    r = subprocess.run(["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
                        "scala.tools.nsc.Main", "@" + args_file],
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout)
        fail("build failed")
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classes


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["interactive", "batch"])
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=[0, 1])
    a = ap.parse_args()

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src", "main", "scala")):
        fail("run from the repository root: src/main/scala not found")
    jars = spark_jars(root)
    os.makedirs(BUILD, exist_ok=True)
    classes = build(root, jars)

    work = os.path.join(BENCH, ".work", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(work, d))
    # every file the JVM writes stays in `work` (no hsperfdata under /tmp)
    cmd = (["java"] + [f"--add-opens={m}=ALL-UNNAMED" for m in ADD_OPENS] + [
        "-Xmx3g", "-Xss8m", "-XX:-UsePerfData",
        f"-Djava.io.tmpdir={work}/tmp",
        f"-Dspark.local.dir={work}/spark-local",
        f"-Dspark.sql.warehouse.dir={work}/warehouse",
        "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        "-cp", classes + os.pathsep + os.path.join(jars, "*"),
        "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", str(a.trace), "--work", work])
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, cwd=work)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        fail(f"run exceeded {RUN_TIMEOUT_S}s", 3)
    traces = os.path.join(work, "traces")
    if os.path.isdir(traces):
        keep = os.path.join(BENCH, ".work", "traces")
        os.makedirs(keep, exist_ok=True)
        for f in os.listdir(traces):
            shutil.move(os.path.join(traces, f), os.path.join(keep, f))
    shutil.rmtree(work, ignore_errors=True)

    lines = [l for l in out.splitlines() if l.strip()]
    try:
        result = json.loads(lines[-1])
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
    except Exception:
        sys.stdout.write(out)
        fail(f"run exited {proc.returncode} without a result line", proc.returncode or 4)
    for l in lines[:-1]:
        print(l)
    print(json.dumps(result))
    sys.exit(proc.returncode if proc.returncode != 0 else (0 if result["correct"] else 1))


if __name__ == "__main__":
    main()
