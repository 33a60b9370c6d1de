#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload pipeline --seed 1 --seconds 30 --trace 0

Run from the repository root. The first run in a checkout compiles the
engine's main sources together with the harness (sbt, offline); later
runs reuse the build. The query workload reads the tables under
perfbench/data/. Everything the benchmark writes stays under
perfbench/.work/.

Exit status: 0 when every output check passed, 1 when one failed (the
result line is still printed, with "correct": false), 2 when the
checkout cannot be built or run (no result line).
"""
import argparse
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
WORKLOADS = ("pipeline", "queries")
BUILD_TIMEOUT_S = 800


def run_timeout_s(seconds):
    # fixed JVM start and set-ups, plus work that grows with --seconds
    # (the tail's follow phase, the number of query passes); 170 s at 30 s
    return 80 + 3 * seconds

# Spark 4 on JDK 17 outside spark-submit needs these (the root build's list).
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


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("no Spark distribution found (set SPARK_HOME)")
    return home


def source_stamp():
    h = hashlib.sha256()
    roots = [ENGINE_SRC, os.path.join(HERE, "src")]
    roots.append(os.path.join(ROOT, "src", "main", "resources"))
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in sorted(os.walk(r)):
            files += [os.path.join(d, n) for n in sorted(names)]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(env):
    stamp_file = os.path.join(WORK, "build.stamp")
    classes = os.path.join(HERE, "target", "scala-2.13", "classes")
    stamp = source_stamp()
    if os.path.isdir(classes) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                return classes
    sbt = shutil.which("sbt")
    if not sbt:
        fail("sbt not found on PATH")
    log = os.path.join(WORK, "logs", "build.log")
    with open(log, "w") as out:
        try:
            p = subprocess.run([sbt, "--batch", "-Dsbt.log.noformat=true", "compile", "copyResources"],
                               cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                               stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S)
            code = p.returncode
        except subprocess.TimeoutExpired:
            code = -1
    if code != 0:
        with open(log) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        fail(f"build failed (log: {log})")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classes


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--throttle-every", type=int,
                    help="override the stub's 429 cadence (0 = never throttle)")
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        fail(f"engine sources not found under {os.path.relpath(ENGINE_SRC, os.getcwd())}")
    for d in ("logs", "tmp", "results"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    home = spark_home()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env["SPARK_HOME"] = home
    env["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "tmp")
    env["SPARK_LOCAL_IP"] = "127.0.0.1"
    classes = build(env)

    java_home = os.environ.get("JAVA_HOME")
    java = os.path.join(java_home, "bin", "java") if java_home else shutil.which("java")
    if not java or not os.path.exists(java):
        fail("java not found")
    cp = os.pathsep.join([classes, os.path.join(home, "jars", "*")])
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd = [java, *opens, "-Xmx3g", "-XX:+UseG1GC",
           f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           "-cp", cp, "perfbench.BenchMain",
           "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
           "--trace", str(a.trace), "--work", WORK, "--pins", os.path.join(HERE, "pins.tsv"),
           "--data", os.path.join(HERE, "data")]
    if a.throttle_every is not None:
        cmd += ["--throttle-every", str(a.throttle_every)]
    log = os.path.join(WORK, "logs", f"{a.workload}-seed{a.seed}-trace{a.trace}.log")
    with open(log, "w") as err:
        p = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE, stderr=err,
                             stdin=subprocess.DEVNULL, text=True)
        try:
            out, _ = p.communicate(timeout=run_timeout_s(a.seconds))
        except subprocess.TimeoutExpired:
            p.kill()
            p.communicate()
            fail(f"run exceeded {run_timeout_s(a.seconds):.0f} s (log: {log})")
    lines = [l for l in out.splitlines() if l.startswith("{")]
    if not lines or '"metrics"' not in lines[-1]:
        with open(log) as f:
            sys.stderr.write("".join(f.readlines()[-30:]))
        fail(f"run produced no result (exit {p.returncode}; log: {log})")
    for l in lines:
        print(l)
    sys.exit(0 if p.returncode == 0 else 1)


if __name__ == "__main__":
    main()
