#!/usr/bin/env python3
"""Run one graft benchmark workload and print its result line.

    python3 perfbench/run.py --workload search --seed 1 --seconds 10 --trace 0

Run from the root of a graft checkout. The first run builds graft and the
harness from source with sbt (offline, from the local dependency cache)
and records the classpath; later runs reuse it until a source file
changes. Each run starts one JVM (Spark at local[nproc]), writes only
under perfbench/work/, and prints a report line followed by the result
line: {"correct", "attempted", "failed", "metrics"}.
"""
import argparse
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STAMP = os.path.join(HERE, "target", "perfbench-classpath.txt")
WORKLOADS = ("search", "batch", "analytics", "ingest", "curate")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

# Spark on JDK 17 outside spark-submit needs these (as in the root build).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files.extend(os.path.join(d, n) for n in names)
    return sorted(f for f in files if os.path.isfile(f))


def digest():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    opts = ["-Dsbt.offline=true", "-Dsbt.server.forcestart=false", "-Xmx2g"]
    repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    return env


def build(src_digest):
    if shutil.which("sbt") is None:
        fail("sbt not found on PATH")
    print("perfbench: building graft and the harness (sbt compile)", file=sys.stderr)
    try:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=sbt_env(), stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
            text=True, timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail("build timed out")
    lines = [ln.strip() for ln in p.stdout.splitlines()]
    cps = [ln for ln in lines if ln and not ln.startswith("[") and ".jar" in ln
           and os.pathsep in ln]
    if p.returncode != 0 or not cps:
        sys.stderr.write(p.stdout[-4000:])
        fail("build failed")
    os.makedirs(os.path.dirname(STAMP), exist_ok=True)
    with open(STAMP, "w") as fh:
        fh.write(src_digest + "\n" + cps[-1] + "\n")


def classpath(src_digest):
    """The recorded classpath, rebuilding first when a source changed."""
    for attempt in (0, 1):
        if os.path.isfile(STAMP):
            with open(STAMP) as fh:
                d, cp = (fh.read().splitlines() + ["", ""])[:2]
            if d == src_digest and cp:
                return cp
        if attempt == 0:
            build(src_digest)
    fail("build left no classpath")


def git_commit():
    try:
        p = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        return p.stdout.strip() if p.returncode == 0 else "none"
    except (OSError, subprocess.TimeoutExpired):
        return "none"


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()
    if a.seconds < 1:
        fail("--seconds must be at least 1")
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail(f"{ROOT} is not a graft checkout (no build.sbt or src/main/scala/graft)")
    if shutil.which("java") is None:
        fail("java not found on PATH")

    src_digest = digest()
    cp = classpath(src_digest)
    run_dir = os.path.join(HERE, "work", f"{a.workload}-seed{a.seed}-trace{a.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    cmd = ["java", "-Xmx3g", "-XX:+UseG1GC", f"-Djava.io.tmpdir={tmp}",
           f"-Dperfbench.commit={git_commit()}", f"-Dperfbench.digest={src_digest}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", a.trace, "--dir", run_dir]
    try:
        p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True,
                           timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail(f"run exceeded {RUN_TIMEOUT_S} s")
    finally:
        for d in ("tmp", "spark-local", "warehouse", "stores"):
            shutil.rmtree(os.path.join(run_dir, d), ignore_errors=True)
    out = [ln for ln in p.stdout.splitlines() if ln.strip()]
    if p.returncode != 0 or not out or not out[-1].startswith('{"correct"'):
        sys.stderr.write(p.stdout[-4000:])
        fail(f"benchmark process exited with code {p.returncode}")
    print("\n".join(out[-2:]))


if __name__ == "__main__":
    main()
