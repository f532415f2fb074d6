#!/usr/bin/env python3
"""Repository benchmark: builds the engine and the benchmark from source
(once per source state), runs one workload in a fresh JVM, and prints the
result as the last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

Usage, from the repository root:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads: scores_batch, leaderboard_stream, corpus. `--trace 0`
prints the end-to-end metrics, `--trace 1` the per-layer ones. Everything a
run writes stays under perfbench/ (.build, .work, out).
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
BUILD = os.path.join(BENCH, ".build")
WORKLOADS = ("scores_batch", "leaderboard_stream", "corpus")

# What Spark's launcher passes to the JVM on JDK 17 (the same list as the
# root build's javaOptions).
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


def source_fingerprint():
    """Hash of every file the build reads, so a changed source rebuilds."""
    h = hashlib.sha256()
    roots = [
        os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
        os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "build.sbt"),
        os.path.join(BENCH, "project", "build.properties"), os.path.join(BENCH, "src"),
    ]
    for r in roots:
        if not os.path.exists(r):
            fail(f"{os.path.relpath(r, ROOT)} is missing; run from a full checkout of the repository")
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def classpath():
    """The runtime classpath, building first when the sources changed."""
    fp = source_fingerprint()
    cp_file, fp_file = os.path.join(BUILD, "classpath"), os.path.join(BUILD, "fingerprint")
    if os.path.exists(cp_file) and os.path.exists(fp_file):
        with open(fp_file) as f:
            if f.read() == fp:
                with open(cp_file) as g:
                    return g.read()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    sbt_opts = ["-Dsbt.offline=true", "-Dsbt.server.forcestart=false", "-Xmx3g",
                f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        sbt_opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(sbt_opts)
    print("perfbench: building engine and benchmark", file=sys.stderr)
    try:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
            cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
            timeout=840)
    except subprocess.TimeoutExpired:
        fail("build timed out")
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or lines[-1].startswith("["):
        sys.stderr.write(p.stdout[-5000:])
        fail("build failed")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(fp_file, "w") as f:
        f.write(fp)
    return cp


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    cp = classpath()
    work = os.path.join(BENCH, ".work", a.workload)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-Xmx3g", f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for m in ADD_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", os.path.join(work, "run"),
            "--data", os.path.join(BENCH, "data"), "--out", os.path.join(BENCH, "out")]
    try:
        p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True, timeout=170)
    except subprocess.TimeoutExpired:
        fail("run timed out")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    try:
        result = json.loads(lines[-1])
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
    except (IndexError, ValueError, AssertionError):
        sys.stderr.write(p.stdout[-5000:])
        fail(f"no result line (exit code {p.returncode})")
    for l in lines[:-1]:
        print(l)
    print(json.dumps(result))
    sys.exit(p.returncode)


if __name__ == "__main__":
    main()
