#!/usr/bin/env python3
"""Extraction-job benchmark entry point.

Usage (from the repository root):

    python3 perfbench/run.py --workload crawl_full --seed 1 --seconds 10 --trace 0

Builds the program and the harness from source with sbt when the sources
changed since the last build (the first run in a checkout), then runs one
workload in one JVM. The harness prints the full report as the next-to-last
stdout line and the result object as the last line; both are also written
under perfbench/out/. Exits non-zero, without a result, when the program's
sources are missing, the build fails, or the run fails or times out.
"""
import argparse
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("crawl_full", "html_hot_host", "binary_tail_resume")
BUILD_TIMEOUT_S = 800
RUN_TIMEOUT_S = 170
HEAP = "3g"

# Spark on JDK 17 outside spark-submit needs these (see ../build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_files():
    """Every file the build reads: the program's main sources and resources,
    and the harness with its build definition."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "project", "build.properties"),
             os.path.join(HERE, "build.sbt")]
    out = []
    for r in roots:
        if os.path.isfile(r):
            out.append(r)
        for d, dirs, files in os.walk(r):
            dirs.sort()
            out.extend(os.path.join(d, f) for f in sorted(files))
    return out


def source_hash(files):
    h = hashlib.sha256(ROOT.encode())
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode() + b"\0")
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def find_spark_home():
    """SPARK_HOME if set, else the install behind a spark-submit on PATH;
    the first candidate whose jars/ holds spark-core."""
    candidates = [os.environ.get("SPARK_HOME")]
    for d in os.environ.get("PATH", "").split(os.pathsep):
        submit = os.path.join(d, "spark-submit")
        if os.path.isfile(submit):
            candidates.append(os.path.dirname(os.path.dirname(os.path.realpath(submit))))
    for home in candidates:
        if home and glob.glob(os.path.join(home, "jars", "spark-core_*.jar")):
            return home
    return None


def build(stamp):
    """Compile with sbt unless the classpath for these exact sources exists."""
    target = os.path.join(HERE, "target")
    cp_file = os.path.join(target, "classpath.txt")
    stamp_file = os.path.join(target, "source.sha256")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == stamp:
                return cp_file
    sbt = shutil.which("sbt")
    if sbt is None:
        log("sbt not found on PATH")
        return None
    opts = ["-Dsbt.offline=true", "-Dsbt.server.forcestart=false", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    spark_home = find_spark_home()
    if spark_home is None:
        log("no Spark install found: set SPARK_HOME to one whose jars/ holds spark-core")
        return None
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=" ".join(opts),
               SPARK_HOME=spark_home)
    log("building program and harness with sbt")
    try:
        p = subprocess.run([sbt, "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                           cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
                           stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        log("build timed out")
        return None
    if p.returncode != 0 or not os.path.exists(cp_file):
        log(f"build failed (exit {p.returncode})")
        return None
    with open(stamp_file, "w") as fh:
        fh.write(stamp + "\n")
    return cp_file


def git_head():
    try:
        p = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        return p.stdout.strip() if p.returncode == 0 else ""
    except (OSError, subprocess.TimeoutExpired):
        return ""


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        log(f"program sources not found under {ROOT}; run from a full checkout")
        return 2
    files = source_files()
    stamp = source_hash(files)
    cp_file = build(stamp)
    if cp_file is None:
        return 3
    with open(cp_file) as fh:
        classpath = os.pathsep.join(line.strip() for line in fh if line.strip())

    work = os.path.join(HERE, ".work", f"run-{os.getpid()}")
    out_dir = os.path.join(HERE, "out")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.makedirs(out_dir, exist_ok=True)
    report = os.path.join(out_dir, f"{a.workload}-seed{a.seed}-trace{a.trace}.json")
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseParallelGC", f"-Djava.io.tmpdir={work}/tmp",
            "-Dspark.ui.enabled=false", "-cp", classpath, "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", work, "--report", report])
    env = dict(os.environ, PERFBENCH_GIT_HEAD=git_head(), PERFBENCH_SOURCE_SHA256=stamp)
    try:
        p = subprocess.run(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE, stderr=sys.stderr,
                           stdin=subprocess.DEVNULL, text=True, timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        log(f"run exceeded {RUN_TIMEOUT_S} s")
        return 4
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or len(lines) < 2 or not lines[-1].startswith("{"):
        sys.stderr.write(p.stdout)
        log(f"harness failed (exit {p.returncode})")
        return 5
    for l in lines[:-2]:
        print(l, file=sys.stderr)
    print(lines[-2])
    print(lines[-1], flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
