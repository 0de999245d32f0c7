#!/usr/bin/env python3
"""The repository benchmark: batch and ingest workloads.

Usage (from the repository root):
  python3 perfbench/run.py --workload batch|ingest --seed N \
      --seconds S --trace 0|1

Builds the engine and the harness from source (offline sbt, cached
under .bench_build/ by a hash of the sources), writes the seeded inputs,
runs the harness in one JVM against local[nproc] Spark, checks the
outputs and prints one JSON line with the metrics last.  See README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import metrics  # noqa: E402

BUILD = os.path.join(ROOT, ".bench_build")
HARNESS = os.path.join(HERE, "harness")
FINGERPRINTS = os.path.join(HERE, "batch_fingerprints.tsv")
# the project's sf0.1 test tables (TESTDATA.md)
SF_DIR = os.environ.get("PERFBENCH_SF_DIR", "/root/testdata/sf0.1")
RUN_LIMIT_S = 170
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_hash():
    """Hash of every file the build reads, so an edit forces a rebuild."""
    h = hashlib.sha256()
    tops = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
            os.path.join(ROOT, "src", "main"), os.path.join(HARNESS, "build.sbt"),
            os.path.join(HARNESS, ".sbtopts"), os.path.join(HARNESS, "project", "build.properties"),
            os.path.join(HARNESS, "src")]
    for top in tops:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def build():
    """Compile the engine and the harness offline; returns the classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail(f"no engine sources under {ROOT}: run from a full checkout")
    stamp = os.path.join(BUILD, "classpath.json")
    digest = source_hash()
    if os.path.exists(stamp):
        with open(stamp) as f:
            cached = json.load(f)
        if cached["hash"] == digest and all(os.path.exists(p) for p in cached["classpath"][:2]):
            return cached["classpath"]
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=(
        "-Dsbt.override.build.repos=true "
        f"-Dsbt.repository.config={os.path.expanduser('~/.sbt/repositories')} "
        "-Dsbt.offline=true -Xmx4g"))
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        rc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export harness/Runtime/fullClasspath"],
            cwd=HARNESS, env=env, stdout=out, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, timeout=840).returncode
    with open(log) as f:
        lines = f.read().splitlines()
    cp_lines = [ln for ln in lines if ln.startswith("/") and "classes" in ln]
    if rc != 0 or not cp_lines:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail(f"build failed (exit {rc}), log in {log}")
    classpath = cp_lines[-1].strip().split(os.pathsep)
    with open(stamp, "w") as f:
        json.dump({"hash": digest, "classpath": classpath}, f)
    return classpath


def heap():
    """min(8g, RAM/2), at least 2g: the sizing of the Tier-1 test run."""
    with open("/proc/meminfo") as f:
        kb = next(int(ln.split()[1]) for ln in f if ln.startswith("MemTotal:"))
    return f"{max(2, min(8, kb // 2097152))}g"


def run_harness(classpath, workload, seconds, trace, run_dir, deadline):
    local = os.path.join(run_dir, "local")
    os.makedirs(os.path.join(local, "tmp"), exist_ok=True)
    out = os.path.join(run_dir, "out.json")
    cpus = len(os.sched_getaffinity(0))
    cmd = ["java", f"-Xmx{heap()}", "-XX:ReservedCodeCacheSize=512m",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           f"-Djava.io.tmpdir={os.path.join(local, 'tmp')}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", os.pathsep.join(classpath), "graft.perfbench.Harness", workload,
            os.path.join(run_dir, "in"), out, str(seconds), str(trace), SF_DIR, str(cpus), local]
    log = os.path.join(run_dir, "harness.log")
    with open(log, "w") as err:
        try:
            rc = subprocess.run(cmd, cwd=run_dir, stdout=err, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL,
                                timeout=max(10, deadline - time.time())).returncode
        except subprocess.TimeoutExpired:
            fail(f"harness exceeded the time limit, log in {log}")
    if rc != 0 or not os.path.exists(out):
        with open(log) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        fail(f"harness failed (exit {rc}), log in {log}")
    with open(out) as f:
        raw = json.load(f)
    raw["shutdown_s"] = time.time() - os.path.getmtime(out)
    return raw


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=["batch", "ingest"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--record-fingerprints", action="store_true",
                    help="write the batch fingerprints this run observes (seed commit only)")
    a = ap.parse_args()
    classpath = build()
    if not os.path.isdir(SF_DIR):
        fail(f"test data not found at {SF_DIR}")
    # set-up time runs from here: the build is cached across runs
    setup_start = time.time()
    run_dir = os.path.join(BUILD, "runs", f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    try:
        expect = gen.write_inputs(a.workload, a.seed, os.path.join(run_dir, "in"), FINGERPRINTS)
        raw = run_harness(classpath, a.workload, a.seconds, a.trace, run_dir,
                          setup_start + RUN_LIMIT_S)
        with open(os.path.join(BUILD, f"last-{a.workload}-{a.trace}.json"), "w") as f:
            json.dump(raw, f)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    if a.record_fingerprints:
        with open(FINGERPRINTS, "w") as f:
            for name, fp in sorted(raw["checks"]["fingerprints"].items()):
                f.write(f"{name}\t{fp}\n")
    result = metrics.summarize(a.workload, a.seed, raw, setup_start, bool(a.trace), expect)
    print(json.dumps(result["details"], sort_keys=True))
    print(json.dumps(result["line"]))
    sys.exit(0 if result["line"]["correct"] else 1)


if __name__ == "__main__":
    main()
