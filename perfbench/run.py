#!/usr/bin/env python3
"""Run one benchmark workload and print its result as one JSON line.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run it from the root of the repository. The first run builds the library
and the benchmark from source with sbt (the build is reused while no
source changes); every run then starts one JVM with a pinned heap, which
generates the inputs from the seed, runs the workload and checks its
outputs. The last line of standard output is

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with the end-to-end metrics of BENCHMARK.json (``--trace 0``) or its
per-layer metrics (``--trace 1``). Build output, inputs, logs and
results stay under ``.bench_build/`` in the repository root.
"""

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build")
LAUNCH = os.path.join(OUT, "launch.txt")
STAMP = os.path.join(OUT, "build.stamp")
ARCHIVE = os.path.join(OUT, "classes.jsa")
HEAP = "3g"
# the first run builds and records the archive, and must end in 900 s
BUILD_TIMEOUT_S = 600
ARCHIVE_TIMEOUT_S = 90
RUN_TIMEOUT_S = 170
WORKLOADS = ("wrf_voronoi", "corpus_prep")


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_files():
    """Every file the build reads: the library's build and sources and
    the benchmark's own."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for d in (os.path.join(ROOT, "project"), os.path.join(HERE, "project")):
        if os.path.isdir(d):
            files += [os.path.join(d, f) for f in os.listdir(d)
                      if f.endswith((".sbt", ".properties", ".scala"))]
    for r in roots:
        for dirpath, _, names in os.walk(r):
            files += [os.path.join(dirpath, n) for n in names]
    return sorted(files)


def fingerprint():
    """Hash of every source file, plus the size and time of every built
    jar the launch classpath names inside the checkout: a class-data
    archive is only valid for the exact jars it was recorded from."""
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    if os.path.exists(LAUNCH):
        for jar in launch_spec()[0].split(os.pathsep):
            if jar.startswith(ROOT + os.sep) and os.path.exists(jar):
                st = os.stat(jar)
                h.update(f"{jar}:{st.st_size}:{st.st_mtime_ns}".encode())
    return h.hexdigest()


def run_bounded(cmd, timeout, **kw):
    """Run `cmd` in its own process group; kill the whole group if it
    outlives `timeout`. Returns the exit code, or None on timeout."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        return None


def build():
    """Compile with sbt unless the last build saw the same sources."""
    fp = fingerprint()
    if os.path.exists(LAUNCH) and os.path.exists(STAMP):
        with open(STAMP) as fh:
            if fh.read().strip() == fp:
                return
    log("building library and benchmark with sbt")
    os.makedirs(OUT, exist_ok=True)
    with open(os.path.join(OUT, "build.log"), "w") as lf:
        code = run_bounded(
            ["sbt", "--batch", "-Dsbt.log.noformat=true",
             "-Dsbt.server.autostart=false", "benchClasspath"],
            BUILD_TIMEOUT_S, cwd=HERE, stdout=lf, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL)
    if code != 0 or not os.path.exists(LAUNCH):
        with open(os.path.join(OUT, "build.log")) as lf:
            sys.stderr.write(lf.read()[-4000:])
        raise SystemExit(f"build failed (exit {code})")
    # record a class-data archive of Spark's start-up classes: every run
    # maps it, which halves session start-up; a run without it (or with a
    # stale one, which the JVM ignores) still works, only slower
    if os.path.exists(ARCHIVE):
        os.remove(ARCHIVE)
    scratch = os.path.join(OUT, "work", "archive")
    shutil.rmtree(scratch, ignore_errors=True)
    os.makedirs(scratch)
    classpath, jvm_opts = launch_spec()
    with open(os.path.join(OUT, "archive.log"), "w") as lf:
        run_bounded(java(jvm_opts, scratch, [f"-XX:ArchiveClassesAtExit={ARCHIVE}"])
                    + ["-cp", classpath, "perfbench.Main", "--archive", scratch],
                    ARCHIVE_TIMEOUT_S, cwd=ROOT, stdout=lf, stderr=subprocess.STDOUT,
                    stdin=subprocess.DEVNULL)
    shutil.rmtree(scratch, ignore_errors=True)
    with open(STAMP, "w") as fh:
        fh.write(fingerprint() + "\n")


def launch_spec():
    """The runtime classpath and JVM options the build recorded."""
    with open(LAUNCH) as fh:
        classpath, *jvm_opts = fh.read().split("\n")
    return classpath, [o for o in jvm_opts if o]


def java(jvm_opts, tmp, extra=()):
    """The java command line up to the classpath, heap pinned; no
    perf-data file, so the JVM writes nothing outside the checkout."""
    return (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData",
             f"-Djava.io.tmpdir={tmp}"]
            + list(extra) + jvm_opts)


def contract():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    args = ap.parse_args()

    spec = contract()
    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            raise SystemExit(f"library source missing: {need}")
    build()

    classpath, jvm_opts = launch_spec()
    work = os.path.join(OUT, "work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    results = os.path.join(OUT, "results")
    os.makedirs(results, exist_ok=True)
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    result = os.path.join(results, tag + ".json")
    if os.path.exists(result):
        os.remove(result)
    share = ([f"-XX:SharedArchiveFile={ARCHIVE}"]
             if os.path.exists(ARCHIVE) else [])
    cmd = (java(jvm_opts, tmp, share)
           + ["-cp", classpath, "perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", args.trace,
              "--dir", work, "--out", result])
    t0 = time.time()
    with open(os.path.join(results, tag + ".log"), "w") as lf:
        code = run_bounded(cmd, RUN_TIMEOUT_S, cwd=ROOT, stdout=lf,
                           stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
    shutil.rmtree(work, ignore_errors=True)
    if code != 0 or not os.path.exists(result):
        with open(os.path.join(results, tag + ".log")) as lf:
            sys.stderr.write(lf.read()[-4000:])
        raise SystemExit(f"run failed (exit {code}) after {time.time() - t0:.1f} s")

    with open(result) as fh:
        r = json.load(fh)
    log(f"box {json.dumps(r['box'])}")
    declared = spec["per_layer"] if args.trace == "1" else spec["end_to_end"]
    metrics = {}
    correct = r["correct"]
    for m in declared:
        v = r["metrics"].get(m["name"])
        if v is None:
            # a layer the workload never calls did zero work; an
            # end-to-end metric that is missing means no pass succeeded
            correct = correct and args.trace == "1"
            v = 0.0
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    print(json.dumps({"correct": correct, "attempted": r["attempted"],
                      "failed": r["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
