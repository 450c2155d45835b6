#!/usr/bin/env python3
"""Benchmark runner for graft's serving and snapshot-store paths.

    python3 graftbench/run.py --workload cohort-serve|ingest-asof \
        --seed N --seconds S --trace 0|1

Builds the library from this checkout's sources together with the
harness in graftbench/ (sbt, offline), then runs one workload in a
single JVM (local[N], N = min(4, cpus)) and prints its result as the
last line of standard output:

    {"correct": true, "attempted": 66, "failed": 0, "metrics": {...}}

Every run gets a fresh scratch directory (store, Spark temp dirs, data
links) under graftbench/target/runs/, deleted when the run ends. The
input tables are read from $GRAFT_BENCH_DATA (default: the nearest
testdata/sf0.1 directory above the checkout, else ~/testdata/sf0.1). Exit code 0 means the run finished and every
answer was correct.
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
TARGET = os.path.join(HERE, "target")
CDS = os.path.join(TARGET, "classes.jsa")
WORKLOADS = ("cohort-serve", "ingest-asof")
HEAP = "3g"



def fail(msg):
    print(f"graftbench: {msg}", file=sys.stderr)
    sys.exit(1)


def sources():
    """Every input of the build, in a stable order."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    return sorted(files)


def build(deadline):
    """Compiles with sbt unless the sources are unchanged since the last
    build; returns the runtime classpath, the library build's JVM
    options and whether it built."""
    h = hashlib.sha256()
    for f in sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = h.hexdigest()
    stamp_file = os.path.join(TARGET, "build.stamp")
    if os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == stamp:
                return exported() + (False,)
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    opts = ["-Dsbt.offline=true", "-Xmx2g", "-XX:-UsePerfData"]
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    os.makedirs(TARGET, exist_ok=True)
    log = os.path.join(TARGET, "build.log")
    with open(log, "w") as out:
        code = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "exportRun"],
                         HERE, env, out, out, deadline)
    if code != 0:
        with open(log) as fh:
            sys.stderr.write(fh.read()[-4000:])
        fail(f"build failed (exit {code}); log in {log}")
    classpath, opts = exported()
    # class-data-sharing archive of the classes a run loads, made once
    # per build: on a 4-core box it cuts JVM and Spark start-up from
    # about 6 s to 2.5 s, and a server's first (cold) answer by 3.5 s
    if os.path.exists(CDS):
        os.remove(CDS)
    code, lines = java(classpath, opts, "warm", 0, 0, deadline, [f"-XX:ArchiveClassesAtExit={CDS}"])
    if code != 0 or not os.path.exists(CDS) or not lines or '"correct":true' not in lines[-1]:
        fail(f"warm-up run for the class-data archive failed (exit {code})")
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return classpath, opts, True


def exported():
    """The runtime classpath and the JVM options of the library's own
    build (its --add-opens list and system properties; its heap size is
    replaced by the benchmark's), as the last build wrote them."""
    with open(os.path.join(TARGET, "classpath.txt")) as fh:
        classpath = fh.read().strip()
    with open(os.path.join(TARGET, "javaopts.txt")) as fh:
        opts = [l.strip() for l in fh if l.strip() and not l.startswith(("-Xmx", "-Xms"))]
    return classpath, opts


def data_dir():
    """The sf0.1 tables: $GRAFT_BENCH_DATA, else the nearest
    testdata/sf0.1 above this checkout, else the one in the home
    directory."""
    if "GRAFT_BENCH_DATA" in os.environ:
        return os.environ["GRAFT_BENCH_DATA"]
    d = ROOT
    while True:
        cand = os.path.join(d, "testdata", "sf0.1")
        if os.path.exists(os.path.join(cand, "orders.parquet")):
            return cand
        if os.path.dirname(d) == d:
            return os.path.join(os.path.expanduser("~"), "testdata", "sf0.1")
        d = os.path.dirname(d)


def manifest_metrics(trace):
    """Name -> unit of the metrics a run must report: BENCHMARK.json's
    end_to_end list untraced, its per_layer list traced."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        manifest = json.load(fh)
    return {m["name"]: m["unit"] for m in manifest["per_layer" if trace else "end_to_end"]}


def log_path(workload, seed):
    return os.path.join(TARGET, "logs", f"{workload}-seed{seed}.log")


def java(classpath, opts, workload, seed, trace, deadline, jvm_flags):
    """Runs one workload in a fresh JVM and scratch directory; returns
    the exit code (None on timeout) and the lines it printed."""
    data = data_dir()
    cores = min(4, os.cpu_count() or 1)
    work = os.path.join(TARGET, "runs", f"{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    # JVM warnings go to stderr: the result must stay the last stdout line
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={work}/tmp", "-XX:-UsePerfData",
           "-Xlog:disable", "-Xlog:all=warning:stderr"] + opts + jvm_flags
    cmd += ["-cp", classpath, "graftbench.Main",
            "--workload", workload, "--seed", str(seed), "--trace", str(trace),
            "--data", data, "--work", work, "--cores", str(cores),
            "--cache", os.path.join(TARGET, "refcache"),
            "--trace-out", os.path.join(TARGET, "traces", f"{workload}-seed{seed}.json")]
    log = log_path(workload, seed)
    os.makedirs(os.path.dirname(log), exist_ok=True)
    try:
        with open(os.path.join(work, "stdout"), "w") as out, open(log, "w") as err:
            code = run_group(cmd, work, os.environ, out, err, deadline)
        with open(os.path.join(work, "stdout")) as fh:
            return code, [l for l in fh.read().splitlines() if l.strip()]
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run_group(cmd, cwd, env, stdout, stderr, deadline):
    """Runs cmd in its own process group; kills the group at the
    deadline. Returns the exit code, or None on timeout."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=stdout, stderr=stderr,
                         start_new_session=True)
    try:
        return p.wait(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return None
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


def main():
    started = time.time()
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    # accepted as part of the benchmark's command line: a run sends a
    # fixed number of requests per class (30-40 s of traffic on 4
    # cores), so that every run of a workload measures the same work
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if a.workload not in WORKLOADS:
        fail(f"unknown workload {a.workload}; choose one of {', '.join(WORKLOADS)}")
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("the graft sources (src/main/scala/graft) are not in this checkout")
    data = data_dir()
    if not os.path.exists(os.path.join(data, "orders.parquet")):
        fail(f"no input tables in {data} (set GRAFT_BENCH_DATA)")
    if shutil.which("java") is None or shutil.which("sbt") is None:
        fail("java and sbt must be on PATH")

    classpath, opts, built = build(started + 850)
    # one run must end within 180 s; the first one of a checkout also builds
    deadline = (started + 890) if built else (started + 175)

    if not os.path.exists(CDS):
        fail(f"the class-data-sharing archive {CDS} is missing; delete {TARGET}/build.stamp to rebuild")
    code, lines = java(classpath, opts, a.workload, a.seed, a.trace, deadline,
                       [f"-XX:SharedArchiveFile={CDS}"])
    log = log_path(a.workload, a.seed)
    if code is None:
        fail(f"run exceeded its time limit; log in {log}")
    if code != 0 or not lines:
        with open(log) as fh:
            sys.stderr.write(fh.read()[-4000:])
        fail(f"benchmark JVM exited with {code}; log in {log}")
    try:
        result = json.loads(lines[-1])
    except ValueError:
        fail(f"no result line; log in {log}")
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        fail(f"malformed result {lines[-1][:200]}")
    want = manifest_metrics(a.trace)
    got = {n: m.get("unit") for n, m in result["metrics"].items()}
    if got != want:
        fail(f"the result's metrics {sorted(got.items())} are not the manifest's {sorted(want.items())}")
    for l in lines[:-1]:
        print(l)
    print(json.dumps(result))
    if not result["correct"]:
        with open(log) as fh:
            sys.stderr.write("".join(l for l in fh if l.startswith("FAILED")))
        sys.exit(1)


if __name__ == "__main__":
    main()
