#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload queries_lazy --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. The first run builds the program and the
harness from source with sbt (`perfbench/build.sbt`) and generates the
input tables (`perfbench/gen_data.py`); both land in `.bench_build/` and are
reused while their sources are unchanged. Every run then gets a fresh
working directory under `.bench_build/runs/` (java.io.tmpdir, Spark local
dir, checkpoints, sink state and index dirs), deleted when the run ends, so
no run inherits state a previous run built.

The line before the result is the host stamp: core count, Spark master, sf,
heap, Spark and JDK versions, source commit, seed and whether tracing was
on. Extra options: `--cores N` (Spark master local[N], default: the cores
this process may use) and `--trace-out FILE` (keep the trace JSONL there;
otherwise it is kept under `.bench_build/traces/`).
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
BUILD = os.path.join(ROOT, ".bench_build")
HEAP = "3g"
JVM_TIMEOUT_S = 170
CENSUS_TIMEOUT_S = 7200
CENSUS_HEAP = "6g"
WORKLOADS = ("queries_lazy", "stream_ingest", "census", "batches")
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


def source_key():
    """Hash of everything the build compiles, so an edit forces a rebuild."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def build():
    """Compile program + harness; return the runtime classpath."""
    if not os.path.isfile(os.path.join(ROOT, "src", "main", "scala", "graft", "SparkEntry.scala")):
        fail("program sources (src/main/scala) not found; run from a checkout root")
    key = source_key()
    cp_file = os.path.join(BUILD, f"classpath-{key}.txt")
    if os.path.isfile(cp_file):
        with open(cp_file) as fh:
            return fh.read().strip(), key
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as fh:
        r = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
             "compile", "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=fh, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
            timeout=840)
    with open(log) as fh:
        lines = fh.read().splitlines()
    cps = [l.strip() for l in lines if "scala-2.13/classes" in l and not l.startswith("[")]
    if r.returncode != 0 or not cps:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail("build failed")
    with open(cp_file, "w") as fh:
        fh.write(cps[-1])
    return cps[-1], key


def tables(spec):
    """Generate the input tables once per (sf, data seed, generator)."""
    with open(os.path.join(HERE, "gen_data.py"), "rb") as fh:
        gen = hashlib.sha256(fh.read()).hexdigest()[:12]
    d = os.path.join(BUILD, "data", f"sf{spec['sf']}-seed{spec['data_seed']}-{gen}")
    if not os.path.isdir(d):
        tmp = f"{d}.tmp{os.getpid()}"
        r = subprocess.run([sys.executable, os.path.join(HERE, "gen_data.py"),
                            "--sf", str(spec["sf"]), "--seed", str(spec["data_seed"]),
                            "--out", tmp], stdin=subprocess.DEVNULL)
        if r.returncode != 0:
            shutil.rmtree(tmp, ignore_errors=True)
            fail("table generation failed")
        os.replace(tmp, d)
    return d


def commit():
    if not os.path.exists(os.path.join(ROOT, ".git")):
        return "unknown"
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--cores", type=int, default=len(os.sched_getaffinity(0)))
    ap.add_argument("--trace-out")
    ap.add_argument("--sf", help="scale factor of the input tables (default: workloads.json)")
    a = ap.parse_args()
    if not os.path.isfile(os.path.join(HERE, "workloads.json")):
        fail("perfbench/workloads.json not found")
    with open(os.path.join(HERE, "workloads.json")) as fh:
        spec = json.load(fh)
    if a.sf:
        spec["sf"] = a.sf

    classpath, key = build()
    data = tables(spec)
    run = os.path.join(BUILD, "runs", f"{os.getpid()}-{time.time_ns()}")
    for sub in ("tmp", "local"):
        os.makedirs(os.path.join(run, sub))
    trace = os.path.join(run, "trace.jsonl")
    result = os.path.join(run, "result.txt")
    heap = CENSUS_HEAP if a.workload == "census" else HEAP
    cmd = (["java", f"-Xmx{heap}", f"-Djava.io.tmpdir={run}/tmp"] +
           [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           ["-cp", classpath, "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--data", data, "--work", run,
            "--spec", os.path.join(HERE, "workloads.json"),
            "--trace-out", trace, "--result", result, "--cores", str(a.cores),
            "--sf", str(spec["sf"])])
    log = os.path.join(run, "jvm.log")
    proc = None
    try:
        with open(log, "w") as fh:
            proc = subprocess.Popen(cmd, cwd=run, stdout=fh, stderr=subprocess.STDOUT,
                                    stdin=subprocess.DEVNULL, start_new_session=True)
            try:
                # a run on fewer cores than the host has (the single-thread
                # baseline) is allowed proportionally longer
                limit = (CENSUS_TIMEOUT_S if a.workload == "census" else
                         JVM_TIMEOUT_S * max(1, len(os.sched_getaffinity(0)) // a.cores))
                rc = proc.wait(timeout=limit)
            except subprocess.TimeoutExpired:
                rc = None
        if rc != 0 or not os.path.isfile(result):
            with open(log, errors="replace") as fh:
                sys.stderr.write("".join(fh.readlines()[-60:]))
            fail(f"benchmark JVM {'timed out' if rc is None else f'exited {rc}'}")
        with open(result) as fh:
            detail, line = fh.read().strip().splitlines()[-2:]
        stamp = {"nproc": len(os.sched_getaffinity(0)), "master": f"local[{a.cores}]",
                 "sf": spec["sf"], "xmx": heap, "commit": commit(), "source": key,
                 "seed": a.seed, "seconds": a.seconds, "trace": a.trace}
        stamp.update(json.loads(detail))
        if a.trace or a.workload == "batches":
            out = a.trace_out or os.path.join(
                BUILD, "traces", f"{a.workload}-seed{a.seed}-c{a.cores}.jsonl")
            os.makedirs(os.path.dirname(os.path.abspath(out)), exist_ok=True)
            with open(out, "w") as fo, open(trace) as fi:
                if a.workload != "batches":
                    fo.write(json.dumps({"stamp": stamp}) + "\n")
                shutil.copyfileobj(fi, fo)
        print(json.dumps({"stamp": stamp}))
        print(line)
    finally:
        if proc is not None and proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        if os.path.isfile(log):
            shutil.copyfile(log, os.path.join(BUILD, "last-run.log"))
        shutil.rmtree(run, ignore_errors=True)


if __name__ == "__main__":
    main()
