#!/usr/bin/env python3
"""Benchmark of the graft feature-store library: one workload per run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the library and the
benchmark from source with sbt (into .bench_build/); later runs reuse the
build while the sources are unchanged. Each run generates its inputs from
the seed, runs the workload in one JVM at local[nproc], checks every output
outside the timed windows, and prints the metrics as the last stdout line.
With --trace 1 it measures an untraced and then a traced window and prints
the per-layer metrics; the spans and raw counters are kept in
.bench_build/trace/<workload>-seed<n>/.
"""
import argparse
import hashlib
import json
import math
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
import oracle  # noqa: E402

BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("offline_features", "online_serving")
# JDK 17 module openings Spark needs outside spark-submit (as in build.sbt)
OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]
RUN_LIMIT_S = 170


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_hash():
    """Hash of every file the build reads; a changed source rebuilds."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        if not os.path.exists(r):
            raise SystemExit(f"missing build input {os.path.relpath(r, ROOT)}")
        files = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile with sbt when the sources changed; returns the classpath and
    whether it built."""
    stamp_file = os.path.join(BUILD, "build.stamp")
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp = source_hash()
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read(), False
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx3g")
    log("building library and benchmark with sbt")
    t0 = time.time()
    tmp = os.path.join(BUILD, "sbt-tmp")
    os.makedirs(tmp, exist_ok=True)
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false", "-J-XX:-UsePerfData",
         f"-Djava.io.tmpdir={tmp}", "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
        stdin=subprocess.DEVNULL, timeout=850)
    lines = [ln for ln in p.stdout.splitlines() if ln.strip()]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:])
        raise SystemExit("build failed")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"built in {time.time() - t0:.0f}s")
    return cp, True


def cores():
    return len(os.sched_getaffinity(0))


def run_jvm(cp, a, run_dir, deadline):
    # One GC thread: parallel evacuation lays the online store out in a
    # different order each run, and its scan time followed the layout
    # (p50 36 or 50 ms on the same inputs); one thread makes it repeatable.
    cmd = (["java", *OPENS, "-Xmx3g", "-XX:+UseG1GC", "-XX:ParallelGCThreads=1",
            "-XX:-UsePerfData", f"-Djava.io.tmpdir={run_dir}/tmp", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC", "-cp", cp, "perfbench.Main",
            "--workload", a.workload, "--dir", run_dir, "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--seed", str(a.seed), "--cores", str(cores())])
    os.makedirs(os.path.join(run_dir, "tmp"), exist_ok=True)
    p = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr, stdin=subprocess.DEVNULL)
    try:
        rc = p.wait(timeout=max(deadline - time.time(), 1))
    except subprocess.TimeoutExpired:
        p.kill()
        p.wait()
        raise SystemExit("workload did not finish in time")
    if rc != 0:
        raise SystemExit(f"workload JVM exited with {rc}")
    with open(os.path.join(run_dir, "result.json")) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    started = time.time()

    cp, built = build()
    # a run that built gets its full time limit after the build
    deadline = (time.time() if built else started) + RUN_LIMIT_S
    run_dir = os.path.join(BUILD, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    try:
        counts, digest = gen.generate(a.workload, a.seed, run_dir)
        log(f"inputs seed={a.seed} rows={counts} sha256={digest}")
        r = run_jvm(cp, a, run_dir, deadline)
        if a.workload == "offline_features":
            bad = oracle.compare(run_dir, r["extra"]["tables"])
            for q, why in sorted(bad.items()):
                n = r["extra"]["attempts"].get(q, 1)
                r["failed"] += n
                log(f"FAILED {q}: output differs from its DuckDB oracle: {why}")
        spans = None
        if a.trace:
            with open(os.path.join(run_dir, "spans.json")) as f:
                spans = json.load(f)
            keep = os.path.join(BUILD, "trace", f"{a.workload}-seed{a.seed}")
            os.makedirs(keep, exist_ok=True)
            for name in ("spans.json", "result.json"):
                shutil.copy(os.path.join(run_dir, name), os.path.join(keep, name))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    def named(figures):  # a figure with no samples prints as null
        return {k: {"value": None if isinstance(v, float) and math.isnan(v) else v, "unit": u}
                for k, (v, u) in figures.items()}

    print(json.dumps({"workload": a.workload, "seed": a.seed, "inputs": counts,
                      "input_sha256": digest, "conf_hash": r["conf_hash"],
                      "cores": r["cores"], "errors": r["errors"],
                      "detail": named(metrics.detail(r, spans))}))
    print(json.dumps({
        "correct": r["failed"] == 0,
        "attempted": r["attempted"],
        "failed": r["failed"],
        "metrics": named(metrics.per_layer(r) if a.trace else metrics.end_to_end(r)),
    }))


if __name__ == "__main__":
    main()
