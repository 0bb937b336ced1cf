#!/usr/bin/env python3
"""Benchmark of the graft engine: pump jobs and query sessions, timed end
to end and per layer.

Usage (from the root of a checkout):
  python3 graftbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine from source (graftbench/build.py), generates the
workload's inputs from the seed (graftbench/gen.py), times JVM launch to
a warm session twice, runs one closed-loop client for --seconds,
checks every result, and prints one JSON object as the last line of
standard output. Everything it writes lives under .bench_build/ (or
$CARGO_TARGET_DIR) in the checkout; the per-run scratch root is removed
at the end, and the run fails if anything is left behind.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # write nothing into the checkout's sources

import build  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402

WORKLOADS = ("pump_bulk", "query_corpus")
SETUPS = 2  # JVM launches per run; setup_s is their median
DEADLINE_S = 170  # a run must end within 180 s once built
HEAP = "-Xmx3g"
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


class RunError(Exception):
    pass


def launch(classes, run_root, args, deadline):
    """Start one benchmark JVM and wait for it to end. Returns the time
    from spawn to its READY line. The JVM is killed at `deadline`."""
    log = open(os.path.join(run_root, "jvm.log"), "ab")
    cmd = (["java", HEAP, "-XX:+UseParallelGC", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={run_root}/tmp",
            f"-Dderby.system.home={run_root}", "-Dspark.ui.enabled=false"]
           + ADD_OPENS
           + ["-cp", os.pathsep.join([classes, os.path.join(build.spark_jars(), "*")]),
              "graftbench.GraftBench"]
           + [f"{k}={v}" for k, v in args.items()])
    t0 = time.perf_counter()
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log,
                            stdin=subprocess.DEVNULL, cwd=run_root)
    timer = threading.Timer(max(deadline - time.monotonic(), 1), proc.kill)
    timer.start()
    ready = None
    try:
        for line in proc.stdout:
            if line.strip() == b"READY" and ready is None:
                ready = time.perf_counter() - t0
        code = proc.wait()
    finally:
        timer.cancel()
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        log.close()
    if code != 0 or ready is None:
        with open(os.path.join(run_root, "jvm.log"), "rb") as fh:
            tail = fh.read()[-4000:].decode(errors="replace")
        raise RunError(f"benchmark JVM exited with {code}:\n{tail}")
    return ready


# what the benchmark itself keeps under a run root
OWN = {"dump", "db", "results", "out.json", "jvm.log", "tmp", "spark-local"}


def leftovers(run_root):
    """What the program left in the run root once its JVMs ended:
    anything in its java.io.tmpdir or spark.local.dir (stream and pooled
    checkpoints, TempDirs, block managers), and anything else beside the
    benchmark's own files."""
    left = []
    for d in ("tmp", "spark-local"):
        p = os.path.join(run_root, d)
        if os.path.isdir(p):
            left += [os.path.join(p, n) for n in sorted(os.listdir(p))]
    return left + [os.path.join(run_root, n)
                   for n in sorted(set(os.listdir(run_root)) - OWN)]


def oracle_compare(results, inputs, oracle_sql, names, deadline):
    """Compares every result the gate wrote (results/<phase>/<row>) with
    its SparkEntry.oracleSql twin in DuckDB, through the engine's own
    scripts/selfcheck.py. Returns {row: reason} for every row that
    differs in any phase, or that has no oracle."""
    wrong = {n: "no oracle SQL" for n in names if n not in oracle_sql}
    for phase in sorted(os.listdir(results)):
        d = os.path.join(results, phase)
        with open(os.path.join(d, "oracle_sql.json"), "w") as fh:
            json.dump(oracle_sql, fh)
        p = subprocess.run(
            [sys.executable, os.path.join(ROOT, "scripts", "selfcheck.py"), d, inputs]
            + names, capture_output=True, text=True,
            timeout=max(deadline - time.monotonic(), 1))
        fails = [ln[len("  FAIL "):].split(": ", 1) for ln in p.stdout.splitlines()
                 if ln.startswith("  FAIL ")]
        if p.returncode != 0 and not fails:
            raise RunError(f"selfcheck exited with {p.returncode}:\n{p.stderr[-4000:]}")
        for name, why in fails:
            wrong.setdefault(name, f"{phase}: {why}")
    return wrong


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    start = time.monotonic()
    cores = len(os.sched_getaffinity(0))
    build_dir = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    before = set(os.listdir(ROOT))
    classes = build.build(ROOT, build_dir)
    deadline = time.monotonic() + DEADLINE_S
    inputs = gen.cached(os.path.join(build_dir, "inputs"), a.workload, a.seed, cores)
    run_root = os.path.join(build_dir, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_root, ignore_errors=True)
    os.makedirs(os.path.join(run_root, "tmp"))
    jvm_args = {"workload": a.workload, "inputs": inputs, "root": run_root,
                "seconds": a.seconds, "trace": a.trace, "seed": a.seed,
                "cores": cores, "out": os.path.join(run_root, "out.json")}
    try:
        setups = [launch(classes, run_root, dict(jvm_args, mode="setup"), deadline)
                  for _ in range(SETUPS - 1)]
        setups.append(launch(classes, run_root, dict(jvm_args, mode="run"), deadline))
        with open(jvm_args["out"]) as fh:
            raw = json.load(fh)
        # what the last round trip of a pump workload left on disk
        out_dirs = [os.path.join(run_root, "dump"), os.path.join(run_root, "db", "stage")]
        files, size = metrics.listing(*out_dirs)
        written = {"files_written": (files, "count"), "bytes_written": (size, "bytes"),
                   "write_amp": (metrics.write_amp(out_dirs, inputs) if files else 0.0,
                                 "frac")}
        wrong = {}
        if "oracle_sql" in raw:
            names = sorted({o["name"] for o in raw["ops"]})
            wrong = oracle_compare(os.path.join(run_root, "results"), inputs,
                                   raw["oracle_sql"], names, deadline)
        # an op whose result failed the JVM-side gate is wrong every time it ran
        for f in raw["failures"]:
            if f["op"].startswith("gate:"):
                wrong.setdefault(f["op"][len("gate:"):], f["why"])
        left = leftovers(run_root)
    finally:
        shutil.rmtree(run_root, ignore_errors=True)
        runs = os.path.join(build_dir, "runs")
        if os.path.isdir(runs) and not os.listdir(runs):
            os.rmdir(runs)
    # the run root must be gone, and nothing new at the checkout root
    left += [run_root] if os.path.exists(run_root) else []
    keep = before | {os.path.basename(build_dir)}
    left += [os.path.join(ROOT, n) for n in sorted(set(os.listdir(ROOT)) - keep)]
    for f in raw["failures"]:
        print(f"failed: {f['op']}: {f['why']}", file=sys.stderr)
    for name, why in sorted(wrong.items()):
        print(f"wrong result: {name}: {why[:300]}", file=sys.stderr)
    for p in left:
        print(f"left behind: {p}", file=sys.stderr)
    _, failed = metrics.fail_frac(raw["ops"], wrong)
    e2e, tail_info = metrics.end_to_end(raw, setups)
    chosen = metrics.per_layer(raw, wrong, written) if a.trace else e2e
    if a.trace:
        chosen.update(tail_info)
    correct = (failed == 0 and not wrong and not raw["failures"] and not left)
    print(json.dumps({
        "correct": correct,
        "attempted": len(raw["ops"]),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in chosen.items()},
    }))
    print(f"elapsed {time.monotonic() - start:.1f}s", file=sys.stderr)
    return 0 if correct else 1


if __name__ == "__main__":
    try:
        sys.exit(main())
    except (RunError, FileNotFoundError, subprocess.CalledProcessError) as e:
        print(f"benchmark failed: {e}", file=sys.stderr)
        sys.exit(2)
