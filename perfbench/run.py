#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload placement --seed 1 --seconds 10 --trace 0

Builds the program from source on first use (perfbench/build.py), then runs
one JVM at local[<number of usable CPUs>] (graftbench.Main). With --trace 0
the result carries the end-to-end metrics of BENCHMARK.json, with --trace 1
its per-layer metrics. Exits 1 when an output check failed (the result line
then says "correct": false) and 2 when no result could be produced.
Everything it writes stays under .bench_build/ in the checkout.
"""
import argparse
import json
import math
import os
import shutil
import signal
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

JVM_TIMEOUT_S = 170
HEAP = "2g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    try:
        with open(os.path.join(build.ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)
    except (OSError, ValueError) as e:
        fail(f"cannot read BENCHMARK.json: {e}")
    wanted = spec["per_layer" if args.trace else "end_to_end"]

    try:
        classes = build.ensure_built()
        java = build.java_bin()
        jars = os.path.join(build.spark_home(), "jars", "*")
    except (build.BuildError, subprocess.TimeoutExpired) as e:
        fail(f"build failed: {e}")

    work = os.path.join(build.BUILD_DIR, f"run-{os.getpid()}")
    reports = os.path.join(build.BUILD_DIR, "reports")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(reports, exist_ok=True)
    out = os.path.join(reports, f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    if os.path.exists(out):
        os.remove(out)
    cores = len(os.sched_getaffinity(0))
    # no fixed or pre-touched heap: peak RSS follows the heap pages the run uses
    cmd = [java, f"-Xmx{HEAP}", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", f"{classes}{os.pathsep}{jars}", "graftbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--cores", str(cores), "--work", work, "--out", out]

    log_path = os.path.join(work, "jvm.log")
    proc = None

    def stop(signum=None, frame=None):
        if proc is not None and proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        if signum is not None:
            shutil.rmtree(work, ignore_errors=True)
            sys.exit(2)

    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        with open(log_path, "w") as log:
            proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log,
                                    start_new_session=True, cwd=work)
            try:
                stdout, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                stop()
                fail(f"run exceeded {JVM_TIMEOUT_S} s")
        sys.stdout.write(stdout.decode(errors="replace"))
        sys.stdout.flush()
        if proc.returncode != 0 or not os.path.exists(out):
            with open(log_path, errors="replace") as f:
                sys.stderr.write(f.read()[-6000:])
            fail(f"benchmark JVM exited with {proc.returncode}")
        with open(out) as f:
            res = json.load(f)
    finally:
        stop()
        shutil.rmtree(work, ignore_errors=True)

    source = res["per_layer" if args.trace else "end_to_end"]
    metrics = {}
    for m in wanted:
        got = source.get(m["name"])
        if got is None or got["value"] is None or not math.isfinite(got["value"]):
            fail(f"metric {m['name']} missing from the result")
        if got["unit"] != m["unit"]:
            fail(f"metric {m['name']} has unit {got['unit']}, BENCHMARK.json says {m['unit']}")
        metrics[m["name"]] = {"value": got["value"], "unit": got["unit"]}
    line = {"correct": bool(res["correct"]), "attempted": int(res["attempted"]),
            "failed": int(res["failed"]), "metrics": metrics}
    print(json.dumps(line, separators=(",", ":")))
    sys.exit(0 if res["correct"] else 1)


if __name__ == "__main__":
    main()
