#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload rapid_steady --seed 1 --seconds 20 --trace 0

Run from the repository root. Builds the program and the benchmark on first
use (see build.py), runs the workload in one JVM on local[<cores>], checks
every output against the benchmark's oracle and prints
{"correct", "attempted", "failed", "metrics"}: the end-to-end metrics of
BENCHMARK.json with --trace 0, its per-layer metrics with --trace 1. A
traced run also writes its spans to <build dir>/traces/.
"""
import argparse
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import tempfile

sys.dont_write_bytecode = True
import build  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
JVM_TIMEOUT_S = 170
ADD_OPENS = ["java.base/" + p for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]
RESULT_TAG = "PERFBENCH_RESULT "


def fail(msg, code=1):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


def main():
    # a terminated runner still stops and reaps its JVM (the finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        spec = json.load(f)
    if args.workload not in [w["name"] for w in spec["workloads"]]:
        fail(f"unknown workload {args.workload}", 2)
    listed = spec["per_layer"] if args.trace else spec["end_to_end"]
    units = {m["name"]: m["unit"] for m in listed}

    try:
        classes = build.build()
        jars = build.spark_jars()
    except build.BuildError as e:
        fail(f"build failed: {e}", 2)

    bdir = build.build_dir()
    os.makedirs(os.path.join(bdir, "runs"), exist_ok=True)
    os.makedirs(os.path.join(bdir, "logs"), exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=os.path.join(bdir, "runs"))
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    log_path = os.path.join(bdir, "logs", tag + ".log")
    cmd = [build.java()]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-Dfile.encoding=UTF-8", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC", "-Xms2g", "-Xmx2g", "-XX:-UsePerfData",
            "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
            "-cp", classes + os.pathsep + os.path.join(jars, "*"),
            "perfbench.Main", "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", work, "--bench", HERE,
            "--trace-out", os.path.join(bdir, "traces", tag + ".jsonl")]
    os.makedirs(os.path.join(work, "tmp"))
    proc = None
    try:
        with open(log_path, "w") as log:
            proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, cwd=work, text=True)
            try:
                out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                fail(f"workload timed out after {JVM_TIMEOUT_S} s; log: {log_path}", 3)
    finally:
        if proc is not None and proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)

    lines = [l for l in out.splitlines() if l.startswith(RESULT_TAG)]
    if proc.returncode != 0 or not lines:
        with open(log_path, encoding="utf-8", errors="replace") as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        fail(f"workload exited with {proc.returncode} and no result; log: {log_path}", 4)
    res = json.loads(lines[-1][len(RESULT_TAG):])

    got = res["layers"] if args.trace else res["e2e"]
    if set(got) != set(units):
        fail(f"metrics differ from BENCHMARK.json: missing {sorted(set(units) - set(got))}, "
             f"extra {sorted(set(got) - set(units))}", 5)
    bad = [k for k, v in got.items() if not math.isfinite(v)]
    if bad:
        fail(f"non-finite metrics: {bad}", 5)
    attempted, failed = int(res["attempted"]), int(res["failed"])
    e2e = res["e2e"]
    summary = ", ".join(f"{k}={v:.4g}" for k, v in sorted(e2e.items()))
    print(f"[perfbench] {args.workload} seed={args.seed}: {summary}, "
          f"error_rate={failed / max(attempted, 1):.4g} ({failed}/{attempted})", file=sys.stderr)
    print(json.dumps({
        "correct": failed == 0 and attempted > 0,
        "attempted": max(attempted, 1),
        "failed": failed,
        "metrics": {k: {"value": got[k], "unit": units[k]} for k in units},
    }))


if __name__ == "__main__":
    main()
