#!/usr/bin/env python3
"""Run one perfbench workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload serve|ingest --seed N --seconds S --trace 0|1

Builds graft and the benchmark from source (``perfbench/build.py``), then runs
the workload in one JVM with Spark ``local[nproc]``. Everything it writes
stays under ``.bench_build`` (or ``$CARGO_TARGET_DIR``) in the checkout; the
run's index and Spark scratch are removed at the end. The JVM's stderr goes
to ``<build dir>/logs/<workload>-<seed>-t<trace>.log``.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # keep the benchmark directory free of caches
import build  # noqa: E402

TIMEOUT_S = 170
RESULT_PREFIX = "PERFBENCH_RESULT "


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["serve", "ingest"])
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=["0", "1"])
    a = ap.parse_args()

    cp, jsa = build.build()
    base = build.out_base()
    tag = f"{a.workload}-{a.seed}-t{a.trace}-{os.getpid()}"
    work = os.path.join(base, "runs", tag)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    logs = os.path.join(base, "logs")
    os.makedirs(logs, exist_ok=True)
    log_path = os.path.join(logs, f"{a.workload}-{a.seed}-t{a.trace}.log")

    flags = [f"-Djava.io.tmpdir={tmp}"] + ([f"-XX:SharedArchiveFile={jsa}"] if jsa else [])
    cmd = build.java_cmd(cp, *flags) + [
        "perfbench.PerfMain",
        "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", a.trace, "--work-dir", work,
    ]
    if a.trace == "1":
        spans = os.path.join(base, "traces", f"{a.workload}-{a.seed}.jsonl")
    t0 = time.time()
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, text=True)
        try:
            out, _ = proc.communicate(timeout=TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.communicate()
            out = ""
    try:
        if a.trace == "1" and os.path.exists(os.path.join(work, "spans.jsonl")):
            os.makedirs(os.path.dirname(spans), exist_ok=True)
            shutil.move(os.path.join(work, "spans.jsonl"), spans)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    lines = [l for l in out.splitlines() if l.startswith(RESULT_PREFIX)]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(f"perfbench: run failed (exit {proc.returncode}); log: {log_path}\n")
        with open(log_path) as f:
            tail = [l for l in f.read().splitlines() if "perfbench" in l or "Exception" in l]
        sys.stderr.write("\n".join(tail[-20:]) + "\n")
        return 1
    result = json.loads(lines[-1][len(RESULT_PREFIX):])
    sys.stderr.write(f"perfbench: {a.workload} seed {a.seed} took {time.time() - t0:.1f} s\n")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
