#!/usr/bin/env python3
"""The repository benchmark: one command, three workloads.

    python3 perfbench/run.py --workload <stream_roundtrip|stream_drain|registry_batch> \
        --seed <n> --seconds <s> --trace <0|1>

Run from the root of the repository. The first run builds the program and
the harness (perfbench/build.py). Each run starts one JVM with one Spark
session at local[nproc], prints one `metric ...` line per end-to-end metric
and one `check ...` line per output check, and ends with one JSON line:
{"correct", "attempted", "failed", "metrics"}. With --trace 1 the run is the
traced sweep over every layer and the metrics are the per-layer ones.
Per-run artifacts (stamp, samples, spans) land in .bench_build/artifacts.
See perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True  # write nothing into the source tree
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("stream_roundtrip", "stream_drain", "registry_batch")
MIN_FREE_BYTES = 4 << 30
# A run's own limit, and the limit of a run that also builds.
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 880


def git_commit() -> str:
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], capture_output=True, text=True, timeout=10)
        return out.stdout.strip() if out.returncode == 0 else "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    started = time.time()

    digest = build.build()
    # a run that also built gets the build's time on top of its own limit
    limit = min(RUN_LIMIT_S + time.time() - started, BUILD_LIMIT_S)

    os.makedirs(build.BUILD_DIR, exist_ok=True)
    free = shutil.disk_usage(build.BUILD_DIR).free
    if free < MIN_FREE_BYTES:
        print(f"perfbench: only {free >> 20} MiB free under {build.BUILD_DIR}", file=sys.stderr)
        return 1
    work = os.path.join(build.BUILD_DIR, f"work-{os.getpid()}")
    artifacts = os.path.join(build.BUILD_DIR, "artifacts")
    os.makedirs(artifacts, exist_ok=True)
    artifact = os.path.join(artifacts, f"{a.workload}-seed{a.seed}-trace{a.trace}.json")
    cmd = build.java(work) + [
        "graftbench.Main", "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", str(a.trace), "--work", work,
        "--data", os.path.join("perfbench", "data"), "--artifact", artifact]
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=max(10, limit - (time.time() - started)))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        print("perfbench: run exceeded its time limit", file=sys.stderr)
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = out.splitlines()
    if proc.returncode != 0 or not lines or not lines[-1].startswith('{"correct"'):
        print(f"perfbench: harness exited with {proc.returncode}", file=sys.stderr)
        return 1
    result = json.loads(lines[-1])
    with open(artifact) as f:
        art = json.load(f)
    art["stamp"].update({"commit": git_commit(), "source_digest": digest, "heap": build.heap()})
    with open(artifact, "w") as f:
        json.dump(art, f)
    for l in lines[:-1]:
        print(l)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
