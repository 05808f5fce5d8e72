"""Chain-shaped benchmark of the eth2dgraph_spark engine.

    python3 chainbench/run.py --workload {follow,analyse} --seed N \
        --seconds S --trace {0,1}

Run from the repository root. Inputs are generated from the seed (and
cached under .chainbench/cache), the workload runs in a child process on
local[<cores>], and the last line of standard output is one JSON object:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are the end-to-end ones of BENCHMARK.json; with --trace 1 they are the
per-layer ones, and spans with per-span engine counters are written to
.chainbench/trace/<workload>-s<seed>.json. The run's sink, stream
checkpoint, event log and Spark scratch directories are removed when it
ends, and every process it started is stopped.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402

STATE = ".chainbench"
# the child must finish well inside the 180 s a run may take
CHILD_TIMEOUT_S = 170


def group_stats(pgid: int) -> dict[int, list[str]]:
    """For each process in group `pgid` (the workload process and everything
    it started: the JVM and the Python workers), the fields of
    /proc/<pid>/stat after the command name."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:  # the process ended while we looked
            continue
        if int(fields[2]) == pgid:
            out[int(name)] = fields
    return out


def group_memory_bytes(pgid: int) -> int:
    """Resident memory of the process group with shared pages split among
    the processes that share them (PSS): the JVM forks short-lived helper
    processes whose RSS would count the whole JVM again."""
    total = 0
    for pid in group_stats(pgid):
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            continue
    return total


def stop_group(pgid: int, timeout: float = 20.0) -> None:
    """SIGTERM, then SIGKILL, the process group; return once it is empty."""
    for sig, wait in ((signal.SIGTERM, timeout / 2), (signal.SIGKILL, timeout / 2)):
        if not group_stats(pgid):
            return
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        deadline = time.monotonic() + wait
        while group_stats(pgid) and time.monotonic() < deadline:
            time.sleep(0.05)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(gen.GENERATORS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    args = ap.parse_args(argv)
    if args.seconds < 1:
        ap.error("--seconds must be at least 1")
    if not os.path.isdir("eth2dgraph_spark"):
        print("run.py: no eth2dgraph_spark package here; run from the repository root",
              file=sys.stderr)
        return 2

    root = os.getcwd()
    inputs, _ = gen.ensure_inputs(os.path.join(STATE, "cache"), args.workload, args.seed)
    work = os.path.abspath(os.path.join(STATE, f"run-{os.getpid()}"))
    trace_dir = os.path.join(STATE, "trace")
    os.makedirs(trace_dir, exist_ok=True)
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "local"):
        os.makedirs(os.path.join(work, d))
    result = os.path.join(work, "result.json")
    env = dict(os.environ)
    env["PYTHONPATH"] = root + (os.pathsep + env["PYTHONPATH"] if env.get("PYTHONPATH") else "")
    env["TMPDIR"] = os.path.join(work, "tmp")
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")  # would override spark.local.dir
    env.setdefault("SPARK_DRIVER_MEM", "2g")
    cmd = [
        sys.executable, os.path.join(HERE, "workloads.py"),
        "--workload", args.workload, "--seconds", str(args.seconds),
        "--trace", str(args.trace), "--inputs", os.path.abspath(inputs), "--work", work,
        "--result", result,
        "--trace-file", os.path.join(trace_dir, f"{args.workload}-s{args.seed}.json"),
        "--spawned", repr(time.time()),
    ]
    peak = 0
    child = subprocess.Popen(cmd, env=env, start_new_session=True)
    try:
        deadline = time.monotonic() + CHILD_TIMEOUT_S
        while child.poll() is None:
            if time.monotonic() > deadline:
                print(f"run.py: child exceeded {CHILD_TIMEOUT_S} s", file=sys.stderr)
                break
            peak = max(peak, group_memory_bytes(child.pid))
            time.sleep(0.1)
    finally:
        stop_group(child.pid)
        child.wait()
        try:
            with open(result) as f:
                out = json.load(f)
        except (OSError, ValueError):
            out = None
        shutil.rmtree(work, ignore_errors=True)
    if child.returncode != 0 or out is None:
        print(f"run.py: workload process failed (exit {child.returncode})", file=sys.stderr)
        return 1
    if not args.trace:
        out["metrics"]["peak_rss_mb"] = {"value": peak / 2**20, "unit": "MB"}
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
