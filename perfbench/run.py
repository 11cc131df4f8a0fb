"""Benchmark entry point.

    python3 perfbench/run.py --workload pandas_llm --seed 1 --seconds 12 --trace 0

Run from the repository root. Pins the environment, starts one run of
``harness.py`` in its own process group, waits for that run and for every
process it started (the Spark JVM and its Python workers) to end, and
prints the run's result as the last line of standard output: one JSON
object with ``correct``, ``attempted``, ``failed`` and ``metrics``.
Everything the run writes goes under ``perfbench/.work/``.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
DRIVER_MEM = "1g"  # fixed heap, well below the RAM of a small box
RUN_TIMEOUT_S = 150  # with the 15 s grace below, a run ends within 180 s


def pinned_env() -> dict[str, str]:
    env = dict(os.environ)
    env.update(
        {
            "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
            "PONTEM_DRIVER_MEM": DRIVER_MEM,
            # Python workers import pontem_spark from the repository root
            "PYTHONPATH": ROOT,
            "PYTHONHASHSEED": "0",
            "SPARK_LOCAL_DIRS": os.path.join(WORK, "spark-local"),
            "TMPDIR": os.path.join(WORK, "tmp"),
            "PYSPARK_PYTHON": sys.executable,
            "PYSPARK_DRIVER_PYTHON": sys.executable,
        }
    )
    return env


def group_pids(pgid: int) -> list[int]:
    """Live processes of one process group."""
    out = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # fields[0] is the state, fields[2] the process group
        if int(fields[2]) == pgid and fields[0] != "Z":
            out.append(int(entry))
    return out


def wait_group(pgid: int, grace_s: float = 15.0) -> None:
    """Wait for every process of the group to end; end stragglers."""
    deadline = time.monotonic() + grace_s
    while group_pids(pgid) and time.monotonic() < deadline:
        time.sleep(0.1)
    for sig in (signal.SIGTERM, signal.SIGKILL):
        if not group_pids(pgid):
            return
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        time.sleep(1.0)


def wait_previous_jvm(timeout_s: float = 60.0) -> None:
    """A JVM left by an earlier run would compete for cores and memory."""
    path = os.path.join(WORK, "jvm.pid")
    try:
        with open(path) as f:
            pid = int(f.read().strip())
    except (OSError, ValueError):
        return
    deadline = time.monotonic() + timeout_s
    while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
        time.sleep(0.1)
    os.remove(path)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "pontem_spark")):
        print(f"perfbench: no pontem_spark package under {ROOT}", file=sys.stderr)
        return 2
    for d in ("spark-local", "tmp"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    wait_previous_jvm()
    result = os.path.join(WORK, f"result-{os.getpid()}.json")
    env = pinned_env()
    cmd = [
        sys.executable, os.path.join(HERE, "harness.py"),
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--work-dir", WORK, "--result", result,
    ]
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=sys.stderr, start_new_session=True)
    try:
        code = proc.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print("perfbench: run timed out", file=sys.stderr)
        code = -1
    finally:
        wait_group(proc.pid)
    if code != 0 or not os.path.exists(result):
        print(f"perfbench: run failed with code {code}", file=sys.stderr)
        return 1
    with open(result) as f:
        out = json.load(f)
    os.remove(result)
    pinned = {k: env[k] for k in ("SPARK_GRAFT_CPUS", "PONTEM_DRIVER_MEM", "PYTHONPATH",
                                  "PYTHONHASHSEED", "SPARK_LOCAL_DIRS")}
    summary = {"env": pinned, "run": out["summary"]}
    if args.trace:
        # the traced run's per-layer output: figures, bases, spans
        trace_dir = os.path.join(WORK, "trace")
        os.makedirs(trace_dir, exist_ok=True)
        path = os.path.join(trace_dir, f"{args.workload}-seed{args.seed}.json")
        with open(path, "w") as f:
            json.dump({**summary, "metrics": out["result"]["metrics"]}, f, indent=1)
        summary["run"] = {k: v for k, v in summary["run"].items() if k != "spans"}
        summary["trace_file"] = os.path.relpath(path, ROOT)
    print(json.dumps(summary))
    print(json.dumps(out["result"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
