"""Run-to-run spread of the end-to-end metrics.

    python3 perfbench/spread.py --workloads pandas_llm,stream_cdc --seeds 1-10
    python3 perfbench/spread.py --trace 1 --seeds 1-3

Runs ``run.py`` once per (workload, seed), one run at a time, and prints
for each metric its median and its quartile spread (Q3 - Q1) as a share of
the median, next to the bound in BENCHMARK.json. Raw results are appended
to ``perfbench/.work/spread.jsonl``.

With ``--trace 1`` every seed runs twice, untraced and then traced: it
prints the per-layer medians, whether the py4j call counts repeat exactly
across passes and runs, and the tracing overhead, the traced median
``pass_s`` against the untraced one over the same seeds.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=int, default=bench["run_seconds"])
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    log = os.path.join(HERE, ".work", "spread.jsonl")
    os.makedirs(os.path.dirname(log), exist_ok=True)
    for wl in args.workloads.split(","):
        values: dict[str, list[float]] = {}
        untraced: list[float] = []
        calls: dict[str, set[int]] = {}
        for seed in seeds(args.seeds):
            # a traced run is paired with an untraced one on the same seed
            for trace in sorted({0, args.trace}):
                cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", wl,
                       "--seed", str(seed), "--seconds", str(args.seconds), "--trace", str(trace)]
                out = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
                if out.returncode != 0:
                    print(f"{wl} seed {seed} trace {trace}: exit {out.returncode}")
                    continue
                lines = out.stdout.strip().splitlines()
                res = json.loads(lines[-1])
                run = json.loads(lines[-2])["run"]
                with open(log, "a") as f:
                    f.write(json.dumps({"workload": wl, "seed": seed, "trace": trace, **res, "run": run}) + "\n")
                if not res["correct"]:
                    print(f"{wl} seed {seed}: {res['failed']} of {res['attempted']} failed")
                if trace != args.trace:
                    untraced.append(res["metrics"]["pass_s"]["value"])
                    continue
                for layer, counts in run.get("py4j_calls_per_pass", {}).items():
                    calls.setdefault(layer, set()).update(counts)
                for k, v in res["metrics"].items():
                    values.setdefault(k, []).append(v["value"])
        for k, vs in values.items():
            if len(vs) < 2:
                continue
            q1, med, q3 = statistics.quantiles(vs, n=4)
            spread = (q3 - q1) / med if med else float("nan")
            print(f"{wl:14s} {k:24s} n={len(vs):2d} median={med:12.4f} "
                  f"spread={spread:6.3f} bound={bounds.get(k)}")
        for layer, counts in sorted(calls.items()):
            print(f"{wl:14s} {layer} py4j calls per pass, all passes of all runs: {sorted(counts)} "
                  f"({'repeat exactly' if len(counts) == 1 else 'DIFFER'})")
        if untraced and values.get("trace.pass_s"):
            base = statistics.median(untraced)
            traced = statistics.median(values["trace.pass_s"])
            print(f"{wl:14s} tracing overhead: pass_s {traced:.3f} s traced vs {base:.3f} s "
                  f"untraced (same seeds) = {traced - base:+.3f} s ({(traced - base) / base:+.1%})")
    return 0


if __name__ == "__main__":
    sys.exit(main())
