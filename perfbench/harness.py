"""One benchmark run inside a pinned environment (started by ``run.py``).

Order of a run: set up once, in a fresh JVM with nothing cached (this
process is new); one untimed pass that checks every operation against its
DuckDB reference; discarded warm-up passes; then closed-loop timed passes, one client, until
``--seconds`` have passed. With ``--trace 1`` the same run also counts py4j
calls, writes Spark's event log, and reports per-layer figures instead of
end-to-end ones.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

import numpy as np

import oracle
import trace
import workloads as W

LAYERS = ("core", "operators")
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# Byte-identical copies of the repository's test tables (seed 42), one
# directory per scale factor; every run reads them and none writes them.
FIXTURES = os.path.join(HERE, "fixtures")


def bench_spec() -> dict:
    """BENCHMARK.json: the metric names and units every run reports."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for {pid}")


def percentile(xs: list[float], q: float) -> float:
    return float(np.percentile(np.asarray(xs), q))


def slope(ys: list[float]) -> float:
    if len(ys) < 2:
        return 0.0
    return float(np.polyfit(np.arange(len(ys)), np.asarray(ys), 1)[0])


def failure(op: str, e: Exception) -> str:
    return f"{op}: {type(e).__name__}: {str(e)[:300]}"


class Run:
    def __init__(self, args, workload: W.Workload | None = None) -> None:
        self.args = args
        self.wl = workload or W.WORKLOADS[args.workload]
        self.trace = bool(args.trace)
        self.work = os.path.abspath(args.work_dir)
        self.rng = np.random.default_rng(args.seed)
        self.data_dir = os.path.join(FIXTURES, f"sf{self.wl.sf}")
        self.attempted = 0
        self.failed: list[str] = []  # every mismatch and error, never dropped
        self.layer: dict[str, float] = {}
        self.pass_calls: dict[str, list[int]] = {}  # py4j calls per pass, per layer
        self.pass_no = -1  # the untimed pass
        self.spans: list[dict] = []
        self.windows_ms: list[tuple[int, int]] = []
        self.phases: dict[str, float] = {}

    def phase(self, name: str) -> None:
        self.phases[name] = time.perf_counter() - self.t_start - sum(self.phases.values())

    # ------------------------------------------------------------ set-up

    def conf(self) -> dict[str, str]:
        tmp = os.path.join(self.work, "tmp")
        os.makedirs(tmp, exist_ok=True)
        # Initial heap = maximum heap: when G1 sized the heap itself, pass
        # times and peak RSS moved by 10-25% from one run to the next
        # (4-vCPU VM, 16 GB).
        heap = os.environ.get("PONTEM_DRIVER_MEM", "1g")
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": f"-Xms{heap} -Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
        }
        if self.trace:
            log_dir = os.path.join(self.work, "eventlog")
            os.makedirs(log_dir, exist_ok=True)
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": "file://" + log_dir,
                    "spark.eventLog.compress": "false",
                    "spark.eventLog.rolling.enabled": "false",
                }
            )
        return conf

    def setup(self):
        """Session start, table warm-up and Python-worker spin-up, once and
        cold: this process and its JVM are new, so the set-up pays for JVM
        launch, class loading and the tables' footer schema inference. (A
        second set-up in the same process would reuse the JVM and the
        schema cache, and a change to either would not show.)"""
        from pyspark.sql.functions import pandas_udf

        from pontem_spark.session import get_spark
        from pontem_spark.sources.tables import load_table

        t0 = time.perf_counter()
        spark = get_spark(app_name=f"perfbench-{self.wl.name}", extra_conf=self.conf())
        spark.sparkContext.setLogLevel("ERROR")
        t1 = time.perf_counter()
        for t in self.wl.tables:
            load_table(spark, self.data_dir, t).count()
        t2 = time.perf_counter()
        plus_one = pandas_udf(lambda s: s + 1, "long")
        cpus = spark.sparkContext.defaultParallelism
        spark.range(cpus, numPartitions=cpus).select(plus_one("id")).collect()
        t3 = time.perf_counter()
        self.setup_s = t3 - t0
        self.layer["session.start_s"] = t1 - t0
        self.layer["sources.load_s"] = t2 - t1
        self.layer["session.worker_spinup_s"] = t3 - t2
        self.jvm_pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())
        with open(os.path.join(self.work, "jvm.pid"), "w") as f:
            f.write(str(self.jvm_pid))
        return spark

    # ------------------------------------------------------------ passes

    def span(self, op: str, start: float, end: float, **extra) -> None:
        """Keep one operation's span (seconds since the run started) for the
        traced run's output; its parent is the pass it ran in."""
        if self.trace:
            t = self.t_start
            rec = {"pass": self.pass_no, "op": op, "start": start - t, "end": end - t}
            rec.update({k: (v - t if k == "built" else v) for k, v in extra.items()})
            self.spans.append(rec)

    def timed(self, one_pass, between) -> list:
        """Run and discard the warm-up passes, then run timed passes until
        the budget is spent. ``between`` runs after every pass, outside the
        clock, and is told whether the pass was timed."""
        for _ in range(self.wl.warm_passes):
            one_pass()
            between(False)
        self.phase("warm")
        self.spans.clear()
        passes = []
        start = time.perf_counter()
        while len(passes) < self.wl.min_passes or time.perf_counter() - start < self.args.seconds:
            self.pass_no = len(passes)
            t0_ms = int(time.time() * 1000)
            passes.append(one_pass())
            self.windows_ms.append((t0_ms, int(time.time() * 1000)))
            between(True)
        return passes

    def batch_workload(self, spark) -> tuple[list[float], dict[str, list[float]]]:
        from pontem_spark.queries.registry import all_queries

        queries = all_queries()
        counter = trace.Py4jCounter(spark) if self.trace else None
        con = oracle.connect(self.data_dir)
        self.rows_per_pass = 0
        for name in W.seeded_order(self.wl.ops, self.rng):
            self.attempted += 1
            try:
                bad, rows = W.check_batch_op(spark, queries[name], self.data_dir, con)
            except Exception as e:  # a failing op is reported, never dropped
                bad, rows = failure(name, e), 0
            self.rows_per_pass += rows
            if bad:
                self.failed.append(f"{name}: {bad}")
        con.close()
        self.phase("check")

        per_op: dict[str, list[float]] = {}

        def one_pass():
            # per layer: build seconds, action seconds, py4j calls
            acc = {layer: [0.0, 0.0, 0] for layer in LAYERS}
            t0 = time.perf_counter()
            for name in W.seeded_order(self.wl.ops, self.rng):
                self.attempted += 1
                try:
                    start, built, end, c = W.run_batch_op(spark, queries[name].fn, self.data_dir, counter)
                except Exception as e:
                    self.failed.append(failure(name, e))
                    continue
                self.span(name, start, end, built=built, py4j_calls=c)
                per_op.setdefault(name, []).append(end - start)
                a = acc[W.layer_of(name)]
                a[0], a[1], a[2] = a[0] + built - start, a[1] + end - built, a[2] + c
            return time.perf_counter() - t0, acc

        def between(timed: bool):
            if not timed:
                per_op.clear()

        passes = self.timed(one_pass, between)
        n = len(passes)
        self.pass_calls = {layer: [p[1][layer][2] for p in passes] for layer in LAYERS}
        for layer in LAYERS:
            calls = self.pass_calls[layer]
            self.layer[f"{layer}.build_s"] = sum(p[1][layer][0] for p in passes) / n
            self.layer[f"{layer}.exec_s"] = sum(p[1][layer][1] for p in passes) / n
            self.layer[f"{layer}.py4j_calls"] = statistics.median(calls)
        self.layer["py4j.calls_spread"] = max(max(c) - min(c) for c in self.pass_calls.values())
        self.layer["sources.upsert_s"] = 0.0
        self.layer.update(trace.stream_layer([], n))
        return [p[0] for p in passes], per_op

    def stream_workload(self, spark) -> tuple[list[float], dict[str, list[float]]]:
        landing = os.path.join(self.work, "landing")
        events = os.path.join(self.data_dir, "events.parquet")
        n_rows = W.write_landing(events, landing, self.wl.landing_files, self.args.seed)
        listener = trace.ProgressListener()
        spark.streams.addListener(listener)
        runner = W.StreamRunner(spark, landing, os.path.join(self.work, "stream"))
        os.makedirs(runner.work_dir, exist_ok=True)
        runner.cleanup()
        con = oracle.connect(self.data_dir)
        con.execute(f"CREATE VIEW landing AS SELECT * FROM read_parquet('{landing}/events.parquet/*.parquet')")
        for name in W.seeded_order(self.wl.ops, self.rng):
            self.attempted += 1
            try:
                bad = W.check_stream_op(runner, name, con)
            except Exception as e:
                bad = failure(name, e)
            if bad:
                self.failed.append(f"{name}: {bad}")
        con.close()
        runner.cleanup()
        listener.take()
        runner.upsert_s = 0.0
        self.phase("check")

        # A stream operation is one micro-batch, keyed by pipeline and
        # batch id; its latency is the batch's triggerExecution time.
        per_op: dict[str, list[float]] = {}
        progress: list[dict] = []

        def one_pass():
            pass_s = 0.0
            for name in W.seeded_order(self.wl.ops, self.rng):
                self.attempted += 1
                t = time.perf_counter()
                try:
                    runner.drain(name)
                except Exception as e:
                    self.failed.append(failure(name, e))
                end = time.perf_counter()
                pass_s += end - t
                self.span(name, t, end)
                # outside the clock: this drain's micro-batch reports
                for p in listener.take():
                    progress.append(p)
                    per_op.setdefault(f"{name}/{p['batch']}", []).append(p["ms"].get("triggerExecution", 0) / 1000.0)
            return pass_s

        def between(timed: bool):
            if not timed:
                per_op.clear()
                progress.clear()
                runner.upsert_s = 0.0
            runner.cleanup()

        pass_s = self.timed(one_pass, between)
        n = len(pass_s)
        self.layer.update(trace.stream_layer(progress, n))
        self.layer["sources.upsert_s"] = runner.upsert_s / n
        for layer in LAYERS:
            self.layer.update({f"{layer}.build_s": 0.0, f"{layer}.exec_s": 0.0, f"{layer}.py4j_calls": 0})
        self.layer["py4j.calls_spread"] = 0
        self.rows_per_pass = n_rows * len(self.wl.ops)
        return pass_s, per_op

    # ----------------------------------------------------------- results

    def execute(self) -> dict:
        self.t_start = time.perf_counter()
        spark = self.setup()
        self.phase("setup")
        if self.wl.landing_files:
            pass_s, per_op = self.stream_workload(spark)
        else:
            pass_s, per_op = self.batch_workload(spark)
        self.phase("timed")
        rss = vm_hwm_mb(self.jvm_pid) + vm_hwm_mb(os.getpid())
        app_id = spark.sparkContext.applicationId
        spark.stop()
        n = len(pass_s)
        # Percentiles over the operations of a pass, each at its median over
        # the timed passes. (Pooled samples cluster by operation, and a
        # pooled percentile falls on the edge between two clusters, so it
        # took the extreme sample of one of them.)
        op_s = {k: statistics.median(v) for k, v in sorted(per_op.items())}
        samples = sum(len(v) for v in per_op.values())
        e2e = {
            "setup_s": self.setup_s,
            "pass_s": statistics.median(pass_s),
            "op_p50_s": percentile(list(op_s.values()), 50),
            "op_p90_s": percentile(list(op_s.values()), 90),
            "input_rows_per_s": self.rows_per_pass / statistics.median(pass_s),
            "peak_rss_mb": rss,
        }
        self.layer["pass.drift"] = slope(pass_s)
        self.layer["trace.pass_s"] = statistics.median(pass_s)
        self.layer["trace.passes"] = n
        self.layer["trace.op_samples"] = samples
        summary = {
            "workload": self.wl.name,
            "seed": self.args.seed,
            "passes": n,
            "pass_s": pass_s,
            "op_samples": samples,
            "pass.drift_s_per_pass": self.layer["pass.drift"],
            "failed": self.failed,
            "phases_s": {k: round(v, 2) for k, v in self.phases.items()},
            "op_median_s": {k: round(v, 3) for k, v in op_s.items()},
        }
        spec = bench_spec()
        if self.trace:
            log = os.path.join(self.work, "eventlog", app_id)
            self.layer.update(trace.exec_layer(trace.read_event_log(log), self.windows_ms))
            os.remove(log)
            metrics = {m["name"]: (self.layer[m["name"]], m["unit"]) for m in spec["per_layer"]}
            summary["py4j_calls_per_pass"] = self.pass_calls
            summary["bases"] = {
                "per-pass figures": f"{n} timed passes",
                "exec.task_skew": "median over exec.skew_stages stages with 2+ tasks",
                "exec.idle_share": f"{sum(e - s for s, e in self.windows_ms)} ms of timed passes",
            }
            summary["spans"] = self.spans
        else:
            metrics = {m["name"]: (e2e[m["name"]], m["unit"]) for m in spec["end_to_end"]}
        return {
            "summary": summary,
            "result": {
                "correct": not self.failed,
                "attempted": self.attempted,
                "failed": len(self.failed),
                "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()},
            },
        }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(W.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--work-dir", required=True)
    ap.add_argument("--result", required=True)
    args = ap.parse_args(argv)
    out = Run(args).execute()
    print(json.dumps(out["summary"]), file=sys.stderr)
    with open(args.result, "w") as f:
        json.dump(out, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
