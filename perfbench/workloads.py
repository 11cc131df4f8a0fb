"""The workloads: which operations run, on what input, and how each output
is checked.

A batch operation is one registered query (``pontem_spark.queries``): its
function builds a lazy frame, and the action is a ``noop`` write. A stream
operation is one pipeline drained over the landing set with
``max_files_per_trigger=1``.
"""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

import oracle

# The operation lists are short on purpose. Every run starts a fresh JVM
# whose pass times keep falling for 30-40 s of work, and a run has about a
# minute in all; a short pass leaves room for warm-up and several timed
# passes. With 14 operations per pass, medians moved 17% between runs
# (4-vCPU VM, 16 GB).
#
# The pandas-API surface: crosstab, frame alignment, merge and a rolling
# time-series window, all built through pontem_spark.core.
PANDAS_API_OPS = [
    "q_api_crosstab",
    "q_api_frame_align_arith",
    "q_api_merge_filter",
    "q_ts_rolling_corr",
]

# LLM-pipeline operators (pontem_spark.operators): MinHash dedup, BM25
# ranking, winsorizing and a mapInPandas media decode in Python workers.
LLM_CURATION_OPS = [
    "q_dedup_minhash_candidates",
    "q_text_bm25_topk",
    "q_curation_winsorize",
    "q_multimodal_decode_pipeline",
]

STREAM_PIPELINES = ["hourly_rollup", "dedup_stream", "incremental_rollup", "user_stats", "cdc_upsert"]


@dataclass
class Workload:
    name: str
    sf: float
    ops: list[str]
    tables: list[str]  # warmed up during set-up
    warm_passes: int  # discarded after the untimed check pass
    min_passes: int = 2
    landing_files: int = 0  # stream workloads: files in the landing set


# Warm-up passes: in a 70 s run on pandas_llm, passes fell from about 3.2 s
# to their plateau only after some 30 s of work following the check pass;
# stream_cdc passes fell from 7.0 s to about 5.8 s over three passes. Four
# warm passes on pandas_llm, not more, so that a whole run stays under
# about 65 s on a busy host (4-vCPU VM).
WORKLOADS = {
    "pandas_llm": Workload(
        "pandas_llm", 0.01, PANDAS_API_OPS + LLM_CURATION_OPS,
        ["customer", "orders", "lineitem", "part", "events", "documents"],
        warm_passes=4,
    ),
    "stream_cdc": Workload(
        "stream_cdc", 0.01, STREAM_PIPELINES, ["events"], warm_passes=2, landing_files=2
    ),
}


def layer_of(op: str) -> str:
    """The repo module a batch operation exercises."""
    return "core" if op in PANDAS_API_OPS else "operators"


def seeded_order(ops: list[str], rng: np.random.Generator) -> list[str]:
    return [ops[i] for i in rng.permutation(len(ops))]


# --------------------------------------------------------------- batch ops


def run_batch_op(spark, fn, data_dir: str, counter=None) -> tuple[float, float, float, int]:
    """Build one query and run its action. Returns the span (start, built,
    end) in ``perf_counter`` seconds and the py4j calls it made."""
    c0 = counter.calls if counter else 0
    t0 = time.perf_counter()
    df = fn(spark, data_dir)
    t1 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    t2 = time.perf_counter()
    return t0, t1, t2, (counter.calls - c0) if counter else 0


def check_batch_op(spark, query, data_dir: str, con) -> tuple[str | None, int]:
    """The untimed correctness run of one query: its rows against the
    registry's DuckDB oracle. Returns (mismatch or None, input rows read)."""
    df = query.fn(spark, data_dir)
    files = df.inputFiles()
    got = df.toPandas()
    want = con.execute(query.oracle).fetchdf()
    rows = sum(pq.ParquetFile(f.removeprefix("file:")).metadata.num_rows for f in set(files))
    return oracle.compare(got, want), rows


# ------------------------------------------------------------ stream ops


def write_landing(events_path: str, out_dir: str, n_files: int, seed: int) -> int:
    """Split the events table into ``n_files`` event-time-ordered parquet
    files under ``out_dir/events.parquet/``, file modification times in
    arrival order. Rows within 20 minutes of a file boundary may slip into
    the next file (disorder well inside the 2-hour watermark), and 1% of
    events are delivered twice (retries), the copy in the same file or, for
    those rows, in the next.
    Returns the number of rows landed."""
    rng = np.random.default_rng(seed)
    t = pq.read_table(events_path)
    ts_type = t.schema.field("ts").type
    ts = t.column("ts").cast(pa.int64()).to_numpy()
    per_s = {"s": 1, "ms": 1_000, "us": 1_000_000, "ns": 1_000_000_000}[ts_type.unit]
    n = len(ts)
    cuts = np.linspace(0, n, n_files + 1)
    jitter = rng.uniform(-0.1, 0.1, n_files - 1) * (n / n_files)
    cuts = np.concatenate([[0], np.sort(cuts[1:-1] + jitter).astype(int), [n]])
    file_of = np.searchsorted(cuts, np.arange(n), side="right") - 1
    # rows up to 20 minutes before the end of their file's time range
    near_end = np.zeros(n, dtype=bool)
    for b in cuts[1:-1]:
        near_end[np.searchsorted(ts, ts[b] - 20 * 60 * per_s):b] = True
    dup = np.nonzero(rng.random(n) < 0.01)[0]
    slip = near_end & (rng.random(n) < 0.5)
    dup_slip = near_end[dup] & (rng.random(len(dup)) < 0.5)
    files = np.concatenate([file_of + slip, file_of[dup] + dup_slip])
    rows = np.concatenate([np.arange(n), dup])
    dest = os.path.join(out_dir, "events.parquet")
    shutil.rmtree(dest, ignore_errors=True)
    os.makedirs(dest)
    base = time.time() - 10 * n_files
    for f in range(n_files):
        idx = rows[files == f]
        idx = idx[rng.permutation(len(idx))]
        path = os.path.join(dest, f"part-{f:05d}.parquet")
        pq.write_table(t.take(idx), path)
        os.utime(path, (base + 10 * f, base + 10 * f))
    return len(rows)


# Each reference reads ``{src}``: the whole landing set, or for the CDC
# sink the files consumed so far.
STREAM_ORACLES = {
    "hourly_rollup": """
        SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS event_hour,
               event_type, COUNT(*) AS n_events, SUM(value) AS total_value
        FROM {src} GROUP BY 1, 2""",
    "dedup_stream": "SELECT DISTINCT * FROM {src}",
    "incremental_rollup": """
        SELECT event_type, COUNT(value) AS n, SUM(value) AS total,
               SUM(value * value) AS ss, MIN(value) AS lo, MAX(value) AS hi
        FROM {src} GROUP BY 1""",
    "user_stats": """
        SELECT user_id, COUNT(*) AS n_events, SUM(value) AS total_value,
               MAX(value) AS max_value
        FROM {src} GROUP BY 1""",
    "cdc_upsert": """
        SELECT user_id, ts, event_id, event_type, value,
               CAST(user_id % 4 AS INTEGER) AS bucket
        FROM (SELECT *, row_number() OVER (
                  PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
              FROM {src})
        WHERE rn = 1""",
}


class StreamRunner:
    """Drains each pipeline over the landing set with fresh state, and
    removes what the drains leave behind (memory-sink tables, checkpoints
    and the upsert target) outside the timed window."""

    def __init__(self, spark, landing_dir: str, work_dir: str) -> None:
        self.spark = spark
        self.landing_dir = landing_dir
        self.work_dir = work_dir
        self.upsert_s = 0.0
        self._n = 0

    def _stream(self):
        from pontem_spark.streaming.events import read_event_stream

        return read_event_stream(self.spark, self.landing_dir, max_files_per_trigger=1)

    def drain(self, name: str, after_batch=None):
        """Run one pipeline to the end of the landing set; return its output
        as a lazy frame. ``after_batch(batch_df, batch_id, target)`` is
        called after every upsert of the CDC sink."""
        from pontem_spark.streaming.events import (
            dedup_stream,
            hourly_rollup,
            run_incremental_rollup,
            run_to_memory,
        )
        from pontem_spark.streaming.stateful import running_user_stats

        s = self._stream()
        if name == "hourly_rollup":
            return run_to_memory(hourly_rollup(s), mode="complete")
        if name == "dedup_stream":
            return run_to_memory(dedup_stream(s, ["event_id"]), mode="append")
        if name == "incremental_rollup":
            state, _ = run_incremental_rollup(s, ["event_type"], "value")
            return state
        if name == "user_stats":
            return run_to_memory(running_user_stats(s), mode="update")
        if name == "cdc_upsert":
            return self._drain_cdc(s, after_batch)
        raise ValueError(name)

    def _drain_cdc(self, s, after_batch):
        from pontem_spark.operators.dedup import latest_by_key
        from pontem_spark.sources.writers import upsert_parquet

        spark = self.spark
        self._n += 1
        target = os.path.join(self.work_dir, f"cdc_target_{self._n}")
        ckpt = os.path.join(self.work_dir, f"cdc_ckpt_{self._n}")
        cols = ["user_id", "ts", "event_id", "event_type", "value"]

        def sink(batch_df, batch_id):
            t0 = time.perf_counter()
            # A MERGE source holds one row per key, as in any foreachBatch
            # CDC sink: reduce the micro-batch to each user's latest event
            # first. (upsert_parquet keeps a new table's first batch as it
            # is, duplicate keys included.)
            latest = latest_by_key(batch_df, "user_id", ["ts", "event_id"], ["event_type", "value"])
            upsert_parquet(
                spark,
                latest.select(*cols, (F.col("user_id") % 4).cast("int").alias("bucket")),
                target,
                key_cols=["user_id"],
                order_cols=["ts", "event_id"],
                partition_by=["bucket"],
            )
            self.upsert_s += time.perf_counter() - t0
            if after_batch is not None:
                after_batch(batch_df, batch_id, target)

        q = (
            s.writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        try:
            q.awaitTermination(120)
        finally:
            q.stop()
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))
        return spark.read.parquet(target)

    def result_frame(self, name: str, df) -> pd.DataFrame:
        pdf = df.toPandas()
        if name == "user_stats":
            # update mode emits a row per user per batch; n_events only grows
            pdf = pdf.sort_values("n_events").groupby("user_id", as_index=False).last()
        return pdf

    def cleanup(self) -> None:
        for t in self.spark.catalog.listTables():
            if t.name.startswith("mem_") and t.isTemporary:
                self.spark.catalog.dropTempView(t.name)
        for d in os.listdir(self.work_dir):
            if d.startswith(("cdc_target_", "cdc_ckpt_")):
                shutil.rmtree(os.path.join(self.work_dir, d), ignore_errors=True)


def check_stream_op(runner: StreamRunner, name: str, con) -> str | None:
    if name == "cdc_upsert":
        return check_cdc(runner, con)
    got = runner.result_frame(name, runner.drain(name))
    want = con.execute(STREAM_ORACLES[name].format(src="landing")).fetchdf()
    # stream sums arrive batch by batch, in another order than DuckDB's
    return oracle.compare(got, want, rel_tol=1e-9)


def check_cdc(runner: StreamRunner, con) -> str | None:
    """The upsert target after every micro-batch, not only at the end,
    against DuckDB's latest-by-key over the landing files consumed so far:
    a batch that leaves duplicate or stale keys fails even when a later
    batch rewrites them. With ``max_files_per_trigger=1`` micro-batch ``b``
    reads the landing file that arrived ``b``-th."""
    dest = os.path.join(runner.landing_dir, "events.parquet")
    arrived = sorted(os.path.join(dest, f) for f in os.listdir(dest) if f.endswith(".parquet"))
    bad: list[str] = []
    batches = 0

    def after_batch(batch_df, batch_id, target):
        nonlocal batches
        batches += 1
        files = ", ".join(f"'{f}'" for f in arrived[: batch_id + 1])
        sql = STREAM_ORACLES["cdc_upsert"].format(src=f"read_parquet([{files}])")
        diff = oracle.compare(runner.spark.read.parquet(target).toPandas(), con.execute(sql).fetchdf())
        if diff:
            bad.append(f"after batch {batch_id}: {diff}")

    runner.drain("cdc_upsert", after_batch)
    if batches != len(arrived):
        bad.append(f"{batches} micro-batches for {len(arrived)} landing files")
    return "; ".join(bad) or None
