"""Smoke test of the benchmark itself: every workload for one pass at
sf0.001, in both modes, and the oracle gate's failure path.

    python3 -m pytest perfbench/tests -q

Takes about 90 s (one Spark JVM, several sessions).
"""

from __future__ import annotations

import dataclasses
import functools
import json
import math
import os
import sys
import types

import pytest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import run as R  # noqa: E402

# Workers inherit the JVM's environment, so pin it before Spark starts.
os.environ.update(R.pinned_env())
for d in ("spark-local", "tmp"):
    os.makedirs(os.path.join(R.WORK, d), exist_ok=True)

import harness  # noqa: E402
import oracle  # noqa: E402
import workloads as W  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    BENCH = json.load(f)


def smoke_run(name: str, trace: int) -> dict:
    wl = dataclasses.replace(W.WORKLOADS[name], sf=0.001, warm_passes=0, min_passes=1)
    args = types.SimpleNamespace(
        workload=name, seed=1, seconds=0, trace=trace, work_dir=os.path.join(R.WORK, "smoke")
    )
    return harness.Run(args, wl).execute()


@functools.cache
def cached_run(name: str, trace: int) -> dict:
    return smoke_run(name, trace)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("name", sorted(W.WORKLOADS))
def test_every_metric_printed_with_its_unit(name, trace):
    out = cached_run(name, trace)["result"]
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["attempted"] >= 1 and out["correct"] == (out["failed"] == 0)
    section = "per_layer" if trace else "end_to_end"
    want = {m["name"]: m["unit"] for m in BENCH[section]}
    assert {k: v["unit"] for k, v in out["metrics"].items()} == want
    for k, v in out["metrics"].items():
        assert isinstance(v["value"], float) and math.isfinite(v["value"]), k
    if not trace:
        assert all(v["value"] > 0 for v in out["metrics"].values())


class _PerturbingConnection:
    """A DuckDB connection whose answer to one query comes back with one
    value changed."""

    def __init__(self, con, sql: str) -> None:
        self._con, self._sql = con, sql

    def execute(self, sql: str):
        rel = self._con.execute(sql)
        if sql != self._sql:
            return rel
        df = rel.fetchdf()
        col = df.columns[0]
        if df[col].dtype.kind in "iuf":
            df.loc[0, col] = df.loc[0, col] + 1
        else:
            df.loc[0, col] = f"{df.loc[0, col]}~"
        return types.SimpleNamespace(fetchdf=lambda: df)

    def close(self) -> None:
        self._con.close()


@pytest.mark.parametrize("name", sorted(W.WORKLOADS))
def test_every_operation_passes_its_oracle(name):
    out = cached_run(name, 0)
    assert out["summary"]["failed"] == []
    assert out["result"]["correct"] is True


@pytest.mark.xfail(
    strict=True,
    raises=AssertionError,
    reason="sources.writers.upsert_parquet writes the first batch of a new "
    "table without reducing it to the latest row per key",
)
def test_upsert_first_batch_keeps_latest_row_per_key(tmp_path):
    """The stream_cdc sink reduces each micro-batch before the upsert
    because of this defect; drop that step once this test passes."""
    from pontem_spark.session import get_spark
    from pontem_spark.sources.writers import upsert_parquet

    spark = get_spark(app_name="perfbench-smoke")
    try:
        path = str(tmp_path / "cdc")
        batch = spark.createDataFrame([(1, 1, "a"), (1, 2, "b"), (2, 1, "c")], "k long, ver long, payload string")
        upsert_parquet(spark, batch, path, "k", ["ver"])
        got = sorted(tuple(r) for r in spark.read.parquet(path).select("k", "ver", "payload").collect())
    finally:
        spark.stop()
    assert got == [(1, 2, "b"), (2, 1, "c")]


def test_oracle_gate_fails_when_expected_result_is_perturbed(monkeypatch):
    from pontem_spark.queries.registry import all_queries

    target = W.PANDAS_API_OPS[0]
    sql = all_queries()[target].oracle
    connect = oracle.connect
    monkeypatch.setattr(oracle, "connect", lambda d: _PerturbingConnection(connect(d), sql))
    out = smoke_run("pandas_llm", 0)["result"]
    assert out["correct"] is False
    assert out["failed"] == 1


def test_compare_tolerates_only_rounding_in_stream_sums():
    import pandas as pd

    want = pd.DataFrame({"k": ["a", "b"], "total": [0.1 + 0.2, 5.0]})
    assert oracle.compare(want.assign(total=[0.3, 5.0]), want, rel_tol=1e-9) is None
    assert oracle.compare(want.assign(total=[0.3, 5.001]), want, rel_tol=1e-9) is not None
    assert oracle.compare(want.iloc[:1], want) is not None
