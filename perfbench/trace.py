"""Per-layer observation for the traced run.

Everything here watches the program from outside: a counter on the py4j
client (JVM call commands only), a ``StreamingQueryListener`` for
micro-batch progress, and a reader for Spark's own JSON event log.
"""

from __future__ import annotations

import json
import statistics
import threading
import time

from pyspark.sql.streaming import StreamingQueryListener

MB = 1024 * 1024
# Python-worker SQL metrics (PythonSQLMetrics) as named in the event log.
UDF_TO_PY = "data sent to Python workers"
UDF_FROM_PY = "data returned from Python workers"


class Py4jCounter:
    """Counts py4j CALL commands (``c\\n``) sent by the main thread.

    Other command kinds are left out on purpose: py4j's garbage-collection
    detach commands (``m\\nd\\n``) are sent whenever Python frees a proxy,
    so their number drifts from pass to pass, while call commands repeat
    exactly for a fixed sequence of operations. The listener's callback
    thread is left out for the same reason.
    """

    def __init__(self, spark) -> None:
        self.calls = 0
        client = spark.sparkContext._gateway._gateway_client
        send = client.send_command
        main = threading.main_thread()

        def counting_send(command, *args, **kwargs):
            if command.startswith("c\n") and threading.current_thread() is main:
                self.calls += 1
            return send(command, *args, **kwargs)

        client.send_command = counting_send


class ProgressListener(StreamingQueryListener):
    """Collects every micro-batch progress report of every query."""

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self.progress: list[dict] = []
        self.started: set[str] = set()
        self.terminated: set[str] = set()

    def onQueryStarted(self, event) -> None:
        with self._lock:
            self.started.add(str(event.id))

    def onQueryProgress(self, event) -> None:
        p = event.progress
        ops = [
            {
                "rows": s.numRowsTotal,
                "bytes": s.memoryUsedBytes,
                "commit_ms": s.commitTimeMs,
            }
            for s in p.stateOperators
        ]
        row = {"id": str(p.id), "batch": p.batchId, "ms": dict(p.durationMs), "rows": p.numInputRows, "state": ops}
        with self._lock:
            self.progress.append(row)

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        with self._lock:
            self.terminated.add(str(event.id))

    def take(self, timeout_s: float = 30.0) -> list[dict]:
        """Wait until every started query has reported its end, then return
        and clear the progress reports collected so far."""
        deadline = time.monotonic() + timeout_s
        while time.monotonic() < deadline:
            with self._lock:
                if self.started <= self.terminated:
                    break
            time.sleep(0.005)
        else:
            raise TimeoutError("streaming listener missed a query's termination")
        with self._lock:
            out, self.progress = self.progress, []
            self.started.clear()
            self.terminated.clear()
        return out


def stream_layer(progress: list[dict], passes: int) -> dict[str, float]:
    """Per-pass streaming-layer figures from the listener's reports."""

    def total_ms(key: str) -> float:
        return sum(p["ms"].get(key, 0) for p in progress) / 1000.0 / passes

    last_state: dict[str, list[dict]] = {}
    for p in progress:
        if p["state"]:
            last_state[p["id"]] = p["state"]
    final = [s for ops in last_state.values() for s in ops]
    return {
        "stream.batches": len(progress) / passes,
        "stream.add_batch_s": total_ms("addBatch"),
        "stream.planning_s": total_ms("queryPlanning"),
        "stream.wal_commit_s": total_ms("walCommit"),
        "stream.state_commit_s": sum(
            s["commit_ms"] for p in progress for s in p["state"]
        ) / 1000.0 / passes,
        "stream.state_rows": sum(s["rows"] for s in final) / passes,
        "stream.state_mb": sum(s["bytes"] for s in final) / MB / passes,
    }


def read_event_log(path: str) -> list[dict]:
    with open(path, encoding="utf-8") as f:
        return [json.loads(line) for line in f if line.strip()]


def _union_ms(intervals: list[tuple[int, int]]) -> int:
    covered, end = 0, None
    for s, e in sorted(intervals):
        if end is None or s > end:
            covered += e - s
            end = e
        elif e > end:
            covered += e - end
            end = e
    return covered


def exec_layer(events: list[dict], windows_ms: list[tuple[int, int]]) -> dict[str, float]:
    """Execution-layer figures for the timed passes, per pass.
    ``windows_ms`` holds each pass's wall-clock (start, end); a task, stage
    or job belongs to a pass when it started inside that window."""
    passes = len(windows_ms)

    def inside(ms) -> bool:
        return ms is not None and any(s <= ms <= e for s, e in windows_ms)

    def clip(ms: int) -> int:
        return min(e for s, e in windows_ms if e >= ms)

    jobs = stages = 0
    by_stage: dict[tuple, list[int]] = {}
    intervals: list[tuple[int, int]] = []
    acc = {"cpu_ns": 0, "gc_ms": 0, "sw": 0, "sr": 0, "spill": 0, "out": 0, "to_py": 0, "from_py": 0}
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart" and inside(ev.get("Submission Time")):
            jobs += 1
        elif kind == "SparkListenerStageCompleted" and inside(ev["Stage Info"].get("Submission Time")):
            stages += 1
        elif kind == "SparkListenerTaskEnd":
            info = ev["Task Info"]
            start, end = info["Launch Time"], info["Finish Time"]
            if not inside(start):
                continue
            intervals.append((start, min(end, clip(start))))
            key = (ev["Stage ID"], ev.get("Stage Attempt ID", 0))
            by_stage.setdefault(key, []).append(end - start)
            m = ev.get("Task Metrics") or {}
            acc["cpu_ns"] += m.get("Executor CPU Time", 0)
            acc["gc_ms"] += m.get("JVM GC Time", 0)
            acc["spill"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            sw = m.get("Shuffle Write Metrics") or {}
            acc["sw"] += sw.get("Shuffle Bytes Written", 0)
            sr = m.get("Shuffle Read Metrics") or {}
            acc["sr"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            acc["out"] += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
            for a in info.get("Accumulables", []):
                name = a.get("Name")
                if name == UDF_TO_PY:
                    acc["to_py"] += int(a.get("Update", 0))
                elif name == UDF_FROM_PY:
                    acc["from_py"] += int(a.get("Update", 0))
    skews = [
        max(d) / statistics.median(d) for d in by_stage.values() if len(d) >= 2 and statistics.median(d) > 0
    ]
    window = max(1, sum(e - s for s, e in windows_ms))
    return {
        "exec.jobs": jobs / passes,
        "exec.stages": stages / passes,
        "exec.tasks": len(intervals) / passes,
        "exec.task_cpu_s": acc["cpu_ns"] / 1e9 / passes,
        "exec.gc_s": acc["gc_ms"] / 1000.0 / passes,
        "exec.shuffle_write_mb": acc["sw"] / MB / passes,
        "exec.shuffle_read_mb": acc["sr"] / MB / passes,
        "exec.spill_mb": acc["spill"] / MB / passes,
        "exec.task_skew": statistics.median(skews) if skews else 1.0,
        "exec.skew_stages": len(skews) / passes,
        "exec.idle_share": 1.0 - _union_ms(intervals) / window,
        "udf.bytes_to_py_mb": acc["to_py"] / MB / passes,
        "udf.bytes_from_py_mb": acc["from_py"] / MB / passes,
        "sources.bytes_written_mb": acc["out"] / MB / passes,
    }
