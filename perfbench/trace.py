"""Traced-run recorder: spans kept in memory and written when the run
ends, plus readers for Spark's status stores and streaming progress.

A span is ``(trace_id, name, start, end, parent)`` on the monotonic
clock; spans of one transaction, micro-batch or query share a trace id.
"""

from __future__ import annotations

import json
import os
import re
import time


class Spans:
    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.rows: list[tuple] = []

    def add(self, trace_id: str, name: str, start: float, end: float,
            parent: str | None = None) -> None:
        if self.enabled:
            self.rows.append((trace_id, name, start, end, parent))

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for t, name, s, e, parent in self.rows:
                f.write(json.dumps({"trace": t, "name": name, "start": s,
                                    "end": e, "parent": parent}) + "\n")


_UNITS = {"ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0}
_TIMING = re.compile(r"([\d,.]+)\s*(ns|ms|s|min|m|h)\b")


def parse_timing(text: str) -> float:
    """Seconds from a formatted SQL timing metric: ``"29 ms"``, or the
    ``"total (min, med, max ...)\\n6.1 s (1.4 s, ...)"`` form, where the
    first value after the header is the total."""
    body = text.split("\n", 1)[-1]
    m = _TIMING.search(body)
    return float(m.group(1).replace(",", "")) * _UNITS[m.group(2)] if m else 0.0


class SqlStore:
    """Per-execution metrics from ``sharedState().statusStore()`` and the
    stage data of the jobs each execution ran."""

    def __init__(self, spark) -> None:
        self.spark = spark
        self.sql = spark._jsparkSession.sharedState().statusStore()
        self.app = spark.sparkContext._jsc.sc().statusStore()

    def _drain(self) -> None:
        # listener events arrive asynchronously; let the bus catch up
        try:
            self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        except Exception:
            time.sleep(0.2)

    def mark(self) -> int:
        self._drain()
        return self.sql.executionsList().size()

    def since(self, mark: int) -> dict:
        """Totals over the executions recorded after ``mark``."""
        self._drain()
        execs = self.sql.executionsList()
        out = {"sql_executions": 0, "task_s": 0.0, "shuffle_bytes": 0,
               "spill_bytes": 0, "scan_s": 0.0}
        for i in range(mark, execs.size()):
            e = execs.apply(i)
            out["sql_executions"] += 1
            values = self.sql.executionMetrics(e.executionId())
            metrics = e.metrics()
            for k in range(metrics.size()):
                pm = metrics.apply(k)
                if pm.name() == "scan time":
                    v = values.get(pm.accumulatorId())
                    if v.isDefined():
                        out["scan_s"] += parse_timing(v.get())
            jobs = e.jobs().keys().iterator()
            while jobs.hasNext():
                stages = self.app.job(jobs.next()).stageIds()
                for s in range(stages.size()):
                    try:
                        sd = self.app.lastStageAttempt(stages.apply(s))
                    except Exception:  # stage skipped or not retained
                        continue
                    out["task_s"] += sd.executorRunTime() / 1000.0
                    out["shuffle_bytes"] += sd.shuffleWriteBytes()
                    out["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
        return out


def progress_batches(query) -> dict[int, dict]:
    """recentProgress entries with input rows, keyed by batch id."""
    out = {}
    for p in query.recentProgress:
        d = p if isinstance(p, dict) else json.loads(p.json)
        if d.get("batchId") is not None and int(d.get("numInputRows") or 0) > 0:
            out[int(d["batchId"])] = d
    return out


class ProfileTap:
    """Captures the ``SB_PROFILE`` lines the produce sink prints on the
    driver (per micro-batch task sums of pull/marshal/send/txn) and keeps
    them off the benchmark's own stdout."""

    PREFIX = "SB_PROFILE "

    def __init__(self, stream) -> None:
        self.stream = stream
        self.rows: list[dict] = []
        self._buf = ""

    def write(self, s: str) -> int:
        self._buf += s
        while "\n" in self._buf:
            line, self._buf = self._buf.split("\n", 1)
            if line.startswith(self.PREFIX):
                self.rows.append(json.loads(line[len(self.PREFIX):]))
            else:
                self.stream.write(line + "\n")
        return len(s)

    def flush(self) -> None:
        self.stream.flush()

    def __getattr__(self, name):
        return getattr(self.stream, name)


def write_json(path: str, obj) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump(obj, f, indent=1, sort_keys=True)
