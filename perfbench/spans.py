"""Tracing for the benchmark's traced run: spans recorded around the calls
into each layer, Spark's own event log reduced to per-span counters, and
streaming progress captured by a ``StreamingQueryListener``.

Nothing here runs in the measured (untraced) runs.
"""

from __future__ import annotations

import bisect
import datetime as dt
import glob
import json
import time
from contextlib import contextmanager

from pyspark.sql.streaming import StreamingQueryListener


def event_log_conf(log_dir: str) -> dict[str, str]:
    """Confs for the traced session. Spark 4.1 writes zstd-compressed
    rolling logs by default; plain JSON lines are what
    ``reduce_event_log`` reads."""
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": f"file://{log_dir}",
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


class Tracer:
    """In-memory spans: name, start, end, parent and op id. Each span sets
    its own Spark job group, so the jobs it starts can be attributed to it."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, op: int):
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        rec = {"id": sid, "name": name, "op": op, "parent": parent, "start": time.time(), "end": None}
        self.spans.append(rec)
        self._stack.append(sid)
        self.sc.setJobGroup(f"pb-span-{sid}", name)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if parent is None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            else:
                self.sc.setJobGroup(f"pb-span-{parent}", self.spans[parent]["name"])

    def children(self, sid: int) -> list[dict]:
        return [s for s in self.spans if s["parent"] == sid]

    def self_time(self, sid: int) -> float:
        s = self.spans[sid]
        return (s["end"] - s["start"]) - sum(c["end"] - c["start"] for c in self.children(sid))


class ProgressListener(StreamingQueryListener):
    """Keeps every micro-batch progress report of the session."""

    def __init__(self):
        self.progress: list[dict] = []

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = event.progress
        self.progress.append(
            {
                "run_id": str(p.runId),
                "batch_id": p.batchId,
                "start": dt.datetime.fromisoformat(p.timestamp.replace("Z", "+00:00")).timestamp(),
                "duration_ms": dict(p.durationMs),
                "state_rows": sum(s.numRowsTotal for s in p.stateOperators),
                "state_bytes": sum(s.memoryUsedBytes for s in p.stateOperators),
            }
        )

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass


def jvm_gc_seconds(spark) -> float:
    """Total collection time of the driver JVM (which is the executor in
    local mode), from its garbage-collector MXBeans."""
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(max(b.getCollectionTime(), 0) for b in beans) / 1000.0


# Task accumulator updates folded into span counters. SQL metrics carry
# their unit in the plan's metricType (``timing`` = ms, ``nsTiming`` = ns,
# ``size`` = bytes); task metrics are fixed.
_TASK_METRICS = {
    "internal.metrics.executorRunTime": ("executor_run_s", 1e-3),
    "internal.metrics.input.bytesRead": ("scan_mb", 1 / 2**20),
    "internal.metrics.shuffle.write.bytesWritten": ("shuffle_write_mb", 1 / 2**20),
    "internal.metrics.shuffle.read.fetchWaitTime": ("shuffle_fetch_wait_s", 1e-3),
    "internal.metrics.diskBytesSpilled": ("spill_mb", 1 / 2**20),
}
_PY_METRICS = {
    "time to start Python workers": "py_worker_boot_s",
    "time to initialize Python workers": "py_worker_init_s",
    "time to run Python workers": "py_run_s",
    "data sent to Python workers": "py_arrow_out_mb",
    "data returned from Python workers": "py_arrow_in_mb",
}
SPARK_COUNTERS = (
    "jobs", "tasks", "executor_run_s", "scan_mb", "shuffle_write_mb",
    "shuffle_fetch_wait_s", "spill_mb", *_PY_METRICS.values(),
)
_UNIT = {"timing": 1e-3, "nsTiming": 1e-9, "size": 1 / 2**20}


def _plan_metric_types(node: dict, out: dict[int, str]) -> None:
    for m in node.get("metrics", []):
        out[m["accumulatorId"]] = m["metricType"]
    for child in node.get("children", []):
        _plan_metric_types(child, out)


def reduce_event_log(log_dir: str) -> tuple[list[dict], list[dict]]:
    """Jobs and completed stages from the single event log in ``log_dir``.

    Returns ``(jobs, stages)``: a job is ``{group, submit, stages}``; a stage
    is ``{id, submit, complete, counters}`` with counters in s / MB, summed
    from its tasks' accumulator updates. (A stage's own accumulable values
    are running totals for SQL metrics, which a plan re-executed by several
    jobs shares.)
    """
    (path,) = glob.glob(f"{log_dir}/*")
    jobs, stages = [], []
    metric_type: dict[int, str] = {}
    per_stage: dict[int, dict[str, float]] = {}
    with open(path, encoding="utf-8") as f:
        for line in f:
            e = json.loads(line)
            kind = e["Event"]
            if kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
                "SparkListenerSQLAdaptiveExecutionUpdate"
            ):
                _plan_metric_types(e["sparkPlanInfo"], metric_type)
            elif kind == "SparkListenerJobStart":
                jobs.append(
                    {
                        "group": (e.get("Properties") or {}).get("spark.jobGroup.id"),
                        "submit": e["Submission Time"] / 1000.0,
                        "stages": set(e["Stage IDs"]),
                    }
                )
            elif kind == "SparkListenerTaskEnd":
                counters = per_stage.setdefault(e["Stage ID"], dict.fromkeys(SPARK_COUNTERS, 0.0))
                counters["tasks"] += 1
                for acc in e["Task Info"].get("Accumulables", []):
                    _add(counters, acc, metric_type)
            elif kind == "SparkListenerStageCompleted":
                info = e["Stage Info"]
                stages.append(
                    {
                        "id": info["Stage ID"],
                        "submit": info.get("Submission Time", 0) / 1000.0,
                        "complete": info.get("Completion Time", 0) / 1000.0,
                        "counters": per_stage.pop(info["Stage ID"], dict.fromkeys(SPARK_COUNTERS, 0.0)),
                    }
                )
    return jobs, stages


def _add(counters: dict[str, float], acc: dict, metric_type: dict[int, str]) -> None:
    name = acc["Name"]
    try:
        value = float(acc.get("Update"))
    except (TypeError, ValueError):
        return
    if name in _TASK_METRICS:
        key, scale = _TASK_METRICS[name]
    elif name in _PY_METRICS:
        key = _PY_METRICS[name]
        # Sizes are bytes whatever the metric type (the DataSource scan
        # reports them as a v2 custom metric).
        scale = 1 / 2**20 if key.endswith("_mb") else _UNIT.get(metric_type.get(acc["ID"]), 0.0)
    else:
        return
    counters[key] += value * scale


def attribute(spans: list[dict], jobs: list[dict], stages: list[dict]) -> dict[int, dict]:
    """Per span id: Spark counters of the jobs it started and the stage
    intervals they ran. A job belongs to the span whose job group it
    carries; jobs started under another group (a streaming query's run id)
    go to the innermost span open at their submission time."""
    by_group = {f"pb-span-{s['id']}": s["id"] for s in spans}
    starts = sorted((s["start"], s["id"]) for s in spans)
    start_keys = [t for t, _ in starts]

    def by_time(t: float) -> int | None:
        for i in range(bisect.bisect_right(start_keys, t) - 1, -1, -1):
            s = spans[starts[i][1]]
            if s["end"] is not None and s["end"] >= t:
                return s["id"]
        return None

    stage_of = {}
    for st in stages:
        stage_of.setdefault(st["id"], st)
    out = {s["id"]: {"counters": dict.fromkeys(SPARK_COUNTERS, 0.0), "intervals": []} for s in spans}
    for job in jobs:
        sid = by_group.get(job["group"])
        if sid is None:
            sid = by_time(job["submit"])
        if sid is None:
            continue
        acc = out[sid]
        acc["counters"]["jobs"] += 1
        for stage_id in job["stages"]:
            st = stage_of.pop(stage_id, None)  # a stage counts once, for its first job
            if st is None:
                continue
            for k, v in st["counters"].items():
                acc["counters"][k] += v
            acc["intervals"].append((st["submit"], st["complete"]))
    return out


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Seconds of [lo, hi] covered by the union of ``intervals``."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total
