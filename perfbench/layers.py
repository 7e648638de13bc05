"""Per-layer metrics of the traced run, and the span artifact.

Every traced run prints every per-layer metric; a metric of a layer the
workload does not call reads 0. Counts and sizes are per round (totals over
the traced rounds divided by their number); ``*_s`` layer and query times
are medians over the traced ops.
"""

from __future__ import annotations

import json
import os
import statistics

import spans as sp
from workloads import LLM_OPS, POLL_LAYERS, QUERY_MIX

# The poll_etl layer spans must cover all but this share of a cycle's wall.
SPAN_TOLERANCE = 0.10

_POLL_RATIOS = {
    "sources.datasource.parsed_frac": ("parsed_frac", "ratio"),
    "sources.sinks.mb_written": ("mb_written", "MB"),
    "operators.delays.matched_frac": ("matched_frac", "ratio"),
}
_STREAMING = {
    "streaming.jobs.triggers": "count",
    "streaming.jobs.add_batch_s": "s",
    "streaming.jobs.commit_s": "s",
    "streaming.jobs.state_rows": "count",
    "streaming.jobs.state_mb": "MB",
}
_SPARK_UNITS = {
    "driver_gap_s": "s", "jobs": "count", "tasks": "count", "scan_mb": "MB",
    "shuffle_write_mb": "MB", "shuffle_fetch_wait_s": "s", "executor_run_s": "s",
    "py_worker_boot_s": "s", "py_worker_init_s": "s", "py_run_s": "s",
    "py_arrow_out_mb": "MB", "py_arrow_in_mb": "MB", "spill_mb": "MB", "gc_s": "s",
}


def metric_units() -> dict[str, str]:
    """Every per-layer metric name with its unit, in reporting order."""
    units = {}
    for layer in POLL_LAYERS:
        units[f"{layer}_s"] = "s"
    for name, (_key, unit) in _POLL_RATIOS.items():
        units[name] = unit
    for q in QUERY_MIX + LLM_OPS:
        units[f"plans.{q}.p50_s"] = "s"
    units.update(_STREAMING)
    units.update({f"spark.{k}": u for k, u in _SPARK_UNITS.items()})
    units["trace.overhead_s"] = "s"
    units["trace.unattributed_frac"] = "ratio"
    return units


def per_layer(wl, untraced, traced, tracer, per_span, progress, gc_s) -> tuple[dict, float]:
    """(metrics, median unattributed share of a traced op's wall);
    ``per_span`` is ``spans.attribute`` of the traced run's event log."""
    units = metric_units()
    values = dict.fromkeys(units, 0.0)
    n_rounds = len(traced)
    roots = [s for s in tracer.spans if s["parent"] is None]

    durations: dict[str, list[float]] = {}
    for s in tracer.spans:
        durations.setdefault(s["name"], []).append(s["end"] - s["start"])
    for name, ds in durations.items():
        if name in POLL_LAYERS:
            values[f"{name}_s"] = statistics.median(ds)
        elif name.startswith("plans."):
            values[f"{name}.p50_s"] = statistics.median(ds)
    for name, (key, _unit) in _POLL_RATIOS.items():
        samples = getattr(wl, "layer_samples", {}).get(key)
        if samples:
            values[name] = statistics.median(samples)

    for s in tracer.spans:
        for k, v in per_span[s["id"]]["counters"].items():
            values[f"spark.{k}"] += v / n_rounds
    for root in roots:
        intervals = [iv for s in _subtree(tracer, root["id"]) for iv in per_span[s]["intervals"]]
        wall = root["end"] - root["start"]
        values["spark.driver_gap_s"] += (wall - sp.covered(intervals, root["start"], root["end"])) / n_rounds
    values["spark.gc_s"] = gc_s / n_rounds

    t0 = roots[0]["start"]
    window = [p for p in progress if p["start"] >= t0]
    peak: dict[str, tuple[float, float]] = {}
    for p in window:
        d = p["duration_ms"]
        values["streaming.jobs.triggers"] += 1 / n_rounds
        values["streaming.jobs.add_batch_s"] += d.get("addBatch", 0) / 1000 / n_rounds
        values["streaming.jobs.commit_s"] += (
            d.get("walCommit", 0) + d.get("commitOffsets", 0)
        ) / 1000 / n_rounds
        rows, mem = peak.get(p["run_id"], (0, 0))
        peak[p["run_id"]] = (max(rows, p["state_rows"]), max(mem, p["state_bytes"]))
    values["streaming.jobs.state_rows"] = sum(r for r, _ in peak.values()) / n_rounds
    values["streaming.jobs.state_mb"] = sum(m for _, m in peak.values()) / 2**20 / n_rounds

    values["trace.overhead_s"] = statistics.median(w for w, _ in traced) - statistics.median(
        w for w, _ in untraced
    )
    unattributed = statistics.median(
        1 - sum(c["end"] - c["start"] for c in tracer.children(r["id"])) / (r["end"] - r["start"])
        if tracer.children(r["id"]) else 0.0
        for r in roots
    )
    values["trace.unattributed_frac"] = unattributed
    return {k: {"value": v, "unit": units[k]} for k, v in values.items()}, unattributed


def _subtree(tracer, sid: int) -> list[int]:
    out, todo = [], [sid]
    while todo:
        s = todo.pop()
        out.append(s)
        todo.extend(c["id"] for c in tracer.children(s))
    return out


def write_spans(path: str, tracer, per_span) -> None:
    """The span artifact: every span with its duration, self time and the
    Spark counters of the jobs it started."""
    rows = [
        {
            **{k: s[k] for k in ("id", "name", "op", "parent", "start", "end")},
            "duration_s": s["end"] - s["start"],
            "self_s": tracer.self_time(s["id"]),
            "spark": per_span[s["id"]]["counters"],
        }
        for s in tracer.spans
    ]
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w", encoding="utf-8") as f:
        json.dump({"spans": rows}, f, indent=1)
