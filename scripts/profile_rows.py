#!/usr/bin/env python
"""Layer table of the graded bench rows: where each row's wall goes, in
Spark's own metrics.

Each row runs as bench.py times it (``bench.timed_query``; its twin when
``--data-dir`` is bench.SCALE_DIR): one untimed warm-up, ``--reps``
untraced reps whose median is ``untraced_p50_s``, then one traced rep in
three spans:

- ``build``:  the query function builds its DataFrame (eager fits included);
- ``plan``:   analysis and physical planning of the row's count, not run;
- ``action``: running that already-planned count.

perfbench/spans.py reduces the session's event log to the stage time and
counters of the jobs each span started. ``stage_s`` is the part of the
traced wall some stage covered; ``driver_gap_s`` is the rest.

Usage: python scripts/profile_rows.py [--data-dir DIR] [--reps N] [row ...]
Prints one JSON line; rows default to bench.py's 21 graded rows.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.append(os.path.join(REPO, "perfbench"))

import bench  # noqa: E402
import spans as sp  # noqa: E402
from transilien_api_etl_spark.session import build_session  # noqa: E402

# PySpark 4.1.2's worker stamps boot_time before a reused worker blocks
# for its next task, so "time to initialize Python workers" counts that
# worker's idle wait since its previous task, not its init (ROADMAP, open
# measurement findings). It is left out rather than reported wrong.
COUNTERS = [k for k in sp.SPARK_COUNTERS if k != "py_worker_init_s"]


def traced_rep(spark, tracer, name: str, fn, data_dir: str) -> dict:
    op = len(tracer.spans)
    with tracer.span(name, op) as root:
        with tracer.span("build", op):
            df = fn(spark, data_dir)
        with tracer.span("plan", op):
            # DataFrame.count() is this aggregate collected; planning it
            # here leaves the action to run the same Dataset's plan.
            cdf = df.groupBy().count()
            cdf._jdf.queryExecution().executedPlan()
        with tracer.span("action", op):
            cdf.collect()
    return root


def layer_table(tracer, per_span: dict, root: dict) -> dict:
    children = tracer.children(root["id"])
    ids = [root["id"]] + [c["id"] for c in children]
    wall = root["end"] - root["start"]
    spans = {f"{c['name']}_s": c["end"] - c["start"] for c in children}
    intervals = [iv for i in ids for iv in per_span[i]["intervals"]]
    stage_s = sp.covered(intervals, root["start"], root["end"])
    row = {"traced_s": wall, **spans, "unattributed_frac": 1 - sum(spans.values()) / wall,
           "stage_s": stage_s, "driver_gap_s": wall - stage_s}
    for k in COUNTERS:
        row[k] = sum(per_span[i]["counters"][k] for i in ids)
    return {k: round(v, 4) for k, v in row.items()}


def main() -> None:
    specs = bench.bench_queries()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("rows", nargs="*", help="graded rows (default: all)")
    ap.add_argument("--data-dir", default=bench.SF_DIR)
    ap.add_argument("--reps", type=int, default=3, help="untraced reps per row")
    args = ap.parse_args()
    unknown = sorted(set(args.rows) - set(specs))
    if unknown:
        ap.error(f"not graded rows: {unknown}")
    if args.reps < 1:
        ap.error("--reps must be at least 1")
    twins = os.path.realpath(args.data_dir) == os.path.realpath(bench.SCALE_DIR)

    with tempfile.TemporaryDirectory(prefix="profile_rows_") as log_dir:
        spark = build_session(app_name="profile_rows", extra_conf=sp.event_log_conf(log_dir))
        spark.sparkContext.setLogLevel("ERROR")
        cores = spark.sparkContext.defaultParallelism
        tracer = sp.Tracer(spark.sparkContext)
        runs = {}
        try:
            for name in args.rows or sorted(specs):
                fn, _, tables = bench.timed_query(name, specs[name], twins)
                with bench.twin_inputs(args.data_dir, tables):
                    fn(spark, args.data_dir).count()
                    walls = []
                    for _ in range(args.reps):
                        t0 = time.perf_counter()
                        fn(spark, args.data_dir).count()
                        walls.append(time.perf_counter() - t0)
                    p50 = round(statistics.median(walls), 4)
                    runs[name] = (p50, traced_rep(spark, tracer, name, fn, args.data_dir))
                print(f"# {name}: untraced p50 {p50:.3f}s", file=sys.stderr)
        finally:
            spark.stop()
        per_span = sp.attribute(tracer.spans, *sp.reduce_event_log(log_dir))

    rows = {name: {"untraced_p50_s": p50, **layer_table(tracer, per_span, root)}
            for name, (p50, root) in runs.items()}
    print(json.dumps({"data_dir": args.data_dir, "twins": twins, "cores": cores,
                      "reps": args.reps, "rows": rows}))


if __name__ == "__main__":
    main()
