"""The three workloads. Each is one closed-loop client: an op starts only
after the previous one returned and was checked.

A workload has four phases the runner times differently:

- ``generate`` (in ``setup_s``): write the seeded inputs;
- ``reference`` (untimed): the correct outputs, computed without Spark;
- ``prepare`` (in ``setup_s``): session-side registration;
- per op: ``before`` (untimed input staging), ``run`` (timed), ``check``
  (untimed, returns the list of problems with the output).

With a tracer, ``run`` records one span per layer call and materializes
each layer's output at the boundary, so a span covers that layer's own
Spark jobs.
"""

from __future__ import annotations

import os
from contextlib import nullcontext

import numpy as np

import check
import gen

# One query per relational and streaming mechanism: scan + aggregate, a
# multi-way join under AQE, a window, an as-of join, the streaming state
# store, and foreachBatch with its checkpoint writes.
QUERY_MIX = (
    "q1_pricing_summary",
    "q5_local_supplier",
    "window_rolling_avg",
    "asof_join_purchase_click",
    "streaming_tumbling_1h",
    "streaming_upsert_foreachbatch",
)
# The Python-boundary kernels in one round: the mapInArrow cosine scan
# (functions.vectors), k-means and SemDeDup (operators.kmeans,
# operators.semdedup) and the MinHash self-join.
LLM_OPS = (
    "knn_cosine_top10",
    "semdedup_survivors",
    "docs_minhash_candidates",
)
POLL_LAYERS = (
    "sources.datasource.scan",
    "sources.realtime.normalize",
    "sources.sinks.upsert",
    "sources.gtfs.schedule",
    "operators.delays.board",
)


def _size_mb(path: str) -> float:
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files if f.endswith(".parquet"))
    return total / 2**20


class PollEtl:
    """One op = one poll cycle of the fixed roster: XML DataSource scan →
    normalize → upsert into the day-partitioned store → schedule ⋈ store
    delay board → per-station stats, collected."""

    name = "poll_etl"

    def __init__(self, run_dir: str, seed: int, n_stations: int):
        self.seed = seed
        self.n_stations = n_stations
        self.endpoint = os.path.join(run_dir, "feed")
        self.gtfs_dir = os.path.join(run_dir, "gtfs")
        self.store = os.path.join(run_dir, "store")
        self.cycle = 0
        self.layer_samples: dict[str, list[float]] = {
            "parsed_frac": [], "mb_written": [], "matched_frac": []
        }

    def generate(self) -> None:
        self.feed = gen.PollFeed.random(self.seed, n_stations=self.n_stations)
        self.feed.write_gtfs(self.gtfs_dir)
        self.rng = np.random.default_rng([self.seed, 0xC7C1E])

    def reference(self) -> None:
        pass  # the truth is folded per cycle, in ``stage``

    def prepare(self, spark) -> None:
        from transilien_api_etl_spark.sources.datasource import register_datasource

        self.spark = spark
        register_datasource(spark)

    def round_ops(self) -> list[str]:
        return ["cycle"]

    def root_span(self, op: str) -> str:
        return "poll_etl.cycle"

    def before(self, op: str) -> None:
        self.stage(self.feed.random_cycle(self.rng))

    def stage(self, cycle: gen.Cycle) -> None:
        """Write the cycle's payloads and fold it into the ground truth."""
        self.feed.write_payloads(self.endpoint, cycle)
        self.feed.apply(cycle)
        self.cycle += 1

    def run(self, op: str, tracer=None, op_id: int = 0):
        from pyspark.sql import functions as F

        from transilien_api_etl_spark.operators.delays import delay_board, delay_stats
        from transilien_api_etl_spark.sources.gtfs import load_gtfs, scheduled_departures
        from transilien_api_etl_spark.sources.realtime import normalize_passages
        from transilien_api_etl_spark.sources.sinks import upsert_by_key

        spark = self.spark
        layer = _Layers(tracer, op_id)
        with layer("sources.datasource.scan"):
            raw = layer.out(
                spark.read.format("transilien_xml")
                .option("endpoint", self.endpoint)
                .option("stations", self.feed.roster())
                .load()
            )
        with layer("sources.realtime.normalize"):
            obs = layer.out(normalize_passages(raw).withColumn("poll_cycle", F.lit(self.cycle)))
        with layer("sources.sinks.upsert"):
            upsert_by_key(
                obs, self.store, ["service_day", "station7", "train_num"], "poll_cycle",
                partition_cols=["service_day"],
            )
        with layer("sources.gtfs.schedule"):
            sched = layer.out(
                scheduled_departures(load_gtfs(spark, self.gtfs_dir), gen.SERVICE_DAY)
                .withColumnRenamed("stop_id", "station7")
            )
        with layer("operators.delays.board"):
            board = layer.out(delay_board(sched, spark.read.schema(obs.schema).parquet(self.store)))
            rows = delay_stats(board, ["station7"]).collect()
        self._boundaries = (raw, board)
        return rows

    def count_layers(self) -> None:
        """Ratios at the layer boundaries of the last traced op, counted
        after its spans closed (untimed)."""
        from pyspark.sql import functions as F

        raw, board = self._boundaries
        parsed = raw.select("station").distinct().count()
        self.layer_samples["parsed_frac"].append(parsed / len(self.feed.stations))
        self.layer_samples["mb_written"].append(_size_mb(self.store))
        n, matched = board.agg(
            F.count("*"), F.sum((F.col("status") != "unobserved").cast("long"))
        ).first()
        self.layer_samples["matched_frac"].append(matched / n)

    def check(self, op: str, rows) -> list[str]:
        return check.stats_mismatches([r.asDict() for r in rows], self.feed.truth())


class QueryMix:
    """One op = one registry query over the seeded sf0.1 tables, collected
    with ``toPandas()``; a round is one pass over ``names`` in an order
    permuted by the seed."""

    def __init__(
        self, name: str, names: tuple[str, ...], run_dir: str, seed: int, cpus: int,
        rows: dict[str, int] = gen.SF01_ROWS,
    ):
        self.name = name
        self.seed = seed
        self.cpus = cpus
        self.rows = rows
        self.data_dir = os.path.join(run_dir, "sf0.1")
        self.tmp_dir = os.path.join(run_dir, "tmp")
        self.rounding_flips = 0
        rng = np.random.default_rng([seed, 0x0DE2])
        self.order = [names[i] for i in rng.permutation(len(names))]

    def generate(self) -> None:
        gen.write_tables(self.data_dir, self.seed, self.rows)

    def reference(self) -> None:
        import transilien_api_etl_spark.plans  # noqa: F401  (import = registration)
        from transilien_api_etl_spark.plans.registry import REGISTRY

        self.registry = REGISTRY
        self.oracle = check.oracle_frames(
            self.data_dir, {q: REGISTRY[q].oracle for q in self.order}, self.cpus, self.tmp_dir
        )
        self.expected = {q: check.digest(df) for q, df in self.oracle.items()}

    def prepare(self, spark) -> None:
        self.spark = spark

    def round_ops(self) -> list[str]:
        return self.order

    def root_span(self, op: str) -> str:
        return f"plans.{op}"

    def before(self, op: str) -> None:
        pass

    def count_layers(self) -> None:
        pass

    def run(self, op: str, tracer=None, op_id: int = 0):
        return self.registry[op].fn(self.spark, self.data_dir).toPandas()

    def check(self, op: str, pdf) -> list[str]:
        got = check.digest(pdf)
        if got == self.expected[op]:
            return []
        flips = check.rounding_flips(pdf, self.oracle[op])
        if flips is None:
            return [f"{op}: got {got}, oracle {self.expected[op]}"]
        self.rounding_flips += flips
        return []


class _Layers:
    """Span + boundary materialization for one op; a no-op without tracer."""

    def __init__(self, tracer, op_id: int):
        self.tracer = tracer
        self.op_id = op_id

    def __call__(self, name: str):
        if self.tracer is None:
            return nullcontext()
        return self.tracer.span(name, self.op_id)

    def out(self, df):
        return df if self.tracer is None else df.localCheckpoint(eager=True)


def make(name: str, run_dir: str, seed: int, cpus: int):
    if name == "poll_etl":
        # DataSource partitions = stations / CHUNK_SIZE (20): a multiple of
        # the core count, so no scan wave runs partly idle.
        return PollEtl(run_dir, seed, n_stations=20 * cpus)
    if name == "query_mix":
        return QueryMix(name, QUERY_MIX, run_dir, seed, cpus)
    if name == "llm_ops":
        return QueryMix(name, LLM_OPS, run_dir, seed, cpus)
    raise ValueError(f"unknown workload {name!r}")

