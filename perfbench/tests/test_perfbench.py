"""The benchmark's own tests: seeded generators, the poll ground truth
against the program, the output checks' ability to fail, and the printed
metric names against BENCHMARK.json.

    python3 -m pytest perfbench/tests -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os

import numpy as np
import pytest

import check
import gen
import layers
import run
import workloads

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
TINY_ROWS = {
    "customer": 150, "supplier": 10, "part": 200, "orders": 1_500,
    "lineitem": 6_000, "events": 1_000, "documents": 200, "embeddings": 100,
}


def _payloads(feed: gen.PollFeed, cycle: gen.Cycle) -> list[str]:
    return [feed.payload(s, cycle) for s in range(len(feed.stations))]


def test_generators_are_deterministic_per_seed():
    a, b, c = (gen.make_tables(s, TINY_ROWS) for s in (7, 7, 8))
    assert a.keys() == b.keys() == set(check.TABLES)
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["lineitem"].equals(c["lineitem"])

    f1, f2 = gen.PollFeed.random(7, n_stations=40), gen.PollFeed.random(7, n_stations=40)
    r1, r2 = np.random.default_rng(1), np.random.default_rng(1)
    for _ in range(3):
        c1, c2 = f1.random_cycle(r1), f2.random_cycle(r2)
        assert _payloads(f1, c1) == _payloads(f2, c2)
        f1.apply(c1)
        f2.apply(c2)
    assert f1.truth() == f2.truth()
    assert f1.trips != gen.PollFeed.random(8, n_stations=40).trips


# A hand-built service day: three stations, an after-midnight train on a
# service that calendar_dates adds, a weekend train that does not run, an
# unobserved stop, two polls of the same trains with changed delays, and a
# malformed payload in the second poll.
def _hand_feed() -> tuple[gen.PollFeed, list[gen.Cycle]]:
    h = 3600
    trips = [
        gen.Trip(123401, "H", "WEEKDAY", ((0, 8 * h + 60), (1, 8 * h + 900))),
        gen.Trip(777777, "H", "SPECIAL", ((0, 25 * h + 720), (2, 25 * h + 1800))),
        gen.Trip(555555, "H", "WEEKEND", ((0, 10 * h), (1, 10 * h + 1800))),
        gen.Trip(123403, "K", "WEEKDAY", ((1, 9 * h + 60), (2, 9 * h + 1800))),
    ]
    feed = gen.PollFeed(["8727100", "8727613", "8738400"], trips, {0: [0, 1], 1: [0, 3], 2: [1]})
    first = gen.Cycle(
        {(0, 0): ("delayed", 4), (0, 1): ("on_time", 0), (1, 0): ("on_time", 0),
         (1, 3): ("cancelled", 0), (2, 1): ("delayed", 3)}
    )
    second = gen.Cycle(
        {(0, 0): ("delayed", 6), (0, 1): ("cancelled", 0), (1, 0): ("delayed", 2),
         (1, 3): ("on_time", 0), (2, 1): ("delayed", 10)},
        malformed=frozenset({2}),
    )
    return feed, [first, second]


def test_hand_built_truth():
    feed, cycles = _hand_feed()
    for c in cycles:
        feed.apply(c)
    assert feed.truth() == {
        "8727100": (2, 1, 1, 180.0, 180.0, 360),
        "8727613": (2, 1, 0, 60.0, 60.0, 120),
        # the second payload is malformed: the first poll's +3 min stays
        "8738400": (2, 1, 0, 180.0, 180.0, 180),
    }


def test_poll_truth_agrees_with_program(spark, tmp_path):
    feed, cycles = _hand_feed()
    wl = workloads.PollEtl(str(tmp_path), seed=0, n_stations=3)
    wl.feed = feed
    feed.write_gtfs(wl.gtfs_dir)
    wl.prepare(spark)
    for c in cycles:
        wl.stage(c)
        rows = wl.run("cycle")
        assert wl.check("cycle", rows) == []


class _Corrupting:
    """Wraps a workload and damages every ``corrupt_every``-th output."""

    def __init__(self, wl, damage, corrupt_every: int):
        self.wl, self.damage, self.every, self.n = wl, damage, corrupt_every, 0

    def __getattr__(self, name):
        return getattr(self.wl, name)

    def run(self, op, tracer=None, op_id=0):
        out = self.wl.run(op, tracer, op_id)
        self.n += 1
        return self.damage(out) if self.n % self.every == 0 else out


def test_corrupted_output_is_counted_as_failed(spark, tmp_path):
    wl = workloads.QueryMix("mix", ("q1_pricing_summary",), str(tmp_path), 3, 2, TINY_ROWS)
    wl.generate()
    wl.reference()
    wl.prepare(spark)

    def damage(pdf):
        pdf = pdf.copy()
        pdf.iloc[0, pdf.columns.get_loc("count_order")] += 1
        return pdf

    client = run.Client(_Corrupting(wl, damage, corrupt_every=2), log=lambda msg: None)
    client.round()
    assert (client.attempted, client.failed) == (1, 0)
    client.round()
    assert (client.attempted, client.failed) == (2, 1)


def test_corrupted_poll_stats_are_caught():
    feed, cycles = _hand_feed()
    for c in cycles:
        feed.apply(c)
    rows = [
        {"station7": s, "n_passages": v[0], "n_delayed": v[1], "n_cancelled": v[2],
         "avg_delay_s": v[3], "median_delay_s": v[4], "max_delay_s": v[5]}
        for s, v in feed.truth().items()
    ]
    assert check.stats_mismatches(rows, feed.truth()) == []
    rows[1]["n_delayed"] += 1
    assert len(check.stats_mismatches(rows, feed.truth())) == 1
    assert len(check.stats_mismatches(rows[:2], feed.truth())) == 2


def test_rounding_flip_is_the_only_tolerated_difference():
    import pandas as pd

    want = pd.DataFrame({"k": [1, 2], "revenue": [482367.71, 5.55]})
    flipped = pd.DataFrame({"k": [2, 1], "revenue": [5.55, 482367.70]})
    assert check.rounding_flips(flipped, want) == 1
    for bad in (
        pd.DataFrame({"k": [1, 2], "revenue": [482367.69, 5.55]}),  # two units off
        pd.DataFrame({"k": [1, 3], "revenue": [482367.70, 5.55]}),  # another key
        pd.DataFrame({"k": [1], "revenue": [482367.70]}),  # a row missing
    ):
        assert check.rounding_flips(bad, want) is None
    counts = pd.DataFrame({"k": [1], "n": [3.0]})
    assert check.rounding_flips(counts, counts.assign(n=4.0)) is None  # integral: no tolerance


def test_printed_metric_names_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        spec = json.load(f)
    e2e = run.end_to_end([(2.0, {"a": 1.0, "b": 1.0})], setup_s=3.0, peak_rss_mb=100.0)
    assert {k: m["unit"] for k, m in e2e.items()} == {
        m["name"]: m["unit"] for m in spec["end_to_end"]
    }
    assert layers.metric_units() == {m["name"]: m["unit"] for m in spec["per_layer"]}
    for w in spec["workloads"]:
        workloads.make(w["name"], "unused", 0, 4)  # every declared workload exists


@pytest.mark.parametrize("seed", [1, 2])
def test_poll_feed_sizes_are_fixed(seed):
    feed = gen.PollFeed.random(seed, n_stations=80)
    cycle = feed.random_cycle(np.random.default_rng(seed))
    assert all(len(tis) == 30 for tis in feed.observed.values())
    assert len(cycle.malformed) == 4
    late = [t for t in feed.trips if t.stops[0][1] >= 24 * 3600 and t.service in gen.ACTIVE_SERVICES]
    assert late  # after-midnight trains that belong to the previous service day
