"""Unit tests for bench.py's timing discipline — the graded numbers'
provenance. Protects the VERDICT r5 task 1 contract: every recorded
number is a MEDIAN of warm reps, timeouts are flagged lower-bounds (never
silent measurements), and rep loops respect the global budget so an
external harness kill can't lose the JSON line."""

from __future__ import annotations

import bench

from .conftest import SF_SMOKE


def test_median_reps_returns_median_and_raw(monkeypatch):
    monkeypatch.setattr(bench, "remaining", lambda: 1e9)
    clock = {"now": 0.0}
    deltas = iter([0.3, 0.1, 0.2])  # per-rep durations
    calls = {"n": 0}

    def fake_counter():
        calls["n"] += 1
        if calls["n"] % 2 == 0:  # end-of-rep reading
            clock["now"] += next(deltas)
        return clock["now"]

    monkeypatch.setattr(bench.time, "perf_counter", fake_counter)
    med, raw = bench._median_reps(lambda: None, warm_s=0.1)
    assert raw == [0.3, 0.1, 0.2]
    assert med == 0.2  # median, not best-of


def test_median_reps_slow_query_gets_two_reps(monkeypatch):
    monkeypatch.setattr(bench, "remaining", lambda: 1e9)
    ran = {"n": 0}

    def run():
        ran["n"] += 1

    med, raw = bench._median_reps(run, warm_s=bench.SLOW_QUERY_CUTOFF_S + 1)
    assert ran["n"] == 2
    assert len(raw) == 2


def test_median_reps_stops_when_budget_cannot_absorb_another_rep(monkeypatch):
    ran = {"n": 0}

    def run():
        ran["n"] += 1

    monkeypatch.setattr(bench, "remaining", lambda: 5.0)
    med, raw = bench._median_reps(run, warm_s=0.1, n_reps=3)
    # rep 1 always runs (a number is owed); reps 2-3 skipped on budget
    assert ran["n"] == 1
    assert len(raw) == 1


def _oracle_only_spec(name, **kw):
    from transilien_api_etl_spark.plans.registry import QuerySpec

    return QuerySpec(
        name=name, fn=lambda s, d: None,
        oracle="SELECT count(*) AS n FROM region", **kw,
    )


def test_time_duckdb_uses_the_spark_side_rep_schedule(monkeypatch):
    """An unpaired oracle takes its Spark numerator's _median_reps
    schedule (scale_reps): light rows 5 reps graded steady-3, heavy rows
    the plain median of 3 — so the estimator's bias cancels in the ratio
    instead of favoring either engine."""
    monkeypatch.setattr(bench, "remaining", lambda: 1e9)
    monkeypatch.setattr(bench, "HEAVY_ROWS", frozenset({"heavy_q"}))
    specs = {
        "light_q": _oracle_only_spec("light_q"),
        "heavy_q": _oracle_only_spec("heavy_q"),
    }
    timings, reps = bench.time_duckdb(specs, SF_SMOKE, skipped=[])
    assert len(reps["light_q"]) == bench.LIGHT_REPS["n_reps"]
    assert timings["light_q"] == round(
        bench._steady_median(reps["light_q"], bench.LIGHT_REPS["steady_k"]), 4
    )
    assert len(reps["heavy_q"]) == bench.HEAVY_REPS["n_reps"]
    assert timings["heavy_q"] == round(sorted(reps["heavy_q"])[1], 4)


def _grade_payload(n_queries=20, skipped=None):
    """Representative full-result payload shaped like BENCH_FULL_last.json."""
    queries = {f"query_name_of_typical_len_{i:02d}": 1.2345 for i in range(n_queries)}
    return {
        "metric": "headline_suite_total",
        "value": 20.44,
        "unit": "sec",
        "stat": "median_of_warm_reps",
        "sf": 0.1,
        "queries": queries,
        "queries_reps": {q: [1.2, 1.3, 1.2] for q in queries},
        "scale": {"rows": {"lineitem": 60_000_000}},
        "grade": {
            "spark": dict(queries),
            "ratio": {q: 1.042 for q in queries},
            "ratio_median": 1.04,
            "bucketed_spark": {"q3_shipping_priority": 1.5, "q5_local_supplier": 1.2},
            "bucketed_ratio": {"q3_shipping_priority": 1.952, "q5_local_supplier": 1.687},
            "variants": {
                "docs_minhash_candidates": "documents: doc_id < 25·2^33",
                "q1_pricing_summary": "lineitem ×16",
            },
            "skipped": skipped or [],
        },
        "elapsed_s": 744.1,
        "sentinel": {"spark_jvm": 0.16, "spark_arrow": 0.54, "duckdb": 0.35,
                     "drift": 0.751},
    }


def test_compact_line_fits_tail_budget_and_parses():
    """VERDICT r8 task 2: the driver keeps a 2000-char stdout tail and
    records parsed:null unless that tail is itself valid JSON. The whole
    stdout is now ONE line under STDOUT_TAIL_BUDGET carrying the contract
    keys plus every graded ratio."""
    import json

    line = bench.build_compact_line(_grade_payload())
    assert len(line) <= bench.STDOUT_TAIL_BUDGET
    parsed = json.loads(line)
    for key in ("metric", "value", "unit", "queries", "sf"):
        assert key in parsed  # the driver's documented stdout contract
    assert parsed["grade"]["ratio_median"] == 1.04
    assert parsed["grade"]["bucketed_ratio"]["q3_shipping_priority"] == 1.952
    assert parsed["grade"]["skipped"] == []
    # detail (rep spreads, absolute walls) is pointed at, not inlined
    assert parsed["detail"] == "BENCH_FULL_last.json"
    assert "queries_reps" not in parsed
    assert parsed["sentinel_drift"] == 0.751


def test_compact_line_trim_ladder_under_pathological_skip_list():
    """A budget-killed run can carry dozens of skipped labels; the trim
    ladder must still produce a parseable line under budget rather than
    silently regressing to parsed:null."""
    import json

    skipped = [f"duckdb:some_quite_long_query_name_{i:03d}" for i in range(40)]
    payload = _grade_payload(n_queries=40, skipped=skipped)
    line = bench.build_compact_line(payload)
    assert len(line) <= bench.STDOUT_TAIL_BUDGET
    parsed = json.loads(line)
    assert parsed["grade"]["ratio_median"] == 1.04  # the headline survives
    # skip flags survive, at worst truncated with an explicit pointer —
    # never silently dropped. Round 10 truncates to 5 (was 10): the
    # skipped rung now fires BEFORE the per-query ratios are sacrificed,
    # so the budget it frees must be larger.
    kept = parsed["grade"]["skipped"]
    # skip info is never silent: full list, head+pointer, or count+pointer
    assert kept == skipped or "see BENCH_FULL_last.json" in kept[-1]
    # ordering contract: the ratio dict may only be sacrificed AFTER the
    # skip list was reduced (this synthetic has 40 queries — twice the
    # real suite — so it legitimately reaches that rung).
    if not isinstance(parsed["grade"]["ratio"], dict):
        assert len(kept) <= 6
    assert parsed["sentinel_drift"] == 0.751  # kept on every rung


def test_compact_line_real_suite_size_keeps_ratios_under_skip_pressure():
    """At the REAL suite size (20 graded rows) a pathological skip list
    must cost annotations and skip-list tail, never the per-query graded
    ratios — they are the artifact's reason to exist (round 10: the old
    ladder order dropped the ratio dict while 14 skip flags rode along
    untrimmed)."""
    import json

    skipped = [f"duckdb-timeout-lower-bound:query_name_{i:03d}" for i in range(40)]
    payload = _grade_payload(n_queries=20, skipped=skipped)
    line = bench.build_compact_line(payload)
    assert len(line) <= bench.STDOUT_TAIL_BUDGET
    parsed = json.loads(line)
    assert isinstance(parsed["grade"]["ratio"], dict)
    assert len(parsed["grade"]["ratio"]) == 20
    kept = parsed["grade"]["skipped"]
    assert "see BENCH_FULL_last.json" in kept[-1]  # reduced, never silent
    assert parsed["sentinel_drift"] == 0.751


def test_compact_line_no_scale_phase():
    import json

    payload = _grade_payload()
    del payload["grade"], payload["scale"]
    payload["scale_skipped"] = "budget exhausted before scale phase"
    line = bench.build_compact_line(payload)
    parsed = json.loads(line)
    assert parsed["scale_skipped"] == "budget exhausted before scale phase"
    assert len(line) <= bench.STDOUT_TAIL_BUDGET
    assert parsed["sentinel_drift"] == 0.751


def test_compact_line_keeps_sentinel_drift_on_the_last_rung():
    """Even the final rung (queries dropped) carries sentinel_drift and
    fits the tail budget."""
    import json

    skipped = [f"duckdb-timeout-lower-bound:query_name_{i:03d}" for i in range(40)]
    payload = _grade_payload(n_queries=120, skipped=skipped)
    line = bench.build_compact_line(payload)
    assert len(line) <= bench.STDOUT_TAIL_BUDGET
    parsed = json.loads(line)
    assert parsed["queries"] == "see BENCH_FULL_last.json"  # last rung fired
    assert parsed["sentinel_drift"] == 0.751


def test_protocol_notes_are_built_from_the_run_constants():
    """The sidecar's stat strings name the paired rep count, its k and the
    oracle cap the run actually used."""
    notes = bench.protocol_notes()
    paired = f"steady{bench.PAIRED_STEADY_K} over {bench.PAIRED_REPS} per-rep"
    assert paired in notes["stat"]
    assert paired in notes["bucketed_stat"]
    assert f"{bench.ORACLE_CAP_S:g} s" in notes["stat"]
    assert f"{bench.ORACLE_CAP_S:g} s" in notes["order"]


def test_median_reps_steady_k_drops_settling_head(monkeypatch):
    """r8 task 3's original case: a settling head before a converged tail
    — steady-3 grades the converged level, head stays in the sidecar."""
    monkeypatch.setattr(bench, "remaining", lambda: 1e9)
    clock = {"now": 0.0}
    # settling head (2.4, 1.7) then converged tail
    deltas = iter([2.4, 1.7, 1.0, 0.95, 1.05, 0.9, 1.0, 0.98, 1.02])
    calls = {"n": 0}

    def fake_counter():
        calls["n"] += 1
        if calls["n"] % 2 == 0:
            clock["now"] += next(deltas)
        return clock["now"]

    monkeypatch.setattr(bench.time, "perf_counter", fake_counter)
    med, raw = bench._median_reps(
        lambda: None, warm_s=1.0, n_reps=9, force_reps=True, steady_k=3
    )
    assert len(raw) == 9  # full spread preserved for audit
    # min over 3-windows of the window median: the converged tail's
    # cleanest window ([0.95, 1.05, 0.9] -> 0.95) sets the grade
    assert med == 0.95
    assert raw[0] == 2.4  # ...but auditable in the sidecar spread


def test_median_reps_steady_k_survives_midphase_storm():
    """Round-9 run 7 regression: a host interference storm hit the TAIL
    of the bucketed phase, so the r8 last-5 median graded 2.54 s where
    the steady wall (0.84-0.85, reproduced in reps 2 and 4) was the
    honest number. steady-3 requires no ordering assumption."""
    raw = [2.16, 0.84, 1.16, 0.84, 1.93, 2.90, 2.54, 2.46, 3.19]
    assert bench._steady_median(raw, 3) == 0.84  # window [0.84, 1.16, 0.84]
    # and a single fast outlier cannot set the grade on its own:
    assert bench._steady_median([2.0, 0.1, 2.1, 2.2, 2.05], 3) == 2.0


def test_median_reps_steady_k_budget_truncation_falls_back(monkeypatch):
    """A budget-truncated run grades the plain median of whatever reps
    exist instead of erroring on a short rep list."""
    ran = {"n": 0}

    def run():
        ran["n"] += 1

    monkeypatch.setattr(bench, "remaining", lambda: 5.0)
    med, raw = bench._median_reps(
        run, warm_s=0.1, n_reps=9, force_reps=True, steady_k=3
    )
    assert len(raw) == 1  # only the owed first rep fit the budget
    assert med == raw[0]


def test_median_reps_two_rep_tiebreaker_on_2x_disagreement(monkeypatch):
    """r9: a 2-rep median is a mean, so one pathological rep (observed:
    [26.9, 134.7] on a degraded box) distorts the grade. A >2x
    disagreement triggers one tie-breaker rep when budget allows."""
    monkeypatch.setattr(bench, "remaining", lambda: 1e9)
    clock = {"now": 0.0}
    deltas = iter([26.9, 134.7, 27.3])
    calls = {"n": 0}

    def fake_counter():
        calls["n"] += 1
        if calls["n"] % 2 == 0:
            clock["now"] += next(deltas)
        return clock["now"]

    monkeypatch.setattr(bench.time, "perf_counter", fake_counter)
    med, raw = bench._median_reps(lambda: None, warm_s=26.0)  # slow tier: 2 reps
    assert len(raw) == 3  # tie-breaker ran
    assert med == 27.3  # true median, not the 80.8 two-rep mean


def test_median_reps_no_tiebreaker_when_reps_agree(monkeypatch):
    monkeypatch.setattr(bench, "remaining", lambda: 1e9)
    clock = {"now": 0.0}
    deltas = iter([26.9, 28.1])
    calls = {"n": 0}

    def fake_counter():
        calls["n"] += 1
        if calls["n"] % 2 == 0:
            clock["now"] += next(deltas)
        return clock["now"]

    monkeypatch.setattr(bench.time, "perf_counter", fake_counter)
    med, raw = bench._median_reps(lambda: None, warm_s=26.0)
    assert len(raw) == 2  # agreement: no extra rep spent


def test_median_reps_no_tiebreaker_without_budget(monkeypatch):
    """The tie-breaker costs the CHEAPER rep's time; without that much
    budget left the distorted 2-rep median is still better than a kill."""
    clock = {"now": 0.0}
    deltas = iter([26.9, 134.7])
    calls = {"n": 0}

    def fake_counter():
        calls["n"] += 1
        if calls["n"] % 2 == 0:
            clock["now"] += next(deltas)
        return clock["now"]

    # budget drains with the clock: enough for rep 2 (160-26.9 > 56.9),
    # exhausted by the time the tie-breaker would fire (160-161.6 < 0)
    monkeypatch.setattr(bench, "remaining", lambda: 160.0 - clock["now"])
    monkeypatch.setattr(bench.time, "perf_counter", fake_counter)
    med, raw = bench._median_reps(lambda: None, warm_s=26.0)
    assert len(raw) == 2  # no tie-breaker: budget could not absorb it
    assert med == 80.8  # the distorted mean stands, auditable via raw


def test_time_duckdb_runs_oracles_in_name_order(monkeypatch):
    """One oracle pass, in name order: no estimate-ordered tiers and no
    budget-driven flip."""
    from types import SimpleNamespace as NS

    monkeypatch.setattr(bench, "remaining", lambda: 1e9)
    ran = []

    def fake_guarded(con, sql, cap):
        ran.append(sql)
        assert cap == bench.ORACLE_CAP_S  # the one cap, budget permitting
        return 0.01

    monkeypatch.setattr(bench, "_guarded_run", fake_guarded)
    names = ["semdedup_survivors", "asof_join_purchase_click",
             "events_sessionize", "docs_segment_dedup"]
    specs = {n: NS(fn=None, oracle=n) for n in names}
    timings, _ = bench.time_duckdb(specs, "/nowhere", skipped=[], con=object())
    assert list(dict.fromkeys(ran)) == sorted(names)
    assert sorted(timings) == sorted(names)


def test_force_reps_genuinely_slow_falls_to_two_rep_tier(monkeypatch):
    """ADVICE r9 (low): force_reps exists to protect sub-second queries
    from a COLD-CACHE warm rep tripping the slow cutoff — but a row whose
    warm rep AND first timed rep both exceed the cutoff is genuinely
    slow, and pinning it to 5 reps steady-3 over a 2-rep oracle mean is
    a tier where the estimators diverge. It must fall back to the same
    2-rep plain-median tier the oracle side uses."""
    monkeypatch.setattr(bench, "remaining", lambda: 1e9)
    clock = {"now": 0.0}
    deltas = iter([6.2, 6.4, 6.0, 6.1, 6.3])
    calls = {"n": 0}

    def fake_counter():
        calls["n"] += 1
        if calls["n"] % 2 == 0:
            clock["now"] += next(deltas)
        return clock["now"]

    monkeypatch.setattr(bench.time, "perf_counter", fake_counter)
    med, raw = bench._median_reps(
        lambda: None, warm_s=6.5, n_reps=5, force_reps=True, steady_k=3
    )
    assert len(raw) == 2  # matched the oracle's 2-rep tier
    assert med == 6.3  # plain median (mean of 2), not a steady-3 min


def test_force_reps_cold_cache_keeps_full_reps(monkeypatch):
    """The case force_reps exists FOR: slow warm-up (cold page cache),
    fast timed reps — the full rep count and steady grade must stand."""
    monkeypatch.setattr(bench, "remaining", lambda: 1e9)
    clock = {"now": 0.0}
    deltas = iter([1.2, 1.0, 0.9, 1.0, 1.1])
    calls = {"n": 0}

    def fake_counter():
        calls["n"] += 1
        if calls["n"] % 2 == 0:
            clock["now"] += next(deltas)
        return clock["now"]

    monkeypatch.setattr(bench.time, "perf_counter", fake_counter)
    med, raw = bench._median_reps(
        lambda: None, warm_s=6.5, n_reps=5, force_reps=True, steady_k=3
    )
    assert len(raw) == 5
    assert med == 1.0


def _fake_paired_harness(
    monkeypatch, spark_deltas, duck_deltas, names=("fake_q",), defaults=False
):
    """Drive bench.time_paired with a scripted clock: spark rep i of each
    row takes spark_deltas[i], oracle rep i returns duck_deltas[i]
    directly. The harness runs len(duck_deltas) reps graded steady-3,
    or time_paired's own PAIRED_REPS / PAIRED_STEADY_K with
    ``defaults``."""
    from transilien_api_etl_spark.plans.registry import QuerySpec

    monkeypatch.setattr(bench, "remaining", lambda: 1e9)
    log = []

    class FakeResult:
        def count(self):
            log.append("S")
            return 1

    specs = {
        n: QuerySpec(name=n, fn=lambda s, d: FakeResult(), oracle="SELECT 1")
        for n in names
    }

    clock = {"now": 0.0}
    sd = iter(list(spark_deltas) * len(names))
    calls = {"n": 0}

    def fake_counter():
        calls["n"] += 1
        if calls["n"] % 2 == 0:
            clock["now"] += next(sd)
        return clock["now"]

    dd = iter(([None] + list(duck_deltas)) * len(names))  # first = warm rep

    def fake_guarded(con, sql, cap):
        log.append("D")
        v = next(dd)
        return 0.01 if v is None else v

    monkeypatch.setattr(bench.time, "perf_counter", fake_counter)
    monkeypatch.setattr(bench, "_guarded_run", fake_guarded)
    protocol = {} if defaults else {"n_reps": len(duck_deltas), "steady_k": 3}
    out = bench.time_paired(
        specs, spark=None, data_dir="/nowhere", con=None,
        skipped=[], twins=False, **protocol,
    )
    return out, log


def test_time_paired_grades_per_rep_quotients_not_wall_quotient(monkeypatch):
    """VERDICT r9 task 1: a storm that inflates BOTH engines' rep i must
    cancel in the quotient. Here rep 3 is a 4x storm on both sides: the
    per-rep quotient sequence stays ~1.0, while a ratio-of-medians
    protocol would have been exposed to whichever side's median the
    storm happened to land in."""
    (spark_t, sreps, duck_t, dreps, ratio_t, rreps), log = _fake_paired_harness(
        monkeypatch,
        spark_deltas=[0.5, 0.52, 2.0, 0.48, 0.5],
        duck_deltas=[0.5, 0.5, 2.1, 0.5, 0.52],
    )
    assert sreps["fake_q"] == [0.5, 0.52, 2.0, 0.48, 0.5]
    assert dreps["fake_q"] == [0.5, 0.5, 2.1, 0.5, 0.52]
    # quotients [1.0, 1.04, 0.952, 0.96, 0.962] -> steady-3 ~0.96
    assert rreps["fake_q"] == [1.0, 1.04, 0.9524, 0.96, 0.9615]
    assert 0.95 <= ratio_t["fake_q"] <= 1.0
    # graded ratio comes from the quotient sequence, not the walls:
    assert ratio_t["fake_q"] != round(spark_t["fake_q"] / duck_t["fake_q"], 3)


def test_time_paired_alternates_engines_per_rep(monkeypatch):
    """The pairing claim is temporal: spark rep i immediately followed by
    oracle rep i (warm-ups first, one per engine)."""
    _, log = _fake_paired_harness(
        monkeypatch,
        spark_deltas=[0.5, 0.5, 0.5],
        duck_deltas=[0.5, 0.5, 0.5],
    )
    # S (spark warm), D (duck warm), then strict S D S D S D
    assert log == ["S", "D", "S", "D", "S", "D", "S", "D"]


def test_time_paired_one_sided_storm_moves_only_its_rep(monkeypatch):
    """A storm that hits ONLY the spark side of rep 3 distorts quotient 3
    alone; the steady-3 window over quotients excludes it (the old
    ratio-of-medians could not, when the storm landed mid-median)."""
    (_, _, _, _, ratio_t, rreps), _ = _fake_paired_harness(
        monkeypatch,
        spark_deltas=[0.5, 0.5, 2.0, 0.5, 0.5],
        duck_deltas=[0.5, 0.5, 0.5, 0.5, 0.5],
    )
    assert rreps["fake_q"] == [1.0, 1.0, 4.0, 1.0, 1.0]
    assert ratio_t["fake_q"] == 1.0


def test_time_paired_every_row_gets_the_same_reps_and_k(monkeypatch):
    """q1_pricing_summary (a row that once took extra reps) and any other
    paired row run the same PAIRED_REPS alternating reps, graded by the
    same steady-PAIRED_STEADY_K estimator on both engines."""
    names = ("events_tumbling_1h", "q1_pricing_summary")
    n = bench.PAIRED_REPS
    spark_deltas = ([0.6, 2.4, 3.6, 1.8, 0.5, 0.7, 0.6, 0.9, 1.1] * 2)[:n]
    (spark_t, sreps, duck_t, dreps, ratio_t, rreps), log = _fake_paired_harness(
        monkeypatch, spark_deltas=spark_deltas, duck_deltas=[0.5] * n,
        names=names, defaults=True,
    )
    # per row: warm S, warm D, then strict S D alternation
    assert log == (["S", "D"] + ["S", "D"] * n) * len(names)
    k = bench.PAIRED_STEADY_K
    for name in names:
        assert len(sreps[name]) == len(dreps[name]) == n
        assert spark_t[name] == round(bench._steady_median(sreps[name], k), 4)
        assert duck_t[name] == round(bench._steady_median(dreps[name], k), 4)
        assert ratio_t[name] == round(bench._steady_median(rreps[name], k), 3)
    assert rreps[names[0]] == rreps[names[1]]
    assert ratio_t[names[0]] == ratio_t[names[1]]


def test_time_paired_recovers_a_three_rep_storm(monkeypatch):
    """A one-sided storm over 3 consecutive reps still leaves one clean
    window at the common rep count, so the grade is the plan's."""
    assert bench.PAIRED_REPS - 3 >= bench.PAIRED_STEADY_K
    n = bench.PAIRED_REPS
    # reps 2-4 are a one-sided spark storm; the rest calm
    spark_deltas = [0.6, 2.4, 3.6, 1.8] + [0.6] * (n - 4)
    (_, _, _, _, ratio_t, rreps), _ = _fake_paired_harness(
        monkeypatch, spark_deltas=spark_deltas, duck_deltas=[0.5] * n,
        defaults=True,
    )
    assert rreps["fake_q"] == [1.2, 4.8, 7.2, 3.6] + [1.2] * (n - 4)
    assert ratio_t["fake_q"] == 1.2


def test_time_paired_real_query_end_to_end(spark):
    """Plumbing smoke on real data: q1 at sf0.001 through a real DuckDB
    connection (incl. the q_vec setup in _duck_connect). Uses the shared
    session fixture — build_session here would getOrCreate the SAME
    active session and a stop() would kill it for every later test."""
    con = bench._duck_connect(SF_SMOKE)
    spec = bench.REGISTRY["q1_pricing_summary"]
    spark_t, sreps, duck_t, dreps, ratio_t, rreps = bench.time_paired(
        {"q1_pricing_summary": spec}, spark, SF_SMOKE,
        con, skipped=[], n_reps=3, steady_k=3, twins=False,
    )
    con.close()
    assert spark_t["q1_pricing_summary"] > 0
    assert duck_t["q1_pricing_summary"] > 0
    assert len(rreps["q1_pricing_summary"]) == 3
    assert ratio_t["q1_pricing_summary"] > 0


def test_duck_connect_pins_utc():
    """DuckDB reads this engine's parquet ``ts`` as TIMESTAMPTZ and
    truncates it in its TimeZone, the host's by default; Spark's session
    is pinned to UTC, so the oracle connection must be too (a half-hour
    zone would regroup every ``date_trunc('hour', ts)``)."""
    con = bench._duck_connect(SF_SMOKE)
    try:
        tz, hour = con.execute(
            "SELECT current_setting('TimeZone'), "
            "date_trunc('hour', TIMESTAMPTZ '2024-01-01 00:45:00+00')::VARCHAR"
        ).fetchone()
    finally:
        con.close()
    assert tz == "UTC"
    assert hour == "2024-01-01 00:00:00+00"


def test_duck_connect_uses_spark_cores(monkeypatch):
    """Both engines of a ratio get the same cores: the oracle connection
    runs SPARK_GRAFT_CPUS threads, not one per core of the box."""
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "2")
    con = bench._duck_connect(SF_SMOKE)
    try:
        (threads,) = con.execute("SELECT current_setting('threads')").fetchone()
    finally:
        con.close()
    assert threads == 2


def test_time_duckdb_binder_error_is_flagged_not_graded():
    """Code-review round 10: a binder/config error (missing table, bad
    SQL) must NOT be recorded as a cap-valued 'timeout lower bound' —
    that would grade a broken setup as a decisive Spark win. It is
    flagged as duckdb-error and the row gets NO timing at all."""
    from transilien_api_etl_spark.plans.registry import QuerySpec

    bad = QuerySpec(
        name="broken_oracle_q",
        fn=lambda s, d: None,
        oracle="SELECT * FROM this_table_does_not_exist",
    )
    bench.REGISTRY.setdefault("broken_oracle_q", bad)
    try:
        skipped = []
        timings, reps = bench.time_duckdb(
            {"broken_oracle_q": bad}, SF_SMOKE, skipped=skipped
        )
        assert "broken_oracle_q" not in timings
        assert any(s.startswith("duckdb-error:broken_oracle_q") for s in skipped)
        assert not any("timeout" in s for s in skipped)
    finally:
        bench.REGISTRY.pop("broken_oracle_q", None)


def test_time_paired_binder_error_skips_row_with_flag(monkeypatch, spark):
    """Same contract on the paired path: an erroring oracle cannot be
    paired — the row is skipped loudly, nothing is graded."""
    from transilien_api_etl_spark.plans.registry import QuerySpec

    spec = QuerySpec(
        name="broken_paired_q",
        fn=lambda s, d: s.range(1),
        oracle="SELECT * FROM this_table_does_not_exist",
    )
    con = bench._duck_connect(SF_SMOKE)
    skipped = []
    out = bench.time_paired(
        {"broken_paired_q": spec}, spark, SF_SMOKE, con,
        skipped=skipped, n_reps=2, steady_k=1, twins=False,
    )
    con.close()
    assert all(not d for d in out)  # all six result dicts empty
    assert any(s.startswith("duckdb-error:broken_paired_q") for s in skipped)


def test_time_duckdb_near_death_runs_with_shrunken_cap(monkeypatch):
    """Round 10 run 5: at remaining=25 the old gate (<=30) dropped the
    row entirely — three dropped Spark-favoring blowouts moved
    ratio_median 0.8 -> 1.38 by omission. The row must now run under a
    budget-shrunken cap and record a real timing."""
    from transilien_api_etl_spark.plans.registry import QuerySpec

    monkeypatch.setattr(bench, "remaining", lambda: 25.0)
    spec = QuerySpec(
        name="near_death_q",
        fn=lambda s, d: None,
        oracle="SELECT count(*) AS n FROM region",
    )
    bench.REGISTRY.setdefault("near_death_q", spec)
    try:
        skipped = []
        timings, reps = bench.time_duckdb(
            {"near_death_q": spec}, SF_SMOKE, skipped=skipped
        )
        assert "near_death_q" in timings and reps["near_death_q"]
        assert skipped == []
    finally:
        bench.REGISTRY.pop("near_death_q", None)


def test_time_duckdb_row_without_budget_is_skipped_and_line_parses(monkeypatch):
    """A row reached with less than REP_CAP_FLOOR_S of oracle cap left
    runs nothing and is listed in ``skipped``; the one-line JSON still
    parses and names it."""
    import json

    # cap = 15 - TEARDOWN_MARGIN_S = 3 s < REP_CAP_FLOOR_S
    monkeypatch.setattr(bench, "remaining", lambda: 15.0)
    ran = []
    monkeypatch.setattr(bench, "_guarded_run", lambda *a: ran.append(a))
    skipped = []
    timings, _ = bench.time_duckdb(
        {"late_q": _oracle_only_spec("late_q")}, SF_SMOKE,
        skipped=skipped,
    )
    assert timings == {} and ran == []
    assert skipped == ["duckdb:late_q"]
    line = bench.build_compact_line(_grade_payload(skipped=skipped))
    assert len(line) <= bench.STDOUT_TAIL_BUDGET
    parsed = json.loads(line)
    assert parsed["grade"]["skipped"] == ["duckdb:late_q"]
    assert parsed["sentinel_drift"] == 0.751


def test_time_duckdb_true_death_still_skips(monkeypatch):
    """With no oracle budget left nothing runs: the skip flag (not a
    phantom timing) is the record."""
    from transilien_api_etl_spark.plans.registry import QuerySpec

    monkeypatch.setattr(bench, "remaining", lambda: 13.5)  # headroom 1.5
    spec = QuerySpec(
        name="dead_q",
        fn=lambda s, d: None,
        oracle="SELECT count(*) AS n FROM region",
    )
    bench.REGISTRY.setdefault("dead_q", spec)
    try:
        skipped = []
        timings, _ = bench.time_duckdb(
            {"dead_q": spec}, SF_SMOKE, skipped=skipped
        )
        assert timings == {} and "duckdb:dead_q" in skipped
    finally:
        bench.REGISTRY.pop("dead_q", None)


def test_time_duckdb_no_budget_after_warm_skips_row(monkeypatch):
    """The warm run fits but the first timed rep's cap would be under
    REP_CAP_FLOOR_S: the row is listed in ``skipped``, not graded on its
    cold warm run."""
    budget = iter([25.0] + [16.0] * 50)  # warm cap 13 s, rep cap 4 s
    monkeypatch.setattr(bench, "remaining", lambda: next(budget))
    skipped = []
    timings, reps = bench.time_duckdb(
        {"rep_break_q": _oracle_only_spec("rep_break_q")},
        SF_SMOKE, skipped=skipped,
    )
    assert timings == {} and reps == {}
    assert skipped == ["duckdb:rep_break_q"]


def _budget_paired_harness(monkeypatch, remaining_s):
    """time_paired under a pinned budget: scripted clock, oracle reps
    return 0.1 s."""
    from transilien_api_etl_spark.plans.registry import QuerySpec

    monkeypatch.setattr(bench, "remaining", lambda: remaining_s)
    log = []

    class FakeResult:
        def count(self):
            log.append("S")
            return 1

    spec = QuerySpec(name="fake_q", fn=lambda s, d: FakeResult(), oracle="SELECT 1")
    monkeypatch.setitem(bench.REGISTRY, "fake_q", spec)

    clock = {"now": 0.0}

    def fake_counter():
        clock["now"] += 0.1
        return clock["now"]

    def fake_guarded(con, sql, cap):
        log.append("D")
        return 0.1

    monkeypatch.setattr(bench.time, "perf_counter", fake_counter)
    monkeypatch.setattr(bench, "_guarded_run", fake_guarded)
    skipped = []
    out = bench.time_paired(
        {"fake_q": spec}, spark=None, data_dir="/nowhere", con=None,
        skipped=skipped, n_reps=5, steady_k=3, n_warm=1, twins=False,
    )
    return out, log, skipped


def test_time_paired_below_teardown_floor_drops_loudly(monkeypatch):
    out, log, skipped = _budget_paired_harness(monkeypatch, remaining_s=12.0)
    _, _, _, _, ratio_t, _ = out
    assert ratio_t == {}
    assert log == []  # nothing ran
    assert "paired:fake_q" in skipped
