"""End-to-end domain pipeline test (SURVEY.md §1, §8 M4): GTFS CSV feed →
scheduled departures → XML realtime passages → match → delay board.

Covers the reference's hairy cases: after-midnight (>24:00:00) GTFS clocks,
day-of-service cutoff, calendar_dates add/remove exceptions, UIC 8→7
station normalization, delayed/cancelled status decode, ambiguous train-num
as-of tie-break, and scheduled-but-unobserved stops.
"""

from __future__ import annotations

import textwrap

import pytest

from transilien_api_etl_spark.operators.delays import (
    delay_board,
    delay_stats,
    match_passages,
    with_delay,
)
from transilien_api_etl_spark.sources.gtfs import (
    load_gtfs,
    scheduled_departures,
    services_active_on,
)
from transilien_api_etl_spark.sources.realtime import normalize_passages, parse_passages
from transilien_api_etl_spark.sources.sinks import upsert_by_key, write_partitioned

# Service day under test: Friday 2026-01-02.
DAY = "20260102"

GTFS_FILES = {
    "agency": "agency_id,agency_name,agency_url,agency_timezone\nSN,SNCF,http://x,Europe/Paris\n",
    "stops": (
        "stop_id,stop_name,stop_lat,stop_lon\n"
        "8727100,Gare du Nord,48.88,2.35\n"
        "8727613,Enghien,48.97,2.30\n"
    ),
    "routes": "route_id,agency_id,route_short_name,route_long_name,route_type\nH,SN,H,Ligne H,2\n",
    "trips": (
        "route_id,service_id,trip_id,trip_headsign\n"
        "H,WEEKDAY,SNCF-123401-H,POPI\n"  # train_num 123401
        "H,WEEKDAY,SNCF-123403-H,POPI\n"  # train_num 123403 (stops twice at same stop: ambiguous)
        "H,WEEKEND,SNCF-555555-H,VICK\n"  # not active on a Friday
        "H,SPECIAL,SNCF-777777-H,SPEC\n"  # added by calendar_dates for DAY
    ),
    "stop_times": (
        "trip_id,arrival_time,departure_time,stop_id,stop_sequence\n"
        "SNCF-123401-H,08:00:00,08:01:00,8727100,1\n"
        "SNCF-123401-H,08:14:00,08:15:00,8727613,2\n"
        "SNCF-123403-H,09:00:00,09:01:00,8727100,1\n"
        "SNCF-123403-H,21:00:00,21:01:00,8727100,5\n"  # same train+stop later that day
        "SNCF-555555-H,10:00:00,10:00:00,8727100,1\n"
        "SNCF-777777-H,25:10:00,25:12:00,8727100,1\n"  # after-midnight GTFS clock
    ),
    "calendar": (
        "service_id,monday,tuesday,wednesday,thursday,friday,saturday,sunday,start_date,end_date\n"
        "WEEKDAY,1,1,1,1,1,0,0,20260101,20261231\n"
        "WEEKEND,0,0,0,0,0,1,1,20260101,20261231\n"
    ),
    "calendar_dates": (
        "service_id,date,exception_type\n"
        f"SPECIAL,{DAY},1\n"  # added for this day
        f"WEEKDAY,20260106,2\n"  # removed on some other day (not DAY)
    ),
}


def _xml(station: str, trains: list[str]) -> str:
    body = "\n".join(trains)
    return textwrap.dedent(f'<?xml version="1.0"?><passages gare="{station}">{body}</passages>')


def _train(num: str, date_text: str, mode: str = "R", term: str = "87271007", etat: str | None = None) -> str:
    etat_el = f"<etat>{etat}</etat>" if etat else ""
    return (
        f'<train><date mode="{mode}">{date_text}</date><num>{num}</num>'
        f"<miss>POPI</miss><term>{term}</term>{etat_el}</train>"
    )


@pytest.fixture(scope="module")
def gtfs_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("gtfs")
    for name, content in GTFS_FILES.items():
        (d / f"{name}.txt").write_text(content)
    return str(d)


@pytest.fixture(scope="module")
def schedule(spark, gtfs_dir):
    gtfs = load_gtfs(spark, gtfs_dir)
    sched = scheduled_departures(gtfs, DAY)
    # the schedule's stop_id is already the 7-digit key; align names for matching
    return sched.withColumnRenamed("stop_id", "station7").cache()


@pytest.fixture(scope="module")
def observed(spark):
    # Station polled with its 8-digit UIC code 87271007 (→ 7-digit 8727100).
    payloads = [
        (
            "87271007",
            _xml(
                "87271007",
                [
                    _train("123401", "02/01/2026 08:05", etat="Retardé"),  # +4 min late
                    _train("123403", "02/01/2026 09:01"),  # on time, matches 09:01 not 21:01
                    _train("777777", "03/01/2026 01:15", etat="Supprimé"),  # after midnight
                ],
            ),
        ),
        ("87276133", _xml("87276133", [_train("123401", "02/01/2026 08:15")])),  # on time
        ("87999999", "<not-xml"),  # malformed payload → skipped
    ]
    raw = spark.createDataFrame(payloads, "station string, xml string")
    return normalize_passages(parse_passages(raw)).cache()


def test_load_gtfs_zip_matches_dir_load(spark, gtfs_dir, tmp_path):
    import zipfile

    zpath = str(tmp_path / "feed.zip")
    with zipfile.ZipFile(zpath, "w") as zf:
        for name in ("trips", "stop_times", "calendar", "calendar_dates", "stops", "routes"):
            zf.write(f"{gtfs_dir}/{name}.txt", arcname=f"{name}.txt")
        # agency deliberately omitted → must load as an empty typed frame
    from transilien_api_etl_spark.sources.gtfs import load_gtfs_zip

    feeds = load_gtfs_zip(spark, zpath)
    assert feeds["agency"].count() == 0
    assert feeds["agency"].schema == load_gtfs(spark, gtfs_dir)["agency"].schema
    sched_zip = scheduled_departures(feeds, DAY)
    sched_dir = scheduled_departures(load_gtfs(spark, gtfs_dir), DAY)
    assert sorted(map(tuple, sched_zip.collect())) == sorted(map(tuple, sched_dir.collect()))


def test_services_active_on(spark, gtfs_dir):
    gtfs = load_gtfs(spark, gtfs_dir)
    active = {r.service_id for r in services_active_on(gtfs["calendar"], gtfs["calendar_dates"], DAY).collect()}
    assert active == {"WEEKDAY", "SPECIAL"}
    # Tuesday 2026-01-06: WEEKDAY removed by exception
    active_tue = {
        r.service_id
        for r in services_active_on(gtfs["calendar"], gtfs["calendar_dates"], "20260106").collect()
    }
    assert active_tue == set()


def test_scheduled_departures(schedule):
    rows = {(r.trip_id, r.stop_sequence): r for r in schedule.collect()}
    # WEEKEND trip excluded; SPECIAL included; 6 stop_times - 1 weekend = 5 rows
    assert len(rows) == 5
    assert all(r.service_day == DAY for r in rows.values())
    # >24h clock lands on the next calendar day 01:12
    late = rows[("SNCF-777777-H", 1)]
    assert str(late.scheduled_ts) == "2026-01-03 01:12:00"
    assert late.train_num == 777777


def test_parse_and_normalize(observed):
    rows = observed.collect()
    assert len(rows) == 4  # malformed payload dropped
    by_key = {(r.station7, r.train_num): r for r in rows}
    delayed = by_key[("8727100", 123401)]
    assert delayed.status == "delayed" and delayed.realtime is True
    assert str(delayed.expected_ts) == "2026-01-02 08:05:00"
    # after-midnight observation (01:15) rolls back to the DAY service day
    cancelled = by_key[("8727100", 777777)]
    assert cancelled.status == "cancelled"
    assert cancelled.service_day == DAY


def test_match_and_delay(schedule, observed):
    matched = with_delay(match_passages(schedule, observed))
    delays = {(r.station7, r.train_num): r.delay_s for r in matched.collect()}
    assert delays[("8727100", 123401)] == 4 * 60  # 08:05 vs 08:01 scheduled
    assert delays[("8727613", 123401)] == 0
    # ambiguity resolved as-of: 09:01 observation matches the 09:01 stop, not 21:01
    assert delays[("8727100", 123403)] == 0
    assert delays[("8727100", 777777)] == 3 * 60  # 01:15 vs 01:12
    assert len(delays) == 4


def test_delay_board_keeps_unobserved(schedule, observed):
    board = delay_board(schedule, observed)
    rows = board.collect()
    assert len(rows) == 5  # every scheduled stop survives the left join
    status = {(r.station7, r.train_num, r.stop_sequence): r.status for r in rows}
    assert status[("8727100", 123403, 5)] == "unobserved"  # the 21:01 stop
    assert status[("8727100", 123401, 1)] == "delayed"
    stats = delay_stats(board, ["station7"]).collect()
    by_station = {r.station7: r for r in stats}
    assert by_station["8727100"].n_passages == 4
    assert by_station["8727100"].n_cancelled == 1


def test_sinks_roundtrip(spark, schedule, tmp_path):
    # S6 partitioned warehouse write + S5 idempotent upsert replay
    warehouse = str(tmp_path / "warehouse")
    write_partitioned(schedule, warehouse, ["service_day"])
    assert spark.read.parquet(warehouse).count() == schedule.count()

    upsert_path = str(tmp_path / "upsert")
    df1 = spark.createDataFrame(
        [("k1", 1, "old"), ("k1", 2, "new"), ("k2", 1, "only")],
        "key string, version int, val string",
    )
    upsert_by_key(df1, upsert_path, ["key"], "version")
    # replaying the same batch is idempotent
    upsert_by_key(df1, upsert_path, ["key"], "version")
    got = {r.key: r.val for r in spark.read.parquet(upsert_path).collect()}
    assert got == {"k1": "new", "k2": "only"}
    # a later batch updates k1, adds k3, leaves k2 untouched (true MERGE)
    df2 = spark.createDataFrame(
        [("k1", 3, "newer"), ("k3", 1, "fresh")], "key string, version int, val string"
    )
    upsert_by_key(df2, upsert_path, ["key"], "version")
    got = {r.key: r.val for r in spark.read.parquet(upsert_path).collect()}
    assert got == {"k1": "newer", "k2": "only", "k3": "fresh"}
    # stale replay of batch 1 cannot roll k1 back (version ordering wins)
    upsert_by_key(df1, upsert_path, ["key"], "version")
    got = {r.key: r.val for r in spark.read.parquet(upsert_path).collect()}
    assert got == {"k1": "newer", "k2": "only", "k3": "fresh"}


def test_upsert_first_write_tolerates_precreated_empty_dir(spark, tmp_path):
    """A pre-created EMPTY target dir (tempfile.mkdtemp shape) must read as
    "first write", not abort with UNABLE_TO_INFER_SCHEMA — the exact
    first-batch divergence that broke the incremental dedup store in round
    4. A dir with REAL but unreadable-as-parquet content must still raise
    (a corrupt file surfaces as a footer-read SparkException rather than an
    AnalysisException — either way it must NOT read as "first write")."""
    import pytest

    pre = tmp_path / "upsert_pre"
    pre.mkdir()
    df = spark.createDataFrame([("k1", 1, "v")], "key string, version int, val string")
    upsert_by_key(df, str(pre), ["key"], "version")
    assert spark.read.parquet(str(pre)).count() == 1

    poisoned = tmp_path / "upsert_poisoned"
    poisoned.mkdir()
    (poisoned / "data.txt").write_text("not parquet")
    with pytest.raises(Exception, match="(?i)parquet|footer|analysis"):
        upsert_by_key(df, str(poisoned), ["key"], "version")
    assert (poisoned / "data.txt").read_text() == "not parquet"


def test_delay_board_dedups_repeated_polls(spark, schedule, observed):
    # The realtime shape is repeated polls: the same train observed at 08:03
    # (an earlier poll) AND 08:05 (the later one already in `observed`). The
    # board must keep one row per scheduled stop using the LATEST poll.
    earlier = spark.createDataFrame(
        [("87271007", _xml("87271007", [_train("123401", "02/01/2026 08:03", etat="Retardé")]))],
        "station string, xml string",
    )
    two_polls = observed.unionByName(normalize_passages(parse_passages(earlier)))
    board = delay_board(schedule, two_polls)
    rows = board.collect()
    assert len(rows) == 5  # no fan-out from the repeated poll
    by_key = {(r.station7, r.train_num, r.stop_sequence): r for r in rows}
    kept = by_key[("8727100", 123401, 1)]
    assert str(kept.expected_ts) == "2026-01-02 08:05:00"  # latest poll wins
    assert kept.delay_s == 4 * 60
    stats = {r.station7: r for r in delay_stats(board, ["station7"]).collect()}
    assert stats["8727100"].n_passages == 4  # unchanged vs single-poll board


def test_nearest_stations_by_haversine(spark):
    """Geo surface over stops.txt: known distances (Paris Gare du Nord ↔
    Gare de Lyon ≈ 4.3 km straight-line) and deterministic nearest-2
    ranking against a python brute force."""
    import math

    from transilien_api_etl_spark.functions.geo import (
        haversine_km,
        nearest_k_stations,
    )
    from pyspark.sql import functions as F

    stops = spark.createDataFrame(
        [
            ("NORD", "Gare du Nord", 48.8809, 2.3553),
            ("LYON", "Gare de Lyon", 48.8443, 2.3743),
            ("SLAZ", "Saint-Lazare", 48.8765, 2.3256),
            ("MONT", "Montparnasse", 48.8417, 2.3219),
        ],
        ["stop_id", "stop_name", "stop_lat", "stop_lon"],
    )
    probes = spark.createDataFrame([("chatelet", 48.8583, 2.3470)], ["who", "lat", "lon"])
    out = nearest_k_stations(probes, stops, 2).orderBy("dist_km").collect()

    def ref_km(lat1, lon1, lat2, lon2):
        dlat, dlon = math.radians(lat2 - lat1), math.radians(lon2 - lon1)
        a = math.sin(dlat / 2) ** 2 + math.cos(math.radians(lat1)) * math.cos(
            math.radians(lat2)
        ) * math.sin(dlon / 2) ** 2
        return 2 * 6371.0088 * math.asin(math.sqrt(a))

    brute = sorted(
        (ref_km(48.8583, 2.3470, la, lo), sid)
        for sid, _n, la, lo in [
            ("NORD", None, 48.8809, 2.3553),
            ("LYON", None, 48.8443, 2.3743),
            ("SLAZ", None, 48.8765, 2.3256),
            ("MONT", None, 48.8417, 2.3219),
        ]
    )[:2]
    assert [r["stop_id"] for r in out] == [sid for _d, sid in brute]
    assert all(abs(r["dist_km"] - d) < 1e-9 for r, (d, _s) in zip(out, brute))
    # closed-form spot check against the python reference below
    d = (
        stops.filter(F.col("stop_id") == "NORD")
        .crossJoin(
            stops.filter(F.col("stop_id") == "LYON").select(
                F.col("stop_lat").alias("lat2"), F.col("stop_lon").alias("lon2")
            )
        )
        .select(
            haversine_km(
                F.col("stop_lat"), F.col("stop_lon"), F.col("lat2"), F.col("lon2")
            ).alias("d")
        )
        .first()["d"]
    )
    ref = ref_km(48.8809, 2.3553, 48.8443, 2.3743)
    assert abs(d - ref) < 1e-9
    assert 3.5 < d < 5.0  # Gare du Nord ↔ Gare de Lyon straight-line


def test_load_gtfs_zip_handles_nested_directory_prefix(spark, gtfs_dir, tmp_path):
    """Agency exports commonly nest the feed under a folder ('export/
    stops.txt'); the loader must find the tables anyway instead of
    silently returning an all-empty feed (round-5 review)."""
    import zipfile

    from transilien_api_etl_spark.sources.gtfs import load_gtfs_zip

    zpath = str(tmp_path / "nested.zip")
    with zipfile.ZipFile(zpath, "w") as zf:
        for name in ("trips", "stop_times", "calendar", "stops", "routes"):
            zf.write(f"{gtfs_dir}/{name}.txt", arcname=f"export/{name}.txt")
    feeds = load_gtfs_zip(spark, zpath)
    assert feeds["stops"].count() == load_gtfs(spark, gtfs_dir)["stops"].count()
    assert feeds["trips"].count() > 0


# --- A poll cycle's fixed costs: one source evaluation per upsert, one
# cached schedule per (feed, service day). ---------------------------------


def _counting_batch(spark, rows, schema):
    """``rows`` behind a Python UDF filter that counts, in an accumulator,
    every row it evaluates — once per evaluation of the frame."""
    from pyspark.sql import functions as F

    seen = spark.sparkContext.accumulator(0)

    @F.udf("boolean")
    def keep(_key):
        seen.add(1)
        return True

    return spark.createDataFrame(rows, schema).filter(keep("key")), seen


@pytest.mark.parametrize("partition_cols", [None, ["p"]], ids=["unpartitioned", "partitioned"])
def test_upsert_evaluates_incoming_batch_once(spark, tmp_path, partition_cols):
    """With a store present, the incoming frame (a DataSource scan on the
    poll path) is evaluated once per call — not once for the touched
    partitions and again for the union it writes."""
    schema = "key string, p string, version int"
    path = str(tmp_path / "store")
    upsert_by_key(
        spark.createDataFrame([("a", "d1", 1), ("b", "d2", 1)], schema),
        path, ["key"], "version", partition_cols=partition_cols,
    )
    rows = [("a", "d1", 2), ("c", "d1", 1), ("d", "d3", 1)]
    batch, seen = _counting_batch(spark, rows, schema)
    upsert_by_key(batch, path, ["key"], "version", partition_cols=partition_cols)
    assert seen.value == len(rows)
    got = sorted(tuple(r) for r in spark.read.parquet(path).select("key", "p", "version").collect())
    assert got == [("a", "d1", 2), ("b", "d2", 1), ("c", "d1", 1), ("d", "d3", 1)]


def test_upsert_keeps_rows_of_the_null_partition(spark, tmp_path):
    """A NULL partition value (a passage without <date> has a NULL
    service_day) is a partition too: the touched semi-join must read it
    back, or the dynamic overwrite replaces it and drops key b."""
    schema = "key string, p string, version int"
    path = str(tmp_path / "store")
    upsert_by_key(
        spark.createDataFrame([("a", None, 1), ("b", None, 1), ("c", "d1", 1)], schema),
        path, ["key"], "version", partition_cols=["p"],
    )
    upsert_by_key(
        spark.createDataFrame([("a", None, 2)], schema),
        path, ["key"], "version", partition_cols=["p"],
    )
    got = sorted(
        (r.key, r.p, r.version)
        for r in spark.read.parquet(path).select("key", "p", "version").collect()
    )
    assert got == [("a", None, 2), ("b", None, 1), ("c", "d1", 1)]


def test_upsert_keeps_string_partition_that_looks_numeric(spark, tmp_path):
    """A store whose partition directories look numeric (a yyyyMMdd
    service day) is read with the batch's schema: the partition column
    stays a string, so a later non-numeric value is compared as a string
    instead of aborting the touched semi-join with CAST_INVALID_INPUT."""
    schema = "key string, p string, version int"
    path = str(tmp_path / "store")
    for row in (("a", "20260102", 1), ("b", "x1", 1)):
        upsert_by_key(
            spark.createDataFrame([row], schema),
            path, ["key"], "version", partition_cols=["p"],
        )
    store = spark.read.schema(schema).parquet(path)
    assert dict(store.dtypes)["p"] == "string"
    got = sorted(tuple(r) for r in store.select("key", "p", "version").collect())
    assert got == [("a", "20260102", 1), ("b", "x1", 1)]


def _feed_dir(tmp_path) -> str:
    d = tmp_path / "gtfs"
    d.mkdir()
    for name, content in GTFS_FILES.items():
        (d / f"{name}.txt").write_text(content)
    return str(d)


def _trip_ids(sched) -> set[str]:
    return {r.trip_id for r in sched.select("trip_id").distinct().collect()}


def test_schedule_memo_hit_returns_the_cached_frame(spark, tmp_path):
    """Polls against an unchanged feed and day reuse one cached schedule:
    the second call returns the same frame, read from memory."""
    d = _feed_dir(tmp_path)
    first = scheduled_departures(load_gtfs(spark, d), DAY)
    assert load_gtfs(spark, d)["stop_times"] is load_gtfs(spark, d)["stop_times"]
    expect = _trip_ids(first)
    again = scheduled_departures(load_gtfs(spark, d), DAY)
    assert again is first and again.is_cached
    assert "InMemoryRelation" in again._jdf.queryExecution().optimizedPlan().toString()
    assert _trip_ids(again) == expect == {"SNCF-123401-H", "SNCF-123403-H", "SNCF-777777-H"}


def test_schedule_memo_sees_a_rewritten_feed_file(spark, tmp_path):
    """Rewriting calendar_dates.txt changes the listing, so the feed and
    the schedule are rebuilt from the new content."""
    d = _feed_dir(tmp_path)
    before = scheduled_departures(load_gtfs(spark, d), DAY)
    assert "SNCF-555555-H" not in _trip_ids(before)
    (tmp_path / "gtfs" / "calendar_dates.txt").write_text(
        GTFS_FILES["calendar_dates"] + f"WEEKEND,{DAY},1\n"
    )
    after = scheduled_departures(load_gtfs(spark, d), DAY)
    assert after is not before and not before.is_cached
    assert "SNCF-555555-H" in _trip_ids(after)


def test_schedule_memo_misses_on_another_day_or_session(spark, tmp_path):
    """One slot: another day replaces the entry and unpersists the old
    frame; a new session builds its own feed frames, so it misses too."""
    d = _feed_dir(tmp_path)
    friday = scheduled_departures(load_gtfs(spark, d), DAY)
    assert friday.count() > 0
    saturday = scheduled_departures(load_gtfs(spark, d), "20260103")
    assert saturday is not friday
    assert not friday.is_cached and saturday.is_cached
    assert _trip_ids(saturday) == {"SNCF-555555-H"}

    fresh = scheduled_departures(load_gtfs(spark.newSession(), d), "20260103")
    assert fresh is not saturday and not saturday.is_cached
    assert _trip_ids(fresh) == {"SNCF-555555-H"}


def test_schedule_memo_is_shared_safely_across_threads(spark, tmp_path):
    """foreachBatch calls in from its own thread: concurrent first polls
    must build one schedule, and every caller gets that same frame."""
    import sys
    import threading

    d = _feed_dir(tmp_path)
    got, errors = [], []

    def poll():
        try:
            got.append(scheduled_departures(load_gtfs(spark, d), DAY))
        except Exception as e:  # surfaced by the assert below
            errors.append(e)

    threads = [threading.Thread(target=poll) for _ in range(8)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert errors == [] and len(got) == len(threads)
    assert all(s is got[0] for s in got) and got[0].is_cached
