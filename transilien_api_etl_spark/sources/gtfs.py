"""GTFS schedule ingest — SURVEY.md §3.1 S2, §1.2 (reference: the GTFS zip
load into Postgres; re-expressed as declared-schema CSV scans + declarative
service-calendar resolution).

Scale posture: every file is a plain CSV scan with an explicit schema (no
``inferSchema`` pass), so Catalyst prunes columns and the read parallelizes
by file split. ``stop_times`` is the only large table (O(10^6+) rows in real
feeds; O(10^9) at 100 TB-scale multi-network feeds) — everything else is
broadcast-sized dimension data.

A poller matches every poll against the same feed and service day, so the
static side is built once, not once per poll. Two one-slot memos, guarded
by one lock (``foreachBatch`` calls in from its own thread):

- ``load_gtfs`` returns the same frames while the session object, the
  directory and its listing — sorted ``(name, length, mtime)`` from one
  Hadoop ``listStatus`` — are unchanged. Rewriting a member file changes
  its length or mtime and rebuilds the feed.
- ``scheduled_departures`` returns the same ``.cache()``d frame while its
  input frames (compared with ``is``), the day and the session time zone
  are unchanged. A miss unpersists the previous entry, so at most one
  day's schedule stays in storage.

``load_gtfs_zip`` is not memoized: each call extracts to a new directory,
so its frames, and the schedule built from them, are new on every call.
"""

from __future__ import annotations

import threading

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from transilien_api_etl_spark.functions.datetime_fns import service_departure_ts
from transilien_api_etl_spark.functions.strings import numeric_id

GTFS_SCHEMAS: dict[str, T.StructType] = {
    "agency": T.StructType(
        [
            T.StructField("agency_id", T.StringType()),
            T.StructField("agency_name", T.StringType()),
            T.StructField("agency_url", T.StringType()),
            T.StructField("agency_timezone", T.StringType()),
        ]
    ),
    "stops": T.StructType(
        [
            T.StructField("stop_id", T.StringType()),
            T.StructField("stop_name", T.StringType()),
            T.StructField("stop_lat", T.DoubleType()),
            T.StructField("stop_lon", T.DoubleType()),
        ]
    ),
    "routes": T.StructType(
        [
            T.StructField("route_id", T.StringType()),
            T.StructField("agency_id", T.StringType()),
            T.StructField("route_short_name", T.StringType()),
            T.StructField("route_long_name", T.StringType()),
            T.StructField("route_type", T.IntegerType()),
        ]
    ),
    "trips": T.StructType(
        [
            T.StructField("route_id", T.StringType()),
            T.StructField("service_id", T.StringType()),
            T.StructField("trip_id", T.StringType()),
            T.StructField("trip_headsign", T.StringType()),
        ]
    ),
    "stop_times": T.StructType(
        [
            T.StructField("trip_id", T.StringType()),
            T.StructField("arrival_time", T.StringType()),  # GTFS clock, may be >24h
            T.StructField("departure_time", T.StringType()),
            T.StructField("stop_id", T.StringType()),
            T.StructField("stop_sequence", T.IntegerType()),
        ]
    ),
    "calendar": T.StructType(
        [
            T.StructField("service_id", T.StringType()),
            T.StructField("monday", T.IntegerType()),
            T.StructField("tuesday", T.IntegerType()),
            T.StructField("wednesday", T.IntegerType()),
            T.StructField("thursday", T.IntegerType()),
            T.StructField("friday", T.IntegerType()),
            T.StructField("saturday", T.IntegerType()),
            T.StructField("sunday", T.IntegerType()),
            T.StructField("start_date", T.StringType()),  # yyyyMMdd
            T.StructField("end_date", T.StringType()),
        ]
    ),
    "calendar_dates": T.StructType(
        [
            T.StructField("service_id", T.StringType()),
            T.StructField("date", T.StringType()),  # yyyyMMdd
            T.StructField("exception_type", T.IntegerType()),  # 1=added 2=removed
        ]
    ),
    "frequencies": T.StructType(
        [
            T.StructField("trip_id", T.StringType()),
            T.StructField("start_time", T.StringType()),  # GTFS clock, may be >24h
            T.StructField("end_time", T.StringType()),
            T.StructField("headway_secs", T.IntegerType()),
            T.StructField("exact_times", T.IntegerType()),
        ]
    ),
}

# GTFS weekday flag column per Python weekday() index (Mon=0).
_WEEKDAY_COLS = (
    "monday",
    "tuesday",
    "wednesday",
    "thursday",
    "friday",
    "saturday",
    "sunday",
)


def load_gtfs_table(spark: SparkSession, gtfs_dir: str, name: str) -> DataFrame:
    """Declared-schema CSV scan of one GTFS file (S2). Never inferSchema."""
    return (
        spark.read.schema(GTFS_SCHEMAS[name])
        .option("header", True)
        .csv(f"{gtfs_dir}/{name}.txt")
    )


_memo_lock = threading.Lock()
_feed_memo: tuple | None = None  # (spark, (gtfs_dir, listing), feeds)
_schedule_memo: tuple | None = None  # (input frames, (day, time zone), schedule)


def _listing(spark: SparkSession, gtfs_dir: str) -> tuple[tuple[str, int, int], ...]:
    """Sorted ``(name, length, mtime)`` of the directory's entries from one
    Hadoop ``listStatus``; empty when the directory does not exist."""
    from py4j.protocol import Py4JJavaError

    path = spark._jvm.org.apache.hadoop.fs.Path(gtfs_dir)
    fs = path.getFileSystem(spark._jsc.hadoopConfiguration())
    try:
        statuses = fs.listStatus(path)
    except Py4JJavaError as e:
        if e.java_exception.getClass().getName() != "java.io.FileNotFoundException":
            raise
        return ()
    return tuple(
        sorted((s.getPath().getName(), s.getLen(), s.getModificationTime()) for s in statuses)
    )


def load_gtfs(spark: SparkSession, gtfs_dir: str) -> dict[str, DataFrame]:
    """Whole feed from a directory; optional members (frequencies,
    calendar_dates) missing on disk load as empty frames so the downstream
    plan shape never changes.

    One-slot memo: while the session object, ``gtfs_dir`` and the
    directory listing (sorted ``(name, length, mtime)``) are unchanged, the
    call returns the same frames (in a new dict), so ``scheduled_departures``
    on them hits its own memo. Any rewritten, added or removed member, or a
    call for another directory or session, rebuilds the feed and replaces
    the slot."""
    global _feed_memo
    listing = _listing(spark, gtfs_dir)
    key = (gtfs_dir, listing)
    with _memo_lock:
        if _feed_memo is not None and _feed_memo[0] is spark and _feed_memo[1] == key:
            return dict(_feed_memo[2])
        present = {name for name, _len, _mtime in listing}
        feeds: dict[str, DataFrame] = {}
        for name, schema in GTFS_SCHEMAS.items():
            if f"{name}.txt" in present:
                feeds[name] = load_gtfs_table(spark, gtfs_dir, name)
            else:
                feeds[name] = spark.createDataFrame([], schema)
        _feed_memo = (spark, key, feeds)
        return dict(feeds)


def load_gtfs_zip(spark: SparkSession, zip_path: str) -> dict[str, DataFrame]:
    """GTFS feed from the published zip (the reference's actual input shape):
    extract once driver-side — feeds are MBs, the cost is the download, not
    the unzip — then scan the member CSVs with declared schemas. Missing
    optional members (e.g. ``calendar_dates``) load as empty frames so the
    downstream plan shape never changes.
    """
    import os
    import tempfile
    import zipfile

    # The extraction dir must outlive the returned (lazy) DataFrames, so
    # it is intentionally not removed here; clean it with the session.
    out_dir = tempfile.mkdtemp(prefix="gtfs_feed_")
    with zipfile.ZipFile(zip_path) as zf:
        members = {m for m in zf.namelist() if m.endswith(".txt")}
        zf.extractall(out_dir, members=members)
    # Agency exports commonly nest the feed under a directory prefix
    # ('export/stops.txt'); a literal 'stops.txt in members' check would
    # silently load EVERY table as empty. Locate each table wherever the
    # producer put it.
    found: dict[str, str] = {}
    for root, _dirs, names in os.walk(out_dir):
        for n in names:
            found.setdefault(n, root)
    feeds: dict[str, DataFrame] = {}
    for name, schema in GTFS_SCHEMAS.items():
        table_dir = found.get(f"{name}.txt")
        if table_dir is not None:
            feeds[name] = load_gtfs_table(spark, table_dir, name)
        else:
            feeds[name] = spark.createDataFrame([], schema)
    return feeds


def services_active_on(
    calendar: DataFrame, calendar_dates: DataFrame, yyyymmdd: str
) -> DataFrame:
    """service_ids running on a service day, GTFS semantics (J5 in action).

    base     = calendar rows whose weekday flag is set and date ∈ [start, end]
    added    = calendar_dates exception_type=1 for the day     (union)
    removed  = calendar_dates exception_type=2 for the day     (left_anti)

    The reference resolves this imperatively in Python per query; the
    declarative form is a constant-folded filter + union + anti-join on
    broadcast-sized inputs — negligible at any scale.
    """
    import datetime as _dt

    day_col = _WEEKDAY_COLS[_dt.datetime.strptime(yyyymmdd, "%Y%m%d").weekday()]
    base = calendar.filter(
        (F.col(day_col) == 1)
        & (F.col("start_date") <= yyyymmdd)
        & (F.col("end_date") >= yyyymmdd)
    ).select("service_id")
    exceptions = calendar_dates.filter(F.col("date") == yyyymmdd)
    added = exceptions.filter(F.col("exception_type") == 1).select("service_id")
    removed = exceptions.filter(F.col("exception_type") == 2).select("service_id")
    return (
        base.unionByName(added)
        .distinct()
        .join(removed, "service_id", "left_anti")
    )


_SCHEDULE_INPUTS = ("calendar", "calendar_dates", "trips", "stop_times")


def scheduled_departures(
    gtfs: dict[str, DataFrame], yyyymmdd: str
) -> DataFrame:
    """Materialized schedule for one service day: the reference's 'theoretical
    passages' (stop_times ⋈ trips ⋈ active services, clock → absolute ts).

    Join order: big stop_times last joins against broadcast-sized trips
    (filtered to active services first, so the broadcast side stays small).
    GTFS >24:00:00 departure clocks land on the next calendar day via exact
    epoch arithmetic (``service_departure_ts``).

    One-slot memo: the slot holds the four input frames themselves
    (calendar, calendar_dates, trips, stop_times), the day and the session
    time zone (``scheduled_ts`` depends on it). A call whose frames are the
    same objects (``is``, never ``id()``: a freed frame's id can be reused)
    for the same day and time zone returns the same ``.cache()``d frame —
    the first action fills the cache, later polls read it. Any other call
    unpersists the previous entry and caches the new schedule in its place.
    """
    global _schedule_memo
    inputs = tuple(gtfs[name] for name in _SCHEDULE_INPUTS)
    key = (yyyymmdd, inputs[0].sparkSession.conf.get("spark.sql.session.timeZone"))
    with _memo_lock:
        if _schedule_memo is not None:
            held, held_key, held_sched = _schedule_memo
            if held_key == key and all(a is b for a, b in zip(held, inputs)):
                return held_sched
            # A stopped context already dropped its cache; unpersisting
            # through it would raise.
            if held_sched.sparkSession.sparkContext._jsc is not None:
                held_sched.unpersist()
        sched = _schedule(gtfs, yyyymmdd).cache()
        _schedule_memo = (inputs, key, sched)
        return sched


def _schedule(gtfs: dict[str, DataFrame], yyyymmdd: str) -> DataFrame:
    active = services_active_on(gtfs["calendar"], gtfs["calendar_dates"], yyyymmdd)
    trips_today = gtfs["trips"].join(F.broadcast(active), "service_id")
    service_date = F.to_timestamp(F.lit(yyyymmdd), "yyyyMMdd")
    return (
        gtfs["stop_times"]
        .join(F.broadcast(trips_today), "trip_id")
        .withColumn("service_day", F.lit(yyyymmdd))
        .withColumn("train_num", numeric_id(F.col("trip_id")))
        .withColumn(
            "scheduled_ts", service_departure_ts(service_date, F.col("departure_time"))
        )
        .select(
            "service_day",
            "trip_id",
            "train_num",
            "route_id",
            "stop_id",
            "stop_sequence",
            "departure_time",
            "scheduled_ts",
            "trip_headsign",
        )
    )


def _gtfs_clock_str(secs: Column) -> Column:
    """Seconds past service midnight → GTFS 'HH:MM:SS' string; hours may
    exceed 23 ('25:10:00'), exactly as stop_times encodes after-midnight
    stops — round-trips through gtfs_clock_seconds."""
    h = F.floor(secs / 3600).cast("long")
    m = F.floor((secs % 3600) / 60).cast("long")
    sec = (secs % 60).cast("long")
    pad = lambda c: F.lpad(c.cast("string"), 2, "0")  # noqa: E731
    return F.concat_ws(":", pad(h), pad(m), pad(sec))


def expand_frequencies(
    stop_times: DataFrame, frequencies: DataFrame
) -> DataFrame:
    """Expand frequencies.txt headway templates into concrete stop_times.

    GTFS semantics: a trip listed in frequencies repeats with its FIRST
    stop departing at start_time, start_time+headway, … strictly before
    end_time; each repetition shifts every stop of the template by the
    same delta. A trip may appear in SEVERAL frequencies windows (standard
    GTFS — e.g. a 10-min peak headway and a 30-min off-peak headway), so
    the instance number is globalized across a trip's windows: repetition
    r of window w gets instance k = r + Σ(n_reps of the trip's earlier
    windows, ordered by start_s), and trip_id 'T#k' — unique per concrete
    trip instance, never colliding across windows. Trips not in
    frequencies pass through untouched.

    Scale posture: template offsets come from one window-min per trip over
    stop_times (tiny — schedule-sized, not fact-sized); the repetition
    fan-out is sequence+explode, map-side after a broadcast join of the
    frequencies table. exact_times=0 (approximate headway) expands to the
    same deterministic grid — the declared schedule is the grid; realtime
    deviations arrive on the observed stream.
    """
    from pyspark.sql import Window

    from transilien_api_etl_spark.functions.datetime_fns import gtfs_clock_seconds

    f = frequencies.select(
        "trip_id",
        gtfs_clock_seconds(F.col("start_time")).alias("start_s"),
        gtfs_clock_seconds(F.col("end_time")).alias("end_s"),
        F.col("headway_secs").cast("long").alias("headway_s"),
    ).withColumn(
        # departures at start_s, start_s+h, … STRICTLY before end_s — so an
        # empty/inverted window (end_s <= start_s) yields ZERO repetitions,
        # not a phantom one (ADVICE r3: greatest(...,1) emitted a rep and
        # shifted the cross-window instance numbering of every later
        # window). A non-positive headway also yields zero: ceil of the
        # negative quotient would make n_reps NEGATIVE, and a negative
        # term in the rep_offset running sum shifts (and can collide) the
        # instance ids of every later window of the trip. A valid window
        # (end > start, headway > 0) always yields ceil(...) >= 1.
        "n_reps",
        F.when(
            (F.col("end_s") > F.col("start_s")) & (F.col("headway_s") > 0),
            F.ceil((F.col("end_s") - F.col("start_s")) / F.col("headway_s")),
        )
        .otherwise(F.lit(0))
        .cast("long"),
    )
    # Globalize instance numbers across a trip's windows: window w's first
    # repetition continues where the previous window left off. The window
    # spec runs over the schedule-sized frequencies table (pre-join), not
    # the fact-sized stop_times fan-out.
    wins = Window.partitionBy("trip_id").orderBy(
        "start_s", "end_s", "headway_s"
    )
    f = f.withColumn(
        "rep_offset",
        F.coalesce(
            F.sum("n_reps").over(wins.rowsBetween(Window.unboundedPreceding, -1)),
            F.lit(0),
        ),
    )
    base = Window.partitionBy("trip_id")
    tmpl = (
        stop_times.join(F.broadcast(f), "trip_id")
        .withColumn("dep_s", gtfs_clock_seconds(F.col("departure_time")))
        .withColumn("arr_s", gtfs_clock_seconds(F.col("arrival_time")))
        .withColumn("trip_start_s", F.min("dep_s").over(base))
    )
    # n_reps = 0 windows must be dropped BEFORE the explode: sequence(0, -1)
    # would descend ([0, -1]), not produce an empty array. The trip stays
    # frequency-based (still anti-joined out of the passthrough below) —
    # an empty window simply contributes zero concrete instances.
    rep = tmpl.filter(F.col("n_reps") > 0).select(
        "*",
        F.posexplode(F.sequence(F.lit(0), F.col("n_reps") - 1)).alias("rep", "_i"),
    ).drop("_i")
    shift = F.col("start_s") + F.col("rep") * F.col("headway_s") - F.col("trip_start_s")
    expanded = rep.select(
        F.concat_ws(
            "#",
            "trip_id",
            (F.col("rep") + F.col("rep_offset")).cast("string"),
        ).alias("trip_id"),
        # The first stop's arrival precedes its departure by the dwell, so
        # a window starting within that dwell of service midnight would
        # shift the arrival NEGATIVE — unencodable in a GTFS clock string
        # (_gtfs_clock_str would emit '-1:-1:-50'-style garbage). Clamp at
        # 00:00:00: a vehicle cannot arrive before the service day starts.
        # Departures never go negative (dep_s ≥ trip_start_s ⇒ dep+shift ≥
        # start_s ≥ 0).
        _gtfs_clock_str(F.greatest(F.lit(0), F.col("arr_s") + shift)).alias(
            "arrival_time"
        ),
        _gtfs_clock_str(F.col("dep_s") + shift).alias("departure_time"),
        "stop_id",
        "stop_sequence",
    )
    plain = stop_times.join(
        F.broadcast(f.select("trip_id")), "trip_id", "left_anti"
    ).select("trip_id", "arrival_time", "departure_time", "stop_id", "stop_sequence")
    return plain.unionByName(expanded)
