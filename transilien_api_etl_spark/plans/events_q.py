"""Event-stream-shaped plans in batch mode — SURVEY.md §3.9 (T2-T6 batch
twins) and the ETL-domain composites §3.3 J6/J7 (M4).

These are the batch-equivalent forms of the streaming jobs in
``plans/streaming_q.py`` — Structured Streaming's incremental execution of
the SAME logical plan makes the batch result the ground truth (SURVEY §6.3).

The as-of and range joins are the reference's signature computation
(match observed realtime passage ↔ scheduled stop_time, compute delay),
re-keyed onto the events table: purchase events are "observed", click
events are the "schedule".
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from transilien_api_etl_spark.io import load_table
from transilien_api_etl_spark.operators.joins import asof_join, range_join
from transilien_api_etl_spark.operators.sessionize import sessionize
from transilien_api_etl_spark.operators.dedup import exact_dedup
from transilien_api_etl_spark.plans.registry import register
from transilien_api_etl_spark.session import ensure_query_confs


@register(
    "events_tumbling_1h",
    doc="Event-time tumbling window aggregation (SURVEY §3 T2): 1h windows × "
    "event_type. Spark window() start == date_trunc('hour') for aligned "
    "windows. bench: graded through its bench.TWINS twin (events "
    "amplified) so the number measures the plan, not the sub-jitter "
    "0.4 s floor.",
    tags=("events", "window-agg"),
    bench=True,
    oracle="""
SELECT date_trunc('hour', ts) AS window_start, event_type,
       count(*) AS n, round(sum(value), 2) AS total_value
FROM events
GROUP BY 1, 2
ORDER BY 1, 2
""",
)
def events_tumbling_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    ensure_query_confs(spark)
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("total_value"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n", "total_value")
        .orderBy("window_start", "event_type")
    )


@register(
    "events_sliding_10m_5m",
    doc="Sliding windows (SURVEY §3 T3): 10-minute windows sliding every 5 "
    "minutes — every event lands in exactly two windows; the oracle "
    "materializes both via epoch-µs floor arithmetic.",
    tags=("events", "window-agg"),
    oracle="""
WITH ws AS (
  SELECT event_type, value,
         make_timestamp((epoch_us(ts) // 300000000) * 300000000) AS w0
  FROM events
), ex AS (
  SELECT event_type, value, w0 AS window_start FROM ws
  UNION ALL
  SELECT event_type, value, w0 - INTERVAL 5 MINUTE FROM ws
)
SELECT window_start, event_type, count(*) AS n, round(sum(value), 2) AS total_value
FROM ex GROUP BY 1, 2 ORDER BY 1, 2
""",
)
def events_sliding_10m_5m(spark: SparkSession, sf_dir: str) -> DataFrame:
    ensure_query_confs(spark)
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "10 minutes", "5 minutes").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("total_value"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n", "total_value")
        .orderBy("window_start", "event_type")
    )


@register(
    "events_sessionize",
    doc="Gap-based sessionization, 30-minute gap (SURVEY §3 T4 batch oracle): "
    "lag-gap + running-sum recipe; one shuffle, single Window node. "
    "bench: graded through its bench.TWINS twin (events reduced to whole "
    "replicas).",
    tags=("events", "session"),
    bench=True,
    oracle="""
WITH g AS (
  SELECT user_id, ts, value, event_id,
         CASE WHEN lag(ts) OVER w IS NULL
                OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
              THEN 1 ELSE 0 END AS new_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), s AS (
  SELECT user_id, ts, value,
         CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
  FROM g
)
SELECT user_id, session_id, count(*) AS n_events,
       round(sum(value), 2) AS session_value, min(ts) AS session_start
FROM s GROUP BY user_id, session_id
ORDER BY user_id, session_id
""",
)
def events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    ensure_query_confs(spark)
    e = load_table(spark, sf_dir, "events")
    s = sessionize(e, "user_id", "ts", gap_seconds=1800, order_cols=["event_id"])
    return (
        s.groupBy("user_id", "session_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("session_value"),
            F.min("ts").alias("session_start"),
        )
        .orderBy("user_id", "session_id")
    )


@register(
    "events_dedup_first",
    doc="Deterministic keep-first dedup (SURVEY §3 T6/U2 — same passage seen "
    "in consecutive polls): earliest event per (user, type). dropDuplicates "
    "is nondeterministic about the survivor; the row_number recipe is not.",
    tags=("events", "dedup"),
    oracle="""
SELECT user_id, event_type, event_id, ts FROM (
  SELECT user_id, event_type, event_id, ts,
         row_number() OVER (PARTITION BY user_id, event_type
                            ORDER BY ts, event_id) AS rn
  FROM events)
WHERE rn = 1
ORDER BY user_id, event_type
""",
)
def events_dedup_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    ensure_query_confs(spark)
    e = load_table(spark, sf_dir, "events")
    return (
        exact_dedup(e, ["user_id", "event_type"], [F.asc("ts"), F.asc("event_id")])
        .select("user_id", "event_type", "event_id", "ts")
        .orderBy("user_id", "event_type")
    )


@register(
    "asof_join_purchase_click",
    doc="As-of join (SURVEY §3 J6 — the reference's observed↔scheduled "
    "matching): each purchase matched to the latest same-user click at or "
    "before it; delay = µs gap. Union/merge-scan strategy: one shuffle on "
    "user_id, last(click, ignorenulls) over the merged order — zero join "
    "fan-out even on hot keys (oracle: LATERAL ... LIMIT 1). bench: "
    "graded through its bench.TWINS twin (events reduced to whole "
    "replicas).",
    tags=("events", "asof"),
    bench=True,
    oracle="""
SELECT p.event_id, p.user_id, p.ts AS purchase_ts,
       c.event_id AS click_event_id, c.ts AS click_ts,
       epoch_us(p.ts) - epoch_us(c.ts) AS delay_us
FROM events p
LEFT JOIN LATERAL (
  SELECT event_id, ts FROM events c
  WHERE c.user_id = p.user_id AND c.event_type = 'click' AND c.ts <= p.ts
  ORDER BY c.ts DESC, c.event_id DESC LIMIT 1
) c ON TRUE
WHERE p.event_type = 'purchase'
ORDER BY p.event_id
""",
)
def asof_join_purchase_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    ensure_query_confs(spark)
    e = load_table(spark, sf_dir, "events")
    purchases = e.filter(F.col("event_type") == "purchase").select("event_id", "user_id", "ts")
    clicks = e.filter(F.col("event_type") == "click").select("user_id", "event_id", "ts")
    matched = asof_join(
        purchases,
        clicks,
        on=["user_id"],
        left_ts="ts",
        right_ts="ts",
        left_keys=["event_id"],
        direction="backward",
        strategy="union",
    )
    return (
        matched.select(
            F.col("l.event_id").alias("event_id"),
            F.col("l.user_id").alias("user_id"),
            F.col("l.ts").alias("purchase_ts"),
            F.col("r.event_id").alias("click_event_id"),
            F.col("r.ts").alias("click_ts"),
            (F.unix_micros("l.ts") - F.unix_micros("r.ts")).alias("delay_us"),
        )
        .orderBy("event_id")
    )


@register(
    "range_join_clicks_before_purchase",
    doc="Range/interval join (SURVEY §3 J7 — service-day window containment): "
    "clicks in the hour before each purchase, per user. Equi key keeps it a "
    "hash join; the interval predicate filters inside the join.",
    tags=("events", "range-join"),
    oracle="""
SELECT p.event_id, CAST(count(c.event_id) AS BIGINT) AS n_clicks_1h
FROM events p
LEFT JOIN events c
  ON c.user_id = p.user_id AND c.event_type = 'click'
 AND c.ts >= p.ts - INTERVAL 1 HOUR AND c.ts <= p.ts
WHERE p.event_type = 'purchase'
GROUP BY p.event_id
ORDER BY p.event_id
""",
)
def range_join_clicks_before_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    ensure_query_confs(spark)
    e = load_table(spark, sf_dir, "events")
    purchases = e.filter(F.col("event_type") == "purchase").select("event_id", "user_id", "ts")
    clicks = e.filter(F.col("event_type") == "click").select("user_id", "event_id", "ts")
    joined = range_join(
        purchases,
        clicks,
        on=["user_id"],
        left_ts="ts",
        right_ts="ts",
        lower_seconds=-3600,
        upper_seconds=0,
        how="left",
    )
    return (
        joined.groupBy(F.col("l.event_id").alias("event_id"))
        .agg(F.count(F.col("r.event_id")).alias("n_clicks_1h"))
        .orderBy("event_id")
    )


@register(
    "events_resample_1h_ffill",
    doc="Time-series resampling with forward fill (the gap-fill shape every "
    "monitoring/feature pipeline needs): each user's value series re-sampled "
    "onto an hourly grid, carrying the last observation forward. Built as a "
    "union merge-scan — grid points and observations union into ONE sorted "
    "pass per user with last(ignorenulls) over a running frame — the same "
    "zero-fan-out strategy as the as-of join (operators/joins.py): no range "
    "join, no per-grid-point probe. One shuffle on user_id; grid size is "
    "bounded by users × hours, independent of event volume. Ties at a grid "
    "instant: observations sort before the grid point (is_obs DESC), so a "
    "reading exactly at the hour is included; equal-ts observations order "
    "by event_id, making the carried value deterministic in both engines.",
    tags=("events", "window", "timeseries"),
    oracle="""
WITH ev AS (
  SELECT user_id, ts, value, event_id FROM events WHERE user_id < 50),
b AS (
  SELECT user_id, date_trunc('hour', min(ts)) AS t0, max(ts) AS t1
  FROM ev GROUP BY user_id),
grid AS (
  SELECT user_id, unnest(generate_series(t0, t1, INTERVAL 1 HOUR)) AS ts
  FROM b),
allpts AS (
  SELECT user_id, ts, value, 1 AS is_obs, event_id FROM ev
  UNION ALL
  SELECT user_id, ts, NULL, 0 AS is_obs, -1 AS event_id FROM grid),
f AS (
  SELECT user_id, ts, is_obs,
         last_value(value IGNORE NULLS) OVER (
           PARTITION BY user_id ORDER BY ts, is_obs DESC, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value_ffill
  FROM allpts)
SELECT user_id, ts AS grid_ts, value_ffill
FROM f WHERE is_obs = 0
ORDER BY user_id, grid_ts
""",
)
def events_resample_1h_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    ensure_query_confs(spark)
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("user_id") < 50)
        .select("user_id", "ts", "value", "event_id")
    )
    bounds = ev.groupBy("user_id").agg(
        F.date_trunc("hour", F.min("ts")).alias("t0"), F.max("ts").alias("t1")
    )
    grid = bounds.select(
        "user_id",
        F.explode(F.sequence("t0", "t1", F.expr("INTERVAL 1 HOUR"))).alias("ts"),
        F.lit(None).cast("double").alias("value"),
        F.lit(0).alias("is_obs"),
        F.lit(-1).cast("long").alias("event_id"),
    )
    obs = ev.select("user_id", "ts", "value", F.lit(1).alias("is_obs"), "event_id")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", F.desc("is_obs"), "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        obs.unionByName(grid)
        .withColumn("value_ffill", F.last("value", ignorenulls=True).over(w))
        .filter(F.col("is_obs") == 0)
        .select("user_id", F.col("ts").alias("grid_ts"), "value_ffill")
        .orderBy("user_id", "grid_ts")
    )


_HIST_BUCKETS = 20


@register(
    "agg_histogram_value",
    doc="Equi-width histogram with runtime bounds (SURVEY §3 A-family "
    "completeness): two-pass — a 1-row min/max aggregate broadcast into "
    "the bucket projection, then one group-by on the bucket id. The "
    "bucket arithmetic is pure IEEE double ops (sub/div/floor), bit-equal "
    "across engines; the top edge clamps into the last bucket.",
    tags=("events", "agg"),
    oracle=f"""
WITH b AS (SELECT min(value) AS vmin, max(value) AS vmax FROM events),
h AS (
  SELECT least(CAST(floor((value - vmin) / ((vmax - vmin) / {_HIST_BUCKETS}.0))
                    AS BIGINT), {_HIST_BUCKETS - 1}) AS bucket_id
  FROM events, b)
SELECT bucket_id, count(*) AS n_events
FROM h GROUP BY bucket_id ORDER BY bucket_id
""",
)
def agg_histogram_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    ensure_query_confs(spark)
    e = load_table(spark, sf_dir, "events")
    bounds = e.agg(F.min("value").alias("vmin"), F.max("value").alias("vmax"))
    width = (F.col("vmax") - F.col("vmin")) / _HIST_BUCKETS
    bucket = F.least(
        F.floor((F.col("value") - F.col("vmin")) / width), F.lit(_HIST_BUCKETS - 1)
    )
    return (
        e.crossJoin(F.broadcast(bounds))
        .select(bucket.alias("bucket_id"))
        .groupBy("bucket_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .orderBy("bucket_id")
    )


@register(
    "events_concurrency_curve",
    doc="Sweep-line concurrency: how many user sessions are open at every "
    "session boundary instant. Sessions (30-min gap sessionize) become "
    "+1/-1 boundary deltas; a running sum over the boundary stream IS the "
    "concurrency curve — the classic interval-overlap sweep, done as two "
    "window passes with zero joins. Ties at one instant count starts "
    "before ends (delta DESC), so the curve reports inclusive peaks. The "
    "final running sum is a single global-order window — fine for boundary "
    "streams (2 rows per session); at 100 TB partition the sweep by coarse "
    "time range and carry boundary offsets between ranges (two-pass "
    "prefix-sum), same plan shape.",
    tags=("events", "session", "window"),
    oracle="""
WITH g AS (
  SELECT user_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
              THEN 1 ELSE 0 END AS new_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), s AS (
  SELECT user_id, ts,
         CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
  FROM g
), sess AS (
  SELECT user_id, session_id, min(ts) AS s_start, max(ts) AS s_end
  FROM s GROUP BY user_id, session_id
), pts AS (
  SELECT s_start AS ts, 1 AS delta, user_id, session_id FROM sess
  UNION ALL
  SELECT s_end AS ts, -1 AS delta, user_id, session_id FROM sess
)
SELECT ts, delta,
       CAST(sum(delta) OVER (ORDER BY ts, delta DESC, user_id, session_id
                             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS concurrency
FROM pts
ORDER BY ts, delta DESC, user_id, session_id
""",
)
def events_concurrency_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    ensure_query_confs(spark)
    e = load_table(spark, sf_dir, "events")
    s = sessionize(e, "user_id", "ts", gap_seconds=1800, order_cols=["event_id"])
    sess = s.groupBy("user_id", "session_id").agg(
        F.min("ts").alias("s_start"), F.max("ts").alias("s_end")
    )
    pts = sess.select(
        F.col("s_start").alias("ts"), F.lit(1).alias("delta"), "user_id", "session_id"
    ).unionByName(
        sess.select(
            F.col("s_end").alias("ts"), F.lit(-1).alias("delta"), "user_id", "session_id"
        )
    )
    w = (
        Window.orderBy("ts", F.desc("delta"), "user_id", "session_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        pts.withColumn("concurrency", F.sum("delta").over(w).cast("long"))
        .select("ts", "delta", "concurrency")
        .orderBy("ts", F.desc("delta"))
    )


@register(
    "events_mad_outliers",
    doc="Robust outlier report per event type: median / MAD (median "
    "absolute deviation) via exact percentile (interpolation parity with "
    "DuckDB quantile_cont is established by agg_percentiles), outlier = "
    "deviation > 3×MAD. Two grouped percentile passes; the per-type "
    "med/MAD relations are broadcast back onto the fact scan — at 100 TB "
    "the heavy input is scanned twice and shuffled only into ~5-row "
    "aggregates, never joined fact-to-fact.",
    tags=("events", "agg", "robust"),
    oracle="""
WITH med AS (
  SELECT event_type, quantile_cont(value, 0.5) AS med
  FROM events GROUP BY event_type),
dev AS (
  SELECT e.event_type, abs(e.value - m.med) AS adev
  FROM events e JOIN med m ON e.event_type = m.event_type),
mad AS (
  SELECT event_type, quantile_cont(adev, 0.5) AS mad
  FROM dev GROUP BY event_type)
SELECT e.event_type, m.med, d.mad,
       CAST(sum(CASE WHEN abs(e.value - m.med) > 3 * d.mad THEN 1 ELSE 0 END)
            AS BIGINT) AS n_outliers,
       count(*) AS n_total
FROM events e
JOIN med m ON e.event_type = m.event_type
JOIN mad d ON e.event_type = d.event_type
GROUP BY e.event_type, m.med, d.mad
ORDER BY e.event_type
""",
)
def events_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    ensure_query_confs(spark)
    e = load_table(spark, sf_dir, "events")
    med = e.groupBy("event_type").agg(F.percentile("value", 0.5).alias("med"))
    dev = e.join(F.broadcast(med), "event_type").select(
        "event_type", F.abs(F.col("value") - F.col("med")).alias("adev")
    )
    mad = dev.groupBy("event_type").agg(F.percentile("adev", 0.5).alias("mad"))
    return (
        e.join(F.broadcast(med), "event_type")
        .join(F.broadcast(mad), "event_type")
        .groupBy("event_type", "med", "mad")
        .agg(
            F.sum(
                F.when(F.abs(F.col("value") - F.col("med")) > 3 * F.col("mad"), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_outliers"),
            F.count(F.lit(1)).alias("n_total"),
        )
        .orderBy("event_type")
    )


@register(
    "events_session_funnel",
    doc="Ordered conversion funnel within sessions (product-analytics "
    "staple): per 30-min session, the earliest view / click / purchase "
    "instants; a session converts a step only if the step's first instant "
    "is strictly after the previous step's. Conditional-min aggregation — "
    "the sequential pattern reduces to three mins and two comparisons, no "
    "self-joins, no UDF; one shuffle for the sessionize, one for the "
    "per-session agg (same key — AQE reuses the partitioning).",
    tags=("events", "session", "funnel"),
    oracle="""
WITH g AS (
  SELECT user_id, ts, event_type,
         CASE WHEN lag(ts) OVER w IS NULL
                OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
              THEN 1 ELSE 0 END AS new_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), s AS (
  SELECT user_id, ts, event_type,
         CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
  FROM g
), f AS (
  SELECT user_id, session_id,
         min(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
         min(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
         min(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
  FROM s GROUP BY user_id, session_id)
SELECT count(*) AS n_sessions,
       CAST(sum(CASE WHEN t_view IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_view,
       CAST(sum(CASE WHEN t_view IS NOT NULL AND t_click > t_view
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_view_click,
       CAST(sum(CASE WHEN t_view IS NOT NULL AND t_click > t_view
                      AND t_purchase > t_click
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_full_funnel
FROM f
""",
)
def events_session_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    ensure_query_confs(spark)
    e = load_table(spark, sf_dir, "events")
    s = sessionize(e, "user_id", "ts", gap_seconds=1800, order_cols=["event_id"])
    t = lambda et: F.min(F.when(F.col("event_type") == et, F.col("ts")))  # noqa: E731
    f = s.groupBy("user_id", "session_id").agg(
        t("view").alias("t_view"),
        t("click").alias("t_click"),
        t("purchase").alias("t_purchase"),
    )
    step1 = F.col("t_view").isNotNull()
    step2 = step1 & (F.col("t_click") > F.col("t_view"))
    step3 = step2 & (F.col("t_purchase") > F.col("t_click"))
    flag = lambda c: F.sum(F.when(c, 1).otherwise(0)).cast("long")  # noqa: E731
    return f.agg(
        F.count(F.lit(1)).alias("n_sessions"),
        flag(step1).alias("n_view"),
        flag(step2).alias("n_view_click"),
        flag(step3).alias("n_full_funnel"),
    )


@register(
    "events_interpolate_linear",
    doc="Time-series gap fill by LINEAR interpolation (the companion to "
    "events_resample_1h_ffill): each user's value series on an hourly "
    "grid, interpolated between the bracketing observations; edges fall "
    "back to the single available neighbour. Same union merge-scan shape "
    "as the forward fill — grid + observations in ONE sorted pass per "
    "user with last/first(ignorenulls) over mirrored frames; no range "
    "join, no per-grid-point probe, one shuffle on user_id. The "
    "interpolation arithmetic (epoch-µs deltas, one divide, one FMA "
    "chain) is identical IEEE double text in both engines, rounded to "
    "6 dp on output.",
    tags=("events", "window", "timeseries"),
    oracle="""
WITH ev AS (
  SELECT user_id, ts, value, event_id FROM events WHERE user_id < 50),
b AS (
  SELECT user_id, date_trunc('hour', min(ts)) AS t0, max(ts) AS t1
  FROM ev GROUP BY user_id),
grid AS (
  SELECT user_id, unnest(generate_series(t0, t1, INTERVAL 1 HOUR)) AS ts
  FROM b),
allpts AS (
  SELECT user_id, ts, value, 1 AS is_obs, event_id FROM ev
  UNION ALL
  SELECT user_id, ts, NULL, 0 AS is_obs, -1 AS event_id FROM grid),
f AS (
  SELECT user_id, ts, is_obs,
         last_value(value IGNORE NULLS) OVER (
           PARTITION BY user_id ORDER BY ts, is_obs DESC, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
         last_value(CASE WHEN is_obs = 1 THEN epoch_us(ts) END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts, is_obs DESC, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pt,
         first_value(value IGNORE NULLS) OVER (
           PARTITION BY user_id ORDER BY ts, is_obs DESC, event_id
           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
         first_value(CASE WHEN is_obs = 1 THEN epoch_us(ts) END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts, is_obs DESC, event_id
                 ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nt
  FROM allpts)
SELECT user_id, ts AS grid_ts,
       round(CASE
         WHEN pv IS NULL THEN nv
         WHEN nv IS NULL THEN pv
         WHEN nt = pt THEN pv
         ELSE pv + (nv - pv) * (CAST(epoch_us(ts) - pt AS DOUBLE)
                                / CAST(nt - pt AS DOUBLE))
       END, 6) AS value_interp
FROM f WHERE is_obs = 0
ORDER BY user_id, grid_ts
""",
)
def events_interpolate_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    ensure_query_confs(spark)
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("user_id") < 50)
        .select("user_id", "ts", "value", "event_id")
    )
    bounds = ev.groupBy("user_id").agg(
        F.date_trunc("hour", F.min("ts")).alias("t0"), F.max("ts").alias("t1")
    )
    grid = bounds.select(
        "user_id",
        F.explode(F.sequence("t0", "t1", F.expr("INTERVAL 1 HOUR"))).alias("ts"),
        F.lit(None).cast("double").alias("value"),
        F.lit(0).alias("is_obs"),
        F.lit(-1).cast("long").alias("event_id"),
    )
    obs = ev.select("user_id", "ts", "value", F.lit(1).alias("is_obs"), "event_id")
    order = [F.col("ts").asc(), F.desc("is_obs"), F.col("event_id").asc()]
    w_back = (
        Window.partitionBy("user_id")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_fwd = (
        Window.partitionBy("user_id")
        .orderBy(*order)
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    obs_us = F.when(F.col("is_obs") == 1, F.unix_micros("ts"))
    pv, pt = F.col("pv"), F.col("pt")
    nv, nt = F.col("nv"), F.col("nt")
    interp = (
        F.when(pv.isNull(), nv)
        .when(nv.isNull(), pv)
        .when(nt == pt, pv)
        .otherwise(
            pv
            + (nv - pv)
            * (
                (F.unix_micros("ts") - pt).cast("double")
                / (nt - pt).cast("double")
            )
        )
    )
    return (
        obs.unionByName(grid)
        .withColumn("pv", F.last("value", ignorenulls=True).over(w_back))
        .withColumn("pt", F.last(obs_us, ignorenulls=True).over(w_back))
        .withColumn("nv", F.first("value", ignorenulls=True).over(w_fwd))
        .withColumn("nt", F.first(obs_us, ignorenulls=True).over(w_fwd))
        .filter(F.col("is_obs") == 0)
        .select(
            "user_id",
            F.col("ts").alias("grid_ts"),
            F.round(interp, 6).alias("value_interp"),
        )
        .orderBy("user_id", "grid_ts")
    )
