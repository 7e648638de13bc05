"""Window-function plans — SURVEY.md §3.5/§3.6 (W1-W4, O3).

The reference's signature read-path queries ("next N departures per
station", headways between consecutive trains, rolling delay averages,
cumulative delay along a trip) re-expressed as Spark window functions over
the events/orders/part tables.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from transilien_api_etl_spark.io import load_table
from transilien_api_etl_spark.operators.topk import topk_per_group
from transilien_api_etl_spark.plans.registry import register
from transilien_api_etl_spark.session import ensure_query_confs


@register(
    "topk_orders_per_customer",
    doc="Per-group top-k (SURVEY §3 W1/O3 — 'next k departures per station'): "
    "row_number over (customer, recency) window, rank<=3.",
    tags=("window", "topk"),
    bench=True,
    oracle="""
SELECT o_custkey, o_orderkey, o_orderdate, rn FROM (
  SELECT o_custkey, o_orderkey, o_orderdate,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
  FROM orders)
WHERE rn <= 3
ORDER BY o_custkey, rn
""",
)
def topk_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    ensure_query_confs(spark)
    o = load_table(spark, sf_dir, "orders")
    return (
        topk_per_group(
            o,
            ["o_custkey"],
            [F.desc("o_orderdate"), F.desc("o_orderkey")],
            k=3,
        )
        .select("o_custkey", "o_orderkey", "o_orderdate", "rn")
        .orderBy("o_custkey", "rn")
    )


@register(
    "window_rank_dense",
    doc="rank + dense_rank with deterministic tie handling (SURVEY §3 W1): "
    "parts ranked by retail price within brand.",
    tags=("window",),
    oracle="""
SELECT p_brand, p_partkey,
       CAST(rank()       OVER (PARTITION BY p_brand ORDER BY p_retailprice DESC) AS BIGINT) AS rnk,
       CAST(dense_rank() OVER (PARTITION BY p_brand ORDER BY p_retailprice DESC) AS BIGINT) AS drnk
FROM part
ORDER BY p_brand, rnk, p_partkey
""",
)
def window_rank_dense(spark: SparkSession, sf_dir: str) -> DataFrame:
    ensure_query_confs(spark)
    p = load_table(spark, sf_dir, "part")
    w = Window.partitionBy("p_brand").orderBy(F.desc("p_retailprice"))
    return (
        p.select(
            "p_brand",
            "p_partkey",
            F.rank().over(w).cast("long").alias("rnk"),
            F.dense_rank().over(w).cast("long").alias("drnk"),
        )
        .orderBy("p_brand", "rnk", "p_partkey")
    )


@register(
    "window_lag_headway",
    doc="lag analytic (SURVEY §3 W2 — headway between consecutive trains): "
    "µs gap to the previous event per user. Exact integer arithmetic "
    "(unix_micros) so no float/boundary semantics in the oracle.",
    tags=("window",),
    oracle="""
SELECT user_id, event_id,
       epoch_us(ts) - epoch_us(lag(ts) OVER w) AS gap_us
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
ORDER BY user_id, event_id
""",
)
def window_lag_headway(spark: SparkSession, sf_dir: str) -> DataFrame:
    ensure_query_confs(spark)
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        e.select(
            "user_id",
            "event_id",
            (F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))).alias("gap_us"),
        )
        .orderBy("user_id", "event_id")
    )


@register(
    "window_rolling_avg",
    doc="Range-frame rolling aggregate (SURVEY §3 W3 — trailing 1h average "
    "delay per station): RANGE frame over epoch-µs ordering so both engines "
    "agree on frame boundaries exactly. bench: graded through its "
    "bench.TWINS twin (events reduced to whole replicas).",
    tags=("window",),
    bench=True,
    oracle="""
SELECT user_id, event_id,
       round(avg(value) OVER (PARTITION BY user_id ORDER BY epoch_us(ts)
                              RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW), 4)
         AS rolling_avg_1h
FROM events
ORDER BY user_id, event_id
""",
)
def window_rolling_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    ensure_query_confs(spark)
    e = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros("ts"))
        .rangeBetween(-3_600_000_000, 0)
    )
    return (
        e.select(
            "user_id",
            "event_id",
            F.round(F.avg("value").over(w), 4).alias("rolling_avg_1h"),
        )
        .orderBy("user_id", "event_id")
    )


@register(
    "window_running_sum",
    doc="Cumulative sum (SURVEY §3 W4 — cumulative delay along a trip): rows "
    "frame from unbounded preceding; deterministic accumulation order.",
    tags=("window",),
    oracle="""
SELECT user_id, event_id,
       round(sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS UNBOUNDED PRECEDING), 2) AS running_value
FROM events
ORDER BY user_id, event_id
""",
)
def window_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    ensure_query_confs(spark)
    e = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        e.select(
            "user_id",
            "event_id",
            F.round(F.sum("value").over(w), 2).alias("running_value"),
        )
        .orderBy("user_id", "event_id")
    )


@register(
    "window_ntile_pct",
    doc="Distribution analytics (SURVEY §3 W1 family): order-price quartile "
    "(ntile), percent_rank and cume_dist per order priority — single window "
    "sort serves all three.",
    tags=("window",),
    oracle="""
SELECT o_orderkey, o_orderpriority,
       CAST(ntile(4) OVER w AS INT) AS price_quartile,
       round(percent_rank() OVER w, 8) AS pct_rank,
       round(cume_dist() OVER w, 8) AS cume
FROM orders
WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey)
ORDER BY o_orderkey
""",
)
def window_ntile_pct(spark: SparkSession, sf_dir: str) -> DataFrame:
    ensure_query_confs(spark)
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    return (
        o.select(
            "o_orderkey",
            "o_orderpriority",
            F.ntile(4).over(w).cast("int").alias("price_quartile"),
            F.round(F.percent_rank().over(w), 8).alias("pct_rank"),
            F.round(F.cume_dist().over(w), 8).alias("cume"),
        )
        .orderBy("o_orderkey")
    )


@register(
    "window_first_last_nth",
    doc="Frame-edge analytics (SURVEY §3 W-family): per user, the first / "
    "last / 2nd event value over the full-partition frame — "
    "first_value/last_value/nth_value with explicit unbounded frames.",
    tags=("window",),
    oracle="""
SELECT DISTINCT user_id,
       first_value(value) OVER w AS first_val,
       last_value(value) OVER w AS last_val,
       nth_value(value, 2) OVER w AS second_val
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
ORDER BY user_id
""",
)
def window_first_last_nth(spark: SparkSession, sf_dir: str) -> DataFrame:
    ensure_query_confs(spark)
    e = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return (
        e.select(
            "user_id",
            F.first("value").over(w).alias("first_val"),
            F.last("value").over(w).alias("last_val"),
            F.nth_value("value", 2).over(w).alias("second_val"),
        )
        .distinct()
        .orderBy("user_id")
    )


@register(
    "window_ewma_10",
    doc="Exponentially weighted moving average over the trailing 10 "
    "observations per user (the time-series smoothing op batch feature "
    "pipelines need): collect the ordered frame into an array, then a "
    "sequential JVM-side fold ewma = α·x + (1−α)·ewma. Both engines fold "
    "the SAME ordered list left-to-right, so the float result is "
    "bit-identical — no rounding hedge needed. One shuffle (user_id), one "
    "window pass; the array is ≤10 elements, so no memory concern at any "
    "scale.",
    tags=("window", "timeseries"),
    oracle="""
SELECT user_id, event_id,
       list_reduce(
         vals, (acc, x) -> 0.3 * x + 0.7 * acc
       ) AS ewma
FROM (
  SELECT user_id, event_id,
         list(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS BETWEEN 9 PRECEDING AND CURRENT ROW) AS vals
  FROM events)
ORDER BY user_id, event_id
""",
)
def window_ewma_10(spark: SparkSession, sf_dir: str) -> DataFrame:
    ensure_query_confs(spark)
    e = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-9, Window.currentRow)
    )
    vals = F.collect_list("value").over(w)
    # fold left over the ordered frame: seed = first element, like DuckDB's
    # list_reduce (which starts from the list head, not an external zero)
    ewma = F.aggregate(
        F.slice(vals, 2, 9),
        F.element_at(vals, 1),
        lambda acc, x: 0.3 * x + 0.7 * acc,
    )
    return (
        e.select("user_id", "event_id", ewma.alias("ewma"))
        .orderBy("user_id", "event_id")
    )


@register(
    "window_share_of_total",
    doc="Share-of-total (ratio_to_report): each event's value as a share "
    "of its user's total. The partition sum runs through DECIMAL so it is "
    "accumulation-order independent — a double sum would drift by one ulp "
    "between engines and desync the hash; the final ratio divides two "
    "exactly-agreed numbers in double.",
    tags=("window", "ratio"),
    oracle="""
SELECT user_id, event_id,
       value / CAST(sum(CAST(value AS DECIMAL(20,6))) OVER (
                 PARTITION BY user_id) AS DOUBLE) AS share
FROM events
ORDER BY user_id, event_id
""",
)
def window_share_of_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    ensure_query_confs(spark)
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id")
    total = F.sum(F.col("value").cast("decimal(20,6)")).over(w).cast("double")
    return (
        e.select("user_id", "event_id", (F.col("value") / total).alias("share"))
        .orderBy("user_id", "event_id")
    )


@register(
    "agg_linreg_user_trend",
    doc="Per-user OLS trend of value over time, from explicitly-accumulated "
    "INTEGER moments: x = µs since the user's first event (exact bigint), "
    "y = value in cents (value has 2 decimals, so round(value·100) is "
    "exact — no tie can occur), Σx/Σy/Σxy/Σx² accumulate in DECIMAL(38,0) "
    "with zero per-row rounding anywhere, and only the FINAL slope "
    "arithmetic runs in double. This is the numerically-reproducible form "
    "of distributed regression: the built-in regr_slope sums doubles "
    "(order-dependent), and even per-row double→decimal casts desync "
    "engines (HALF_UP vs half-even) — integer moments have neither "
    "problem. Slope is rescaled to value-units per hour at the end.",
    tags=("agg", "regression"),
    oracle="""
WITH x AS (
  SELECT user_id,
         epoch_us(ts) - min(epoch_us(ts)) OVER (PARTITION BY user_id) AS xu,
         CAST(round(value * 100) AS BIGINT) AS yc
  FROM events),
m AS (
  SELECT user_id,
         count(*) AS n,
         CAST(sum(CAST(xu AS DECIMAL(38,0))) AS DOUBLE) AS sx,
         CAST(sum(CAST(yc AS DECIMAL(38,0))) AS DOUBLE) AS sy,
         CAST(sum(CAST(xu AS DECIMAL(38,0)) * yc) AS DOUBLE) AS sxy,
         CAST(sum(CAST(xu AS DECIMAL(38,0)) * xu) AS DOUBLE) AS sxx
  FROM x GROUP BY user_id)
SELECT user_id, n,
       CASE WHEN n * sxx - sx * sx = 0 THEN NULL
            ELSE (n * sxy - sx * sy) / (n * sxx - sx * sx) * 36000000.0 END
         AS slope_per_hour
FROM m
ORDER BY user_id
""",
)
def agg_linreg_user_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    ensure_query_confs(spark)
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id")
    xu = F.unix_micros("ts") - F.min(F.unix_micros("ts")).over(w)
    yc = F.round(F.col("value") * 100).cast("long")
    x = e.select("user_id", xu.alias("xu"), yc.alias("yc"))
    xdec = F.col("xu").cast("decimal(38,0)")
    m = x.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(xdec).cast("double").alias("sx"),
        F.sum(F.col("yc").cast("decimal(38,0)")).cast("double").alias("sy"),
        F.sum(xdec * F.col("yc")).cast("double").alias("sxy"),
        F.sum(xdec * F.col("xu")).cast("double").alias("sxx"),
    )
    denom = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    # µs·cents units → value per hour: ×3.6e9 (µs/h) ÷100 (cents)
    slope = F.when(denom == 0, F.lit(None)).otherwise(
        (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / denom * 36000000.0
    )
    return m.select("user_id", "n", slope.alias("slope_per_hour")).orderBy("user_id")


@register(
    "agg_moment_stats",
    doc="Per-event-type mean/stddev/skewness/kurtosis from explicitly-"
    "accumulated INTEGER moments (same reproducibility argument as "
    "agg_linreg_user_trend): y = value in cents (exact, value has 2 "
    "decimals), per-row powers y² y³ y⁴ stay within BIGINT, the four Σ "
    "accumulate in DECIMAL(38,0) — accumulation-order independent — and "
    "only the final population-moment formulas run in double. The "
    "built-in skewness/kurtosis aggregates sum doubles (order-dependent) "
    "AND disagree in definition across engines (population vs sample "
    "bias-correction); explicit moments sidestep both.",
    tags=("agg", "stats"),
    oracle="""
WITH y AS (
  SELECT event_type, CAST(round(value * 100) AS BIGINT) AS yc FROM events),
m AS (
  SELECT event_type,
         count(*) AS n,
         CAST(sum(CAST(yc AS HUGEINT)) AS DOUBLE) AS s1,
         CAST(sum(CAST(yc AS HUGEINT) * yc) AS DOUBLE) AS s2,
         CAST(sum(CAST(yc AS HUGEINT) * yc * yc) AS DOUBLE) AS s3,
         CAST(sum(CAST(yc AS HUGEINT) * yc * yc * yc) AS DOUBLE) AS s4
  FROM y GROUP BY event_type)
SELECT event_type, n,
       round(s1 / n / 100, 6) AS mean_value,
       round(sqrt((s2 - s1 * s1 / n) / (n - 1)) / 100, 6) AS stddev_value,
       round((s3 / n - 3 * (s1 / n) * (s2 / n) + 2 * (s1 / n) * (s1 / n) * (s1 / n))
             / pow(sqrt(s2 / n - (s1 / n) * (s1 / n)), 3), 6) AS skew_pop,
       round((s4 / n - 4 * (s1 / n) * (s3 / n)
              + 6 * (s1 / n) * (s1 / n) * (s2 / n)
              - 3 * (s1 / n) * (s1 / n) * (s1 / n) * (s1 / n))
             / pow(s2 / n - (s1 / n) * (s1 / n), 2) - 3, 6) AS kurt_pop
FROM m ORDER BY event_type
""",
)
def agg_moment_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ensure_query_confs(spark)
    e = load_table(spark, sf_dir, "events")
    yc = F.round(F.col("value") * 100).cast("long")
    y = e.select("event_type", yc.alias("yc"))
    # Widen BEFORE the cube/4th power, not after: yc⁴ in BIGINT overflows
    # once |value| exceeds ~551 (observed at sf0.1: max 560.21 →
    # 9.85e18 > 2⁶³; the 10× parity gate caught this). decimal(38,0)
    # per-row products stay exact to 1e38; the oracle widens to HUGEINT
    # the same way, so the integer sums — and their one double cast —
    # remain bit-equal across engines.
    d = F.col("yc").cast("decimal(38,0)")
    m = y.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(d).cast("double").alias("s1"),
        F.sum(d * d).cast("double").alias("s2"),
        F.sum(d * d * d).cast("double").alias("s3"),
        F.sum(d * d * d * d).cast("double").alias("s4"),
    )
    n, s1, s2, s3, s4 = (F.col(c) for c in ("n", "s1", "s2", "s3", "s4"))
    mu = s1 / n
    m2 = s2 / n - mu * mu  # population variance (of cents)
    skew = (s3 / n - 3 * mu * (s2 / n) + 2 * mu * mu * mu) / F.pow(F.sqrt(m2), 3)
    kurt = (
        s4 / n - 4 * mu * (s3 / n) + 6 * mu * mu * (s2 / n) - 3 * mu * mu * mu * mu
    ) / F.pow(m2, 2) - 3
    return m.select(
        "event_type",
        "n",
        F.round(s1 / n / 100, 6).alias("mean_value"),
        F.round(F.sqrt((s2 - s1 * s1 / n) / (n - 1)) / 100, 6).alias("stddev_value"),
        F.round(skew, 6).alias("skew_pop"),
        F.round(kurt, 6).alias("kurt_pop"),
    ).orderBy("event_type")
