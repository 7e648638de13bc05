"""Relational core plans — SURVEY.md §3.1-3.4, §3.6-3.7 (M1/M2).

Scans, filters, projections, equi/outer/semi/anti joins, hash aggregation,
count-distinct, exact percentiles, rollup/cube, ordered nesting, set ops,
pivot. All pure DataFrame API — Catalyst handles pushdown, pruning, and
join-strategy selection; dimension joins get explicit broadcast hints.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from transilien_api_etl_spark.io import load_table, served_bucketed
from transilien_api_etl_spark.plans.registry import register
from transilien_api_etl_spark.session import ensure_query_confs


@register(
    "q1_pricing_summary",
    doc="TPC-H Q1 shape: pushed-down ship-date filter + 8-agg hash groupBy "
    "(SURVEY §3 A1/P2/F3/O1). Partial+final HashAggregate, whole-stage "
    "codegen. bench: graded through its bench.TWINS twin (lineitem "
    "amplified) so the number measures the plan, not the sub-jitter "
    "0.3 s floor the row hovered on in r11 runs 15-16.",
    tags=("agg", "filter"),
    bench=True,
    oracle="""
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2)                                        AS sum_qty,
       round(sum(l_extendedprice), 2)                                   AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2)                AS sum_disc_price,
       round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2)  AS sum_charge,
       round(avg(l_quantity), 4)                                        AS avg_qty,
       round(avg(l_extendedprice), 4)                                   AS avg_price,
       round(avg(l_discount), 4)                                        AS avg_disc,
       count(*)                                                         AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2000-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
""",
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    ensure_query_confs(spark)
    l = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        l.filter(F.col("l_shipdate") <= F.lit("2000-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(disc_price * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@register(
    "q3_shipping_priority",
    doc="TPC-H Q3 shape: broadcast dim join + fact-fact join + agg + "
    "TakeOrderedAndProject top-10 (SURVEY §3 J2/A1/O2).",
    tags=("join", "agg", "topk"),
    bench=True,
    oracle="""
SELECT l_orderkey,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       o_orderdate, o_orderpriority
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
  AND l_shipdate  > TIMESTAMP '1998-03-15 00:00:00'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, o_orderdate, l_orderkey
LIMIT 10
""",
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    ensure_query_confs(spark)
    cust = load_table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-03-15").cast("timestamp")
    )
    line = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-03-15").cast("timestamp")
    )
    # Join order matters without CBO stats, and the right order depends on
    # the PHYSICAL layout (measured round 9 at 60 M rows, steady-3):
    # - plain parquet: the broadcast dim filter (mktsegment keeps ~1/5 of
    #   customers) must shrink orders BEFORE the fact-fact shuffle join,
    #   so the shuffled build side is 5× smaller (1.62 s vs 2.02 s).
    # - co-bucketed facts: there IS no fact-fact exchange, so the
    #   most selective filter (l_shipdate keeps ~5% of lineitem) makes
    #   the co-located fact⋈fact join the cheapest first reducer, and the
    #   customer broadcast probes its ~20× smaller output (0.66 s vs
    #   0.83 s). Catalyst reorders neither absent column statistics.
    if served_bucketed(spark, sf_dir, "lineitem", "orders"):
        joined = line.join(orders, line.l_orderkey == orders.o_orderkey).join(
            F.broadcast(cust), orders.o_custkey == cust.c_custkey
        )
    else:
        joined = orders.join(
            F.broadcast(cust), orders.o_custkey == cust.c_custkey
        ).join(line, line.l_orderkey == orders.o_orderkey)
    return (
        joined.groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.desc("revenue"), "o_orderdate", "l_orderkey")
        .limit(10)
    )


@register(
    "q5_local_supplier",
    doc="TPC-H Q5 shape: 6-way star join, customer and supplier pinned to the "
    "same nation; all dims broadcast (SURVEY §3 J1/J2).",
    tags=("join", "agg"),
    bench=True,
    oracle="""
SELECT n_name, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
GROUP BY n_name
ORDER BY revenue DESC, n_name
""",
)
def q5_local_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    ensure_query_confs(spark)
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    line = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    # Scale-aware join order (no CBO stats to do it for us): pin supplier to
    # the ASIA region via the tiny broadcast chain region→nation→supplier
    # first. Where that broadcast lands depends on the layout (measured
    # round 9 at 60 M rows, steady-3):
    # - plain parquet: broadcast supp_asia into lineitem BEFORE the
    #   fact-fact shuffle — the only shuffled join left (lineitem⋈orders)
    #   then carries ~1/5 of lineitem instead of all of it.
    # - co-bucketed facts: no fact-fact exchange exists, so the co-located
    #   lineitem⋈orders join (orders pre-filtered to one year, ~1/6) goes
    #   first and the supplier broadcast probes its smaller output
    #   (0.63 s vs 0.73 s).
    supp_asia = supp.join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey).join(
        F.broadcast(region), nation.n_regionkey == region.r_regionkey
    )
    if served_bucketed(spark, sf_dir, "lineitem", "orders"):
        joined = line.join(orders, line.l_orderkey == orders.o_orderkey).join(
            F.broadcast(supp_asia), line.l_suppkey == supp_asia.s_suppkey
        )
    else:
        joined = line.join(
            F.broadcast(supp_asia), line.l_suppkey == supp_asia.s_suppkey
        ).join(orders, line.l_orderkey == orders.o_orderkey)
    return (
        joined.join(
            F.broadcast(cust),
            (orders.o_custkey == cust.c_custkey) & (cust.c_nationkey == supp_asia.s_nationkey),
        )
        .groupBy("n_name")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
        .orderBy(F.desc("revenue"), "n_name")
    )


@register(
    "q6_revenue_forecast",
    doc="TPC-H Q6 shape: pure pushed-down range predicates + single global agg "
    "(SURVEY §3 P2/A1). No shuffle beyond the final 1-row reduce.",
    tags=("filter", "agg"),
    oracle="""
SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
""",
)
def q6_revenue_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    ensure_query_confs(spark)
    l = load_table(spark, sf_dir, "lineitem")
    return (
        l.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & F.col("l_discount").between(0.05, 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias("revenue"))
    )


@register(
    "join_left_order_counts",
    doc="Left outer join + null handling: customers with zero orders keep a "
    "0 total (SURVEY §3 J3/P3 — schedule rows with no realtime observation).",
    tags=("join", "nulls"),
    oracle="""
SELECT c_custkey, c_name,
       count(o_orderkey)                        AS n_orders,
       round(coalesce(sum(o_totalprice), 0), 2) AS total_spent
FROM customer LEFT JOIN orders ON c_custkey = o_custkey
GROUP BY c_custkey, c_name
ORDER BY c_custkey
""",
)
def join_left_order_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ensure_query_confs(spark)
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey", "c_name")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.round(F.coalesce(F.sum("o_totalprice"), F.lit(0.0)), 2).alias("total_spent"),
        )
        .orderBy("c_custkey")
    )


@register(
    "join_semi_big_spenders",
    doc="Left-semi join (EXISTS): customers having at least one order over "
    "400k (SURVEY §3 J4).",
    tags=("join",),
    oracle="""
SELECT c_custkey, c_name FROM customer
WHERE EXISTS (SELECT 1 FROM orders
              WHERE o_custkey = c_custkey AND o_totalprice > 400000)
ORDER BY c_custkey
""",
)
def join_semi_big_spenders(spark: SparkSession, sf_dir: str) -> DataFrame:
    ensure_query_confs(spark)
    cust = load_table(spark, sf_dir, "customer")
    big = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 400000)
    return (
        cust.join(big, cust.c_custkey == big.o_custkey, "left_semi")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    )


@register(
    "join_anti_no_orders",
    doc="Left-anti join (NOT EXISTS): customers with no order over 450k — the "
    "declarative form of the reference's calendar_dates exception logic "
    "(SURVEY §3 J5).",
    tags=("join",),
    oracle="""
SELECT c_custkey, c_name FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_totalprice > 450000)
ORDER BY c_custkey
""",
)
def join_anti_no_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    ensure_query_confs(spark)
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 450000)
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    )


@register(
    "agg_count_distinct",
    doc="Exact count-distinct per group (SURVEY §3 A2). The approx HLL twin "
    "(approx_count_distinct) is exercised in tests, kept out of the oracle.",
    tags=("agg",),
    oracle="""
SELECT event_type, count(DISTINCT user_id) AS n_users, count(*) AS n_events
FROM events GROUP BY event_type ORDER BY event_type
""",
)
def agg_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    ensure_query_confs(spark)
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy("event_type")
        .agg(
            F.countDistinct("user_id").alias("n_users"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .orderBy("event_type")
    )


@register(
    "agg_percentiles",
    doc="Exact interpolated percentiles per group (SURVEY §3 A3); DuckDB "
    "quantile_cont is the oracle twin. approx_percentile is the scale path.",
    tags=("agg",),
    oracle="""
SELECT o_orderpriority,
       round(quantile_cont(o_totalprice, 0.5), 4) AS p50,
       round(quantile_cont(o_totalprice, 0.9), 4) AS p90,
       count(*) AS n
FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
""",
)
def agg_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    ensure_query_confs(spark)
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderpriority")
        .agg(
            F.round(F.percentile("o_totalprice", F.lit(0.5)), 4).alias("p50"),
            F.round(F.percentile("o_totalprice", F.lit(0.9)), 4).alias("p90"),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy("o_orderpriority")
    )


@register(
    "agg_rollup",
    doc="ROLLUP grouping sets (SURVEY §3 A4): per-(flag,status), per-flag, and "
    "grand-total rows in one pass (Expand + partial agg).",
    tags=("agg",),
    oracle="""
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2) AS sum_qty, count(*) AS n
FROM lineitem
GROUP BY ROLLUP(l_returnflag, l_linestatus)
ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST
""",
)
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ensure_query_confs(spark)
    l = load_table(spark, sf_dir, "lineitem")
    return (
        l.rollup("l_returnflag", "l_linestatus")
        .agg(F.round(F.sum("l_quantity"), 2).alias("sum_qty"), F.count(F.lit(1)).alias("n"))
        .orderBy(F.asc_nulls_first("l_returnflag"), F.asc_nulls_first("l_linestatus"))
    )


@register(
    "agg_cube",
    doc="CUBE grouping sets (SURVEY §3 A4) over order priority × status.",
    tags=("agg",),
    oracle="""
SELECT o_orderpriority, o_orderstatus,
       round(sum(o_totalprice), 2) AS total, count(*) AS n
FROM orders
GROUP BY CUBE(o_orderpriority, o_orderstatus)
ORDER BY o_orderpriority NULLS FIRST, o_orderstatus NULLS FIRST
""",
)
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    ensure_query_confs(spark)
    o = load_table(spark, sf_dir, "orders")
    return (
        o.cube("o_orderpriority", "o_orderstatus")
        .agg(F.round(F.sum("o_totalprice"), 2).alias("total"), F.count(F.lit(1)).alias("n"))
        .orderBy(F.asc_nulls_first("o_orderpriority"), F.asc_nulls_first("o_orderstatus"))
    )


@register(
    "agg_collect_ordered",
    doc="Ordered nesting (SURVEY §3 A5 — the reference's trip→stop_times "
    "serializer): collect_list sorted for determinism, serialized to a string "
    "so the value-hash is engine-stable.",
    tags=("agg", "nesting"),
    oracle="""
SELECT o_custkey,
       string_agg(o_orderkey, ',' ORDER BY o_orderkey) AS order_ids,
       count(*) AS n_orders
FROM orders GROUP BY o_custkey ORDER BY o_custkey
""",
)
def agg_collect_ordered(spark: SparkSession, sf_dir: str) -> DataFrame:
    ensure_query_confs(spark)
    o = load_table(spark, sf_dir, "orders")
    ids_sorted = F.sort_array(F.collect_list("o_orderkey"))
    return (
        o.groupBy("o_custkey")
        .agg(
            F.concat_ws(",", F.transform(ids_sorted, lambda x: x.cast("string"))).alias("order_ids"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .orderBy("o_custkey")
    )


@register(
    "setop_union_distinct",
    doc="UNION ALL + DISTINCT (SURVEY §3 U1/U2): nations present among "
    "customers or suppliers. unionByName, never positional union.",
    tags=("setop",),
    oracle="""
SELECT DISTINCT nationkey FROM (
  SELECT c_nationkey AS nationkey FROM customer
  UNION ALL
  SELECT s_nationkey AS nationkey FROM supplier
) ORDER BY nationkey
""",
)
def setop_union_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    ensure_query_confs(spark)
    cust = load_table(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    supp = load_table(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return cust.unionByName(supp).distinct().orderBy("nationkey")


@register(
    "setop_intersect",
    doc="INTERSECT (SURVEY §3 U3): nations having both customers and suppliers.",
    tags=("setop",),
    oracle="""
SELECT c_nationkey AS nationkey FROM customer
INTERSECT
SELECT s_nationkey AS nationkey FROM supplier
ORDER BY nationkey
""",
)
def setop_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    ensure_query_confs(spark)
    cust = load_table(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    supp = load_table(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return cust.intersect(supp).orderBy("nationkey")


@register(
    "setop_except",
    doc="EXCEPT DISTINCT (SURVEY §3 U3): nations with customers but no "
    "high-balance (>5000) supplier.",
    tags=("setop",),
    oracle="""
SELECT c_nationkey AS nationkey FROM customer
EXCEPT
SELECT s_nationkey AS nationkey FROM supplier WHERE s_acctbal > 5000
ORDER BY nationkey
""",
)
def setop_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    ensure_query_confs(spark)
    cust = load_table(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    supp = (
        load_table(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") > 5000)
        .select(F.col("s_nationkey").alias("nationkey"))
    )
    return cust.subtract(supp).orderBy("nationkey")


EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


@register(
    "pivot_event_counts",
    doc="Pivot with an explicit value list (bounded output schema — never "
    "pivot on an unbounded key at scale); missing cells filled with 0.",
    tags=("agg", "pivot"),
    oracle="""
SELECT user_id,
       CAST(sum(CASE WHEN event_type = 'click'    THEN 1 ELSE 0 END) AS BIGINT) AS click,
       CAST(sum(CASE WHEN event_type = 'error'    THEN 1 ELSE 0 END) AS BIGINT) AS error,
       CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
       CAST(sum(CASE WHEN event_type = 'signup'   THEN 1 ELSE 0 END) AS BIGINT) AS signup,
       CAST(sum(CASE WHEN event_type = 'view'     THEN 1 ELSE 0 END) AS BIGINT) AS view
FROM events GROUP BY user_id ORDER BY user_id
""",
)
def pivot_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ensure_query_confs(spark)
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy("user_id")
        .pivot("event_type", list(EVENT_TYPES))
        .count()
        .na.fill(0, list(EVENT_TYPES))
        .orderBy("user_id")
    )
