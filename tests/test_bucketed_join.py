"""CI gate for the bucketed-at-rest fact layout (DEPLOY.md storage rule,
measured end-to-end in BASELINE.md's round-4 "Bucketed-at-rest variant"):
facts bucketed+sorted on their join key must join AND aggregate on that key
with ZERO exchanges — the property that deletes the data-volume-scaling
shuffle term from recurring fact-fact joins at 100 TB.
"""

from __future__ import annotations

import contextlib
import io
import re
import shutil

import pytest

from pyspark.sql import functions as F

from transilien_api_etl_spark.io import load_table
from transilien_api_etl_spark.sources.sinks import write_bucketed

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


@contextlib.contextmanager
def _bucket_join_confs(spark):
    """At sf0.001 orders fits under the broadcast threshold, so Catalyst
    picks BHJ and its BroadcastExchange (a driver-side dim ship, not a data
    shuffle) would mask the property under test: the sort-merge path over
    at-rest buckets — the only plan available when both facts are
    shuffle-sized, which is the 100 TB case this gate models. Sorted-bucket
    scan ordering is opt-in since Spark 3.0 (it needs the one-file-per-bucket
    planning check); ``write_bucketed``'s aligned repartition guarantees that
    layout, so the conf is safe to enable."""
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.legacy.bucketedTableScan.outputOrdering": "true",
    }
    prev = {k: spark.conf.get(k) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)


def _drop(spark, name: str) -> None:
    """DROP TABLE plus orphaned-location cleanup: a killed run can leave the
    warehouse dir behind with no catalog entry, and saveAsTable then fails
    with LOCATION_ALREADY_EXISTS."""
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    loc = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    shutil.rmtree(f"{loc}/{name}", ignore_errors=True)


@pytest.fixture(scope="module")
def bucketed_facts(spark):
    for table, key in (("lineitem", "l_orderkey"), ("orders", "o_orderkey")):
        name = f"{table}_bjtest"
        _drop(spark, name)
        write_bucketed(
            load_table(spark, SF, table), name, [key], n_buckets=4, sort_cols=[key]
        )
    yield "lineitem_bjtest", "orders_bjtest"
    for name in ("lineitem_bjtest", "orders_bjtest"):
        _drop(spark, name)


def test_bucketed_fact_join_and_agg_have_no_exchange(spark, bucketed_facts):
    line_t, orders_t = bucketed_facts
    line, orders = spark.table(line_t), spark.table(orders_t)
    # the q3 core: fact⋈fact on the bucket key, then group-by on a superset
    # of it — both must reuse the at-rest bucketing (no Exchange anywhere
    # before the final top-k)
    with _bucket_join_confs(spark):
        joined = (
            line.join(orders, line.l_orderkey == orders.o_orderkey)
            .groupBy("l_orderkey", "o_orderdate")
            .agg(F.sum("l_extendedprice").alias("rev"))
        )
        plan = _plan(joined)
        assert "Exchange" not in plan, f"bucketed join/agg still exchanges:\n{plan}"
        # sorted buckets also delete the pre-merge-join sort
        assert "SortMergeJoin" in plan
        assert not re.search(r"\bSort \(", plan), f"bucket sort order not reused:\n{plan}"

        # and it is not vacuous: the same plan over plain parquet DOES exchange
        plain = (
            load_table(spark, SF, "lineitem")
            .join(
                load_table(spark, SF, "orders"),
                F.col("l_orderkey") == F.col("o_orderkey"),
            )
            .groupBy("l_orderkey", "o_orderdate")
            .agg(F.sum("l_extendedprice").alias("rev"))
        )
        assert "Exchange" in _plan(plain)


def test_ensure_bucketed_external_idempotent_and_load_table_override(
    spark, tmp_path_factory
):
    """The bench's bucketed phase contract: first call writes the clustered
    layout, second call (fresh catalog) only re-registers metadata (returns
    False) yet serves the identical bucketed scan; the
    spark.graft.bucketedTables conf reroutes io.load_table to it; a changed
    bucket spec forces a rewrite."""
    from transilien_api_etl_spark.io import BUCKETED_TABLES_CONF
    from transilien_api_etl_spark.sources.sinks import ensure_bucketed_external

    loc = str(tmp_path_factory.mktemp("bext") / "orders")
    src = load_table(spark, SF, "orders")
    assert ensure_bucketed_external(
        spark, src, "orders_bucketed", loc, ["o_orderkey"], 4, ["o_orderkey"]
    ) is True
    # second call: data committed, spec matches -> metadata-only refresh
    assert ensure_bucketed_external(
        spark, src, "orders_bucketed", loc, ["o_orderkey"], 4, ["o_orderkey"]
    ) is False
    assert spark.table("orders_bucketed").count() == src.count()

    # conf-gated load_table override serves the catalog table — only for
    # the dataset dir it was built from. Pin shuffle.partitions to the
    # bucket count: the one-sided-exchange plan needs the probe side's
    # shuffle target to equal the at-rest bucket count (bench aligns both
    # at SPARK_GRAFT_CPUS).
    from transilien_api_etl_spark.io import BUCKETED_DIR_CONF

    spark.conf.set(BUCKETED_TABLES_CONF, "orders")
    spark.conf.set(BUCKETED_DIR_CONF, SF)
    prev_sp = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        # dataset scoping: a DIFFERENT sf_dir must keep its own parquet
        other = load_table(spark, "/root/testdata/sf0.01", "orders")
        assert "Bucketed: true" not in _plan(other)

        df = load_table(spark, SF, "orders")
        with _bucket_join_confs(spark):
            line = load_table(spark, SF, "lineitem")
            j = (
                line.join(df, line.l_orderkey == df.o_orderkey)
                .groupBy("l_orderkey")
                .agg(F.sum("l_extendedprice").alias("rev"))
            )
            plan = _plan(j)
            # only the non-bucketed (lineitem) side may exchange; formatted
            # explain prints each node twice (tree + detail), so count the
            # numbered detail headers
            assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1, plan
            assert "Bucketed: true" in plan, plan
    finally:
        spark.conf.set(BUCKETED_TABLES_CONF, "")
        spark.conf.set(BUCKETED_DIR_CONF, "")
        spark.conf.set("spark.sql.shuffle.partitions", prev_sp)

    # spec drift (different bucket count) must force a rewrite
    assert ensure_bucketed_external(
        spark, src, "orders_bucketed", loc, ["o_orderkey"], 8, ["o_orderkey"]
    ) is True

    # a corrupt spec marker must also force a rewrite, not crash or
    # silently trust an unknown layout
    import os

    with open(os.path.join(loc, "_BUCKET_SPEC.json"), "w") as fh:
        fh.write("{not json")
    assert ensure_bucketed_external(
        spark, src, "orders_bucketed", loc, ["o_orderkey"], 8, ["o_orderkey"]
    ) is True
    spark.sql("DROP TABLE IF EXISTS orders_bucketed")


def test_registered_q3_q5_under_bucketed_conf_match_plain(spark, tmp_path_factory):
    """Gate the exact path bench.py phase 2c grades: the REGISTERED q3/q5
    plan functions, with lineitem/orders rerouted to bucketed tables via
    spark.graft.bucketedTables, must produce hash-identical results to the
    plain parquet run and fewer Exchange nodes."""
    from transilien_api_etl_spark.io import BUCKETED_DIR_CONF, BUCKETED_TABLES_CONF
    from transilien_api_etl_spark.plans.registry import REGISTRY
    from transilien_api_etl_spark.sources.sinks import ensure_bucketed_external

    base = tmp_path_factory.mktemp("bq35")
    for table, key in (("lineitem", "l_orderkey"), ("orders", "o_orderkey")):
        ensure_bucketed_external(
            spark,
            load_table(spark, SF, table),
            f"{table}_bucketed",
            str(base / table),
            [key],
            4,
            [key],
        )

    prev_sp = spark.conf.get("spark.sql.shuffle.partitions")
    prev_bc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    # At sf0.001 Catalyst would broadcast a FACT side (orders fits under
    # the threshold), masking the fact⋈fact shuffle the bucketing deletes
    # at real scale. Disable auto-broadcast for BOTH variants: the
    # explicit F.broadcast dim hints in the plans are unaffected, so this
    # models the 100 TB plan shape where neither fact broadcasts.
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        for qname in ("q3_shipping_priority", "q5_local_supplier"):
            fn = REGISTRY[qname].fn
            plain_rows = [tuple(r) for r in fn(spark, SF).collect()]
            plain_ex = len(re.findall(r"\(\d+\) Exchange", _plan(fn(spark, SF))))
            spark.conf.set(BUCKETED_TABLES_CONF, "lineitem,orders")
            spark.conf.set(BUCKETED_DIR_CONF, SF)
            spark.conf.set("spark.sql.shuffle.partitions", "4")
            try:
                bucketed_rows = [tuple(r) for r in fn(spark, SF).collect()]
                bucketed_ex = len(
                    re.findall(r"\(\d+\) Exchange", _plan(fn(spark, SF)))
                )
            finally:
                spark.conf.set(BUCKETED_TABLES_CONF, "")
                spark.conf.set(BUCKETED_DIR_CONF, "")
                spark.conf.set("spark.sql.shuffle.partitions", prev_sp)
            assert bucketed_rows == plain_rows, qname
            assert bucketed_ex < plain_ex, (
                f"{qname}: bucketed plan has {bucketed_ex} exchanges, "
                f"plain has {plain_ex} — layout not picked up"
            )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_bc)
    for name in ("lineitem_bucketed", "orders_bucketed"):
        spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_bucketed_join_results_match_plain(spark, bucketed_facts):
    line_t, orders_t = bucketed_facts
    bucketed = (
        spark.table(line_t)
        .join(spark.table(orders_t), F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_orderkey")
        .agg(F.round(F.sum("l_extendedprice"), 2).alias("rev"))
    )
    plain = (
        load_table(spark, SF, "lineitem")
        .join(
            load_table(spark, SF, "orders"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy("l_orderkey")
        .agg(F.round(F.sum("l_extendedprice"), 2).alias("rev"))
    )
    assert sorted(map(tuple, bucketed.collect())) == sorted(map(tuple, plain.collect()))


def test_served_bucketed_scoping(spark):
    """served_bucketed is the layout probe plan functions branch on (round
    9: q3/q5 pick their join order by it), so its scoping must be exact:
    every named table listed in the conf AND the dir matching, else False."""
    from transilien_api_etl_spark.io import (
        BUCKETED_DIR_CONF,
        BUCKETED_TABLES_CONF,
        served_bucketed,
    )

    prev_t = spark.conf.get(BUCKETED_TABLES_CONF, "")
    prev_d = spark.conf.get(BUCKETED_DIR_CONF, "")
    try:
        spark.conf.set(BUCKETED_TABLES_CONF, "lineitem,orders")
        spark.conf.set(BUCKETED_DIR_CONF, SF)
        assert served_bucketed(spark, SF, "lineitem", "orders")
        assert served_bucketed(spark, SF + "/", "lineitem")  # path-normalized
        # any table NOT in the conf list defeats the whole group
        assert not served_bucketed(spark, SF, "lineitem", "customer")
        # a different source dir must not be served the bucketed rows
        assert not served_bucketed(spark, "/root/testdata/sf0.01", "lineitem")
        spark.conf.set(BUCKETED_DIR_CONF, "")
        assert not served_bucketed(spark, SF, "lineitem")  # dir conf mandatory
    finally:
        spark.conf.set(BUCKETED_TABLES_CONF, prev_t)
        spark.conf.set(BUCKETED_DIR_CONF, prev_d)
