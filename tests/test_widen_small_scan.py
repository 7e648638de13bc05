"""``io.widen_small_scan``: input-parallelism widening for single-split
small-SF scans (guide §2.5/§6.1). Pins the guard (no-op at-or-above the
session parallelism — so scale-cache/production inputs never pay an added
exchange) and value preservation under the round-robin shuffle.
"""

from __future__ import annotations

from transilien_api_etl_spark.io import widen_small_scan


def test_widens_single_partition_to_default_parallelism(spark):
    par = spark.sparkContext.defaultParallelism
    df = spark.createDataFrame(
        [(i, float(i) * 0.5) for i in range(100)], "a int, b double"
    ).coalesce(1)
    assert df.rdd.getNumPartitions() == 1
    out = widen_small_scan(spark, df)
    assert out.rdd.getNumPartitions() == par
    # round-robin placement, identical multiset of rows
    assert sorted((r["a"], r["b"]) for r in out.collect()) == [
        (i, i * 0.5) for i in range(100)
    ]


def test_noop_when_already_at_parallelism(spark):
    par = spark.sparkContext.defaultParallelism
    df = spark.range(0, 1000).repartition(par)
    # the guard must return the SAME DataFrame — no added exchange for
    # inputs already at (or above) the session parallelism
    assert widen_small_scan(spark, df) is df
