"""AQE skew-join splitting — the runtime half of the skew defence
(operators/skew.py salting is the plan-time half). A hot key that owns
most of one join side must be split into multiple tasks by AQE, visible as
`skew=true` on the SortMergeJoin (and an `AQEShuffleRead skewed`) in the
final adaptive plan.

AQE judges skew on compressed shuffle BYTES, not rows: a partition is
skewed only when it exceeds both `skewedPartitionFactor` × the median
partition size and `skewedPartitionThresholdInBytes`. The hot key's rows
must therefore carry an incompressible payload through the shuffle; rows
that shuffle only a constant 8-byte key compress to almost nothing and
are not flagged (measured at 4 partitions: 918,132 B hot vs 542,940 B
median, 1.69× < factor 2)."""

from __future__ import annotations

from pyspark.sql import functions as F

SKEW_CONFS = {
    "spark.sql.autoBroadcastJoinThreshold": "-1",  # force a shuffle join
    "spark.sql.join.preferSortMergeJoin": "true",  # AQE splits SMJ skew
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
    "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "64KB",
    "spark.sql.adaptive.coalescePartitions.minPartitionSize": "16KB",
    # the global agg downstream imposes no distribution requirement, but
    # force documents intent: split skew even at the cost of a re-shuffle
    "spark.sql.adaptive.forceOptimizeSkewedJoin": "true",
    # pinned so the checked plan does not depend on SPARK_GRAFT_CPUS. At
    # 2 partitions Spark's median is the mean of hot and cold, so
    # 2 × median > hot and no partition can ever be flagged at factor 2;
    # any count >= 3 can flag a single hot partition.
    "spark.sql.shuffle.partitions": "4",
}

# 1,600,000 ids with id % 5 != 0 all map to k = 7 (one dim match), plus the
# 80,000 multiples of 5 below 400,000 that match their own dim row
EXPECTED_JOIN_ROWS = 1_680_000


def test_aqe_splits_hot_key_partition(spark):
    saved = {}
    confs = dict(SKEW_CONFS)
    for k, v in confs.items():
        saved[k] = spark.conf.get(k, None)
        spark.conf.set(k, v)
    try:
        # 2M-row fact, 80% of it on ONE key → one pathological partition;
        # sha2 payload is incompressible, so the hot partition is heavy in
        # shuffle bytes, which is what AQE measures
        fact = spark.range(2_000_000).select(
            F.when(F.col("id") % 5 != 0, F.lit(7)).otherwise(F.col("id")).alias("k"),
            F.sha2(F.col("id").cast("string"), 256).alias("payload"),
        )
        dim = spark.range(400_000).select(
            F.col("id").alias("k"), F.sha2(F.col("id").cast("string"), 256).alias("tag")
        )
        # global aggregate, NOT a same-key groupBy: an agg keyed on the join
        # key would put a distribution requirement on the join output, and
        # AQE refuses to split skewed partitions it would have to re-shuffle.
        # It references payload and tag: a count(1) alone lets column pruning
        # drop them before the shuffle, leaving only the compressible key.
        joined = fact.join(dim, "k").agg(
            F.count(F.lit(1)).alias("n"), F.max("payload"), F.max("tag")
        )
        # collect() executes THIS DataFrame's queryExecution (count() would
        # build a separate one and leave this plan un-adapted)
        rows = joined.collect()
        assert rows[0].n == EXPECTED_JOIN_ROWS
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, f"AQE did not mark/split the skewed join:\n{plan[:4000]}"
        assert "AQEShuffleRead skewed" in plan, plan[:4000]
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
