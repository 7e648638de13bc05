"""The Arrow kernels vs their references.

k-means assignment and PQ encoding share one nearest-centroid kernel
(functions/vectors.nearest_centroids) at every corpus size; these tests pin
its assignments / codes against the DuckDB unrolled-CTE oracles
(kmeans_oracle_cte, pq_oracle_cte) on sf0.001, including a k above the
registered k = 8. The SemDeDup scale path switches to a per-cluster gram
prune above a corpus size no testdata SF reaches (semdedup_q._TARGET_CLUSTER);
its dup sets are pinned against the JVM self-join on data small enough to
run both, so the scale path can't silently drift from the hash-checked
semantics.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from transilien_api_etl_spark.io import load_table
from transilien_api_etl_spark.operators.kmeans import kmeans_assign, kmeans_oracle_cte
from transilien_api_etl_spark.operators.pq import (
    pq_codes_arrow,
    pq_oracle_cte,
    pq_train,
    pq_train_sample_mod,
)
from transilien_api_etl_spark.operators.semdedup import within_cluster_survivors

SF = "/root/testdata/sf0.001"
# Shadows the duck fixture's (sf0.01) view with the sf0.001 corpus.
_EMB_CTE = f"embeddings AS (SELECT * FROM read_parquet('{SF}/embeddings.parquet'))"


def _emb(spark):
    return load_table(spark, SF, "embeddings")


def test_kmeans_arrow_assignment_matches_oracle(spark, duck):
    """Clusters match the oracle exactly; d2 exactly at the registered
    k = 8 and within 2e-6 at k = 18 (the 6-dp rounding absorbs the
    matmul's summation order on this data, blob-free real vectors). The
    same run with an int id must give the same rows."""
    emb = _emb(spark)
    emb_int = emb.withColumn("vec_id", F.col("vec_id").cast("int"))
    for k in (8, 18):
        out = kmeans_assign(
            emb, id_col="vec_id", vec_col="embedding", k=k, iterations=2
        )
        got = {r["vec_id"]: (r["cluster"], r["d2"]) for r in out.collect()}
        want = {
            vid: (cluster, d2)
            for vid, cluster, d2 in duck.execute(
                f"WITH {_EMB_CTE}, {kmeans_oracle_cte(k, 2)} "
                "SELECT vec_id, cluster, d2 FROM af"
            ).fetchall()
        }
        assert len(got) == 500 and set(got) == set(want)
        assert [i for i in want if got[i][0] != want[i][0]] == []
        if k == 8:
            assert got == want
        for i in want:
            assert got[i][1] == pytest.approx(want[i][1], abs=2e-6)

        out_int = kmeans_assign(
            emb_int, id_col="vec_id", vec_col="embedding", k=k, iterations=2
        )
        assert dict(out_int.dtypes)["vec_id"] == "int"
        assert {
            r["vec_id"]: (r["cluster"], r["d2"]) for r in out_int.collect()
        } == got


def test_semdedup_arrow_prune_matches_jvm_join(spark):
    """Gram-kernel dup set ≡ the JVM self-join dup set on sf0.001 with the
    registered k=8 clustering (both computable at this size)."""
    from transilien_api_etl_spark.functions.vectors import cosine_from_norms, l2_norm
    from transilien_api_etl_spark.plans.semdedup_q import _TAU, _kmeans_df

    km, k, _ = _kmeans_df(spark, SF)
    assert k == 8  # sf0.001 must stay in the oracle's k domain
    arrow_surv = {
        (r["vec_id"], r["cluster"])
        for r in within_cluster_survivors(km, _TAU).collect()
    }

    kmn = km.withColumn("nrm", l2_norm(F.col("v")))
    a, b = kmn.alias("a"), kmn.alias("b")
    cos = F.round(
        cosine_from_norms(F.col("a.v"), F.col("b.v"), F.col("a.nrm"), F.col("b.nrm")),
        6,
    )
    jvm_dups = (
        a.join(
            b,
            (F.col("a.cluster") == F.col("b.cluster"))
            & (F.col("b.vec_id") < F.col("a.vec_id")),
        )
        .filter(cos >= F.lit(_TAU))
        .select(F.col("a.vec_id").alias("vec_id"))
        .distinct()
    )
    jvm_surv = {
        (r["vec_id"], r["cluster"])
        for r in km.join(jvm_dups, "vec_id", "left_anti")
        .select("vec_id", "cluster")
        .collect()
    }
    assert arrow_surv == jvm_surv


def test_pq_arrow_codes_match_oracle(spark, duck):
    """Codes (training through the same kernel, then encoding) match the
    registered PQ16x4 oracle's on sf0.001, also with an int id."""
    emb = _emb(spark)
    books = pq_train(
        emb, id_col="vec_id", vec_col="embedding",
        m_sub=16, sub_dim=4, k=16, iterations=2,
    )
    got = {
        r["vec_id"]: list(r["codes"])
        for r in pq_codes_arrow(
            emb, books, 4, id_col="vec_id", vec_col="embedding"
        ).collect()
    }
    cte = pq_oracle_cte(m_sub=16, sub_dim=4, k=16, iterations=2)
    want: dict[int, list[int]] = {}
    for m in range(16):
        for vid, cluster in duck.execute(
            f"WITH {_EMB_CTE}, {cte} SELECT vec_id, cluster FROM af_m{m}"
        ).fetchall():
            want.setdefault(vid, []).append(cluster)
    assert len(got) == 500 and got == want

    emb_int = emb.withColumn("vec_id", F.col("vec_id").cast("int"))
    books_int = pq_train(
        emb_int, id_col="vec_id", vec_col="embedding",
        m_sub=16, sub_dim=4, k=16, iterations=2,
    )
    assert books_int == books
    enc_int = pq_codes_arrow(
        emb_int, books, 4, id_col="vec_id", vec_col="embedding"
    )
    assert dict(enc_int.dtypes)["vec_id"] == "int"
    assert {r["vec_id"]: list(r["codes"]) for r in enc_int.collect()} == got


def test_pq_train_sample_mod_thresholds():
    assert pq_train_sample_mod(500) == 1
    assert pq_train_sample_mod(65536) == 1
    # below 2·65 536 every corpus trains in full (the oracle's domain)
    assert pq_train_sample_mod(131_071) == 1
    assert pq_train_sample_mod(131_072) == 2
    assert pq_train_sample_mod(1_000_000) == 15
    # sampled training still selects a non-trivial subset deterministically
    assert pq_train_sample_mod(10_000_000) == 152


def test_derived_k_stays_at_oracle_k_for_all_driver_sfs():
    from transilien_api_etl_spark.plans.semdedup_q import _K, _derived_k

    # driver SFs hold 500 / 500 / 2000 vectors; the oracle's k=8 domain
    # extends to 32k — an sf1 testdata (~20k) would STILL be in-domain.
    for n in (500, 2000, 20_000, 32_000):
        assert _derived_k(n) == _K
    # above the domain: k = n/target (see the schedule-choice note —
    # k=sqrt(n) measured 2.9x slower at 1M despite the nicer asymptotics)
    assert _derived_k(1_000_000) == 250


def test_semdedup_prune_handles_trivial_and_skewed_groups(spark):
    # one singleton cluster, one cluster of exact duplicates: the singleton
    # never drops; in the dup cluster everyone but the smallest id drops.
    rows = [(1, [1.0, 0.0], 0)] + [(10 + i, [0.0, 2.0], 1) for i in range(5)]
    km = spark.createDataFrame(rows, "vec_id long, v array<double>, cluster int")
    surv = {r["vec_id"] for r in within_cluster_survivors(km, 0.9).collect()}
    assert surv == {1, 10}


def test_semdedup_prune_nan_cosine_counts_as_dup(spark):
    """NaN-poisoned vectors yield NaN cosines; Spark and DuckDB both
    compare NaN ABOVE every value, so the JVM filter cos >= tau drops
    them — the Arrow kernel must agree (round-7 review finding). The
    zero-norm sibling case is NOT JVM-comparable: 0/0 raises
    DIVIDE_BY_ZERO under ANSI instead of producing NaN, and the kernel
    deliberately degrades (drops the row) rather than job-kills — see
    the kernel docstring."""
    from pyspark.sql import functions as F

    nan = float("nan")
    rows = [(1, [1.0, 0.0], 0), (2, [nan, 1.0], 0), (3, [nan, 2.0], 0)]
    km = spark.createDataFrame(rows, "vec_id long, v array<double>, cluster int")
    surv = {r["vec_id"] for r in within_cluster_survivors(km, 0.9).collect()}
    # JVM reference on the same frame
    from transilien_api_etl_spark.functions.vectors import cosine_from_norms, l2_norm

    kmn = km.withColumn("nrm", l2_norm(F.col("v")))
    a, b = kmn.alias("a"), kmn.alias("b")
    cos = F.round(
        cosine_from_norms(F.col("a.v"), F.col("b.v"), F.col("a.nrm"), F.col("b.nrm")),
        6,
    )
    dups = (
        a.join(
            b,
            (F.col("a.cluster") == F.col("b.cluster"))
            & (F.col("b.vec_id") < F.col("a.vec_id")),
        )
        .filter(cos >= F.lit(0.9))
        .select(F.col("a.vec_id").alias("vec_id"))
        .distinct()
    )
    jvm_surv = {
        r["vec_id"] for r in km.join(dups, "vec_id", "left_anti").collect()
    }
    assert surv == jvm_surv == {1}
