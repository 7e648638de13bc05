"""Bit-parity property tests for the Arrow-batched numpy kernels.

The round-3 perf kernels (functions/vectors.cosine_scores_arrow,
operators/quantize.sq8_cosine_arrow) claim EXACT-bit equality with the
JVM higher-order-function folds because they replay the same IEEE ops in
the same sequential order. That claim was verified on the fixture corpus;
these tests re-verify it as a property over adversarial inputs —
negatives, zeros, constant dimensions (SQ8's mx==mn guard), tiny and
large magnitudes — so a future kernel edit that silently reorders the
arithmetic fails here, not in the driver's hash compare.
"""

from __future__ import annotations

import random

from pyspark.sql import functions as F

from transilien_api_etl_spark.functions.vectors import (
    cosine_from_norms,
    cosine_scores_arrow,
    dot,
    l2_norm,
)
from transilien_api_etl_spark.operators.quantize import (
    sq8_cosine_arrow,
    sq8_dequant_expr,
    sq8_encode,
    sq8_stats_model,
)

DIM = 16


def _corpus(spark, n=300, seed=7):
    rng = random.Random(seed)

    def vec(i):
        if i % 17 == 0:
            base = [0.0] * DIM  # zero-ish vectors stress the norm path
            base[i % DIM] = 1e-6
            return base
        return [
            rng.uniform(-10.0, 10.0) * (10.0 ** rng.randint(-3, 3))
            for _ in range(DIM)
        ]

    rows = [(i, vec(i)) for i in range(n)]
    # constant dimension across the corpus → SQ8 mx==mn guard fires
    rows = [(i, v[:-1] + [3.25]) for i, v in rows]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_cosine_arrow_bit_equals_hof_fold(spark):
    emb = _corpus(spark)
    qvec = [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    qn = 0.0
    for x in qvec:
        qn += x * x
    qn = qn ** 0.5

    qv = F.array(*[F.lit(x) for x in qvec])
    hof = (
        emb.filter(F.col("vec_id") != 0)
        .select(
            "vec_id",
            cosine_from_norms(
                F.col("embedding"), qv, l2_norm(F.col("embedding")), F.lit(qn)
            ).alias("cos_sim"),
        )
        .orderBy("vec_id")
        .collect()
    )
    arrow = (
        cosine_scores_arrow(emb.filter(F.col("vec_id") != 0), qvec, qn)
        .orderBy("vec_id")
        .collect()
    )
    assert [(r["vec_id"], r["cos_sim"]) for r in hof] == [
        (r["vec_id"], r["cos_sim"]) for r in arrow
    ]  # EXACT float equality — no tolerance

    # an int id passes through with its own type (was declared long)
    emb_int = emb.withColumn("vec_id", F.col("vec_id").cast("int"))
    arrow_int = cosine_scores_arrow(emb_int.filter(F.col("vec_id") != 0), qvec, qn)
    assert dict(arrow_int.dtypes)["vec_id"] == "int"
    assert arrow_int.orderBy("vec_id").collect() == arrow


def test_sq8_arrow_bit_equals_hof_fold(spark):
    emb = _corpus(spark, seed=13)
    mins, maxs = sq8_stats_model(emb)
    assert mins[-1] == maxs[-1] == 3.25  # the constant-dim guard is exercised
    qvec = [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    qn = 0.0
    for x in qvec:
        qn += x * x
    qn = qn ** 0.5

    qv = F.array(*[F.lit(x) for x in qvec])
    enc = sq8_encode(emb.filter(F.col("vec_id") != 0), mins, maxs)
    dq = enc.withColumn("dqv", sq8_dequant_expr(mins, maxs, "codes"))
    hof = (
        dq.select(
            "vec_id",
            (dot(F.col("dqv"), qv) / (l2_norm(F.col("dqv")) * F.lit(qn))).alias(
                "cos_q8"
            ),
        )
        .orderBy("vec_id")
        .collect()
    )
    arrow = (
        sq8_cosine_arrow(emb.filter(F.col("vec_id") != 0), mins, maxs, qvec, qn)
        .orderBy("vec_id")
        .collect()
    )
    assert [(r["vec_id"], r["cos_q8"]) for r in hof] == [
        (r["vec_id"], r["cos_q8"]) for r in arrow
    ]  # EXACT float equality — encode, dequant, and fold all replayed


def test_topk_prefilter_is_tie_safe_and_value_preserving(spark):
    """The per-batch top-k SUPERSET must keep every row that could enter
    the global top-k after the caller's 8-dp rounding + vec_id tie-break:
    rows within 2e-8 raw score of the kth row survive the filter, and the
    scores that do cross are bit-identical to the unfiltered kernel's."""
    from transilien_api_etl_spark.functions.vectors import cosine_scores_arrow

    dim = 4
    q = [1.0, 0.0, 0.0, 0.0]
    # vec_id 1..8: first coordinate decides cos; ids 3..8 are one rounding
    # quantum apart around the k=2 boundary (cos ≈ x / |v| with unit-ish
    # rows — keep it simple: vectors (x, eps, 0, 0) with tiny eps give
    # cos ≈ x/sqrt(x²+eps²), strictly increasing in x).
    rows = [(i, [1.0 - i * 1e-9, 1e-6, 0.0, 0.0]) for i in range(1, 9)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    full = {
        r["vec_id"]: r["cos_sim"]
        for r in cosine_scores_arrow(emb, q, 1.0).collect()
    }
    filt = {
        r["vec_id"]: r["cos_sim"]
        for r in cosine_scores_arrow(emb, q, 1.0, topk_prefilter=2).collect()
    }
    # every row within 2e-8 of the 2nd-best raw score must survive;
    # here ALL rows are within 8e-9 of the best, so none may be dropped
    assert set(filt) == set(full)
    assert all(filt[k] == full[k] for k in full)  # exact bits

    # a clearly-separated corpus does filter down to a k-superset
    # (cos = 1/sqrt(1+i²), strictly decreasing in i — NOT colinear rows,
    # whose cosine is 1.0 regardless of magnitude)
    rows = [(i, [1.0, float(i), 0.0, 0.0]) for i in range(1, 101)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    one_part = emb.repartition(1)
    filt = cosine_scores_arrow(one_part, q, 1.0, topk_prefilter=5).collect()
    assert len(filt) < 100  # actually filtered
    top = sorted(filt, key=lambda r: -r["cos_sim"])[:5]
    full5 = sorted(
        cosine_scores_arrow(one_part, q, 1.0).collect(),
        key=lambda r: -r["cos_sim"],
    )[:5]
    assert [(r["vec_id"], r["cos_sim"]) for r in top] == [
        (r["vec_id"], r["cos_sim"]) for r in full5
    ]
