"""Product-quantization plans — SURVEY.md §3 F8 memory-ladder top rung (M6).

`operators/pq.py` composed into two registered queries: the PQ encoding of
the corpus (16×4-bit codes per 64-dim vector) and ADC top-10 search. The
oracle replays the full pipeline — 16 per-subspace unrolled Lloyd chains,
final assignment, query LUTs — as one generated CTE forest, so training,
encoding, AND search are value-checked end-to-end, not just row-counted.

Registered late on purpose (same note as text_more_q: the round-2
front-load in plans/__init__.py must not shift).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from transilien_api_etl_spark.io import (
    cached_bounded_count,
    cached_query_embedding,
    cached_row_count,
    load_table,
)
from transilien_api_etl_spark.operators.pq import (
    adc_distance_col,
    adc_luts,
    pq_codes_arrow,
    pq_oracle_cte,
    pq_train,
    pq_train_sample_mod,
)
from transilien_api_etl_spark.plans.registry import register
from transilien_api_etl_spark.scale import KEY_STRIDE
from transilien_api_etl_spark.session import ensure_query_confs

M_SUB = 16
SUB_DIM = 4
K_CODES = 16
ITERS = 2

_CTE = pq_oracle_cte(m_sub=M_SUB, sub_dim=SUB_DIM, k=K_CODES, iterations=ITERS)

# Reduced-corpus bench twin bound (round 9, VERDICT r8 task 1): first 100
# of the scale cache's 500 embedding replicas → 200 k vectors at the sf0.1
# cache, where the twin oracle below — same vec_id bound, same sampled
# training set (mod = n//65536 = 3, the portable vec_id % mod predicate
# pq_train now shares), minjoin/materialized argmin formulation — MEASURED
# 9.9 s (re-probed same-session at two sizes: 6.1 s at 100 k, 9.9 s at
# 200 k, 146-151 s at 500 k — the minjoin argmin is SUPERLINEAR in the
# corpus, 2.5× rows → 15× wall, so 500 k sails past any defensible
# watchdog cap; an earlier 250-replica bound shipped on a 9.9 s record
# that had actually been measured at 100 replicas). 200 k is the
# smallest size that keeps the Spark side on its genuine scale path:
# sampled training needs n//65536 ≥ 2 (n ≥ 131 072) to engage. On the
# testdata vec_id < KEY_STRIDE, so the filter is a no-op, the SQL mod
# expression degrades to 1, and bench_oracle ≡ oracle value-for-value
# (tests/test_bench_variants.py).
_BENCH_REPLICA_CAP = 100
_BENCH_VEC_BOUND = _BENCH_REPLICA_CAP * KEY_STRIDE
# pq_train_sample_mod(n) as SQL, evaluated against CTE nn's count n.
_TRAIN_MOD_EXPR = "greatest(n//65536, 1)"


def _encoded_codes(spark: SparkSession, sf_dir: str, vec_bound: int | None = None):
    """(embeddings df, (vec_id, codes) df) with the size-based training sample
    shared by both PQ queries, so encode and search can never diverge."""
    emb = load_table(spark, sf_dir, "embeddings")
    if vec_bound is None:
        n = cached_row_count(spark, sf_dir, "embeddings")
    else:
        emb = emb.filter(F.col("vec_id") < vec_bound)
        n = cached_bounded_count(spark, sf_dir, "embeddings", "vec_id", vec_bound)
    books = pq_train(
        emb,
        id_col="vec_id",
        vec_col="embedding",
        m_sub=M_SUB,
        sub_dim=SUB_DIM,
        k=K_CODES,
        iterations=ITERS,
        sample_mod=pq_train_sample_mod(n),
        n_rows=n,
    )
    enc = pq_codes_arrow(emb, books, SUB_DIM, id_col="vec_id", vec_col="embedding")
    return emb, books, enc

_CODES_CONCAT = " || ',' || ".join(
    f"CAST(a{m}.cluster AS VARCHAR)" for m in range(M_SUB)
)
_CODE_JOINS = "af_m0 a0" + "".join(
    f" JOIN af_m{m} a{m} ON a{m}.vec_id = a0.vec_id" for m in range(1, M_SUB)
)
_LUT_JOINS = "".join(
    f" JOIN lut_m{m} l{m} ON a{m}.cluster = l{m}.cid" for m in range(M_SUB)
)
_ADC_SUM = " + ".join(f"l{m}.d" for m in range(M_SUB))


@register(
    "embeddings_pq_codes",
    doc=f"PQ{M_SUB}x4 encoding of the embedding corpus (SURVEY §3 F8 memory "
    "ladder, above SQ8): 16 subspace codebooks of 16 centroids trained by "
    "fixed-iteration FUSED Lloyd (operators/pq.py pq_train — one Spark "
    "job per iteration for all subspaces), "
    "then ONE fused map-only scan assigns all 16 codes per vector against "
    "literal codebooks — 8 bytes/vector, 32× smaller than float64. The "
    "oracle replays all 16 training chains + the final assignment.",
    tags=("vectors", "quantize", "pq"),
    oracle=f"""
WITH {_CTE}
SELECT a0.vec_id, {_CODES_CONCAT} AS pq_codes
FROM {_CODE_JOINS}
ORDER BY a0.vec_id
""",
)
def embeddings_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    ensure_query_confs(spark)
    _, _, enc = _encoded_codes(spark, sf_dir)
    return enc.select(
        "vec_id",
        F.concat_ws(
            ",", F.transform(F.col("codes"), lambda c: c.cast("string"))
        ).alias("pq_codes"),
    ).orderBy("vec_id")


@register(
    "knn_pq_adc_top10",
    doc="PQ asymmetric-distance top-10 (SURVEY §3 F8): the query (vec_id 0, "
    "full precision) builds an M×k distance lookup table ONCE driver-side "
    "(the per-query 'small model' — 256 doubles); each corpus row's "
    "approximate distance is the left-fold Σ_m LUT[m][code_m] — literal "
    "array element_at per subspace, map-only scan, TakeOrderedAndProject "
    "top-k. This is exactly FAISS's IndexPQ search loop, declaratively. "
    "At 100 TB the codes table is the only thing scanned: 8 bytes/vector. "
    "bench (round 9): the graded row runs the 200 k-vector reduced-corpus "
    "twin on BOTH engines — same vec_id bound, same vec_id%3 training "
    "sample, same train→encode→ADC recipe; the twin oracle's minjoin/"
    "materialized argmin (value-identical to the window form, A/B'd) is "
    "what lets DuckDB finish, replacing the capped lower bound with a "
    "measured ratio (9.9 s at 200 k; the minjoin is superlinear in the "
    "corpus — see _BENCH_REPLICA_CAP's sizing record).",
    tags=("vectors", "knn", "quantize", "pq"),
    bench=True,
    bench_heavy=True,
    oracle=f"""
WITH {_CTE}
SELECT a0.vec_id, round({_ADC_SUM}, 6) AS adc_d2
FROM {_CODE_JOINS}{_LUT_JOINS}
WHERE a0.vec_id <> 0
ORDER BY adc_d2, a0.vec_id
LIMIT 10
""",
    bench_fn=lambda spark, sf_dir: _adc_top10(spark, sf_dir, _BENCH_VEC_BOUND),
    bench_oracle=f"""
WITH {pq_oracle_cte(
        m_sub=M_SUB,
        sub_dim=SUB_DIM,
        k=K_CODES,
        iterations=ITERS,
        where=f"vec_id < {_BENCH_VEC_BOUND}",
        train_mod_expr=_TRAIN_MOD_EXPR,
        argmin="minjoin",
    )}
SELECT a0.vec_id, round({_ADC_SUM}, 6) AS adc_d2
FROM {_CODE_JOINS}{_LUT_JOINS}
WHERE a0.vec_id <> 0
ORDER BY adc_d2, a0.vec_id
LIMIT 10
""",
)
def knn_pq_adc_top10(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _adc_top10(spark, sf_dir)


def _adc_top10(
    spark: SparkSession, sf_dir: str, vec_bound: int | None = None
) -> DataFrame:
    ensure_query_confs(spark)
    emb, books, enc = _encoded_codes(spark, sf_dir, vec_bound)
    qvec = cached_query_embedding(spark, sf_dir, vec_id=0)
    if qvec is None:  # no query vector: empty result, same as the oracle
        return spark.createDataFrame([], "vec_id long, adc_d2 double")
    luts = adc_luts(books, qvec, SUB_DIM)
    return (
        enc.filter(F.col("vec_id") != 0)
        .select("vec_id", adc_distance_col(luts, "codes").alias("adc_d2"))
        .orderBy("adc_d2", "vec_id")
        .limit(10)
    )
