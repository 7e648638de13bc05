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
from transilien_api_etl_spark.session import ensure_query_confs

M_SUB = 16
SUB_DIM = 4
K_CODES = 16
ITERS = 2

_CTE = pq_oracle_cte(m_sub=M_SUB, sub_dim=SUB_DIM, k=K_CODES, iterations=ITERS)

def _encoded_codes(spark: SparkSession, sf_dir: str):
    """(embeddings df, (vec_id, codes) df) with the size-based training sample
    shared by both PQ queries, so encode and search can never diverge."""
    emb = load_table(spark, sf_dir, "embeddings")
    n = cached_row_count(spark, sf_dir, "embeddings")
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


# The ADC top-10 over pq_oracle_cte's codes and LUTs, shared by the
# registered oracle and SAMPLED_ORACLE.
_ADC_TOP10 = f"""SELECT a0.vec_id, round({_ADC_SUM}, 6) AS adc_d2
FROM {_CODE_JOINS}{_LUT_JOINS}
WHERE a0.vec_id <> 0
ORDER BY adc_d2, a0.vec_id
LIMIT 10
"""

# knn_pq_adc_top10's oracle for any corpus size (its bench twin's SQL,
# bench.TWINS). The registered oracle trains on every vector, which is
# pq_train_sample_mod's value at every driver SF; this one samples
# training by the same modulus (pq_train_sample_mod(n) as SQL over CTE
# nn's count n) and uses the minjoin argmin — value-identical to the
# window form, ~4× faster.
SAMPLED_ORACLE = f"""
WITH {pq_oracle_cte(
        m_sub=M_SUB,
        sub_dim=SUB_DIM,
        k=K_CODES,
        iterations=ITERS,
        train_mod_expr="greatest(n//65536, 1)",
        argmin="minjoin",
    )}
{_ADC_TOP10}"""


@register(
    "knn_pq_adc_top10",
    doc="PQ asymmetric-distance top-10 (SURVEY §3 F8): the query (vec_id 0, "
    "full precision) builds an M×k distance lookup table ONCE driver-side "
    "(the per-query 'small model' — 256 doubles); each corpus row's "
    "approximate distance is the left-fold Σ_m LUT[m][code_m] — literal "
    "array element_at per subspace, map-only scan, TakeOrderedAndProject "
    "top-k. This is exactly FAISS's IndexPQ search loop, declaratively. "
    "At 100 TB the codes table is the only thing scanned: 8 bytes/vector. "
    "bench: graded through its bench.TWINS twin (embeddings reduced to "
    "whole scale-cache replicas, the same sampled training on both "
    "engines) so the ratio is measured, not a capped lower bound.",
    tags=("vectors", "knn", "quantize", "pq"),
    bench=True,
    oracle=f"""
WITH {_CTE}
{_ADC_TOP10}""",
)
def knn_pq_adc_top10(spark: SparkSession, sf_dir: str) -> DataFrame:
    ensure_query_confs(spark)
    emb, books, enc = _encoded_codes(spark, sf_dir)
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
