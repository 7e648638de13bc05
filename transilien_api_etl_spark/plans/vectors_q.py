"""Vector/similarity-search plans — SURVEY.md §3 F8/F5 (M6).

Embedding-column analytics: exact cosine kNN (the oracle-checkable
baseline), array-function surface (norms/stats per vector), label
centroids, cosine near-dup pairs, and the LSH-bucketed ANN scale path —
hash-checked since round 3 via session-free md5-parity plane literals
that the DuckDB oracle inlines verbatim.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from transilien_api_etl_spark.functions.vectors import (
    cosine_from_norms,
    cosine_scores_arrow,
    cosine_similarity,
    dot,
    l2_norm,
)
from transilien_api_etl_spark.io import cached_query_embedding, load_table
from transilien_api_etl_spark.plans.registry import register
from transilien_api_etl_spark.session import ensure_query_confs

# Row-count guard for the deliberately-quadratic oracle twins: all-pairs
# joins exist to validate the LSH/ANN paths at test scale, never to run at
# corpus scale. Override consciously via SPARK_GRAFT_ALLOW_QUADRATIC=1.
MAX_QUADRATIC_ROWS = 200_000


def _guard_quadratic(df: DataFrame, name: str) -> None:
    if os.environ.get("SPARK_GRAFT_ALLOW_QUADRATIC") == "1":
        return
    n = df.count()
    if n > MAX_QUADRATIC_ROWS:
        raise ValueError(
            f"{name} is an all-pairs oracle twin (O(n²) join) and the input "
            f"has {n} rows (> {MAX_QUADRATIC_ROWS}). Use the LSH/ANN scale "
            "path (dedup_embedding_ann / lsh_ann_candidates), or set "
            "SPARK_GRAFT_ALLOW_QUADRATIC=1 to force."
        )

# DuckDB-side cosine between two DOUBLE[] expressions, same sequential-fold
# arithmetic as functions.vectors.cosine_similarity.
def _cos_sql(a: str, b: str) -> str:
    return (
        f"(list_inner_product({a}, {b}) / "
        f"(sqrt(list_inner_product({a}, {a})) * sqrt(list_inner_product({b}, {b}))))"
    )


_KNN_COS = _cos_sql("e.embedding::DOUBLE[]", "q.qv")


@register(
    "knn_cosine_top10",
    doc="Exact cosine kNN, query = embedding of vec_id 0, k=10 (SURVEY §3 "
    "F8): broadcast the 1-row query side, fold the dot product with "
    "higher-order fns (zip_with+aggregate) — JVM-side, no UDF. At 100 TB "
    "this is the re-rank stage after LSH candidate generation.",
    tags=("vectors", "knn"),
    bench=True,
    oracle=f"""
WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0)
SELECT e.vec_id, round({_KNN_COS}, 8) AS cos_sim
FROM embeddings e, q
WHERE e.vec_id <> 0
ORDER BY cos_sim DESC, e.vec_id
LIMIT 10
""",
)
def knn_cosine_top10(spark: SparkSession, sf_dir: str) -> DataFrame:
    ensure_query_confs(spark)
    emb = load_table(spark, sf_dir, "embeddings")
    # Kernel choice (round-3 re-A/B at 1 M×64, local[32] warm): the
    # Arrow-batched numpy scan (functions/vectors.cosine_scores_arrow)
    # measured 0.68 s vs 1.41 s for the broadcast-query HOF fold, with
    # EXACT-bit-identical scores (same sequential fold order over the
    # flattened values buffer). Round 2's matmul-style arrow kernel had
    # measured SLOWER (1.39 s vs 1.26 s) — the flattened-buffer +
    # sequential-accumulation form is what wins; see BASELINE.md.
    # Round 10 killed the last untried shape: unpacking to 64 scalar
    # columns at rest (zero list access, zero Arrow transfer) is
    # parity-to-worse with a stored norm and 3.7x worse with the norm
    # inline (128-term codegen blows the HotSpot JIT method limit) —
    # BASELINE.md "Round-10 (session 2): flat-column kNN layout".
    # Map-only into TakeOrderedAndProject; query vector is dim doubles
    # in the task closure.
    qvec = cached_query_embedding(spark, sf_dir, vec_id=0)
    if qvec is None:  # no query vector: empty result, same as the oracle
        return spark.createDataFrame([], "vec_id long, cos_sim double")
    qn = 0.0
    for x in qvec:  # same sequential fold as l2_norm
        qn += x * x
    qn = qn ** 0.5
    scored = cosine_scores_arrow(
        emb.filter(F.col("vec_id") != 0), qvec, qn,
        topk_prefilter=10, topk_round_dp=8,  # matches the F.round below
    )
    return (
        scored.select("vec_id", F.round("cos_sim", 8).alias("cos_sim"))
        .orderBy(F.desc("cos_sim"), "vec_id")
        .limit(10)
    )


@register(
    "embeddings_array_stats",
    doc="Array-function surface per vector (SURVEY §3 F5): length, L2 norm, "
    "element sum/min/max via higher-order folds — no explode, no shuffle.",
    tags=("vectors", "arrays"),
    oracle="""
SELECT vec_id,
       CAST(len(embedding) AS INTEGER) AS dim,
       round(sqrt(list_inner_product(embedding::DOUBLE[], embedding::DOUBLE[])), 8) AS l2,
       round(list_sum(embedding::DOUBLE[]), 8) AS el_sum,
       round(list_aggregate(embedding::DOUBLE[], 'min'), 8) AS el_min,
       round(list_aggregate(embedding::DOUBLE[], 'max'), 8) AS el_max
FROM embeddings ORDER BY vec_id
""",
)
def embeddings_array_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ensure_query_confs(spark)
    emb = load_table(spark, sf_dir, "embeddings")
    e = F.col("embedding")
    dbl = F.transform(e, lambda x: x.cast("double"))
    return (
        emb.select(
            "vec_id",
            F.size(e).cast("int").alias("dim"),
            F.round(l2_norm(e), 8).alias("l2"),
            F.round(F.aggregate(dbl, F.lit(0.0), lambda a, x: a + x), 8).alias("el_sum"),
            F.round(F.array_min(dbl), 8).alias("el_min"),
            F.round(F.array_max(dbl), 8).alias("el_max"),
        )
        .orderBy("vec_id")
    )


@register(
    "embeddings_centroids",
    doc="Per-label, per-dimension centroids (SURVEY §3 F5+A1): posexplode → "
    "hash agg. The partial-aggregate (map-side combine) keeps the exploded "
    "shuffle at |labels|×|dims| rows regardless of input size.",
    tags=("vectors", "agg"),
    oracle="""
SELECT label, i AS dim, round(avg(embedding[i]::DOUBLE), 6) AS centroid,
       count(*) AS n
FROM embeddings, generate_series(1, 64) AS t(i)
GROUP BY label, i ORDER BY label, dim
""",
)
def embeddings_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    ensure_query_confs(spark)
    emb = load_table(spark, sf_dir, "embeddings")
    return (
        emb.select("label", F.posexplode("embedding").alias("pos", "val"))
        .groupBy("label", (F.col("pos") + 1).cast("long").alias("dim"))
        .agg(
            F.round(F.avg(F.col("val").cast("double")), 6).alias("centroid"),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy("label", "dim")
    )


_PAIR_COS = _cos_sql("a.embedding::DOUBLE[]", "b.embedding::DOUBLE[]")


@register(
    "dedup_embedding_cosine",
    doc="Embedding-cosine near-dup pairs, τ=0.25 (SURVEY §3 F10 / BASELINE "
    "mandate): exact pairwise form — the correctness oracle for the LSH "
    "path. Quadratic by construction; at scale use lsh_ann_candidates and "
    "re-rank.",
    tags=("vectors", "dedup"),
    oracle_twin=True,
    oracle=f"""
SELECT a.vec_id AS id_a, b.vec_id AS id_b, round({_PAIR_COS}, 8) AS cos_sim
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE {_PAIR_COS} >= 0.25
ORDER BY id_a, id_b
""",
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    ensure_query_confs(spark)
    emb = load_table(spark, sf_dir, "embeddings")
    _guard_quadratic(emb, "dedup_embedding_cosine")
    # norms fold once per row (n folds) before the pair join, not per pair
    emb = emb.withColumn("nrm", l2_norm(F.col("embedding")))
    a = emb.alias("a")
    b = emb.alias("b")
    cos = cosine_from_norms(
        F.col("a.embedding"), F.col("b.embedding"), F.col("a.nrm"), F.col("b.nrm")
    )
    return (
        a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
        .filter(cos >= 0.25)
        .select(
            F.col("a.vec_id").alias("id_a"),
            F.col("b.vec_id").alias("id_b"),
            F.round(cos, 8).alias("cos_sim"),
        )
        .orderBy("id_a", "id_b")
    )


#: test-data embedding dimensionality (FIXTURES.md) — the literal planes
#: below are sized to it; a different corpus passes its own dim.
LSH_DIM = 64


def _lsh_plane_signs(n_bits: int, dim: int = LSH_DIM) -> list[list[float]]:
    """±1.0 hyperplane components from md5('<bit>:<dim>') parity —
    deterministic, computable WITHOUT a Spark session, so the DuckDB
    oracle inlines the very same planes (round 3 — was per-row seeded
    xxhash64, which DuckDB cannot reproduce)."""
    import hashlib

    return [
        [
            1.0 if hashlib.md5(f"{b}:{i}".encode()).digest()[0] % 2 == 0 else -1.0
            for i in range(dim)
        ]
        for b in range(n_bits)
    ]


def _lsh_bit_sql(plane: list[float], vec: str = "embedding") -> str:
    """Sign-bit of ⟨vec, plane⟩ as a Spark-SQL string: the fold replays
    functions/vectors.dot's sequential order (≡ DuckDB
    list_inner_product), and the whole expression is ONE string — no
    py4j chatter for the 2048 plane literals (same lesson as the PQ
    kernel).

    Guarded: if a row's vector length differs from the plane length,
    zip_with would null-pad and every sign-sum would go NULL — silently
    collapsing all buckets into one and degenerating the banded
    self-join to O(n²). raise_error on the first mismatched row instead
    (execution-time, no extra scan; a constant-true branch for
    conforming corpora, so dim-64 results and their hashes are
    unchanged)."""
    arr = ", ".join(f"{p!r}D" for p in plane)
    dim = len(plane)
    return (
        f"CASE WHEN size({vec}) <> {dim} THEN "
        f"CAST(raise_error(concat('LSH plane dim {dim} != embedding dim ', "
        f"CAST(size({vec}) AS STRING), ' — pass dim= to _lsh_candidate_pairs')) AS INT) "
        f"ELSE CAST(aggregate(zip_with({vec}, array({arr}), "
        "(x, y) -> CAST(x AS DOUBLE) * y), 0.0D, (acc, x) -> acc + x) > 0 "
        "AS INT) END"
    )




def _lsh_oracle_sql(n_bands: int, band_bits: int) -> str:
    """DuckDB twin of _lsh_candidate_pairs: identical inlined planes,
    identical sign bits (list_inner_product fold order ≡ the Spark
    aggregate), identical comma-joined band buckets and pair counts."""
    planes = _lsh_plane_signs(n_bands * band_bits)
    bit_cols = ", ".join(
        "CASE WHEN list_inner_product(v, ["
        + ", ".join(repr(x) for x in planes[b])
        + f"]) > 0 THEN 1 ELSE 0 END AS bit{b}"
        for b in range(n_bands * band_bits)
    )
    band_selects = " UNION ALL ".join(
        f"SELECT vec_id, {band} AS band, "
        + " || ',' || ".join(
            f"CAST(bit{band * band_bits + i} AS VARCHAR)"
            for i in range(band_bits)
        )
        + " AS bucket FROM sigs"
        for band in range(n_bands)
    )
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
sigs AS (SELECT vec_id, {bit_cols} FROM e),
banded AS ({band_selects})
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       CAST(count(*) AS BIGINT) AS n_shared_bands
FROM banded a
JOIN banded b ON a.band = b.band AND a.bucket = b.bucket AND a.vec_id < b.vec_id
GROUP BY 1, 2 ORDER BY id_a, id_b
"""


@register(
    "lsh_ann_candidates",
    doc="ANN scale path (SURVEY §3 F8): random-hyperplane (SimHash) LSH — "
    "sign of dot(embedding, md5-parity plane) per bit; 32 bits "
    "in 8 bands of 4, self-join per band bucket (OR-amplification: recall "
    "at cos=0.5 ≈ 1-(1-(2/3)^4)^8 ≈ 0.83 — measured in tests/"
    "test_lsh_recall.py). Candidate pairs only; re-rank with the exact "
    "kernel. HASH-CHECKED since round 3: the planes are session-free "
    "module literals, so the oracle inlines the same ±1 components and "
    "list_inner_product replays the sign bits exactly.",
    tags=("vectors", "lsh"),
    oracle=_lsh_oracle_sql(8, 4),
)
def lsh_ann_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    ensure_query_confs(spark)
    emb = load_table(spark, sf_dir, "embeddings")
    return _lsh_candidate_pairs(spark, emb, n_bands=8, band_bits=4).orderBy("id_a", "id_b")


def _lsh_candidate_pairs(
    spark: SparkSession,
    emb: DataFrame,
    n_bands: int,
    band_bits: int,
    dim: int = LSH_DIM,
) -> DataFrame:
    """Random-hyperplane LSH candidate pairs (id_a, id_b, n_shared_bands).

    plane(b)[i] ∈ {-1,+1} from md5 parity (module-level literals); sign of
    ⟨embedding, plane⟩ is bit b. Docs sharing any band bucket become
    candidates — a bucketed self-join, never all-pairs. A corpus with a
    different embedding dimensionality passes ``dim=``; a row whose
    vector length differs from ``dim`` raises at execution time (see
    _lsh_bit_sql) rather than degrading to a single-bucket cross join.
    """
    planes = _lsh_plane_signs(n_bands * band_bits, dim)
    bits = emb.select(
        "vec_id",
        *[
            F.expr(_lsh_bit_sql(planes[b])).alias(f"bit{b}")
            for b in range(n_bands * band_bits)
        ],
    )
    bands = []
    for band in range(n_bands):
        cols = [F.col(f"bit{band * band_bits + i}") for i in range(band_bits)]
        bands.append(
            bits.select(
                "vec_id",
                F.lit(band).alias("band"),
                F.concat_ws(",", *cols).alias("bucket"),
            )
        )
    banded = bands[0]
    for b in bands[1:]:
        banded = banded.unionByName(b)
    a, b = banded.alias("a"), banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .groupBy(F.col("a.vec_id").alias("id_a"), F.col("b.vec_id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("n_shared_bands"))
    )


@register(
    "dedup_embedding_ann",
    doc="Embedding near-dup at scale (SURVEY §3 F10/F8 composed): LSH "
    "candidate generation (16 bands × 2 bits — recall-amplified: miss "
    "probability at cos≥0.35 is (1-0.38²)^16 ≈ 9·10⁻⁴) → join back to the "
    "vectors → EXACT cosine re-rank, keep cos ≥ 0.35. The registered scale "
    "replacement for the gated quadratic dedup_embedding_cosine: cost is "
    "bucketed-join + |candidates|, not n². Oracle: the exact all-pairs SQL "
    "at the same τ — hash-equality holds iff LSH recall is complete on the "
    "checked corpus, so the driver check doubles as a 100%-recall assertion "
    "(see tests/test_lsh_recall.py for the floor at weaker banding).",
    tags=("vectors", "dedup", "lsh"),
    by_design="approximate-by-design: LSH ANN candidates graded against "
    "the EXACT all-pairs oracle; any divergence is missed-recall pairs, "
    "bounded by the CI-asserted 99.9% recall floor "
    "(tests/test_lsh_recall.py) — at sf0.1 the observed recall is 99.93% "
    "(4134/4137 pairs), so rows_match=false there is the documented "
    "probabilistic case, not a regression. Exact at driver correctness "
    "SFs (sf0.001/sf0.01: recall has measured 100% every round).",
    oracle=f"""
SELECT a.vec_id AS id_a, b.vec_id AS id_b, round({_PAIR_COS}, 8) AS cos_sim
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE {_PAIR_COS} >= 0.35
ORDER BY id_a, id_b
""",
)
def dedup_embedding_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    ensure_query_confs(spark)
    emb = load_table(spark, sf_dir, "embeddings")
    cands = _lsh_candidate_pairs(spark, emb, n_bands=16, band_bits=2).select("id_a", "id_b")
    nrm = l2_norm(F.col("embedding"))
    ea = emb.select(
        F.col("vec_id").alias("id_a"), F.col("embedding").alias("emb_a"), nrm.alias("nrm_a")
    )
    eb = emb.select(
        F.col("vec_id").alias("id_b"), F.col("embedding").alias("emb_b"), nrm.alias("nrm_b")
    )
    cos = cosine_from_norms(
        F.col("emb_a"), F.col("emb_b"), F.col("nrm_a"), F.col("nrm_b")
    )
    return (
        cands.join(ea, "id_a")
        .join(eb, "id_b")
        .filter(cos >= 0.35)
        .select("id_a", "id_b", F.round(cos, 8).alias("cos_sim"))
        .orderBy("id_a", "id_b")
    )


_CENT_COS = _cos_sql("cv", "qv")


@register(
    "knn_ivf_top10",
    doc="IVF-style ANN (SURVEY §3 F8 scale path, oracle-checked end-to-end): "
    "coarse cells keyed by label (stand-in for a trained k-means "
    "assignment), per-cell mean-vector centroids, probe the 2 cells whose "
    "centroids are nearest the query, exact cosine top-10 within probed "
    "cells only. At 100 TB the inverted lists are parquet partitions keyed "
    "by cell id — the probe prunes partitions before any scan.",
    tags=("vectors", "knn", "ivf"),
    oracle=f"""
WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
cent AS (
  SELECT label, list(c ORDER BY i) AS cv FROM (
    SELECT label, i, avg(embedding[i]::DOUBLE) AS c
    FROM embeddings, generate_series(1, 64) AS t(i)
    GROUP BY label, i)
  GROUP BY label),
probed AS (
  SELECT cent.label FROM cent, q
  ORDER BY {_CENT_COS} DESC, label LIMIT 2)
SELECT e.vec_id, round({_KNN_COS}, 8) AS cos_sim
FROM embeddings e JOIN probed USING (label), q
WHERE e.vec_id <> 0
ORDER BY cos_sim DESC, e.vec_id
LIMIT 10
""",
)
def knn_ivf_top10(spark: SparkSession, sf_dir: str) -> DataFrame:
    ensure_query_confs(spark)
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qv"), l2_norm(F.col("embedding")).alias("qn")
    )
    # per-cell centroids: posexplode → avg → rebuild ordered array
    cent = (
        emb.select("label", F.posexplode("embedding").alias("pos", "val"))
        .groupBy("label", "pos")
        .agg(F.avg(F.col("val").cast("double")).alias("c"))
        .groupBy("label")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "c"))), lambda s: s["c"]
            ).alias("cv")
        )
    )
    probed = (
        cent.crossJoin(F.broadcast(q))
        .orderBy(F.desc(cosine_similarity(F.col("cv"), F.col("qv"))), "label")
        .limit(2)
        .select("label")
    )
    cos = F.round(
        cosine_from_norms(
            F.col("embedding"), F.col("qv"), l2_norm(F.col("embedding")), F.col("qn")
        ),
        8,
    )
    return (
        emb.filter(F.col("vec_id") != 0)
        .join(F.broadcast(probed), "label")
        .crossJoin(F.broadcast(q))
        .select("vec_id", cos.alias("cos_sim"))
        .orderBy(F.desc("cos_sim"), "vec_id")
        .limit(10)
    )


@register(
    "fn_array_higher_order",
    doc="Higher-order array function surface (SURVEY §3 F5): filter (count "
    "of positive elements), exists (any element > 0.9), slice-head sum — "
    "all JVM-side lambdas, no UDF, no explode.",
    tags=("vectors", "arrays", "functions"),
    oracle="""
SELECT vec_id,
       CAST(len(list_filter(embedding::DOUBLE[], x -> x > 0)) AS INT) AS n_pos,
       len(list_filter(embedding::DOUBLE[], x -> x > 0.9)) > 0 AS has_big,
       round(list_sum((embedding::DOUBLE[])[1:8]), 8) AS head8_sum
FROM embeddings ORDER BY vec_id
""",
)
def fn_array_higher_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    ensure_query_confs(spark)
    emb = load_table(spark, sf_dir, "embeddings")
    dbl = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    return (
        emb.select(
            "vec_id",
            F.size(F.filter(dbl, lambda x: x > 0)).cast("int").alias("n_pos"),
            F.exists(dbl, lambda x: x > 0.9).alias("has_big"),
            F.round(
                F.aggregate(F.slice(dbl, 1, 8), F.lit(0.0), lambda a, x: a + x), 8
            ).alias("head8_sum"),
        )
        .orderBy("vec_id")
    )
