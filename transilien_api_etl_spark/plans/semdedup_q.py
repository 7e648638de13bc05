"""Semantic dedup (SemDeDup) plans — SURVEY.md §3 F10/F8 composed.

Stage 1: fixed-iteration k-means over the embedding column
(``operators/kmeans.py``). Stage 2: pairwise cosine ONLY within a cluster,
drop every member that has a closer-than-τ smaller-id neighbour. The
cluster partitioning is what makes stage 2 scale: pair formation is bounded
by Σ cluster_size², not n² — the published SemDeDup recipe for trimming
web-scale pretraining corpora.

Both stages are fully oracle-checked: the k-means oracle unrolls Lloyd
iterations as CTEs (like the PageRank oracle), and the prune oracle extends
that chain with the same within-cluster self-join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from transilien_api_etl_spark.functions.vectors import l2_norm
from transilien_api_etl_spark.io import cached_row_count, load_table
from transilien_api_etl_spark.operators.kmeans import (
    kmeans_assign_model,
    kmeans_oracle_cte,
)
from transilien_api_etl_spark.operators.semdedup import within_cluster_survivors
from transilien_api_etl_spark.plans.registry import register
from transilien_api_etl_spark.session import ensure_query_confs

_K = 8
_ITERS = 2
_TAU = 0.25  # same near-dup cosine threshold as dedup_embedding_cosine

# The published SemDeDup recipe scales k with the corpus (its Σ size² bound
# is only a bound when clusters stay small relative to n): above the oracle
# domain the plan derives k = n / target. Fixed k=8 at 1 M vectors would
# form ~6·10¹⁰ within-cluster pairs — not a slow plan but a wrong one.
# Schedule choice, MEASURED at 1 M×64 (local[32], warm): assignment is
# Θ(n·k) and the prune Θ(Σ size²) ≈ Θ(n·target), so k = ⌈√n⌉ looks
# asymptotically optimal (Θ(n^1.5) balanced) — but the constants differ by
# an order of magnitude: assignment pays round+argmin memory traffic over
# the full n×k distance matrix while the prune is pure blocked DGEMM, and
# k=√n=1000 measured 44.5 s vs 15.6 s for k=n/4000=250. Both stages are
# one map pass + one keyed exchange, so the scale-out story is identical;
# the fixed-target schedule is simply the cheaper constant until n is
# orders of magnitude past the bench (at which point assignment itself
# needs ANN/hierarchical centroids, not a different k curve). Every driver
# SF stays at k = _K (the oracle's k — the switch threshold is
# n > _K·_TARGET_CLUSTER = 32 000 vs ≤ 2 000 vectors at sf0.1), so the
# unrolled-CTE oracle remains value-exact wherever the driver checks it.
_TARGET_CLUSTER = 4000

# Hard ceiling for the FLAT centroid schedule (VERDICT r7 task 6 — was
# prose, now arithmetic a caller actually hits). The assignment kernel
# ships all k centroids to every task and computes a full n×k distance
# block per batch: at k = n/_TARGET_CLUSTER and 64-dim float64 vectors,
# n = 10⁸ means k = 25 000 → a 12.8 MB centroid closure (tolerable) but a
# 10⁴-row Arrow batch already forms a 10⁴×25 000×8 B = 2 GB distance
# matrix PER BATCH, and Θ(n·k) = Θ(n²/4000) total FLOPs — the flat
# schedule has left its competitive regime an order of magnitude before
# that. Past this bound the published recipe is hierarchical/ANN centroid
# assignment (coarse k′≈√k quantizer first, then exact argmin within the
# shortlisted branch — the IVF pattern this repo already uses for search,
# operators/ivf.py); wiring that in is a design decision for a real 10⁹+
# corpus, so a caller there gets this named error instead of a silently
# exploding task.
_FLAT_ASSIGN_MAX_N = 100_000_000


def _derived_k(n: int) -> int:
    if n > _FLAT_ASSIGN_MAX_N:
        raise ValueError(
            f"SemDeDup flat k-means schedule refused at n={n}: "
            f"k=n/{_TARGET_CLUSTER}={n // _TARGET_CLUSTER} centroids would "
            "make the Θ(n·k) flat assignment the dominant cost "
            f"(> {_FLAT_ASSIGN_MAX_N} vectors needs a hierarchical/IVF "
            "coarse quantizer for assignment — see the schedule note above "
            "_TARGET_CLUSTER)"
        )
    return _K if n <= _K * _TARGET_CLUSTER else n // _TARGET_CLUSTER


# _derived_k below the flat-schedule ceiling as one SQL scalar subquery
# over the e CTE (DuckDB accepts it in LIMIT), for DERIVED_K_ORACLE.
_K_SQL = (
    f"(SELECT CASE WHEN count(*) <= {_K * _TARGET_CLUSTER} THEN {_K} "
    f"ELSE count(*)//{_TARGET_CLUSTER} END FROM e)"
)


def _kmeans_df(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, int, int]:
    emb = load_table(spark, sf_dir, "embeddings")
    n = cached_row_count(spark, sf_dir, "embeddings")
    k = _derived_k(n)
    km, centroids = kmeans_assign_model(
        emb, id_col="vec_id", vec_col="embedding", k=k, iterations=_ITERS,
        n_rows=n,
    )
    dim = len(centroids[0][1]) if centroids else 0
    return km, k, dim


@register(
    "embeddings_kmeans",
    doc="Fixed-iteration Lloyd k-means assignments over the embedding "
    "column (k=8, 2 iterations; SemDeDup stage 1): centroid argmin is a "
    "map-only Arrow matmul kernel over the current centroids, the "
    "per-iteration model "
    "update is one k·dim-row aggregate. Oracle unrolls the identical "
    "iterations as CTEs.",
    tags=("vectors", "clustering", "iterative", "dedup"),
    oracle=f"""
WITH {kmeans_oracle_cte(_K, _ITERS)}
SELECT vec_id, cluster, d2 FROM af ORDER BY vec_id
""",
)
def embeddings_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    ensure_query_confs(spark)
    km, _, _ = _kmeans_df(spark, sf_dir)
    return km.select("vec_id", "cluster", "d2").orderBy("vec_id")


# semdedup_survivors' oracle for any corpus size (its bench twin's SQL,
# bench.TWINS). The registered oracle fixes k = _K, the value _derived_k
# takes at every driver SF; this one derives k from the corpus count
# (_K_SQL), so at the scale path's sizes it runs the same k as the plan,
# and it materializes the norms once instead of per probed pair.
DERIVED_K_ORACLE = f"""
WITH {kmeans_oracle_cte(_K_SQL, _ITERS)},
afn AS MATERIALIZED (
  SELECT vec_id, v, cluster, sqrt(list_inner_product(v, v)) AS nrm FROM af)
SELECT a.vec_id, a.cluster
FROM afn a
WHERE NOT EXISTS (
  SELECT 1 FROM afn b
  WHERE b.cluster = a.cluster AND b.vec_id < a.vec_id
    AND round(list_inner_product(a.v, b.v) / (a.nrm * b.nrm), 6) >= {_TAU}
)
ORDER BY a.vec_id
"""


@register(
    "semdedup_survivors",
    doc="SemDeDup stage 2 (SURVEY §3 F10 scale path): within each k-means "
    "cluster, drop members with a cosine≥τ smaller-id neighbour (τ=0.25). "
    "Pair formation is cluster-bounded — Σ cluster_size², never n² — which "
    "is the property that survives a 100 TB corpus (k scales with n above "
    "the oracle's domain; see _TARGET_CLUSTER). Survivor set hash-checked "
    "against the unrolled-CTE oracle end-to-end at driver SFs. bench: "
    "graded through its bench.TWINS twin (embeddings reduced to whole "
    "scale-cache replicas, the same derived k on both engines) so the "
    "ratio is a measured number instead of the capped lower bound the "
    "full-corpus quadratic NOT EXISTS chain forced.",
    tags=("vectors", "dedup", "clustering"),
    bench=True,
    oracle=f"""
WITH {kmeans_oracle_cte(_K, _ITERS)}
SELECT a.vec_id, a.cluster
FROM af a
WHERE NOT EXISTS (
  SELECT 1 FROM af b
  WHERE b.cluster = a.cluster AND b.vec_id < a.vec_id
    AND round(list_inner_product(a.v, b.v) /
              (sqrt(list_inner_product(a.v, a.v)) *
               sqrt(list_inner_product(b.v, b.v))), 6) >= {_TAU}
)
ORDER BY a.vec_id
""",
)
def semdedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    ensure_query_confs(spark)
    km, k, dim = _kmeans_df(spark, sf_dir)
    if k > _K:
        # Scale path (outside the oracle's k=8 / bit-parity domain, which
        # no driver SF leaves): per-cluster gram-matrix prune in a grouped
        # Arrow kernel — one shuffle keyed by cluster, Σ size² BLAS FLOPs
        # instead of Σ size² interpreted HOF folds. The kernel emits
        # survivors directly; a dup-ids + anti-join shape would run the
        # Θ(n·k) assignment lineage twice (once per join side).
        return within_cluster_survivors(km, _TAU).orderBy("vec_id")
    km = km.withColumn("nrm", l2_norm(F.col("v")))
    # Lazy localCheckpoint before the self-join (round 12, guide §3.3/§5):
    # without it BOTH anti-join sides re-execute the whole assignment
    # lineage (scan → normalize → assign kernel → norm fold) — measured
    # sf0.1: 6.7 s → 1.7 s full-query with the checkpoint, survivor set
    # value-identical. Bounded by construction: this branch only runs at
    # k == _K, i.e. n ≤ _K·_TARGET_CLUSTER = 32 000 rows (~17 MB of
    # blocks), materialized inside the timed computation on every
    # invocation (nothing persists across runs; the blocks are released
    # by Spark's ContextCleaner when the frame is dropped). The scale
    # path above never self-joins — its kernel already holds the whole
    # cluster.
    km = km.localCheckpoint(eager=False)
    a = km.alias("a")
    b = km.alias("b")
    # ONE left-anti join with the whole dup predicate in the join
    # condition (round 11): "survivor" IS an anti-exists, and the
    # hash-join probe short-circuits a row at its FIRST qualifying
    # neighbour. Round 12 (guide §4.1/§1.2 "per-task work"): the per-pair
    # cosine is now an EXPLICIT string-form left fold
    # ((0.0 + a.v[0]*b.v[0]) + a.v[1]*b.v[1]) + … instead of the
    # aggregate(zip_with(…)) higher-order fold — HOFs are CodegenFallback,
    # so the old predicate interpreted ~64 boxed lambda steps per PROBED
    # PAIR (~250 k pairs at sf0.1); the scalar form compiles into the
    # join's generated code. Identical arithmetic: same left-to-right
    # double summation starting at 0.0 (the dot() fold order), same
    # round-half-up before the >= τ cut, NaN still ordered above every
    # value by the JVM comparison so NaN cosines stay on the dup side.
    # Measured sf0.1 (this round's probe): the anti-join action dropped
    # ~3.0 s → ~0.5 s; survivor set value-identical (driver oracle MATCH
    # at every SF re-proves it end-to-end). Out-of-contract ragged rows:
    # v[d] past the end yields NULL and poisons the product/sum to NULL
    # exactly as the zip_with pad did, except rows LONGER than dim, which
    # score on the first dim elements — outside the uniform-length data
    # contract either way.
    ip = "0.0D"
    for d in range(dim):
        ip = f"({ip} + (a.v[{d}] * b.v[{d}]))"
    cos_ge_tau = F.expr(f"round(({ip}) / (a.nrm * b.nrm), 6) >= {_TAU}")
    return (
        a.join(
            b,
            (F.col("a.cluster") == F.col("b.cluster"))
            & (F.col("b.vec_id") < F.col("a.vec_id"))
            & cos_ge_tau,
            "left_anti",
        )
        .select(F.col("a.vec_id").alias("vec_id"), F.col("a.cluster").alias("cluster"))
        .orderBy("vec_id")
    )
