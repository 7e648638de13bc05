"""Fixed-iteration Lloyd k-means over an embedding column (SemDeDup stage 1).

Semantic dedup (Abbas et al., "SemDeDup", 2023) prunes near-duplicate
training examples by (1) clustering embeddings with k-means and (2)
comparing pairs only WITHIN a cluster — turning an O(n²) all-pairs cosine
into O(Σ cluster_size²). This module is stage 1; the within-cluster prune
is composed in ``plans/semdedup_q.py``.

Spark-first shape: the per-row work is one Arrow kernel over the
centroids shipped in the task closure (no join, no shuffle, map-only
— the assignment stage is embarrassingly parallel at 100 TB); the only
shuffle per iteration is the k×dim centroid re-average, whose result (k·dim
rows, a few KB) is the one legitimately driver-held piece of state —
exactly how Spark MLlib's own KMeans treats centroids. Determinism
contract for cross-engine oracles: init = the k vectors with smallest id
(cid in id order), squared distances rounded to 6 decimals before argmin
with cid as tie-break, centroid means rounded to 6 decimals each update.
The assignment is ``functions.vectors.nearest_centroids`` — PQ's encoder
with one subspace — so rounding and tie-break match DuckDB's
``kmeans_oracle_cte`` by construction, but the summation order is the
matmul's, not ``list_inner_product``'s sequential fold: parity is not
bit-parity by construction and rests on the oracle MATCH at every testdata
SF (tests/test_scale_arrow_paths.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from transilien_api_etl_spark.functions.vectors import (
    flatten_checked,
    nearest_centroids,
)

ROUND_DP = 6


def _assign_arrow_df(
    df: DataFrame, centroids: list[tuple[int, list[float]]], id_col: str
) -> DataFrame:
    """Nearest-centroid assignment, one matmul per Arrow batch. Input must
    be ``(id_col, v)`` with ``v`` a uniform array<double>; output is
    ``(id_col, v, cluster, d2)``, with ``v`` passed through the kernel so
    downstream per-cluster work (the SemDeDup prune) needs no join back to
    the corpus."""
    dim = len(centroids[0][1])

    def assign(batches):
        import pyarrow as pa

        argmin = nearest_centroids([centroids], dim, ROUND_DP)
        for batch in batches:
            vecs = batch.column(1)
            codes, d2 = argmin(flatten_checked(vecs, dim, "v"))
            yield pa.RecordBatch.from_arrays(
                [batch.column(0), vecs, pa.array(codes[:, 0]), pa.array(d2[:, 0])],
                [id_col, "v", "cluster", "d2"],
            )

    id_type = df.schema[id_col].dataType.simpleString()
    return df.select(id_col, "v").mapInArrow(
        assign, f"{id_col} {id_type}, v array<double>, cluster int, d2 double"
    )


def _normalize(emb: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    return emb.select(
        F.col(id_col),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("v"),
    )


def kmeans_fit(
    emb: DataFrame, *, id_col: str, vec_col: str, k: int, iterations: int,
    n_rows: int | None = None,
) -> list[tuple[int, list[float]]]:
    """Run ``iterations`` Lloyd steps and return the FINAL centroids —
    the driver-held model, e.g. as a PQ codebook (operators/pq.py).
    ``n_rows``, when the caller knows it, lets the widen guard skip the
    round-robin exchange on tiny inputs (io.WIDEN_MIN_ROWS)."""
    df = _normalize(emb, id_col, vec_col)
    # Single-row-group driver SFs plan ONE input split: widen so the
    # assignment/update map work uses every core instead of one task
    # (io.widen_small_scan — guarded no-op at scale, measured round 11;
    # size-gated round 12: at <1e5 rows the exchange costs more than the
    # single-task work).
    from transilien_api_etl_spark.io import widen_small_scan

    df = widen_small_scan(emb.sparkSession, df, n_rows)
    # Cache the normalized vectors across Lloyd iterations (the MLlib
    # pattern): every iteration re-reads df; without this each one re-scans
    # parquet and re-casts v. MEMORY_AND_DISK so a 100 TB input degrades
    # to spill, never OOM. Released before returning — the final returned
    # plan recomputes from the scan, callers cache if they iterate further.
    from pyspark import StorageLevel

    df = df.persist(StorageLevel.MEMORY_AND_DISK)

    init = (
        df.orderBy(id_col)
        .limit(k)
        .select(id_col, "v")
        .collect()  # k rows of driver-held model state, by design
    )
    centroids = [(cid, list(r["v"])) for cid, r in enumerate(init)]

    for _ in range(iterations):
        assigned = _assign_arrow_df(df, centroids, id_col).select(
            "cluster", F.posexplode("v").alias("d", "val")
        )
        rows = (
            assigned.groupBy("cluster", "d")
            .agg(F.round(F.avg("val"), ROUND_DP).alias("val"))
            .collect()  # k·dim rows — the centroid model update
        )
        by_cid: dict[int, dict[int, float]] = {}
        for r in rows:
            by_cid.setdefault(r["cluster"], {})[r["d"]] = r["val"]
        centroids = [
            (cid, [dims[d] for d in sorted(dims)])
            for cid, dims in sorted(by_cid.items())
        ]

    df.unpersist()
    return centroids


def kmeans_assign(
    emb: DataFrame, *, id_col: str, vec_col: str, k: int, iterations: int,
    n_rows: int | None = None,
) -> DataFrame:
    """Run ``iterations`` Lloyd steps, return (id, cluster, d2) assignments.

    ``emb`` needs an integer id column and an array<numeric> vector column of
    uniform length. Empty clusters are dropped (both here and in the SQL
    oracle — the same rows vanish from the update group-by on both engines).
    """
    df, _ = kmeans_assign_model(
        emb, id_col=id_col, vec_col=vec_col, k=k, iterations=iterations,
        n_rows=n_rows,
    )
    return df


def kmeans_assign_model(
    emb: DataFrame, *, id_col: str, vec_col: str, k: int, iterations: int,
    n_rows: int | None = None,
) -> tuple[DataFrame, list[tuple[int, list[float]]]]:
    """:func:`kmeans_assign` plus the fitted centroids — for consumers that
    need the model's shape (e.g. the SemDeDup prune derives the vector dim
    for its codegen-able pair predicate from ``centroids[0]``) without a
    second fit."""
    centroids = kmeans_fit(
        emb, id_col=id_col, vec_col=vec_col, k=k, iterations=iterations,
        n_rows=n_rows,
    )
    from transilien_api_etl_spark.io import widen_small_scan

    df = widen_small_scan(emb.sparkSession, _normalize(emb, id_col, vec_col), n_rows)
    return _assign_arrow_df(df, centroids, id_col), centroids


def kmeans_oracle_cte(
    k: int | str,
    iterations: int,
    round_dp: int = ROUND_DP,
) -> str:
    """The DuckDB CTE chain computing the identical assignment.

    Unrolled per iteration (recursive CTEs cannot re-aggregate per step —
    same honesty argument as the PageRank oracle). Exposes the final
    assignment as CTE ``af(vec_id, v, cluster, d2)``.

    ``k`` may be an SQL expression (e.g. a scalar subquery over CTE ``e``
    mirroring the derived-k schedule) — DuckDB accepts subqueries in
    LIMIT, which is what lets ONE static oracle follow the Spark plan's
    k at every corpus size (bench.py's SemDeDup twin).
    """

    def d2(vexpr: str, cexpr: str) -> str:
        return (
            f"round(list_inner_product({vexpr},{vexpr}) - "
            f"2*list_inner_product({vexpr},{cexpr}) + "
            f"list_inner_product({cexpr},{cexpr}), {round_dp})"
        )

    parts = [
        f"""
e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
c0 AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cid, v
       FROM e ORDER BY vec_id LIMIT {k})"""
    ]
    for i in range(1, iterations + 1):
        parts.append(f""",
a{i} AS (
  SELECT vec_id, v, cid FROM (
    SELECT e.vec_id, e.v, c.cid,
      row_number() OVER (PARTITION BY e.vec_id
                         ORDER BY {d2("e.v", "c.v")}, c.cid) AS rn
    FROM e, c{i - 1} c) t WHERE rn = 1),
u{i} AS (
  SELECT cid, d, round(avg(val), {round_dp}) AS val FROM (
    SELECT cid, unnest(v) AS val, generate_subscripts(v,1) AS d FROM a{i}) t
  GROUP BY cid, d),
c{i} AS (SELECT cid, list(val ORDER BY d) AS v FROM u{i} GROUP BY cid)""")
    parts.append(f""",
af AS (
  SELECT vec_id, v, cid AS cluster, dd AS d2 FROM (
    SELECT e.vec_id, e.v, c.cid, {d2("e.v", "c.v")} AS dd,
      row_number() OVER (PARTITION BY e.vec_id
                         ORDER BY {d2("e.v", "c.v")}, c.cid) AS rn
    FROM e, c{iterations} c) t WHERE rn = 1)""")
    return "".join(parts)
