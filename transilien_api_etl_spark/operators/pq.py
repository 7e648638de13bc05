"""Product quantization (PQ) for embedding columns — SURVEY.md §3 F8, the
top rung of the ANN memory ladder (M6).

PQ (Jégou et al., "Product Quantization for Nearest Neighbor Search",
TPAMI 2011 — the FAISS `PQMxlog2(k)` family) splits each d-dim vector
into M subvectors and vector-quantizes each subspace independently against
its own k-entry codebook: storage drops to M·log2(k) bits per vector (the
registered queries use M=16, k=16 → 16 × 4 bits = 8 bytes for a 64-dim
float vector, 32× smaller than float64), and search uses Asymmetric Distance
Computation: the query stays full-precision, a per-subspace lookup table
LUT[m][j] = d²(q_m, codebook_m[j]) is built ONCE per query (M·k entries,
driver-side — the same "small model state" contract as the k-means
centroids), and each corpus row's approximate distance is Σ_m
LUT[m][code_m] — one literal-array element_at per subspace, map-only.

Spark-first shape:
- training = FUSED Lloyd: all M subspace assignments evaluate in one
  Arrow pass and all M centroid updates land in one (m, cid, d) group-by
  — one Spark job per iteration regardless of M (see ``pq_train``);
- encoding = ONE fused scan: all M argmins evaluate per Arrow batch against
  the codebooks shipped in the task closure — no join, no shuffle,
  embarrassingly parallel;
- search = the ADC fold over the codes array — also map-only; the only
  wide node is the global top-k (TakeOrderedAndProject).

Determinism contract (same as operators/kmeans.py): init = first k
subvectors by id, d² rounded to 6 dp before argmin with cid tie-break,
centroid means rounded to 6 dp per update, LUT entries rounded to 6 dp,
ADC sum folds left-to-right. The argmin is the k-means one,
``functions.vectors.nearest_centroids``, whose matmul sums in a different
order than the DuckDB unrolled-CTE oracle's sequential fold; the 6-dp
rounding absorbs it, and the oracle MATCH at every testdata SF checks it
(tests/test_scale_arrow_paths.py).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from transilien_api_etl_spark.functions.vectors import (
    flatten_checked,
    nearest_centroids,
)
from transilien_api_etl_spark.operators.kmeans import ROUND_DP, _normalize

Codebook = list[tuple[int, list[float]]]


def pq_train(
    emb: DataFrame,
    *,
    id_col: str,
    vec_col: str,
    m_sub: int,
    sub_dim: int,
    k: int,
    iterations: int,
    sample_mod: int = 1,
    n_rows: int | None = None,
) -> list[Codebook]:
    """M subspace codebooks, trained FUSED: all M assignments evaluate in
    one Arrow pass per iteration (:func:`pq_codes_arrow` against the current
    codebooks) and all M centroid updates land in ONE (m, cid, d) group-by
    — so a full Lloyd iteration is a single Spark job regardless of M,
    versus M·(init+iterations) driver round-trips for M independent
    ``kmeans_fit`` runs (measured ~20× slower wall-clock at M=16). The
    per-(m,cid,d) means are identical to the independent runs, so the
    per-subspace unrolled-CTE oracle is unchanged. ``sample_mod > 1``
    trains on the deterministic ``pmod(id, sample_mod) = 0`` sample (see
    :func:`pq_train_sample_mod`) — codebook quality needs thousands of
    points per centroid, not the full corpus. The id-modulus predicate is
    deliberately PORTABLE (round 9): DuckDB cannot reproduce Spark's
    seed-42 xxhash64, and the reduced-corpus bench twin's oracle must
    train on the IDENTICAL sample for the two engines to run the same
    recipe; the scale cache's striding (vec_id = rep·2³³ + base) spreads
    any modulus across replicas and base ids alike."""
    from pyspark import StorageLevel

    df = _normalize(emb, id_col, vec_col)
    if sample_mod > 1:
        df = df.filter(F.pmod(F.col(id_col), F.lit(sample_mod)) == 0)
    # Widen single-split driver-SF scans before caching: each Lloyd
    # iteration evaluates the fused M-subspace assignment transform on
    # every cached row, and a 1-partition cache serializes that on one
    # task (measured sf0.1 headline walls: embeddings_pq_codes
    # 2.65→1.24 s, knn_pq_adc_top10 3.97→2.53 s — BASELINE.md round-11
    # session 5; no-op at scale — io.widen_small_scan).
    from transilien_api_etl_spark.io import widen_small_scan

    # n_rows is the CALLER's corpus count; what each iteration scans is the
    # sample, so the widen guard sees n_rows/sample_mod (round 12: tiny
    # inputs skip the exchange — see io.WIDEN_MIN_ROWS).
    df = widen_small_scan(
        emb.sparkSession, df, None if n_rows is None else n_rows // sample_mod
    )
    df = df.persist(StorageLevel.MEMORY_AND_DISK)

    init = df.orderBy(id_col).limit(k).select("v").collect()
    books: list[Codebook] = [
        [
            (cid, [float(x) for x in r["v"][m * sub_dim : (m + 1) * sub_dim]])
            for cid, r in enumerate(init)
        ]
        for m in range(m_sub)
    ]

    for _ in range(iterations):
        # Per-iteration assignment as ONE fused Arrow pass over the cached
        # sample (round 12, VERDICT r11 task 3 / guide §4.2): all M
        # subspace argmins evaluate as matmuls in one mapInArrow with the
        # vector riding along for the update, replacing the interpreted
        # transform-fold projection (CodegenFallback — M·k named_structs
        # per row evaluated boxed; measured ~0.54 s/iteration at a mere
        # 2 000×64 and multi-second at the 66 k-row twin sample). Codes
        # match the DuckDB oracle's on every testdata SF
        # (tests/test_scale_arrow_paths.py), so the per-(m,cid,d) means —
        # rounded to ROUND_DP — match too.
        enc = pq_codes_arrow(
            df, books, sub_dim, id_col=id_col, vec_col="v", keep_vec=True
        )
        ex = enc.select(
            F.col("v").alias("v0"), F.posexplode("codes").alias("m", "cid")
        )
        vals = ex.select(
            "m",
            "cid",
            F.posexplode(
                F.slice(F.col("v0"), F.col("m") * sub_dim + 1, F.lit(sub_dim))
            ).alias("d", "val"),
        )
        rows = (
            vals.groupBy("m", "cid", "d")
            .agg(F.round(F.avg("val"), ROUND_DP).alias("val"))
            .collect()  # m·k·sub_dim rows — the whole model update
        )
        by_m: dict[int, dict[int, dict[int, float]]] = {}
        for r in rows:
            by_m.setdefault(r["m"], {}).setdefault(r["cid"], {})[r["d"]] = r["val"]
        books = [
            [
                (cid, [dims[d] for d in sorted(dims)])
                for cid, dims in sorted(by_m.get(m, {}).items())
            ]
            for m in range(m_sub)
        ]

    df.unpersist()
    return books


def pq_train_sample_mod(n: int, target: int = 65536) -> int:
    """Training-sample modulus for an n-row corpus: keep ~``target`` rows
    via ``pmod(id, mod) = 0``. PQ codebooks (M=16, k=16) need
    thousands of points per centroid, not the corpus — FAISS trains
    IndexPQ on a bounded sample for exactly this reason — and each Lloyd
    iteration scans the training set, so training on a 1 M-row corpus pays
    2 full Lloyd passes for zero codebook-quality gain. mod=1 (train on
    everything) below 2·``target`` keeps every testdata SF training on the
    full corpus, like the registered oracle."""
    return max(1, n // target)


def pq_codes_arrow(
    df: DataFrame,
    books: list[Codebook],
    sub_dim: int,
    *,
    id_col: str,
    vec_col: str,
    keep_vec: bool = False,
) -> DataFrame:
    """Corpus encoding as an Arrow kernel: all M subspace argmins evaluate
    as (batch × sub_dim) @ (sub_dim × k) matmuls
    (``functions.vectors.nearest_centroids``, shared with k-means). It
    replaced an interpreted ``transform`` fold that evaluated M·k·sub_dim
    boxed ops per ROW — measured 80 s for the full knn_pq_adc query at
    1 M×64 vs ~8 s with this kernel, and 1.5 s vs 0.3 s for 2 000 rows.
    d² is rounded to ROUND_DP with a lowest-cid tie-break (codebooks are
    cid-sorted); only the float summation order differs from the DuckDB
    oracle (pairwise matmul vs sequential), and the codes match the
    oracle's on every testdata SF (tests/test_scale_arrow_paths.py; the
    registry's oracle MATCH re-proves it end-to-end). ``keep_vec=True``
    additionally passes the raw vector column through (the train loop
    posexplodes codes next to the vector for the centroid update — one
    Arrow pass, no join back). Output: (id_col, codes array<int>[,
    vec_col])."""
    encode = _pq_encode_kernel(
        books, sub_dim, id_col=id_col, vec_col=vec_col, keep_vec=keep_vec
    )
    id_type = df.schema[id_col].dataType.simpleString()  # int ids stay int
    schema = f"{id_col} {id_type}, codes array<int>"
    if keep_vec:
        schema += f", {vec_col} {df.schema[vec_col].dataType.simpleString()}"
    return df.select(id_col, vec_col).mapInArrow(encode, schema)


def _pq_encode_kernel(
    books: list[Codebook], sub_dim: int, *, id_col: str, vec_col: str,
    keep_vec: bool = False,
):
    """The mapInArrow generator behind :func:`pq_codes_arrow`, exposed at
    module level so tests can drive it with explicit batches (Spark elides
    0-row batches, so the empty-batch typing path is untestable through
    the DataFrame API alone)."""
    dim = len(books) * sub_dim

    def encode(batches):
        import pyarrow as pa

        argmin = nearest_centroids(books, sub_dim, ROUND_DP)
        for batch in batches:
            codes, _ = argmin(flatten_checked(batch.column(1), dim, vec_col))
            # Explicit list<int32> type: on an EMPTY batch pa.array([])
            # would infer null type and mismatch the declared array<int>
            # schema (the kmeans kernel's empty path stays typed because
            # its columns come from numpy; this one is a Python list of
            # rows). ADVICE r7.
            codes_pa = pa.array(list(codes), type=pa.list_(pa.int32()))
            arrays = [batch.column(0), codes_pa]
            names = [id_col, "codes"]
            if keep_vec:
                arrays.append(batch.column(1))
                names.append(vec_col)
            yield pa.RecordBatch.from_arrays(arrays, names)

    return encode


def adc_luts(books: list[Codebook], qvec: list[float], sub_dim: int) -> list[list[float]]:
    """Per-subspace distance lookup tables for query ``qvec``: LUT[m][cid]
    = round(d²(q_m, codebook_m[cid]), 6), computed driver-side with the
    same sequential left-fold arithmetic as ``list_inner_product``.

    Indexed BY CID, not by list position: when a cluster empties during
    training its cid vanishes from the codebook, leaving the surviving
    cids non-contiguous — a positional table would then map code c to a
    DIFFERENT centroid's distance. Holes are NaN; they are unreachable
    (the assignment argmin only ever emits surviving cids), so a NaN in
    the output is a loud signal of a codes/codebook mismatch rather than
    a silently-wrong distance."""

    def ip(a: list[float], b: list[float]) -> float:
        s = 0.0
        for x, y in zip(a, b):
            s += float(x) * float(y)
        return s

    luts: list[list[float]] = []
    for m, centroids in enumerate(books):
        q = [float(x) for x in qvec[m * sub_dim : (m + 1) * sub_dim]]
        qq = ip(q, q)
        by_cid = {
            cid: round(qq - 2 * ip(q, c) + ip(c, c), ROUND_DP)
            for cid, c in centroids
        }
        size = max(by_cid) + 1
        luts.append([by_cid.get(cid, float("nan")) for cid in range(size)])
    return luts


def adc_distance_col(luts: list[list[float]], codes_col: str) -> Column:
    """ADC distance Σ_m LUT[m][code_m], folded left-to-right and rounded —
    literal-array lookups only, no join."""
    total: Column | None = None
    for m, lut in enumerate(luts):
        arr = F.array(*[F.lit(float(x)) for x in lut])
        term = F.element_at(arr, F.get(F.col(codes_col), m) + 1)
        total = term if total is None else total + term
    return F.round(total, ROUND_DP)


def pq_oracle_cte(
    *,
    m_sub: int,
    sub_dim: int,
    k: int,
    iterations: int,
    round_dp: int = ROUND_DP,
    train_mod_expr: str | None = None,
    argmin: str = "window",
) -> str:
    """DuckDB CTE chain replicating train→encode→LUT per subspace.

    Exposes per-subspace CTEs ``af_m{m}(vec_id, cluster)`` (final code) and
    ``lut_m{m}(cid, d)`` (query-vs-codebook d², query = vec_id 0) — the
    same unroll-per-iteration honesty as kmeans_oracle_cte, ×M subspaces.

    ``train_mod_expr`` is an SQL expression (evaluated against CTE ``nn``,
    the corpus count ``n``) giving the training-sample modulus:
    when set, init + Lloyd iterations read only rows with
    ``vec_id % mod = 0`` — :func:`pq_train`'s sampled-training semantics —
    while the final encode and the query LUT still cover the full
    corpus, exactly like the Spark plan. Left at None the
    training CTEs scan everything (the driver-SF bit-parity domain).

    ``argmin`` picks the per-vector nearest-centroid formulation:
    ``"window"`` (the original ``row_number() OVER (PARTITION BY vec_id
    ORDER BY d2, cid)`` — the registered driver oracle, unchanged) or
    ``"minjoin"`` (per-vector ``min(d2)`` hash-aggregate joined back,
    then ``min(cid)`` over the tied rows — IDENTICAL values including the
    lowest-cid tie-break, value-verified A/B at 200 k vectors, ~4× faster
    because a hash aggregate replaces a sort of the n×k cross join; used
    by bench.py's reduced-corpus PQ twin, where the oracle should be DuckDB's
    BEST formulation of the same recipe — a faster denominator can only
    make Spark's graded ratio worse, so the comparison stays honest).
    ``minjoin`` also marks the shared/reused CTEs MATERIALIZED so the
    training chain isn't re-derived by every consumer.
    """

    if argmin not in ("window", "minjoin"):
        raise ValueError(f"argmin must be 'window' or 'minjoin', got {argmin!r}")
    minjoin = argmin == "minjoin"
    mat = " MATERIALIZED" if minjoin else ""

    def d2(vexpr: str, cexpr: str) -> str:
        return (
            f"round(list_inner_product({vexpr},{vexpr}) - "
            f"2*list_inner_product({vexpr},{cexpr}) + "
            f"list_inner_product({cexpr},{cexpr}), {round_dp})"
        )

    parts = []
    if train_mod_expr is not None:
        parts.append("""
nn AS (SELECT count(*) AS n FROM embeddings),""")
    for m in range(m_sub):
        lo, hi = m * sub_dim + 1, (m + 1) * sub_dim
        train_src = f"e_m{m}"
        parts.append(f"""
e_m{m} AS{mat} (SELECT vec_id, (embedding::DOUBLE[])[{lo}:{hi}] AS v
           FROM embeddings)""")
        if train_mod_expr is not None:
            train_src = f"es_m{m}"
            parts.append(f""",
es_m{m} AS{mat} (SELECT * FROM e_m{m}
            WHERE vec_id % (SELECT {train_mod_expr} FROM nn) = 0)""")
        parts.append(f""",
c0_m{m} AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cid, v
            FROM {train_src} ORDER BY vec_id LIMIT {k})""")
        for i in range(1, iterations + 1):
            if minjoin:
                parts.append(f""",
d{i}_m{m} AS MATERIALIZED (
  SELECT e.vec_id, c.cid, {d2("e.v", "c.v")} AS dd
  FROM {train_src} e, c{i - 1}_m{m} c),
a{i}_m{m} AS (
  SELECT d.vec_id, e.v, min(d.cid) AS cid
  FROM d{i}_m{m} d
  JOIN (SELECT vec_id, min(dd) AS mind FROM d{i}_m{m} GROUP BY vec_id) mi
    ON d.vec_id = mi.vec_id AND d.dd = mi.mind
  JOIN {train_src} e ON e.vec_id = d.vec_id
  GROUP BY d.vec_id, e.v),""")
            else:
                parts.append(f""",
a{i}_m{m} AS (
  SELECT vec_id, v, cid FROM (
    SELECT e.vec_id, e.v, c.cid,
      row_number() OVER (PARTITION BY e.vec_id
                         ORDER BY {d2("e.v", "c.v")}, c.cid) AS rn
    FROM {train_src} e, c{i - 1}_m{m} c) t WHERE rn = 1),""")
            parts.append(f"""
u{i}_m{m} AS (
  SELECT cid, d, round(avg(val), {round_dp}) AS val FROM (
    SELECT cid, unnest(v) AS val, generate_subscripts(v,1) AS d FROM a{i}_m{m}) t
  GROUP BY cid, d),
c{i}_m{m} AS{mat if i == iterations else ""} (SELECT cid, list(val ORDER BY d) AS v FROM u{i}_m{m} GROUP BY cid)""")
        if minjoin:
            parts.append(f""",
df_m{m} AS MATERIALIZED (
  SELECT e.vec_id, c.cid, {d2("e.v", "c.v")} AS dd
  FROM e_m{m} e, c{iterations}_m{m} c),
af_m{m} AS (
  SELECT d.vec_id, min(d.cid) AS cluster
  FROM df_m{m} d
  JOIN (SELECT vec_id, min(dd) AS mind FROM df_m{m} GROUP BY vec_id) mi
    ON d.vec_id = mi.vec_id AND d.dd = mi.mind
  GROUP BY d.vec_id),""")
        else:
            parts.append(f""",
af_m{m} AS (
  SELECT vec_id, cid AS cluster FROM (
    SELECT e.vec_id, c.cid,
      row_number() OVER (PARTITION BY e.vec_id
                         ORDER BY {d2("e.v", "c.v")}, c.cid) AS rn
    FROM e_m{m} e, c{iterations}_m{m} c) t WHERE rn = 1),""")
        parts.append(f"""
q_m{m} AS (SELECT v AS qv FROM e_m{m} WHERE vec_id = 0),
lut_m{m} AS (
  SELECT c.cid, {d2("q.qv", "c.v")} AS d
  FROM c{iterations}_m{m} c, q_m{m} q)""")
        if m < m_sub - 1:
            parts.append(",")
    return "".join(parts)
