"""Vector similarity as pure column expressions (SURVEY.md §3 F8).

Higher-order functions (zip_with/aggregate) keep the dot product JVM-side —
no Python boundary, no UDF serialization. The fold is sequential
left-to-right in double precision, which matches DuckDB's list_inner_product
accumulation order, so oracle hashes agree to the last bit (rounded outputs
still recommended).

For 100 TB ANN, these exact kernels are the re-rank stage; candidate
generation goes through LSH bucketing (operators/similarity.py) so the
cross product never materializes.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    """Σ aᵢ·bᵢ in double precision, sequential fold."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine_similarity(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def cosine_from_norms(a: Column, b: Column, norm_a: Column, norm_b: Column) -> Column:
    """Cosine when each side's L2 norm is already a column.

    Join-shaped cosine work should precompute ``l2_norm`` per ROW before the
    join (n folds), not per PAIR after it (n·k folds): per-pair cost drops to
    a single dot fold. The final expression dot/(√Σa²·√Σb²) is bit-identical
    to :func:`cosine_similarity` when the norm columns come from
    :func:`l2_norm`, so DuckDB-oracle hash parity is preserved.
    """
    return dot(a, b) / (norm_a * norm_b)


def round_half_up(arr, dp: int):
    """numpy rounding with the JVM's tie behavior.

    ``np.round`` rounds half-to-EVEN; Spark's ``F.round`` (BigDecimal
    HALF_UP) and DuckDB's ``round`` round halves AWAY FROM ZERO. The Arrow
    kernels claim "same rounding, different summation order" vs their JVM
    twins, so they must not silently disagree on every odd 6-dp midpoint.
    Residual caveat: the scale-multiply ``|x|·10^dp`` itself rounds once
    in float64, so a value within 1 ULP of a midpoint can still differ
    from BigDecimal's decimal-string view — measure-zero in practice and
    strictly closer to the JVM than half-even."""
    import numpy as np

    scale = 10.0**dp
    return np.copysign(np.floor(np.abs(arr) * scale + 0.5), arr) / scale


def flatten_checked(vecs, dim: int, vec_col: str):
    """Flatten an Arrow list column to a dense float64 (n, dim) matrix,
    failing fast on NULL / ragged rows.

    ``ListArray.flatten()`` silently SKIPS null lists, so one NULL row
    would shift every later row's values (scores attributed to the wrong
    ids) and surface only as an unrelated-looking Arrow length error; a
    NULL element inside a list becomes a silent NaN; a wrong-dim row
    desyncs the reshape. Every Arrow vector kernel (the cosine scan, the
    k-means assignment, the SemDeDup prune) shares this one guard so the
    failure modes stay uniformly fail-fast."""
    import numpy as np

    if vecs.null_count:
        raise ValueError(
            f"{vec_col} contains {vecs.null_count} NULL embedding(s); "
            "filter them out before the cosine kernel"
        )
    flat_pa = vecs.flatten()
    if flat_pa.null_count:
        raise ValueError(
            f"{vec_col} contains {flat_pa.null_count} NULL "
            "element(s) inside embeddings; filter or impute them "
            "before the cosine kernel"
        )
    flat = np.asarray(flat_pa, dtype=np.float64)
    if flat.size != len(vecs) * dim:
        raise ValueError(
            f"{vec_col} rows are not uniformly {dim}-dimensional "
            f"({flat.size} values for {len(vecs)} rows)"
        )
    return flat.reshape(-1, dim)


def nearest_centroids(books, sub_dim: int, round_dp: int):
    """The rounded nearest-centroid argmin shared by the k-means assignment
    (one codebook over the whole vector) and PQ encoding (M codebooks, one
    per ``sub_dim``-wide subspace).

    ``books`` is a list of codebooks, each a cid-sorted list of
    ``(cid, centroid)``. Returns ``argmin(x) -> (codes, d2)`` for a dense
    (n, M·sub_dim) float64 matrix: per subspace, d² = v·v − 2·v·cᵀ + c·c is
    rounded half-up to ``round_dp`` and ``np.argmin`` takes the FIRST
    minimum, i.e. the lowest cid on ties — the same rounding and tie-break
    as the DuckDB oracles (``kmeans_oracle_cte``, ``pq_oracle_cte``). The
    summation order is the matmul's (pairwise), not the oracles' sequential
    ``list_inner_product`` fold; the 6-dp rounding absorbs the difference
    at sf0.001, sf0.01 and sf0.1 (oracle MATCH, tests/test_scale_arrow_paths.py).
    ``codes`` (n, M) int32 holds the chosen cids, ``d2`` (n, M) float64
    their rounded squared distances."""
    import numpy as np

    tables = []
    for centroids in books:
        c_mat = np.asarray(
            [c for _, c in centroids], dtype=np.float64
        ).reshape(-1, sub_dim)
        cids = np.asarray([cid for cid, _ in centroids], dtype=np.int32)
        tables.append((cids, c_mat, (c_mat * c_mat).sum(axis=1)))

    def argmin(x):
        n = len(x)
        rows = np.arange(n)
        codes = np.empty((n, len(tables)), dtype=np.int32)
        d2_min = np.empty((n, len(tables)), dtype=np.float64)
        for m, (cids, c_mat, cc) in enumerate(tables):
            xm = x[:, m * sub_dim : (m + 1) * sub_dim]
            vv = (xm * xm).sum(axis=1)
            d2 = round_half_up(
                vv[:, None] - 2.0 * (xm @ c_mat.T) + cc[None, :], round_dp
            )
            idx = np.argmin(d2, axis=1)
            codes[:, m] = cids[idx]
            d2_min[:, m] = d2[rows, idx]
        return codes, d2_min

    return argmin


def cosine_scores_arrow(
    df,
    qvec: list[float],
    qnorm: float,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out_col: str = "cos_sim",
    dim_transform=None,
    topk_prefilter: int | None = None,
    topk_round_dp: int = 8,
    keep_vec: bool = False,
):
    """Query-vs-corpus cosine as an Arrow-batched numpy kernel.

    ``keep_vec=True`` additionally emits the raw ``vec_col`` for the kept
    rows (selection-only passthrough — scores and selection are unchanged
    bits). This is the ANN candidate-generation shape: with
    ``topk_prefilter`` set, only ~k vectors per batch cross back to the
    JVM carrying their floats, so a downstream EXACT re-rank reads the
    candidates from the candidate stream itself instead of re-scanning
    the corpus for a join (knn_rerank_top10 — one corpus pass total).

    Replays ``cosine_from_norms``'s arithmetic in the same sequential
    dim-by-dim order on IEEE doubles (vectorized ACROSS rows over the
    flattened Arrow buffer), so scores are EXACT-bit identical to the JVM
    fold — callers keep their F.round/oracle contracts unchanged.

    ``dim_transform(values, d) -> values`` optionally maps each
    dimension's column of doubles before it enters the fold — this is
    the ONE shared copy of the order-sensitive loop; the SQ8 quantized
    scan (operators/quantize.sq8_cosine_arrow) passes its
    encode+dequant here rather than duplicating the kernel, so a future
    edit to the accumulation order cannot silently diverge the two
    bit-parity contracts (policed by tests/test_arrow_kernel_parity.py).

    Measured at 1 M×64 (local[32], warm): 0.68 s vs 1.41 s for the HOF
    fold. Round 2 measured the OPPOSITE (1.39 s arrow vs 1.26 s HOF) with
    a matmul-style kernel; the win here comes from (a) reading the
    flattened values buffer zero-copy instead of materializing per-row
    lists and (b) sequential per-dim accumulation, which both preserves
    fold order for parity AND avoids the matmul temporaries. Map-only; the
    query vector ships in the task closure (dim doubles)."""
    import numpy as np
    import pyarrow as pa

    q_arr = np.asarray(qvec, dtype=np.float64)
    qn = float(qnorm)
    dim = len(qvec)
    # Tie-safety margin for topk_prefilter, derived from the caller's
    # declared rounding precision: two full quanta at topk_round_dp
    # guarantees any dropped row's ROUNDED score is strictly below every
    # kept row's, so no id tie-break can promote it. Callers that round
    # coarser than the default 8 dp MUST pass their own topk_round_dp —
    # the margin is enforced here, not by a comment at the call site.
    tie_margin = 2.0 * 10.0 ** (-topk_round_dp)

    def score(batches):
        for batch in batches:
            vid = batch.column(0)
            vecs = batch.column(1)
            flat = flatten_checked(vecs, dim, vec_col)
            # One contiguous transpose up front: the per-dim accumulation
            # below then reads cache-line-friendly rows instead of
            # 512-byte-strided columns — measured 1.8× per batch at
            # 31 k×64, with the SAME values in the SAME order, so the
            # bit-parity contract is untouched (gated by
            # tests/test_arrow_kernel_parity.py).
            flat = np.ascontiguousarray(flat.T)
            dot_acc = None
            dd_acc = None
            for d in range(dim):
                col = flat[d]
                if dim_transform is not None:
                    col = dim_transform(col, d)
                t1 = col * q_arr[d]
                t2 = col * col
                dot_acc = t1 if dot_acc is None else dot_acc + t1
                dd_acc = t2 if dd_acc is None else dd_acc + t2
            cos = dot_acc / (np.sqrt(dd_acc) * qn)
            if (
                topk_prefilter is not None
                and len(cos) > topk_prefilter
                and not np.isnan(cos).any()
            ):
                # Per-batch top-k SUPERSET: only candidate rows cross
                # Arrow back to the JVM (1 M scored rows → ~k per batch),
                # where TakeOrderedAndProject still computes the exact
                # global top-k. The kept set is tie-safe under the
                # caller's topk_round_dp JVM rounding (see tie_margin
                # above). Scores themselves are emitted unchanged
                # (selection only), so the bit-parity contract is
                # untouched. NaN batches (zero-norm vectors) skip the
                # filter — NaN ordering is the JVM's call, not this
                # kernel's.
                kth = np.partition(cos, len(cos) - topk_prefilter)[
                    len(cos) - topk_prefilter
                ]
                keep = cos >= kth - tie_margin
                mask = pa.array(keep)
                vid = vid.filter(mask)
                if keep_vec:
                    vecs = vecs.filter(mask)
                cos = cos[keep]
            arrays = [vid, pa.array(cos)]
            names = [id_col, out_col]
            if keep_vec:
                arrays.append(vecs)
                names.append(vec_col)
            yield pa.RecordBatch.from_arrays(arrays, names)

    # Passthrough columns keep their input type: Spark reads the returned
    # Arrow column through the declared type (an int id declared long fails).
    id_type = df.schema[id_col].dataType.simpleString()
    out_schema = f"{id_col} {id_type}, {out_col} double"
    if keep_vec:
        out_schema += f", {vec_col} {df.schema[vec_col].dataType.simpleString()}"
    return df.select(id_col, vec_col).mapInArrow(score, out_schema)
