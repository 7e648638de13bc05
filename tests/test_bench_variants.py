"""Bench-twin contract (bench.TWINS, SURVEY §3.12f).

A twin is the changed copy of a graded row that bench.py's scale phase
times in place of the registered query: the registered fn and oracle over
declared input-table transforms (Amplify, Below), or an explicit (fn, sql)
pair. The contract that keeps the graded ratio honest:

1. both engines apply the same twin: on sf0.001 and sf0.01 the Spark twin
   returns the DuckDB twin's rows;
2. a Below twin is the registered query on driver testdata (every key is
   below KEY_STRIDE there), and on a copy strided like scale.py it does
   remove rows while parity still holds;
3. every TWINS and HEAVY_ROWS row is a bench row with an oracle.

The generic tests run over every TWINS entry; the row-specific tests below
them pin the known relations of individual twins (scaled sums of the
amplified rows, the kNN replica expansion).
"""

from __future__ import annotations

import dataclasses

import pandas as pd
import pyspark.sql.functions as F
import pytest

import bench
import transilien_api_etl_spark.plans  # noqa: F401 — populate REGISTRY
from transilien_api_etl_spark import io as io_mod
from transilien_api_etl_spark.io import load_table
from transilien_api_etl_spark.plans.quantize_q import RERANK_CANDIDATES
from transilien_api_etl_spark.plans.registry import REGISTRY
from transilien_api_etl_spark.scale import KEY_STRIDE, _scale_table

from .conftest import SF_ORACLE, SF_SMOKE

TWIN_ROWS = sorted(bench.TWINS)
BELOW_ROWS = sorted(
    n for n, t in bench.TWINS.items()
    if any(isinstance(x, bench.Below) for x in t.tables.values())
)
KNN_ROWS = ["knn_sq8_top10", "knn_rerank_top10"]
N = bench.KNN_AMPLIFY

# Sums of doubles over ×N rows add in a different order on each engine, so
# a sum rounded to 2 dp may land a cent or two apart; every other value of
# every twin matches exactly.
_SUM_TOL = {"q1_pricing_summary": 0.02, "events_tumbling_1h": 0.02}


@pytest.fixture(scope="module")
def duck_at():
    cons = {}

    def get(sf_dir):
        if sf_dir not in cons:
            cons[sf_dir] = bench._duck_connect(sf_dir)
        return cons[sf_dir]

    yield get
    for con in cons.values():
        con.close()


def _spark_twin(spark, name, sf_dir, twins=True) -> pd.DataFrame:
    fn, _, tables = bench.timed_query(name, REGISTRY[name], twins)
    with bench.twin_inputs(sf_dir, tables):
        return fn(spark, sf_dir).toPandas()


def _duck_twin(con, name, sf_dir, twins=True) -> pd.DataFrame:
    _, sql, tables = bench.timed_query(name, REGISTRY[name], twins)
    with bench.twin_inputs(sf_dir, tables, con):
        return con.execute(bench._hoist_qvec(name, sql)).df()


def _naive_utc(v):
    # DuckDB reads Spark-written (UTC-adjusted) parquet timestamps as
    # TIMESTAMPTZ; Spark hands back naive UTC ones.
    if isinstance(v, pd.Timestamp) and v.tzinfo is not None:
        return v.tz_convert("UTC").tz_localize(None)
    return v


def _rows(pdf: pd.DataFrame, cols) -> list[tuple]:
    return [tuple(map(_naive_utc, r)) for r in pdf[cols].itertuples(index=False)]


def _assert_same_rows(got: pd.DataFrame, want: pd.DataFrame, tol: float = 0.0):
    """Same columns and the same rows in the same (ORDER BY) order; floats
    equal, or closer than ``tol`` when it is set; NULL/NaN equal to each
    other."""
    assert sorted(got.columns) == sorted(want.columns)
    cols = list(got.columns)
    a, b = _rows(got, cols), _rows(want, cols)
    assert len(a) == len(b)
    for ra, rb in zip(a, b):
        for x, y in zip(ra, rb):
            if pd.isna(x) or pd.isna(y):
                assert pd.isna(x) and pd.isna(y), (ra, rb)
            elif isinstance(x, float) or isinstance(y, float):
                x, y = float(x), float(y)
                assert abs(x - y) < tol if tol else x == y, (ra, rb)
            else:
                assert x == y, (ra, rb)


# ---- generic tests over TWINS -------------------------------------------


# Twin rows that are not HEAVY_ROWS: the amplified rows (both engines
# replicate the input so the graded walls clear the jitter floor) and the
# oracle-side reductions (light Spark walls, but 5-85 s DuckDB oracles on
# the scale cache).
_LIGHT_VARIANTS = {
    "knn_rerank_top10",
    "knn_sq8_top10",
    "docs_word_freq_top20",
    "docs_token_stats",
    "q1_pricing_summary",
    "events_tumbling_1h",
    "events_sessionize",
    "asof_join_purchase_click",
    "window_rolling_avg",
    "docs_segment_dedup",
    "pretrain_corpus_report",
}


def test_variant_rows_are_heavy_bench_rows():
    """Every TWINS and HEAVY_ROWS row is a bench row with an oracle (the
    scale phase only times bench rows, and a ratio needs a denominator);
    a twin that replaces the Spark fn also replaces the SQL, or the ratio
    compares different computations."""
    assert bench.HEAVY_ROWS and bench.TWINS
    for name in set(bench.TWINS) | bench.HEAVY_ROWS:
        spec = REGISTRY[name]
        assert spec.bench and spec.oracle, name
    for name, twin in bench.TWINS.items():
        assert name in bench.HEAVY_ROWS or name in _LIGHT_VARIANTS, name
        assert twin.fn is None or twin.sql is not None, name
        assert twin.tables or twin.fn is not None, name
        assert bench.describe_twin(twin)


def _assert_twin_parity(spark, duck_at, name, sf_dir) -> pd.DataFrame:
    got = _spark_twin(spark, name, sf_dir)
    want = _duck_twin(duck_at(sf_dir), name, sf_dir)
    assert len(got) > 0
    _assert_same_rows(got, want, _SUM_TOL.get(name, 0.0))
    return got


@pytest.mark.parametrize("sf_dir", [SF_SMOKE, SF_ORACLE])
@pytest.mark.parametrize("name", TWIN_ROWS)
def test_spark_twin_equals_duckdb_twin(spark, duck_at, name, sf_dir):
    _assert_twin_parity(spark, duck_at, name, sf_dir)


@pytest.mark.parametrize("sf_dir", [SF_SMOKE, SF_ORACLE])
@pytest.mark.parametrize("name", BELOW_ROWS)
def test_below_twin_is_the_registered_query_on_driver_data(
    spark, duck_at, name, sf_dir
):
    assert _spark_twin(spark, name, sf_dir).equals(
        _spark_twin(spark, name, sf_dir, twins=False)
    )
    con = duck_at(sf_dir)
    assert _duck_twin(con, name, sf_dir).equals(
        _duck_twin(con, name, sf_dir, twins=False)
    )


# Rows kept from each source table before striding: enough for every twin
# to return rows, few enough that the replicated copy stays small.
_STRIDED_ROWS = {"events": 200, "documents": 40, "embeddings": 20}


@pytest.fixture(scope="module")
def strided_dir(spark, tmp_path_factory):
    """A copy of sf0.001's Below tables replicated by scale.py, with one
    replica more than the largest bound keeps, so every Below drops one."""
    base = tmp_path_factory.mktemp("strided")
    src, out = str(base / "src"), str(base / "strided")
    for table, n_rows in _STRIDED_ROWS.items():
        load_table(spark, SF_SMOKE, table).limit(n_rows).write.parquet(
            f"{src}/{table}.parquet"
        )
        replicas = 1 + max(
            t.bound // KEY_STRIDE
            for tw in bench.TWINS.values()
            for name, t in tw.tables.items()
            if name == table and isinstance(t, bench.Below)
        )
        _scale_table(spark, src, table, replicas, partitions=4).write.parquet(
            f"{out}/{table}.parquet"
        )
    return out


@pytest.mark.parametrize("name", BELOW_ROWS)
def test_below_bites_on_strided_copy_and_parity_holds(
    spark, duck_at, strided_dir, name
):
    (table, below), = bench.TWINS[name].tables.items()
    full = load_table(spark, strided_dir, table)
    with io_mod.table_transforms(strided_dir, {table: below}):
        kept = load_table(spark, strided_dir, table)
        assert 0 < kept.count() < full.count()
        plan = kept._jdf.queryExecution().executedPlan().toString()
        assert f"LessThan({below.col},{below.bound})" in plan
    got = _spark_twin(spark, name, strided_dir)
    want = _duck_twin(duck_at(strided_dir), name, strided_dir)
    assert len(got) > 0
    _assert_same_rows(got, want)


# ---- row-specific checks ------------------------------------------------


@pytest.mark.parametrize("name", ["docs_minhash_candidates"])
def test_bench_py_selects_variant_only_in_variant_mode(spark, name):
    """time_spark applies a row's TWINS transforms only in twin mode."""
    seen = []

    class _Rows:
        def count(self):
            return 0

    def probe(spark_, sf_dir):
        seen.append(io_mod._table_transform(sf_dir, "documents"))
        return _Rows()

    spec = dataclasses.replace(REGISTRY[name], fn=probe)
    bench.time_spark({name: spec}, spark, SF_SMOKE, twins=True)
    n_twin = len(seen)
    bench.time_spark({name: spec}, spark, SF_SMOKE, twins=False)
    below = bench.TWINS[name].tables["documents"]
    assert seen[:n_twin] == [below] * n_twin
    assert seen[n_twin:] and set(seen[n_twin:]) == {None}
    assert io_mod._table_transform(SF_SMOKE, "documents") is None


def test_minhash_bench_fn_identical_on_driver_corpus(spark):
    name = "docs_minhash_candidates"
    got = _spark_twin(spark, name, SF_SMOKE)
    assert len(got) > 0 and got.equals(_spark_twin(spark, name, SF_SMOKE, False))


def test_minhash_bench_oracle_identical_on_driver_corpus(duck_at):
    name, con = "docs_minhash_candidates", duck_at(SF_ORACLE)
    assert _duck_twin(con, name, SF_ORACLE).equals(
        _duck_twin(con, name, SF_ORACLE, twins=False)
    )


def _assert_whole_replica_bound(name, table, col, replicas):
    below = bench.TWINS[name].tables[table]
    assert below == bench.Below(col, replicas * KEY_STRIDE)
    assert f"WHERE {col} < {replicas * KEY_STRIDE}" in below.sql("t")


def test_minhash_bench_oracle_embeds_same_bound():
    _assert_whole_replica_bound("docs_minhash_candidates", "documents", "doc_id", 25)


_R9_TWINS = ["semdedup_survivors", "knn_pq_adc_top10"]


@pytest.mark.parametrize("name", _R9_TWINS)
def test_r9_twin_bench_fn_identical_on_driver_corpus(spark, name):
    got = _spark_twin(spark, name, SF_SMOKE)
    assert len(got) > 0 and got.equals(_spark_twin(spark, name, SF_SMOKE, False))


@pytest.mark.parametrize("name", _R9_TWINS)
def test_r9_twin_bench_oracle_identical_on_driver_corpus(duck_at, name):
    con = duck_at(SF_ORACLE)
    assert _duck_twin(con, name, SF_ORACLE).equals(
        _duck_twin(con, name, SF_ORACLE, twins=False)
    )


def test_r9_twin_bench_oracles_embed_their_bounds():
    _assert_whole_replica_bound("semdedup_survivors", "embeddings", "vec_id", 48)
    _assert_whole_replica_bound("knn_pq_adc_top10", "embeddings", "vec_id", 100)


def test_r9_twin_bound_bites_and_pushes_down(spark, tmp_path):
    """On a corpus with scale.py's replica stride, the SemDeDup twin keeps
    exactly the replicas below its bound, the derived k follows the
    FILTERED count, and the bound reaches the parquet scan."""
    from transilien_api_etl_spark.plans import semdedup_q

    emb = (
        spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
        .limit(10)
        .crossJoin(
            F.broadcast(spark.range(0, 200, 99).select(F.col("id").alias("rep")))
        )
        .select(
            (F.col("vec_id") + F.col("rep") * F.lit(KEY_STRIDE)).alias("vec_id"),
            "embedding",
            "label",
        )
    )
    amp_dir = str(tmp_path / "amp")
    emb.write.parquet(f"{amp_dir}/embeddings.parquet")

    below = bench.TWINS["semdedup_survivors"].tables["embeddings"]
    with io_mod.table_transforms(amp_dir, {"embeddings": below}):
        km, k, _ = semdedup_q._kmeans_df(spark, amp_dir)
    ids = [r.vec_id for r in km.select("vec_id").collect()]
    assert len(ids) == 10 and all(i < below.bound for i in ids)  # replica 0 only
    assert k == 8
    plan = km._jdf.queryExecution().executedPlan().toString()
    assert f"LessThan(vec_id,{below.bound})" in plan


def test_minhash_bound_bites_on_amplified_keys(spark, tmp_path):
    """On a corpus whose doc_ids carry scale.py's replica stride, the
    minhash twin keeps exactly the replicas below its bound."""
    below = bench.TWINS["docs_minhash_candidates"].tables["documents"]
    step = below.bound // KEY_STRIDE - 1  # one replica inside, two outside
    docs = (
        spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
        .limit(10)
        .crossJoin(
            F.broadcast(spark.range(0, 3 * step, step).select(F.col("id").alias("rep")))
        )
        .select(
            (F.col("doc_id") + F.col("rep") * F.lit(KEY_STRIDE)).alias("doc_id"),
            "text",
            "lang",
            "source",
            "n_chars",
        )
    )
    amp_dir = str(tmp_path / "amp")
    docs.write.parquet(f"{amp_dir}/documents.parquet")

    def pair_ids(twins):
        pdf = _spark_twin(spark, "docs_minhash_candidates", amp_dir, twins)
        return set(pdf.id_a) | set(pdf.id_b)

    full_ids, capped_ids = pair_ids(False), pair_ids(True)
    assert any(i >= below.bound for i in full_ids), "out-of-bound replicas are near-dups"
    assert capped_ids and all(i < below.bound for i in capped_ids)
    with io_mod.table_transforms(amp_dir, {"documents": below}):
        capped = REGISTRY["docs_minhash_candidates"].fn(spark, amp_dir)
        plan = capped._jdf.queryExecution().executedPlan().toString()
    assert f"LessThan(doc_id,{below.bound})" in plan


_R12_REDUCED = [
    "events_sessionize",
    "asof_join_purchase_click",
    "window_rolling_avg",
    "docs_segment_dedup",
    "pretrain_corpus_report",
]


@pytest.mark.parametrize("name", _R12_REDUCED)
def test_r12_reduced_twin_fn_identical_on_driver_corpus(spark, name):
    got = _spark_twin(spark, name, SF_SMOKE)
    assert len(got) > 0 and got.equals(_spark_twin(spark, name, SF_SMOKE, False))


@pytest.mark.parametrize("name", _R12_REDUCED)
def test_r12_reduced_twin_oracle_identical_on_driver_corpus(duck_at, name):
    con = duck_at(SF_ORACLE)
    assert _duck_twin(con, name, SF_ORACLE).equals(
        _duck_twin(con, name, SF_ORACLE, twins=False)
    )


def test_r12_reduced_twin_bounds_embedded():
    for name in ("events_sessionize", "asof_join_purchase_click", "window_rolling_avg"):
        _assert_whole_replica_bound(name, "events", "event_id", 25)
    for name in ("docs_segment_dedup", "pretrain_corpus_report"):
        _assert_whole_replica_bound(name, "documents", "doc_id", 50)


# Amplified twins: counts and sums scale by the factor, averages are
# replication-invariant, group sets and order are unchanged.


def _factor(name):
    (amp,) = bench.TWINS[name].tables.values()
    return amp.n


def _assert_scaled(
    plain, twin, n, keys, counts=(), sums=(), avgs=(), sum_tol=0.0, avg_tol=5e-4,
    rows=None,
):
    """``avg_tol=0`` demands exact averages; ``rows`` pins the row count."""
    assert len(plain) == rows if rows else len(plain) > 1
    assert len(plain) == len(twin)
    for (_, a), (_, b) in zip(plain.iterrows(), twin.iterrows()):
        assert [a[k] for k in keys] == [b[k] for k in keys]
        for c in counts:
            assert a[c] * n == b[c], c
        for c in sums:
            # both sides round to 2 dp after their own sum, so round(s)·N
            # and round(N·s) differ by up to N·0.005
            assert abs(a[c] * n - b[c]) < sum_tol * n, (c, a[c], b[c])
        for c in avgs:
            if avg_tol:
                assert abs(a[c] - b[c]) < avg_tol, (c, a[c], b[c])
            else:
                assert a[c] == b[c], (c, a[c], b[c])


def _spark_plain_and_twin(spark, name):
    return _spark_twin(spark, name, SF_SMOKE, False), _spark_twin(spark, name, SF_SMOKE)


def _duck_plain_and_twin(duck_at, name):
    con = duck_at(SF_ORACLE)
    return (
        _duck_twin(con, name, SF_ORACLE, twins=False),
        _duck_twin(con, name, SF_ORACLE),
    )


_Q1 = dict(
    keys=["l_returnflag", "l_linestatus"],
    counts=["count_order"],
    sums=["sum_qty", "sum_base_price", "sum_disc_price", "sum_charge"],
    avgs=["avg_qty", "avg_price", "avg_disc"],
    sum_tol=0.006,
)


def test_q1_twin_is_fn_with_scaled_sums(spark):
    _assert_scaled(*_spark_plain_and_twin(spark, "q1_pricing_summary"),
                   _factor("q1_pricing_summary"), **_Q1)


def test_q1_twin_oracle_is_oracle_with_scaled_sums(duck_at):
    _assert_scaled(*_duck_plain_and_twin(duck_at, "q1_pricing_summary"),
                   _factor("q1_pricing_summary"), **_Q1)


def test_q1_twin_spark_equals_twin_oracle(spark, duck_at):
    got = _assert_twin_parity(spark, duck_at, "q1_pricing_summary", SF_ORACLE)
    assert len(got) > 1


_ET = dict(keys=["window_start", "event_type"], counts=["n"], sums=["total_value"],
           sum_tol=0.006)


def test_events_tumbling_twin_is_fn_with_scaled_counts(spark):
    _assert_scaled(*_spark_plain_and_twin(spark, "events_tumbling_1h"),
                   _factor("events_tumbling_1h"), **_ET)


def test_events_tumbling_twin_oracle_is_oracle_with_scaled_counts(duck_at):
    _assert_scaled(*_duck_plain_and_twin(duck_at, "events_tumbling_1h"),
                   _factor("events_tumbling_1h"), **_ET)


def test_events_tumbling_twin_spark_equals_twin_oracle(spark, duck_at):
    got = _assert_twin_parity(spark, duck_at, "events_tumbling_1h", SF_ORACLE)
    assert len(got) > 1


_WF = dict(keys=["word"], counts=["n"], rows=20)


def test_word_freq_twin_is_fn_with_scaled_counts(spark):
    _assert_scaled(*_spark_plain_and_twin(spark, "docs_word_freq_top20"),
                   _factor("docs_word_freq_top20"), **_WF)


def test_word_freq_twin_oracle_is_oracle_with_scaled_counts(duck_at):
    _assert_scaled(*_duck_plain_and_twin(duck_at, "docs_word_freq_top20"),
                   _factor("docs_word_freq_top20"), **_WF)


def test_word_freq_twin_spark_equals_twin_oracle(spark, duck_at):
    got = _assert_twin_parity(spark, duck_at, "docs_word_freq_top20", SF_ORACLE)
    assert len(got) == 20


_TS = dict(keys=["lang"], counts=["n_tokens", "n_docs"], avgs=["avg_chars"], avg_tol=0)


def test_token_stats_twin_is_fn_with_scaled_counts(spark):
    _assert_scaled(*_spark_plain_and_twin(spark, "docs_token_stats"),
                   _factor("docs_token_stats"), **_TS)


def test_token_stats_twin_oracle_is_oracle_with_scaled_counts(duck_at):
    _assert_scaled(*_duck_plain_and_twin(duck_at, "docs_token_stats"),
                   _factor("docs_token_stats"), **_TS)


def test_token_stats_twin_spark_equals_twin_oracle(spark, duck_at):
    _assert_twin_parity(spark, duck_at, "docs_token_stats", SF_ORACLE)


# kNN twins: replicas of one vector score exactly equal, so each twin's
# top-10 is the replica expansion (ids vec_id·N + r) of the plain top rows.


def _expand(rows):
    return [(i * N + r, c) for i, c in rows for r in range(N)][:10]


def _pairs(pdf):
    return [(int(i), float(c)) for i, c in pdf.itertuples(index=False)]


@pytest.mark.parametrize("name", KNN_ROWS)
def test_r12_knn_twin_spark_equals_twin_oracle(spark, duck_at, name):
    got = _assert_twin_parity(spark, duck_at, name, SF_ORACLE)
    assert len(got) == 10


@pytest.mark.parametrize("name", KNN_ROWS)
def test_r12_knn_twin_is_replica_expansion_of_fn(spark, name):
    plain, twin = _spark_plain_and_twin(spark, name)
    assert _pairs(twin) == _expand(_pairs(plain))


def test_rerank_pipeline_twin_is_replica_expansion_of_exact(duck_at):
    """rerank's registered oracle is the EXACT kNN; its twin runs the SQ8
    candidates → exact re-rank pipeline, whose recall is 1.0 here."""
    exact, twin = _duck_plain_and_twin(duck_at, "knn_rerank_top10")
    assert len(exact) == 10
    assert _pairs(twin) == _expand(_pairs(exact))


def test_rerank_candidate_budget_embedded():
    assert f"LIMIT {RERANK_CANDIDATES}" in bench.TWINS["knn_rerank_top10"].sql


def test_r12_knn_amplify_embedded_in_oracles():
    for name in KNN_ROWS:
        sql = bench.TWINS[name].sql
        assert f"CROSS JOIN range({N})" in sql
        assert f"vec_id * {N} + t.r" in sql
