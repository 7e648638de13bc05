"""Query-vector hoist symmetry (ADVICE r9, medium).

Spark's kNN plans embed the query embedding as a task-closure literal
populated by an UNTIMED memo (io.cached_query_embedding), so bench.py's
graded DuckDB denominators must not re-derive the same vector INSIDE their
timed SQL — the lookup is hoisted into an untimed per-connection temp
table (bench.QVEC_SETUP) and the oracle's q-CTE is rewritten to read it
(bench.QVEC_HOIST). The contract tested here:

1. the hoist marker actually matches the CURRENT oracle text of every
   listed row (an oracle edit must fail loudly, not silently regress the
   grading to the asymmetric form);
2. the rewritten SQL is VALUE-IDENTICAL to the original on real data;
3. an unlisted name passes through untouched, and a listed name whose
   marker drifted raises.
"""

from __future__ import annotations

import pytest

import bench as bench_mod
import transilien_api_etl_spark.plans  # noqa: F401 — populate REGISTRY
from transilien_api_etl_spark.plans.registry import REGISTRY


def test_markers_match_current_oracle_text():
    for name, marker in bench_mod.QVEC_HOIST.items():
        sql = bench_mod.timed_query(name, REGISTRY[name])[1]
        assert marker in sql, f"{name}: hoist marker drifted from oracle text"


@pytest.mark.parametrize("name", sorted(bench_mod.QVEC_HOIST))
def test_hoisted_sql_value_identical(duck, name):
    duck.execute(bench_mod.QVEC_SETUP)
    sql = bench_mod.timed_query(name, REGISTRY[name])[1]
    original = duck.execute(sql).fetchall()
    hoisted = duck.execute(bench_mod._hoist_qvec(name, sql)).fetchall()
    assert len(original) > 0
    assert hoisted == original


def test_unlisted_name_passes_through():
    assert bench_mod._hoist_qvec("q1_pricing_summary", "SELECT 1") == "SELECT 1"


def test_drifted_marker_raises():
    with pytest.raises(RuntimeError, match="hoist marker not found"):
        bench_mod._hoist_qvec("knn_cosine_top10", "SELECT 1")
