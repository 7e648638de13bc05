"""scripts/profile_rows.py end to end: the layer table of two graded rows
at sf0.01. The event log is a static conf, so the script runs in its own
process with its own session."""

from __future__ import annotations

import json
import os
import subprocess
import sys

from .conftest import SF_ORACLE

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SPAN_TOLERANCE = 0.10  # perfbench/layers.py: a span set must cover 90 % of the wall


def test_profile_rows_layer_table(tmp_path):
    proc = subprocess.run(
        [
            sys.executable, os.path.join(REPO, "scripts", "profile_rows.py"),
            "--data-dir", SF_ORACLE, "--reps", "1",
            "q1_pricing_summary", "knn_cosine_top10",
        ],
        capture_output=True, text=True, timeout=600, cwd=tmp_path,
        env={**os.environ, "TMPDIR": str(tmp_path)},
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert out["twins"] is False
    rows = out["rows"]
    assert sorted(rows) == ["knn_cosine_top10", "q1_pricing_summary"]
    for row in rows.values():
        assert row["unattributed_frac"] <= SPAN_TOLERANCE
        assert row["jobs"] >= 1
        assert "py_worker_init_s" not in row
    knn, q1 = rows["knn_cosine_top10"], rows["q1_pricing_summary"]
    assert knn["py_run_s"] > 0 and knn["py_arrow_out_mb"] > 0
    assert q1["py_run_s"] == 0 and q1["py_arrow_out_mb"] == 0
