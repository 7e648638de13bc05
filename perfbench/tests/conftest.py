from __future__ import annotations

import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [ROOT, BENCH]


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    os.environ.setdefault("SPARK_GRAFT_CPUS", "2")
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "1g")
    from transilien_api_etl_spark.session import build_session

    tmp = tmp_path_factory.mktemp("spark")
    spark = build_session(
        app_name="perfbench-tests",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": str(tmp / "warehouse"),
        },
    )
    yield spark
    spark.stop()
