"""Malformed-input robustness (S2/F4 operational contract): production
ingest never dies on a bad record — PERMISSIVE parsing quarantines corrupt
rows into a rescue column, DROPMALFORMED filters them, and the XML parser
path skips unparseable payloads (already covered in the datasource tests).
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql import types as T


def test_csv_permissive_quarantines_corrupt_rows(spark, tmp_path):
    p = tmp_path / "bad.csv"
    p.write_text(
        "id,qty,ts\n"
        "1,10,2026-01-01 10:00:00\n"
        "2,not_a_number,2026-01-01 11:00:00\n"  # qty unparseable
        "3,30,2026-01-01 12:00:00\n"
    )
    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("qty", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("_corrupt", T.StringType()),
        ]
    )
    df = (
        spark.read.schema(schema)
        .option("header", True)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
        .csv(str(p))
        .cache()
    )
    good = df.filter(F.col("_corrupt").isNull())
    bad = df.filter(F.col("_corrupt").isNotNull())
    assert good.count() == 2 and bad.count() == 1
    assert "not_a_number" in bad.first()._corrupt
    # DROPMALFORMED: same file, bad row silently dropped. collect(), not
    # count() — a count-only scan prunes every column, never parses qty,
    # and so never notices the malformed row (documented Spark behavior).
    dropped = (
        spark.read.schema(T.StructType(schema.fields[:3]))
        .option("header", True)
        .option("mode", "DROPMALFORMED")
        .csv(str(p))
    )
    assert len(dropped.collect()) == 2


def test_json_props_malformed_yields_null_not_failure(spark):
    df = spark.createDataFrame(
        [(1, '{"k": 5}'), (2, "{broken"), (3, None), (4, '{"k": "notint"}')],
        "id long, props string",
    )
    parsed = df.select(
        "id", F.from_json("props", "k int").alias("j")
    ).select("id", F.col("j.k").alias("k"))
    got = {r.id: r.k for r in parsed.collect()}
    assert got == {1: 5, 2: None, 3: None, 4: None}


def test_normalize_passages_nonnumeric_train_num_yields_null(spark):
    """A producer-controlled <num> that isn't numeric must normalize to a
    NULL train_num (row kept, unmatched downstream) — not abort the batch
    with CAST_INVALID_INPUT under Spark 4's default ANSI mode."""
    from transilien_api_etl_spark.sources.realtime import (
        normalize_passages,
        parse_passages,
    )

    xml = (
        '<?xml version="1.0"?><passages gare="87271007">'
        '<train><date mode="R">02/01/2026 08:05</date>'
        "<num>DEFI13</num><miss>POPI</miss><term>87271007</term></train>"
        '<train><date mode="R">02/01/2026 08:07</date>'
        "<num>123401</num><miss>POPI</miss><term>87271007</term></train>"
        "</passages>"
    )
    raw = spark.createDataFrame([("87271007", xml)], "station string, xml string")
    rows = normalize_passages(parse_passages(raw)).orderBy("expected_ts").collect()
    assert [r.train_num for r in rows] == [None, 123401]
    assert [r.status for r in rows] == ["on_time", "on_time"]


def test_normalize_passages_unparseable_date_yields_null(spark):
    """A well-formed <date> whose text does not parse must keep its row
    with a NULL expected_ts and service_day — not abort the whole poll
    cycle with CANNOT_PARSE_TIMESTAMP under Spark 4's ANSI mode. The
    other rows of the payload normalize exactly as without it."""
    from transilien_api_etl_spark.sources.realtime import (
        normalize_passages,
        parse_passages,
    )

    good = (
        '<train><date mode="R">02/01/2026 08:07</date>'
        "<num>123401</num><miss>POPI</miss><term>87271007</term></train>"
    )
    bad = (
        '<train><date mode="R">demain 8h</date>'
        "<num>123403</num><miss>POPI</miss><term>87271007</term></train>"
    )

    def normalized(trains: str) -> dict:
        xml = f'<?xml version="1.0"?><passages gare="87271007">{trains}</passages>'
        raw = spark.createDataFrame([("87271007", xml)], "station string, xml string")
        return {r.train_num: r.asDict() for r in normalize_passages(parse_passages(raw)).collect()}

    rows = normalized(good + bad)
    assert set(rows) == {123401, 123403}
    assert rows[123403]["expected_ts"] is None
    assert rows[123403]["service_day"] is None
    assert rows[123403]["status"] == "on_time"
    assert rows[123401] == normalized(good)[123401]
    assert rows[123401]["service_day"] == "20260102"
