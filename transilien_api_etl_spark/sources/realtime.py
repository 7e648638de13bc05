"""Realtime passage ingest — SURVEY.md §1.1 / §3.1 S3 (reference: the
Transilien REST API poller: per-station HTTP GET returning XML ``<passage>``
documents with ``<train>`` elements; requests + xmltodict, retry, chunking).

Spark-first re-expression: the *fetch* is an edge concern (driver-side poll
or Kafka in production — T1 in ``streaming/jobs.py``); everything after the
raw payload lands is a DataFrame program:

- ``parse_passages``  : raw (station, xml) rows → one row per ``<train>``,
  via an Arrow-batched ``mapInPandas`` (XML parsing is the one genuinely
  non-relational step; stdlib ``xml.etree`` per batch, never per-row py4j).
- ``normalize_passages``: pure built-in-function normalization — UIC 8→7
  station codes, ``dd/MM/yyyy HH:mm`` → timestamp, day-of-service, status
  decode ("Retardé"/"Supprimé" → delayed/cancelled enum).

Scale posture: parsing is embarrassingly parallel (one XML doc is one
station-poll, ~KBs); throughput scales with partitions, no shuffle anywhere
in this module. Normalization is whole-stage-codegen'd column work.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from transilien_api_etl_spark.functions.datetime_fns import day_of_service
from transilien_api_etl_spark.functions.strings import drop_checksum_digit

# One row per <train> element, still string-typed (normalize_passages types it).
RAW_PASSAGE_SCHEMA = T.StructType(
    [
        T.StructField("station", T.StringType()),  # 8-digit UIC from the poll URL
        T.StructField("num", T.StringType()),  # train number
        T.StructField("miss", T.StringType()),  # mission code
        T.StructField("term", T.StringType()),  # terminus station code
        T.StructField("date_text", T.StringType()),  # "dd/MM/yyyy HH:mm"
        T.StructField("mode", T.StringType()),  # R = realtime, T = theoretical
        T.StructField("etat", T.StringType()),  # None | Retardé | Supprimé
    ]
)


def _parse(station: str, payload: str | None) -> Iterator[tuple]:
    """One station's XML payload → tuples in RAW_PASSAGE_SCHEMA order; a
    missing or unparseable payload yields nothing (the reference logs-and-
    skips bad station responses). Shared by ``parse_passages`` and the
    ``transilien_xml`` DataSource."""
    import xml.etree.ElementTree as ET

    if payload is None:
        return
    try:
        root = ET.fromstring(payload)
    except ET.ParseError:
        return
    for train in root.iter("train"):
        date_el = train.find("date")
        yield (
            station,
            train.findtext("num"),
            train.findtext("miss"),
            train.findtext("term"),
            None if date_el is None else date_el.text,
            None if date_el is None else date_el.get("mode"),
            train.findtext("etat"),
        )


def parse_passages(raw: DataFrame, station_col: str = "station", xml_col: str = "xml") -> DataFrame:
    """Explode raw per-station XML payloads into one row per ``<train>``.

    ``mapInPandas`` keeps parsing Arrow-batched and executor-side; a payload
    that fails to parse yields zero rows (the reference logs-and-skips bad
    station responses the same way).
    """
    columns = RAW_PASSAGE_SCHEMA.fieldNames()

    def parse_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [
                row
                for station, payload in zip(pdf[station_col], pdf[xml_col])
                for row in _parse(station, payload)
            ]
            yield pd.DataFrame(rows, columns=columns)

    return raw.mapInPandas(parse_batch, schema=RAW_PASSAGE_SCHEMA)


def normalize_passages(passages: DataFrame, cutoff_hours: int = 3) -> DataFrame:
    """Type and normalize parsed passages (F1/F2/F7 in one codegen stage).

    - ``expected_ts``: parsed from the API's ``dd/MM/yyyy HH:mm`` text,
      NULL when the text does not parse;
    - ``station7``: 7-digit station id (drop UIC checksum) — the schedule's
      ``stop_id`` join key;
    - ``service_day``: day-of-service with the after-midnight cutoff;
    - ``status``: on_time / delayed / cancelled enum from ``etat``;
    - ``realtime``: mode R vs T (theoretical fallback rows).
    """
    # try_to_timestamp: like ``num`` below, the <date> text is producer-
    # controlled; text that does not parse must yield a NULL expected_ts
    # (and service_day) on its row, not abort the cycle under ANSI mode.
    expected = F.try_to_timestamp(F.col("date_text"), F.lit("dd/MM/yyyy HH:mm"))
    return (
        passages.withColumn("expected_ts", expected)
        .withColumn("station7", drop_checksum_digit(F.col("station")))
        .withColumn("service_day", day_of_service(F.col("expected_ts"), cutoff_hours))
        # try_cast: the XML <num> text is producer-controlled free text; a
        # non-numeric train number in one payload must yield a NULL key row
        # (unmatched downstream), not a job-wide ANSI CAST_INVALID_INPUT.
        .withColumn("train_num", F.col("num").try_cast("long"))
        .withColumn(
            "status",
            F.when(F.col("etat") == "Supprimé", F.lit("cancelled"))
            .when(F.col("etat") == "Retardé", F.lit("delayed"))
            .otherwise(F.lit("on_time")),
        )
        .withColumn("realtime", F.coalesce(F.col("mode") == "R", F.lit(False)))
        .drop("date_text")
    )


def parse_passages_native(
    raw: DataFrame, station_col: str = "station", xml_col: str = "xml"
) -> DataFrame:
    """JVM-native twin of ``parse_passages`` via Spark 4's built-in
    ``from_xml`` (the spark-xml reader folded into core): the whole parse
    stays in codegen — no Python crossing at all — with spark-xml's
    conventions (attributes as ``_mode``, element text-with-attributes as
    ``_VALUE``). Malformed payloads parse to NULL structs and drop, the
    same skip-bad-station semantics as the pandas parser. Prefer this on
    the 100 TB path; ``parse_passages`` remains the library-parity
    reference implementation (equivalence-tested)."""
    xml_schema = (
        "train ARRAY<STRUCT<num: STRING, miss: STRING, term: STRING, "
        "date: STRUCT<_VALUE: STRING, _mode: STRING>, etat: STRING>>"
    )
    parsed = raw.select(
        F.col(station_col).alias("station"),
        F.from_xml(F.col(xml_col), xml_schema).alias("doc"),
    )
    t = parsed.where(F.col("doc").isNotNull()).select(
        "station", F.explode("doc.train").alias("t")
    )
    return t.select(
        "station",
        F.col("t.num").alias("num"),
        F.col("t.miss").alias("miss"),
        F.col("t.term").alias("term"),
        F.col("t.date._VALUE").alias("date_text"),
        F.col("t.date._mode").alias("mode"),
        F.col("t.etat").alias("etat"),
    )
