"""transilien_api_etl_spark — a PySpark-native analytics engine.

Re-expresses the query / data-processing capabilities of the reference ETL
system (`leonardbinet/Transilien-Api-ETL`, see SURVEY.md) as an idiomatic
Spark DataFrame/SQL engine, plus the large-scale training-data-pipeline
operators (dedup, similarity search, multimodal columns, text analysis)
mandated by BASELINE.json.

Layout
------
- ``session``   : SparkSession factory with scale-appropriate defaults.
- ``io``        : explicit schemas + parquet loaders for the test tables.
- ``functions`` : scalar/column expression helpers (datetime, strings, json,
                  vectors, text) — all built on ``pyspark.sql.functions`` so
                  they stay JVM-side / codegen-able.
- ``operators`` : composite relational operators Spark lacks natively
                  (as-of join, range join, top-k per group, sessionize,
                  dedup families, similarity search, multimodal plumbing).
- ``plans``     : the named-query registry the driver consumes
                  (queries() / oracle_sql()).
- ``sources``   : ingest connectors (CSV-with-schema/GTFS, HTTP-polling
                  micro-batch, JDBC, binary files) and sinks.
- ``streaming`` : Structured Streaming jobs mirroring the batch plans.
"""

__version__ = "0.1.0"

from transilien_api_etl_spark import _zipimport_cache

_zipimport_cache.install()
