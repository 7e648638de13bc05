"""Custom Python DataSource for the realtime XML feed (SURVEY §3.1 S3,
PySpark 4 `pyspark.sql.datasource` API).

The reference's poller is a per-station HTTP GET returning one XML
``<passages>`` document. This re-expresses that ingest as a FIRST-CLASS
source — ``spark.read.format("transilien_xml")`` — instead of a
driver-side fetch glued to ``mapInPandas``:

- batch: each InputPartition carries a chunk of stations (the reference's
  station chunking); ``read`` fetches + parses that chunk executor-side,
  so ingest throughput scales with partitions, and Spark sees a plain
  relational source it can column-prune behind.
- streaming: ``DataSourceStreamReader`` models the polling cycle — each
  offset increment is one poll of every station, fanned out executor-side
  like the batch reader; downstream dedup / upsert (T5/T6, S5) absorbs
  the repeat-observation semantics exactly as the reference's Dynamo
  overwrite did.

The transport is pluggable: ``endpoint`` points at a directory holding one
``<station>.xml`` per station (the offline stand-in used by tests and this
container — no network). A production deployment swaps `_fetch` for the
HTTP GET; nothing else changes.

Rows come out string-typed in RAW_PASSAGE_SCHEMA, parsed by
``sources/realtime._parse`` — the same parser as the mapInPandas path —
and ``sources/realtime.normalize_passages`` stays the typing/normalization
stage for both.
"""

from __future__ import annotations

import os
from collections.abc import Iterator, Sequence

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    InputPartition,
)
from pyspark.sql.types import StructType

from transilien_api_etl_spark.sources.realtime import RAW_PASSAGE_SCHEMA, _parse

CHUNK_SIZE = 20  # stations per partition, mirrors the reference's batching


def _fetch(endpoint: str, station: str) -> str | None:
    """One station poll. Offline transport: read ``<endpoint>/<station>.xml``.

    The production transport (HTTP GET to the gare/{station}/depart URL)
    replaces this function only.
    """
    p = os.path.join(endpoint, f"{station}.xml")
    try:
        with open(p, encoding="utf-8") as f:
            return f.read()
    except OSError:
        return None


class _StationChunk(InputPartition):
    def __init__(self, endpoint: str, stations: Sequence[str]):
        self.endpoint = endpoint
        self.stations = list(stations)


def _chunks(options: dict, n_cycles: int = 1) -> list[_StationChunk]:
    """``n_cycles`` polls of the station roster (explicit ``stations``
    option, else every *.xml at the endpoint), ``chunk_size`` stations per
    partition; never zero partitions."""
    endpoint = options["endpoint"]
    explicit = options.get("stations")
    if explicit:
        stations = sorted(s.strip() for s in explicit.split(",") if s.strip())
    else:
        stations = sorted(
            f[: -len(".xml")] for f in os.listdir(endpoint) if f.endswith(".xml")
        )
    chunk = int(options.get("chunk_size", CHUNK_SIZE))
    parts = [
        _StationChunk(endpoint, stations[i : i + chunk])
        for _cycle in range(n_cycles)
        for i in range(0, len(stations), chunk)
    ]
    return parts or [_StationChunk(endpoint, [])]


class _StationChunkReader:
    """``read`` shared by the batch and the stream reader: fetch and parse
    each station of one chunk, executor-side."""

    def __init__(self, options: dict):
        self.options = options

    def read(self, partition: _StationChunk) -> Iterator[tuple]:
        for station in partition.stations:
            yield from _parse(station, _fetch(partition.endpoint, station))


class TransilienXmlReader(_StationChunkReader, DataSourceReader):
    def partitions(self) -> Sequence[InputPartition]:
        return _chunks(self.options)


class TransilienXmlStreamReader(_StationChunkReader, DataSourceStreamReader):
    """One offset increment == one polling cycle over the full roster.

    partitions(start, end) replays cycles [start, end): each cycle is
    re-chunked like the batch reader, so a missed trigger catches up with
    the same executor-parallel fan-out. Re-observations across cycles are
    the EXPECTED shape — watermarked dropDuplicates / upsert_by_key
    downstream make the pipeline idempotent, as in the reference.

    Offsets are wall-clock epoch seconds, NOT an in-memory counter: the
    Python stream-reader API gives a restarted reader no way to recover
    the checkpointed offset before ``latestOffset`` is first called, so a
    counter restarting at 0 would regress the offset log (end < start)
    and break monotonicity. Epoch seconds are monotone across restarts;
    within a session successive triggers still advance by at least 1.
    Catch-up after a long gap is capped at ``MAX_CATCHUP_CYCLES`` polls:
    a live polling API only ever serves the CURRENT state, so replaying
    thousands of missed cycles would poll the same now-state thousands
    of times for no added data.
    """

    MAX_CATCHUP_CYCLES = 10

    def initialOffset(self) -> dict:
        import time

        return {"cycle": int(time.time()) - 1}

    def latestOffset(self) -> dict:
        import time

        prev = getattr(self, "_latest", None)
        now = int(time.time())
        self._latest = now if prev is None else max(prev + 1, now)
        return {"cycle": self._latest}

    def partitions(self, start: dict, end: dict) -> Sequence[InputPartition]:
        # keep the in-session counter ahead of any replayed offset range
        self._latest = max(getattr(self, "_latest", 0), start["cycle"], end["cycle"])
        n_cycles = min(max(end["cycle"] - start["cycle"], 1), self.MAX_CATCHUP_CYCLES)
        return _chunks(self.options, n_cycles)

    def commit(self, end: dict) -> None:
        pass


class TransilienXmlDataSource(DataSource):
    """``spark.read.format("transilien_xml").option("endpoint", dir)``."""

    @classmethod
    def name(cls) -> str:
        return "transilien_xml"

    def schema(self) -> StructType:
        return RAW_PASSAGE_SCHEMA

    def reader(self, schema: StructType) -> TransilienXmlReader:
        return TransilienXmlReader(self.options)

    def streamReader(self, schema: StructType) -> TransilienXmlStreamReader:
        return TransilienXmlStreamReader(self.options)


def register_datasource(spark) -> None:
    # Make the package importable in EVERY worker that unpickles this
    # class, regardless of the launch cwd (VERDICT r6 task 5):
    #
    # 1. ship_package BEFORE registering — pyspark's register() captures
    #    sc._python_includes at register time into the wrapped
    #    PythonFunction, and the batch planner workers
    #    (PythonPlannerRunner) prepend those includes to sys.path.
    # 2. PYTHONPATH via sc.environment — the STREAMING source runner
    #    (PythonStreamingSourceRunner.init) resolves its includes under
    #    <SparkFilesRoot>/streaming_job/ (it hardcodes the
    #    "streaming_job" artifact UUID), where addPyFile never copies,
    #    so includes alone leave the stream-reader worker unable to
    #    import us. envVars ARE honored: PythonWorkerFactory merges
    #    envVars["PYTHONPATH"] into the spawned worker's path, and
    #    sc.environment is captured into the PythonFunction's envVars
    #    at register time. The streaming runner always executes on the
    #    driver, so this driver-local path (package parent dir — a
    #    plain dir or the deployed --py-files zip, both valid sys.path
    #    entries) is correct in cluster mode too; on executors the
    #    stale path is simply skipped and the shipped zip (1) applies.
    import os
    import pathlib

    from transilien_api_etl_spark.session import ship_package

    ship_package(spark)
    pkg_root = str(pathlib.Path(__file__).resolve().parent.parent.parent)
    env = spark.sparkContext.environment
    cur = env.get("PYTHONPATH")
    if not cur:
        env["PYTHONPATH"] = pkg_root
    elif pkg_root not in cur.split(os.pathsep):
        env["PYTHONPATH"] = pkg_root + os.pathsep + cur
    spark.dataSource.register(TransilienXmlDataSource)
