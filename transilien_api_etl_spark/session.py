"""SparkSession factory with scale-appropriate defaults.

Local testing runs on ``local[$SPARK_GRAFT_CPUS]`` (single JVM), but every
config here is chosen to also be the right call on a 1000-executor cluster:

- AQE on (runtime join-strategy switches, partition coalescing, skew-join
  splitting) — the main defence against skew/cardinality misestimates at
  100 TB.
- Arrow on — every Python-boundary crossing (pandas_udf / applyInPandas /
  mapInPandas / toPandas) is Arrow-batched, never row-at-a-time pickle.
- Session timezone pinned to UTC — test data is tz-naive; pinning makes
  timestamp semantics deterministic and oracle (DuckDB) comparable.
- shuffle.partitions sized to the core count locally; at cluster scale this
  should be ~2-3× total cores — AQE coalescing makes over-provisioning cheap.
"""

from __future__ import annotations

import atexit
import os
import pathlib
import shutil
import tempfile
import zipfile

from pyspark.sql import SparkSession

DEFAULT_APP_NAME = "transilien-api-etl-spark"


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def default_driver_memory() -> str:
    """Driver heap when SPARK_DRIVER_MEMORY is unset: min(16g, half of
    physical RAM). The driver JVM shares the box with its Python workers
    and with in-process DuckDB (bench.py's oracles), so a heap the size of
    the box's RAM could not be committed by both."""
    half_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2 // (1 << 20)
    return f"{min(16 * 1024, half_mb)}m"


def build_session(
    app_name: str = DEFAULT_APP_NAME,
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = default_parallelism()
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or cpus
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Measured (interleaved A/B, best-of-3 × 2 sessions, sf0.1):
        # parallelismFirst=false and autoBroadcastJoinThreshold=64m cost ~4%
        # total here (single-partition coalesce serializes window sorts at
        # small inputs), so defaults stay. Revisit per-deployment at cluster
        # scale where 64 MB reducers and plan-time dim broadcast are right.
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Prefer shuffled-hash over sort-merge for equi-joins neither side of
        # which broadcasts: skips both sorts (25-30% on the fact-fact joins,
        # measured at 60M⋈15M). Safe because partition sizing (~64 MB
        # targets) keeps per-partition build sides in memory and AQE splits
        # skewed partitions; SMJ remains the fallback Spark picks whenever
        # the build side estimate exceeds memory.
        .config("spark.sql.join.preferSortMergeJoin", "false")
        # Force the Tungsten serialized shuffle writer for any shuffle wider
        # than 8 partitions. The bypass-merge writer (default for <=200
        # reducers) opens numPartitions FILES PER MAP TASK — a 32×32 local
        # shuffle pays ~1024 file create/close ops, which measured as a flat
        # ~0.4 s tax on EVERY shuffle job on this host (range(1M) groupBy:
        # 0.59 s -> 0.27 s; full-suite A/B round 9: q5 1.60->1.09, q3
        # 2.03->1.57, range_agg 2.46->1.64, tumbling 0.59->0.39, zero
        # regressions). At cluster scale reducer counts exceed 200 anyway,
        # so production shuffles already take the serialized path — this
        # aligns local[32] with the writer a 1000-executor job would use.
        .config("spark.shuffle.sort.bypassMergeThreshold", "8")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # Write µs-annotated timestamps, not legacy INT96: INT96 defeats
        # predicate pushdown, confuses footer-based type detection (pyarrow
        # reports it as ns), and is deprecated in the parquet spec.
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        # Session invariant: the driver testdata's events.ts is parquet
        # TIMESTAMP(NANOS), readable only as a raw long under this flag.
        # io.load_table consults the parquet footer and only applies the
        # long-read schema to genuinely-nanos files, so µs parquet written by
        # this engine is unaffected by the flag.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEMORY") or default_driver_memory(),
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


_SHIPPED_APPS: set[str] = set()


def ship_package(spark: SparkSession) -> None:
    """Make this package importable on executor Python workers.

    The driver may import us via a ``sys.path`` insert from any cwd; that
    does NOT propagate to the worker processes that unpickle pandas_udf /
    applyInPandas closures. Zip the package and ``addPyFile`` it once per
    application — workers prepend the zip to their ``sys.path``.
    On a real cluster this is exactly how the package would be deployed
    (``--py-files``), so the local path and the 1000-executor path agree.
    """
    sc = spark.sparkContext
    app = sc.applicationId
    if app in _SHIPPED_APPS:
        return
    pkg_dir = pathlib.Path(__file__).resolve().parent
    # A fresh private dir per ship: a fixed name (the pid, say) could pick
    # up another process's leftover zip, and workers put a shipped zip
    # ahead of PYTHONPATH, so they would run that stale code. The unique
    # name also keeps addFile from refusing a second registration. The
    # dir lives until interpreter exit: executors fetch the zip from it.
    tmp_dir = tempfile.mkdtemp(prefix="transilien_api_etl_spark-")
    atexit.register(shutil.rmtree, tmp_dir, ignore_errors=True)
    zip_path = pathlib.Path(tmp_dir) / f"{pathlib.Path(tmp_dir).name}.zip"
    with zipfile.ZipFile(zip_path, "w") as zf:
        for p in sorted(pkg_dir.rglob("*.py")):
            zf.write(p, arcname=str(pathlib.Path(pkg_dir.name) / p.relative_to(pkg_dir)))
    sc.addPyFile(str(zip_path))
    _SHIPPED_APPS.add(app)


def ensure_query_confs(spark: SparkSession) -> SparkSession:
    """Set the runtime-settable confs every registry query depends on.

    The driver hands us an externally built session; these are the confs that
    MUST hold for oracle parity (timezone) and performance (AQE, Arrow), and
    they are all runtime-mutable, so we pin them defensively per query.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.join.preferSortMergeJoin", "false")
    spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    ship_package(spark)
    return spark
