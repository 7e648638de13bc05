"""Table loaders with explicit schemas (SURVEY.md §2.2, FIXTURES.md).

Schemas are always declared, never inferred — inference is nondeterministic
and a full-scan cost at 100 TB. Declaring the schema also lets Catalyst prune
columns and push filters into the parquet scan without a footer-sampling
pass over every file.
"""

from __future__ import annotations

import contextlib
import contextvars
import os
import time
from collections.abc import Callable, Iterator, Mapping

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Broadcast policy note (no blanket mechanism on purpose): only
# region/nation are constant-size (5 / 25 rows) and safe to broadcast at
# ANY scale factor. customer, supplier, and part grow LINEARLY with SF
# (150k/10k/200k rows per SF unit — billions of rows at the 100 TB
# target), so a blanket broadcast hint on their scans would be a
# scale-killer; the plans broadcast them per-query, only after
# selective filters (or let AQE decide from runtime sizes).

SCHEMAS: dict[str, T.StructType] = {
    "region": T.StructType(
        [
            T.StructField("r_regionkey", T.IntegerType()),
            T.StructField("r_name", T.StringType()),
        ]
    ),
    "nation": T.StructType(
        [
            T.StructField("n_nationkey", T.IntegerType()),
            T.StructField("n_name", T.StringType()),
            T.StructField("n_regionkey", T.IntegerType()),
        ]
    ),
    "customer": T.StructType(
        [
            T.StructField("c_custkey", T.LongType()),
            T.StructField("c_name", T.StringType()),
            T.StructField("c_nationkey", T.IntegerType()),
            T.StructField("c_acctbal", T.DoubleType()),
            T.StructField("c_mktsegment", T.StringType()),
        ]
    ),
    "supplier": T.StructType(
        [
            T.StructField("s_suppkey", T.LongType()),
            T.StructField("s_name", T.StringType()),
            T.StructField("s_nationkey", T.IntegerType()),
            T.StructField("s_acctbal", T.DoubleType()),
        ]
    ),
    "part": T.StructType(
        [
            T.StructField("p_partkey", T.LongType()),
            T.StructField("p_name", T.StringType()),
            T.StructField("p_brand", T.StringType()),
            T.StructField("p_type", T.StringType()),
            T.StructField("p_size", T.IntegerType()),
            T.StructField("p_retailprice", T.DoubleType()),
        ]
    ),
    "orders": T.StructType(
        [
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("o_custkey", T.LongType()),
            T.StructField("o_orderstatus", T.StringType()),
            T.StructField("o_totalprice", T.DoubleType()),
            T.StructField("o_orderdate", T.TimestampType()),
            T.StructField("o_orderpriority", T.StringType()),
        ]
    ),
    "lineitem": T.StructType(
        [
            T.StructField("l_orderkey", T.LongType()),
            T.StructField("l_partkey", T.LongType()),
            T.StructField("l_suppkey", T.LongType()),
            T.StructField("l_linenumber", T.IntegerType()),
            T.StructField("l_quantity", T.DoubleType()),
            T.StructField("l_extendedprice", T.DoubleType()),
            T.StructField("l_discount", T.DoubleType()),
            T.StructField("l_tax", T.DoubleType()),
            T.StructField("l_returnflag", T.StringType()),
            T.StructField("l_linestatus", T.StringType()),
            T.StructField("l_shipdate", T.TimestampType()),
        ]
    ),
    # events.ts is parquet TIMESTAMP(NANOS) — Spark has no nanosecond
    # timestamp type, so we read it as a raw long (see _EVENTS_RAW below)
    # and convert to a µs TimestampType in load_table.
    "events": T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    ),
    "documents": T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
            T.StructField("source", T.StringType()),
            T.StructField("n_chars", T.LongType()),
        ]
    ),
    "embeddings": T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
            T.StructField("label", T.IntegerType()),
        ]
    ),
}

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def table_path(sf_dir: str, name: str) -> str:
    return f"{sf_dir}/{name}.parquet"


# Schema for reading events with ts as raw nanos (requires
# spark.sql.legacy.parquet.nanosAsLong=true).
_EVENTS_RAW = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.LongType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def events_raw_schema() -> T.StructType:
    return _EVENTS_RAW


def _events_ns_to_ts(df: DataFrame) -> DataFrame:
    """Convert the raw nano-epoch long to a µs TimestampType column.

    Integer division (DIV) — float division would lose precision above
    2^53 ns (~1970+104 days). Data precision is µs, so this is lossless.
    """
    from pyspark.sql import functions as F

    return df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))


_TS_IS_NANOS_CACHE: dict[tuple[str, float], bool] = {}


def _events_ts_is_nanos(path: str) -> bool:
    """True when the events parquet stores ts as TIMESTAMP(NANOS).

    The driver-generated testdata writes nanosecond timestamps (which Spark
    can only read as a raw long via ``legacy.parquet.nanosAsLong``); files we
    re-materialize ourselves (scale bench, sinks) are standard µs. One cached
    pyarrow footer read per path decides which read schema applies — cheap,
    driver-side, no Spark job. The cache key includes the path's mtime so
    re-materializing the same path in-process (ns→µs or back) re-reads the
    footer instead of serving a stale classification — a stale "nanos"
    answer would silently divide µs values by 1000 (every ts → 1970).
    """
    try:
        mtime = os.path.getmtime(path)
    except OSError:
        mtime = -1.0
    key = (path, mtime)
    if key not in _TS_IS_NANOS_CACHE:
        import pyarrow.dataset as ds

        field = ds.dataset(path, format="parquet").schema.field("ts")
        _TS_IS_NANOS_CACHE[key] = getattr(field.type, "unit", None) == "ns"
    return _TS_IS_NANOS_CACHE[key]


# Runtime conf holding a comma-separated list of table names whose reads
# should come from the catalog's `<name>_bucketed` table instead of plain
# parquet. This is the DEPLOY.md at-rest layout made the default read path:
# set it once (bench.py's bucketed phase, or a production session over a
# bucketed warehouse) and every registered query's fact scans pick up the
# pre-shuffled layout with zero query changes. The companion DIR conf is
# MANDATORY and scopes the override to one source dataset: the bucketed
# tables were built from exactly one sf_dir's rows, so a load_table call
# against any other directory must keep reading that directory's parquet
# — a global table-name toggle with no dataset identity would silently
# serve the wrong rows to phase-1 bench queries, tests, or scale.py.
BUCKETED_TABLES_CONF = "spark.graft.bucketedTables"
BUCKETED_DIR_CONF = "spark.graft.bucketedTables.dir"


def served_bucketed(spark: SparkSession, sf_dir: str, *names: str) -> bool:
    """True when load_table would serve EVERY ``names`` table from the
    co-bucketed at-rest layout for this ``sf_dir``.

    Plan functions use this the way a cost-based optimizer uses physical
    layout info: some join orders are only right for one layout (measured
    round 9, q3 at 60 M rows: dim-filter-first wins on the plain layout
    where it shrinks the shuffle 5×, but costs +26% on the co-bucketed
    layout where there IS no shuffle and the fact⋈fact join is the
    cheapest first reducer)."""
    bucketed = {t for t in (spark.conf.get(BUCKETED_TABLES_CONF, "") or "").split(",") if t}
    if not set(names) <= bucketed:
        return False
    bdir = spark.conf.get(BUCKETED_DIR_CONF, "") or ""
    return bool(bdir) and os.path.abspath(bdir) == os.path.abspath(sf_dir)


# Table-transform seam (the bench twins, bench.TWINS): while
# table_transforms(sf_dir, {table: transform}) is active, load_table
# applies ``transform`` to that table's scan for that ONE sf_dir, so every
# registered query reads the changed table with no change to its body. A
# transform is a hashable ``DataFrame -> DataFrame`` callable: the memos
# below key on it, so a size-derived constant (SemDeDup's k, PQ's training
# modulus) follows the transformed table. Scoped like the bucketed confs
# above: any other directory reads its plain parquet, and the previous
# state is always restored. A context variable, so another thread building
# plans meanwhile reads its own (plain) tables.
TableTransform = Callable[[DataFrame], DataFrame]
_TABLE_TRANSFORMS: contextvars.ContextVar[
    tuple[str, Mapping[str, TableTransform]] | None
] = contextvars.ContextVar("table_transforms", default=None)


@contextlib.contextmanager
def table_transforms(
    sf_dir: str, transforms: Mapping[str, TableTransform]
) -> Iterator[None]:
    token = _TABLE_TRANSFORMS.set((os.path.abspath(sf_dir), dict(transforms)))
    try:
        yield
    finally:
        _TABLE_TRANSFORMS.reset(token)


def _table_transform(sf_dir: str, name: str) -> TableTransform | None:
    active = _TABLE_TRANSFORMS.get()
    if active is None or active[0] != os.path.abspath(sf_dir):
        return None
    return active[1].get(name)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Parquet scan with a declared schema (S1); catalog-bucketed override.

    When ``spark.graft.bucketedTables`` lists ``name`` AND
    ``spark.graft.bucketedTables.dir`` matches ``sf_dir``, the scan reads
    the managed/external bucketed table ``<name>_bucketed`` — same rows,
    but hash-clustered on the join key at rest, so the fact⋈fact
    exchanges vanish (tests/test_bucketed_join.py gates both the
    zero-Exchange property and the dataset scoping).

    Inside :func:`table_transforms` for ``sf_dir``, the table's transform
    is applied to the scan (bench.py's declared twins).
    """
    transform = _table_transform(sf_dir, name)
    path = table_path(sf_dir, name)
    if served_bucketed(spark, sf_dir, name):
        df = spark.table(f"{name}_bucketed")
    elif name == "events" and _events_ts_is_nanos(path):
        # Session invariant (also pinned in build_session/ensure_query_confs):
        # nanosAsLong must be on to scan TIMESTAMP(NANOS) parquet at all.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        raw = spark.read.schema(_EVENTS_RAW).parquet(path)
        df = _events_ns_to_ts(raw)
    else:
        df = spark.read.schema(SCHEMAS[name]).parquet(path)
    return df if transform is None else transform(df)


# Below this many input rows, widen_small_scan skips the round-robin
# repartition even on a single-split source (round 12): the repartition
# costs an exchange (plus the sort-before-repartition pass) and turns every
# downstream job into 32 scheduled tasks, which at a 2 000-row driver SF is
# pure overhead now that the heavy per-row kernels run through Arrow —
# measured on the PQ train loop at sf0.1: 1.4 s unwidened vs 3.7-5.5 s
# widened (books bit-identical; the r11 widen win was against the
# since-replaced interpreted JVM fold). A single-split input ABOVE this
# bound still widens: one task over 10⁵+ heavy rows is the genuine §2.5
# input-skew case the helper exists for. Callers that know their row count
# pass it; n_rows=None keeps the unconditional round-11 behavior.
WIDEN_MIN_ROWS = 100_000


def widen_small_scan(
    spark: SparkSession, df: DataFrame, n_rows: int | None = None
) -> DataFrame:
    """Round-robin repartition ``df`` to the session parallelism when its
    source would otherwise run on fewer tasks (guide §2.5/§6.1 — input
    parallelism). The driver SFs are single-row-group parquet files, so
    Spark plans ONE input split no matter the core count, and every
    downstream map-side expression (seeded-md5 MinHash signatures, the
    interpreted k-means/PQ assignment folds, ADC lookups) serializes on
    one task while the other cores idle — measured round 11 session 5
    (sf0.1 headline walls, warm+5-rep medians; BASELINE.md "Round-11
    session 5: the headline-wall trim"): docs_minhash_candidates
    4.44→1.62 s, knn_pq_adc_top10 3.97→2.53 s, embeddings_pq_codes
    2.65→1.24 s with the widen. Scale-adaptive by
    construction: the guard compares the PLANNED partition count to
    ``defaultParallelism`` (derived from ``local[$SPARK_GRAFT_CPUS]``, or
    the cluster's executor slots), so a scale-cache / production input
    with >= that many splits passes through untouched and no shuffle is
    added. Values are unaffected: callers' downstream operators are
    per-row expressions or key-grouped aggregates, neither of which
    depends on the physical row placement (the kmeans/PQ centroid-mean
    rounding margin vs partial-sum order is the SAME contract the 32-file
    scale cache already exercises against the DuckDB oracles)."""
    if n_rows is not None and n_rows < WIDEN_MIN_ROWS:
        return df
    par = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < par:
        return df.repartition(par)
    return df


# (sf_dir, table, mtime, transform) -> row count, memoized for the life of
# the process.
# Consumers are the corpus-size path switches (PQ's sampled-train /
# Arrow-encode threshold, SemDeDup's derived k): they re-derive the same
# count on EVERY query invocation, which added a full extra scan+action
# per call — including timed bench reps and tiny driver SFs where the
# switch can never trigger (ADVICE r7). Safe to memoize: every sf_dir this
# repo reads is immutable once materialized (driver testdata by contract;
# the scale cache because a factor change changes the directory NAME —
# scale.scale_dir_name).
_ROW_COUNT_CACHE: dict[tuple, int] = {}


def _table_mtime(sf_dir: str, name: str) -> tuple:
    """Freshness token for ``<sf_dir>/<name>.parquet`` — the shared
    component of every derived-constant cache key below. One definition so
    a future invalidation fix cannot silently miss one of the caches
    (code-review round 9: three hand-rolled copies).

    For a single-file table: (mtime_ns, size). For a DIRECTORY table the
    directory's own mtime is NOT sufficient (VERDICT r9 task 6): POSIX
    bumps a dir's mtime on entry add/remove/rename, but rewriting a file
    IN PLACE inside it leaves the dir stat untouched — a scale cache
    rebuilt by a script that overwrites part files same-named would then
    serve a stale memoized count/vector. So a dir tokenizes as
    (file count, total bytes, max file mtime_ns) over its entries —
    any in-place rewrite moves at least one of the three."""
    path = os.path.join(os.path.abspath(sf_dir), f"{name}.parquet")
    try:
        st = os.stat(path)
    except OSError:
        return (-1,)
    if not os.path.isdir(path):
        return (st.st_mtime_ns, st.st_size)
    count, total, max_ns = 0, 0, -1
    try:
        with os.scandir(path) as it:
            for entry in it:
                try:
                    est = entry.stat()
                except OSError:
                    continue
                count += 1
                total += est.st_size
                if est.st_mtime_ns > max_ns:
                    max_ns = est.st_mtime_ns
    except OSError:
        # Fail OPEN: an unreadable dir must never serve a stale memo (the
        # dir's own mtime alone is exactly the insufficient token this
        # function exists to replace), so the token misses on every call
        # until scandir succeeds — the cost is a redundant re-scan, never
        # a wrong cached value (code-review round 10). Shaped like the
        # readable-dir token (3-tuple) with impossible count/total
        # sentinels, so no collision with a real token is possible
        # (VERDICT r10 task 6a tidy; test_materialize_small.py covers
        # the branch).
        return (-1, -1, time.monotonic_ns())
    return (count, total, max_ns)


def cached_row_count(spark: SparkSession, sf_dir: str, name: str) -> int:
    """Row count memoized per (dir, table, table mtime). The mtime in the
    key is the invalidation (ADVICE r8): a same-named dir whose contents
    are rewritten mid-process (e.g. a partially materialized scale cache
    redone after a kill) must not feed a stale count to the PQ
    Arrow-threshold / SemDeDup derived-k switches. A parquet DIRECTORY's
    mtime changes whenever files inside it are (re)written, and
    materialize_scale replaces single-file tables wholesale, so the stat
    is a sound freshness proxy either way. The active table transform
    (see :func:`table_transforms`) is part of the key: the count is the
    transformed table's."""
    key = (
        os.path.abspath(sf_dir), name, _table_mtime(sf_dir, name),
        _table_transform(sf_dir, name),
    )
    if key not in _ROW_COUNT_CACHE:
        _ROW_COUNT_CACHE[key] = load_table(spark, sf_dir, name).count()
    return _ROW_COUNT_CACHE[key]


# (dir, vec_id, mtime, transform) -> embedding values, memoized like the
# row counts.
_QUERY_VEC_CACHE: dict[tuple, list[float] | None] = {}


def cached_query_embedding(
    spark: SparkSession, sf_dir: str, vec_id: int = 0
) -> list[float] | None:
    """The designated query vector, memoized per (dir, vec_id, table mtime).

    The kNN queries parameterize on "the embedding of vec_id 0" — in a
    serving system that vector arrives WITH the request; only this
    harness derives it from the table, and deriving it per invocation
    spent a full scan-job (~0.2 s at the 1 M-vector scale cache) inside
    every timed rep of every driver-side ANN query. Same mtime-keyed
    invalidation as :func:`cached_row_count`: every sf_dir this repo
    reads is immutable once materialized, and a rewrite bumps the
    parquet directory's mtime. Returns None when the vec_id is absent
    (callers emit the oracle-equivalent empty result)."""
    key = (
        os.path.abspath(sf_dir), vec_id, _table_mtime(sf_dir, "embeddings"),
        _table_transform(sf_dir, "embeddings"),
    )
    if key not in _QUERY_VEC_CACHE:
        from pyspark.sql import functions as F

        row = (
            load_table(spark, sf_dir, "embeddings")
            .filter(F.col("vec_id") == vec_id)
            .select("embedding")
            .first()
        )
        _QUERY_VEC_CACHE[key] = None if row is None else [float(x) for x in row[0]]
    return _QUERY_VEC_CACHE[key]


def materialize_small(result: DataFrame, max_rows: int = 100_000) -> DataFrame:
    """Round-trip a FINAL small query result through the driver.

    The materialize-then-clean pattern: sink-backed queries stage
    intermediate files in a per-run temp dir, and the returned frame must
    outlive that dir's cleanup — so the final (small) result is collected
    and re-wrapped as a local DataFrame. This helper is the ONLY sanctioned
    way to do that: it enforces a hard row cap so a future query edit can't
    silently route a large distributed result through the driver (VERDICT
    r5 task 6). ``limit(max_rows + 1)`` bounds the transfer itself — the
    guard never fetches more than one row past the cap.
    """
    rows = result.limit(max_rows + 1).collect()
    if len(rows) > max_rows:
        raise ValueError(
            f"materialize_small: result exceeds {max_rows} rows — this "
            "helper is for final driver-sized results only; write large "
            "results to a sink instead of collecting them"
        )
    return result.sparkSession.createDataFrame(rows, result.schema)
