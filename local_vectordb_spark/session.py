"""SparkSession factory and table catalog helpers.

The reference binds its collections to a data directory at startup
(/root/reference/src/main.py:33-44); here the analogous step is a
SparkSession with scale-appropriate defaults plus loaders for the
test-data star schema (TESTDATA.md).
"""

from __future__ import annotations

import os
import threading

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import LongType, StructType

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


def get_spark(app_name: str = "local_vectordb_spark") -> SparkSession:
    """Build (or fetch) a SparkSession tuned for this engine.

    Local testing runs on ``local[N]``; on a real cluster the same
    config keys apply — AQE handles runtime re-planning and skew, Arrow
    keeps the pandas-UDF boundary vectorized, and shuffle partitions
    default to the local core count (a cluster deployment would raise
    this to ~2-3x total cores or rely on AQE coalescing).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", "64MB")
        .config("spark.sql.session.timeZone", "UTC")
        # events.parquet stores TIMESTAMP(NANOS); Spark has no nanos type —
        # read as long and floor to micros in load_table (matches DuckDB's
        # ns→us truncation on read)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        # job and stage counters come from the status store
        # (tools/profile_query.py, perfbench), which needs no UI
        .config("spark.ui.enabled", "false")
        # Generated-class cache. The default of 100 entries is split over
        # Guava's 4 cache segments, each evicting on its own, so a working
        # set near 100 thrashes: perfbench's curate pass (MinHash, capped
        # n-gram Jaccard, SimHash, quality) needs ~100 classes, and at the
        # default Janino recompiled 28-30 of them on every pass, each then
        # JIT-compiled again. At 1000 a repeated pass recompiles none.
        .config("spark.sql.codegen.cache.maxEntries", "1000")
    )
    if not SparkSession.getActiveSession():
        builder = builder.master(f"local[{cpus}]")
    return builder.getOrCreate()


def fixture_cache_dir(sf_dir: str, table: str, prefix: str = "lvdb_part") -> str:
    """Session-spanning tempdir for caches DERIVED from a fixture table
    (partitioned layouts, stored PQ codes, staged stream inputs).

    The directory name folds in the source parquet's (mtime_ns, size)
    fingerprint, so regenerating a fixture at the same path
    invalidates every derived cache automatically — without this,
    stale codes/partitions silently serve wrong candidates after a
    fixture refresh (the `_SUCCESS` check only proves a PREVIOUS write
    completed, not that it matches the current source).  mtime is
    taken at nanosecond resolution: with 1-second granularity a
    fixture regenerated in-place within the same second at the same
    byte size would silently serve stale caches."""
    import tempfile

    st = os.stat(os.path.join(sf_dir, f"{table}.parquet"))
    tag = sf_dir.strip("/").replace("/", "_")
    return os.path.join(
        tempfile.gettempdir(),
        f"{prefix}_{tag}_{table}_{st.st_mtime_ns}_{st.st_size}",
    )


def staging_suffix() -> str:
    """Suffix for a staging sibling that no other writer shares: the
    pid alone is not enough, since the HTTP server's handler threads
    in one process may stage the same target at the same time."""
    return f"{os.getpid()}.{threading.get_ident()}"


def materialize_once(path: str, write_fn) -> str:
    """Build a derived-cache directory exactly once, safely under
    concurrent processes and threads: ``write_fn(tmp_path)`` targets a
    writer-unique sibling directory which is atomically renamed into
    place.  If a concurrent builder wins the rename race, ours fails
    (non-empty destination), we discard our copy and serve theirs —
    the bare check-then-write pattern this replaces could interleave
    two Spark writers into one directory.  A destination left behind
    by a crashed direct write (no ``_SUCCESS``) is cleared first so
    the cache can never be served half-built."""
    import shutil

    marker = os.path.join(path, "_SUCCESS")
    if os.path.exists(marker):
        return path
    tmp = f"{path}.tmp.{staging_suffix()}"
    shutil.rmtree(tmp, ignore_errors=True)
    try:
        write_fn(tmp)
        if os.path.exists(path) and not os.path.exists(marker):
            shutil.rmtree(path, ignore_errors=True)
        try:
            os.rename(tmp, path)
        except OSError:
            # losing the race to a concurrent builder is the ONLY
            # failure this may swallow — verify a complete destination
            # actually exists before serving it; any other rename error
            # must surface here, not as a confusing downstream read of
            # a path that was never created (r8 ADVICE)
            if not os.path.exists(marker):
                raise
    finally:
        # a write_fn crash (or a lost race) must not accumulate full
        # Spark output directories in the tempdir across retries
        shutil.rmtree(tmp, ignore_errors=True)
    return path


# (path, st_mtime_ns, st_size) -> StructType inferred from the footers.
# Process-wide: the key names the file's bytes, and load_table sets the
# one read conf the inference depends on, so every session may share it.
_SCHEMA_CACHE: dict[tuple[str, int, int], StructType] = {}
_SCHEMA_CACHE_MAX = 64
_SCHEMA_LOCK = threading.Lock()


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one star-schema table from a scale-factor directory.

    The parquet schema is inferred once per file: it is cached under the
    file's ``(path, st_mtime_ns, st_size)`` fingerprint (the one
    :func:`fixture_cache_dir` uses), so rewriting the file infers again,
    and a hit reads with that schema instead of running Spark's footer
    inference job. Every call still returns a FRESH relation, never a
    shared DataFrame: two loads of one table in one query get distinct
    attribute ids, so a self-join resolves its sides.

    Nanosecond parquet timestamps (events.ts) arrive as long under
    ``nanosAsLong`` and are floored to microsecond TIMESTAMP here.
    """
    from pyspark.sql import functions as F

    # The driver harness supplies its OWN SparkSession, which won't have the
    # nanosAsLong conf from get_spark(); it's a runtime-settable SQL conf, so
    # set it here unconditionally — without it, reading events.parquet
    # (TIMESTAMP(NANOS)) raises PARQUET_TYPE_ILLEGAL.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = os.path.join(sf_dir, f"{name}.parquet")
    try:
        st = os.stat(path)
        key = (path, st.st_mtime_ns, st.st_size)
    except OSError:
        key = None  # missing path: the plain read raises PATH_NOT_FOUND
    with _SCHEMA_LOCK:
        schema = _SCHEMA_CACHE.pop(key, None)
    if schema is None:
        df = spark.read.parquet(path)
        schema = df.schema
    else:
        df = spark.read.schema(schema).parquet(path)
    if key is not None:
        with _SCHEMA_LOCK:
            _SCHEMA_CACHE[key] = schema  # re-insert: dict order is the LRU order
            while len(_SCHEMA_CACHE) > _SCHEMA_CACHE_MAX:
                _SCHEMA_CACHE.pop(next(iter(_SCHEMA_CACHE)))
    if name == "events" and isinstance(df.schema["ts"].dataType, LongType):
        # integer `div` — double-precision `/` loses exactness above 2^53 ns
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLES}


def local_rows_df(spark: SparkSession, rows, schema) -> DataFrame:
    """Single-partition DataFrame for a SMALL driver-side row list
    (query vectors, probe tables, ADC tables, seed edges).

    ``spark.createDataFrame(list)`` parallelizes the rows over
    defaultParallelism partitions (32 locally), so every downstream
    action — in particular every BROADCAST build of the little table —
    runs a 32-task job in which each task opens its own socket to the
    Python driver's RDD server (measured: an 8-row broadcast side
    costs 0.47 s that way, 0.30 s as one slice; a coalesce(1) over the
    32-slice form is worst of all at ~5 s, one serial socket
    round-trip per empty partition). One slice, one task — the shape a
    k-row local relation should have (guide §7.3: the driver should do
    almost no data work, and what it does should not fan out).
    """
    return spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)


def ensure_min_parallelism(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Round-robin repartition ONLY when the input has fewer partitions
    than cores — CPU-heavy per-row operators (signature computation,
    fingerprinting) otherwise run on however few splits a small parquet
    file produced. At real scale inputs arrive with thousands of
    splits and this is a no-op; it never *reduces* partitioning.
    """
    target = min_partitions or df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df
