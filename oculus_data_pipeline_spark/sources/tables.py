"""Parquet table sources for the driver testdata star schema.

At scale these reads are plain columnar scans — Catalyst pushes filters
and prunes columns into the parquet reader, and partition discovery /
split planning is Spark-native. Nothing here collects to the driver.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

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

# Dimension tables small enough to always broadcast in joins.
SMALL_DIMS = {"region", "nation", "supplier", "part", "customer"}

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Fact tables fanned out after the scan (deterministic hash key per
# table — guide §2.5: hash-repartitioning on a rand()-derived key can
# duplicate/lose rows under fetch-failure retries, so the key is
# always a stable column of the row). SMALL_DIMS stay as-is: they are
# broadcast everywhere and a shuffle would only add an exchange.
FANOUT_KEYS = {
    "lineitem": "l_orderkey",
    "orders": "o_orderkey",
    "events": "event_id",
    "documents": "doc_id",
    "embeddings": "vec_id",
}

# Fan out only tables big enough that single-digit-µs-per-row work is
# visible but small enough that the WHOLE table is less than one
# normal 128 MB split per core — above that, split planning already
# yields >= one task per core and the extra exchange is pure cost.
_FANOUT_MIN_BYTES = 256 * 1024
_FANOUT_SPLIT_BYTES = 128 * 1024 * 1024
# Target bytes per task below the cap: small inputs get just enough
# tasks to spread the per-row work, not #cores empty slivers.
_FANOUT_TASK_BYTES = 32 * 1024


def _fanout(spark: SparkSession, df: DataFrame, name: str, path: str) -> DataFrame:
    """Re-spread a single-file scan across the cluster.

    The driver's testdata parquet is written as ONE row group per
    table, so Spark's split planning (`maxPartitionBytes` /
    `openCostInBytes`) cannot parallelize the scan no matter how it is
    configured — every per-row expression (hashing, tokenizing,
    vector folds) runs on one core (measured: q145's row encoding was
    1.7 s single-task vs 0.1 s spread; guide §2.5 "one huge
    unsplittable file → repartition immediately after the read").
    Scale-adaptive: a table bigger than one normal split per core is
    left alone — at that size normal split planning parallelizes the
    scan and a full-payload shuffle would be the exact anti-pattern
    §2.3 warns about. The repartition key is a stable id column, so
    the exchange is deterministic under task retry (§2.5), and the
    optimizer still prunes columns/pushes filters through the
    RepartitionByExpression into the scan.
    """
    if name not in FANOUT_KEYS:
        return df
    try:
        size = os.path.getsize(path)
    except OSError:
        return df  # multi-file/dir layout: split planning handles it
    par = spark.sparkContext.defaultParallelism
    if size < _FANOUT_MIN_BYTES:
        return df
    if size >= par * _FANOUT_SPLIT_BYTES:
        # Big file: normal split planning parallelizes it — UNLESS the
        # file has too few row groups to split (parquet can only split
        # at row-group boundaries). Check the footer instead of
        # assuming (r11 advice: a single-row-group file over the size
        # threshold would otherwise get neither fanout nor split
        # parallelism). Footer read is one driver-side metadata call,
        # memoized by the handle cache.
        try:
            import pyarrow.parquet as pq

            n_rg = pq.ParquetFile(path).metadata.num_row_groups
        except Exception:
            return df
        if n_rg >= par:
            return df
    from pyspark.sql import functions as F

    n = int(min(par, max(2, size // _FANOUT_TASK_BYTES)))
    return df.repartition(n, F.col(FANOUT_KEYS[name]))


def _read_raw(spark: SparkSession, name: str, path: str) -> DataFrame:
    """Batch-read one table's parquet as stored. events.ts has been
    parquet TIMESTAMP(NANOS) in some driver generations, which Spark's
    reader rejects, so events is read with nanos as long (converted by
    :func:`_normalize_timestamps`)."""
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return spark.read.parquet(path)


def _normalize_timestamps(df: DataFrame, name: str) -> DataFrame:
    """The engine's timestamp contract, for batch and streaming reads
    alike. A nanos-as-long events.ts is integer-divided to micros
    (double division would lose precision at ~1.7e18 ns). TIMESTAMP_NTZ
    columns are cast to session-time TIMESTAMP (session tz is pinned to
    UTC, so wall-clock values are unchanged).

    The driver's parquet carries timestamps without UTC adjustment, which
    Spark 4 reads as TIMESTAMP_NTZ; NTZ forbids direct numeric casts
    (``cast(ts as bigint)`` → DATATYPE_MISMATCH), breaking epoch math in
    as-of joins / sessionization. One metadata-only projection here keeps
    every query engine-legal with zero scan cost.
    """
    from pyspark.sql import functions as F

    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    ntz = [c for c, t in df.dtypes if t == "timestamp_ntz"]
    if not ntz:
        return df
    return df.withColumns({c: F.col(c).cast("timestamp") for c in ntz})


# Analyzed-plan handles keyed by (application, file identity): a
# DataFrame is an immutable lazy plan, so handing the same handle back
# avoids re-listing the file and re-reading the parquet footer on
# every query construction (~0.1 s per call on this box, paid inside
# the driver — guide §5: the driver should do almost no data work;
# §6: repeated listings of the same inputs are pure planning waste).
# This caches NO rows and NO results — every action on the handle
# still scans the parquet from disk; the file's (mtime, size) is part
# of the key so a rewritten fixture is re-read, and the applicationId
# guards against handles outliving their SparkContext.
_HANDLE_CACHE: dict[tuple, DataFrame] = {}


def load_table(
    spark: SparkSession, sf_dir: str, name: str, fanout: bool = False
) -> DataFrame:
    """``fanout=True`` opts a caller IN to the post-scan re-spread.

    Opt-IN, not opt-out, since round 12: a 221-query interleaved A/B
    sweep (its per-query results were not recorded; ROADMAP item 4
    replaces the flags with a measured rule) showed the r11 always-on
    fanout helps only plans with real per-row work (hashing,
    tokenizing, regex, vector folds — those win 1.2-2.9× and pass
    fanout=True), while
    aggregation/window-dominant plans — where map-side partial
    aggregation compresses the data BEFORE any shuffle — pay the
    full-payload exchange and get nothing back (guide §2.3 "aggregate
    before you shuffle"; ~100 queries measured 1.2-2.6× faster
    without it). The flag is local-bench-only in effect: at scale the
    size/row-group guard in _fanout disables the re-spread for every
    caller anyway."""
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    # timestamp rendering (date_format) is session-timezone-dependent;
    # the engine's semantics are defined in UTC, and the caller's
    # session (e.g. the external driver's) may not be. Runtime-settable.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    path = os.path.join(sf_dir, f"{name}.parquet")
    try:
        st = os.stat(path)
        cache_key = (
            spark.sparkContext.applicationId,
            os.path.abspath(path),
            st.st_mtime_ns,
            st.st_size,
            fanout,
        )
    except OSError:
        cache_key = None
    if cache_key is not None and cache_key in _HANDLE_CACHE:
        return _HANDLE_CACHE[cache_key]
    df = _load_table_uncached(spark, sf_dir, name, path, fanout)
    if cache_key is not None:
        # one app is live at a time: drop handles whose SparkContext is
        # gone so the dict cannot grow across app restarts (r11 advice)
        app = cache_key[0]
        for k in [k for k in _HANDLE_CACHE if k[0] != app]:
            del _HANDLE_CACHE[k]
        _HANDLE_CACHE[cache_key] = df
    return df


def _load_table_uncached(
    spark: SparkSession, sf_dir: str, name: str, path: str, fanout: bool
) -> DataFrame:
    df = _normalize_timestamps(_read_raw(spark, name, path), name)
    return _fanout(spark, df, name, path) if fanout else df


def load_tables(spark: SparkSession, sf_dir: str, *names: str) -> dict[str, DataFrame]:
    use = names or TABLES
    return {n: load_table(spark, sf_dir, n) for n in use}


def register_views(spark: SparkSession, sf_dir: str, *names: str) -> None:
    """Register each table as a temp view for the SQL API."""
    for n, df in load_tables(spark, sf_dir, *names).items():
        df.createOrReplaceTempView(n)
