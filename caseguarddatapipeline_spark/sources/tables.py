"""Parquet table sources for the synthetic star schema.

Mirrors the reference's scan surface (SURVEY.md §2.1): the CSV/REST/JDBC case
scans (crm/discovery.py:193-232, etl/flows/sync_daily_enhanced.py:156-197 in
the reference) become declarative parquet scans so Catalyst gets predicate
pushdown, column pruning and partition pruning for free.

Scale notes: at 100 TB these tables are directory-partitioned (cases by
tenant_id/date, events by date) and the same loaders work unchanged —
``spark.read.parquet`` over a partitioned layout prunes partitions from the
pushed filters. Nothing here collects to the driver.
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession

from ..session import apply_runtime_confs

TABLES = [
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
]

# What a one-text operator's oracle is formatted with: DuckDB reads the
# plain table names where the Spark body reads ``scoped_views`` names.
PLAIN_VIEWS = {name: name for name in TABLES}


# Plan cache: re-loading the same table re-reads parquet footers and re-runs
# analysis (~tens of ms per table per query); DataFrames are immutable plans
# so reuse across queries in a session is free. Keyed by session identity —
# plans are not portable across sessions.
_TABLE_CACHE: dict[tuple[int, str, str, int | None], DataFrame] = {}

# Warm-table-cache mode (off by default): the long-running-engine posture
# where hot tables live in the in-memory columnar cache (Spark's
# CACHE TABLE / a warehouse's buffer pool). Two effects, both only
# observable on repeat queries: parquet decode is paid once, and a table
# whose file has a single row group (which caps scan parallelism at one
# task no matter how many cores exist) is re-laid-out across
# ``n_partitions`` in-memory partitions so every downstream query scans
# it in parallel. Storage level is MEMORY_AND_DISK with LRU eviction, so
# an oversized working set degrades to disk instead of failing — at
# 100 TB you would cache dimensions and let facts stream, which is
# exactly what selective enable_warm_cache() calls express.
_WARM_CACHE: dict[str, int | None] = {"partitions": None}
# Repartition threshold for cached tables: anything that downstream
# operators scan in parallel (facts AND the Python-kernel input
# documents, ~600 KB at sf0.1) must be cached multi-partition, or every
# query over it pays a runtime repartition shuffle (~190 ms measured) or
# serializes its CPU-heavy kernel onto one task. True dimension lookups
# (nation/region/supplier, < 128 KB) stay single-partition.
_WARM_MIN_BYTES = 1 << 17

# (A former per-table override pinned embeddings to one cached partition
# to spare the Arrow cosine kernels task fan-out overhead; since the
# cosine operators route small/narrow corpora through codegen HOF plans
# — operators/similarity._use_arrow_kernel — the cached HOF loop now
# WANTS width, so embeddings follows the same size threshold as every
# other table.)


def enable_warm_cache(n_partitions: int) -> None:
    """Turn on warm-table caching for subsequently loaded tables.
    Changing the partitioning releases copies cached under the old
    setting first — otherwise two full cached copies of every table
    would coexist (the old one unreachable through any API)."""
    if _WARM_CACHE["partitions"] not in (None, n_partitions):
        _release_cached()
    _WARM_CACHE["partitions"] = n_partitions


def disable_warm_cache() -> None:
    _release_cached()
    _WARM_CACHE["partitions"] = None


def _release_cached() -> None:
    for df in _TABLE_CACHE.values():
        try:
            df.unpersist()
        except Exception:
            pass  # session may already be stopped
    _TABLE_CACHE.clear()


def _session_key(spark: SparkSession) -> str:
    """Stable cache identity for a session (survives id() address reuse)."""
    try:
        return spark.sparkContext.applicationId
    except Exception:  # stopped/Connect session: fall back to object id
        return f"id:{id(spark)}"


def _data_size(path: str) -> int:
    """Bytes of actual data under ``path`` — a single file OR a
    directory-partitioned table (os.path.getsize on a directory returns
    the ~4 KB inode size, which would classify every partitioned table
    as tiny and cache it single-partition)."""
    if os.path.isfile(path):
        return os.path.getsize(path)
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            if not f.startswith((".", "_")):
                total += os.path.getsize(os.path.join(root, f))
    return total


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one synthetic table, normalizing types at the edge.

    ``events.ts`` is stored as parquet INT64 TIMESTAMP(NANOS); Spark reads it
    (under the nanosAsLong legacy conf) as a long which we cast to a
    microsecond TimestampNTZ — matching DuckDB's read of the same file and
    keeping all downstream timestamp arithmetic timezone-free.
    """
    warm = _WARM_CACHE["partitions"]
    # key on applicationId, not id(spark): a stopped session's id can be
    # reused by a NEW session at the same address, which would hand out
    # DataFrames bound to the dead session
    key = (_session_key(spark), os.path.abspath(sf_dir), name, warm)
    cached = _TABLE_CACHE.get(key)
    if cached is not None:
        return cached
    apply_runtime_confs(spark)
    path = os.path.join(sf_dir, f"{name}.parquet")
    df = spark.read.parquet(path)
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        # INTEGER division: epoch-nanos exceed double's 2^53 exact range,
        # so floor(ts / 1000.0) is off by one microsecond for a large
        # fraction of modern-epoch values (masked on fixtures whose ns
        # are exact us*1000); `div` truncates in int64 like DuckDB's //
        df = df.withColumn(
            "ts",
            F.timestamp_micros(F.expr("ts div 1000")).cast("timestamp_ntz"),
        )
    if warm:
        n = warm if _data_size(path) >= _WARM_MIN_BYTES else 1
        if n > 1:
            df = df.repartition(n)
        df = df.cache()
    _TABLE_CACHE[key] = df
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLES}


def register_temp_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view so queries can use spark.sql."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)


_SCOPED_VIEWS: dict[tuple[int, str, int | None], dict[str, str]] = {}


def scoped_views(spark: SparkSession, sf_dir: str) -> dict[str, str]:
    """Register per-(session, sf_dir) temp views and return the
    table→view-name mapping.

    Unlike ``register_temp_views`` (global names, last registration
    wins), these names embed the sf_dir so one session can serve SQL
    against several scale factors concurrently — the property
    tests/test_catalog.py pins for the loader. Lets operators be written
    as ONE ``spark.sql(...)`` call: a single parse+analyze round trip
    instead of one py4j hop per DataFrame method (~10× cheaper plan
    construction for join-heavy queries). A table absent from sf_dir
    gets no view (a documents-only corpus still serves)."""
    warm = _WARM_CACHE["partitions"]
    key = (_session_key(spark), os.path.abspath(sf_dir), warm)
    views = _SCOPED_VIEWS.get(key)
    if views is None:
        tag = f"{abs(hash(key)) % 10**8:08d}"
        views = {}
        for name in TABLES:
            try:
                df = load_table(spark, sf_dir, name)
            except AnalysisException as e:
                if e.getCondition() != "PATH_NOT_FOUND":
                    raise
                continue
            vname = f"{name}__{tag}"
            df.createOrReplaceTempView(vname)
            views[name] = vname
        _SCOPED_VIEWS[key] = views
    return views
