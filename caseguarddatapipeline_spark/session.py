"""SparkSession factory tuned for the engine.

Local testing runs on ``local[$SPARK_GRAFT_CPUS]`` (default 32); the same
configuration scales to a multi-executor cluster because nothing here is
local-mode-specific: AQE handles runtime re-planning (partition coalescing,
skew-join splitting), shuffle partitioning is explicit, and Arrow transfer is
enabled for the pandas-UDF inference operators.
"""

from __future__ import annotations

import functools
import logging
import os
from pathlib import Path

from pyspark.sql import SparkSession

log = logging.getLogger(__name__)

# Entries in Spark's LRU of compiled whole-stage code (static conf
# ``spark.sql.codegen.cache.maxEntries``, default 100). The 21 serving
# classes alone generate ~330 distinct classes, so at 100 every warm pass
# evicted what the next one needed and recompiled it: 366 Janino compiles
# (1.6-2.1 s, plus 8-16 s of JIT CPU on the fresh classes) per warm pass
# on a 4-core box. A sweep of all 260 catalog entries at sf0.01 compiled
# ~2,640 distinct classes; 4096 holds that working set. Its cost after
# the full sweep: Metaspace 192 -> 211 MB and ~17 MB more JIT code heap.
CODEGEN_CACHE_ENTRIES = 4096
_CODEGEN_CACHE_CONF = "spark.sql.codegen.cache.maxEntries"

# Python worker daemon (static conf ``spark.python.daemon.module``). Spark's
# own daemon leaves pyspark.zip, the py4j zip and the spark-core jar on
# the workers' sys.path, and every task's importlib.invalidate_caches()
# re-reads those archives: 100-140 ms per task on a 4-core box. The
# engine's daemon drops them when the interpreter's pyspark and py4j
# match (see pydaemon.py). Spark starts it with ``python -m``, so the
# package root goes on the workers' PYTHONPATH (merged after Spark's).
PYTHON_DAEMON_MODULE = f"{__package__}.pydaemon"
_PYTHON_DAEMON_CONF = "spark.python.daemon.module"
_PACKAGE_ROOT = str(Path(__file__).resolve().parent.parent)

# The logger behind "WindowExec: No Partition Defined for Window
# operation!", logged each time Spark plans a window without a partition
# spec (150 lines in one sf0.01 catalog sweep). get_spark raises it to
# ERROR: tests/test_plans.py::test_no_corpus_sized_window lints every
# catalog name's plan for such windows, so the plan lint is the check and
# the log line is not.
WINDOW_EXEC_LOGGER = "org.apache.spark.sql.execution.window.WindowExec"

# Session-local mark of the interactive-serving profile, kept in the
# session's own SQL conf: apply_runtime_confs must not re-assert the
# batch AQE defaults on a session that carries it.
_LOW_LATENCY_CONF = "caseguarddatapipeline.lowLatency"

# Confs that are safe (and required) to apply to an externally provided
# session at runtime — e.g. the verify driver's own SparkSession.
RUNTIME_CONFS: dict[str, str] = {
    # events.parquet stores INT64 TIMESTAMP(NANOS) which Spark's parquet
    # reader rejects by default; read as long and cast in the loader.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Deterministic wall-clock-free semantics + DuckDB-oracle parity for
    # naive timestamps.
    "spark.sql.session.timeZone": "UTC",
    # Adaptive execution: runtime shuffle coalescing + skew-join splitting.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
}


def _session_tag(spark: SparkSession) -> str:
    try:
        return spark.sparkContext.applicationId
    except Exception:
        return f"id:{id(spark)}"


def apply_runtime_confs(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable confs to any session (ours or the driver's)."""
    skip_adaptive = spark.conf.get(_LOW_LATENCY_CONF, "false") == "true"
    for k, v in RUNTIME_CONFS.items():
        if skip_adaptive and k.startswith("spark.sql.adaptive."):
            continue
        try:
            spark.conf.set(k, v)
        except Exception:
            # A conf may be static in some deployments; never fail a query
            # because a tuning knob could not be applied.
            pass
    try:
        entries = int(spark.conf.get(_CODEGEN_CACHE_CONF, "100"))
    except Exception:
        entries = CODEGEN_CACHE_ENTRIES
    if entries < CODEGEN_CACHE_ENTRIES:
        _warn_small_codegen_cache(_session_tag(spark), entries)
    daemon = spark.conf.get(_PYTHON_DAEMON_CONF, "pyspark.daemon")
    if daemon != PYTHON_DAEMON_MODULE:
        _warn_stock_python_daemon(_session_tag(spark), daemon)
    return spark


@functools.cache
def _warn_small_codegen_cache(tag: str, entries: int) -> None:
    """Once per session: the codegen cache is static, so a session built
    elsewhere (e.g. the verify driver's) keeps whatever size it was
    built with, and a small one recompiles queries on every call."""
    log.warning(
        "session %s: %s=%d is below the engine's working set of %d "
        "generated classes; repeated queries will recompile",
        tag, _CODEGEN_CACHE_CONF, entries, CODEGEN_CACHE_ENTRIES,
    )


@functools.cache
def _warn_stock_python_daemon(tag: str, daemon: str) -> None:
    """Once per session: the daemon module is static, so a session built
    elsewhere keeps Spark's, whose workers re-read pyspark.zip and the
    spark-core jar on every Python task."""
    log.warning(
        "session %s: %s=%s is not the engine's %s; every Python task "
        "will re-read Spark's zip and jar archives",
        tag, _PYTHON_DAEMON_CONF, daemon, PYTHON_DAEMON_MODULE,
    )


def enable_low_latency(spark: SparkSession, shuffle_partitions: int = 8) -> SparkSession:
    """Switch a session to the interactive-serving profile.

    AQE inserts a materialization + re-optimization barrier after every
    exchange; that re-plan buys back far more than it costs on 100 GB+
    shuffles (coalescing, skew splits) but adds a fixed ~30-80 ms per
    stage, which dominates sub-second queries. Engines make the same
    trade adaptively (e.g. cost-based re-opt thresholds); here it is an
    explicit profile: batch/ETL sessions keep the AQE defaults from
    ``RUNTIME_CONFS``, dashboards/bench serving small scale factors call
    this. Fewer shuffle partitions likewise trade task-launch overhead
    for per-task size — correct when shuffles are MBs, not GBs.
    """
    spark.conf.set(_LOW_LATENCY_CONF, "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.shuffle.partitions", str(shuffle_partitions))
    return spark


def disable_low_latency(spark: SparkSession) -> SparkSession:
    """Return a session to the batch/ETL profile: AQE defaults and the
    shuffle width the session was built with."""
    spark.conf.unset(_LOW_LATENCY_CONF)
    width = spark.sparkContext.getConf().get("spark.sql.shuffle.partitions")
    if width is None:
        spark.conf.unset("spark.sql.shuffle.partitions")
    else:
        spark.conf.set("spark.sql.shuffle.partitions", width)
    return apply_runtime_confs(spark)


def _default_driver_mem() -> str:
    """Driver-heap default: min(24g, ~25% of physical RAM), floor 2g.

    24g is the measured requirement for the 50x stress corpus on the
    128 GiB reference box (heap backs all 32 local-mode task threads);
    a 16 GiB laptop or CI runner gets 4g instead of an OS-OOM-inviting
    24g. SPARK_DRIVER_MEM overrides unconditionally.
    """
    try:
        total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    except (ValueError, OSError, AttributeError):
        return "8g"
    quarter_gib = total // (4 * 1024**3)
    return f"{max(2, min(24, quarter_gib))}g"


def get_spark(
    app_name: str = "caseguarddatapipeline-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's configuration."""
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        # One shuffle partition per core locally; on a real cluster this is
        # overridden to ~2-3x total cores (AQE coalesces the excess).
        shuffle_partitions = cpus

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.ui.enabled", "false")
        # FAIR scheduling: concurrent serving threads (multi-tenant
        # requests against one session) share the cluster round-robin by
        # pool instead of FIFO head-of-line blocking; see scheduler_pool.
        .config("spark.scheduler.mode", "FAIR")
        # Local mode: the driver JVM IS the executor, so its heap backs
        # all 32 task threads' execution memory at once. 8g starved the
        # 50x stress corpus the moment an Arrow stage joined the shuffle
        # pipeline (TaskMemoryManager page-allocation failures → GCLocker
        # thrash → Python workers killed); 24g leaves ~100 GiB for page
        # cache + the 32 Python workers on a 128 GiB box. The default is
        # capped at ~25% of physical RAM so smaller dev/CI hosts don't
        # inherit an oversized heap (SPARK_DRIVER_MEM overrides either
        # way); on a real cluster this is per-executor sizing.
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", _default_driver_mem()))
        # Bound the per-task Arrow transfer buffer: with 32 concurrent
        # tasks, the 64 MiB default admits 2 GiB of simultaneous batch
        # pages JUST for Python-stage input — and rows carrying document
        # shingle arrays (the set-similarity verify kernel) hit the byte
        # bound long before the 10k-row bound. 16 MiB keeps worst-case
        # concurrent batch memory at 512 MiB with no measurable kernel
        # overhead (batches stay thousands of rows).
        .config("spark.sql.execution.arrow.maxBytesPerBatch", "16m")
        # Executor↔python-worker transport over unix domain sockets
        # (Spark 4): shaves ~30 ms of per-task handshake off every
        # Python-stage query (measured 0.091→0.061 s median on a one-task
        # identity mapInPandas, local[4], with the engine's daemon);
        # same-host communication in any deployment.
        .config("spark.python.unix.domain.socket.enabled", "true")
        # Keep generated code across queries (static: builder only).
        .config(_CODEGEN_CACHE_CONF, str(CODEGEN_CACHE_ENTRIES))
        # Python workers without Spark's archives (static: builder only).
        .config(_PYTHON_DAEMON_CONF, PYTHON_DAEMON_MODULE)
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_ROOT)
    )
    for k, v in RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    log4j = spark._jvm.org.apache.logging.log4j
    log4j.core.config.Configurator.setLevel(WINDOW_EXEC_LOGGER, log4j.Level.ERROR)
    return apply_runtime_confs(spark)


from contextlib import contextmanager


@contextmanager
def scheduler_pool(spark: SparkSession, pool: str):
    """Run the enclosed actions in a named FAIR-scheduler pool.

    Multi-tenant serving shares ONE session across request threads;
    Spark's scheduler pools stop a tenant's heavy query from starving
    another's interactive one. The pool assignment is a THREAD-LOCAL
    property, so each serving thread wraps its work in this context and
    concurrent tenants schedule fairly (requires the session built with
    ``spark.scheduler.mode=FAIR`` — get_spark sets it; in the default
    FIFO mode the property is accepted and simply has no effect, so the
    code path is deployment-agnostic)."""
    sc = spark.sparkContext
    prev = sc.getLocalProperty("spark.scheduler.pool")
    sc.setLocalProperty("spark.scheduler.pool", pool)
    try:
        yield
    finally:
        sc.setLocalProperty("spark.scheduler.pool", prev)
