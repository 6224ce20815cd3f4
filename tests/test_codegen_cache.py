"""Generated code survives across queries.

Spark keeps compiled whole-stage code in an LRU whose size is the static
conf ``spark.sql.codegen.cache.maxEntries`` (default 100). The serving
classes generate ~330 distinct classes (290 compiles on a cold JVM at
sf0.001), so at the default size every warm pass recompiled about 300 of
them. The engine sizes the cache to the catalog's working set; these
tests pin that a warm pass compiles nothing and that a session built
elsewhere with a smaller cache is reported.
"""

from __future__ import annotations

import logging
from types import SimpleNamespace

import bench
from caseguarddatapipeline_spark import session
from caseguarddatapipeline_spark.catalog import build_catalog

# bench's 20 serving queries plus the flagship's DataFrame form
SERVE = [*bench.BENCH_QUERIES, "a1_reconciliation_summary"]


def _compiles(spark) -> int:
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_warm_serving_pass_compiles_nothing(spark, sf_dir):
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(
        session.CODEGEN_CACHE_ENTRIES
    )
    queries, _ = build_catalog()
    counts = []
    for _ in range(2):
        before = _compiles(spark)
        for name in SERVE:
            queries[name](spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
        counts.append(_compiles(spark) - before)
    assert counts[1] == 0, f"warm pass recompiled {counts[1]} classes ({counts})"


def _session_with_cache(entries: str, app_id: str):
    confs = {
        "spark.sql.codegen.cache.maxEntries": entries,
        "spark.python.daemon.module": session.PYTHON_DAEMON_MODULE,
    }
    conf = SimpleNamespace(
        set=lambda k, v: None,
        get=lambda k, default=None: confs.get(k, default),
    )
    return SimpleNamespace(
        conf=conf, sparkContext=SimpleNamespace(applicationId=app_id)
    )


def test_small_codegen_cache_on_a_foreign_session_warns_once(caplog):
    small = _session_with_cache("100", "app-small-codegen-cache")
    with caplog.at_level(logging.WARNING, logger=session.__name__):
        session.apply_runtime_confs(small)
        session.apply_runtime_confs(small)
    warned = [m for m in caplog.messages if "app-small-codegen-cache" in m]
    assert len(warned) == 1, caplog.messages
    assert "spark.sql.codegen.cache.maxEntries" in warned[0]


def test_engine_session_does_not_warn(spark, caplog):
    with caplog.at_level(logging.WARNING, logger=session.__name__):
        session.apply_runtime_confs(spark)
        session.apply_runtime_confs(
            _session_with_cache(
                str(session.CODEGEN_CACHE_ENTRIES), "app-large-codegen-cache"
            )
        )
    assert not caplog.messages, caplog.messages

