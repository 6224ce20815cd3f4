"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship CRM↔store reconciliation query
(SURVEY.md §3.2) at sf0.001. ``queries()``/``oracle_sql()`` expose the
engine's full catalog (caseguarddatapipeline_spark.catalog).
"""

from __future__ import annotations

import sys
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

_REPO_ROOT = str(Path(__file__).resolve().parent)
if _REPO_ROOT not in sys.path:
    sys.path.insert(0, _REPO_ROOT)

from caseguarddatapipeline_spark.catalog import build_catalog  # noqa: E402
from caseguarddatapipeline_spark.operators.reconcile import (  # noqa: E402
    a1_reconciliation_summary,
)

_QUERIES, _ORACLES = build_catalog()


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return a1_reconciliation_summary(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return dict(_QUERIES)


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL oracle per query (rows-only check if absent)."""
    return dict(_ORACLES)
