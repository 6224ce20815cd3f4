"""Assembles the engine's query catalog: name → (spark fn, oracle SQL), in
module registration order with the rows-only names moved to the end.

Tier-1 (``tests/test_catalog.py``) runs every name at sf0.001 and checks
each oracle-backed one against its DuckDB oracle with ``tools.parity.compare``.
"""

from __future__ import annotations

import importlib
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

# Catalog names served by another name's body: alias → canonical name. The
# alias is the canonical name's function object, so the two cannot drift
# apart. An alias inherits the canonical name's oracle unless its own
# module registers a distinct text for it (q5, q18 and a1 do).
ALIASES = {
    "q1_pricing_summary_sql": "q1_pricing_summary",
    "q3_shipping_priority_sql": "q3_shipping_priority",
    "q5_regional_volume_sql": "q5_regional_volume",
    "q18_large_orders_sql": "q18_large_orders",
    "e3_bpe_encode_sql": "e3_bpe_encode",
    "e5_global_token_budget_sql": "e5_global_token_budget",
    "e3_zscore_by_source_scaled": "e3_zscore_by_source",
    "e5_curriculum_order_scaled": "e5_curriculum_order",
    "e5_token_budget_sample_scaled": "e5_token_budget_sample",
    "e1_minhash_lsh_vectorized": "e1_minhash_lsh",
    "e1_span_dedup_sql": "e1_span_dedup",
    "e2_sq8_search_sql": "e2_sq8_search",
    "a1_reconciliation_summary_sql": "a1_reconciliation_summary",
}


def build_catalog() -> tuple[dict[str, QueryFn], dict[str, str]]:
    queries: dict[str, QueryFn] = {}
    oracles: dict[str, str] = {}

    for module in _registered_modules():
        for name, fn in module.QUERIES.items():
            assert name not in queries, f"duplicate query name {name}"
            queries[name] = fn
        for name, sql in getattr(module, "ORACLES", {}).items():
            owner = ALIASES.get(name, name)
            assert owner in module.QUERIES, f"oracle without query: {name}"
            oracles[name] = sql
    for alias, canonical in ALIASES.items():
        assert canonical in queries, f"alias of a missing name: {alias}"
        assert alias not in queries, f"duplicate query name {alias}"
        queries[alias] = queries[canonical]
        if canonical in oracles:
            oracles.setdefault(alias, oracles[canonical])

    return dict(sorted(queries.items(), key=lambda kv: kv[0] not in oracles)), oracles


def _registered_modules():
    return [
        importlib.import_module(f"caseguarddatapipeline_spark.operators.{name}")
        for name in (
            "reconcile", "relational",
            "scalar", "scalar2", "relational2", "relational3", "relational4",
            "relational5", "relational6", "relational7", "relational8",
            "relational9", "relational10", "profiling", "timeseries",
            "quality",
            "skew", "sessions", "textops", "dedup", "curation", "similarity",
            "pq", "vecindex", "layout", "topk",
            "multimodal", "pdfops", "docxops", "xlsxops", "mailops", "rtfops",
            "cfbops", "wordops", "biffops", "pptops", "archiveops",
            "incremental", "inference", "rest_fetch", "canonical",
            "soap_fetch",
        )
    ]
