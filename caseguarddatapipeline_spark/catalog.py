"""Assembles the engine's query catalog: name → (spark fn, oracle SQL).

The driver contract (``__spark_entry__.py``) exposes exactly this catalog.
Modules register their QUERIES/ORACLES dicts here, one name per function;
a second catalog name for the same body lives only in ``ALIASES``. A query
without an oracle gets the driver's weaker rows-only check (reserved for
genuinely non-SQL-expressible operators — hash-based near-dup candidates,
pandas-UDF inference stubs, stateful streaming).

Ordering contract: the driver's CORRECTNESS record covers the first 50
catalog entries in registration order — the "window". Round 12 replaced
the hand-maintained priority list with a MECHANICAL rotation (verdict
item 5): the window is ``_PINNED`` (the flagship + every entry NEW this
round, so the zero-debt policy stays structural) followed by the
STALEST oracle-backed queries — ascending (latest driver hash-green
round, name), from the generated ``_window_state.LAST_GREEN``
(tools/rotation.py scans CORRECTNESS_r*.json). Re-entry bound =
ceil(N_oracle_backed / (50 − |pins|)) rounds, mechanically: a typical
round pins 3-5 additions (≈45 rotation slots → every query re-proven
within ~6 rounds); round 12's unusually wide surface pins 15, still
bounding re-entry at ~7. No cohort can go stale the way the
round-1-5 cohorts did under the manual list (rounds 1-11's swap
history is in git: this file @ d49cd42).
Rows-only entries can never turn a slot green, so they are permanently
outside the window; the one left (a16_approx_distinct_users) carries its
exact evidence in pytest: ±rel-sd vs exact distinct by documented policy.
"""

from __future__ import annotations

import importlib
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from ._window_state import LAST_GREEN

QueryFn = Callable[[SparkSession, str], DataFrame]

_WINDOW_SLOTS = 50

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

# The flagship plus every catalog entry ADDED this round (zero-debt
# policy: new queries are driver-verified the round they ship); the
# remaining ~48 slots fill stalest-first from LAST_GREEN.
_PINNED = [
    "a1_reconciliation_summary",  # flagship continuity pin (r1-)
    # round-14 optimization restructures (zero-debt extends to CHANGED
    # internals, not just new entries): the 128-bit two-seed span key,
    # the BPE shared words exchange, the bounded e5 caps collect,
    # localCheckpoint label propagation (and its two curation
    # dependents), the gated simhash fan-out hint, and the
    # position-tagged fuzzy blocking.
    "e1_span_dedup_sql",
    "e3_bpe_encode_sql",
    "e5_global_token_budget_sql",
    "e1_dedup_clusters",
    "e5_soft_dedup_sample",
    "e5_leakage_safe_split",
    "e1_simhash",
    "e1_fuzzy_name_match",
    # round-13 advice (medium): e3_trigram_familiarity's two-level
    # aggregation restructure shipped in r13 without a driver hash-green
    # (it was neither pinned nor rotation-due) — pin it now so the
    # changed aggregation is oracle-verified per the stated policy.
    "e3_trigram_familiarity",
    # one body per operator: each name below now runs its surviving twin
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_regional_volume",
    "q18_large_orders",
    "e3_bpe_encode",
    "e5_global_token_budget",
    "e2_cosine_topk",
    "e2_knn_per_query",
    "e3_zscore_by_source",
    "e5_curriculum_order",
    "e5_token_budget_sample",
    # one MinHash kernel, one LSH tail, one span-dedup body, one SQ8
    # ranking: each name below now executes a changed body
    "e1_minhash_lsh",
    "e1_minhash_lsh_vectorized",
    "e1_span_dedup",
    "e2_sq8_search",
    "e2_sq8_refine_search",
    "e2_sq8_recall",
    "e5_dedup_report",
    "e5_corpus_curation",
    "e5_curation_funnel",
    # one exact distributed rank: both names now rank through
    # topk.exact_rank instead of a single-partition window
    "e5_global_shuffle",
    "w5_batch_numbering",
    # one reconciliation body: both a1 names and the a19 quality gate now
    # run the one SQL detail text
    "a1_reconciliation_summary_sql",
    "a19_reconciliation_quality",
    # one document-extraction stage: each name below now routes its bytes
    # through docparse (text_stage, or dispatch_stage over PARSERS)
    "u3_binary_dispatch",
    "e4_pdf_text",
    "e4_docx_text",
    "e4_pptx_text",
    "e4_xlsx_cells",
    "e4_eml_text",
    "e4_msg_text",
    "e4_doc_text",
    "e4_xls_cells",
    "e4_ppt_text",
    "e4_rtf_text",
]


def _window(names: list[str], oracles: dict[str, str]) -> list[str]:
    """The driver's 50-slot correctness window: pinned entries first,
    then every oracle-backed query ascending by (latest hash-green
    round, name) — so the stalest cohort rotates in every round."""
    for n in _PINNED:
        assert n in names, f"pinned window entry is not in the catalog: {n}"
        assert n in oracles, f"pinned window entry lacks an oracle: {n}"
    rot = sorted(
        (n for n in names if n in oracles and n not in _PINNED),
        key=lambda n: (LAST_GREEN.get(n, 0), n),
    )
    return (_PINNED + rot)[:_WINDOW_SLOTS]


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

    ordered: dict[str, QueryFn] = {}
    for name in _window(list(queries), oracles):
        ordered[name] = queries[name]
    for name, fn in queries.items():
        if name not in ordered:
            ordered[name] = fn
    return ordered, oracles


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
