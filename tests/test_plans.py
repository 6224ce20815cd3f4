"""Physical-plan shape regression tests: the properties that carry to
100 TB (broadcasts where intended, no shuffle on bucketed joins, pushdown
reaching scans, top-k without a global sort)."""

from __future__ import annotations

import pyspark.sql.functions as F

from caseguarddatapipeline_spark.catalog import build_catalog
from caseguarddatapipeline_spark.sources import load_table
from caseguarddatapipeline_spark.sources.bucketing import (
    colocated_join,
    write_bucketed,
)

QUERIES, _ = build_catalog()


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_dim_joins_broadcast(spark, sf_dir):
    for name in ("j5_brand_revenue", "j7_region_dim_join", "q3_shipping_priority",
                 "q5_regional_volume", "q18_large_orders", "q2_min_cost_supplier",
                 "q9_product_profit"):
        plan = _plan(QUERIES[name](spark, sf_dir))
        assert "BroadcastExchange" in plan, f"{name} lost its broadcast:\n{plan}"


def test_headline_joins_force_no_corpus_broadcast(spark, sf_dir):
    # customer and orders grow with the corpus: the Q3/Q5 shapes leave the
    # join strategy to Catalyst and AQE (test_dim_joins_broadcast still
    # sees its BroadcastExchange at fixture scale); Q18 keeps exactly one
    # hint, on the HAVING-filtered aggregate `big`
    for name, n_hints in (("q3_shipping_priority", 0), ("q5_regional_volume", 0),
                          ("q18_large_orders", 1)):
        df = QUERIES[name](spark, sf_dir)
        analyzed = df._jdf.queryExecution().analyzed().toString()
        assert analyzed.count("strategy=broadcast") == n_hints, f"{name}:\n{analyzed}"


# Unpartitioned windows over METADATA-sized relations, each with the
# reason the relation stays small at any corpus size. Any other Window
# with an empty partition spec sorts its whole input in one task. The
# offset window of topk.exact_rank (a running sum over its
# `_bucket_cnt` histogram, #buckets rows) needs no entry.
METADATA_WINDOWS = {
    "f20_ratio_metrics": "share of total over the per-status aggregate "
    "(one row per case status)",
    "e2_index_stats": "corpus-wide totals over the per-cell occupancy "
    "rows (one row per IVF cell)",
    "e5_weighted_mixture": "weighted_mixture_plan's water-level search "
    "over the per-source totals (one row per source)",
    "e5_global_token_budget": "the one-statement fallback's sorted "
    "per-source totals (one row per source)",
    "e5_global_token_budget_sql": "same body as e5_global_token_budget",
}

# the global budget's fallback (its BNLJ and its totals windows) is taken
# past _GLOBAL_BUDGET_MAX_SOURCES sources
_FALLBACK_ONLY = {"e5_global_token_budget", "e5_global_token_budget_sql"}


def _jlist(seq) -> list:
    out, it = [], seq.iterator()
    while it.hasNext():
        out.append(it.next())
    return out


def _windows(plan):
    """(partition spec as strings, window expressions) of every Window
    node in an optimized plan, subquery plans included."""
    stack = [plan]
    while stack:
        node = stack.pop()
        if node.nodeName() == "Window":
            spec = [e.toString() for e in _jlist(node.partitionSpec())]
            yield spec, node.windowExpressions().toString()
        stack += _jlist(node.children()) + _jlist(node.subqueries())


def test_no_corpus_sized_window(spark, sf_dir, monkeypatch):
    # the 100 TB rule as a plan lint: no catalog name may plan a Window
    # without a partition spec unless it is exact_rank's histogram-offset
    # window or an allowlisted metadata-sized one; a stale entry fails
    import re

    from caseguarddatapipeline_spark.operators import quality

    helper = re.compile(r"sum\(_bucket_cnt#\d+L?\)")
    offenders, live = {}, set()
    for name, fn in QUERIES.items():
        with monkeypatch.context() as m:
            if name in _FALLBACK_ONLY:
                m.setattr(quality, "_GLOBAL_BUDGET_MAX_SOURCES", 0)
            plan = fn(spark, sf_dir)._jdf.queryExecution().optimizedPlan()
        for spec, exprs in _windows(plan):
            if helper.search(exprs):
                continue
            if not spec and name in METADATA_WINDOWS:
                live.add(name)
            elif not spec or (
                # a curriculum window partitioned by band alone holds a
                # quarter of the corpus in one task
                name.startswith("e5_curriculum_order")
                and len(spec) == 1
                and re.fullmatch(r"band#\d+", spec[0])
            ):
                offenders.setdefault(name, []).append(exprs)
    assert not offenders, f"corpus-sized windows: {offenders}"
    stale = sorted(set(METADATA_WINDOWS) - live)
    assert not stale, f"METADATA_WINDOWS entries that plan no such window: {stale}"


def test_window_exec_warning_is_silenced(spark):
    # the plan lint above is the check for unpartitioned windows, so the
    # session keeps Spark's per-plan "No Partition Defined" warning out
    # of the log
    from caseguarddatapipeline_spark.session import WINDOW_EXEC_LOGGER

    log4j = spark._jvm.org.apache.logging.log4j
    level = log4j.LogManager.getLogger(WINDOW_EXEC_LOGGER).getLevel()
    assert level.toString() == "ERROR"


def test_topk_no_global_sort(spark, sf_dir):
    plan = _plan(QUERIES["a7_top_error_entities"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan, plan


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    plan = _plan(QUERIES["p1_active_filter"](spark, sf_dir))
    assert "PushedFilters: [" in plan
    assert "PushedFilters: []" not in plan, plan


def test_column_pruning(spark, sf_dir):
    # 2-column projection must not read the full lineitem schema
    df = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    plan = _plan(df)
    assert "l_extendedprice" not in plan.split("ReadSchema")[-1]


def test_bucketed_join_is_shuffle_free(spark, sf_dir, tmp_path):
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("entity_id"), "o_orderkey", "o_totalprice"
    )
    customers = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("entity_id"), "c_mktsegment"
    )
    write_bucketed(orders, "b_orders", "entity_id", path=str(tmp_path / "bo"))
    write_bucketed(customers, "b_customers", "entity_id", path=str(tmp_path / "bc"))
    # at test scale the planner rightly prefers broadcasting the tiny side
    # (bucketing "disabled by query planner"); force the SMJ path to prove
    # the co-located property that matters when neither side broadcasts
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = colocated_join(spark, "b_orders", "b_customers", "entity_id")
        plan = _plan(joined)
        assert "SortMergeJoin" in plan, plan
        assert "Exchange" not in plan, f"bucketed join still shuffles:\n{plan}"
        assert joined.count() == orders.join(customers, "entity_id").count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_q7_q8_dims_broadcast_single_fact_shuffle(spark, sf_dir):
    # Q7/Q8 shapes: every dimension (nation, region, part, supplier)
    # broadcasts; only lineitem⋈orders⋈customer shuffle on their keys.
    for name in ("q7_volume_shipping", "q8_market_share", "q14_promo_revenue"):
        plan = _plan(QUERIES[name](spark, sf_dir))
        assert "BroadcastExchange" in plan, f"{name} lost its broadcast:\n{plan}"


def test_q8_share_is_single_aggregate(spark, sf_dir):
    # the conditional-sum/total-sum ratio must be ONE aggregate pass,
    # not a self-join of two aggregates
    plan = _plan(QUERIES["q8_market_share"](spark, sf_dir))
    # partial+final = 2 HashAggregate nodes for one logical aggregate
    assert plan.count("HashAggregate") <= 2, plan


def test_curation_removals_broadcast_anti_join(spark, sf_dir):
    # the removal set carries NO broadcast hint (it is data-dependent and
    # can be 10%+ of a crawl-heavy corpus — forcing it is an OOM at
    # scale); on this corpus Catalyst's size estimate still chooses a
    # broadcast anti-join on its own, and under AQE the runtime size
    # re-decides per batch
    plan = _plan(QUERIES["e5_corpus_curation"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan


def test_fuzzy_name_match_forces_no_broadcast(spark, sf_dir):
    # both join sides are customer projections that grow with the corpus;
    # forcing either into a broadcast is an OOM at scale, so the join
    # strategy is left to the optimizer and AQE
    df = QUERIES["e1_fuzzy_name_match"](spark, sf_dir)
    analyzed = df._jdf.queryExecution().analyzed().toString()
    assert "strategy=broadcast" not in analyzed, analyzed


# Queries whose BroadcastNestedLoopJoin is a BOUNDED broadcast side — a
# 1-row scalar aggregate or a fixed O(1) query set — so the "loop" is O(n·1):
# the correct plan, not a quadratic risk. Everything else must ride an
# equi-key (blocking/banding/bucketing).
BNLJ_BOUNDED = {
    "q11_important_stock": "scalar threshold subquery (1-row broadcast)",
    "e5_domain_mixture": "corpus totals scalar (1-row broadcast)",
    "e5_global_token_budget": "the one-statement fallback's water-level "
    "scalar from the #sources-row totals table (1-row broadcast)",
    "t13_incremental_rollup": "cutoff-date scalar (1-row broadcast)",
    "q22_dormant_customers": "scalar avg-acctbal subquery (1-row broadcast)",
    "t12_range_join_state": "event-horizon scalar (1-row broadcast)",
    "e3_tfidf_term": "corpus df/total stats (1-row broadcast)",
    "e3_ranked_search": "corpus total-docs scalar (1-row broadcast)",
    "e3_bm25_search": "corpus (n_docs, sum_dl) scalar (1-row broadcast)",
    "e3_vocab_induction_2round": "round-1 winning merge pair (1-row broadcast)",
    "e3_bpe_encode_nround": "the 4-round learned merge table (1-row "
    "broadcasts, one per unrolled round)",
    "a32_psi_drift": "time-cutoff scalar + fixed 6-bin/2-phase spine "
    "(1-, 6- and 2-row broadcasts)",
    "e5_curation_funnel": "funnel stage counts (scalar aggregates)",
    "e2_cosine_topk": "single query vector (1-row broadcast)",
    "e2_knn_per_query": "fixed 5-vector query set broadcast",
    "e2_cosine_topk_vectorized": "small-corpus route → same 1-row-broadcast plan",
    "e2_knn_per_query_vectorized": "small-corpus route → same 5-row-broadcast plan",
    "e2_pq_recall": "exact-side ground truth vs fixed 5-vector query set "
    "broadcast (same shape as e2_knn_per_query)",
    "e1_ngram_jaccard": "documented capped verification stage behind the "
    "LSH candidate generator (dedup.py e1_minhash_lsh)",
    "e2_hard_negatives": "label-inequality negative mining vs fixed "
    "5-vector query set broadcast (IVF-composable at scale, see docstring)",
    "e2_sq8_search": "per-dimension bounds row (1-row broadcast) + fixed "
    "5-vector query set broadcast (same shape as e2_knn_per_query; "
    "IVF-composable at scale, see docstring); same body as "
    "e2_sq8_search_sql",
    "e3_ngram_lm_score": "vocabulary-size scalar (1-row broadcast)",
    "e5_mixture_epochs": "corpus totals scalar (1-row broadcast, same "
    "shape as e5_domain_mixture)",
    "e3_dsir_weights": "model totals (n_raw, n_tgt, V) scalar "
    "(1-row broadcast)",
    "e2_sq8_recall": "exact-side ground truth vs fixed 5-vector query "
    "set broadcast + the composed e2_sq8_search (same shape as "
    "e2_pq_recall)",
    "e5_weighted_mixture": "weighted water-level λ pair from the "
    "#sources-row totals table (1-row broadcasts, same shape as "
    "e5_global_token_budget)",
    "e2_ivfsq8_recall": "exact-side ground truth vs fixed 5-vector query "
    "set broadcast (the composed e2_ivfsq8_search_1round itself routes "
    "by cell equi-join; same shape as e2_pq_recall)",
    "e5_curriculum_order": "corpus-count scalar (1-row broadcast) "
    "feeding the ntile arithmetic; both rank windows are bucketed",
    "e5_curriculum_order_scaled": "same body as e5_curriculum_order",
    "e3_bpe_encode": "the two learned merges ride 1-row broadcasts into "
    "the per-document encode projection (e3_vocab_induction_2round's "
    "winner-broadcast shape)",
    "e2_sq8_refine_search": "per-dimension bounds row (1-row broadcast) + "
    "fixed 5-vector query set broadcast, same shape as e2_sq8_search; the "
    "refine stage's exact re-rank joins candidate vec_ids back by equi-key "
    "point-lookup, so the only BNLJ sides are the two bounded broadcasts",
    # the `_sql` catalog names: each is the same body as its operator
    "e3_bpe_encode_sql": "same body as e3_bpe_encode",
    "e5_global_token_budget_sql": "same body as e5_global_token_budget",
    "e2_sq8_search_sql": "same body as e2_sq8_search",
    "e5_temperature_mixture": "corpus (total, sqrt-mass) scalar "
    "(1-row broadcast, e5_domain_mixture's shape)",
    "e2_binary_search": "per-dimension midpoint row (1-row broadcast) + "
    "fixed 5-query packed-code broadcast (e2_sq8_search's shape at "
    "1-bit resolution)",
    "e2_binary_recall": "exact-side ground truth vs fixed 5-vector "
    "query set broadcast + the composed e2_binary_search (same shape "
    "as e2_sq8_recall)",
    "e3_ccnet_buckets": "the composed e3_ngram_lm_score's "
    "vocabulary-size scalar (1-row broadcast)",
    "e5_global_shuffle": "corpus-count scalar (1-row broadcast) feeding "
    "the ntile arithmetic; the rank window is bucketed",
    "w5_batch_numbering": "o_orderkey [min, max] bounds row (1-row "
    "broadcast) that cuts the rank buckets",
}


def test_no_nested_loop_or_cartesian_anywhere(spark, sf_dir):
    # Catalog-wide scale pin: no operator may plan a CartesianProduct, and
    # BroadcastNestedLoopJoin only with a bounded (scalar/fixed-size)
    # broadcast side per BNLJ_BOUNDED. A theta join hiding behind a row
    # cap passes small-scale correctness but is quadratic at 100 TB; this
    # catches it at plan-build time.
    offenders = {}
    for name, fn in QUERIES.items():
        plan = _plan(fn(spark, sf_dir))
        bad = []
        if "CartesianProduct" in plan:
            bad.append("CartesianProduct")
        if "BroadcastNestedLoopJoin" in plan and name not in BNLJ_BOUNDED:
            bad.append("BroadcastNestedLoopJoin")
        if bad:
            offenders[name] = bad
    assert not offenders, f"nested-loop/cartesian plans: {offenders}"


def test_bnlj_allowlist_is_live(spark, sf_dir, monkeypatch):
    # an allowlist entry whose query plans no BroadcastNestedLoopJoin is
    # stale: it would wave a future quadratic plan through unreviewed
    from caseguarddatapipeline_spark.operators import quality

    stale = []
    for name in BNLJ_BOUNDED:
        with monkeypatch.context() as m:
            if name in _FALLBACK_ONLY:
                m.setattr(quality, "_GLOBAL_BUDGET_MAX_SOURCES", 0)
            plan = _plan(QUERIES[name](spark, sf_dir))
        if "BroadcastNestedLoopJoin" not in plan:
            stale.append(name)
    assert not stale, f"BNLJ_BOUNDED entries that plan no BNLJ: {stale}"


def test_curation_shuffle_budget(spark, sf_dir):
    # pipeline contract: exact-dedup window (persisted, computed once),
    # kernel repartition, LSH bucket groupBy, removal distinct, summary
    # agg, ordered output — six shuffles, none quadratic. A regression
    # that adds one (losing the removals broadcast, recomputing the
    # dedup stage per consumer) must fail here.
    import re

    # start from a cold cache: once another test has materialized the
    # persisted dedup stage, the two consumer printouts of the cached
    # subplan stop sharing plan_ids and the dedup-by-id undercounts
    spark.catalog.clearCache()
    plan = _plan(QUERIES["e5_corpus_curation"](spark, sf_dir))
    # count DISTINCT shuffle exchanges: a persisted subplan's exchange is
    # printed once per consumer but executed once
    ids = {
        m.group(1)
        for m in re.finditer(r"(?<!Broadcast)Exchange \w+artitioning.*?\[plan_id=(\d+)\]", plan)
    }
    assert len(ids) <= 6, f"{len(ids)} shuffle exchanges:\n{plan}"
