"""Distribution statistics + reconciliation quality validation.

- a18: exact interpolated percentiles per group (the dashboard's avg/max
  metrics surface, widened to medians/tails — `percentile` is the exact
  sort-based aggregate; at 100 TB swap to `percentile_approx` whose
  t-digest sketch merges map-side, same query shape).
- a19: the reference's reconciliation quality gate
  (etl/reconciliation.py:324-405): change-rate ≤ 20%, CRM↔store count
  divergence ≤ 10%, composite quality verdict — computed from the fused
  reconciliation detail in one pass.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..sources import load_table
from .reconcile import CHANGE_RATE_MAX, COUNT_DIVERGENCE_MAX, reconcile_fused


def a18_value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median / p90 / p99 of event value per event type (exact,
    interpolated — matches DuckDB quantile_cont)."""
    events = load_table(spark, sf_dir, "events")
    return events.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.percentile("value", F.lit(0.5)), 4).alias("p50"),
        F.round(F.percentile("value", F.lit(0.9)), 4).alias("p90"),
        F.round(F.percentile("value", F.lit(0.99)), 4).alias("p99"),
    )


def approx_value_percentiles(
    spark: SparkSession, sf_dir: str, accuracy: int = 10000
) -> DataFrame:
    """The mergeable-sketch deployment form of a18: percentile_approx
    builds a bounded-size quantile sketch per partition and MERGES
    map-side, so the exact form's per-group sort never happens — at
    100 TB this is the only viable shape (same swap a16 makes for
    distinct counts). Rank error ≤ 1/accuracy; pinned against the exact
    operator by tests/test_quality.py rather than a value-hash oracle
    (approximate results can't hash-match DuckDB)."""
    events = load_table(spark, sf_dir, "events")
    return events.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.percentile_approx("value", 0.5, accuracy).alias("p50"),
        F.percentile_approx("value", 0.9, accuracy).alias("p90"),
        F.percentile_approx("value", 0.99, accuracy).alias("p99"),
    )


def a19_reconciliation_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality validation over the reconciliation result
    (reconciliation.py:324-405): one summary row with change rate, count
    consistency, and the pass/warn verdicts."""
    detail = reconcile_fused(spark, sf_dir)
    crm_seen = F.count(F.when(F.col("change_type") != "deactivated", 1))
    store_seen = F.count(F.when(F.col("change_type") != "new", 1))
    changes = F.count(
        F.when(F.col("change_type").isin("new", "deactivated", "update"), 1)
    )
    agg = detail.agg(
        F.count(F.lit(1)).alias("n_total"),
        crm_seen.alias("n_crm"),
        store_seen.alias("n_store"),
        changes.alias("n_changes"),
    )
    change_rate = F.col("n_changes").cast("double") / F.col("n_total")
    divergence = F.abs(F.col("n_crm") - F.col("n_store")).cast("double") / F.greatest(
        F.col("n_crm"), F.col("n_store")
    )
    return agg.select(
        "n_total",
        "n_crm",
        "n_store",
        "n_changes",
        F.round(change_rate, 6).alias("change_rate"),
        F.round(divergence, 6).alias("count_divergence"),
        (change_rate <= CHANGE_RATE_MAX).alias("change_rate_ok"),
        (divergence <= COUNT_DIVERGENCE_MAX).alias("count_consistency_ok"),
        (
            (change_rate <= CHANGE_RATE_MAX) & (divergence <= COUNT_DIVERGENCE_MAX)
        ).alias("quality_ok"),
    )


KNUTH = 2654435761  # golden-ratio multiplicative hash constant
MOD = 4294967296  # 2^32


def p8_stable_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stable 10% sample + train/eval split by key (the sample-validation
    pattern at onboard_tenant.py:81-151, upgraded to the deterministic
    split a training pipeline needs): bucket = (key × Knuth) mod 2³² is a
    well-mixed hash both engines compute exactly in int64, so the same row
    lands in the same split on every run, engine, and cluster size — no
    RNG, no seed coordination, rows never move between train and eval when
    the corpus grows. Products stay < 2⁶³ (keys < 2³¹), ANSI-safe."""
    orders = load_table(spark, sf_dir, "orders")
    bucket = F.pmod(F.col("o_orderkey") * F.lit(KNUTH), F.lit(MOD))
    return (
        orders.withColumn("bucket", bucket)
        .filter(F.col("bucket") < MOD // 10)
        .select(
            "o_orderkey",
            "o_totalprice",
            F.when(F.col("bucket") < MOD // 50, "eval")
            .otherwise("train")
            .alias("split"),
        )
    )


def a20_priority_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: order counts per status (rows) × priority class (columns).
    Explicit pivot values keep the output schema static — at scale an
    unbounded pivot would need a distinct-scan planning pass first."""
    orders = load_table(spark, sf_dir, "orders")
    pclass = (
        F.when(F.col("o_orderpriority").startswith("1"), "p1")
        .when(F.col("o_orderpriority").startswith("2"), "p2")
        .otherwise("p_other")
    )
    return (
        orders.select("o_orderstatus", pclass.alias("pclass"))
        .groupBy("o_orderstatus")
        .pivot("pclass", ["p1", "p2", "p_other"])
        .count()
        .na.fill(0)
    )


def a21_unpivot_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot/melt: per-status wide aggregates (n, avg, max) melted into
    (status, metric, value) long form — the export shape for metric
    sinks. `unpivot` is a pure projection over the tiny agg output."""
    orders = load_table(spark, sf_dir, "orders")
    wide = orders.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).cast("double").alias("n_orders"),
        F.round(F.avg("o_totalprice"), 4).alias("avg_price"),
        F.round(F.max("o_totalprice"), 4).alias("max_price"),
    )
    return wide.unpivot(
        "o_orderstatus",
        ["n_orders", "avg_price", "max_price"],
        "metric",
        "value",
    )


def a28_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-granularity corpus counts in ONE pass: per (source, lang),
    per source, per lang, and the grand total via GROUPING SETS — the
    explicit-set sibling of a14's cube (cube enumerates ALL 2ⁿ subsets;
    grouping sets names exactly the granularities a dashboard serves).
    grouping_id disambiguates the NULL-as-ALL rows from genuine NULLs.
    One shuffle: Spark expands rows per set map-side, then a single
    partial+final hash aggregate — same plan family as cube/rollup."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.groupingSets(
            [["source", "lang"], ["source"], ["lang"], []], "source", "lang"
        )
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.grouping_id("source", "lang").alias("gid"),
        )
    )


QUERIES = {
    "a18_value_percentiles": a18_value_percentiles,
    "a19_reconciliation_quality": a19_reconciliation_quality,
    "a20_priority_pivot": a20_priority_pivot,
    "a21_unpivot_metrics": a21_unpivot_metrics,
    "a28_grouping_sets": a28_grouping_sets,
    "p8_stable_sample": p8_stable_sample,
}

_DETAIL_CTE = """
crm AS (
    SELECT user_id AS entity_id, max(event_id) AS crm_serialno,
           count(*) AS crm_event_count
    FROM events GROUP BY user_id
), store AS (
    SELECT c_custkey FROM customer WHERE c_custkey % 11 <> 3
), tagged AS (
    SELECT CASE WHEN store.c_custkey IS NULL THEN 'new'
                WHEN crm.entity_id IS NULL THEN 'deactivated'
                WHEN crm.crm_serialno >
                     coalesce(CASE WHEN store.c_custkey % 3 = 0
                                   THEN coalesce(crm.crm_serialno, 0)
                                   ELSE coalesce(crm.crm_serialno, 0) - 5 END, 0)
                     THEN 'update'
                ELSE 'unchanged' END AS change_type
    FROM crm FULL OUTER JOIN store ON crm.entity_id = store.c_custkey
)
"""

ORACLES = {
    "a28_grouping_sets": """
        SELECT source, lang,
               count(*) AS n_docs,
               CAST(sum(n_chars) AS BIGINT) AS total_chars,
               CAST(grouping(source, lang) AS INT) AS gid
        FROM documents
        GROUP BY GROUPING SETS ((source, lang), (source), (lang), ())
    """,
    "a20_priority_pivot": """
        SELECT o_orderstatus,
               count(CASE WHEN o_orderpriority LIKE '1%' THEN 1 END) AS p1,
               count(CASE WHEN o_orderpriority LIKE '2%' THEN 1 END) AS p2,
               count(CASE WHEN o_orderpriority NOT LIKE '1%'
                           AND o_orderpriority NOT LIKE '2%' THEN 1 END)
                   AS p_other
        FROM orders GROUP BY o_orderstatus
    """,
    "a21_unpivot_metrics": """
        WITH wide AS (
            SELECT o_orderstatus,
                   CAST(count(*) AS DOUBLE) AS n_orders,
                   round(avg(o_totalprice), 4) AS avg_price,
                   round(max(o_totalprice), 4) AS max_price
            FROM orders GROUP BY o_orderstatus
        )
        SELECT o_orderstatus, 'n_orders' AS metric, n_orders AS value FROM wide
        UNION ALL
        SELECT o_orderstatus, 'avg_price', avg_price FROM wide
        UNION ALL
        SELECT o_orderstatus, 'max_price', max_price FROM wide
    """,
    "p8_stable_sample": """
        WITH b AS (
            SELECT o_orderkey, o_totalprice,
                   (o_orderkey * 2654435761) % 4294967296 AS bucket
            FROM orders
        )
        SELECT o_orderkey, o_totalprice,
               CASE WHEN bucket < 85899345 THEN 'eval' ELSE 'train' END AS split
        FROM b WHERE bucket < 429496729
    """,
    "a18_value_percentiles": """
        SELECT event_type,
               count(*) AS n_events,
               round(quantile_cont(value, 0.5), 4) AS p50,
               round(quantile_cont(value, 0.9), 4) AS p90,
               round(quantile_cont(value, 0.99), 4) AS p99
        FROM events GROUP BY event_type
    """,
    "a19_reconciliation_quality": f"""
        WITH {_DETAIL_CTE}
        SELECT count(*) AS n_total,
               count(CASE WHEN change_type <> 'deactivated' THEN 1 END) AS n_crm,
               count(CASE WHEN change_type <> 'new' THEN 1 END) AS n_store,
               count(CASE WHEN change_type IN ('new','deactivated','update')
                          THEN 1 END) AS n_changes,
               round(CAST(count(CASE WHEN change_type IN
                               ('new','deactivated','update') THEN 1 END) AS DOUBLE)
                     / count(*), 6) AS change_rate,
               round(CAST(abs(count(CASE WHEN change_type <> 'deactivated' THEN 1 END)
                              - count(CASE WHEN change_type <> 'new' THEN 1 END))
                          AS DOUBLE)
                     / greatest(count(CASE WHEN change_type <> 'deactivated' THEN 1 END),
                                count(CASE WHEN change_type <> 'new' THEN 1 END)), 6)
                   AS count_divergence,
               (CAST(count(CASE WHEN change_type IN ('new','deactivated','update')
                                THEN 1 END) AS DOUBLE) / count(*)) <= 0.2
                   AS change_rate_ok,
               (CAST(abs(count(CASE WHEN change_type <> 'deactivated' THEN 1 END)
                         - count(CASE WHEN change_type <> 'new' THEN 1 END)) AS DOUBLE)
                / greatest(count(CASE WHEN change_type <> 'deactivated' THEN 1 END),
                           count(CASE WHEN change_type <> 'new' THEN 1 END))) <= 0.1
                   AS count_consistency_ok,
               ((CAST(count(CASE WHEN change_type IN ('new','deactivated','update')
                                 THEN 1 END) AS DOUBLE) / count(*)) <= 0.2
                AND (CAST(abs(count(CASE WHEN change_type <> 'deactivated' THEN 1 END)
                              - count(CASE WHEN change_type <> 'new' THEN 1 END))
                          AS DOUBLE)
                     / greatest(count(CASE WHEN change_type <> 'deactivated' THEN 1 END),
                                count(CASE WHEN change_type <> 'new' THEN 1 END))) <= 0.1)
                   AS quality_ok
        FROM tagged
    """,
}
