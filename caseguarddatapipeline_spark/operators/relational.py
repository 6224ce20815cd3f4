"""Relational core: projections/filters, joins, aggregations, windows.

Covers SURVEY.md §2.2 (P1-P7), §2.3 (J1-J9), §2.4 (A1-A13), §2.5 (W1-W7) —
each function is one named query with a matching ANSI-SQL oracle (DuckDB) in
``ORACLES``. Reference citations are per-function.

Scale notes common to the module:
- Dimension joins (nation/region/part/supplier/customer-at-dim-grain) are
  explicitly ``broadcast()`` — no shuffle of the fact side.
- Aggregations are plain hash aggs: Catalyst plans partial (map-side) +
  final automatically; group keys are the natural low-cardinality columns.
- Top-k uses orderBy+limit which Spark executes as TakeOrderedAndProject
  (per-partition heap + driver merge of k rows, never a full sort-shuffle).
- Window functions partition by the entity key — one shuffle on that key,
  reused by any subsequent same-key operation.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from ..sources import load_table
from ..sources.tables import PLAIN_VIEWS, scoped_views
from .reconcile import crm_snapshot, store_snapshot
from .topk import exact_rank, range_buckets

# --------------------------------------------------------------------------
# P — projections / filters (reference: etl/reconciliation.py:143-167,
# docproc/format_config.py:86-145, proclaim/status_detector.py:99-124)
# --------------------------------------------------------------------------


def p1_active_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Active-entity predicate (reconciliation.py:143-167).

    ``is_active AND lower(status) NOT IN (closed set)`` — expressed so the
    whole predicate pushes down to the parquet scan (no residual filter
    stage; check PushedFilters in .explain).
    """
    orders = load_table(spark, sf_dir, "orders")
    return orders.filter(
        (~F.lower("o_orderstatus").isin("f")) & (F.col("o_totalprice") > 1000.0)
    ).select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")


def p4_document_admission(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document admission + priority classing (format_config.py:86-145).

    ext-allowed/size-cap predicate plus a when/otherwise priority column;
    stands in: source allowlist + n_chars cap on ``documents``.
    """
    docs = load_table(spark, sf_dir, "documents")
    return docs.filter(
        (~F.col("source").isin("src18", "src19"))
        & (F.col("n_chars") >= 20)
        & (F.col("n_chars") <= 450)
    ).select(
        "doc_id",
        "source",
        "n_chars",
        F.when(F.col("n_chars") < 150, F.lit("high"))
        .when(F.col("n_chars") < 300, F.lit("medium"))
        .otherwise(F.lit("low"))
        .alias("priority"),
    )


def p5_status_derivation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Derive is_active from status text (status_detector.py:99-124)."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.select(
        "o_orderkey",
        "o_orderstatus",
        F.when(F.lower("o_orderstatus").isin("f"), F.lit(False))
        .otherwise(F.lit(True))
        .alias("is_active"),
    )


# --------------------------------------------------------------------------
# J — joins / set ops (reference: etl/reconciliation.py:89-97,169-224;
# database/change_tracking.py:126-246; soap_downloader.py:52-89;
# smart_field_retriever.py:159-192; onboard_tenant.py:50-58)
# --------------------------------------------------------------------------


def j1_new_entities_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """New-case anti-join: upstream refs minus stored refs
    (reconciliation.py:89-95). Orders that have no lineitems stand in."""
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    return orders.join(
        lineitem, orders.o_orderkey == lineitem.l_orderkey, "left_anti"
    ).select("o_orderkey", "o_custkey", "o_orderstatus")


def j2_deactivated_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deactivated anti-join: stored refs minus upstream refs
    (reconciliation.py:96). Customers with no orders stand in."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return customer.join(
        orders, customer.c_custkey == orders.o_custkey, "left_anti"
    ).select("c_custkey", "c_name", "c_mktsegment")


def j3_intersect_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Potential-update semi-join: refs present on both sides
    (reconciliation.py:97)."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return customer.join(
        orders, customer.c_custkey == orders.o_custkey, "left_semi"
    ).select("c_custkey", "c_name", "c_nationkey")


def j4_watermark_updates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """High-watermark theta join (reconciliation.py:169-224 +
    change_tracking.py:154-246): keep entities whose upstream serial
    advanced past the stored watermark. Equi-join on the key + theta
    predicate; missing-in-store ⇒ watermark 0 (change_tracking.py:237).

    The reference batches IN-lists of 100 to bound SQL size — unnecessary
    here; one distributed join replaces the whole loop."""
    crm = crm_snapshot(spark, sf_dir)
    store = store_snapshot(spark, sf_dir)
    return (
        crm.join(store, "entity_id", "left")
        .filter(
            F.col("crm_serialno") > F.coalesce(F.col("stored_serialno"), F.lit(0))
        )
        .select(
            "entity_id",
            "crm_serialno",
            F.coalesce(F.col("stored_serialno"), F.lit(0)).alias("stored_serialno"),
        )
    )


def j5_brand_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-lookup join → broadcast hash join (sync_daily.py:183-197).

    The reference builds Python dict lookups; here the small dimension
    (part) is broadcast so the fact scan streams through a broadcast hash
    join with zero shuffle of lineitem. Served as one spark.sql parse
    (round-13 optimization: the method-chain build cost ~34 ms of py4j
    hops per execution); same plan — part is under the auto-broadcast
    threshold, and the BROADCAST hint pins it."""
    v = scoped_views(spark, sf_dir)
    return spark.sql(f"""
        SELECT /*+ BROADCAST(p) */ p_brand,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
               count(1) AS n_items
        FROM {v['lineitem']} JOIN {v['part']} p ON l_partkey = p_partkey
        GROUP BY p_brand
    """)


def j7_region_dim_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Format→MIME-style tiny-dimension join (soap_downloader.py:52-89):
    two-level broadcast dim join, aggregated per region."""
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    return (
        customer.join(
            F.broadcast(nation), customer.c_nationkey == nation.n_nationkey
        )
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(F.avg("c_acctbal"), 4).alias("avg_acctbal"),
        )
    )


def j8_party_type_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Party-type lookup (smart_field_retriever.py:159-192): first party of
    a given type per case → first BUILDING-segment customer per nation via
    a row_number window (dedup-to-first semantics)."""
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    w = Window.partitionBy("c_nationkey").orderBy("c_custkey")
    first_building = (
        customer.filter(F.lower("c_mktsegment") == "building")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
    )
    return first_building.join(
        F.broadcast(nation), first_building.c_nationkey == nation.n_nationkey
    ).select("n_nationkey", "n_name", F.col("c_name").alias("claimant_name"))


def j9_union_case_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Union of active + closed case sets (onboard_tenant.py:50-58)."""
    orders = load_table(spark, sf_dir, "orders")
    active = orders.filter(F.col("o_orderstatus") == "O").select(
        "o_orderkey", F.lit("active").alias("set_tag")
    )
    closed = orders.filter(F.col("o_orderstatus") == "F").select(
        "o_orderkey", F.lit("closed").alias("set_tag")
    )
    return active.unionByName(closed)


# --------------------------------------------------------------------------
# A — aggregations (reference: change_tracking.py:248-326,
# monitoring/dashboard.py:250-286, sync_daily_enhanced.py:158-207)
# --------------------------------------------------------------------------


def a2_activity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Activity-level bucketed counts (change_tracking.py:286-305):
    CASE over per-entity activity count, then GROUP BY bucket."""
    events = load_table(spark, sf_dir, "events")
    per_user = events.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_events"))
    return (
        per_user.select(
            F.when(F.col("n_events") <= 3, F.lit("low"))
            .when(F.col("n_events") <= 10, F.lit("medium"))
            .otherwise(F.lit("high"))
            .alias("activity_level")
        )
        .groupBy("activity_level")
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


def a3_freshness_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Freshness bucketing (sync_daily_enhanced.py:158-207): hours since a
    reference instant, CASE-bucketed, tallied. Fixed literal instant keeps
    the query deterministic (no now())."""
    orders = load_table(spark, sf_dir, "orders")
    as_of = F.to_timestamp_ntz(F.lit("1998-08-01 00:00:00"))
    hours = (
        F.unix_timestamp(as_of.cast("timestamp"))
        - F.unix_timestamp(F.col("o_orderdate").cast("timestamp"))
    ) / F.lit(3600.0)
    return (
        orders.select(
            F.when(hours < 24 * 90, F.lit("fresh"))
            .when(hours < 24 * 365, F.lit("recent"))
            .otherwise(F.lit("stale"))
            .alias("freshness")
        )
        .groupBy("freshness")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


def a4_change_statistics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change statistics (change_tracking.py:248-326): total, recent count
    vs a cutoff, and the update rate ratio — one global agg row."""
    orders = load_table(spark, sf_dir, "orders")
    cutoff = F.to_timestamp_ntz(F.lit("1998-01-01 00:00:00"))
    return orders.agg(
        F.count(F.lit(1)).alias("total_orders"),
        F.count(F.when(F.col("o_orderdate") > cutoff, 1)).alias("recent_orders"),
        F.round(
            F.count(F.when(F.col("o_orderdate") > cutoff, 1))
            / F.count(F.lit(1)).cast("double"),
            6,
        ).alias("recent_rate"),
    )


def a5_group_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-agg GROUP BY status,priority (dashboard.py:250-261):
    count/avg/max/min — partial+final hash agg, no extra shuffle beyond the
    group keys. One spark.sql parse (round-13 serving optimization)."""
    v = scoped_views(spark, sf_dir)
    return spark.sql(f"""
        SELECT o_orderstatus, o_orderpriority,
               count(1) AS n_orders,
               round(avg(o_totalprice), 4) AS avg_price,
               round(max(o_totalprice), 2) AS max_price,
               round(min(o_totalprice), 2) AS min_price
        FROM {v['orders']}
        GROUP BY o_orderstatus, o_orderpriority
    """)


def a6_hourly_throughput(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly throughput (dashboard.py:264-273): date_trunc('hour') GROUP
    BY hour × event_type. Hour emitted as a string for cross-engine-stable
    hashing of the ns-precision events clock."""
    v = scoped_views(spark, sf_dir)  # views go through load_table (ns→µs)
    return spark.sql(f"""
        SELECT date_format(date_trunc('hour', ts),
                           'yyyy-MM-dd HH:00:00') AS hour,
               event_type,
               count(1) AS n_events,
               round(sum(value), 4) AS total_value
        FROM {v['events']}
        GROUP BY date_format(date_trunc('hour', ts), 'yyyy-MM-dd HH:00:00'),
                 event_type
    """)


def a7_top_error_entities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-N error analysis (dashboard.py:276-286): failed only, grouped,
    ORDER BY count DESC LIMIT 10 — TakeOrderedAndProject, deterministic via
    the entity-id tiebreak."""
    events = load_table(spark, sf_dir, "events")
    return (
        events.filter(F.col("event_type") == "error")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_errors"))
        .orderBy(F.desc("n_errors"), F.asc("user_id"))
        .limit(10)
    )


def a9_portfolio_averages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Portfolio averages (status_detector.py:453-469): global avg +
    conditional counts in one pass."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.agg(
        F.round(F.avg("o_totalprice"), 4).alias("avg_price"),
        F.count(F.when(F.col("o_orderstatus") == "O", 1)).alias("n_open"),
        F.count(F.when(F.col("o_orderstatus") == "F", 1)).alias("n_finished"),
        F.count(F.when(F.col("o_orderstatus") == "P", 1)).alias("n_pending"),
    )


def a13_rollup_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tenant-stats rollups (tenant_manager.py:348-396) generalized to a
    ROLLUP over (status, priority) — subtotal rows coalesced to 'ALL' so
    the output is name-stable across engines."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.rollup("o_orderstatus", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .select(
            F.coalesce(F.col("o_orderstatus"), F.lit("ALL")).alias("status"),
            F.coalesce(F.col("o_orderpriority"), F.lit("ALL")).alias("priority"),
            "n_orders",
        )
    )


# --------------------------------------------------------------------------
# W — windows / sorts / limits (reference: dashboard.py:814-819,
# embedder.py:122-130, sync_daily_enhanced.py:329-383,
# status_detector.py:283-309)
# --------------------------------------------------------------------------


def w1_recent_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-by-recency top-10 (dashboard.py:814-819). Date emitted as a
    string; orderkey tiebreak for determinism."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.orderBy(F.desc("o_orderdate"), F.desc("o_orderkey"))
        .limit(10)
        .select(
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
            "o_totalprice",
        )
    )


def w2_recent_events_per_entity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-N history per case (embedder.py:122-130): latest 3 events per
    entity via a row_number window (one shuffle on the entity key)."""
    v = scoped_views(spark, sf_dir)
    return spark.sql(f"""
        SELECT user_id, event_id, event_type, rn
        FROM (SELECT user_id, event_id, event_type,
                     row_number() OVER (PARTITION BY user_id
                                        ORDER BY ts DESC, event_id DESC)
                         AS rn
              FROM {v['events']})
        WHERE rn <= 3
    """)


def w5_batch_numbering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch numbering (sync_daily_enhanced.py:329-383): slice the job list
    into batches of 100 → floor((row_number-1)/100) AS batch_id.

    The global row_number is ``topk.exact_rank`` over equal-width buckets
    of the exact [min, max] key range: a bucket histogram's prefix
    offsets plus a row number within each bucket, so no task sorts the
    whole table — the shape ``flows._numbered_jobs`` uses for the onboard
    queue batches."""
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey")
    ranked = exact_rank(
        range_buckets(orders, "o_orderkey", "_bkt"),
        "rnk",
        [F.col("o_orderkey")],
        "_bkt",
    )
    return ranked.select(
        "o_orderkey", F.floor((F.col("rnk") - 1) / 100).alias("batch_id")
    )


def w5_batch_numbering_by_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W5, partition-keyed twin: batch ids scoped per order month — the
    form that survives 100×. The window partitions by a natural batch key
    (sync date in the reference's daily runs), so the sort is per-key and
    distributes across the cluster instead of collapsing onto the single
    partition a global ORDER BY forces. Batch identity = (batch_month,
    batch_id); consumers that need the faithful global numbering use the
    w5_batch_numbering twin."""
    orders = load_table(spark, sf_dir, "orders")
    month = F.date_format("o_orderdate", "yyyy-MM")
    w = Window.partitionBy(month).orderBy("o_orderkey")
    return orders.select(
        "o_orderkey",
        month.alias("batch_month"),
        F.floor((F.row_number().over(w) - 1) / 100).alias("batch_id"),
    )


def w7_priority_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Priority classification (status_detector.py:283-309): value bands →
    critical/high/medium/low."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.select(
        "o_orderkey",
        F.when(F.col("o_totalprice") >= 200000, F.lit("critical"))
        .when(F.col("o_totalprice") >= 100000, F.lit("high"))
        .when(F.col("o_totalprice") >= 50000, F.lit("medium"))
        .otherwise(F.lit("low"))
        .alias("priority_band"),
    )


# --------------------------------------------------------------------------
# Q — TPC-H headline shapes. Each is one ``spark.sql`` parse over the
# scoped views: one parse/analyze round trip, ~10× cheaper plan
# construction than a DataFrame method chain, which pays one py4j hop per
# operator. Its oracle is the identical text over DuckDB's plain table
# names, so the two engines cannot drift. Join strategy is Catalyst's
# (dims broadcast by size estimate, facts shuffle once, top-k collapses
# to TakeOrderedAndProject) — asserted in tests/test_plans.py.
# --------------------------------------------------------------------------

_Q1_SQL = """
        SELECT l_returnflag, l_linestatus,
               round(sum(l_quantity), 2) AS sum_qty,
               round(sum(l_extendedprice), 2) AS sum_base_price,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
               round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
               round(avg(l_quantity), 4) AS avg_qty,
               round(avg(l_extendedprice), 4) AS avg_price,
               round(avg(l_discount), 6) AS avg_disc,
               count(*) AS count_order
        FROM {lineitem}
        WHERE l_shipdate <= TIMESTAMP '1998-09-01 00:00:00'
        GROUP BY l_returnflag, l_linestatus
    """

_Q3_SQL = """
        SELECT l_orderkey, o_orderpriority,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        FROM {lineitem}
        JOIN {orders} ON l_orderkey = o_orderkey
        JOIN {customer} ON o_custkey = c_custkey
        WHERE l_shipdate > TIMESTAMP '1997-06-01 00:00:00'
          AND o_orderdate < TIMESTAMP '1997-06-01 00:00:00'
          AND c_mktsegment = 'BUILDING'
        GROUP BY l_orderkey, o_orderpriority
        ORDER BY revenue DESC, l_orderkey ASC
        LIMIT 10
    """


def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pricing summary per return flag × line status (TPC-H Q1 shape):
    one filtered lineitem scan into a partial/final hash aggregate (also
    served as q1_pricing_summary_sql)."""
    return spark.sql(_Q1_SQL.format(**scoped_views(spark, sf_dir)))


def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 unshipped orders by revenue for one market segment (TPC-H
    Q3 shape): a three-way join, a two-key aggregate and a top-k (also
    served as q3_shipping_priority_sql)."""
    return spark.sql(_Q3_SQL.format(**scoped_views(spark, sf_dir)))


QUERIES = {
    "p1_active_filter": p1_active_filter,
    "p4_document_admission": p4_document_admission,
    "p5_status_derivation": p5_status_derivation,
    "j1_new_entities_anti": j1_new_entities_anti,
    "j2_deactivated_anti": j2_deactivated_anti,
    "j3_intersect_semi": j3_intersect_semi,
    "j4_watermark_updates": j4_watermark_updates,
    "j5_brand_revenue": j5_brand_revenue,
    "j7_region_dim_join": j7_region_dim_join,
    "j8_party_type_lookup": j8_party_type_lookup,
    "j9_union_case_sets": j9_union_case_sets,
    "a2_activity_buckets": a2_activity_buckets,
    "a3_freshness_buckets": a3_freshness_buckets,
    "a4_change_statistics": a4_change_statistics,
    "a5_group_stats": a5_group_stats,
    "a6_hourly_throughput": a6_hourly_throughput,
    "a7_top_error_entities": a7_top_error_entities,
    "a9_portfolio_averages": a9_portfolio_averages,
    "a13_rollup_counts": a13_rollup_counts,
    "w1_recent_orders": w1_recent_orders,
    "w2_recent_events_per_entity": w2_recent_events_per_entity,
    "w5_batch_numbering": w5_batch_numbering,
    "w5_batch_numbering_by_key": w5_batch_numbering_by_key,
    "w7_priority_bands": w7_priority_bands,
    "q1_pricing_summary": q1_pricing_summary,
    "q3_shipping_priority": q3_shipping_priority,
}

ORACLES = {
    "p1_active_filter": """
        SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
        FROM orders
        WHERE lower(o_orderstatus) NOT IN ('f') AND o_totalprice > 1000.0
    """,
    "p4_document_admission": """
        SELECT doc_id, source, n_chars,
               CASE WHEN n_chars < 150 THEN 'high'
                    WHEN n_chars < 300 THEN 'medium'
                    ELSE 'low' END AS priority
        FROM documents
        WHERE source NOT IN ('src18','src19') AND n_chars BETWEEN 20 AND 450
    """,
    "p5_status_derivation": """
        SELECT o_orderkey, o_orderstatus,
               CASE WHEN lower(o_orderstatus) IN ('f') THEN FALSE
                    ELSE TRUE END AS is_active
        FROM orders
    """,
    "j1_new_entities_anti": """
        SELECT o_orderkey, o_custkey, o_orderstatus FROM orders o
        WHERE NOT EXISTS (SELECT 1 FROM lineitem l WHERE l.l_orderkey = o.o_orderkey)
    """,
    "j2_deactivated_anti": """
        SELECT c_custkey, c_name, c_mktsegment FROM customer c
        WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
    "j3_intersect_semi": """
        SELECT c_custkey, c_name, c_nationkey FROM customer c
        WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
    "j4_watermark_updates": """
        WITH crm AS (
            SELECT user_id AS entity_id, max(event_id) AS crm_serialno
            FROM events GROUP BY user_id
        ), store AS (
            SELECT c_custkey AS entity_id,
                   CASE WHEN c_custkey % 3 = 0 THEN coalesce(crm.crm_serialno, 0)
                        ELSE coalesce(crm.crm_serialno, 0) - 5 END AS stored_serialno
            FROM customer LEFT JOIN crm ON c_custkey = crm.entity_id
            WHERE c_custkey % 11 <> 3
        )
        SELECT crm.entity_id, crm.crm_serialno,
               coalesce(store.stored_serialno, 0) AS stored_serialno
        FROM crm LEFT JOIN store ON crm.entity_id = store.entity_id
        WHERE crm.crm_serialno > coalesce(store.stored_serialno, 0)
    """,
    "j5_brand_revenue": """
        SELECT p_brand,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
               count(*) AS n_items
        FROM lineitem JOIN part ON l_partkey = p_partkey
        GROUP BY p_brand
    """,
    "j7_region_dim_join": """
        SELECT r_name, count(*) AS n_customers,
               round(avg(c_acctbal), 4) AS avg_acctbal
        FROM customer
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        GROUP BY r_name
    """,
    "j8_party_type_lookup": """
        WITH ranked AS (
            SELECT c_nationkey, c_name,
                   row_number() OVER (PARTITION BY c_nationkey ORDER BY c_custkey) AS rn
            FROM customer WHERE lower(c_mktsegment) = 'building'
        )
        SELECT n_nationkey, n_name, c_name AS claimant_name
        FROM ranked JOIN nation ON c_nationkey = n_nationkey
        WHERE rn = 1
    """,
    "j9_union_case_sets": """
        SELECT o_orderkey, 'active' AS set_tag FROM orders WHERE o_orderstatus = 'O'
        UNION ALL
        SELECT o_orderkey, 'closed' AS set_tag FROM orders WHERE o_orderstatus = 'F'
    """,
    "a2_activity_buckets": """
        WITH per_user AS (
            SELECT user_id, count(*) AS n_events FROM events GROUP BY user_id
        )
        SELECT CASE WHEN n_events <= 3 THEN 'low'
                    WHEN n_events <= 10 THEN 'medium'
                    ELSE 'high' END AS activity_level,
               count(*) AS n_users
        FROM per_user GROUP BY 1
    """,
    "a3_freshness_buckets": """
        SELECT CASE WHEN hours < 24*90 THEN 'fresh'
                    WHEN hours < 24*365 THEN 'recent'
                    ELSE 'stale' END AS freshness,
               count(*) AS n_orders
        FROM (
            SELECT (epoch(TIMESTAMP '1998-08-01 00:00:00') - epoch(o_orderdate)) / 3600.0 AS hours
            FROM orders
        ) GROUP BY 1
    """,
    "a4_change_statistics": """
        SELECT count(*) AS total_orders,
               count(CASE WHEN o_orderdate > TIMESTAMP '1998-01-01 00:00:00' THEN 1 END) AS recent_orders,
               round(count(CASE WHEN o_orderdate > TIMESTAMP '1998-01-01 00:00:00' THEN 1 END)
                     / CAST(count(*) AS DOUBLE), 6) AS recent_rate
        FROM orders
    """,
    "a5_group_stats": """
        SELECT o_orderstatus, o_orderpriority,
               count(*) AS n_orders,
               round(avg(o_totalprice), 4) AS avg_price,
               round(max(o_totalprice), 2) AS max_price,
               round(min(o_totalprice), 2) AS min_price
        FROM orders GROUP BY o_orderstatus, o_orderpriority
    """,
    "a6_hourly_throughput": """
        SELECT strftime(date_trunc('hour', CAST(ts AS TIMESTAMP)), '%Y-%m-%d %H:00:00') AS hour,
               event_type,
               count(*) AS n_events,
               round(sum(value), 4) AS total_value
        FROM events GROUP BY 1, 2
    """,
    "a7_top_error_entities": """
        SELECT user_id, count(*) AS n_errors
        FROM events WHERE event_type = 'error'
        GROUP BY user_id
        ORDER BY n_errors DESC, user_id ASC
        LIMIT 10
    """,
    "a9_portfolio_averages": """
        SELECT round(avg(o_totalprice), 4) AS avg_price,
               count(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS n_open,
               count(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS n_finished,
               count(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS n_pending
        FROM orders
    """,
    "a13_rollup_counts": """
        SELECT coalesce(o_orderstatus, 'ALL') AS status,
               coalesce(o_orderpriority, 'ALL') AS priority,
               count(*) AS n_orders
        FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    """,
    "w1_recent_orders": """
        SELECT o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS order_date, o_totalprice
        FROM orders ORDER BY o_orderdate DESC, o_orderkey DESC LIMIT 10
    """,
    "w2_recent_events_per_entity": """
        WITH ranked AS (
            SELECT user_id, event_id, event_type,
                   row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
            FROM events
        )
        SELECT user_id, event_id, event_type, rn FROM ranked WHERE rn <= 3
    """,
    "w5_batch_numbering": """
        SELECT o_orderkey,
               CAST(floor((row_number() OVER (ORDER BY o_orderkey) - 1) / 100) AS BIGINT) AS batch_id
        FROM orders
    """,
    "w5_batch_numbering_by_key": """
        SELECT o_orderkey,
               strftime(o_orderdate, '%Y-%m') AS batch_month,
               CAST(floor((row_number() OVER (PARTITION BY strftime(o_orderdate, '%Y-%m')
                                              ORDER BY o_orderkey) - 1) / 100) AS BIGINT)
                 AS batch_id
        FROM orders
    """,
    "w7_priority_bands": """
        SELECT o_orderkey,
               CASE WHEN o_totalprice >= 200000 THEN 'critical'
                    WHEN o_totalprice >= 100000 THEN 'high'
                    WHEN o_totalprice >= 50000 THEN 'medium'
                    ELSE 'low' END AS priority_band
        FROM orders
    """,
    "q1_pricing_summary": _Q1_SQL.format(**PLAIN_VIEWS),
    "q3_shipping_priority": _Q3_SQL.format(**PLAIN_VIEWS),
}
