"""CRM ↔ store reconciliation — the engine's flagship query.

Re-expresses the reference's daily sync (etl/flows/sync_daily.py:324-435,
etl/reconciliation.py:68-141, database/change_tracking.py:154-246) as ONE
declarative query. The reference does four sequential set operations over
Python sets (new = crm - db, deactivated = db - crm, intersection, then a
batched serialno watermark check with IN-lists of 100); here it is a single
full-outer join with change-type tagging — Catalyst picks the join
strategy, and the watermark theta-predicate rides on the same join.

Stand-in mapping (FIXTURES.md §B): the "CRM side" is the latest activity
snapshot derived from ``events`` (per-user max event serial); the "DB side"
is a stored-state snapshot derived from ``customer`` with a deterministic
watermark column. Change types mirror reconciliation.py:89-141:
  new          — entity seen upstream, absent in store       (J1 anti-join)
  deactivated  — entity in store, absent upstream            (J2 anti-join)
  update       — in both, upstream serial > stored watermark (J4 theta join)
  unchanged    — in both, no watermark advance

The reconciliation is written once, as SQL text over the scoped views:
``reconcile_fused`` is the row-level detail (it feeds the daily-sync flow,
the scheduled sync and a19's quality gate) and ``a1_reconciliation_summary``
groups that same text by change type; the catalog serves it under both a1
names. ``crm_snapshot``/``store_snapshot`` stay as DataFrame building
blocks for the J4 and T1/T2/T9 operators.

Scale notes: both sides shuffle once on the entity key; at 100 TB the store
side is bucketed by entity key so the join is shuffle-free on one side, and
the summary aggregation is a near-free partial/final hash agg on a
low-cardinality tag column. No driver-side set materialization (the
reference pulls every case_ref into Python lists — that is the anti-pattern
this engine removes).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..sources import load_table
from ..sources.tables import scoped_views

# The reconciliation quality gate (reconciliation.py:324-405): a sync whose
# change rate or CRM↔store count divergence exceeds these is not enqueued.
CHANGE_RATE_MAX = 0.2
COUNT_DIVERGENCE_MAX = 0.1


def crm_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Upstream (CRM) activity snapshot: latest serial + activity stats.

    Mirrors the adapter scan side of sync_daily_enhanced.py:71-127: one row
    per upstream entity with its high-watermark serial (max event_id stands
    in for Proclaim's per-case serialno).
    """
    events = load_table(spark, sf_dir, "events")
    return events.groupBy(F.col("user_id").alias("entity_id")).agg(
        F.max("event_id").alias("crm_serialno"),
        F.count(F.lit(1)).alias("crm_event_count"),
    )


def store_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local-store state: one row per known entity with stored watermark.

    Mirrors the Postgres-side scan (sync_daily_enhanced.py:156-197). The
    stored watermark is a deterministic function of the key so Spark and the
    DuckDB oracle agree exactly (FIXTURES.md §D forbids cross-engine hashes).
    """
    customer = load_table(spark, sf_dir, "customer")
    crm = crm_snapshot(spark, sf_dir)
    # Store state is synthesized deterministically from the key so every
    # reconciliation outcome materializes at any scale factor:
    #   c_custkey % 11 == 3  → not in store at all  ⇒ "new" upstream
    #   c_custkey % 3  == 0  → watermark caught up   ⇒ "unchanged"
    #   otherwise            → watermark behind by 5 ⇒ "update"
    # Customers with no upstream events ⇒ "deactivated".
    return (
        customer.filter((F.col("c_custkey") % F.lit(11)) != F.lit(3))
        .join(crm, customer.c_custkey == crm.entity_id, "left")
        .select(
            F.col("c_custkey").alias("entity_id"),
            F.when(
                (F.col("c_custkey") % F.lit(3)) == F.lit(0),
                F.coalesce(F.col("crm_serialno"), F.lit(0)),
            )
            .otherwise(F.coalesce(F.col("crm_serialno"), F.lit(0)) - F.lit(5))
            .alias("stored_serialno"),
            ((F.col("c_custkey") % F.lit(7)) != F.lit(0)).alias("is_active"),
        )
    )


# The reconciliation detail, written once. ``{events}``/``{customer}``
# are scoped view names (tables.scoped_views). The store's synthesized
# watermark (the store_snapshot rule) is computed AFTER one full-outer
# join against the filtered customer keys, so the events aggregation runs
# once: composing crm_snapshot with store_snapshot scans and aggregates
# events on both sides of the join, and column pruning makes the two
# subplans differ, which defeats exchange reuse.
_DETAIL_SQL = """
    WITH crm AS (
        SELECT user_id AS entity_id,
               max(event_id) AS crm_serialno,
               count(*) AS crm_event_count
        FROM {events} GROUP BY user_id
    ), joined AS (
        SELECT coalesce(crm.entity_id, cust.c_custkey) AS entity_id,
               crm.crm_serialno, crm.crm_event_count, cust.c_custkey,
               CASE WHEN cust.c_custkey IS NULL THEN NULL
                    WHEN cust.c_custkey % 3 = 0
                        THEN coalesce(crm.crm_serialno, 0)
                    ELSE coalesce(crm.crm_serialno, 0) - 5 END
                   AS stored_serialno
        FROM crm FULL OUTER JOIN (
            SELECT c_custkey FROM {customer} WHERE c_custkey % 11 <> 3
        ) cust ON crm.entity_id = cust.c_custkey
    )
    SELECT entity_id,
           CASE WHEN c_custkey IS NULL THEN 'new'
                WHEN crm_serialno IS NULL THEN 'deactivated'
                WHEN crm_serialno > coalesce(stored_serialno, 0)
                    THEN 'update'
                ELSE 'unchanged' END AS change_type,
           coalesce(crm_serialno, 0) AS crm_serialno,
           coalesce(stored_serialno, 0) AS stored_serialno,
           coalesce(crm_event_count, 0) AS crm_event_count
    FROM joined
"""


def _detail_sql(spark: SparkSession, sf_dir: str) -> str:
    return _DETAIL_SQL.format(**scoped_views(spark, sf_dir))


def reconcile_fused(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level reconciliation with change-type tagging: one scan of
    each table, one events aggregation, one full-outer join, built by
    one ``spark.sql`` parse. Columns: entity_id, change_type,
    crm_serialno, stored_serialno, crm_event_count."""
    return spark.sql(_detail_sql(spark, sf_dir))


def a1_reconciliation_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Counts per change type — the ReconciliationResult analog.

    Matches reconciliation.py:27-35 (new/deactivated/updates/unchanged
    counts) plus the mean upstream activity per bucket: the detail text
    grouped by change_type, one ``spark.sql`` parse (also served as
    a1_reconciliation_summary_sql)."""
    return spark.sql(f"""
        SELECT change_type, count(*) AS n_entities,
               CAST(sum(crm_event_count) AS BIGINT) AS total_events,
               round(avg(crm_serialno), 4) AS avg_crm_serialno
        FROM ({_detail_sql(spark, sf_dir)}) detail GROUP BY change_type
    """)


QUERIES = {"a1_reconciliation_summary": a1_reconciliation_summary}

# Two oracle texts for the one body: the flagship's CTE form (store side
# built like store_snapshot) and the single-join text of the former SQL
# twin. Both must match, so each checks the body from a different angle.
# NB oracle convention (applies to every oracle in this package): DuckDB
# sum(BIGINT) widens to HUGEINT/DECIMAL — always CAST back to BIGINT so the
# value-hash type-matches Spark's long sums.
ORACLES = {
    "a1_reconciliation_summary": """
WITH crm AS (
    SELECT user_id AS entity_id,
           max(event_id) AS crm_serialno,
           count(*) AS crm_event_count
    FROM events GROUP BY user_id
), store AS (
    SELECT c_custkey AS entity_id,
           CASE WHEN c_custkey % 3 = 0 THEN coalesce(crm.crm_serialno, 0)
                ELSE coalesce(crm.crm_serialno, 0) - 5 END AS stored_serialno,
           (c_custkey % 7) <> 0 AS is_active
    FROM customer LEFT JOIN crm ON c_custkey = crm.entity_id
    WHERE c_custkey % 11 <> 3
), tagged AS (
    SELECT coalesce(crm.entity_id, store.entity_id) AS entity_id,
           CASE WHEN store.entity_id IS NULL THEN 'new'
                WHEN crm.entity_id IS NULL THEN 'deactivated'
                WHEN crm.crm_serialno > coalesce(store.stored_serialno, 0) THEN 'update'
                ELSE 'unchanged' END AS change_type,
           coalesce(crm.crm_serialno, 0) AS crm_serialno,
           coalesce(crm.crm_event_count, 0) AS crm_event_count
    FROM crm FULL OUTER JOIN store ON crm.entity_id = store.entity_id
)
SELECT change_type,
       count(*) AS n_entities,
       CAST(sum(crm_event_count) AS BIGINT) AS total_events,
       round(avg(crm_serialno), 4) AS avg_crm_serialno
FROM tagged GROUP BY change_type
""",
    "a1_reconciliation_summary_sql": """
        WITH crm AS (
            SELECT user_id AS entity_id,
                   max(event_id) AS crm_serialno,
                   count(*) AS crm_event_count
            FROM events GROUP BY user_id
        ), joined AS (
            SELECT crm.entity_id, crm.crm_serialno, crm.crm_event_count,
                   cust.c_custkey,
                   CASE WHEN cust.c_custkey IS NULL THEN NULL
                        WHEN cust.c_custkey % 3 = 0
                            THEN coalesce(crm.crm_serialno, 0)
                        ELSE coalesce(crm.crm_serialno, 0) - 5 END
                       AS stored_serialno
            FROM crm FULL OUTER JOIN (
                SELECT c_custkey FROM customer WHERE c_custkey % 11 <> 3
            ) cust ON crm.entity_id = cust.c_custkey
        ), tagged AS (
            SELECT CASE WHEN c_custkey IS NULL THEN 'new'
                        WHEN crm_serialno IS NULL THEN 'deactivated'
                        WHEN crm_serialno > coalesce(stored_serialno, 0)
                            THEN 'update'
                        ELSE 'unchanged' END AS change_type,
                   coalesce(crm_serialno, 0) AS crm_serialno,
                   coalesce(crm_event_count, 0) AS crm_event_count
            FROM joined
        )
        SELECT change_type, count(*) AS n_entities,
               CAST(sum(crm_event_count) AS BIGINT) AS total_events,
               round(avg(crm_serialno), 4) AS avg_crm_serialno
        FROM tagged GROUP BY change_type
    """,
}
