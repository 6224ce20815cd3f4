"""SQL-surface bodies of the heavy relational queries.

One query text serves BOTH engines: the Spark form runs it via a single
``spark.sql`` over per-sf scoped temp views (one parse/analyze round
trip — ~10× cheaper plan construction than an equivalent DataFrame
method chain, which pays one py4j hop per operator), and the oracle form
is the identical text over DuckDB's plain view names. Identical text ⇒
structural parity by construction.

Each TPC-H ``_sql`` body here is its operator's only body: the base
catalog name (q1_pricing_summary, q3_shipping_priority,
q5_regional_volume, q18_large_orders) is registered to the same function
object and keeps its own DuckDB oracle. Join strategy is Catalyst's
(dims broadcast by its size estimate, facts shuffle once, top-k
collapses to TakeOrderedAndProject) — asserted in tests/test_plans.py.

The other ``_sql`` names (e1_span_dedup_sql, e3_bpe_encode_sql,
e5_global_token_budget_sql, e2_sq8_search_sql) are aliases: the same
function object as their operator's catalog name, whose one body lives
in its own module (dedup, textops, quality, pq) and is already a single
``spark.sql`` parse. This is also the engine's user-facing SQL story: the reference has no
query language (SURVEY.md §4); here any query a user writes in ANSI SQL
is served by the same catalog.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..sources.tables import TABLES, scoped_views
from . import dedup, quality, textops
from . import pq as pqmod

# {table} placeholders are substituted with scoped view names (Spark) or
# the plain table names (DuckDB oracle).
_TEMPLATES: dict[str, str] = {
    "q1_pricing_summary_sql": """
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
    """,
    "q3_shipping_priority_sql": """
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
    """,
    "q5_regional_volume_sql": """
        SELECT n_name,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        FROM {lineitem}
        JOIN {orders} ON l_orderkey = o_orderkey
        JOIN {customer} ON o_custkey = c_custkey
        JOIN {supplier} ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        JOIN {nation} ON c_nationkey = n_nationkey
        JOIN {region} ON n_regionkey = r_regionkey
        WHERE r_name = 'ASIA'
          AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
        GROUP BY n_name
        ORDER BY revenue DESC
    """,
    "a1_reconciliation_summary_sql": """
        WITH crm AS (
            SELECT user_id AS entity_id,
                   max(event_id) AS crm_serialno,
                   count(*) AS crm_event_count
            FROM {events} GROUP BY user_id
        ), joined AS (
            SELECT crm.entity_id, crm.crm_serialno, crm.crm_event_count,
                   cust.c_custkey,
                   CASE WHEN cust.c_custkey IS NULL THEN NULL
                        WHEN cust.c_custkey % 3 = 0
                            THEN coalesce(crm.crm_serialno, 0)
                        ELSE coalesce(crm.crm_serialno, 0) - 5 END
                       AS stored_serialno
            FROM crm FULL OUTER JOIN (
                SELECT c_custkey FROM {customer} WHERE c_custkey % 11 <> 3
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
    # BROADCAST(big): Catalyst can't see that the HAVING-filtered
    # aggregate is ~200 rows (post-agg stats are unknown) and would
    # broadcast the 150k-row orders side instead — a hashed relation
    # rebuilt on every execution. Counterbalanced same-box A/B (round 9,
    # min-of-5 × 2 runs per variant, DuckDB same-schedule control flat):
    # 0.136 s vs 0.184 s at sf0.1, no other query affected. DuckDB
    # parses the hint as a comment, so the oracle string stays
    # identical. (A second candidate — hash-partitioning the warm CACHE
    # on the fact keys so the q18 agg goes single-stage — measured q18
    # 0.09 s but regressed UNRELATED queries 70-120% suite-wide,
    # including pure-documents scans, reproducibly across
    # counterbalanced runs; rejected, negative result recorded here.)
    "q18_large_orders_sql": """
        SELECT /*+ BROADCAST(big) */ c_name, o_orderkey,
               strftime(o_orderdate, '%Y-%m-%d') AS o_date,
               o_totalprice,
               round(total_qty, 2) AS total_qty
        FROM {orders}
        JOIN (
            SELECT l_orderkey, sum(l_quantity) AS total_qty
            FROM {lineitem}
            GROUP BY l_orderkey
            HAVING sum(l_quantity) > 150
        ) big ON o_orderkey = big.l_orderkey
        JOIN {customer} ON o_custkey = c_custkey
        ORDER BY o_totalprice DESC, o_orderkey ASC
        LIMIT 100
    """,
}


def _spark_fn(name: str):
    template = _TEMPLATES[name]

    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        sql = template.format(**scoped_views(spark, sf_dir))
        if "strftime" in sql:
            # same formatting function, different name per dialect
            sql = sql.replace("strftime(o_orderdate, '%Y-%m-%d')",
                              "date_format(o_orderdate, 'yyyy-MM-dd')")
        return spark.sql(sql)

    run.__name__ = name
    return run


# Operators whose Spark text leans on array higher-order functions named
# differently per dialect (filter/transform/aggregate vs
# list_filter/list_transform/list_reduce) keep their one body in their
# own module and are registered here under the `_sql` name too; each
# pairs with the operator's original DuckDB oracle.
QUERIES = {name: _spark_fn(name) for name in _TEMPLATES}
QUERIES.update(
    {
        "e1_span_dedup_sql": dedup.e1_span_dedup,
        "e3_bpe_encode_sql": textops.e3_bpe_encode,
        "e5_global_token_budget_sql": quality.e5_global_token_budget,
        "e2_sq8_search_sql": pqmod.e2_sq8_search,
    }
)

ORACLES = {
    name: template.format(**{t: t for t in TABLES})
    for name, template in _TEMPLATES.items()
}
ORACLES.update(
    {
        "e1_span_dedup_sql": dedup.ORACLES["e1_span_dedup"],
        "e3_bpe_encode_sql": textops.ORACLES["e3_bpe_encode"],
        "e5_global_token_budget_sql": quality.ORACLES["e5_global_token_budget"],
        "e2_sq8_search_sql": pqmod.ORACLES["e2_sq8_search"],
    }
)
