"""TPC-H join-chain shapes: Q9 (product profit) as a DataFrame
operator, Q5 (regional volume) and Q18 (large orders) as one
``spark.sql`` parse each.

Each Q5/Q18 template is its operator's one body: the Spark form runs it
over the scoped views, and the ``_sql`` oracle is the same text over
DuckDB's plain table names (the base-name oracle is a separately written
text). Their join strategy is Catalyst's: no forced broadcast of
``customer``, which grows with the corpus. Q18 keeps one hint on the
HAVING-filtered aggregate, whose A/B is recorded with its template.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..sources import load_table
from ..sources.tables import PLAIN_VIEWS, scoped_views


def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Profit by supplier nation × order year for one product family
    (TPC-H Q9 shape): a LIKE filter on part prunes the fact side early
    (broadcast semi-reduction), profit expression computed in the join
    projection, then a two-key hash agg. The year comes from the order
    date — a join to orders just for a date column, which column pruning
    reduces to (o_orderkey, o_orderdate)."""
    part = load_table(spark, sf_dir, "part")
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")

    green = part.filter(F.col("p_name").contains("a")).select("p_partkey")
    supp_nation = supplier.join(
        F.broadcast(nation), supplier.s_nationkey == nation.n_nationkey
    ).select("s_suppkey", "n_name")
    # decimal math: the profit sum spans millions of cents, where double
    # association order flips the last cent between engines; 2dp×2dp
    # decimals sum exactly and order-independently
    profit = F.col("l_extendedprice").cast("decimal(18,2)") * (
        F.lit(1).cast("decimal(18,2)") - F.col("l_discount").cast("decimal(18,2)")
    )
    return (
        li.join(F.broadcast(green), li.l_partkey == green.p_partkey)
        .join(F.broadcast(supp_nation), li.l_suppkey == F.col("s_suppkey"))
        .join(orders.select("o_orderkey", "o_orderdate"),
              li.l_orderkey == F.col("o_orderkey"))
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("o_year"),
        )
        .agg(F.round(F.sum(profit), 2).cast("double").alias("profit"))
        .orderBy("nation", F.desc("o_year"))
    )


_Q5_SQL = """
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
    """

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
_Q18_SQL = """
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
    """


def q5_regional_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue per nation for one region and year (TPC-H Q5 shape): a
    six-table join chain with a supplier-nation equality, then a hash
    aggregate (also served as q5_regional_volume_sql)."""
    return spark.sql(_Q5_SQL.format(**scoped_views(spark, sf_dir)))


def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-100 orders whose total quantity exceeds 150 (TPC-H Q18
    shape): a HAVING-filtered lineitem aggregate joined back to orders
    and customer (also served as q18_large_orders_sql)."""
    sql = _Q18_SQL.format(**scoped_views(spark, sf_dir))
    # same formatting function, different name per dialect
    sql = sql.replace("strftime(o_orderdate, '%Y-%m-%d')",
                      "date_format(o_orderdate, 'yyyy-MM-dd')")
    return spark.sql(sql)


QUERIES = {
    "q5_regional_volume": q5_regional_volume,
    "q18_large_orders": q18_large_orders,
    "q9_product_profit": q9_product_profit,
}

ORACLES = {
    "q9_product_profit": """
        SELECT n_name AS nation,
               CAST(year(o_orderdate) AS INT) AS o_year,
               CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                              * (CAST(1 AS DECIMAL(18,2))
                                 - CAST(l_discount AS DECIMAL(18,2)))), 2)
                    AS DOUBLE) AS profit
        FROM lineitem
        JOIN part     ON l_partkey = p_partkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation   ON s_nationkey = n_nationkey
        JOIN orders   ON l_orderkey = o_orderkey
        WHERE p_name LIKE '%a%'
        GROUP BY n_name, year(o_orderdate)
        ORDER BY nation, o_year DESC
    """,
    "q5_regional_volume": """
        SELECT n_name,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        FROM lineitem
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN supplier ON l_suppkey = s_suppkey AND s_nationkey = c_nationkey
        JOIN nation   ON c_nationkey = n_nationkey
        JOIN region   ON n_regionkey = r_regionkey
        WHERE r_name = 'ASIA'
          AND o_orderdate >= TIMESTAMP '1996-01-01'
          AND o_orderdate <  TIMESTAMP '1997-01-01'
        GROUP BY n_name
        ORDER BY revenue DESC
    """,
    "q18_large_orders": """
        WITH big AS (
            SELECT l_orderkey, sum(l_quantity) AS total_qty
            FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 150
        )
        SELECT c_name, o_orderkey,
               strftime(o_orderdate, '%Y-%m-%d') AS o_date,
               o_totalprice,
               round(total_qty, 2) AS total_qty
        FROM orders
        JOIN big ON o_orderkey = big.l_orderkey
        JOIN customer ON o_custkey = c_custkey
        ORDER BY o_totalprice DESC, o_orderkey ASC
        LIMIT 100
    """,
    "q5_regional_volume_sql": _Q5_SQL.format(**PLAIN_VIEWS),
    "q18_large_orders_sql": _Q18_SQL.format(**PLAIN_VIEWS),
}
