"""TPC-H Q9 (product profit) as a DataFrame operator, plus the catalog
names of the Q5/Q18 join-chain shapes.

Q5 (regional volume) and Q18 (large orders) have one body each: the
one-parse SQL twins in sql_twins.py serve both names. Their join
strategy is Catalyst's: no forced broadcast of ``customer``, which grows
with the corpus. Q18 keeps one hint on the HAVING-filtered aggregate,
whose A/B is recorded with its template.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..sources import load_table
from .sql_twins import QUERIES as SQL_TWINS


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


QUERIES = {
    "q5_regional_volume": SQL_TWINS["q5_regional_volume_sql"],
    "q18_large_orders": SQL_TWINS["q18_large_orders_sql"],
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
}
