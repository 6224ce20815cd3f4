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
This is also the engine's user-facing SQL story: the reference has no
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


# ---------------------------------------------------------------------------
# Round 12: Spark-DIALECT serving twins of operators in the bench
# headline schedule. Unlike _TEMPLATES (one common-dialect text for both
# engines), these operators lean on array higher-order functions whose
# names differ per dialect (filter/transform/aggregate vs
# list_filter/list_transform/list_reduce), so the Spark text below pairs
# with the ORIGINAL DuckDB oracle imported from each operator's module —
# the driver still hash-compares the two. Purpose is the same as the
# other twins: ONE spark.sql parse instead of a DataFrame method chain
# (measured: 0.09-0.24 s of py4j plan construction per build — 40% of
# their serving latency), with an identical physical plan.
# ---------------------------------------------------------------------------

_SPARK_ONLY_TEMPLATES: dict[str, str] = {
    # e1_span_dedup twin: same single span stream + count-over-hash
    # window (NO posting self-join — the join form re-derives span
    # generation per side, measured 2.3x slower; dedup.py docstring).
    #
    # Round 13 (optimization): the span key is hashed over the token
    # slice instead of md5 over the joined string — the hash feeds ONLY
    # the duplicate-count equality (never the output; FIXTURES.md §D
    # concerns oracle-facing hash VALUES), tokens contain no spaces so
    # the joined-string key and the token-array key identify the same
    # spans, and the outputs are oracle-verified identical at every SF.
    # Saves the per-span digest + hex string and narrows the shuffle/
    # sort key (vs the 32-char md5 string): measured 0.38 → 0.28 s
    # on the isolated query. array_remove(…, '') replaces the
    # interpreted filter-lambda (identical result, ~15% cheaper).
    # Round 14: the key IS 128-bit — a two-seed xxhash64 pair, carried
    # as two flat long columns (16 bytes, still 2× narrower than the md5
    # string). A single 64-bit key has birthday-collision expectation
    # ≫ 1 at the declared 100 TB envelope (~10^11 spans), and a
    # collision here silently merges distinct spans into one duplicate
    # group; the pair key pushes that expectation back below ~10^-4 at
    # 10^11 spans. Form chosen by interleaved A/B: a struct-valued key
    # costs +55% (struct rows through explode/distinct/window — a
    # struct with a CONSTANT second field already costs +50%, so it is
    # the struct, not the second hash); deduping the raw token SLICES
    # within the doc (exact, map-side, before the exchange) and hashing
    # the surviving slices into two flat columns costs +15%
    # (0.26 → 0.30 s isolated at sf0.1) — the honest, accepted price of
    # the at-scale correctness insurance. Within-doc dedup stays exact
    # (no hash involved), the global count key is the 128-bit pair.
    "e1_span_dedup_sql": """
        WITH spans AS (
            SELECT doc_id, xxhash64(sp) AS h1, xxhash64(8191L, sp) AS h2
            FROM (SELECT doc_id, toks FROM
                    (SELECT doc_id,
                            array_remove(split(text, ' '), '') AS toks
                     FROM {documents})
                  WHERE size(toks) >= 8)
            LATERAL VIEW explode(array_distinct(transform(
                sequence(1, size(toks) - 7), i -> slice(toks, i, 8))))
                t AS sp
        ), tagged AS (
            SELECT doc_id, count(*) OVER (PARTITION BY h1, h2) AS n_docs
            FROM spans
        )
        SELECT doc_id,
               count(*) AS n_spans,
               count(CASE WHEN n_docs >= 2 THEN 1 END) AS n_dup_spans,
               round(CAST(count(CASE WHEN n_docs >= 2 THEN 1 END) AS DOUBLE)
                     / count(*), 6) AS dup_span_fraction
        FROM tagged GROUP BY doc_id
    """,
    # e2_sq8_search twin: per-dimension bounds agg (two array literals,
    # 1-row broadcast), scan-local encode+RECONSTRUCT, fold ADC distance
    # vs the fixed 5-query broadcast, per-query top-3.
    #
    # Round 13 (optimization, guide §1.2 "per-task work"): the original
    # form recomputed the SQ8 reconstruction INSIDE the per-(query,
    # corpus) distance lambda — twice per element (the squared diff was
    # written as expr * expr), ~40 interpreted expression nodes per
    # dimension per pair. The reconstruction depends only on the corpus
    # row, so it is hoisted into `encoded` (computed once per corpus
    # vector, exactly the same per-element float op order:
    # lo_j + CAST(code_j AS DOUBLE)·(hi_j − lo_j)/255), and the
    # per-pair work collapses to zip_with + one fold — same values, same
    # summation order, ~6 nodes per element. Measured 0.287 → see
    # OPTIMIZATION_r13.md.
    "e2_sq8_search_sql": """
        WITH corpus AS (
            SELECT vec_id,
                   transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
            FROM {embeddings}
        ), bounds AS (
            SELECT transform(array_sort(collect_list(struct(j, lo))),
                             s -> s.lo) AS lo,
                   transform(array_sort(collect_list(struct(j, hi))),
                             s -> s.hi) AS hi
            FROM (SELECT j, min(v) AS lo, max(v) AS hi
                  FROM (SELECT posexplode(emb) AS (j, v) FROM corpus)
                  GROUP BY j)
        ), encoded AS (
            SELECT /*+ BROADCAST(bounds) */ vec_id,
                   transform(sequence(1, 64), j ->
                       element_at(lo, j)
                       + CAST(CASE WHEN element_at(hi, j)
                                        = element_at(lo, j)
                                   THEN 0
                                   ELSE CAST(round((element_at(emb, j)
                                                    - element_at(lo, j))
                                                   / (element_at(hi, j)
                                                      - element_at(lo, j))
                                                   * 255.0, 0) AS INT)
                              END AS DOUBLE)
                         * (element_at(hi, j) - element_at(lo, j))
                         / 255.0) AS recon
            FROM corpus CROSS JOIN bounds
        ), scored AS (
            SELECT /*+ BROADCAST(q) */ q.query_id, c.vec_id,
                   round(aggregate(
                       zip_with(q.q_emb, c.recon,
                                (x, y) -> (x - y) * (x - y)),
                       CAST(0.0 AS DOUBLE), (acc, v) -> acc + v), 4)
                       AS adist
            FROM encoded c
            JOIN (SELECT vec_id AS query_id, emb AS q_emb
                  FROM corpus WHERE vec_id < 5) q
              ON c.vec_id != q.query_id
        )
        SELECT query_id, vec_id, adist, rank
        FROM (SELECT query_id, vec_id, adist,
                     row_number() OVER (PARTITION BY query_id
                                        ORDER BY adist ASC, vec_id ASC)
                         AS rank
              FROM scored)
        WHERE rank <= 3
    """,
}


def _spark_only_fn(name: str):
    template = _SPARK_ONLY_TEMPLATES[name]

    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        return spark.sql(template.format(**scoped_views(spark, sf_dir)))

    run.__name__ = name
    return run


# The span-dedup and SQ8 texts above are Spark-only twins; BPE encoding
# and the global token budget are served by their own operators' bodies
# (textops, quality), under both catalog names. The DuckDB side of each
# is the original operator's oracle — identical output contract,
# dialect-appropriate text.
QUERIES = {name: _spark_fn(name) for name in _TEMPLATES}
QUERIES.update(
    {
        "e1_span_dedup_sql": _spark_only_fn("e1_span_dedup_sql"),
        "e3_bpe_encode_sql": textops.e3_bpe_encode,
        "e5_global_token_budget_sql": quality.e5_global_token_budget,
        "e2_sq8_search_sql": _spark_only_fn("e2_sq8_search_sql"),
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
