"""Breadth extensions: groupwise-argmin (correlated-subquery shape),
argmax aggregates, set operations, fuzzy string matching, PII scrubbing.

- q2 shape: "row holding the group minimum" — the correlated scalar
  subquery of TPC-H Q2, planned Spark-side as a window min + filter (one
  shuffle, no self-join).
- max_by/min_by: argmax aggregates — one hash agg instead of the
  join-back-to-find-the-row anti-pattern.
- intersect/except: keyed set semantics between snapshots (the J-series'
  missing cousins; DISTINCT semantics exactly as SQL).
- fuzzy match: bounded-edit-distance candidate pairs (levenshtein is
  built-in JVM-side; the dedup family's last mode — typo-level dupes that
  token/shingle methods miss).
- PII scrub: regexp_replace masking of emails/phones/long digit runs —
  the compliance pass every training-data pipeline runs before export.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from ..sources import load_table


def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """For each part size class, the supplier row with the minimum
    account balance (TPC-H Q2's correlated-min shape): window min over
    the group, keep rows equal to it — ties broken by supplier key."""
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    enriched = supplier.join(
        F.broadcast(nation), supplier.s_nationkey == nation.n_nationkey
    ).select("s_suppkey", "s_name", "s_acctbal", "n_name")
    w = Window.partitionBy("n_name")
    w_rank = Window.partitionBy("n_name").orderBy("s_acctbal", "s_suppkey")
    return (
        enriched.withColumn("min_bal", F.min("s_acctbal").over(w))
        .withColumn("rn", F.row_number().over(w_rank))
        .filter(F.col("rn") == 1)
        .select("n_name", "s_suppkey", "s_name", F.round("s_acctbal", 2).alias("s_acctbal"))
    )


def a22_argmax_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-status argmax: the order key holding the maximum price, via
    max_by — one aggregation, no join-back."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.groupBy("o_orderstatus").agg(
        F.round(F.max("o_totalprice"), 2).alias("max_price"),
        F.max_by("o_orderkey", F.struct("o_totalprice", "o_orderkey")).alias(
            "max_price_orderkey"
        ),
        F.min_by("o_orderkey", F.struct("o_totalprice", "o_orderkey")).alias(
            "min_price_orderkey"
        ),
    )


def j10_intersect_snapshots(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT of two snapshots — (customer, priority) combos present
    both among open orders and among high-value orders (distinct set
    semantics)."""
    orders = load_table(spark, sf_dir, "orders")
    active = orders.filter(F.col("o_orderstatus") == "O").select(
        "o_custkey", "o_orderpriority"
    )
    big = orders.filter(F.col("o_totalprice") > 150000).select(
        "o_custkey", "o_orderpriority"
    )
    return active.intersect(big)


def j11_except_snapshots(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT: (customer, priority) combos with open orders but no
    high-value order (subtract = EXCEPT DISTINCT semantics)."""
    orders = load_table(spark, sf_dir, "orders")
    active = orders.filter(F.col("o_orderstatus") == "O").select(
        "o_custkey", "o_orderpriority"
    )
    big = orders.filter(F.col("o_totalprice") > 150000).select(
        "o_custkey", "o_orderpriority"
    )
    return active.subtract(big)


def e1_fuzzy_name_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typo-level near-dup pairs by bounded edit distance on customer
    names — the dedup family's last mode (typo dupes that token/shingle
    methods miss; the fuzzy client-name matching of crm/discovery.py).

    Candidate generation is a deletion-neighborhood EQUI-join (the
    SymSpell/FastSS blocking scheme): every string at edit distance ≤ 1
    from ``s`` shares a member of {s} ∪ deletions₁(s) with it — a
    substitution pair shares the deletion at the substituted position,
    an insert/delete pair shares the shorter string itself. Blocks are
    tiny and uniformly hashed, so the shuffle key is skew-free at any
    corpus size; exact ``levenshtein ≤ 1`` verifies candidates (which
    also absorbs hash collisions). Cost is (len+1)× row fan-out on the
    narrow (hash, key, name) projection — linear, not quadratic.

    Round 14 (optimization, guide §2.3/§3 — shrink candidate generation
    before the verify): the block key carries the DELETION POSITION.
    Two strings sharing a deletion at *different* positions are at edit
    distance 2 (e.g. "ab"/"ba") — the untagged key generated ~977k such
    candidate rows at sf0.1 for ~262k true pairs, all paying the
    levenshtein residual. With the position in the key a substitution
    pair still matches (it shares the deletion at the substituted
    position), while the distance-2 noise cannot. Insert/delete and
    identical pairs match the shorter string itself at ANY deletion
    position, so they come from a second equi-join of the untagged
    deletion neighborhood against the bare-name side, the #names-row
    identity frame. That frame grows with the corpus, so it carries no
    broadcast hint: the optimizer (and AQE at run time) picks the join
    from its size. Candidate rows ≈ true pairs (plus hash collisions);
    verified counts: 977k → 252k at sf0.1."""
    customer = load_table(spark, sf_dir, "customer")
    c = customer.select(
        F.col("c_custkey").alias("key"), F.col("c_name").alias("name")
    )
    # deletion-with-position stream: hash folds the position in, so only
    # same-position deletions (⇒ same length, ⇒ edit distance ≤ 1) block
    # together
    delpos = c.select(
        "key",
        "name",
        F.explode(
            F.expr(
                "transform(sequence(1, greatest(length(name), 1)), i -> "
                "named_struct('v', concat(substring(name, 1, i - 1), "
                "substring(name, i + 1, length(name))), 'i', i))"
            )
        ).alias("d"),
    ).select(
        "key", "name", F.xxhash64(F.col("d.v"), F.col("d.i")).alias("block")
    )
    sub_a = delpos.select(
        "block", F.col("key").alias("key_a"), F.col("name").alias("name_a")
    )
    sub_b = delpos.select(
        F.col("block").alias("block_b"),
        F.col("key").alias("key_b"),
        F.col("name").alias("name_b"),
    )
    # bounded levenshtein verify stays INSIDE each join, before the
    # dedup exchange (round 13, guide §2.3): threshold=1 → early-exit
    # banded DP, returns −1 past the bound, so `>= 0` ≡ levenshtein ≤ 1
    subs = (
        sub_a.join(
            sub_b,
            (F.col("block") == F.col("block_b"))
            & (F.col("key_a") < F.col("key_b")),
        )
        .filter(F.expr("levenshtein(name_a, name_b, 1) >= 0"))
        .select("key_a", "key_b", "name_a", "name_b")
    )
    # insert/delete + identical pairs: untagged {name} ∪ deletions₁
    # against the identity side. The A side covers both names of a pair,
    # so one join direction suffices; pairs canonicalize to key_a < key_b
    deletions = F.expr(
        "transform(sequence(1, greatest(length(name), 1)), i -> "
        "concat(substring(name, 1, i - 1), substring(name, i + 1, length(name))))"
    )
    allv = c.select(
        "key",
        "name",
        F.explode(F.array_union(F.array(F.col("name")), deletions)).alias(
            "variant"
        ),
    ).select(
        F.xxhash64("variant").alias("block"),
        F.col("key").alias("key_a"),
        F.col("name").alias("name_a"),
    )
    ids = c.select(
        F.xxhash64("name").alias("block_b"),
        F.col("key").alias("key_b"),
        F.col("name").alias("name_b"),
    )
    swap = F.col("key_a") > F.col("key_b")
    indel = (
        allv.join(
            ids,
            (F.col("block") == F.col("block_b"))
            & (F.col("key_a") != F.col("key_b")),
        )
        .filter(F.expr("levenshtein(name_a, name_b, 1) >= 0"))
        .select(
            F.when(swap, F.col("key_b")).otherwise(F.col("key_a")).alias("key_a"),
            F.when(swap, F.col("key_a")).otherwise(F.col("key_b")).alias("key_b"),
            F.when(swap, F.col("name_b")).otherwise(F.col("name_a")).alias("name_a"),
            F.when(swap, F.col("name_a")).otherwise(F.col("name_b")).alias("name_b"),
        )
    )
    candidates = subs.unionByName(indel).distinct()
    return (
        candidates.withColumn("edit_dist", F.levenshtein("name_a", "name_b"))
        .filter(F.col("edit_dist") <= 1)
        .select("key_a", "key_b", "name_a", "name_b", "edit_dist")
    )


def e3_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing pass: synthesize contactful text (deterministic from
    keys), then mask emails, UK-style phone numbers, and long digit runs
    — regexp_replace chains, all codegen."""
    customer = load_table(spark, sf_dir, "customer").filter(F.col("c_custkey") < 500)
    raw = F.concat(
        F.lit("Contact "),
        F.col("c_name"),
        F.lit(" at user"),
        F.col("c_custkey").cast("string"),
        F.lit("@example.com or 0797"),
        F.lpad(F.pmod(F.col("c_custkey") * 7919, 1000000).cast("string"), 7, "0"),
        F.lit(" ref "),
        F.col("c_custkey").cast("string"),
    )
    scrubbed = F.regexp_replace(
        F.regexp_replace(
            raw, r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+", "<EMAIL>"
        ),
        r"\b0[0-9]{10}\b",
        "<PHONE>",
    )
    return customer.select(
        "c_custkey",
        raw.alias("raw_text"),
        scrubbed.alias("scrubbed_text"),
        (~scrubbed.contains("@")).alias("email_gone"),
    )


QUERIES = {
    "q2_min_cost_supplier": q2_min_cost_supplier,
    "a22_argmax_order": a22_argmax_order,
    "j10_intersect_snapshots": j10_intersect_snapshots,
    "j11_except_snapshots": j11_except_snapshots,
    "e1_fuzzy_name_match": e1_fuzzy_name_match,
    "e3_pii_scrub": e3_pii_scrub,
}

ORACLES = {
    "q2_min_cost_supplier": """
        WITH ranked AS (
            SELECT n_name, s_suppkey, s_name, s_acctbal,
                   row_number() OVER (PARTITION BY n_name
                                      ORDER BY s_acctbal, s_suppkey) AS rn
            FROM supplier JOIN nation ON s_nationkey = n_nationkey
        )
        SELECT n_name, s_suppkey, s_name, round(s_acctbal, 2) AS s_acctbal
        FROM ranked WHERE rn = 1
    """,
    "a22_argmax_order": """
        WITH r AS (
            SELECT o_orderstatus, o_orderkey, o_totalprice,
                   row_number() OVER (PARTITION BY o_orderstatus
                       ORDER BY o_totalprice DESC, o_orderkey DESC) AS rmax,
                   row_number() OVER (PARTITION BY o_orderstatus
                       ORDER BY o_totalprice ASC, o_orderkey ASC) AS rmin
            FROM orders
        ), agg AS (
            SELECT o_orderstatus, round(max(o_totalprice), 2) AS max_price
            FROM orders GROUP BY o_orderstatus
        )
        SELECT agg.o_orderstatus, agg.max_price,
               mx.o_orderkey AS max_price_orderkey,
               mn.o_orderkey AS min_price_orderkey
        FROM agg
        JOIN (SELECT o_orderstatus, o_orderkey FROM r WHERE rmax = 1) mx
          USING (o_orderstatus)
        JOIN (SELECT o_orderstatus, o_orderkey FROM r WHERE rmin = 1) mn
          USING (o_orderstatus)
    """,
    "j10_intersect_snapshots": """
        SELECT o_custkey, o_orderpriority FROM orders WHERE o_orderstatus = 'O'
        INTERSECT
        SELECT o_custkey, o_orderpriority FROM orders WHERE o_totalprice > 150000
    """,
    "j11_except_snapshots": """
        SELECT o_custkey, o_orderpriority FROM orders WHERE o_orderstatus = 'O'
        EXCEPT
        SELECT o_custkey, o_orderpriority FROM orders WHERE o_totalprice > 150000
    """,
    # The oracle is the DIRECT all-pairs definition (length prefilter only
    # narrows the loop) — value-equality proves the deletion-neighborhood
    # equi-join candidate generator complete for edit distance ≤ 1.
    "e1_fuzzy_name_match": """
        SELECT a.c_custkey AS key_a, b.c_custkey AS key_b,
               a.c_name AS name_a, b.c_name AS name_b,
               CAST(levenshtein(a.c_name, b.c_name) AS INT) AS edit_dist
        FROM customer a JOIN customer b
          ON a.c_custkey < b.c_custkey
         AND abs(length(a.c_name) - length(b.c_name)) <= 1
        WHERE levenshtein(a.c_name, b.c_name) <= 1
    """,
    "e3_pii_scrub": """
        WITH raw AS (
            SELECT c_custkey,
                   'Contact ' || c_name || ' at user' || c_custkey
                   || '@example.com or 0797'
                   || lpad(CAST((c_custkey * 7919) % 1000000 AS VARCHAR), 7, '0')
                   || ' ref ' || c_custkey AS raw_text
            FROM customer WHERE c_custkey < 500
        )
        SELECT c_custkey, raw_text,
               regexp_replace(
                   regexp_replace(raw_text,
                                  '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+', '<EMAIL>', 'g'),
                   '\\b0[0-9]{10}\\b', '<PHONE>', 'g') AS scrubbed_text,
               NOT contains(
                   regexp_replace(
                       regexp_replace(raw_text,
                                      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+', '<EMAIL>', 'g'),
                       '\\b0[0-9]{10}\\b', '<PHONE>', 'g'), '@') AS email_gone
        FROM raw
    """,
}
