"""Gap-filling relational/scalar operators (relational3.py) + the
embedding-cosine near-dup: semantic checks beyond the oracle parity of
tests/test_catalog.py::test_query_runs_and_returns_rows (which covers
value equality)."""

from __future__ import annotations

import pyspark.sql.functions as F

from caseguarddatapipeline_spark.operators.dedup import e1_embedding_neardup
from caseguarddatapipeline_spark.operators.relational3 import (
    a11_queue_depth,
    f18_null_normalization,
    f20_ratio_metrics,
    n2_explode_history_filtered,
    p2_canonical_projection,
    p6_tenant_isolation_filter,
    p7_significant_event_filter,
    s4_paged_search,
    w3_doc_cap_per_case,
)
from caseguarddatapipeline_spark.sources import load_table


def test_p2_canonical_schema(spark, sf_dir):
    df = p2_canonical_projection(spark, sf_dir)
    assert df.columns == [
        "case_ref",
        "status",
        "case_type",
        "date_opened",
        "claim_value",
    ]
    types = dict(df.dtypes)
    assert types["case_ref"] == "string"
    assert types["date_opened"] == "date"
    assert types["claim_value"] == "double"


def test_p6_tenant_isolation_pushdown(spark, sf_dir):
    df = p6_tenant_isolation_filter(spark, sf_dir)
    assert df.filter(F.col("c_nationkey") != 5).count() == 0
    # the tenant predicate must reach the customer scan, not sit post-join
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "c_nationkey" in plan.split("Join")[-1], plan


def test_p7_cap_and_filter(spark, sf_dir):
    df = p7_significant_event_filter(spark, sf_dir)
    per_user = df.groupBy("user_id").count()
    assert per_user.agg(F.max("count")).first()[0] <= 10


def test_w3_doc_cap(spark, sf_dir):
    df = w3_doc_cap_per_case(spark, sf_dir)
    per_order = df.groupBy("l_orderkey").count()
    assert per_order.agg(F.max("count")).first()[0] <= 3
    # rows kept are the lowest line numbers per order
    first = df.filter(F.col("rn") == 1)
    li = load_table(spark, sf_dir, "lineitem")
    mins = li.groupBy("l_orderkey").agg(F.min("l_linenumber").alias("mn"))
    joined = first.join(mins, "l_orderkey")
    assert joined.filter(F.col("l_linenumber") != F.col("mn")).count() == 0


def test_a11_completion_consistent(spark, sf_dir):
    rows = a11_queue_depth(spark, sf_dir).collect()
    assert {r["queue"] for r in rows} == {1, 2, 3}
    for r in rows:
        done = r["depth"] - r["jobs_remaining"]
        assert abs(r["completion_pct"] - 100.0 * done / r["depth"]) < 1e-3


def test_f18_empty_marker_nulled(spark, sf_dir):
    df = f18_null_normalization(spark, sf_dir)
    empties = df.filter(F.col("was_empty"))
    assert empties.count() > 0
    assert empties.filter(F.col("balance").isNotNull()).count() == 0
    assert df.filter(~F.col("was_empty") & F.col("balance").isNull()).count() == 0


def test_f20_percentages_sum_to_100(spark, sf_dir):
    rows = f20_ratio_metrics(spark, sf_dir).collect()
    assert abs(sum(r["pct_of_cases"] for r in rows) - 100.0) < 0.01
    assert abs(sum(r["pct_of_value"] for r in rows) - 100.0) < 0.01


def test_n2_index_bounds(spark, sf_dir):
    df = n2_explode_history_filtered(spark, sf_dir)
    assert df.agg(F.max("event_index")).first()[0] <= 4
    assert df.filter(F.col("event_type") == "view").count() == 0


def test_s4_page_size(spark, sf_dir):
    df = s4_paged_search(spark, sf_dir)
    rows = df.collect()
    assert len(rows) <= 25
    assert all("doc_id" in r.asDict() for r in rows)


def test_e1_embedding_neardup_triangle(spark, sf_dir):
    df = e1_embedding_neardup(spark, sf_dir)
    assert df.filter(F.col("doc_a") >= F.col("doc_b")).count() == 0
    assert df.filter(F.col("cosine") < 0.35).count() == 0
    assert df.filter(F.col("cosine") > 1.0).count() == 0


def test_e1_embedding_neardup_blocked_plan(spark, sf_dir):
    """The blocked all-pairs design must fan out via block-key equi-joins —
    a BroadcastNestedLoopJoin / cartesian over the full table is the exact
    shape this operator exists to avoid."""
    plan = (
        e1_embedding_neardup(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "FlatMapGroupsInPandas" in plan  # the numpy matmul kernel
