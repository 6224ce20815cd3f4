"""Raw SQL surface: register_temp_views exposes every table to spark.sql,
and SQL results match the DataFrame-API operators."""

from __future__ import annotations

import pyspark.sql.functions as F

from caseguarddatapipeline_spark.catalog import build_catalog
from caseguarddatapipeline_spark.sources import load_table, register_temp_views

QUERIES, _ = build_catalog()


def test_sql_matches_dataframe_api(spark, sf_dir):
    register_temp_views(spark, sf_dir)
    sql = spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority,
               count(*) AS n_cases,
               round(avg(o_totalprice), 4) AS avg_value
        FROM orders GROUP BY o_orderstatus, o_orderpriority
        """
    )
    api = QUERIES["a8_status_distribution"](spark, sf_dir)
    assert sorted(map(tuple, sql.collect())) == sorted(map(tuple, api.collect()))


def test_sql_join_over_views(spark, sf_dir):
    register_temp_views(spark, sf_dir)
    out = spark.sql(
        """
        SELECT n_name, count(*) AS n_customers
        FROM customer JOIN nation ON c_nationkey = n_nationkey
        GROUP BY n_name ORDER BY n_customers DESC, n_name LIMIT 5
        """
    ).collect()
    assert len(out) == 5
    total = load_table(spark, sf_dir, "customer").count()
    assert sum(r["n_customers"] for r in out) <= total


def test_partition_pruning_reaches_scan(spark, sf_dir, tmp_path):
    from caseguarddatapipeline_spark.sources.connectors import (
        read_partition,
        write_partitioned,
    )

    orders = load_table(spark, sf_dir, "orders")
    path = str(tmp_path / "part")
    write_partitioned(orders, path, "o_orderstatus")
    pruned = read_partition(spark, path, o_orderstatus="F")
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan
    assert "o_orderstatus" in plan.split("PartitionFilters")[1].split("]")[0], plan
    assert pruned.count() == orders.filter(F.col("o_orderstatus") == "F").count()


def test_ivf_cells_persist_as_partitions(spark, sf_dir, tmp_path):
    """The documented IVF scale path: persist the cell assignment as a
    partition column; probing nprobe cells becomes directory pruning."""
    import pyspark.sql.functions as F
    from caseguarddatapipeline_spark.operators.similarity import (
        _cell_cosines,
        _dbl,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    seeds = [
        r["e"]
        for r in emb.filter(F.col("vec_id") < 8)
        .orderBy("vec_id")
        .select(_dbl(F.col("embedding")).alias("e"))
        .collect()
    ]
    cos_arr = _cell_cosines(seeds, _dbl(F.col("embedding")))
    cells = emb.select(
        "vec_id",
        "embedding",
        (F.array_position(cos_arr, F.array_max(cos_arr)) - 1)
        .cast("int")
        .alias("cell"),
    )
    path = str(tmp_path / "ivf_index")
    cells.write.mode("overwrite").partitionBy("cell").parquet(path)

    probe = spark.read.parquet(path).filter(F.col("cell").isin(1, 3))
    plan = probe._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan
    assert "cell" in plan.split("PartitionFilters")[1].split("]")[0], plan
    assert probe.count() == cells.filter(F.col("cell").isin(1, 3)).count()
    assert probe.count() > 0


def test_cross_sf_loads_are_isolated(spark):
    """Loaders must not cache per-path state: the same session must read
    different scale factors correctly (the driver does exactly this)."""
    small = load_table(spark, "/root/testdata/sf0.001", "orders").count()
    big = load_table(spark, "/root/testdata/sf0.01", "orders").count()
    again = load_table(spark, "/root/testdata/sf0.001", "orders").count()
    assert small == again
    assert big > small
    ev_small = load_table(spark, "/root/testdata/sf0.001", "events")
    ev_big = load_table(spark, "/root/testdata/sf0.01", "events")
    assert dict(ev_small.dtypes)["ts"] == dict(ev_big.dtypes)["ts"]
    assert ev_big.count() > ev_small.count()


def test_sql_twins_cross_sf_isolation(spark):
    """scoped_views must keep one session serving several scale factors:
    the same SQL twin against sf0.001 and sf0.01 reads different data."""
    q = QUERIES["q1_pricing_summary_sql"]
    small = q(spark, "/root/testdata/sf0.001").agg(F.sum("count_order")).collect()[0][0]
    big = q(spark, "/root/testdata/sf0.01").agg(F.sum("count_order")).collect()[0][0]
    assert small and big and big > small


# Catalog names served by ONE body: each pair is the same function object,
# so the two names cannot drift apart (catalog.ALIASES registers the second).
ALIAS_PAIRS = [
    ("q1_pricing_summary", "q1_pricing_summary_sql"),
    ("q3_shipping_priority", "q3_shipping_priority_sql"),
    ("q5_regional_volume", "q5_regional_volume_sql"),
    ("q18_large_orders", "q18_large_orders_sql"),
    ("e3_bpe_encode", "e3_bpe_encode_sql"),
    ("e5_global_token_budget", "e5_global_token_budget_sql"),
    ("e3_zscore_by_source", "e3_zscore_by_source_scaled"),
    ("e5_curriculum_order", "e5_curriculum_order_scaled"),
    ("e5_token_budget_sample", "e5_token_budget_sample_scaled"),
    ("e1_minhash_lsh", "e1_minhash_lsh_vectorized"),
    ("e1_span_dedup", "e1_span_dedup_sql"),
    ("e2_sq8_search", "e2_sq8_search_sql"),
    ("a1_reconciliation_summary", "a1_reconciliation_summary_sql"),
]


def test_alias_pairs_share_one_body():
    split = [(a, b) for a, b in ALIAS_PAIRS if QUERIES[a] is not QUERIES[b]]
    assert not split, f"names with two bodies: {split}"


def test_e5_budget_caps_collect_is_bounded(spark, sf_dir, monkeypatch):
    """Round-14 guard: the water-fill body's driver-side caps collect is
    LIMIT-bounded. Past _GLOBAL_BUDGET_MAX_SOURCES distinct sources it
    must fall back to the one-statement template — same rows, no
    unbounded collect/VALUES literal. Pinned by forcing the bound below
    the corpus's source count and comparing against the main path."""
    from caseguarddatapipeline_spark.operators import quality

    q = QUERIES["e5_global_token_budget_sql"]
    main = sorted(map(tuple, q(spark, sf_dir).collect()))
    n_sources = len(main)
    assert n_sources >= 2, "fixture corpus must have several sources"
    monkeypatch.setattr(quality, "_GLOBAL_BUDGET_MAX_SOURCES", n_sources - 1)
    fallback = sorted(map(tuple, q(spark, sf_dir).collect()))
    assert fallback == main
