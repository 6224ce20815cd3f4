"""Materialized IVF postings store (operators/vecindex.py): lifecycle
semantics (publish / upsert / delete through the lake-table store), search
parity with the inline algebra, and the partition-pruning plan claim."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from caseguarddatapipeline_spark.operators.similarity import _ivf1_index
from caseguarddatapipeline_spark.operators.vecindex import (
    _assign,
    ivf_postings_delete,
    ivf_postings_upsert,
    publish_ivf_postings,
    s12_postings_search,
)
from caseguarddatapipeline_spark.sources import load_table
from caseguarddatapipeline_spark.sources.versioned import (
    read_latest,
    read_version,
)


def _rows(df):
    return sorted(
        (r["vec_id"], r["cell"], tuple(r["emb"])) for r in df.collect()
    )


@pytest.fixture()
def store(spark, sf_dir, tmp_path):
    base, v0 = publish_ivf_postings(spark, sf_dir, str(tmp_path / "posts"))
    return base, v0


def test_publish_layout_and_content(spark, sf_dir, store):
    base, v0 = store
    assert v0 == 0
    # hive-style cell partitions on disk — the 100 TB layout, literally
    import os

    from caseguarddatapipeline_spark.sources import versioned as V

    doc = V._read_manifest(base, v0)
    assert doc["partition_by"] == ["cell"]
    cells = {V._partition_key(f) for f in doc["files"]}
    assert len(cells) > 1 and all(c[0].startswith("cell=") for c in cells)
    assert all(os.path.isfile(os.path.join(V._data_dir(base), f)) for f in doc["files"])
    # snapshot content == assigning the corpus inline with the persisted
    # quantizer (parquet round-trips the doubles bit-exactly)
    _, cents = _ivf1_index(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    assert _rows(read_latest(spark, base)) == _rows(_assign(emb, cents))


def test_search_serves_from_snapshot_with_pruning(spark, sf_dir, store):
    base, _ = store
    got = s12_postings_search(spark, sf_dir, base_dir=base)
    plan = got._jdf.queryExecution().executedPlan().toString()
    # the probe set is pushed as a literal partition predicate: the scan
    # prunes to probed cells BEFORE the join — no full corpus read
    assert "PartitionFilters" in plan
    pf = plan.split("PartitionFilters", 1)[1].split("]", 1)[0]
    assert "cell" in pf and ("IN" in pf or "INSET" in pf.upper())
    rows = got.collect()
    assert len(rows) == 15  # 5 queries × top-3
    assert all(1 <= r["rank"] <= 3 for r in rows)


def test_upsert_last_writer_wins_and_time_travel(spark, sf_dir, store):
    base, v0 = store
    # work in array<double> throughout — _assign casts the same way, so
    # assignment over this frame equals assignment over the raw table
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    dim = len(emb.first()["embedding"])
    max_id = emb.agg(F.max("vec_id")).collect()[0][0]
    changed = emb.filter(F.col("vec_id") == 7).select(
        "vec_id",
        F.transform(F.col("embedding"), lambda x: -x).alias("embedding"),
    )
    extra = spark.createDataFrame(
        [(max_id + 1, [0.25] * dim), (max_id + 2, [-0.5] * dim)],
        "vec_id long, embedding array<double>",
    )
    batch = changed.unionByName(extra)
    _, v1 = ivf_postings_upsert(spark, sf_dir, batch, base_dir=base)
    assert v1 == v0 + 1

    # merged snapshot == from-scratch assignment of the merged corpus
    _, cents = _ivf1_index(spark, sf_dir)
    merged_corpus = emb.filter(F.col("vec_id") != 7).unionByName(batch)
    assert _rows(read_latest(spark, base)) == _rows(
        _assign(merged_corpus, cents)
    )
    # time travel: v0 still serves the pre-upsert corpus
    old = read_version(spark, base, v0)
    assert old.count() == emb.count()
    old7 = old.filter(F.col("vec_id") == 7).first()["emb"]
    new7 = (
        read_latest(spark, base).filter(F.col("vec_id") == 7).first()["emb"]
    )
    assert list(old7) == [-x for x in new7]  # IEEE negation is exact


def test_delete_publishes_next_version(spark, sf_dir, store):
    base, v0 = store
    n = read_latest(spark, base).count()
    _, v1 = ivf_postings_delete(spark, sf_dir, [0, 1], base_dir=base)
    assert v1 == v0 + 1
    left = read_latest(spark, base)
    assert left.count() == n - 2
    assert left.filter(F.col("vec_id").isin([0, 1])).count() == 0
    # deleted ids disappear from search results too
    got = s12_postings_search(spark, sf_dir, base_dir=base)
    assert got.filter(F.col("vec_id").isin([0, 1])).count() == 0


def test_delete_commits_only_touched_cells(spark, sf_dir, store):
    """A delete rewrites only the deleted ids' home cells; every other
    cell's files are carried forward from the previous version."""
    from caseguarddatapipeline_spark.sources import versioned as V

    base, v0 = store
    homes = {
        r["cell"]
        for r in read_latest(spark, base).filter(F.col("vec_id").isin([0, 1])).collect()
    }
    _, v1 = ivf_postings_delete(spark, sf_dir, [0, 1], base_dir=base)
    before = V._read_manifest(base, v0)["files"]
    after = V._read_manifest(base, v1)["files"]
    untouched = [f for f in before if V._partition_key(f) not in {(f"cell={c}",) for c in homes}]
    assert untouched and set(untouched) <= set(after)
    rewritten = {V._partition_key(f) for f in set(after) - set(before)}
    assert rewritten <= {(f"cell={c}",) for c in homes}
