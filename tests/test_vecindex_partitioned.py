"""O(touched cells) postings upsert: ``ivf_postings_upsert`` must equal an
independent reference — ``_assign`` over (the corpus minus the batch ids)
∪ the batch — while physically rewriting only the touched cells' files
and carrying every other cell's files forward. Also covers the
cell-migration subtlety: replacing an id whose new embedding lands in a
DIFFERENT cell must delete the old posting."""

from __future__ import annotations

import pyspark.sql.functions as F

from caseguarddatapipeline_spark.operators.similarity import _ivf1_index
from caseguarddatapipeline_spark.operators.vecindex import (
    _assign,
    ivf_postings_upsert,
    publish_ivf_postings,
)
from caseguarddatapipeline_spark.sources import load_table
from caseguarddatapipeline_spark.sources import versioned as V

SF_DIR = "/root/testdata/sf0.001"


def _table(df):
    return sorted(
        (int(r.vec_id), int(r.cell), tuple(round(x, 6) for x in r.emb))
        for r in df.collect()
    )


def _batch(spark, base_emb, vec_ids, shift):
    """(vec_id, embedding) batch: existing ids get a SHIFTED embedding
    (forcing some cell migrations), new ids get fresh vectors."""
    src = base_emb.filter(F.col("vec_id").isin(vec_ids))
    return src.select(
        "vec_id",
        F.transform(
            F.col("embedding"), lambda x: x.cast("double") + shift
        ).alias("embedding"),
    )


def _apply(corpus, batch):
    """The reference merge: the corpus minus the batch ids, plus the batch."""
    return corpus.join(batch.select("vec_id"), "vec_id", "left_anti").unionByName(
        batch
    )


def test_partitioned_upsert_is_twin_identical_and_partial(spark, tmp_path):
    emb = load_table(spark, SF_DIR, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    _, cents = _ivf1_index(spark, SF_DIR)
    new_ids = emb.agg(F.max("vec_id")).collect()[0][0] + 1

    base = str(tmp_path / "b")
    _, v0 = publish_ivf_postings(spark, SF_DIR, base)
    files_v0 = set(V._read_manifest(base, v0)["files"])

    # batch: 3 replaced ids (embeddings shifted -> possible migration)
    # + 2 brand-new ids
    replaced = _batch(spark, emb, [1, 3, 7], shift=0.8)
    brand_new = _batch(spark, emb, [0, 2], shift=2.5).select(
        (F.col("vec_id") + new_ids).alias("vec_id"), "embedding"
    )
    batch = replaced.unionByName(brand_new)
    _, v1 = ivf_postings_upsert(spark, SF_DIR, batch, base)

    corpus1 = _apply(emb, batch)
    t_b = _table(V.read_latest(spark, base))
    assert t_b == _table(_assign(corpus1, cents)), (
        "upsert diverged from the from-scratch assignment of the merged corpus"
    )
    # each upserted id appears exactly once (the migrated ids' OLD cell
    # postings are gone)
    ids = [r[0] for r in t_b]
    assert len(ids) == len(set(ids))

    # physically partial: the new manifest CARRIES files from v0
    m1 = V._read_manifest(base, v1)
    carried = set(m1["files"]) & files_v0
    fresh = set(m1["files"]) - files_v0
    assert carried, "no files carried — the commit rewrote the corpus"
    assert fresh and len({f.split("/")[0] for f in fresh}) == 1
    # the carried cells are exactly the untouched ones
    touched_cells = {V._partition_key(f) for f in fresh}
    for f in carried:
        assert V._partition_key(f) not in touched_cells

    # a second batch composes (the store stays consistent version over
    # version)
    batch2 = _batch(spark, emb, [5], shift=-0.3)
    ivf_postings_upsert(spark, SF_DIR, batch2, base)
    assert _table(V.read_latest(spark, base)) == _table(
        _assign(_apply(corpus1, batch2), cents)
    )


def test_migration_out_of_singleton_cell_leaves_no_stale_posting(
    spark, tmp_path
):
    """When a replaced id MIGRATES out of a cell that then becomes EMPTY,
    the empty partition writes no files — so the touched set must be
    declared explicitly or the old cell's files get carried forward and
    the stale posting survives. Construct a store where vec_id 999 is the
    ONLY member of its (stale) home cell, then re-embed it so it lands in
    its true cell."""
    emb = load_table(spark, SF_DIR, "embeddings")
    _, cents = _ivf1_index(spark, SF_DIR)
    v0 = emb.filter(F.col("vec_id") == 0).select("vec_id", "embedding")
    true_cell = int(_assign(v0, cents).collect()[0]["cell"])
    stale_cell = (true_cell + 1) % len(cents)

    base = str(tmp_path / "b")
    v0_emb = [float(x) for x in v0.collect()[0]["embedding"]]
    # initial table: 999 alone in the stale cell + one anchor row in the
    # true cell so both partitions exist
    V.write_version(
        spark.createDataFrame(
            [(999, v0_emb, stale_cell), (7, v0_emb, true_cell)],
            "vec_id long, emb array<double>, cell int",
        ),
        base,
        partition_by=["cell"],
    )
    _, v1 = ivf_postings_upsert(
        spark, SF_DIR, v0.select(F.lit(999).alias("vec_id"), "embedding"), base
    )
    rows = {
        (int(r.vec_id), int(r.cell)) for r in V.read_latest(spark, base).collect()
    }
    assert rows == {(999, true_cell), (7, true_cell)}, (
        "stale posting survived the cell migration"
    )
    assert not any(
        f"/cell={stale_cell}/" in f for f in V._read_manifest(base, v1)["files"]
    )


def _scan_nodes(df):
    """The executed plan's FileSourceScanExec leaves, after running it."""
    df.collect()
    plan = df._jdf.queryExecution().executedPlan()
    leaves = plan.collectLeaves()
    nodes = [leaves.apply(i) for i in range(leaves.size())]
    return [n for n in nodes if n.nodeName().startswith("Scan parquet")]


def test_many_upserts_read_as_one_scan(spark, tmp_path):
    """Each upsert commits files from one more writer dir; the version
    must still read as ONE parquet scan (not one scan per writer dir
    unioned), with the same rows and with partition pruning intact."""
    emb = load_table(spark, SF_DIR, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    _, cents = _ivf1_index(spark, SF_DIR)
    base = str(tmp_path / "b")
    publish_ivf_postings(spark, SF_DIR, base)
    corpus = emb
    for i, vid in enumerate([1, 3, 5, 7, 9, 11]):
        batch = _batch(spark, emb, [vid], shift=0.5 + 0.1 * i)
        ivf_postings_upsert(spark, SF_DIR, batch, base)
        corpus = _apply(corpus, batch)
    manifest = V._read_manifest(base, V.latest_version(base))
    assert len({f.split("/")[0] for f in manifest["files"]}) > 2

    latest = V.read_latest(spark, base)
    assert latest.columns == ["vec_id", "emb", "cell"]
    assert len(_scan_nodes(latest)) == 1
    assert _table(latest) == _table(_assign(corpus, cents))

    cell = _table(latest)[0][1]
    one_cell = latest.filter(F.col("cell") == cell)
    (scan,) = _scan_nodes(one_cell)
    assert "cell" in str(scan.partitionFilters())
    cell_files = [
        f for f in manifest["files"] if V._partition_key(f) == (f"cell={cell}",)
    ]
    assert scan.metrics().apply("numFiles").value() == len(cell_files)
    assert {r.cell for r in one_cell.collect()} == {cell}
