"""Streaming vector-index ingestion (streaming/vecingest.py): per-batch
touched-cells upsert into the postings store, deterministic in-batch
last-writer-wins, replay idempotence, and the store-ownership gate."""

from __future__ import annotations

import json
import os

import pyspark.sql.functions as F
import pytest

from caseguarddatapipeline_spark.operators.vecindex import (
    publish_ivf_postings,
)
from caseguarddatapipeline_spark.sources import load_table
from caseguarddatapipeline_spark.sources.versioned import (
    latest_version,
    read_latest,
)
from caseguarddatapipeline_spark.streaming.vecingest import (
    run_vector_upsert_stream,
)


def _write_batch(d: str, n: int, rows) -> None:
    with open(os.path.join(d, f"batch{n}.json"), "w") as f:
        for vec_id, emb, ts in rows:
            f.write(
                json.dumps({"vec_id": vec_id, "embedding": emb, "ts": ts})
                + "\n"
            )


def _dim(spark, sf_dir) -> int:
    return len(
        load_table(spark, sf_dir, "embeddings").first()["embedding"]
    )


def test_stream_upserts_versioned_batches(spark, sf_dir, tmp_path):
    inp, ck = str(tmp_path / "in"), str(tmp_path / "ck")
    base = str(tmp_path / "posts")
    os.makedirs(inp)
    publish_ivf_postings(spark, sf_dir, base)
    n0 = read_latest(spark, base).count()
    dim = _dim(spark, sf_dir)

    # batch 1 carries vec 900001 twice — ts=2 must win (last writer),
    # plus a fresh vec 900002
    _write_batch(
        inp,
        1,
        [
            (900001, [0.1] * dim, 1),
            (900001, [0.9] * dim, 2),
            (900002, [-0.4] * dim, 1),
        ],
    )
    run_vector_upsert_stream(spark, sf_dir, inp, ck, base_dir=base)
    v1 = latest_version(base)
    snap = read_latest(spark, base)
    assert snap.count() == n0 + 2
    got = snap.filter(F.col("vec_id") == 900001).first()["emb"]
    assert list(got) == [0.9] * dim

    # batch 2 overwrites 900002 — next version, old one retained
    _write_batch(inp, 2, [(900002, [0.7] * dim, 5)])
    run_vector_upsert_stream(spark, sf_dir, inp, ck, base_dir=base)
    assert latest_version(base) > v1
    got2 = read_latest(spark, base).filter(F.col("vec_id") == 900002)
    assert list(got2.first()["emb"]) == [0.7] * dim

    # replay with nothing new: no batch fires, state unchanged
    v_before = latest_version(base)
    run_vector_upsert_stream(spark, sf_dir, inp, ck, base_dir=base)
    assert latest_version(base) == v_before


def test_stream_batch_commits_only_touched_cells(spark, sf_dir, tmp_path):
    """Each micro-batch commits only the cells its vectors touch: the new
    version carries every other cell's files from the published index."""
    from caseguarddatapipeline_spark.sources import versioned as V

    inp, ck = str(tmp_path / "in"), str(tmp_path / "ck")
    base = str(tmp_path / "posts")
    os.makedirs(inp)
    _, v0 = publish_ivf_postings(spark, sf_dir, base)
    dim = _dim(spark, sf_dir)
    _write_batch(inp, 1, [(900001, [0.3] * dim, 1), (900002, [-0.2] * dim, 1)])
    run_vector_upsert_stream(spark, sf_dir, inp, ck, base_dir=base)
    before = V._read_manifest(base, v0)["files"]
    after = V._read_manifest(base, latest_version(base))["files"]
    fresh = set(after) - set(before)
    assert 1 <= len({V._partition_key(f) for f in fresh}) <= 2
    assert set(after) & set(before), "the batch rewrote the whole corpus"


def test_fresh_checkpoint_against_used_store_fails(spark, sf_dir, tmp_path):
    inp, ck1 = str(tmp_path / "in"), str(tmp_path / "ck1")
    base = str(tmp_path / "posts")
    os.makedirs(inp)
    dim = _dim(spark, sf_dir)
    for n in range(3):  # advance the store's marker past batch 0
        _write_batch(inp, n, [(910000 + n, [0.2] * dim, n)])
        run_vector_upsert_stream(
            spark, sf_dir, inp, ck1, base_dir=base, max_files_per_trigger=1
        )
    # a FRESH checkpoint restarts batch ids at 0 — the ownership gate
    # must refuse rather than silently re-ingest over newer state
    _write_batch(inp, 9, [(919999, [0.3] * dim, 9)])
    with pytest.raises(Exception, match="does not own"):
        run_vector_upsert_stream(
            spark,
            sf_dir,
            inp,
            str(tmp_path / "ck2"),
            base_dir=base,
            max_files_per_trigger=1,
        )


def test_fresh_checkpoint_batch_zero_collision_fails(spark, sf_dir, tmp_path):
    """Marker batch id EQUAL to the new stream's batch id is not enough to
    call it a crash replay: after ONE prior batch (marker=0), a fresh
    checkpoint's batch 0 used to be silently skipped — new batch-0 data
    dropped while later batches applied. The checkpoint-identity token in
    the marker makes this fail fast instead."""
    inp = str(tmp_path / "in")
    base = str(tmp_path / "posts")
    os.makedirs(inp)
    dim = _dim(spark, sf_dir)
    _write_batch(inp, 0, [(920000, [0.2] * dim, 0)])
    run_vector_upsert_stream(
        spark, sf_dir, inp, str(tmp_path / "ck1"), base_dir=base
    )
    n_after_first = read_latest(spark, base).count()
    _write_batch(inp, 1, [(920001, [0.4] * dim, 1)])
    with pytest.raises(Exception, match="does not own"):
        run_vector_upsert_stream(
            spark, sf_dir, inp, str(tmp_path / "ck2"), base_dir=base
        )
    # nothing was dropped-and-advanced: the store is exactly as batch 0
    # of the owning checkpoint left it
    assert read_latest(spark, base).count() == n_after_first
    assert read_latest(spark, base).filter(
        F.col("vec_id") == 920001
    ).isEmpty()
