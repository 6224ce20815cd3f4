"""Composed streaming corpus assembly (round-9 verdict item 5):
correctness invariants of streaming/assembly.py at small scale, plus the
committed STREAM_ASSEMBLY.json record's floor — the streaming
counterpart of tests/test_scale_floor.py's ASSEMBLY.json pin."""

from __future__ import annotations

import json
import sys
from pathlib import Path

import pyspark.sql.functions as F
import pytest

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from tools.assembly_stream_bench import planted_docs  # noqa: E402


def _planted_input(spark, tmp_path, n_docs=400, n_files=4):
    input_dir = str(tmp_path / "in")
    if not (tmp_path / "in").exists():
        planted_docs(spark, n_docs).repartition(
            n_files, F.col("doc_id")
        ).write.mode("overwrite").json(input_dir)
    return input_dir


def _drain(spark, tmp_path, n_docs=400, budget=2_000, n_files=4):
    input_dir = _planted_input(spark, tmp_path, n_docs, n_files)
    work = str(tmp_path / "work")
    from caseguarddatapipeline_spark.streaming.assembly import (
        run_assembly_stream,
    )

    run_assembly_stream(
        spark, input_dir, work, token_budget=budget, max_files_per_trigger=1
    )
    return work


def test_budget_level_bucketed_matches_single_window(spark):
    """The two budget-level forms (one cumulative window per source below
    _BUCKETED_MIN_ROWS, exact_rank over doc_id-range buckets above it)
    give the same ``level`` column on one frame: skewed sources, sparse
    snowflake-style doc_ids and a single-row source."""
    from caseguarddatapipeline_spark.streaming.assembly import _budget_level

    rows = [(i * 7_919 + (1 << 52), i % 3, (i * 13) % 29 + 1) for i in range(300)]
    rows.append((5, 9, 40))  # a source with one document
    quality = spark.createDataFrame(rows, "doc_id long, source long, n_tokens long")

    def level(bucketed):
        out = _budget_level(quality, bucketed=bucketed)
        return sorted(out.select("doc_id", "source", "level").collect())

    single = level(False)
    assert len(single) == len(rows)
    assert level(True) == single


def test_assembly_stream_invariants(spark, tmp_path):
    work = _drain(spark, tmp_path)
    corpus = spark.read.parquet(f"{work}/corpus")
    rows = corpus.collect()
    assert rows, "stream admitted nothing"
    # no two admitted docs share content (exact dedup held across batches)
    texts = [r.text for r in rows]
    assert len(texts) == len(set(texts))
    # every admitted doc passed the quality gate's bounds
    for r in rows:
        toks = r.text.split(" ")
        assert 20 <= len(toks) <= 90
        assert len(set(toks)) / len(toks) >= 0.45
    # per-source budget is a hard cap
    by_source = {
        r.source: r.t
        for r in corpus.groupBy("source")
        .agg(F.sum("n_tokens").alias("t"))
        .collect()
    }
    assert by_source and all(t <= 2_000 for t in by_source.values())
    # the budget tallies reconstruct exactly the admitted consumption
    tallies = {
        r.source: r.t
        for r in spark.read.parquet(f"{work}/budget_state")
        .groupBy("source")
        .agg(F.sum("tokens").alias("t"))
        .collect()
    }
    assert tallies == by_source


def test_assembly_stream_exact_dups_never_admitted(spark, tmp_path):
    """Every id%10==0 doc is an exact copy of its predecessor; whichever
    of the pair drains first wins, the other must not reach the corpus
    (same batch: min-doc_id rule; later batch: hash-index anti-join)."""
    work = _drain(spark, tmp_path)
    admitted = {
        r.doc_id
        for r in spark.read.parquet(f"{work}/corpus")
        .select("doc_id")
        .collect()
    }
    for d in admitted:
        if d % 10 == 0:
            assert d - 1 not in admitted, f"exact pair ({d-1},{d}) both in"


def test_assembly_sink_writes_stay_in_the_stream_job_group(spark, tmp_path):
    """The four sink writes run on pool threads. They must carry the
    micro-batch's local properties, so that no drain job escapes the
    stream's job group (and with it the stream's scheduler pool)."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    _planted_input(spark, tmp_path)  # outside the checked window
    before = set(tracker.getJobIdsForGroup(None))
    prev = sc.getLocalProperty("spark.jobGroup.id")
    sc.setLocalProperty("spark.jobGroup.id", "assembly-caller")
    try:
        work = _drain(spark, tmp_path)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", prev)
    escaped = set(tracker.getJobIdsForGroup(None)) - before
    assert not escaped, f"{len(escaped)} drain jobs ran outside any job group"
    assert spark.read.parquet(f"{work}/corpus").count() > 0


def test_assembly_stream_deterministic(spark, tmp_path):
    """Two fresh drains of the same input files admit the identical doc
    set — the reproducibility a training-corpus build requires. (Which
    member of a dup pair survives DOES depend on batch composition, so
    the input is written once, hash-partitioned on doc_id; the pipeline
    itself is then a pure function of the files.)"""
    (tmp_path / "a").mkdir()
    (tmp_path / "b").mkdir()
    import shutil

    w1 = _drain(spark, tmp_path / "a")
    shutil.copytree(tmp_path / "a" / "in", tmp_path / "b" / "in")
    w2 = _drain(spark, tmp_path / "b")
    ids1 = sorted(
        r.doc_id for r in spark.read.parquet(f"{w1}/corpus").collect()
    )
    ids2 = sorted(
        r.doc_id for r in spark.read.parquet(f"{w2}/corpus").collect()
    )
    assert ids1 == ids2


def test_assembly_rejects_unowned_corpus(spark, tmp_path):
    """A fresh checkpoint pointed at a work dir whose CORPUS already
    holds higher-numbered batch partitions must fail fast, not silently
    mix stale output into the new build (the ownership rule the state
    indexes already enforce, extended to the batch_id-keyed corpus)."""
    import pytest

    work = _drain(spark, tmp_path)
    # simulate a prior longer run: a corpus partition far ahead, with the
    # batch-keyed STATE dirs cleared so the corpus check (not the state
    # dirs' own ownership check) is what must trip
    (Path(work) / "corpus" / "batch_id=99").mkdir(parents=True)
    import shutil

    for d in ("ckpt", "hash_index", "sig_index", "budget_state"):
        shutil.rmtree(f"{work}/{d}")  # fresh checkpoint, batch ids restart
    from caseguarddatapipeline_spark.streaming.assembly import (
        run_assembly_stream,
    )

    with pytest.raises(Exception, match="does not own this corpus"):
        run_assembly_stream(
            spark,
            str(tmp_path / "in"),
            work,
            token_budget=2_000,
            max_files_per_trigger=1,
        )


def test_assembly_indexes_support_maintenance(spark, tmp_path):
    """The assembly stream's state dirs are the same batch-partitioned
    shape the near-dup index uses, so the TTL+compaction maintenance
    pass composes unchanged: after a drain, maintain_index on the
    signature index drops aged batches and a subsequent drain of NEW
    files still probes correctly (the 100 TB retention story, proven on
    the composed pipeline, not just the lone near-dup stream)."""
    from caseguarddatapipeline_spark.streaming.neardup import maintain_index

    work = _drain(spark, tmp_path)
    sig = f"{work}/sig_index"
    before = spark.read.parquet(sig).count()
    report = maintain_index(spark, sig, keep_batches=2)
    assert report["batches_dropped"] >= 1
    after = spark.read.parquet(sig).count()
    assert 0 < after < before


def test_stream_assembly_record_floor():
    from tools.assembly_stream_bench import FLOORS

    path = REPO / "STREAM_ASSEMBLY.json"
    assert path.exists(), (
        "STREAM_ASSEMBLY.json missing — regenerate with "
        "`python tools/assembly_stream_bench.py`"
    )
    doc = json.loads(path.read_text())
    assert doc["metric"] == "stream_corpus_assembly"
    assert doc["docs_in"] >= 20_000
    f = doc["funnel"]
    # the funnel is monotone and every stage did real work
    assert (
        doc["docs_in"]
        > f["unique_after_exact_dedup"]
        > f["indexed_after_neardup"]
        > f["admitted_to_corpus"]
        > 0
    )
    assert doc["floors"] == FLOORS
    assert doc["docs_per_sec"] >= FLOORS["docs_per_sec"], (
        f"composed streaming assembly {doc['docs_per_sec']} docs/s below "
        f"the {FLOORS['docs_per_sec']} floor"
    )


def test_stream_assembly_decomposition_recorded():
    """Round-10: the record must carry the fixed/marginal decomposition
    (two drains of the same corpus at different batch counts) and hold
    the marginal floor — the number the 100 TB extrapolation rests on,
    since per-batch fixed cost amortizes away at production batch
    sizes."""
    from tools.assembly_stream_bench import FLOORS

    doc = json.loads((REPO / "STREAM_ASSEMBLY.json").read_text())
    d = doc["decomposition"]
    assert d["batches_b2"] > doc["batches"]
    assert d["elapsed_b2_sec"] > doc["elapsed_sec"], (
        "more micro-batches over the same corpus must cost more wall "
        "clock (per-batch fixed cost exists)"
    )
    assert d["fixed_sec_per_batch"] >= 0
    assert d["marginal_docs_per_sec"] >= FLOORS["marginal_docs_per_sec"], (
        f"marginal {d['marginal_docs_per_sec']} docs/s below the "
        f"{FLOORS['marginal_docs_per_sec']} floor"
    )
    # consistency (round 13 model): anchored at the measured
    # single-batch drain, e(b) = slope*(b-1) + e_single must
    # reconstruct the multi-batch drain
    e_single = doc["single_batch"]["elapsed_sec"]
    recon = d["fixed_sec_per_batch"] * (doc["batches"] - 1) + e_single
    assert abs(recon - doc["elapsed_sec"]) <= 0.15 * doc["elapsed_sec"] + 0.3
    # the single-batch rate IS the recorded marginal (a direct
    # measurement, lower-bounding true marginal throughput)
    assert d["marginal_docs_per_sec"] == pytest.approx(
        doc["docs_in"] / e_single, rel=0.01
    )
