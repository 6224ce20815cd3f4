"""Incremental NEAR-dup detection on a document stream — the streaming
face of the E1 dedup family: every micro-batch of newly ingested
documents is signature-hashed once and probed against a persisted
band-signature index, so near-duplicates of ANYTHING seen before are
flagged at ingest time instead of waiting for the next full-corpus
sweep. ``run_span_dedup_stream`` (below) is the same protocol at SPAN
granularity: a persisted span-hash index flags documents arriving with
already-seen passages.

Per batch (foreachBatch):
1. admission: rows with NULL/short text (< 3 tokens — below the shingle
   width) divert out of the signature path instead of poisoning it; a
   malformed line must not wedge the stream on a poison batch;
2. the MinHash signature kernel (operators/dedup.py
   ``_banded_vectorized`` — the one kernel the oracle-checked batch
   operator e1_minhash_lsh runs) produces (doc_id, band, band_sig,
   shingles);
3. candidates = equi-join against the index on (band, band_sig) —
   the posting-list probe, NOT all-pairs; exact Jaccard verifies on the
   carried shingle sets and pairs ≥ the threshold land in
   ``out_dir/batch_id=N``;
4. the batch's own signatures land in ``index_dir/ingest_batch=N``.

State lives in parquet, not executor memory: the index is re-readable
across restarts. foreachBatch is at-least-once, so BOTH sides are
replay-exact: pairs AND index signatures write with dynamic partition
overwrite into their own batch partition — a replayed batch overwrites
its own partitions byte-for-byte — and the probe reads only index
partitions with ``ingest_batch < N``, so a replay whose index write
already committed cannot match the batch against its own signatures
(which would emit within-batch pairs the original run never produced).
At 100 TB-ingest scale the index is additionally bucketed on band_sig so
the per-batch probe is a bucket-pruned merge join, and a TTL compaction
drops signatures past the dedup horizon.

Within-batch pairs are intentionally NOT emitted here — a batch is also
its own near-dup candidate set, and the batch operator
(e1_minhash_lsh) covers that; composing both per batch is
one extra call at the foreachBatch site.
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..operators.dedup import _banded_vectorized, _pair_jaccard

DOC_STREAM_SCHEMA = "doc_id long, text string"

NEARDUP_THRESHOLD = 0.5
MIN_TOKENS = 3  # shingle width: shorter docs have no 3-gram signature


def probe_index(banded: DataFrame, index: DataFrame) -> DataFrame:
    """Candidate pairs between a batch's banded signatures and the
    index: bucket equi-join, exact-Jaccard verify, one row per
    (new_doc, index_doc) pair (a pair colliding in several bands
    dedupes)."""
    b = banded.alias("b")
    x = index.alias("x")
    jac = _pair_jaccard(F.col("b.shingles"), F.col("x.shingles"))
    return (
        b.join(
            x,
            (F.col("b.band") == F.col("x.band"))
            & (F.col("b.band_sig") == F.col("x.band_sig"))
            & (F.col("b.doc_id") != F.col("x.doc_id")),
        )
        .select(
            F.col("b.doc_id").alias("new_doc"),
            F.col("x.doc_id").alias("index_doc"),
            jac.alias("jaccard"),
        )
        .filter(F.col("jaccard") >= NEARDUP_THRESHOLD)
        .groupBy("new_doc", "index_doc")
        .agg(F.max("jaccard").alias("jaccard"))
    )


def _check_index_ownership(
    index_dir: str, batch_id: int, label: str = "near-dup index"
) -> None:
    """Fail fast when ``index_dir`` holds partitions AHEAD of the current
    batch id: batch ids restart at 0 under a FRESH checkpoint, so a stream
    pointed at an existing index with a new checkpoint would silently
    ignore every accumulated partition (all ``>= batch_id``) and re-index
    from empty, while ``maintain_index`` keeps preferring the stale
    high-numbered ones for retention. A partition EQUAL to batch_id is the
    legitimate crash-replay case (index written, checkpoint commit lost →
    the replay overwrites it, replay-exact); anything beyond it means this
    checkpoint does not own this state dir. Shared by every batch-id-keyed
    state sink (``label`` names the caller's dir in the error): the
    near-dup/span indexes here and the drift counts accumulator."""
    if not os.path.isdir(index_dir):
        return
    ahead = sorted(
        b
        for d in os.listdir(index_dir)
        if d.startswith("ingest_batch=")
        and (b := int(d.split("=", 1)[1])) > batch_id
    )
    if ahead:
        raise RuntimeError(
            f"{label} {index_dir} already holds partitions {ahead} "
            f"ahead of batch {batch_id}: the stream's checkpoint does not "
            "own this state (fresh checkpoint against an existing state "
            "dir?) — point at an empty state dir or restore the matching "
            "checkpoint"
        )


def _read_index(sess: SparkSession, index_dir: str, before_batch: int) -> DataFrame | None:
    """Index partitions from batches BEFORE the current one, or None when
    nothing is indexed yet. The existence check replaces a bare
    except-everything (which would also swallow real read failures as
    'first batch', silently dropping the batch's pairs)."""
    has_parts = os.path.isdir(index_dir) and any(
        d.startswith("ingest_batch=") for d in os.listdir(index_dir)
    )
    if not has_parts:
        return None
    index = sess.read.parquet(index_dir)
    return index.filter(F.col("ingest_batch") < before_batch)


def maintain_index(
    spark: SparkSession,
    index_dir: str,
    *,
    keep_batches: int | None = None,
    target_bytes: int = 128 << 20,
    small_file_ratio: float = 0.5,
    partition_cols: tuple[str, ...] = ("ingest_batch", "band"),
) -> dict:
    """The index maintenance pass the module docstring promises: (1) TTL —
    drop ``ingest_batch=N`` partitions older than the dedup horizon
    (``keep_batches`` newest kept; None keeps all), because signatures
    past the horizon can no longer produce actionable pairs and only
    inflate every probe's build side; (2) COMPACTION — collapse the
    per-batch small files the foreachBatch writer fragments into
    (operators/layout.compact_partitions), so the probe's index scan reads
    target-sized files instead of thousands of shards. Run it off the hot
    path on whatever cadence the ingest rate demands — the same
    OPTIMIZE + retention schedule a lakehouse table runs."""
    import shutil

    from ..operators.layout import (
        compact_partitions,
        compaction_lease_held,
        recover_compaction,
    )

    # refuse to run against an index another maintenance run is mid-swap
    # on: recover_compaction would silently no-op under the fresh lease,
    # the TTL pass would then see an INCONSISTENT index (swapped-out
    # partitions invisible, their expiry skipped), and the eventual
    # recovery would resurrect signatures this run meant to retire
    if compaction_lease_held(spark, index_dir):
        raise OSError(
            f"index maintenance skipped: another compaction of {index_dir} "
            "holds the swap lease; retry after it finishes or ages out"
        )
    # heal any interrupted swap BEFORE the TTL pass: an expired batch whose
    # data sits in the compaction trash must be restored first, so the TTL
    # rmtree (not the trash) is what removes it — otherwise recovery would
    # resurrect expired signatures or wedge on a missing parent dir
    recover_compaction(spark, index_dir)
    report: dict = {"batches_dropped": 0}
    if keep_batches is not None:
        batches = sorted(
            int(d.split("=", 1)[1])
            for d in os.listdir(index_dir)
            if d.startswith("ingest_batch=")
        )
        for b in batches[: max(0, len(batches) - keep_batches)]:
            shutil.rmtree(os.path.join(index_dir, f"ingest_batch={b}"))
            report["batches_dropped"] += 1
    if any(d.startswith("ingest_batch=") for d in os.listdir(index_dir)):
        report.update(
            compact_partitions(
                spark,
                index_dir,
                list(partition_cols),
                target_bytes=target_bytes,
                small_file_ratio=small_file_ratio,
            )
        )
    return report


def _run_doc_stream(
    spark: SparkSession,
    input_dir: str,
    index_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int,
    handle_batch,
):
    """Shared drain scaffold for the document-stream dedup jobs: heal the
    index (a maintenance run may have crashed mid-swap since the last
    drain — no partition may be silently missing when the probe reads),
    then run the availableNow foreachBatch query to completion. Protocol
    changes (trigger, checkpointing, recovery ordering) live HERE so the
    near-dup and span variants cannot diverge."""
    from ..operators.layout import recover_compaction

    os.makedirs(index_dir, exist_ok=True)
    os.makedirs(out_dir, exist_ok=True)
    recover_compaction(spark, index_dir)

    stream = (
        spark.readStream.schema(DOC_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", str(max_files_per_trigger))
        .json(input_dir)
    )
    query = (
        stream.writeStream.foreachBatch(handle_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    return query


def run_neardup_stream(
    spark: SparkSession,
    input_dir: str,
    index_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = 10,
):
    """Drain the document stream (availableNow), flagging near-dups of
    previously indexed documents and growing the index; returns the
    finished query."""

    def handle_batch(batch: DataFrame, batch_id: int) -> None:
        sess = batch.sparkSession
        _check_index_ownership(index_dir, batch_id)
        # admission gate: the signature kernel needs >= MIN_TOKENS tokens;
        # malformed/short rows divert rather than failing the micro-batch
        admissible = batch.filter(
            F.col("doc_id").isNotNull()
            & F.col("text").isNotNull()
            # count NON-EMPTY tokens, matching the kernel's filter — a raw
            # split counts empty strings ("foo bar " → 3) and would admit
            # docs the signature kernel sees as 2-token
            & (
                F.size(F.filter(F.split(F.col("text"), " "), lambda t: t != ""))
                >= MIN_TOKENS
            )
        )
        banded = _banded_vectorized(
            sess, admissible.select("doc_id", "text")
        ).persist()
        try:
            index = _read_index(sess, index_dir, batch_id)
            if index is not None:
                (probe_index(banded, index)
                    .withColumn("batch_id", F.lit(batch_id))
                    .write.mode("overwrite")
                    .option("partitionOverwriteMode", "dynamic")
                    .partitionBy("batch_id")
                    .parquet(out_dir))
            # index write is replay-exact too: the batch owns its
            # ingest_batch partition and overwrites it on replay
            (banded.withColumn("ingest_batch", F.lit(batch_id))
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("ingest_batch", "band")
                .parquet(index_dir))
        finally:
            banded.unpersist()

    return _run_doc_stream(
        spark, input_dir, index_dir, out_dir, checkpoint_dir,
        max_files_per_trigger, handle_batch,
    )


def run_span_dedup_stream(
    spark: SparkSession,
    input_dir: str,
    index_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = 10,
):
    """Incremental SPAN-level dedup — the streaming face of
    ``e1_span_dedup`` (operators/dedup.py): every micro-batch of newly
    ingested documents is profiled against a persisted span-hash index,
    so a document arriving with passages already seen ANYWHERE before is
    flagged at ingest time (the boilerplate/quoted-reply signal the batch
    operator computes corpus-wide, maintained incrementally).

    Same replay-exact protocol as ``run_neardup_stream``: per batch,
    (1) docs shorter than ``SPAN_N`` tokens divert (they have no spans);
    (2) ``_span_hashes`` fans each doc out to distinct 128-bit span keys
    ONCE, persisted for the batch's two uses; (3) n_dup_spans = spans
    surviving a LEFT-SEMI join against index partitions with
    ``ingest_batch < N`` — the semi-join returns each span at most once
    no matter how many prior documents carry it, so a boilerplate span in
    a million indexed docs costs one probe hit, not a million joined
    rows; (4) per-doc profile lands in ``out_dir/batch_id=N`` and the
    batch's spans in ``index_dir/ingest_batch=N``, both via dynamic
    partition overwrite so a replayed batch rewrites its own partitions
    byte-for-byte and never probes its own spans. Maintenance =
    ``maintain_index(..., partition_cols=("ingest_batch",))`` — same TTL
    + compaction pass, no band subdirectory. At 100 TB-ingest scale the
    index is additionally bucketed on the span hash so the probe is a
    bucket-pruned merge join."""
    from ..operators.dedup import _span_hashes

    def handle_batch(batch: DataFrame, batch_id: int) -> None:
        sess = batch.sparkSession
        _check_index_ownership(index_dir, batch_id)
        # admission: only the null checks — _span_hashes' own size filter
        # already diverts sub-SPAN_N (and null-text) docs, so repeating
        # the tokenize-and-count predicate here would split every text
        # twice per batch for nothing
        admissible = batch.filter(
            F.col("doc_id").isNotNull() & F.col("text").isNotNull()
        )
        spans = _span_hashes(admissible.select("doc_id", "text")).persist()
        try:
            per_doc = spans.groupBy("doc_id").agg(
                F.count(F.lit(1)).alias("n_spans")
            )
            index = _read_index(sess, index_dir, batch_id)
            if index is not None:
                dup = (
                    spans.join(index.select("h"), "h", "left_semi")
                    .groupBy("doc_id")
                    .agg(F.count(F.lit(1)).alias("n_dup_spans"))
                )
                profile = per_doc.join(dup, "doc_id", "left").na.fill(
                    {"n_dup_spans": 0}
                )
            else:
                # cast pins the column to BIGINT like the joined branch's
                # count() — a first batch writing INT would make the output
                # dataset's parquet schema drift across batch partitions
                profile = per_doc.withColumn(
                    "n_dup_spans", F.lit(0).cast("bigint")
                )
            (
                profile.select(
                    "doc_id",
                    "n_spans",
                    "n_dup_spans",
                    F.round(
                        F.col("n_dup_spans").cast("double") / F.col("n_spans"),
                        6,
                    ).alias("dup_span_fraction"),
                )
                .withColumn("batch_id", F.lit(batch_id))
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("batch_id")
                .parquet(out_dir)
            )
            (
                spans.withColumn("ingest_batch", F.lit(batch_id))
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("ingest_batch")
                .parquet(index_dir)
            )
        finally:
            spans.unpersist()

    return _run_doc_stream(
        spark, input_dir, index_dir, out_dir, checkpoint_dir,
        max_files_per_trigger, handle_batch,
    )


def run_winnow_stream(
    spark: SparkSession,
    input_dir: str,
    index_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = 10,
):
    """Incremental WINNOWING dedup — the streaming face of
    ``e1_winnow_join`` (operators/dedup.py): every micro-batch's
    documents are sketched with winnowing fingerprints
    (textops.winnow_postings — ~2/(W+1) of k-gram positions, shared runs
    guaranteed to collide) and probed against a persisted fingerprint
    index, flagging at ingest time how much of each new document's
    passage material was already seen ANYWHERE before. Sits between the
    exact-but-heavier span stream (every 8-token span indexed) and the
    whole-doc MinHash stream (document-level Jaccard only): ~3× fewer
    index rows than spans at passage-level granularity.

    Replay-exact protocol shared verbatim with ``run_span_dedup_stream``:
    distinct per-doc fingerprints persisted once per batch, LEFT-SEMI
    probe against ``ingest_batch < N`` partitions (a boilerplate
    fingerprint in a million indexed docs costs one probe hit), per-doc
    profile to ``out_dir/batch_id=N`` and the batch's fingerprints to
    ``index_dir/ingest_batch=N`` via dynamic partition overwrite — a
    replayed batch rewrites its own partitions and never probes its own
    fingerprints. At 100 TB-ingest the index buckets on fp."""
    from ..operators.textops import winnow_postings

    def handle_batch(batch: DataFrame, batch_id: int) -> None:
        sess = batch.sparkSession
        _check_index_ownership(index_dir, batch_id)
        # admission: null checks only — winnow_postings itself emits
        # nothing for sub-WINNOW_K docs, so they divert naturally
        admissible = batch.filter(
            F.col("doc_id").isNotNull() & F.col("text").isNotNull()
        )
        fps = winnow_postings(admissible.select("doc_id", "text")).persist()
        try:
            per_doc = fps.groupBy("doc_id").agg(
                F.count(F.lit(1)).alias("n_fps")
            )
            index = _read_index(sess, index_dir, batch_id)
            if index is not None:
                dup = (
                    fps.join(index.select("fp"), "fp", "left_semi")
                    .groupBy("doc_id")
                    .agg(F.count(F.lit(1)).alias("n_dup_fps"))
                )
                profile = per_doc.join(dup, "doc_id", "left").na.fill(
                    {"n_dup_fps": 0}
                )
            else:
                profile = per_doc.withColumn(
                    "n_dup_fps", F.lit(0).cast("bigint")
                )
            (
                profile.select(
                    "doc_id",
                    "n_fps",
                    "n_dup_fps",
                    F.round(
                        F.col("n_dup_fps").cast("double") / F.col("n_fps"), 6
                    ).alias("dup_fp_fraction"),
                )
                .withColumn("batch_id", F.lit(batch_id))
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("batch_id")
                .parquet(out_dir)
            )
            (
                fps.withColumn("ingest_batch", F.lit(batch_id))
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("ingest_batch")
                .parquet(index_dir)
            )
        finally:
            fps.unpersist()

    return _run_doc_stream(
        spark, input_dir, index_dir, out_dir, checkpoint_dir,
        max_files_per_trigger, handle_batch,
    )
