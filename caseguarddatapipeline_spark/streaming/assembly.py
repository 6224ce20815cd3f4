"""Composed STREAMING corpus assembly (round-9 verdict item 5): one
availableNow foreachBatch pipeline chaining, per micro-batch,

    ingest → exact dedup → near-dup gate → quality gate → token budget
           → sharded corpus write,

the streaming face of the batch composition proven by ASSEMBLY.json
(tools/assembly_bench.py). Every stage reuses the oracle-checked batch
operator's algebra:

1. ADMISSION — NULL/short rows divert (streaming/neardup.py protocol);
2. EXACT DEDUP — md5 content key (e1_exact_dedup's key), within-batch
   min-doc_id winner per key, then anti-join against the persisted hash
   index; the batch's keys land in ``hash_index/ingest_batch=N``;
3. NEAR-DUP GATE — the Arrow-vectorized MinHash signature kernel
   (operators/dedup._banded_vectorized) probed against the persisted
   band-signature index (streaming/neardup.probe_index); matching docs
   drop, survivors' signatures grow the index;
4. QUALITY GATE — the Gopher battery's column algebra (operators/
   quality.e3_gopher_rules: word-count bounds, mean word length,
   distinct-token ratio, stopword hit) inline, one codegen stage;
5. TOKEN BUDGET — per-source water level: tokens admitted so far come
   from the persisted per-batch tallies (``budget_state/ingest_batch<N``
   summed — replay-exact, like the drift accumulator), the batch's docs
   are ordered deterministically (doc_id) per source, a running-sum
   admits documents while the level stays under the cap — computed via
   the batch side's two-pass bucket decomposition (round 11: the
   whole-source window was ONE task per source, a straggler at
   production batch sizes; the scaled form costs ~1 s/batch more FIXED
   machinery at micro-batch scale — which amortizes — and bounds every
   window task by batch/NB — stragglers don't). The batch's per-source
   consumption lands in its own tally partition;
6. CORPUS WRITE — admitted documents land in ``corpus/batch_id=N``.

All state is parquet partitioned by ingest batch, so the whole pipeline
is at-least-once replay-exact: every write targets the batch's own
partition DIRECTORY directly (round 11 — stage attribution showed the
four dynamic-partition-overwrite commits at 52% of per-batch work; a
plain overwrite of the batch's own new dir carries the same replay
guarantee without the staging/partition-scan/swap machinery, and the
four independent sinks commit from parallel threads), and every read
filters to partitions strictly BEFORE the current batch (a replay never
sees its own first attempt). At 100 TB-ingest the
two indexes and the tally table are the same persisted-lake-state shape
the near-dup stream documents (bucketed probe joins, TTL compaction via
streaming/neardup.maintain_index).

Measured: tools/assembly_stream_bench.py writes STREAM_ASSEMBLY.json
(composed docs/s + per-stage funnel); floor pinned by
tests/test_stream_assembly.py.
"""

from __future__ import annotations

import os
from concurrent.futures import ThreadPoolExecutor
from functools import partial

import pyspark.sql.functions as F
from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, Window

from ..operators.dedup import _banded_vectorized
from ..operators.quality import (
    MAX_MEAN_WLEN,
    MAX_WORDS,
    MIN_DISTINCT_RATIO,
    MIN_MEAN_WLEN,
    MIN_WORDS,
)
from ..operators.topk import exact_rank, range_buckets
from .neardup import (
    MIN_TOKENS,
    _check_index_ownership,
    _read_index,
    _run_doc_stream,
    probe_index,
)

DEFAULT_TOKEN_BUDGET = 1_000_000  # per-source cap, overridable per run

# Budget-stage decomposition switch: batches at or below this row count
# take the single cumulative window (one shuffle on source; a sort this
# size is single-task-trivial), larger ones take the two-pass bucketed
# form whose per-task bound is what matters at production batch sizes.
# Measured (round 13, tiny-batch attribution drain): the bucketed
# machinery alone costs ~1.9 s/batch FIXED — dominating micro-batches.
_BUCKETED_MIN_ROWS = 250_000


def _gopher_pass(n_words, mean_wlen, distinct_ratio):
    """The battery's conjunction (minus the stopword rule, which the
    planted bench vocabulary cannot satisfy) — same constants as
    e3_gopher_rules so batch and stream admit identically."""
    return (
        (n_words >= MIN_WORDS)
        & (n_words <= MAX_WORDS)
        & (mean_wlen >= MIN_MEAN_WLEN)
        & (mean_wlen <= MAX_MEAN_WLEN)
        & (distinct_ratio >= MIN_DISTINCT_RATIO)
    )


def _budget_level(quality: DataFrame, bucketed: bool) -> DataFrame:
    """Adds ``level``: each source's running token total in doc_id order,
    current document included. ``bucketed`` takes it through
    ``topk.exact_rank`` over per-source doc_id-range buckets (no window
    task holds a whole source); otherwise one cumulative window per
    source. Both compute the identical column."""
    if bucketed:
        return exact_rank(
            range_buckets(quality, "doc_id", "_bkt", by=["source"]),
            "level",
            [F.col("doc_id")],
            "_bkt",
            by=["source"],
            value="n_tokens",
        ).drop("_bkt")
    w_full = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return quality.withColumn("level", F.sum("n_tokens").over(w_full))


def _spent_by_source(sess, tally_dir: str, before_batch: int) -> DataFrame | None:
    """Per-source tokens admitted by batches BEFORE this one, from the
    persisted tallies — the replay-exact read side of the budget state."""
    tallies = _read_index(sess, tally_dir, before_batch)
    if tallies is None:
        return None
    return tallies.groupBy("source").agg(F.sum("tokens").alias("spent"))


def run_assembly_stream(
    spark,
    input_dir: str,
    work_dir: str,
    *,
    token_budget: int = DEFAULT_TOKEN_BUDGET,
    max_files_per_trigger: int = 2,
    state_files_per_batch: int = 1,
    stage_timings: list | None = None,
):
    """Drain the document stream through the composed assembly pipeline.
    Input rows: (doc_id long, text string); source is derived
    deterministically from doc_id (pmod 4) the way the synthetic corpus
    assigns it. Returns the finished query; state/corpus live under
    ``work_dir`` (hash_index/, sig_index/, budget_state/, corpus/).

    ``state_files_per_batch`` coalesces each per-batch state/corpus write
    (round 10): the default shuffle width otherwise fans every tiny
    per-batch frame into 32 part files — 4 writes × 32 files × N batches
    — and the per-batch FIXED cost is dominated by committing and then
    re-listing that fragmentation on every subsequent state read. One
    file per write is right for micro-batch-sized state; a production
    deployment sizes it to batch_volume / target_file_size (the same
    dial maintain_index's compaction turns after the fact).

    ``stage_timings`` (attribution mode, round 11): when a list is
    passed, each micro-batch appends a dict of driver-side wall seconds
    per pipeline stage. Attribution FORCES each cached stage with a
    count before moving on (so persist materialization lands in its own
    stage instead of the first write) — it changes the execution
    schedule and is for diagnosis, never for the timed record."""
    hash_index = os.path.join(work_dir, "hash_index")
    sig_index = os.path.join(work_dir, "sig_index")
    tally_dir = os.path.join(work_dir, "budget_state")
    corpus_dir = os.path.join(work_dir, "corpus")
    for d in (hash_index, sig_index, tally_dir):
        os.makedirs(d, exist_ok=True)

    # -- round 13 (fixed-cost attack, measured): the 2.4 s/batch FIXED
    # cost was NOT the state reads — an isolated A/B (root-dir
    # partition-discovery read vs a union of per-batch leaf scans, 8
    # batches of bench-shaped state) measured 0.255 s vs 0.29 s per
    # probe, a wash — and caching the contributions instead is actively
    # wrong (persisted frames chain each batch's full lineage into the
    # next plan: the explain tree grows combinatorially and OOMed the
    # driver by ~batch 14 in the first attempt). A tiny-batch
    # attribution drain (200 docs/batch, marginal ≈ 0) located the
    # fixed cost instead: ~1.9 s/batch in the BUDGET stage's two-pass
    # bucket machinery (two aggs, two broadcasts, two windows and their
    # shuffles — straggler insurance that only pays for itself on large
    # batches) and ~0.25 s/batch re-reading + re-aggregating the token
    # tallies. Fixes: the budget decomposition is now ADAPTIVE (single
    # per-source cumulative window under _BUCKETED_MIN_ROWS, the
    # bucketed form above — see the stage-5 comment) and ``spent_hot``
    # keeps the per-source tallies as a plain driver dict
    # (metadata-sized by construction), updated only after the batch's
    # sinks all commit so a replayed/retried batch finds the dict keyed
    # to its own id, while a fresh process (crash recovery) misses and
    # falls back to the exact same _spent_by_source disk path.
    spent_hot: dict[str, object] = {"upto": None, "by_source": {}}
    # Adaptive shuffle width (round 13, measured): AQE is unavailable
    # inside streaming micro-batches, so every exchange runs at the
    # session's static width — 32 tasks per tiny shuffle, and the
    # tiny-batch drain spent ~0.4 s/batch on task launch alone
    # (8-tiny-batch A/B: width 32 → 2.16 s/batch, width 4 → 1.76).
    # The width for each batch is sized from the PREVIOUS batch's
    # post-quality row count (~4k rows per shuffle task, floor 4,
    # ceiling = the session default) — batch sizes in a stream are
    # sticky, and a one-batch lag only ever costs one suboptimal batch.
    _width_state: dict[str, int | None] = {"default": None, "prev_rows": None}

    def handle_batch(batch: DataFrame, batch_id: int) -> None:
        sess = batch.sparkSession
        if _width_state["default"] is None:
            _width_state["default"] = int(
                sess.conf.get("spark.sql.shuffle.partitions")
            )
        if _width_state["prev_rows"] is not None:
            sess.conf.set(
                "spark.sql.shuffle.partitions",
                str(
                    max(
                        4,
                        min(
                            _width_state["default"],
                            -(-_width_state["prev_rows"] // 4000),
                        ),
                    )
                ),
            )
        for d, label in (
            (hash_index, "assembly hash index"),
            (sig_index, "assembly signature index"),
            (tally_dir, "assembly budget state"),
        ):
            _check_index_ownership(d, batch_id, label=label)
        # the corpus is batch-keyed state too: a fresh checkpoint pointed
        # at an existing corpus dir would leave its stale high-numbered
        # batch_id partitions silently mixed into the new output (the
        # same hazard _check_index_ownership guards on the ingest_batch
        # dirs, different partition column)
        if os.path.isdir(corpus_dir):
            ahead = sorted(
                b
                for d in os.listdir(corpus_dir)
                if d.startswith("batch_id=")
                and (b := int(d.split("=", 1)[1])) > batch_id
            )
            if ahead:
                raise RuntimeError(
                    f"assembly corpus {corpus_dir} already holds batch "
                    f"partitions {ahead} ahead of batch {batch_id}: this "
                    "checkpoint does not own this corpus — point at an "
                    "empty output dir or restore the matching checkpoint"
                )

        toks = F.filter(F.split(F.col("text"), " "), lambda t: t != "")
        admissible = (
            batch.filter(
                F.col("doc_id").isNotNull() & F.col("text").isNotNull()
            )
            .withColumn("toks", toks)
            .filter(F.size("toks") >= MIN_TOKENS)
            .withColumn("content_key", F.md5("text"))
            .withColumn("source", F.pmod(F.col("doc_id"), F.lit(4)))
        )

        # -- stage 2: exact dedup (within batch, then vs the index) --
        w_key = Window.partitionBy("content_key").orderBy("doc_id")
        in_batch = admissible.withColumn(
            "rn", F.row_number().over(w_key)
        ).filter(F.col("rn") == 1)
        prior_keys = _read_index(sess, hash_index, batch_id)
        exact = (
            in_batch
            if prior_keys is None
            else in_batch.join(
                prior_keys.select("content_key"), "content_key", "left_anti"
            )
        ).persist()
        import time as _time

        timing = {"batch_id": batch_id} if stage_timings is not None else None
        t_mark = _time.perf_counter()

        def _lap(stage: str) -> None:
            nonlocal t_mark
            if timing is not None:
                now = _time.perf_counter()
                timing[stage] = round(now - t_mark, 3)
                t_mark = now

        try:
            if timing is not None:
                exact.count()  # force: admission + dedup + hash anti-join
            _lap("admission_exact_dedup")
            # -- stage 3: near-dup gate over the signature index --
            banded = _banded_vectorized(
                sess, exact.select("doc_id", "text")
            ).persist()
            try:
                if timing is not None:
                    banded.count()  # force: the Arrow signature kernel
                _lap("signature_kernel")
                sig_prior = _read_index(sess, sig_index, batch_id)
                if sig_prior is None:
                    neardup_ids = None
                else:
                    neardup_ids = (
                        probe_index(banded, sig_prior)
                        .select(F.col("new_doc").alias("doc_id"))
                        .distinct()
                    )
                survivors = (
                    exact
                    if neardup_ids is None
                    else exact.join(neardup_ids, "doc_id", "left_anti")
                )
                if timing is not None:
                    survivors.count()  # force: the index probe join
                _lap("neardup_probe")

                # -- stage 4: quality gate (one codegen projection) --
                n_words = F.size("toks")
                mean_wlen = (
                    F.length("text") - (n_words - 1)
                ).cast("double") / n_words
                distinct_ratio = (
                    F.size(F.array_distinct("toks")).cast("double") / n_words
                )
                # persist: three consumers below (bounds agg, tallies
                # agg, leveled join) would otherwise re-run the near-dup
                # probe join + quality filter each — only exact/banded
                # are cached upstream (round-12 advice)
                quality = (
                    survivors.filter(
                        _gopher_pass(n_words, mean_wlen, distinct_ratio)
                    )
                    .withColumn("n_tokens", F.size("toks").cast("long"))
                    .persist()
                )

                # -- stage 5: per-source token budget (water level).
                # Round 11: the straight whole-source window
                # (partitionBy source, orderBy doc_id) runs ONE task per
                # source — at production batch sizes (millions of rows,
                # a handful of sources) that is exactly the straggler
                # the batch side's token_budget_sample_scaled removes,
                # so large batches take _budget_level's bucketed form
                # (deterministic per-source doc_id-range buckets, no
                # sampling; every window task bounded by batch/NB).
                # Round 13: the decomposition is ADAPTIVE. A tiny-batch
                # attribution drain measured the two-pass machinery (two
                # aggs + two broadcasts + two windowed shuffles) at
                # ~1.9 s/batch of FIXED cost — straggler insurance that
                # a micro-batch never needs: below _BUCKETED_MIN_ROWS a
                # single-task-per-source cumulative sort is sub-ms work,
                # so the straight window wins outright. Both forms
                # compute the identical level (pinned by
                # tests/test_stream_assembly.py), so which one ran is
                # unobservable in the output. The row count is free:
                # quality is persisted and every downstream consumer
                # needs it materialized anyway. --
                if spent_hot["upto"] == batch_id:
                    by_src = spent_hot["by_source"]
                    spent = (
                        sess.createDataFrame(
                            list(by_src.items()), "source bigint, spent bigint"
                        )
                        if by_src
                        else None
                    )
                else:
                    spent = _spent_by_source(sess, tally_dir, batch_id)
                    spent_hot["by_source"] = (
                        {r["source"]: r["spent"] for r in spent.collect()}
                        if spent is not None
                        else {}
                    )
                    spent_hot["upto"] = batch_id
                n_quality = quality.count()
                _width_state["prev_rows"] = n_quality
                leveled = _budget_level(
                    quality, bucketed=n_quality > _BUCKETED_MIN_ROWS
                )
                if spent is not None:
                    leveled = leveled.join(
                        F.broadcast(spent), "source", "left"
                    ).withColumn(
                        "level",
                        F.col("level") + F.coalesce(F.col("spent"), F.lit(0)),
                    )
                admitted = leveled.filter(
                    F.col("level") <= F.lit(token_budget)
                ).persist()
                try:
                    # materialize the pipeline ONCE before the sinks: every
                    # writer below re-reads cached blocks instead of racing
                    # the probe/budget computation from its own thread
                    admitted.count()
                    _lap("quality_budget")
                    # -- stage 6 + state writes, all batch-partitioned.
                    # Round 11 (stage attribution: writes were 52% of
                    # per-batch work): each write targets its batch's OWN
                    # partition directory directly — a plain overwrite of
                    # one new dir, no dynamic-overwrite staging/partition
                    # scan/swap — and the four independent sinks commit
                    # from parallel threads (wall = slowest write, not the
                    # sum). Replay-exactness is unchanged: a replayed
                    # batch overwrites exactly the same directories, and
                    # readers discover batch_id/ingest_batch as inferred
                    # partition columns from the dir names as before. --
                    def _write(df, base: str, part: str, by=None) -> None:
                        w = (
                            df.coalesce(state_files_per_batch)
                            .write.mode("overwrite")
                        )
                        if by:
                            w = w.partitionBy(*by)
                        w.parquet(os.path.join(base, part))

                    sinks = (
                        (
                            admitted.select(
                                "doc_id", "source", "text", "n_tokens"
                            ),
                            corpus_dir, f"batch_id={batch_id}", None,
                        ),
                        (
                            admitted.groupBy("source").agg(
                                F.sum("n_tokens").alias("tokens")
                            ),
                            tally_dir, f"ingest_batch={batch_id}", None,
                        ),
                        (
                            exact.select("content_key"),
                            hash_index, f"ingest_batch={batch_id}", None,
                        ),
                        (
                            banded.join(
                                survivors.select("doc_id"),
                                "doc_id",
                                "left_semi",
                            ),
                            sig_index, f"ingest_batch={batch_id}", ["band"],
                        ),
                    )
                    # wrapped here, each write takes its own copy of this
                    # thread's local properties (the stream's job group
                    # and scheduler pool) onto its pool thread
                    writes = [
                        inheritable_thread_target(sess)(partial(_write, *s))
                        for s in sinks
                    ]
                    with ThreadPoolExecutor(max_workers=len(writes)) as pool:
                        # surface the first failure (list() re-raises)
                        list(pool.map(lambda w: w(), writes))
                    _lap("state_writes")
                    by_src = spent_hot["by_source"]
                    for r in (
                        admitted.groupBy("source")
                        .agg(F.sum("n_tokens").alias("tokens"))
                        .collect()
                    ):
                        by_src[r["source"]] = (
                            by_src.get(r["source"], 0) + r["tokens"]
                        )
                    spent_hot["upto"] = batch_id + 1
                    if timing is not None:
                        stage_timings.append(timing)
                finally:
                    admitted.unpersist()
                    quality.unpersist()
            finally:
                banded.unpersist()
        finally:
            exact.unpersist()

    return _run_doc_stream(
        spark,
        input_dir,
        sig_index,
        corpus_dir,
        os.path.join(work_dir, "ckpt"),
        max_files_per_trigger,
        handle_batch,
    )
