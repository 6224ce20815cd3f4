"""Streaming throughput probe for the T-family: drive the engine's four
streaming shapes and record steady-state throughput + state-store
telemetry, so streaming performance is a measured baseline (STREAM.json)
with regression floors (tests/test_stream_floor.py), exactly like the
batch STRESS.json record.

Pipelines:
- ``windowed_agg``   — rate source → watermark → 5 s windowed agg per
  type (state: window panes). Measures watermark tracking + window state
  updates + state-store commits.
- ``jobs_parse_dedup`` — rate source → JSON-encode/parse round-trip of
  the queue contract (streaming/jobs.parse_job_records) → watermarked
  dropDuplicates on job_id (state: dedup keys). Measures the jobs
  pipeline's per-row parse + dedup-state cost.
- ``neardup_drain``  — the full foreachBatch near-dup pipeline
  (streaming/neardup.run_neardup_stream) draining a generated document
  corpus: signature kernel + index probe + parquet index growth, timed
  end-to-end (wall clock, not progress telemetry — foreachBatch work is
  outside processedRowsPerSecond).
- ``span_drain``     — the span-level dedup stream
  (streaming/neardup.run_span_dedup_stream) on the same corpus shape:
  span fan-out + left-semi index probe + per-doc profile + index growth,
  timed end-to-end.

The rate source generates rows entirely inside the JVM, so the first two
measure the PIPELINE's sustainable throughput rather than any ingest
format; the same plan pointed at Kafka gets the same per-row cost plus
the source's.

Usage: python tools/stream_bench.py [rows_per_sec] [seconds]
Prints one JSON line and (at default args) writes STREAM.json.
"""

from __future__ import annotations

import json
import sys
import tempfile
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import pyspark.sql.functions as F  # noqa: E402

from caseguarddatapipeline_spark.session import get_spark  # noqa: E402

# Regression floors (rows/s, local[32]): ~1/3 of the measured round-5
# numbers so box noise can't trip them but a real per-row cost regression
# (a Python UDF in the hot path, a lost state-store shortcut, an
# accidental per-batch full-index rescan) will.
FLOORS = {
    "windowed_agg": 100_000.0,
    "jobs_parse_dedup": 50_000.0,
    "neardup_drain": 1_000.0,
    "span_drain": 1_000.0,
    # winnowing twin of span_drain: sketched index (~2/(W+1) of k-gram
    # positions), same corpus shape and floor
    "winnow_drain": 1_000.0,
    # measured ~3.4k vec/s (50 k 64-d vectors, 4 copy-on-write versions)
    "vecingest_drain": 1_000.0,
}


def _run_rate_query(spark, build, run_s: int):
    """Run a rate-source streaming query for run_s seconds; return
    (steady rows/s list, last state-operator telemetry)."""
    # ignore_cleanup_errors: the stopped query's executor threads can
    # still be flushing state-store files while rmtree walks the dir —
    # a file landing between the listing and the rmdir must not fail the
    # probe (awaitTermination below narrows the window; this closes it)
    with tempfile.TemporaryDirectory(ignore_cleanup_errors=True) as ckpt:
        q = (
            build()
            .writeStream.format("noop")
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .start()
        )
        time.sleep(run_s)
        progress = [p for p in (q.recentProgress or []) if p]
        # a query that ALREADY failed during the measured window is a real
        # pipeline regression — surface it instead of recording the
        # pre-crash batches as a green throughput number
        pre_existing = q.exception()
        if pre_existing is not None:
            raise pre_existing
        try:
            q.stop()
            # drain the query's threads before the tmpdir cleanup: stop()
            # returns while the interrupted micro-batch may still be
            # mid-write into the checkpoint
            q.awaitTermination(30)
        except Exception:
            # stop() interrupts whatever micro-batch is in flight and
            # rethrows its error; an interrupted state-store commit DURING
            # DELIBERATE TEARDOWN is expected noise (the measurement was
            # read from recentProgress above), not a pipeline failure —
            # without this the probe exits 1 on a timing coin-flip
            pass
    rates = [
        p["processedRowsPerSecond"]
        for p in progress
        if p.get("processedRowsPerSecond") and p.get("numInputRows", 0) > 0
    ]
    state = {}
    for p in reversed(progress):
        ops = p.get("stateOperators") or []
        if ops:
            state = {
                "state_rows": ops[0].get("numRowsTotal"),
                "state_memory_bytes": ops[0].get("memoryUsedBytes"),
            }
            break
    steady = rates[len(rates) // 2 :] or rates
    out = {
        "batches": len(rates),
        "steady_rows_per_sec": round(max(steady), 1) if steady else 0,
        "median_rows_per_sec": round(sorted(steady)[len(steady) // 2], 1)
        if steady
        else 0,
    }
    out.update(state)
    return out


def _windowed_agg(spark, rate: int):
    def build():
        src = (
            spark.readStream.format("rate")
            .option("rowsPerSecond", str(rate))
            .option("numPartitions", "8")
            .load()
            .select(
                F.col("value").alias("event_id"),
                F.col("timestamp").alias("ts"),
                (F.col("value") % 5).cast("string").alias("event_type"),
                (F.col("value") % 100).cast("double").alias("value"),
            )
        )
        return (
            src.withWatermark("ts", "10 seconds")
            .groupBy(F.window("ts", "5 seconds").alias("win"), "event_type")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("v"))
        )

    return build


def _jobs_parse_dedup(spark, rate: int):
    from caseguarddatapipeline_spark.streaming.jobs import parse_job_records

    def build():
        src = (
            spark.readStream.format("rate")
            .option("rowsPerSecond", str(rate))
            .option("numPartitions", "8")
            .load()
        )
        # queue-contract JSON round-trip: encode the rate row as a job
        # record, parse it back through the production parser
        records = src.select(
            "timestamp",
            F.to_json(
                F.struct(
                    F.col("value").alias("job_id"),
                    F.col("value").alias("entity_id"),
                    F.lit("update").alias("change_type"),
                    (F.col("value") % 3 + 1).cast("int").alias("priority"),
                    F.lit(0).cast("int").alias("retry_count"),
                )
            ).alias("value"),
        )
        jobs = parse_job_records(records.select("value")).withColumn(
            "ts", F.col("job_id").cast("timestamp")
        )
        return (
            jobs.withWatermark("ts", "10 seconds")
            .dropDuplicatesWithinWatermark(["job_id"])
            .groupBy("priority")
            .agg(F.count(F.lit(1)).alias("n"))
        )

    return build


def _neardup_drain(spark, n_docs: int = 20_000, n_files: int = 8):
    """Generate a document corpus with planted near-dups, drain it through
    the full foreachBatch near-dup pipeline, and report docs/sec."""
    from caseguarddatapipeline_spark.streaming.neardup import run_neardup_stream

    files_per_trigger = 2

    with tempfile.TemporaryDirectory(ignore_cleanup_errors=True) as root:
        input_dir = f"{root}/in"
        # 10-token docs whose vocabulary is hash-spread over 100k ids so
        # unrelated docs share (almost) nothing; every 10th doc copies its
        # predecessor's base → exactly those pairs hit the index probe
        base = F.when(
            F.col("id") % 10 == 0, F.col("id") - 1
        ).otherwise(F.col("id"))
        toks = F.concat_ws(
            " ",
            *[
                F.format_string(
                    "tok%d", F.pmod(F.xxhash64(base) + i * 7919, F.lit(100_000))
                )
                for i in range(10)
            ],
        )
        (
            spark.range(n_docs)
            .select(F.col("id").alias("doc_id"), toks.alias("text"))
            .repartition(n_files)
            .write.mode("overwrite")
            .json(input_dir)
        )
        t0 = time.perf_counter()
        run_neardup_stream(
            spark,
            input_dir,
            f"{root}/index",
            f"{root}/out",
            f"{root}/ckpt",
            max_files_per_trigger=files_per_trigger,
        )
        elapsed = time.perf_counter() - t0
        try:
            pairs = spark.read.parquet(f"{root}/out").count()
        except Exception:
            pairs = 0
        return {
            "docs": n_docs,
            "batches": -(-n_files // files_per_trigger),
            "elapsed_sec": round(elapsed, 3),
            "rows_per_sec": round(n_docs / elapsed, 1),
            "pairs_found": pairs,
        }


def _span_drain(spark, n_docs: int = 20_000, n_files: int = 8):
    """Drain a corpus with planted repeated passages through the span-level
    dedup stream (streaming/neardup.run_span_dedup_stream): 16-token docs,
    every 10th doc copies its predecessor, so roughly those pairs produce
    probe hits — whichever of the two drains in a LATER micro-batch is the
    flagged one, and a pair landing in the same batch is (by protocol)
    not flagged at all, so docs_flagged is a fraction of the planted
    count, not equal to it. The floor test only requires it positive; the
    measured signal is rows/sec."""
    from caseguarddatapipeline_spark.streaming.neardup import (
        run_span_dedup_stream,
    )

    files_per_trigger = 2

    with tempfile.TemporaryDirectory(ignore_cleanup_errors=True) as root:
        input_dir = f"{root}/in"
        base = F.when(
            F.col("id") % 10 == 0, F.col("id") - 1
        ).otherwise(F.col("id"))
        # position hashed WITH the doc (not an arithmetic offset of one
        # doc hash): an additive token progression makes any pair whose
        # doc-hash difference is a multiple of the stride share aligned
        # 8-token runs, flagging ~half the corpus instead of the planted
        # every-10th copies
        toks = F.concat_ws(
            " ",
            *[
                F.format_string(
                    "tok%d", F.pmod(F.xxhash64(base, F.lit(i)), F.lit(100_000))
                )
                for i in range(16)
            ],
        )
        (
            spark.range(n_docs)
            .select(F.col("id").alias("doc_id"), toks.alias("text"))
            .repartition(n_files)
            .write.mode("overwrite")
            .json(input_dir)
        )
        t0 = time.perf_counter()
        run_span_dedup_stream(
            spark,
            input_dir,
            f"{root}/index",
            f"{root}/out",
            f"{root}/ckpt",
            max_files_per_trigger=files_per_trigger,
        )
        elapsed = time.perf_counter() - t0
        try:
            flagged = (
                spark.read.parquet(f"{root}/out")
                .filter("n_dup_spans > 0")
                .count()
            )
        except Exception:
            flagged = 0
        return {
            "docs": n_docs,
            "batches": -(-n_files // files_per_trigger),
            "elapsed_sec": round(elapsed, 3),
            "rows_per_sec": round(n_docs / elapsed, 1),
            "docs_flagged": flagged,
        }


def _winnow_drain(spark, n_docs: int = 20_000, n_files: int = 8):
    """Drain the SAME planted-passage corpus shape as ``_span_drain``
    through the winnowing dedup stream
    (streaming/neardup.run_winnow_stream): winnow fingerprint fan-out
    (~2/(W+1) of k-gram positions vs every span) + left-semi index probe
    + per-doc profile + index growth. The signal is rows/sec against the
    span stream's — the sketched index should drain at least as fast with
    ~3× fewer index rows."""
    from caseguarddatapipeline_spark.streaming.neardup import (
        run_winnow_stream,
    )

    files_per_trigger = 2

    with tempfile.TemporaryDirectory(ignore_cleanup_errors=True) as root:
        input_dir = f"{root}/in"
        base = F.when(
            F.col("id") % 10 == 0, F.col("id") - 1
        ).otherwise(F.col("id"))
        toks = F.concat_ws(
            " ",
            *[
                F.format_string(
                    "tok%d", F.pmod(F.xxhash64(base, F.lit(i)), F.lit(100_000))
                )
                for i in range(16)
            ],
        )
        (
            spark.range(n_docs)
            .select(F.col("id").alias("doc_id"), toks.alias("text"))
            .repartition(n_files)
            .write.mode("overwrite")
            .json(input_dir)
        )
        t0 = time.perf_counter()
        run_winnow_stream(
            spark,
            input_dir,
            f"{root}/index",
            f"{root}/out",
            f"{root}/ckpt",
            max_files_per_trigger=files_per_trigger,
        )
        elapsed = time.perf_counter() - t0
        try:
            flagged = (
                spark.read.parquet(f"{root}/out")
                .filter("n_dup_fps > 0")
                .count()
            )
        except Exception:
            flagged = 0
        return {
            "docs": n_docs,
            "batches": -(-n_files // files_per_trigger),
            "elapsed_sec": round(elapsed, 3),
            "rows_per_sec": round(n_docs / elapsed, 1),
            "docs_flagged": flagged,
        }


def _vecingest_drain(spark, n_vecs: int = 50_000, n_files: int = 8):
    """Drain a synthetic 64-d vector feed through the streaming index
    ingestion (streaming/vecingest.run_vector_upsert_stream): every
    micro-batch is deduped to one record per vec_id, assigned to its IVF
    cell with the persisted sf0.1 quantizer, and published as the next
    cell-partitioned postings version (only the touched cells are
    rewritten; the rest are carried forward by the manifest). Throughput =
    vectors/s end-to-end through dedupe + assignment + merge + publish."""
    from caseguarddatapipeline_spark.operators.vecindex import (
        publish_ivf_postings,
    )
    from caseguarddatapipeline_spark.streaming.vecingest import (
        run_vector_upsert_stream,
    )
    from caseguarddatapipeline_spark.sources.versioned import (
        latest_version,
        read_latest,
    )

    sf_dir = "/root/testdata/sf0.1"
    files_per_trigger = 2

    with tempfile.TemporaryDirectory(ignore_cleanup_errors=True) as root:
        input_dir = f"{root}/in"
        emb = F.transform(
            F.sequence(F.lit(0), F.lit(63)),
            lambda j: (
                F.pmod(F.xxhash64(F.col("id"), j), F.lit(2000)) - F.lit(1000)
            ).cast("double")
            / 1000.0,
        )
        (
            spark.range(n_vecs)
            .select(
                (F.col("id") + 1_000_000).alias("vec_id"),
                emb.alias("embedding"),
                F.col("id").alias("ts"),
            )
            .repartition(n_files)
            .write.mode("overwrite")
            .json(input_dir)
        )
        base = f"{root}/posts"
        publish_ivf_postings(spark, sf_dir, base)  # index build ≠ drain
        n0 = read_latest(spark, base).count()
        t0 = time.perf_counter()
        run_vector_upsert_stream(
            spark,
            sf_dir,
            input_dir,
            f"{root}/ckpt",
            base_dir=base,
            max_files_per_trigger=files_per_trigger,
        )
        elapsed = time.perf_counter() - t0
        return {
            "vectors": n_vecs,
            "batches": -(-n_files // files_per_trigger),
            "versions": latest_version(base),
            "final_rows": read_latest(spark, base).count() - n0,
            "elapsed_sec": round(elapsed, 3),
            "rows_per_sec": round(n_vecs / elapsed, 1),
        }


def main() -> int:
    rate = int(sys.argv[1]) if len(sys.argv) > 1 else 500_000
    run_s = int(sys.argv[2]) if len(sys.argv) > 2 else 20
    spark = get_spark("stream-bench")

    pipelines = {
        "windowed_agg": _run_rate_query(spark, _windowed_agg(spark, rate), run_s),
        "jobs_parse_dedup": _run_rate_query(
            spark, _jobs_parse_dedup(spark, rate), run_s
        ),
        "neardup_drain": _neardup_drain(spark),
        "span_drain": _span_drain(spark),
        "winnow_drain": _winnow_drain(spark),
        "vecingest_drain": _vecingest_drain(spark),
    }
    doc = {
        "metric": "stream_throughput",
        "configured_rows_per_sec": rate,
        "pipelines": pipelines,
        "floors_rows_per_sec": FLOORS,
    }
    if rate >= 500_000 and run_s >= 20:  # the committed record
        Path(__file__).resolve().parent.parent.joinpath("STREAM.json").write_text(
            json.dumps(doc, indent=1) + "\n"
        )
    print(json.dumps(doc))
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
