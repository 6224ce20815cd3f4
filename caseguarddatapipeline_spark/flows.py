"""The reference's three entry-point flows, composed from the engine's
operators — the switch-over surface for a reference user (SURVEY.md §3,
MIGRATION.md flow table). Each flow is the Prefect orchestration recast as
DataFrame composition: discovery/validation/enqueue become one lazy plan
per step, retries and queue draining live in Structured Streaming, and
reports come from the same aggregates the dashboards use.

- ``onboard_tenant``        = etl/flows/onboard_tenant.py:316-429
- ``sync_tenant_daily``     = etl/flows/sync_daily.py (the flagship; the
                              engine's ``entry()`` is its summary step)
- ``process_case_backlog``  = etl/worker.py:307-358's consume loop
                              (delegates to streaming/jobs.run_jobs_stream)

Everything is deterministic: the validation sample is hash-ordered (no
``random.sample``), the accessibility probe is an injectable seam
(defaults to a deterministic stub; production swaps a REST/SOAP probe),
and job files are idempotently named, so re-running a flow cannot
double-enqueue.
"""

from __future__ import annotations

import os
import shutil

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from .operators.reconcile import (
    CHANGE_RATE_MAX,
    COUNT_DIVERGENCE_MAX,
    reconcile_fused,
)
from .operators.topk import exact_rank, range_buckets
from .sources.connectors import csv_case_scan
from .streaming.jobs import JOB_SCHEMA, jobs_from_reconciliation, run_jobs_stream

ACCESSIBILITY_FLOOR = 0.8  # onboard_tenant.py:381 warns below 80%
BACKFILL_PRIORITY = 3  # backfill is lowest priority; daily changes outrank it

# derived from the stream parser's schema so the enqueue encoding can never
# drift from what parse_job_records reads back
JOB_COLS = JOB_SCHEMA.fieldNames()

def _job_json():
    """JSON-lines encoding of a job row — the queue contract both enqueue
    paths and the stream reader share. ignoreNullFields=false so a null
    field is an explicit "field":null, exactly like json.dumps on a
    collected row. (A function, not a module constant: building a Column
    needs an active SparkContext.)"""
    return F.to_json(F.struct(*JOB_COLS), {"ignoreNullFields": "false"})


def _numbered_jobs(jobs: DataFrame, batch_size: int) -> DataFrame:
    """Adds ``batch`` = (global job_id rank − 1) DIV batch_size with no
    driver collect and no single-partition sort: ``topk.exact_rank``
    over equal-width buckets of job_id's exact [min, max] range. The
    bounds and bucket offsets are deterministic aggregates, so the
    numbering is the same in every job that evaluates the frame — nothing
    to persist. The distributed form of the W5 batch numbering (reference
    slicing: etl/flows/onboard_tenant.py:206-235)."""
    ranked = exact_rank(
        range_buckets(jobs, "job_id", "_bkt"), "_rnk", [F.col("job_id")], "_bkt"
    )
    return ranked.withColumn(
        "batch", F.floor((F.col("_rnk") - 1) / batch_size).cast("long")
    ).drop("_bkt", "_rnk")


def _write_job_batches(
    jobs: DataFrame, queue_dir: str, batch_size: int, prefix: str
) -> tuple[int, int]:
    """Distributed queue-batch writer: every executor writes its own batch
    files; the driver only renames (O(#batches) fs-metadata ops, zero row
    data). repartition("batch") puts each batch whole into one task, so
    each ``batch=N`` staging dir holds exactly one part file, written in
    (batch, job_id) order — byte-identical to what the old
    collect-and-slice writer produced. The rename into the legacy
    ``{prefix}-NNNNNN.json`` names keeps the file-stream queue contract;
    on an object store you'd skip the renames and publish the partitioned
    layout plus a manifest instead. Returns (n_jobs, n_batches)."""
    staging = os.path.join(queue_dir, f".staging-{prefix}")
    # a crashed prior run may have left a staging dir behind; it must never
    # be adopted as this run's output (obsolete jobs would enqueue), so
    # clear it up front — the overwrite write would do it anyway, but the
    # zero-jobs path skips the write entirely
    shutil.rmtree(staging, ignore_errors=True)
    n_jobs = jobs.count()
    if n_jobs:
        (
            _numbered_jobs(jobs, batch_size)
            .repartition("batch")
            .sortWithinPartitions("batch", "job_id")
            .select(_job_json().alias("value"), "batch")
            .write.mode("overwrite")
            .partitionBy("batch")
            .text(staging)
        )
    n_batches = 0
    if os.path.isdir(staging):
        for d in sorted(os.listdir(staging)):
            if not d.startswith("batch="):
                continue
            b = int(d.split("=", 1)[1])
            files = sorted(
                f for f in os.listdir(os.path.join(staging, d))
                if f.startswith("part-")
            )
            if len(files) != 1:  # real raise: queue integrity must survive -O
                raise RuntimeError(f"batch {b} split across tasks: {files}")
            src = os.path.join(staging, d, files[0])
            os.replace(src, os.path.join(queue_dir, f"{prefix}-{b:06d}.json"))
            n_batches += 1
        shutil.rmtree(staging, ignore_errors=True)
    return n_jobs, n_batches


def _default_probe(df: DataFrame) -> DataFrame:
    """Deterministic stand-in for the per-case API accessibility check
    (onboard_tenant.py:120-128 simulates ~95% accessible): a case is
    'accessible' unless its ref hashes into the 1-in-20 bucket. Swap for
    a mapInPandas REST/SOAP probe (sources/rest.py, sources/soap.py) in
    production — the flow only needs an ``accessible`` boolean column."""
    return df.withColumn(
        "accessible", F.pmod(F.xxhash64("case_ref"), F.lit(20)) != 0
    )


def onboard_tenant(
    spark: SparkSession,
    case_csv_path: str,
    queue_dir: str,
    *,
    include_closed_cases: bool = True,
    validate_before_queuing: bool = True,
    batch_size: int = 100,
    sample_size: int = 10,
    accessibility_probe=None,
) -> dict:
    """Historical backfill bootstrap: discover → validate sample → enqueue.

    Discovery is the S1 CSV scan (one job per case row); validation
    probes a deterministic hash-ordered sample of ``sample_size`` cases
    and reports the estimated accessibility rate (flow proceeds with a
    warning below the 80% floor, like the reference); enqueue writes
    batch-numbered JSON job files into ``queue_dir`` — the SAME queue
    ``process_case_backlog`` drains, so onboard + backlog-drain is the
    complete backfill. Enqueue is one file per batch with deterministic
    names: re-running overwrites rather than double-queuing. The batch
    slicing AND the file writes are distributed (``_write_job_batches``)
    — no job row ever crosses the driver, so the flow holds at a 100×
    tenant onboard."""
    report: dict = {"steps_completed": [], "final_status": "in_progress"}

    cases = csv_case_scan(spark, case_csv_path)
    if not include_closed_cases and "is_active" in cases.columns:
        cases = cases.filter(F.col("is_active"))
    cases = cases.cache()
    try:
        return _onboard_steps(
            spark, cases, queue_dir, report,
            validate_before_queuing=validate_before_queuing,
            batch_size=batch_size, sample_size=sample_size,
            accessibility_probe=accessibility_probe,
        )
    finally:
        cases.unpersist()


def _onboard_steps(
    spark, cases, queue_dir, report, *, validate_before_queuing,
    batch_size, sample_size, accessibility_probe,
):
    n_cases = cases.count()
    report["total_cases_discovered"] = n_cases
    report["steps_completed"].append("case_discovery")
    if n_cases == 0:
        report["final_status"] = "completed_empty"
        return report

    if validate_before_queuing:
        probe = accessibility_probe or _default_probe
        sample = (
            cases.select("case_ref")
            .orderBy(F.pmod(F.xxhash64("case_ref"), F.lit(1 << 20)), "case_ref")
            .limit(sample_size)
        )
        probed = probe(sample)
        agg = probed.agg(
            F.count(F.lit(1)).alias("n"),
            F.count(F.when(F.col("accessible"), 1)).alias("ok"),
        ).collect()[0]
        rate = agg.ok / agg.n if agg.n else 0.0
        report["validation_results"] = {
            "sample_size": agg.n,
            "accessible": agg.ok,
            "inaccessible": agg.n - agg.ok,
            "estimated_accessibility_rate": round(rate, 4),
        }
        report["low_accessibility_warning"] = rate < ACCESSIBILITY_FLOOR
        report["steps_completed"].append("validation")

    # Enqueue: stable batch numbering (order by job_id so re-runs slice
    # identically), one JSON file per batch — the queue contract
    # streaming/jobs.JOB_SCHEMA expects. Batches of `batch_size` mirror
    # the reference's enqueue_backfill_jobs slicing, but the slicing and
    # the file writes are DISTRIBUTED (_write_job_batches): executors
    # write every row; the driver only renames batch files. A 100×
    # tenant onboard never funnels job rows through the driver.
    os.makedirs(queue_dir, exist_ok=True)
    jobs = cases.select(
        F.abs(F.xxhash64("case_ref")).alias("job_id"),
        F.abs(F.xxhash64("case_ref")).alias("entity_id"),
        F.lit("backfill").alias("change_type"),
        F.lit(BACKFILL_PRIORITY).cast("int").alias("priority"),
        F.lit(0).cast("int").alias("retry_count"),
    )
    n_jobs, n_batches = _write_job_batches(
        jobs, queue_dir, batch_size, "backfill"
    )
    # idempotence also needs stale-file cleanup: a re-run that produces
    # FEWER batches must not leave the previous run's higher-numbered
    # files behind (they would drain as obsolete jobs)
    for stale in os.listdir(queue_dir):
        if (
            stale.startswith("backfill-")
            and stale.endswith(".json")
            and stale >= f"backfill-{n_batches:06d}.json"
        ):
            os.remove(os.path.join(queue_dir, stale))
    report["queuing_results"] = {
        "queued_successfully": n_jobs,
        "batches_written": n_batches,
    }
    report["jobs_queued"] = n_jobs
    report["steps_completed"].append("case_queuing")

    report["initial_progress"] = {"queue_depth": n_jobs, "processed": 0}
    report["steps_completed"].append("progress_monitoring")
    report["final_status"] = "completed"
    return report


def sync_tenant_daily(
    spark: SparkSession,
    sf_dir: str,
    queue_dir: str | None = None,
) -> dict:
    """Daily incremental reconciliation (the flagship flow): one fused
    CRM↔store full-outer plan feeds the change-type summary, the quality
    gate (change rate ≤ 20%, count divergence ≤ 10% —
    reconciliation.py:324-405), and — when the gate passes and a queue is
    given — the prioritized job enqueue. The three steps share the
    ``reconcile_fused`` subplan; nothing is recomputed per step."""
    detail = reconcile_fused(spark, sf_dir).cache()
    try:
        # one aggregate over the cached detail feeds both the summary and
        # the quality gate: every gate count is a sum of per-change-type
        # counts (a19_reconciliation_quality computes the same figures)
        summary = {
            r.change_type: {
                "n_entities": r.n_entities,
                "total_events": r.total_events,
            }
            for r in detail.groupBy("change_type")
            .agg(
                F.count(F.lit(1)).alias("n_entities"),
                F.sum("crm_event_count").alias("total_events"),
            )
            .collect()
        }
        n = {k: v["n_entities"] for k, v in summary.items()}
        n_total = sum(n.values())
        n_crm = n_total - n.get("deactivated", 0)
        n_store = n_total - n.get("new", 0)
        n_changes = n_total - n.get("unchanged", 0)
        change_rate = n_changes / n_total if n_total else 0.0
        divergence = (
            abs(n_crm - n_store) / max(n_crm, n_store)
            if max(n_crm, n_store)
            else 0.0
        )
        quality_ok = (
            change_rate <= CHANGE_RATE_MAX and divergence <= COUNT_DIVERGENCE_MAX
        )
        report = {
            "summary": summary,
            "quality": {
                "change_rate": round(change_rate, 6),
                "count_divergence": round(divergence, 6),
                "quality_ok": quality_ok,
            },
            "jobs_queued": 0,
        }
        if queue_dir is not None and quality_ok:
            os.makedirs(queue_dir, exist_ok=True)
            jobs = jobs_from_reconciliation(detail)
            # filename derived from the watermark CONTENT: Spark's file
            # stream source tracks seen paths and never re-reads an
            # overwritten file, so a fixed name would silently drop every
            # sync after the first. Same watermark → same name → harmless
            # overwrite (identical content); advanced watermark → new
            # file the stream picks up. The file itself is written by ONE
            # EXECUTOR task streaming the sorted rows (repartition(1) +
            # sortWithinPartitions), not by a driver collect — the single
            # file is the queue-contract choice; shard per priority when
            # one sync's job list outgrows a single writer.
            wm = detail.agg(
                F.max(F.coalesce(F.col("crm_serialno"), F.lit(0))).alias("wm")
            ).collect()[0].wm or 0
            staging = os.path.join(queue_dir, ".staging-sync")
            (
                jobs.repartition(1)
                .sortWithinPartitions("priority", "job_id")
                .select(_job_json().alias("value"))
                .write.mode("overwrite")
                .text(staging)
            )
            path = os.path.join(queue_dir, f"sync-wm{int(wm):012d}.json")
            parts = sorted(
                f for f in os.listdir(staging) if f.startswith("part-")
            )
            if len(parts) > 1:  # real raise: queue integrity must survive -O
                raise RuntimeError(f"sync queue split across tasks: {parts}")
            if parts:
                os.replace(os.path.join(staging, parts[0]), path)
            else:  # zero actionable jobs: the queue file is legitimately empty
                open(path, "w").close()
            shutil.rmtree(staging, ignore_errors=True)
            # count from the cached reconciliation detail (a metadata-cheap
            # agg), not by re-reading the queue file on the driver
            report["jobs_queued"] = jobs.count()
            report["queue_file"] = os.path.basename(path)
        report["final_status"] = "completed"
        return report
    finally:
        detail.unpersist()


def process_case_backlog(
    spark: SparkSession,
    queue_dir: str,
    out_dir: str,
    dlq_dir: str,
    checkpoint_dir: str,
    fail_predicate=None,
):
    """Drain the job queue written by ``onboard_tenant`` /
    ``sync_tenant_daily``: priority-ordered micro-batches, retry
    re-enqueue, dead-letter routing — streaming/jobs.run_jobs_stream is
    the whole worker loop."""
    return run_jobs_stream(
        spark, queue_dir, out_dir, dlq_dir, checkpoint_dir, fail_predicate
    )
