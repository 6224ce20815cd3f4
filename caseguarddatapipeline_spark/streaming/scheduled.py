"""Scheduled daily sync (T7, SURVEY.md §2.9): one bounded end-to-end sync
run per invocation, Trigger.AvailableNow style.

The reference schedules its enhanced daily sync per tenant (cron in
configs/tenants/fdm_solicitors.json:92 driving
etl/flows/sync_daily_enhanced.py): detect changes → enqueue prioritized
jobs → let the worker fleet drain them. Spark-first, "scheduled" means
the orchestrator (cron/Airflow/Prefect) invokes ``scheduled_daily_sync``
once per tick and the run BOUNDS ITSELF: the reconciliation is a batch
plan, the enqueue appends job files to the queue, and the drain is the
jobs stream under ``Trigger.AvailableNow`` — it processes exactly the
backlog present when the trigger fires, checkpoints, and exits (instead
of a long-running ProcessingTime stream). Re-invocation resumes from the
shared checkpoint, so each tick consumes only what arrived since the
last one — T2's watermark semantics at the orchestration level.
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..operators.reconcile import reconcile_fused
from .jobs import jobs_from_reconciliation, run_jobs_stream


def scheduled_daily_sync(
    spark: SparkSession,
    sf_dir: str,
    workdir: str,
    fail_predicate=None,
) -> DataFrame:
    """One scheduled sync tick: reconcile → enqueue → bounded drain.

    Returns the per-outcome summary of THIS tick's processing (rows
    landed in out/dlq by the availableNow drain). ``workdir`` holds the
    queue/out/dlq/checkpoint dirs and persists across ticks — that is
    the incremental state."""
    queue_dir = os.path.join(workdir, "queue")
    out_dir = os.path.join(workdir, "out")
    dlq_dir = os.path.join(workdir, "dlq")
    ckpt_dir = os.path.join(workdir, "checkpoint")
    os.makedirs(queue_dir, exist_ok=True)

    detail = reconcile_fused(spark, sf_dir)
    jobs_from_reconciliation(detail).write.mode("append").json(queue_dir)

    run_jobs_stream(
        spark, queue_dir, out_dir, dlq_dir, ckpt_dir,
        fail_predicate=fail_predicate,
        max_files_per_trigger=1_000_000,  # AvailableNow bounds the run; no pacing
    )

    done = spark.read.schema(
        "job_id long, entity_id long, change_type string, priority int, retry_count int"
    ).parquet(out_dir)
    return (
        done.groupBy("change_type")
        .agg(F.count(F.lit(1)).alias("n_jobs"))
        .orderBy("change_type")
    )
