"""Streaming job pipeline (T3-T5): priority ordering, retry, DLQ routing —
end-to-end through a file-backed queue with availableNow draining."""

from __future__ import annotations

import pyspark.sql.functions as F

from caseguarddatapipeline_spark.operators.reconcile import reconcile_fused
from caseguarddatapipeline_spark.streaming.jobs import (
    MAX_RETRIES,
    drain_queue,
    jobs_from_reconciliation,
    process_job_batch,
)


def test_jobs_from_reconciliation(spark, sf_dir):
    detail = reconcile_fused(spark, sf_dir)
    jobs = jobs_from_reconciliation(detail)
    rows = jobs.collect()
    assert len(rows) > 0
    assert {r["priority"] for r in rows} <= {1, 2}
    assert all(r["retry_count"] == 0 for r in rows)
    new_jobs = [r for r in rows if r["change_type"] == "new"]
    assert all(r["priority"] == 1 for r in new_jobs)


def test_process_batch_outcomes(spark):
    batch = spark.createDataFrame(
        [(1, 1, "new", 1, 0), (2, 2, "update", 2, 0), (3, 3, "update", 2, MAX_RETRIES - 1)],
        ["job_id", "entity_id", "change_type", "priority", "retry_count"],
    )
    out = process_job_batch(batch, fail_predicate=F.col("entity_id") >= 2)
    outcomes = {r["job_id"]: r["outcome"] for r in out.collect()}
    assert outcomes == {1: "done", 2: "retry", 3: "dead"}


def test_drain_queue_end_to_end(spark, sf_dir, tmp_path):
    detail = reconcile_fused(spark, sf_dir)
    jobs = jobs_from_reconciliation(detail)
    n_jobs = jobs.count()
    queue = str(tmp_path / "queue")
    out = str(tmp_path / "out")
    dlq = str(tmp_path / "dlq")
    ckpt = str(tmp_path / "ckpt")
    jobs.write.json(queue)

    # entity_id % 5 == 0 fails EVERY attempt -> must end in the DLQ;
    # everything else succeeds first try.
    drain_queue(
        spark, queue, out, dlq, ckpt,
        fail_predicate=(F.col("entity_id") % 5) == 0,
    )

    done = spark.read.parquet(out)
    dead = spark.read.parquet(dlq)
    n_done, n_dead = done.count(), dead.count()
    assert n_done + n_dead == n_jobs
    assert done.filter((F.col("entity_id") % 5) == 0).count() == 0
    assert dead.filter((F.col("entity_id") % 5) != 0).count() == 0
    # DLQ rows carry the exhausted retry count
    assert all(r["retry_count"] == MAX_RETRIES - 1 for r in dead.collect())
    # no job processed twice
    assert done.select("job_id").distinct().count() == n_done


def test_kafka_queue_option_contract():
    from caseguarddatapipeline_spark.streaming.jobs import kafka_queue_options

    opts = kafka_queue_options(
        "broker1:9092,broker2:9092",
        "case_processing_queue",
        starting_offsets="latest",
        max_offsets_per_trigger=5000,
        group_id_prefix="caseflow",
    )
    assert opts == {
        "kafka.bootstrap.servers": "broker1:9092,broker2:9092",
        "subscribe": "case_processing_queue",
        "startingOffsets": "latest",
        "failOnDataLoss": "false",
        "maxOffsetsPerTrigger": "5000",
        "groupIdPrefix": "caseflow",
    }


def test_kafka_value_parse_contract(spark):
    """parse_job_records decodes Kafka-shaped (value binary) frames into
    typed job rows — proven on a batch frame, no broker needed."""
    import json

    from caseguarddatapipeline_spark.streaming.jobs import parse_job_records

    payload = json.dumps(
        {"job_id": 7, "entity_id": 7, "change_type": "new",
         "priority": 1, "retry_count": 0}
    ).encode()
    frame = spark.createDataFrame(
        [(b"key-7", payload)], "key binary, value binary"
    )
    [row] = parse_job_records(frame).collect()
    assert (row["job_id"], row["priority"], row["change_type"]) == (7, 1, "new")


def test_queue_source_rejects_unknown_transport(spark):
    import pytest as _pytest

    from caseguarddatapipeline_spark.streaming.jobs import queue_source

    with _pytest.raises(ValueError, match="unknown queue transport"):
        queue_source(spark, "redis")


def test_kafka_sink_roundtrip_contract(spark):
    """jobs → kafka records → parse_job_records reproduces the rows:
    the enqueue and consume sides agree by construction."""
    from caseguarddatapipeline_spark.streaming.jobs import (
        jobs_to_kafka_records,
        kafka_sink_options,
        parse_job_records,
    )

    assert kafka_sink_options("b:9092", "jobs", checkpoint_dir="/tmp/ck") == {
        "kafka.bootstrap.servers": "b:9092",
        "topic": "jobs",
        "checkpointLocation": "/tmp/ck",
    }
    jobs = spark.createDataFrame(
        [(1, 1, "new", 1, 0), (2, 2, "update", 2, 1)],
        "job_id long, entity_id long, change_type string, priority int, retry_count int",
    )
    records = jobs_to_kafka_records(jobs)
    assert dict(records.dtypes) == {"key": "binary", "value": "binary"}
    back = sorted(
        (r["job_id"], r["entity_id"], r["change_type"], r["priority"], r["retry_count"])
        for r in parse_job_records(records).collect()
    )
    assert back == [(1, 1, "new", 1, 0), (2, 2, "update", 2, 1)]


def test_enqueue_jobs_kafka_builds_configured_writer(spark, tmp_path):
    """The composed S9 enqueue seam returns an unstarted, fully-configured
    writer for both batch and streaming inputs (no broker needed to build)."""
    from pyspark.sql.readwriter import DataFrameWriter
    from pyspark.sql.streaming.readwriter import DataStreamWriter

    from caseguarddatapipeline_spark.streaming.jobs import (
        JOB_SCHEMA,
        enqueue_jobs_kafka,
    )

    batch = spark.createDataFrame(
        [(1, 1, "new", 1, 0)],
        "job_id long, entity_id long, change_type string, priority int, retry_count int",
    )
    w = enqueue_jobs_kafka(batch, "b:9092", "jobs")
    assert isinstance(w, DataFrameWriter)

    qdir = tmp_path / "queue"
    qdir.mkdir()
    stream = spark.readStream.schema(JOB_SCHEMA).json(str(qdir))
    sw = enqueue_jobs_kafka(
        stream, "b:9092", "jobs", checkpoint_dir=str(tmp_path / "ck")
    )
    assert isinstance(sw, DataStreamWriter)
