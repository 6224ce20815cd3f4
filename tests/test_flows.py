"""Entry-point flows: onboarding backfill (discover → validate → enqueue),
daily sync (reconcile → quality gate → enqueue), and draining the queue
they feed."""

from __future__ import annotations

import json
import os

import pytest

from caseguarddatapipeline_spark.flows import (
    onboard_tenant,
    process_case_backlog,
    sync_tenant_daily,
)

CSV_HEADER = "Solicitor Reference,Status,Client,Handler,Date Opened\n"


def _write_cases(path, n_active=18, n_complete=7):
    rows = [CSV_HEADER]
    for i in range(n_active):
        rows.append(f"NBC{i:06d}.001,Active,Client {i},Handler A,01/02/2024\n")
    for i in range(n_complete):
        rows.append(f"NBC9{i:05d}.001,Complete,Client X,Handler B,03/04/2023\n")
    path.write_text("".join(rows))


def test_onboard_tenant_end_to_end(spark, tmp_path):
    csv = tmp_path / "cases.csv"
    _write_cases(csv)
    queue = str(tmp_path / "queue")

    report = onboard_tenant(spark, str(csv), queue, batch_size=10)
    assert report["final_status"] == "completed"
    assert report["total_cases_discovered"] == 25
    assert report["jobs_queued"] == 25
    assert report["queuing_results"]["batches_written"] == 3
    v = report["validation_results"]
    assert v["sample_size"] == 10
    assert v["accessible"] + v["inaccessible"] == 10

    # queue files are the JOB_SCHEMA contract
    files = sorted(os.listdir(queue))
    assert files == [f"backfill-{i:06d}.json" for i in range(3)]
    jobs = [json.loads(line) for f in files for line in open(os.path.join(queue, f))]
    assert len(jobs) == 25
    assert {j["priority"] for j in jobs} == {3}
    assert all(j["retry_count"] == 0 for j in jobs)

    # idempotent re-run: same files, same content, no double-enqueue
    report2 = onboard_tenant(spark, str(csv), queue, batch_size=10)
    assert report2["jobs_queued"] == 25
    assert sorted(os.listdir(queue)) == files

    # closed cases excluded on request
    report3 = onboard_tenant(
        spark, str(csv), str(tmp_path / "q2"), include_closed_cases=False
    )
    assert report3["total_cases_discovered"] == 18


def test_onboard_then_drain_backlog(spark, tmp_path):
    csv = tmp_path / "cases.csv"
    _write_cases(csv, n_active=12, n_complete=0)
    queue = str(tmp_path / "queue")
    onboard_tenant(spark, str(csv), queue, validate_before_queuing=False)

    out, dlq, ckpt = (str(tmp_path / d) for d in ("out", "dlq", "ckpt"))
    process_case_backlog(spark, queue, out, dlq, ckpt)
    done = spark.read.parquet(out).collect()  # outcome column dropped on write
    assert len(done) == 12
    assert all(r.change_type == "backfill" and r.retry_count == 0 for r in done)
    queued = {
        json.loads(line)["job_id"]
        for f in os.listdir(queue)
        for line in open(os.path.join(queue, f))
    }
    assert {r.job_id for r in done} == queued
    # zero dead rows: the dynamic-overwrite sink writes no partitions at all
    assert not any(f.startswith("batch_id=") for f in os.listdir(dlq))


def _open_gate(monkeypatch):
    """Open the daily sync's quality gate: every fixture scale closes it
    (the synthesized store tags most entities ``deactivated``), so the
    enqueue path only runs with the thresholds raised to 1.0."""
    import caseguarddatapipeline_spark.flows as flows_mod

    monkeypatch.setattr(flows_mod, "CHANGE_RATE_MAX", 1.0)
    monkeypatch.setattr(flows_mod, "COUNT_DIVERGENCE_MAX", 1.0)


def _sync_watermark(spark, sf_dir):
    """The queue file's watermark, recomputed from the detail rows."""
    from caseguarddatapipeline_spark.operators.reconcile import reconcile_fused

    return max(
        (r.crm_serialno or 0)
        for r in reconcile_fused(spark, sf_dir).select("crm_serialno").collect()
    )


def test_sync_tenant_daily_gates_and_enqueues(spark, sf_dir, tmp_path, monkeypatch):
    queue = str(tmp_path / "queue")
    report = sync_tenant_daily(spark, sf_dir, queue)
    assert report["final_status"] == "completed"
    assert set(report["summary"]) == {"new", "deactivated", "update", "unchanged"}
    q = report["quality"]
    assert 0.0 <= q["change_rate"] <= 1.0
    assert isinstance(q["quality_ok"], bool)
    # the flow's gate and the a19 operator report the same figures
    from caseguarddatapipeline_spark.operators.relational5 import (
        a19_reconciliation_quality,
    )

    a19 = a19_reconciliation_quality(spark, sf_dir).collect()[0]
    assert (q["change_rate"], q["count_divergence"], q["quality_ok"]) == (
        a19.change_rate, a19.count_divergence, a19.quality_ok
    )
    # closed gate: nothing is enqueued
    assert not q["quality_ok"]
    assert report["jobs_queued"] == 0 and "queue_file" not in report

    # open gate: the same sync enqueues every actionable change
    _open_gate(monkeypatch)
    report = sync_tenant_daily(spark, sf_dir, queue)
    assert report["quality"]["quality_ok"]
    n_actionable = (
        report["summary"]["new"]["n_entities"]
        + report["summary"]["update"]["n_entities"]
    )
    # filename carries the watermark so the file-stream source sees a
    # NEW path whenever the sync advances (fixed names are never
    # re-read by Spark's file source)
    qfile = report["queue_file"]
    assert qfile == f"sync-wm{_sync_watermark(spark, sf_dir):012d}.json"
    jobs = [json.loads(line) for line in open(os.path.join(queue, qfile))]
    assert report["jobs_queued"] == len(jobs) == n_actionable > 0
    assert {j["change_type"] for j in jobs} == {"new", "update"}
    # new cases outrank updates in the queue
    assert all(
        j["priority"] == (1 if j["change_type"] == "new" else 2) for j in jobs
    )


def _collect_path_bytes(jobs_df, batch_size, order_cols):
    """The OLD driver-side enqueue, kept as the test oracle: collect,
    sort, slice, compact-JSON-encode. The distributed writer must produce
    byte-identical batch files."""
    rows = [r.asDict() for r in jobs_df.orderBy(*order_cols).collect()]
    out = {}
    for start in range(0, len(rows), batch_size):
        body = "".join(
            json.dumps(r, separators=(",", ":")) + "\n"
            for r in rows[start : start + batch_size]
        )
        out[start // batch_size] = body.encode()
    return out


def test_distributed_onboard_enqueue_matches_collect_path(spark, tmp_path):
    """The round-4 scale-killer fix: executors write the queue batches,
    the driver only renames — and the files are byte-identical to the
    collect-and-slice path, batch per batch, including row order."""
    import pyspark.sql.functions as F

    from caseguarddatapipeline_spark.flows import BACKFILL_PRIORITY
    from caseguarddatapipeline_spark.sources.connectors import csv_case_scan

    csv = tmp_path / "cases.csv"
    _write_cases(csv, n_active=137, n_complete=23)  # 160 cases, 16 batches
    queue = str(tmp_path / "queue")
    report = onboard_tenant(spark, str(csv), queue, batch_size=10)
    assert report["jobs_queued"] == 160
    assert report["queuing_results"]["batches_written"] == 16

    jobs = csv_case_scan(spark, str(csv)).select(
        F.abs(F.xxhash64("case_ref")).alias("job_id"),
        F.abs(F.xxhash64("case_ref")).alias("entity_id"),
        F.lit("backfill").alias("change_type"),
        F.lit(BACKFILL_PRIORITY).cast("int").alias("priority"),
        F.lit(0).cast("int").alias("retry_count"),
    )
    expected = _collect_path_bytes(jobs, 10, ["job_id"])
    assert len(expected) == 16
    for b, body in expected.items():
        with open(os.path.join(queue, f"backfill-{b:06d}.json"), "rb") as fh:
            assert fh.read() == body, f"batch {b} differs from collect path"

    # no collect of job rows anywhere in either flow's enqueue
    import inspect

    import caseguarddatapipeline_spark.flows as flows_mod

    src = inspect.getsource(flows_mod)
    enqueue_fns = [
        flows_mod._onboard_steps,
        flows_mod._numbered_jobs,
        flows_mod._write_job_batches,
    ]
    for fn in enqueue_fns:
        fn_src = inspect.getsource(fn)
        collects = [
            ln for ln in fn_src.splitlines()
            if ".collect()" in ln
            and ".collect()[0]" not in ln  # 1-row scalar aggs are fine
        ]
        assert not collects, f"{fn.__name__} collects job rows: {collects}"
    assert src  # module parsed


def test_distributed_sync_enqueue_matches_collect_path(
    spark, sf_dir, tmp_path, monkeypatch
):
    """Sync queue file: one executor task streams the sorted rows; bytes
    must equal the old collect path's (priority, job_id)-ordered dump."""
    from caseguarddatapipeline_spark.operators.reconcile import reconcile_fused
    from caseguarddatapipeline_spark.streaming.jobs import jobs_from_reconciliation

    _open_gate(monkeypatch)
    queue = str(tmp_path / "queue")
    report = sync_tenant_daily(spark, sf_dir, queue)
    assert report["quality"]["quality_ok"]
    assert report["queue_file"] == (
        f"sync-wm{_sync_watermark(spark, sf_dir):012d}.json"
    )
    assert os.listdir(queue) == [report["queue_file"]]  # staging removed
    qfile = os.path.join(queue, report["queue_file"])
    jobs = jobs_from_reconciliation(reconcile_fused(spark, sf_dir))
    rows = [r.asDict() for r in jobs.orderBy("priority", "job_id").collect()]
    expected = "".join(
        json.dumps(r, separators=(",", ":")) + "\n" for r in rows
    ).encode()
    with open(qfile, "rb") as fh:
        assert fh.read() == expected
    assert report["jobs_queued"] == len(rows) > 0


def test_onboard_rerun_removes_stale_batches(spark, tmp_path):
    """A re-run producing fewer batches must delete the previous run's
    higher-numbered files — no obsolete jobs left to drain."""
    csv = tmp_path / "cases.csv"
    _write_cases(csv, n_active=18, n_complete=7)  # 25 cases → 3 batches of 10
    queue = str(tmp_path / "queue")
    onboard_tenant(spark, str(csv), queue, batch_size=10)
    assert len(os.listdir(queue)) == 3

    report = onboard_tenant(
        spark, str(csv), queue, batch_size=10, include_closed_cases=False
    )  # 18 cases → 2 batches
    assert report["queuing_results"]["batches_written"] == 2
    assert sorted(os.listdir(queue)) == [
        "backfill-000000.json", "backfill-000001.json"
    ]


def _ntile_reference(n: int, k: int) -> list[int]:
    """ntile(k) over n rows by construction: tile sizes, then labels."""
    q, rem = divmod(n, k)
    return [t + 1 for t in range(k) for _ in range(q + 1 if t < rem else q)]


@pytest.mark.parametrize(
    "n_rows,k,case",
    [
        (0, 10, "flat"),
        (1, 10, "flat"),
        (7, 3, "flat"),  # batch boundaries mid-bucket
        (257, 10, "flat"),  # 257 rows on 100 key values: ties in the key
        (100, 100, "flat"),
        (3, 8, "flat"),  # n < k: ntile's q = 0 branch
        (50, 7, "one_bucket"),  # every key equal → max = min, one bucket
        (257, 10, "by"),  # ranks restart per `by` group
    ],
)
def test_exact_rank_edge_cases(spark, n_rows, k, case):
    """``topk.exact_rank`` over ``range_buckets`` equals a Python sort of
    the same rows — rank, running sum, ntile and position-in-tile — and
    the onboard queue numbering built on it equals the collect-and-slice
    batches, across empty, single-row, tie-heavy, single-bucket and
    grouped inputs."""
    import pyspark.sql.functions as F

    from caseguarddatapipeline_spark.flows import _numbered_jobs
    from caseguarddatapipeline_spark.operators.topk import (
        exact_rank,
        ntile,
        ntile_start,
        range_buckets,
    )

    key = (
        F.lit(5).cast("long")
        if case == "one_bucket"
        # scrambled key, repeated once n > 100
        else F.pmod(F.col("id") * 37, F.lit(max(min(n_rows, 100), 1)))
    )
    by = ["grp"] if case == "by" else []
    jobs = spark.range(n_rows).select(
        key.alias("job_id"),
        F.col("id").alias("entity_id"),
        F.lit("backfill").alias("change_type"),
        F.lit(3).cast("int").alias("priority"),
        F.lit(0).cast("int").alias("retry_count"),
        (F.col("id") % 3 if by else F.lit(0)).alias("grp"),
    )
    rows = [r.asDict() for r in jobs.collect()]

    if not by:
        numbered = _numbered_jobs(jobs, k)
        got = sorted(
            (r["job_id"], r["batch"]) for r in numbered.select("job_id", "batch").collect()
        )
        keys = sorted(r["job_id"] for r in rows)
        assert got == [(key_, i // k) for i, key_ in enumerate(keys)]

    order = [F.col("job_id"), F.col("entity_id")]  # total: entity_id unique
    bucketed = range_buckets(jobs, "job_id", "_bkt", by=by)
    sizes = jobs.groupBy("grp").agg(F.count(F.lit(1)).alias("n"))
    cum = exact_rank(bucketed, "cum", order, "_bkt", by=by, value="entity_id")
    ranked = (
        exact_rank(bucketed, "rnk", order, "_bkt", by=by)
        .join(cum.select("entity_id", "cum"), "entity_id")
        .join(sizes, "grp")
        .withColumn("tile", ntile(F.col("rnk"), F.col("n"), k))
        .withColumn("pos", F.col("rnk") - ntile_start(F.col("tile"), F.col("n"), k))
    )
    got = {
        r["entity_id"]: (r["rnk"], r["cum"], r["tile"], r["pos"])
        for r in ranked.collect()
    }
    expected = {}
    for g in {r["grp"] for r in rows}:
        members = sorted(
            (r for r in rows if r["grp"] == g),
            key=lambda r: (r["job_id"], r["entity_id"]),
        )
        tiles = _ntile_reference(len(members), k)
        cum = 0
        for i, r in enumerate(members):
            cum += r["entity_id"]
            pos = tiles[: i + 1].count(tiles[i])
            expected[r["entity_id"]] = (i + 1, cum, tiles[i], pos)
    assert got == expected, f"n={n_rows} k={k} case={case}"
