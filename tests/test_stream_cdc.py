"""Streaming CDC materialization: version-ordered merge, tombstoned
deletes (no resurrection by late stale upserts), replay idempotence,
crash-safe versioned state commits (streaming/cdc.py — the live twin of
t15_cdc_apply)."""

from __future__ import annotations

import json
import os

from caseguarddatapipeline_spark.streaming.cdc import (
    materialized,
    merge_cdc_batch,
    read_materialized,
    run_cdc_stream,
)


def _write_log(path, rows):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as fh:
        for r in rows:
            fh.write(json.dumps(r) + "\n")


def _collect(df):
    return {
        r["entity_id"]: (r["value_micro"], r["version"]) for r in df.collect()
    }


def _state_rows(spark, state_dir):
    return _collect(read_materialized(spark, state_dir))


def test_merge_semantics_version_ordered(spark):
    state = spark.createDataFrame(
        [(1, 100, 5), (2, 200, 9)], "entity_id long, value_micro long, version long"
    )
    batch = spark.createDataFrame(
        [
            (1, "U", 111, 7),   # newer upsert wins
            (2, "U", 222, 3),   # stale update loses to state v9
            (3, "U", 333, 1),   # brand-new entity
            (4, "D", None, 2),  # delete of unknown entity: tombstone only
            (None, "U", 999, 1),   # malformed: null entity → dropped
            (5, "U", 555, None),   # malformed: null version → dropped
        ],
        "entity_id long, op string, value_micro long, version long",
    )
    merged = merge_cdc_batch(state, batch)
    assert _collect(materialized(merged)) == {1: (111, 7), 2: (200, 9), 3: (333, 1)}
    # the unknown-entity delete is retained as a tombstone, not a live row
    tombs = {r.entity_id for r in merged.filter("deleted").collect()}
    assert tombs == {4}


def test_merge_delete_wins_and_loses_by_version(spark):
    state = spark.createDataFrame(
        [(1, 100, 5), (2, 200, 9)], "entity_id long, value_micro long, version long"
    )
    batch = spark.createDataFrame(
        [(1, "D", None, 6), (2, "D", None, 4)],
        "entity_id long, op string, value_micro long, version long",
    )
    got = _collect(materialized(merge_cdc_batch(state, batch)))
    # entity 1 deleted (v6 > v5); entity 2 survives (delete v4 < state v9)
    assert got == {2: (200, 9)}


def test_tombstone_blocks_stale_resurrection(spark):
    """A late out-of-order upsert OLDER than a winning delete must NOT
    resurrect the entity — the tombstone carries the delete's version."""
    state = spark.createDataFrame(
        [(1, 100, 5)], "entity_id long, value_micro long, version long"
    )
    after_delete = merge_cdc_batch(
        state,
        spark.createDataFrame(
            [(1, "D", None, 8)],
            "entity_id long, op string, value_micro long, version long",
        ),
    )
    assert _collect(materialized(after_delete)) == {}
    # late batch: stale upsert v6 < tombstone v8 → stays deleted
    resurrect_attempt = merge_cdc_batch(
        after_delete,
        spark.createDataFrame(
            [(1, "U", 666, 6)],
            "entity_id long, op string, value_micro long, version long",
        ),
    )
    assert _collect(materialized(resurrect_attempt)) == {}
    # a genuinely NEWER upsert (v9 > tombstone v8) does revive it
    revived = merge_cdc_batch(
        resurrect_attempt,
        spark.createDataFrame(
            [(1, "U", 777, 9)],
            "entity_id long, op string, value_micro long, version long",
        ),
    )
    assert _collect(materialized(revived)) == {1: (777, 9)}


def test_cdc_stream_materializes_and_replays_idempotently(spark, tmp_path):
    log_dir = str(tmp_path / "log")
    state_dir = str(tmp_path / "state")
    _write_log(
        os.path.join(log_dir, "b0.json"),
        [
            {"entity_id": 1, "op": "U", "value_micro": 10, "version": 1},
            {"entity_id": 2, "op": "U", "value_micro": 20, "version": 1},
        ],
    )
    _write_log(
        os.path.join(log_dir, "b1.json"),
        [
            {"entity_id": 1, "op": "U", "value_micro": 11, "version": 2},
            {"entity_id": 2, "op": "D", "value_micro": None, "version": 2},
            {"entity_id": 3, "op": "U", "value_micro": 30, "version": 1},
        ],
    )
    run_cdc_stream(spark, log_dir, state_dir, str(tmp_path / "ck1"))
    assert _state_rows(spark, state_dir) == {1: (11, 2), 3: (30, 1)}

    # replay the ENTIRE log with a fresh checkpoint (worst-case at-least-
    # once): version ordering makes every re-application a no-op
    run_cdc_stream(spark, log_dir, state_dir, str(tmp_path / "ck2"))
    assert _state_rows(spark, state_dir) == {1: (11, 2), 3: (30, 1)}

    # state history is versioned snapshots with bounded retention
    from caseguarddatapipeline_spark.sources import versioned as V

    versions = sorted(V._manifests(state_dir))
    assert 1 <= len(versions) <= 3
    # each full-snapshot version owns one data dir; vacuum removed the rest
    assert len(os.listdir(V._data_dir(state_dir))) == len(versions)
