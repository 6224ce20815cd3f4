"""Streaming CDC materialization (the live twin of t15_cdc_apply).

The batch entry (operators/incremental.py t15) compacts a FULL changelog
with one window rank; a live pipeline instead receives the changelog as a
stream and must keep the materialized state current batch by batch — the
reference's per-row UPDATE/DELETE loops (etl/reconciliation.py:226-268)
as a continuously-maintained table.

Semantics are VERSION-ordered, not arrival-ordered: the merge keeps, per
entity, whichever row (current state vs incoming batch) carries the higher
version. Deletes persist as TOMBSTONES (a ``deleted`` flag at the winning
version) rather than physically removing the row — without them, a late
out-of-order upsert with an older version would resurrect a deleted
entity; with them it compares against the tombstone's version and loses.
``read_materialized`` serves the live view (tombstones filtered). Replays
compare equal-or-lower versions everywhere and are no-ops, so
foreachBatch's at-least-once window needs no separate dedup. Rows with a
NULL entity_id or NULL version (malformed changelog lines under the
permissive JSON reader) are dropped before the merge — contract failures,
not data.

State commits through the versioned lake-table store (sources/versioned):
each batch writes NEW immutable files and publishes them with one manifest
commit — a crash at ANY point leaves the previous state readable (the old
rmtree-then-rename swap had a window where the live dir was gone). Old
versions vacuum down to a small retention window per batch. At scale the state table is bucketed on entity_id so the per-batch
merge join co-locates, and the snapshot commit becomes a table-format
metadata commit (Delta/Iceberg); the transformation here is the
engine-agnostic core.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..sources.versioned import has_version, read_latest, vacuum, write_version

CDC_SCHEMA = StructType(
    [
        StructField("entity_id", LongType()),
        StructField("op", StringType()),  # 'U' upsert | 'D' delete
        StructField("value_micro", LongType()),
        StructField("version", LongType()),
    ]
)

STATE_COLS = ["entity_id", "value_micro", "version", "deleted"]
STATE_DDL = "entity_id long, value_micro long, version long, deleted boolean"


def merge_cdc_batch(state: DataFrame, batch: DataFrame) -> DataFrame:
    """Version-ordered merge producing the FULL state (live rows +
    tombstones). Idempotent under replays and commutative over
    already-applied prefixes; malformed rows (null entity/version) are
    dropped at the door."""
    clean = batch.filter(
        F.col("entity_id").isNotNull() & F.col("version").isNotNull()
    )
    latest = (
        clean.withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("entity_id").orderBy(
                    F.desc("version"), F.desc("op")
                )
            ),
        )
        .filter(F.col("rn") == 1)
        .select("entity_id", "op", "value_micro", "version")
    )
    if "deleted" not in state.columns:
        state = state.withColumn("deleted", F.lit(False))
    s = state.select([F.col(c).alias(f"s_{c}") for c in STATE_COLS])
    joined = latest.join(s, latest.entity_id == s.s_entity_id, "full_outer")
    batch_wins = F.col("s_version").isNull() | (
        F.col("version") > F.col("s_version")
    )
    return joined.select(
        F.coalesce("entity_id", "s_entity_id").alias("entity_id"),
        F.when(F.col("version").isNull() | ~batch_wins, F.col("s_value_micro"))
        .when(F.col("op") == "D", F.lit(None).cast("long"))
        .otherwise(F.col("value_micro"))
        .alias("value_micro"),
        F.greatest(
            F.coalesce("version", F.lit(-1)),
            F.coalesce("s_version", F.lit(-1)),
        ).alias("version"),
        F.when(F.col("version").isNull() | ~batch_wins,
               F.coalesce("s_deleted", F.lit(False)))
        .otherwise(F.col("op") == "D")
        .alias("deleted"),
    )


def materialized(state: DataFrame) -> DataFrame:
    """The live view: tombstones filtered, reader-facing columns only."""
    return state.filter(~F.col("deleted")).select(
        "entity_id", "value_micro", "version"
    )


def _read_state(spark: SparkSession, state_dir: str) -> DataFrame:
    if has_version(state_dir):
        return read_latest(spark, state_dir)
    return spark.createDataFrame([], STATE_DDL)


def read_materialized(spark: SparkSession, state_dir: str) -> DataFrame:
    """Current live rows (what a consumer of the CDC table reads)."""
    return materialized(_read_state(spark, state_dir))


def run_cdc_stream(
    spark: SparkSession,
    log_dir: str,
    state_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = 10,
    keep_versions: int = 3,
):
    """Consume the JSON changelog directory until drained (availableNow)
    and maintain the materialized state at ``state_dir`` as versioned
    snapshots (crash-safe manifest commit, bounded retention)."""
    stream = (
        spark.readStream.schema(CDC_SCHEMA)
        .option("maxFilesPerTrigger", str(max_files_per_trigger))
        .json(log_dir)
    )

    def handle_batch(batch: DataFrame, batch_id: int) -> None:
        sess = batch.sparkSession  # the batch's own session (Connect-safe)
        state = _read_state(sess, state_dir)
        merged = merge_cdc_batch(state, batch)
        write_version(merged, state_dir)
        vacuum(state_dir, keep=keep_versions)

    query = (
        stream.writeStream.foreachBatch(handle_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    return query
