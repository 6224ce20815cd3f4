"""Materialized IVF postings store — the vector index as a LAKE TABLE.

SURVEY §2 S12 is the reference's Pinecone upsert: ``{id, values, metadata}``
records pushed to an external vector service per processed case
(etl/flows/process_case.py:292-318; record shape embedder.py:62-66). The
engine's other E2 operators SERVE similarity queries; this module makes the
INDEX itself first-class — a versioned parquet table of (vec_id, emb, cell)
partitioned by ``cell``, the materialized form of the claim every IVF
docstring makes: *at 100 TB, cell persists as a partition column and the
probe join becomes partition pruning*.

Three lifecycle verbs, all through ``sources/versioned`` (write-once
files + manifest commits, so readers mid-search keep their pinned files
and time travel is free):

- ``publish_ivf_postings``: assign every corpus vector to its nearest
  round-1 centroid (the persisted quantizer from
  ``similarity.publish_ivf_index``) and write the postings snapshot.
- ``ivf_postings_upsert``: the Pinecone verb — assign NEW/CHANGED vectors
  with the persisted quantizer (no retrain, matching production IVF
  serving; retraining is a quantizer republish + postings rebuild),
  last-writer-wins on vec_id, and commit only the touched cells as the
  next version (untouched cells' files are carried forward).
- ``ivf_postings_delete``: drop the ids, committing only their cells.

``s12_postings_search`` is the oracle-backed query face: multi-probe top-3
served FROM the snapshot. Probe cells are k-sized index metadata, so they
are resolved driver-side and pushed as a LITERAL ``cell IN (...)``
predicate — static partition pruning at the parquet scan (~nprobe/k of the
corpus read, no full scan; asserted on the physical plan in
tests/test_vecindex.py). Assignment and probing both use the round-1
centroids — the deployment IVF layout where one trained quantizer routes
both sides — and every float is rounded exactly as IVF1_CENTS_SQL rounds
it, so the DuckDB oracle is exact (parquet round-trips doubles bit-wise;
searching the snapshot equals searching the base table).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..sources import load_table
from ..sources.versioned import (
    has_version,
    read_latest,
    replace_partitions,
    write_version,
)
from .similarity import (
    _COSINE_DESC,
    _IVF1_NPROBE,
    IVF1_CENTS_SQL,
    _coarse_cells,
    _dot,
    _ivf1_index,
    _norm,
    _probe_list,
    _query_set,
    _vectors,
)
from .topk import topk_per_key_window


def _postings_store_dir(sf_dir: str) -> str:
    from ..sources.stores import fingerprint_store_dir

    return fingerprint_store_dir(
        sf_dir, "embeddings.parquet", "caseguard_annpostings", layout_version=3
    )


def _assign(vectors: DataFrame, cents: list[list[float]]) -> DataFrame:
    """(vec_id, emb, cell) for a batch of raw (vec_id, embedding) vectors,
    assigned by the SAME 6dp argmax as every other IVF stage."""
    return _coarse_cells(_vectors(vectors), cents, keep_emb=True)


def publish_ivf_postings(
    spark: SparkSession, sf_dir: str, base_dir: str | None = None
) -> tuple[str, int]:
    """Build the postings table for the whole embeddings corpus and publish
    it as a cell-partitioned versioned snapshot. One map-only corpus pass
    (broadcast-literal centroids, no shuffle of vectors) + the write.
    Returns (base_dir, version id)."""
    _, cents = _ivf1_index(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    base = base_dir or _postings_store_dir(sf_dir)
    return base, write_version(_assign(emb, cents), base, partition_by=["cell"])


def _ensure_postings(spark: SparkSession, sf_dir: str, base_dir: str | None) -> str:
    base = base_dir or _postings_store_dir(sf_dir)
    if not has_version(base):
        publish_ivf_postings(spark, sf_dir, base)
    return base


def _replace_cells(
    spark: SparkSession, base: str, ids: DataFrame, fresh: DataFrame
) -> int:
    """Drop ``ids`` from the postings, add the ``fresh`` postings, and
    commit only the touched cells: the cells the fresh vectors land in
    plus the dropped ids' current home cells (a replaced embedding can
    migrate cells, and a deleted id leaves its cell). The touched set is
    passed EXPLICITLY — a cell the batch empties writes no files, and
    without the declaration its old files would be carried forward with
    the stale posting in them. Bounded metadata: <= 2x batch cells."""
    current = read_latest(spark, base)
    cells = (
        current.join(ids, "vec_id", "left_semi")
        .select("cell")
        .unionByName(fresh.select("cell"))
    )
    touched = {int(r["cell"]) for r in cells.distinct().collect()}
    rows = (
        current.filter(F.col("cell").isin(sorted(touched)))
        .select("vec_id", "emb", F.col("cell").cast("int").alias("cell"))
        .join(ids, "vec_id", "left_anti")
        .unionByName(fresh)
    )
    return replace_partitions(
        rows, base, ["cell"], touched={(f"cell={c}",) for c in touched}
    )


def ivf_postings_upsert(
    spark: SparkSession,
    sf_dir: str,
    vectors: DataFrame,
    base_dir: str | None = None,
) -> tuple[str, int]:
    """Upsert a batch of (vec_id, embedding) vectors into the postings
    store — the reference's Pinecone verb (etl/flows/process_case.py:
    292-318) as a lake-table MERGE: new ids are inserted, existing ids are
    replaced (last writer wins), and the result is the NEXT immutable
    version, so a reader mid-search never sees a half-applied batch and a
    reproducible run pins (base_dir, version). vec_id must be unique
    within the batch (the reference's record set is dict-keyed). The
    quantizer is NOT retrained — batches ride the persisted centroids,
    exactly how serving-path IVF upserts work; drift is handled by
    republishing the quantizer and rebuilding (``publish_ivf_postings``).

    The commit rewrites only the touched cells; every other cell's files
    are carried forward by reference (``replace_partitions`` — Delta
    ``replaceWhere``), so a batch costs O(touched cells), not O(corpus):
    FAISS ``add()`` over a lake table.

    Writer discipline: the store makes CONCURRENT commits safe (both
    versions land, latest only moves forward) but not transactional — a
    racing writer that read the same base loses the other's batch
    (read-modify-write, same as non-conflict-checked MERGEs). One writer
    per store is the contract; the streaming face (streaming/vecingest.py)
    enforces it with its ownership marker, and a table format with
    conflict detection (Delta/Iceberg) upgrades this seam in place."""
    base = _ensure_postings(spark, sf_dir, base_dir)
    _, cents = _ivf1_index(spark, sf_dir)
    fresh = _assign(vectors, cents)
    return base, _replace_cells(spark, base, fresh.select("vec_id"), fresh)


def ivf_postings_delete(
    spark: SparkSession,
    sf_dir: str,
    vec_ids: list[int],
    base_dir: str | None = None,
) -> tuple[str, int]:
    """Delete ids from the postings store as a new immutable version that
    rewrites only the deleted ids' cells."""
    base = _ensure_postings(spark, sf_dir, base_dir)
    ids = spark.createDataFrame([(int(i),) for i in vec_ids], "vec_id long")
    none = spark.createDataFrame([], "vec_id long, emb array<double>, cell int")
    return base, _replace_cells(spark, base, ids, none)


def s12_postings_search(
    spark: SparkSession, sf_dir: str, base_dir: str | None = None
) -> DataFrame:
    """Multi-probe top-3 cosine search served FROM the persisted postings
    snapshot. The probe set (each query's nprobe=4 nearest round-1
    centroids) is nqueries×nprobe index METADATA, so it is resolved
    driver-side and pushed as a literal ``cell IN (...)`` — the parquet
    scan prunes to the probed partitions statically (~nprobe/k of the
    corpus) before the broadcast probe join; candidates then get the
    exact 4dp cosine and a per-query rank. Row-identical to running the
    same assign/probe algebra inline on the base table (pytest pin), so
    the DuckDB oracle below recomputes it from `embeddings` directly."""
    base = _ensure_postings(spark, sf_dir, base_dir)
    _, cents = _ivf1_index(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    probe_rows = _probe_list(
        _query_set(_vectors(emb)), cents, _IVF1_NPROBE
    ).collect()  # nqueries×nprobe rows of index metadata, never data-sized
    probes = spark.createDataFrame(
        [(r["query_id"], list(r["q_emb"]), r["probe_cell"]) for r in probe_rows],
        "query_id long, q_emb array<double>, probe_cell int",
    )
    probed_cells = sorted({r["probe_cell"] for r in probe_rows})

    # norms are per-VECTOR values: project each side's norm once before
    # the probe join so the per-candidate work folds only the dot — the
    # same hoist the IVF near-dup verify got this round (HOF folds are
    # interpreted with no CSE; operand order of the division unchanged,
    # so every cosine is bit-identical)
    posts = (
        read_latest(spark, base)
        .filter(F.col("cell").isin(probed_cells))
        .withColumn("nrm", _norm(F.col("emb")))
    )
    probes = probes.withColumn("q_nrm", _norm(F.col("q_emb")))
    cos = _dot(F.col("emb"), F.col("q_emb")) / (
        F.col("nrm") * F.col("q_nrm")
    )
    scored = posts.join(
        F.broadcast(probes),
        (posts.cell == probes.probe_cell) & (posts.vec_id != probes.query_id),
    ).select(
        "query_id",
        "vec_id",
        F.col("cell").cast("int").alias("cell"),
        F.round(cos, 4).alias("cosine"),
    )
    return topk_per_key_window(scored, ["query_id"], _COSINE_DESC, 3, "rank")


QUERIES = {"s12_postings_search": s12_postings_search}

# Same quantizer CTE chain as every IVF oracle; assignment AND probing by
# the round-1 centroids (the deployment layout this store materializes).
ORACLES = {
    "s12_postings_search": IVF1_CENTS_SQL
    + """
    , cent_scored_s12 AS (
        SELECT c.vec_id, c.emb, ct.cell,
               round(list_dot_product(c.emb, ct.c_emb)
                     / (sqrt(list_dot_product(c.emb, c.emb))
                        * sqrt(list_dot_product(ct.c_emb, ct.c_emb))), 6) AS cos6
        FROM corpus c CROSS JOIN cents ct
    ), posted AS (
        SELECT vec_id, emb, cell
        FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
                                           ORDER BY cos6 DESC, cell ASC) AS rn
              FROM cent_scored_s12)
        WHERE rn = 1
    ), queries AS (
        SELECT vec_id AS query_id, emb AS q_emb FROM corpus WHERE vec_id < 5
    ), probe_scored AS (
        SELECT q.query_id, q.q_emb, ct.cell,
               round(list_dot_product(q.q_emb, ct.c_emb)
                     / (sqrt(list_dot_product(q.q_emb, q.q_emb))
                        * sqrt(list_dot_product(ct.c_emb, ct.c_emb))), 6) AS cos6
        FROM queries q CROSS JOIN cents ct
    ), probes AS (
        SELECT query_id, q_emb, cell
        FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                           ORDER BY cos6 DESC, cell ASC) AS rn
              FROM probe_scored)
        WHERE rn <= 4
    ), cand AS (
        SELECT p.query_id, a.vec_id, a.cell,
               round(list_dot_product(a.emb, p.q_emb)
                     / (sqrt(list_dot_product(a.emb, a.emb))
                        * sqrt(list_dot_product(p.q_emb, p.q_emb))), 4) AS cosine
        FROM posted a JOIN probes p
          ON a.cell = p.cell AND a.vec_id <> p.query_id
    )
    SELECT query_id, vec_id, CAST(cell AS INT) AS cell, cosine,
           CAST(row_number() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, vec_id ASC) AS INT) AS rank
    FROM cand
    QUALIFY rank <= 3
""",
}
