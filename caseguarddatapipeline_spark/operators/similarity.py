"""Similarity search over embeddings (E2, SURVEY.md §2.10).

The reference's vector search is delegated to Pinecone (README.md:9,
etl/flows/process_case.py:292-318 upserts {id, values, metadata}); this
module brings it in-engine, Spark-first:

- brute-force cosine top-k: higher-order-function dot products (zip_with +
  aggregate) — all JVM-side, no UDF; the query side is a broadcast so the
  corpus scan never shuffles. This is the exact baseline.
- per-query kNN: same, fan-out over a query set, ranked by a window.
- LSH (random hyperplane) bucketing: the ~O(n) scale path — sign-bit
  sketches turn neighbor search into an equi-join on bucket keys, exactly
  like the MinHash band join. Deterministic pseudo-hyperplanes (no RNG —
  resume-safe and oracle-friendly).

Cosines are computed in double and rounded to 4 decimals in BOTH engines
before ranking, so cross-engine float association differences can't flip
the top-k ordering (ties broken by vec_id).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql.functions import pandas_udf

from ..sources import load_table
from ..sources.tables import _data_size, _session_key
from .topk import topk_per_key_window


def _round_half_up(x, decimals):
    """Decimal HALF_UP rounding for numpy arrays — matching Spark's
    F.round / DuckDB's round. np.round is binary-scaled half-to-even,
    which disagrees with both engines exactly at .xxxx5 boundaries; when
    a kernel's rounded value is also its ranking or threshold key, that
    flips top-k membership between the Arrow route and the SQL route.

    Spark rounds doubles through BigDecimal.valueOf — the SHORTEST decimal
    representation, then HALF_UP on that decimal — so a value whose
    shortest repr ends in 5 at the target scale (e.g. 0.26645, stored
    binarily just below the .5 midpoint) must round UP even though its
    binary expansion says down. The vectorized floor(|x|·10^d + 0.5) gets
    every case right except a narrow band around the midpoint; elements in
    that band are re-done exactly via Decimal(repr(x)) (= shortest repr,
    same as BigDecimal.valueOf), keeping the kernel fully vectorized on
    the 1 − O(ε) of elements that are unambiguous."""
    x = np.asarray(x, dtype=np.float64)
    scale = 10.0 ** decimals
    scaled = np.abs(x) * scale
    out = np.sign(x) * np.floor(scaled + 0.5) / scale
    near = np.abs(scaled - np.floor(scaled) - 0.5) < 1e-6
    if near.any():
        from decimal import ROUND_HALF_UP, Decimal

        q = Decimal(1).scaleb(-decimals)
        flat, xf = out.reshape(-1), x.reshape(-1)
        for i in np.nonzero(near.reshape(-1))[0]:
            flat[i] = float(
                Decimal(repr(float(xf[i]))).quantize(q, rounding=ROUND_HALF_UP)
            )
    return out


def _dbl(col):
    return F.transform(col, lambda x: x.cast("double"))


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )


def _norm(a):
    return F.sqrt(_dot(a, a))


# The fixed query set every E2 search probes with: the first N_QUERIES
# corpus vectors (the oracles spell it `vec_id < 5`).
N_QUERIES = 5

# per-query ranking order of the exact-cosine searches: ties to lower vec_id
_COSINE_DESC = [("cosine", True), ("vec_id", False)]


def _vectors(emb: DataFrame) -> DataFrame:
    """(vec_id, emb): the embeddings table with every vector cast to
    double — the corpus shape each E2 stage scores."""
    return emb.select("vec_id", _dbl(F.col("embedding")).alias("emb"))


def _query_set(corpus: DataFrame) -> DataFrame:
    """(query_id, q_emb): the fixed first-``N_QUERIES`` query set, taken
    from a (vec_id, emb) corpus — the one definition every E2 search
    (exact, IVF, PQ, SQ8, postings store) and recall check probes with."""
    return corpus.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("emb").alias("q_emb")
    )


def _label_scored(spark: SparkSession, sf_dir: str, on) -> DataFrame:
    """The query set (with its label as ``q_label``) joined to the corpus
    vectors that satisfy the label predicate ``on``, with the rounded
    exact ``cosine`` — the shared body of the two label-predicate
    searches below."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("q_label"),
        _dbl(F.col("embedding")).alias("q_emb"),
    ).select(
        "query_id", "q_label", "q_emb", _norm(F.col("q_emb")).alias("q_norm")
    )
    corpus = emb.select(
        "vec_id", "label", _dbl(F.col("embedding")).alias("emb")
    ).select("vec_id", "label", "emb", _norm(F.col("emb")).alias("nrm"))
    cos = _dot(F.col("emb"), F.col("q_emb")) / (F.col("nrm") * F.col("q_norm"))
    return corpus.join(F.broadcast(queries), on).withColumn(
        "cosine", F.round(cos, 4)
    )


def e2_filtered_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILTERED vector search: 3-NN per query restricted to corpus vectors
    sharing the query's label — the metadata-predicate + similarity shape
    every production vector store serves (search within a tenant /
    collection / document type). The predicate is part of the JOIN key,
    not a post-filter on scored pairs: each query only scores its own
    label's vectors, so with label as the table's partition column the
    scan prunes to |label| rows per query — pre-filtering, which at
    100 TB is the difference between reading one collection and reading
    the lake. (Post-filtering — score all, then filter — would also
    return too few results when a label is sparse.)"""
    scored = _label_scored(
        spark,
        sf_dir,
        (F.col("label") == F.col("q_label"))
        & (F.col("vec_id") != F.col("query_id")),
    ).select("query_id", "q_label", "vec_id", "cosine")
    return topk_per_key_window(scored, ["query_id"], _COSINE_DESC, 3, "rank")


def e2_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HARD-NEGATIVE mining for contrastive training: per query, the
    top-3 most-similar corpus vectors with a DIFFERENT label — the pairs
    that sit just across the decision boundary, which is exactly what a
    contrastive/triplet objective needs instead of random negatives
    (random pairs are trivially far and contribute no gradient). The
    inverse of ``e2_filtered_search``: the label INEQUALITY rides in the
    join predicate, so a label-partitioned corpus still prunes the
    query's own collection out of the scan; at 100 TB you'd compose it
    with the IVF cell join exactly like ``e1_embedding_neardup_ivf`` so
    only boundary-adjacent cells are scored. Reference context: the
    embedder's per-case vectors (vectorization/embedder.py:31-74) are the
    positives; this op manufactures the negatives a fine-tune needs."""
    scored = _label_scored(
        spark, sf_dir, F.col("label") != F.col("q_label")
    ).select(
        "query_id", "q_label", "vec_id", F.col("label").alias("neg_label"), "cosine"
    )
    return topk_per_key_window(scored, ["query_id"], _COSINE_DESC, 3, "rank")


def e2_index_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN index HEALTH report: per-cell occupancy of the 1-round IVF
    quantizer (the production monitoring query behind an ANN serving
    tier — a lopsided cell histogram means degraded recall/latency and
    triggers re-training the quantizer). Per cell: member count, share of
    corpus, and mean member→centroid cosine (cell coherence). Assignment
    is the same oracle-pinned argmax the search operators use; the only
    shuffle is the tiny groupBy(cell)."""
    emb = load_table(spark, sf_dir, "embeddings")
    _, cents = _ivf1_index(spark, sf_dir)
    corpus = _vectors(emb)
    cos6 = F.transform(_cell_cosines(cents, F.col("emb")), lambda c: F.round(c, 6))
    assigned = corpus.select(
        (F.array_position(cos6, F.array_max(cos6)) - 1).cast("int").alias("cell"),
        # 6-dp cosines ×10⁶ are exact integers: the per-cell sum is then
        # association-order-free, so the 4-dp mean can't flip at a
        # rounding boundary between engines (or between partition counts)
        F.round(F.array_max(cos6) * 1e6).cast("long").alias("cent_cos6"),
    )
    per_cell = assigned.groupBy("cell").agg(
        F.count(F.lit(1)).alias("n_members"),
        F.round(
            F.sum("cent_cos6") / (F.count(F.lit(1)) * F.lit(1e6)), 4
        ).alias("avg_cent_cosine"),
    )
    # share from a window over the k-row aggregate — no second corpus scan
    total = F.sum("n_members").over(Window.partitionBy())
    return per_cell.select(
        "cell",
        "n_members",
        F.round(F.col("n_members") / total, 4).alias("share"),
        "avg_cent_cosine",
    )


def e2_embedding_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding statistics (norm avg/min/max) — array math in
    aggregation, the sanity check over the vector column."""
    emb = load_table(spark, sf_dir, "embeddings")
    norm = _norm(_dbl(F.col("embedding")))
    return (
        emb.select("label", norm.alias("norm"))
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.round(F.avg("norm"), 4).alias("avg_norm"),
            F.round(F.min("norm"), 4).alias("min_norm"),
            F.round(F.max("norm"), 4).alias("max_norm"),
        )
    )


def _plane_coeff(i: int, j: int) -> float:
    """Deterministic pseudo-hyperplane component: an exact rational both
    engines evaluate to the identical double — ((997i+131j) mod 1009)/1009
    − ½ — so the sign test is oracle-exact (unlike sin(), whose last ulp
    differs across libm builds). Min |projection| on the synthetic corpus
    is ~1e-5, ten orders of magnitude above float-association error."""
    return ((997 * i + 131 * j) % 1009) / 1009.0 - 0.5


def e2_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane LSH sketch: 8 sign bits per vector from
    deterministic rational pseudo-hyperplanes, bucketed.

    Emits bucket occupancy + the per-bucket label entropy proxy (distinct
    labels), demonstrating the ANN scale path: neighbor candidates = same
    bucket ⇒ equi-join instead of cross join."""
    emb = load_table(spark, sf_dir, "embeddings")
    dim = 64

    def plane_bit(i: int):
        # one parsed SQL literal per plane (not dim F.lit py4j calls) —
        # same plan-build economics as _cent_literal
        coeffs = F.expr(
            "array("
            + ",".join(f"{float(_plane_coeff(i, j))!r}D" for j in range(dim))
            + ")"
        )
        proj = _dot(_dbl(F.col("embedding")), coeffs)
        return F.when(proj > 0, F.lit(1)).otherwise(F.lit(0))

    bucket = sum(
        (plane_bit(i) * F.lit(1 << i) for i in range(8)), F.lit(0)
    )
    return (
        emb.select("vec_id", "label", bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.count_distinct("label").alias("n_labels"),
        )
        .orderBy("bucket")
    )


def _cent_literal(cents: list[list[float]]):
    """Centroid set as a literal array<array<double>> column (index metadata
    — k×dim floats — lives driver-side exactly like a real IVF index's
    coarse quantizer; it is NOT a data-sized collect). Built as ONE SQL
    text parsed in the JVM rather than k×dim F.lit() py4j round-trips:
    the nested-F.array form cost ~660 ms of plan-build per 16×64 matrix
    and the IVF/PQ searches embed 2-3 matrices per build (measured round
    13 — construction, not execution, dominated the family). repr() is
    shortest-roundtrip and the D-suffix literal parses to the identical
    double bits (bit-equality asserted in tests)."""
    rows = ",".join(
        "array(" + ",".join(f"{float(v)!r}D" for v in c) + ")" for c in cents
    )
    return F.expr(f"array({rows})")


def _py_norm(vec: list[float]) -> float:
    """Driver-side replica of ``_norm``'s fold: left-to-right
    acc + x*x over IEEE doubles, then a correctly-rounded sqrt — Python
    float ops and Java double ops are the same IEEE-754 operations, so
    the value is bit-identical to evaluating the Spark expression on the
    same literals (pinned by tests/test_similarity.py)."""
    import math

    acc = 0.0
    for x in vec:
        acc = acc + float(x) * float(x)
    return math.sqrt(acc)


def _cell_cosines(cents: list[list[float]], emb_col, vec_norm=None):
    """Per-cell cosines of ``emb_col`` against the centroid matrix.

    Round-13 shape: the centroid norms are constants of the index, so
    they are computed ONCE driver-side (bit-identical fold, see
    ``_py_norm``) and embedded as a k-element literal instead of being
    re-folded per row per cell (HOF lambdas evaluate interpreted, with
    no common-subexpression elimination — the norm folds were 2/3 of the
    assignment stage's per-row work). Callers that already project the
    row's norm pass it as ``vec_norm`` to hoist the third fold too; the
    division keeps the exact original operand order
    dot / (cnorm * vnorm), so every cosine is bit-identical to the
    unhoisted form."""
    cent_arr = _cent_literal(cents)
    cn_arr = F.expr(
        "array(" + ",".join(f"{_py_norm(c)!r}D" for c in cents) + ")"
    )
    vnorm = _norm(emb_col) if vec_norm is None else vec_norm
    return F.transform(
        cent_arr,
        lambda c, i: _dot(c, emb_col)
        / (F.element_at(cn_arr, i + 1) * vnorm),
    )


# Query-vector metadata cache for the vectorized variants: re-planning the
# same query re-collects a handful of 64-d vectors otherwise (one extra
# Spark job per plan build). Keyed by session identity + sf_dir, like the
# loader's plan cache. Unlike the IVF quantizer (persisted via
# publish_ivf_index — INDEX state must survive sessions), these are the
# per-request SEARCH INPUTS: a fixed 5-vector query set that in production
# arrives with the request, so a session-scoped memo is the right home.
_QVEC_CACHE: dict[tuple[str, str, str], object] = {}


def _query_vectors(spark: SparkSession, sf_dir: str, upper: int):
    key = (_session_key(spark), sf_dir, f"lt{upper}")
    if key not in _QVEC_CACHE:
        emb = load_table(spark, sf_dir, "embeddings")
        _QVEC_CACHE[key] = (
            emb.filter(F.col("vec_id") < upper)
            .select("vec_id", "embedding")
            .orderBy("vec_id")
            .collect()
        )
    return _QVEC_CACHE[key]


# Kernel routing for the cosine operators — the same cost-based physical-
# operator pick a planner makes from size stats. An Arrow/pandas stage
# carries a fixed ~150 ms floor (worker handshake + Arrow transfer) that
# only amortizes when the per-batch matmul is big: wide vectors (real
# embedders are 1536-3072-d) or a corpus past tens of MB. Below BOTH
# thresholds the whole-stage-codegen HOF plan wins — identical results
# (the variants share one oracle), different physical kernel.
_ARROW_MIN_DIM = 256
_ARROW_MIN_BYTES = 64 << 20


def _use_arrow_kernel(spark: SparkSession, sf_dir: str) -> bool:
    import os

    path = os.path.join(sf_dir, "embeddings.parquet")
    try:
        if _data_size(path) >= _ARROW_MIN_BYTES:
            return True
    except OSError:  # non-local layout: assume big, take the Arrow path
        return True
    dim = len(_query_vectors(spark, sf_dir, 1)[0]["embedding"])
    return dim >= _ARROW_MIN_DIM


# The exact cosine operators' only bodies: codegen HOF query text built
# in ONE spark.sql parse instead of ~30 py4j expression hops (plan
# construction ~100 ms → ~15 ms, which dominates sub-100 ms executions).
# The _vectorized names route to these same bodies below their Arrow
# thresholds (same float op order, so row-identical results).
_DOT_SQL = (
    "aggregate(zip_with({a}, {b}, (x, y) -> x * y), "
    "CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
)

_COSINE_TOPK_SQL = f"""
    WITH q0 AS (
        SELECT transform(embedding, x -> CAST(x AS DOUBLE)) AS q_emb
        FROM {{emb}} WHERE vec_id = 0
    ), q AS (
        SELECT q_emb, sqrt({_DOT_SQL.format(a="q_emb", b="q_emb")}) AS q_norm
        FROM q0
    ), c0 AS (
        SELECT vec_id, label,
               transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
        FROM {{emb}} WHERE vec_id > 0
    ), c AS (
        SELECT vec_id, label, emb,
               sqrt({_DOT_SQL.format(a="emb", b="emb")}) AS nrm
        FROM c0
    )
    SELECT /*+ BROADCAST(q) */ vec_id, label,
           round({_DOT_SQL.format(a="emb", b="q_emb")} / (nrm * q_norm), 4)
               AS cosine
    FROM c CROSS JOIN q
    ORDER BY cosine DESC, vec_id ASC
    LIMIT 10
"""

_KNN_SQL = f"""
    WITH q0 AS (
        SELECT vec_id AS query_id,
               transform(embedding, x -> CAST(x AS DOUBLE)) AS q_emb
        FROM {{emb}} WHERE vec_id < 5
    ), q AS (
        SELECT query_id, q_emb,
               sqrt({_DOT_SQL.format(a="q_emb", b="q_emb")}) AS q_norm
        FROM q0
    ), c0 AS (
        SELECT vec_id, transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
        FROM {{emb}}
    ), c AS (
        SELECT vec_id, emb, sqrt({_DOT_SQL.format(a="emb", b="emb")}) AS nrm
        FROM c0
    ), scored AS (
        SELECT /*+ BROADCAST(q) */ query_id, vec_id,
               round({_DOT_SQL.format(a="emb", b="q_emb")} / (nrm * q_norm), 4)
                   AS cosine
        FROM c JOIN q ON vec_id <> query_id
    )
    SELECT query_id, vec_id, cosine, rank FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY cosine DESC, vec_id ASC) AS rank
        FROM scored
    ) WHERE rank <= 3
"""


def _serve_sql(spark: SparkSession, sf_dir: str, template: str) -> DataFrame:
    from ..sources.tables import scoped_views

    return spark.sql(template.format(emb=scoped_views(spark, sf_dir)["embeddings"]))


def e2_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 cosine neighbors of vec_id=0 over the whole corpus.

    The single query vector is a 1-row broadcast; the corpus side is one
    narrow scan with norms computed once per row — at 100 TB this is the
    shape you want: no shuffle, the top-k collapses via
    TakeOrderedAndProject."""
    return _serve_sql(spark, sf_dir, _COSINE_TOPK_SQL)


def e2_knn_per_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-NN for each of the first 5 vectors against the rest of the corpus:
    broadcast the query set, rank with a per-query window over the rounded
    cosine (deterministic ties via vec_id)."""
    return _serve_sql(spark, sf_dir, _KNN_SQL)


def e2_cosine_topk_vectorized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-vectorized variant of e2_cosine_topk: the query vector is
    driver-side index metadata (one 64-d float row, like IVF's
    centroids) and the corpus-side cosine is one numpy matrix-vector
    product per Arrow batch. Same result as the HOF form; the per-batch
    SIMD matmul beats the per-element HOF interpreter once vectors are
    wide (real 3072-d embedder.py:62-66-style vectors: ~50×) or the
    corpus is large — below those thresholds the Python stage's fixed
    floor dominates, so _use_arrow_kernel routes the small/narrow case
    to the codegen HOF plan instead (same rows either way)."""
    if not _use_arrow_kernel(spark, sf_dir):
        return e2_cosine_topk(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    q = _query_vectors(spark, sf_dir, 1)[0]["embedding"]
    qv = np.array(q, dtype=np.float64)
    qn = float(np.sqrt((qv * qv).sum()))

    @pandas_udf("double")
    def cos_q(col: pd.Series) -> pd.Series:
        m = np.array(col.tolist(), dtype=np.float64)
        return pd.Series((m @ qv) / (np.sqrt((m * m).sum(axis=1)) * qn))

    return (
        emb.filter(F.col("vec_id") > 0)
        .select("vec_id", "label", F.round(cos_q(F.col("embedding")), 4).alias("cosine"))
        .orderBy(F.desc("cosine"), F.asc("vec_id"))
        .limit(10)
    )


def e2_knn_per_query_vectorized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-vectorized variant of e2_knn_per_query: the 5-vector query
    set is collected as index metadata, each corpus Arrow batch scores
    against ALL queries in one (batch × dim) @ (dim × 5) matmul via
    mapInPandas (long-form output), then the per-query window ranks as
    before. One corpus scan, no crossJoin row blowup before the UDF.
    Routed like e2_cosine_topk_vectorized: small/narrow corpora serve
    the codegen HOF plan (identical rows), wide/large take this kernel."""
    if not _use_arrow_kernel(spark, sf_dir):
        return e2_knn_per_query(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    qrows = _query_vectors(spark, sf_dir, N_QUERIES)
    q_ids = np.array([r["vec_id"] for r in qrows])
    qm = np.array([r["embedding"] for r in qrows], dtype=np.float64)  # (5, d)
    qn = np.sqrt((qm * qm).sum(axis=1))  # (5,)

    def score(batches):
        # Per-batch partial top-k: the global top-3 per query is the
        # top-3 of each batch's top-3, so only ≤ 3×|queries| rows per
        # Arrow batch cross back to the JVM (instead of n×|queries|) and
        # the ranking window runs over a candidate set of index-metadata
        # size. Selection uses the FINAL ordering key — (round-4 cosine
        # desc, vec_id asc) — so batch-local pruning can never flip a
        # rounding tie at the global boundary.
        for pdf in batches:
            m = np.array(pdf["embedding"].tolist(), dtype=np.float64)  # (n, d)
            nrm = np.sqrt((m * m).sum(axis=1))  # (n,)
            cos = _round_half_up((m @ qm.T) / np.outer(nrm, qn), 4)  # (n, 5)
            vec_ids = pdf["vec_id"].to_numpy()
            out_q, out_v, out_c = [], [], []
            for j, qid in enumerate(q_ids):
                valid = vec_ids != qid
                vv, cc = vec_ids[valid], cos[valid, j]
                top = np.lexsort((vv, -cc))[:3]
                out_q.append(np.full(len(top), qid))
                out_v.append(vv[top])
                out_c.append(cc[top])
            yield pd.DataFrame(
                {
                    "query_id": np.concatenate(out_q),
                    "vec_id": np.concatenate(out_v),
                    "cosine": np.concatenate(out_c),
                }
            )

    scored = emb.select("vec_id", "embedding").mapInPandas(
        score, "query_id long, vec_id long, cosine double"
    )
    return topk_per_key_window(scored, ["query_id"], _COSINE_DESC, 3, "rank")


_IVF1_K, _IVF1_NPROBE = 16, 4


def _lloyd_round(corpus: DataFrame, cents_in: list[list[float]]) -> list[list[float]]:
    """One Lloyd round as plain relational algebra: assign every vector to
    its nearest centroid by cosine — rounded to 6dp before the argmax so a
    last-ulp float-association difference can never flip a cell assignment
    between engines; ties break to the lowest cell id (array_position
    returns the FIRST maximal index — the same order the oracle's
    row_number(ORDER BY cos DESC, cell ASC) produces) — then recompute
    centroids as per-cell per-dimension means, rounded to 6dp. Empty cells
    keep their (rounded) input centroid. Only the k×dim centroid matrix
    reaches the driver — index metadata, not a data-sized collect."""
    cos6 = F.transform(
        _cell_cosines(cents_in, F.col("emb")), lambda c: F.round(c, 6)
    )
    cells = corpus.select(
        "emb",
        (F.array_position(cos6, F.array_max(cos6)) - 1).cast("int").alias("cell"),
    )
    cent_rows = (
        cells.select("cell", F.posexplode("emb").alias("pos", "val"))
        .groupBy("cell", "pos")
        .agg(F.avg("val").alias("v"))
        .groupBy("cell")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "v"))).alias("pv"))
        .select("cell", F.transform("pv", lambda s: F.round(s["v"], 6)).alias("c"))
        .collect()
    )
    by_cell = {r["cell"]: list(r["c"]) for r in cent_rows}
    return [
        by_cell.get(i, [round(v, 6) for v in cents_in[i]]) for i in range(_IVF1_K)
    ]


def _index_store_dir(sf_dir: str) -> str:
    """Default on-disk home for a corpus' ANN index store — the shared
    (path, mtime, size, layout-version) fingerprint rule
    (``sources/stores.fingerprint_store_dir``), so a regenerated dataset
    at the same path gets a fresh store. In production this is a fixed
    lake path per corpus, not a tempdir."""
    from ..sources.stores import fingerprint_store_dir

    return fingerprint_store_dir(
        sf_dir, "embeddings.parquet", "caseguard_annindex", layout_version=3
    )


def publish_ivf_index(
    spark: SparkSession, sf_dir: str, base_dir: str | None = None
) -> tuple[str, int]:
    """Build the IVF coarse quantizer (seeds + one and two exact Lloyd
    rounds) and PUBLISH it as the next version of a lake-table store
    (``sources/versioned.write_version``, one manifest commit): rows of
    (kind, cell, vec) with kind ∈ {seed, round1, round2}. This is how an
    ANN index survives across jobs and sessions — searches read the
    committed version (time-travel and compaction come free from the
    store), and rebuilding
    after a corpus refresh is just publishing the next version; readers
    mid-search keep their pinned files. Returns (base_dir, version id).
    Mirrors the reference's external vector index
    (etl/flows/process_case.py:292-318, Pinecone upsert) with the index
    as a first-class lake table instead of a service."""
    from ..sources.versioned import write_version

    emb = load_table(spark, sf_dir, "embeddings")
    seeds = [
        list(r["e"])
        for r in emb.filter(F.col("vec_id") < _IVF1_K)
        .orderBy("vec_id")
        .select(_dbl(F.col("embedding")).alias("e"))
        .collect()
    ]
    corpus = _vectors(emb)
    cents1 = _lloyd_round(corpus, seeds)
    cents2 = _lloyd_round(corpus, cents1)
    rows = (
        [("seed", i, v) for i, v in enumerate(seeds)]
        + [("round1", i, v) for i, v in enumerate(cents1)]
        + [("round2", i, v) for i, v in enumerate(cents2)]
    )
    df = spark.createDataFrame(rows, "kind string, cell int, vec array<double>")
    base = base_dir or _index_store_dir(sf_dir)
    return base, write_version(df.coalesce(1), base)


# The snapshot memo lives at store level (sources/stores.memo_snapshot):
# version-store plumbing shared by every persisted-index reader, not a
# similarity-specific cache. Re-exported here for its existing callers.
from ..sources.stores import memo_snapshot as _memo_snapshot  # noqa: E402


def _load_ivf_index(
    spark: SparkSession, sf_dir: str
) -> dict[str, list[list[float]]]:
    """Read-through load of the persisted quantizer: publish the first
    snapshot if the store is empty, then read the LATEST version and
    return {kind: [k centroid vectors]}. The collect is k×dim×3 doubles —
    index metadata, never data-sized. The snapshot on disk is the source
    of truth (parquet round-trips doubles bit-exactly, so the 6dp-rounded
    quantizer the oracle recomputes in SQL matches the persisted one);
    the version-keyed memo only spares the per-plan-build re-read."""
    from ..sources.versioned import has_version, read_version

    base = _index_store_dir(sf_dir)
    if not has_version(base):
        publish_ivf_index(spark, sf_dir, base)

    def _load(v: int) -> dict[str, list[list[float]]]:
        out: dict[str, dict[int, list[float]]] = {}
        for r in read_version(spark, base, v).collect():
            out.setdefault(r["kind"], {})[r["cell"]] = list(r["vec"])
        return {
            kind: [cells[i] for i in range(len(cells))]
            for kind, cells in out.items()
        }

    return _memo_snapshot(spark, base, _load)


def _ivf1_index(
    spark: SparkSession, sf_dir: str
) -> tuple[list[list[float]], list[list[float]]]:
    """(seeds, one-round centroids) from the persisted versioned index
    snapshot — k×dim metadata read per plan build, no session state."""
    idx = _load_ivf_index(spark, sf_dir)
    return idx["seed"], idx["round1"]


def _ivf2_index(
    spark: SparkSession, sf_dir: str
) -> tuple[list[list[float]], list[list[float]]]:
    """(round-1, round-2 centroids) from the persisted snapshot. Round-2
    input centroids are 6dp-rounded before publishing, so both engines
    quantize from bit-identical vectors."""
    idx = _load_ivf_index(spark, sf_dir)
    return idx["round1"], idx["round2"]


def e2_ivf_search_1round(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-checkable IVF ANN: the quantizer is pinned to exactly ONE
    Lloyd round seeded by the first k=16 vectors, which makes the whole
    pipeline — assignment, centroid means, multi-probe search — plain
    relational algebra with an exact DuckDB oracle. Assignment cosines
    and centroid components are rounded to 6dp in BOTH engines so
    cross-engine float association can't flip an argmax. Search: each
    query probes its nprobe=4 nearest of k=16 cells — candidates come
    from an equi-join on cell id (~nprobe/k of the corpus, not a full
    scan); at 100 TB `cell` persists as a partition column and the probe
    join becomes partition pruning. Mirrors the reference's Pinecone
    serving path (etl/flows/process_case.py:292-318) with the index
    in-engine."""
    emb = load_table(spark, sf_dir, "embeddings")
    seeds, centroids = _ivf1_index(spark, sf_dir)
    return _ivf_probe_search(
        emb, seeds, centroids, use_arrow=_use_arrow_kernel(spark, sf_dir)
    )


def _coarse_cells(
    corpus: DataFrame, cents: list[list[float]], *, keep_emb: bool = False
) -> DataFrame:
    """(vec_id[, emb], cell): nearest-cell assignment of every corpus
    vector by 6dp-rounded cosine argmax, ties to the LOWEST cell id
    (array_position returns the first maximal index — the order the
    oracle's row_number(ORDER BY cos6 DESC, cell ASC) produces). The ONE
    definition of the coarse stage, shared by the IVF searches here and
    every PQ variant (pq.py) — a tie-break or rounding change in a single
    copy would silently desynchronize them from IVF1_CENTS_SQL. The row
    norm is projected once and passed into the cosine transform (16
    interpreted folds per row → 1; values bit-identical)."""
    with_n = corpus.select(
        "vec_id",
        *(["emb"] if keep_emb else []),
        F.col("emb").alias("_e"),
        _norm(F.col("emb")).alias("_n"),
    )
    cos6 = F.transform(
        _cell_cosines(cents, F.col("_e"), vec_norm=F.col("_n")),
        lambda c: F.round(c, 6),
    )
    cell = (F.array_position(cos6, F.array_max(cos6)) - 1).cast("int").alias("cell")
    return with_n.select("vec_id", *(["emb"] if keep_emb else []), cell)


def _nearest_cells_arr(
    vec_col: Column, cents: list[list[float]], n: int, vec_norm=None
) -> Column:
    """array of the ``n`` nearest cells of ``cents`` to ``vec_col`` by
    6dp-rounded cosine, ties to the LOWER cell id (sorting (cos, -idx)
    structs keeps the order identical in both engines). The one
    definition of ranked cell selection — query probe lists here and in
    pq.py, and the top-2 multi-assignment in dedup's IVF router.
    ``vec_norm``: optional pre-projected row norm (see _cell_cosines)."""
    cos6 = F.transform(
        _cell_cosines(cents, vec_col, vec_norm=vec_norm), lambda c: F.round(c, 6)
    )
    cos_idx = F.transform(
        cos6, lambda c, i: F.struct(c.alias("cos"), (-i).alias("neg_idx"))
    )
    return F.transform(
        F.slice(F.reverse(F.array_sort(cos_idx)), 1, n), lambda s: -s["neg_idx"]
    )


def _probe_list(
    queries: DataFrame, probe_cents: list[list[float]], nprobe: int
) -> DataFrame:
    """queries(query_id, q_emb) → (query_id, q_emb, probe_cell): each
    query's ``nprobe`` nearest of ``probe_cents``. Shared probe-selection
    stage of the multi-probe searches here and in pq.py. The query norm
    is projected once and passed through (see _cell_cosines)."""
    with_n = queries.select(
        "query_id", "q_emb", _norm(F.col("q_emb")).alias("_qn")
    )
    probes_arr = _nearest_cells_arr(
        F.col("q_emb"), probe_cents, nprobe, vec_norm=F.col("_qn")
    )
    return with_n.select(
        "query_id", "q_emb", F.explode(probes_arr).alias("probe_cell")
    ).withColumn("probe_cell", F.col("probe_cell").cast("int"))


def _ivf_candidates_arrow(
    emb: DataFrame,
    assign_cents: list[list[float]],
    probe_cents: list[list[float]],
) -> DataFrame:
    """Arrow-vectorized twin of ``_ivf_candidates`` — row-identical
    output (same 6dp HALF_UP rounding before the assignment argmax, same
    first-max/lowest-cell tie-breaks, same 4dp candidate cosine; pinned
    by tests/test_similarity.py), built for the data-dominated regime the
    HOF plan cannot reach: higher-order-function lambdas evaluate
    INTERPRETED per element, so k=16 cell cosines over 64-d vectors cost
    ~3k closure calls per row (~4k vectors/s measured at 2M vectors).
    Here each Arrow batch does assignment as one (batch × dim) @ (dim ×
    k) matmul, probes as a precomputed per-query cell-set mask (the probe
    lists are k-sized driver metadata, same as the centroids), and the
    exact-cosine verify as one (batch × dim) @ (dim × |queries|) matmul —
    fused into a single corpus scan with no join at all. The cell column
    still comes out, so at rest the 100 TB layout (cell as a partition
    column, probe join as partition pruning) is unchanged; this kernel is
    the scan-side scorer."""
    A = np.asarray(assign_cents, dtype=np.float64)  # (k, d)
    An = np.sqrt((A * A).sum(axis=1))
    P = np.asarray(probe_cents, dtype=np.float64)
    Pn = np.sqrt((P * P).sum(axis=1))
    out_schema = "query_id long, vec_id long, cell int, cosine double"
    # N_QUERIES×dim query metadata, the _query_vectors posture
    qrows = _query_set(_vectors(emb)).orderBy("query_id").collect()
    if not qrows:  # no query vectors: same empty result as the HOF route
        return emb.sparkSession.createDataFrame([], out_schema)
    q_ids = np.array([r["query_id"] for r in qrows])
    Q = np.array([r["q_emb"] for r in qrows], dtype=np.float64)
    Qn = np.sqrt((Q * Q).sum(axis=1))
    qcos6 = _round_half_up((Q @ P.T) / np.outer(Qn, Pn), 6)
    probe_sets = [
        np.lexsort((np.arange(qcos6.shape[1]), -qcos6[j]))[:_IVF1_NPROBE]
        for j in range(len(q_ids))
    ]  # nprobe nearest cells per query, ties to the lower cell id

    def gen(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            E = np.array(pdf["embedding"].tolist(), dtype=np.float64)
            En = np.sqrt((E * E).sum(axis=1))
            cell = np.argmax(
                _round_half_up((E @ A.T) / np.outer(En, An), 6), axis=1
            )
            cosq = _round_half_up((E @ Q.T) / np.outer(En, Qn), 4)
            vec_ids = pdf["vec_id"].to_numpy()
            qs, vs, cs, cc = [], [], [], []
            for j, qid in enumerate(q_ids):
                mask = np.isin(cell, probe_sets[j]) & (vec_ids != qid)
                qs.append(np.full(int(mask.sum()), qid))
                vs.append(vec_ids[mask])
                cs.append(cell[mask].astype("int32"))
                cc.append(cosq[mask, j])
            yield pd.DataFrame(
                {
                    "query_id": np.concatenate(qs),
                    "vec_id": np.concatenate(vs),
                    "cell": np.concatenate(cs),
                    "cosine": np.concatenate(cc),
                }
            )

    return emb.select("vec_id", "embedding").mapInPandas(gen, out_schema)


def _ivf_candidates(
    emb: DataFrame,
    assign_cents: list[list[float]],
    probe_cents: list[list[float]],
    *,
    use_arrow: bool = False,
) -> DataFrame:
    """Scored multi-probe IVF candidates (query_id, vec_id, cell,
    cosine): corpus vectors assigned to cells by ``assign_cents``,
    queries probe their nprobe=4 nearest of ``probe_cents``; candidates
    ride an equi-join on cell id (~nprobe/k of the corpus, not a full
    scan). Shared by the top-k search (rank filter) and the range search
    (threshold filter). At 100 TB `cell` persists as a partition column
    and the probe join becomes partition pruning. ``use_arrow`` routes to
    the row-identical matmul kernel (``_ivf_candidates_arrow``) — the
    cost-based pick the cosine operators already make: HOF codegen wins
    at bench scale, the Arrow kernel wins ~250× once data dominates."""
    if use_arrow:
        return _ivf_candidates_arrow(emb, assign_cents, probe_cents)
    cells = _coarse_cells(_vectors(emb), assign_cents, keep_emb=True).withColumn(
        "nrm", _norm(F.col("emb"))
    )
    # the query side casts its own copy (a second lambda): sharing the
    # corpus column would renumber every later lambda in the plan
    queries = _probe_list(
        _query_set(_vectors(emb)), probe_cents, _IVF1_NPROBE
    ).withColumn("q_norm", _norm(F.col("q_emb")))

    # per-vector norms hoisted out of the per-candidate fold (round 13 —
    # same operand order, bit-identical cosine)
    cos = _dot(F.col("emb"), F.col("q_emb")) / (
        F.col("nrm") * F.col("q_norm")
    )
    return cells.join(
        F.broadcast(queries),
        (cells.cell == queries.probe_cell) & (cells.vec_id != queries.query_id),
    ).select(
        "query_id",
        "vec_id",
        F.col("cell").cast("int").alias("cell"),
        F.round(cos, 4).alias("cosine"),
    )


def _ivf_probe_search(
    emb: DataFrame,
    assign_cents: list[list[float]],
    probe_cents: list[list[float]],
    *,
    use_arrow: bool = False,
) -> DataFrame:
    """Top-3-per-query form of the multi-probe IVF search."""
    return topk_per_key_window(
        _ivf_candidates(emb, assign_cents, probe_cents, use_arrow=use_arrow),
        ["query_id"],
        _COSINE_DESC,
        3,
        "rank",
    )


RANGE_TAU = 0.25


def e2_ivf_range_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE search (FAISS ``range_search``): per query, ALL neighbors
    with cosine ≥ RANGE_TAU rather than a fixed top-k — the radius form a
    dedup/link job wants ("everything closer than τ"), where k-NN either
    truncates dense neighborhoods or pads sparse ones. Same persisted
    1-round quantizer and multi-probe candidate join as
    ``e2_ivf_search_1round`` (probed-cells semantics, mirrored exactly by
    the oracle), with the threshold replacing the rank window: no sort at
    all — candidates stream through a filter, so the plan is one
    equi-join + filter and the result size is data-driven. At 100 TB
    `cell` is a partition column and the probe join is partition
    pruning."""
    emb = load_table(spark, sf_dir, "embeddings")
    seeds, centroids = _ivf1_index(spark, sf_dir)
    return _ivf_candidates(
        emb, seeds, centroids, use_arrow=_use_arrow_kernel(spark, sf_dir)
    ).filter(F.col("cosine") >= RANGE_TAU)


def e2_ivf_search_2round(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-checkable IVF ANN with a TWO-round Lloyd quantizer. Both
    rounds are plain relational algebra (6dp-rounded cosines before every
    argmax, 6dp-rounded centroid means), so DuckDB reproduces the
    quantizer bit-for-bit and the whole search has an exact hash oracle.
    Corpus vectors are assigned by the round-1 centroids (the assignment
    that produced the round-2 means); queries probe their nprobe=4
    nearest round-2 centroids. Mirrors the reference's Pinecone serving
    path (etl/flows/process_case.py:292-318) with the index in-engine."""
    emb = load_table(spark, sf_dir, "embeddings")
    cents1, cents2 = _ivf2_index(spark, sf_dir)
    return _ivf_probe_search(
        emb, cents1, cents2, use_arrow=_use_arrow_kernel(spark, sf_dir)
    )


QUERIES = {
    "e2_cosine_topk": e2_cosine_topk,
    "e2_knn_per_query": e2_knn_per_query,
    "e2_cosine_topk_vectorized": e2_cosine_topk_vectorized,
    "e2_knn_per_query_vectorized": e2_knn_per_query_vectorized,
    "e2_filtered_search": e2_filtered_search,
    "e2_hard_negatives": e2_hard_negatives,
    "e2_index_stats": e2_index_stats,
    "e2_embedding_norms": e2_embedding_norms,
    "e2_lsh_buckets": e2_lsh_buckets,
    "e2_ivf_search_1round": e2_ivf_search_1round,
    "e2_ivf_search_2round": e2_ivf_search_2round,
    "e2_ivf_range_search": e2_ivf_range_search,
}

_DOT = "list_dot_product(list_transform({a}, x -> CAST(x AS DOUBLE)), list_transform({b}, y -> CAST(y AS DOUBLE)))"

ORACLES = {
    "e2_cosine_topk": f"""
        WITH q AS (SELECT embedding AS q_emb FROM embeddings WHERE vec_id = 0)
        SELECT vec_id, label,
               round({_DOT.format(a='embedding', b='q_emb')}
                     / (sqrt({_DOT.format(a='embedding', b='embedding')})
                        * sqrt({_DOT.format(a='q_emb', b='q_emb')})), 4) AS cosine
        FROM embeddings, q
        WHERE vec_id > 0
        ORDER BY cosine DESC, vec_id ASC
        LIMIT 10
    """,
    "e2_knn_per_query": f"""
        WITH queries AS (
            SELECT vec_id AS query_id, embedding AS q_emb
            FROM embeddings WHERE vec_id < 5
        ), scored AS (
            SELECT query_id, e.vec_id,
                   round({_DOT.format(a='e.embedding', b='q_emb')}
                         / (sqrt({_DOT.format(a='e.embedding', b='e.embedding')})
                            * sqrt({_DOT.format(a='q_emb', b='q_emb')})), 4) AS cosine
            FROM embeddings e JOIN queries ON e.vec_id <> query_id
        )
        SELECT query_id, vec_id, cosine,
               CAST(row_number() OVER (PARTITION BY query_id
                                       ORDER BY cosine DESC, vec_id ASC) AS INT) AS rank
        FROM scored
        QUALIFY rank <= 3
    """,
    "e2_filtered_search": f"""
        WITH queries AS (
            SELECT vec_id AS query_id, label AS q_label, embedding AS q_emb
            FROM embeddings WHERE vec_id < 5
        ), scored AS (
            SELECT query_id, q_label, e.vec_id,
                   round({_DOT.format(a='e.embedding', b='q_emb')}
                         / (sqrt({_DOT.format(a='e.embedding', b='e.embedding')})
                            * sqrt({_DOT.format(a='q_emb', b='q_emb')})), 4) AS cosine
            FROM embeddings e
            JOIN queries ON e.label = q_label AND e.vec_id <> query_id
        )
        SELECT query_id, q_label, vec_id, cosine,
               CAST(row_number() OVER (PARTITION BY query_id
                                       ORDER BY cosine DESC, vec_id ASC) AS INT) AS rank
        FROM scored
        QUALIFY rank <= 3
    """,
    "e2_hard_negatives": f"""
        WITH queries AS (
            SELECT vec_id AS query_id, label AS q_label, embedding AS q_emb
            FROM embeddings WHERE vec_id < 5
        ), scored AS (
            SELECT query_id, q_label, e.vec_id, e.label AS neg_label,
                   round({_DOT.format(a='e.embedding', b='q_emb')}
                         / (sqrt({_DOT.format(a='e.embedding', b='e.embedding')})
                            * sqrt({_DOT.format(a='q_emb', b='q_emb')})), 4) AS cosine
            FROM embeddings e
            JOIN queries ON e.label <> q_label
        )
        SELECT query_id, q_label, vec_id, neg_label, cosine,
               CAST(row_number() OVER (PARTITION BY query_id
                                       ORDER BY cosine DESC, vec_id ASC) AS INT) AS rank
        FROM scored
        QUALIFY rank <= 3
    """,
    "e2_embedding_norms": f"""
        WITH n AS (
            SELECT label,
                   sqrt({_DOT.format(a='embedding', b='embedding')}) AS norm
            FROM embeddings
        )
        SELECT label, count(*) AS n_vectors,
               round(avg(norm), 4) AS avg_norm,
               round(min(norm), 4) AS min_norm,
               round(max(norm), 4) AS max_norm
        FROM n GROUP BY label
    """,
    "e2_lsh_buckets": """
        WITH e AS (
            SELECT vec_id, label,
                   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
            FROM embeddings
        ), planes AS (
            SELECT i,
                   list_transform(generate_series(0, 63),
                                  j -> ((997*i + 131*j) % 1009) / 1009.0 - 0.5)
                       AS coeffs
            FROM generate_series(0, 7) t(i)
        ), bits AS (
            SELECT vec_id, label,
                   CAST(sum(CASE WHEN list_dot_product(emb, coeffs) > 0
                                 THEN 1 << i ELSE 0 END) AS INT) AS bucket
            FROM e, planes GROUP BY vec_id, label
        )
        SELECT bucket, count(*) AS n_vectors,
               count(DISTINCT label) AS n_labels
        FROM bits GROUP BY bucket ORDER BY bucket
    """,
}

# the vectorized variants compute the same results as the HOF forms,
# so they share the same oracles
ORACLES["e2_cosine_topk_vectorized"] = ORACLES["e2_cosine_topk"]
ORACLES["e2_knn_per_query_vectorized"] = ORACLES["e2_knn_per_query"]

# Shared 1-round-quantizer CTE chain (seed assignment → per-dimension
# centroid means, empty cells keeping their rounded seed): reused verbatim
# by the e2 search oracle below AND the e1_embedding_neardup_ivf oracle
# (operators/dedup.py), so both cross-engine checks pin the SAME quantizer.
IVF1_CENTS_SQL = """
    WITH corpus AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
        FROM embeddings
    ), seeds AS (
        SELECT vec_id AS cell, emb AS s_emb FROM corpus WHERE vec_id < 16
    ), seed_scored AS (
        SELECT c.vec_id, c.emb, s.cell,
               round(list_dot_product(c.emb, s.s_emb)
                     / (sqrt(list_dot_product(c.emb, c.emb))
                        * sqrt(list_dot_product(s.s_emb, s.s_emb))), 6) AS cos6
        FROM corpus c CROSS JOIN seeds s
    ), assigned AS (
        SELECT vec_id, emb, cell
        FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
                                           ORDER BY cos6 DESC, cell ASC) AS rn
              FROM seed_scored)
        WHERE rn = 1
    ), cent_dims AS (
        SELECT a.cell, j.j, round(avg(a.emb[j.j]), 6) AS v
        FROM assigned a CROSS JOIN (SELECT unnest(range(1, 65)) AS j) j
        GROUP BY a.cell, j.j
    ), cents0 AS (
        SELECT cell, list(v ORDER BY j) AS c_emb FROM cent_dims GROUP BY cell
    ), cents AS (
        SELECT cell, c_emb FROM cents0
        UNION ALL
        SELECT s.cell, list_transform(s.s_emb, v -> round(v, 6))
        FROM seeds s WHERE s.cell NOT IN (SELECT cell FROM cents0)
    )"""

# The one-Lloyd-round IVF is plain relational algebra end-to-end:
# seed-assignment (argmax as row_number over rounded cosines), centroid
# means (per-dimension avg over a generated index), multi-probe ranking,
# and the final candidate top-k. Empty seed cells keep their (rounded)
# seed vector, mirroring the Spark fallback.
# index health: top-1 centroid assignment (same rounded argmax, ties to
# lowest cell), per-cell occupancy + coherence; share from the k-row agg
ORACLES["e2_index_stats"] = IVF1_CENTS_SQL + """
    , cent_scored AS (
        SELECT c.vec_id, ct.cell,
               round(list_dot_product(c.emb, ct.c_emb)
                     / (sqrt(list_dot_product(c.emb, c.emb))
                        * sqrt(list_dot_product(ct.c_emb, ct.c_emb))), 6) AS cos6
        FROM corpus c CROSS JOIN cents ct
    ), routed AS (
        SELECT vec_id, cell, cos6
        FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
                                           ORDER BY cos6 DESC, cell ASC) AS rn
              FROM cent_scored)
        WHERE rn = 1
    ), per_cell AS (
        SELECT cell, count(*) AS n_members,
               round(sum(CAST(round(cos6 * 1000000, 0) AS BIGINT))
                     / (count(*) * 1000000.0), 4) AS avg_cent_cosine
        FROM routed GROUP BY cell
    )
    SELECT cell, n_members,
           round(CAST(n_members AS DOUBLE) / sum(n_members) OVER (), 4) AS share,
           avg_cent_cosine
    FROM per_cell
"""

# Second exact Lloyd round: re-assign by the (6dp-rounded) round-1
# centroids, recompute per-dimension means, empty cells keep their round-1
# centroid — the same algebra Spark's _lloyd_round executes.
IVF2_CENTS_SQL = IVF1_CENTS_SQL + """
    , cent_scored2 AS (
        SELECT c.vec_id, c.emb, ct.cell,
               round(list_dot_product(c.emb, ct.c_emb)
                     / (sqrt(list_dot_product(c.emb, c.emb))
                        * sqrt(list_dot_product(ct.c_emb, ct.c_emb))), 6) AS cos6
        FROM corpus c CROSS JOIN cents ct
    ), assigned2 AS (
        SELECT vec_id, emb, cell
        FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
                                           ORDER BY cos6 DESC, cell ASC) AS rn
              FROM cent_scored2)
        WHERE rn = 1
    ), cent_dims2 AS (
        SELECT a.cell, j.j, round(avg(a.emb[j.j]), 6) AS v
        FROM assigned2 a CROSS JOIN (SELECT unnest(range(1, 65)) AS j) j
        GROUP BY a.cell, j.j
    ), cents0_2 AS (
        SELECT cell, list(v ORDER BY j) AS c_emb FROM cent_dims2 GROUP BY cell
    ), cents2 AS (
        SELECT cell, c_emb FROM cents0_2
        UNION ALL
        SELECT c.cell, c.c_emb FROM cents c
        WHERE c.cell NOT IN (SELECT cell FROM cents0_2)
    )"""

ORACLES["e2_ivf_search_2round"] = IVF2_CENTS_SQL + """
    , queries AS (
        SELECT vec_id AS query_id, emb AS q_emb FROM corpus WHERE vec_id < 5
    ), probe_scored AS (
        SELECT q.query_id, q.q_emb, ct.cell,
               round(list_dot_product(q.q_emb, ct.c_emb)
                     / (sqrt(list_dot_product(q.q_emb, q.q_emb))
                        * sqrt(list_dot_product(ct.c_emb, ct.c_emb))), 6) AS cos6
        FROM queries q CROSS JOIN cents2 ct
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
        FROM assigned2 a JOIN probes p
          ON a.cell = p.cell AND a.vec_id <> p.query_id
    )
    SELECT query_id, vec_id, CAST(cell AS INT) AS cell, cosine,
           CAST(row_number() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, vec_id ASC) AS INT) AS rank
    FROM cand
    QUALIFY rank <= 3
"""

ORACLES["e2_ivf_search_1round"] = IVF1_CENTS_SQL + """
    , queries AS (
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
        FROM assigned a JOIN probes p
          ON a.cell = p.cell AND a.vec_id <> p.query_id
    )
    SELECT query_id, vec_id, CAST(cell AS INT) AS cell, cosine,
           CAST(row_number() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, vec_id ASC) AS INT) AS rank
    FROM cand
    QUALIFY rank <= 3
"""

# radius form of the 1-round probed-candidate set: threshold, no rank window
ORACLES["e2_ivf_range_search"] = IVF1_CENTS_SQL + """
    , queries AS (
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
        FROM assigned a JOIN probes p
          ON a.cell = p.cell AND a.vec_id <> p.query_id
    )
    SELECT query_id, vec_id, CAST(cell AS INT) AS cell, cosine
    FROM cand WHERE cosine >= 0.25
"""
