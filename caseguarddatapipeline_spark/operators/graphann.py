"""Graph-based ANN (E2 extension, round 9): a single-layer NSW-style
relational beam search over a k-NN graph, plus its measured recall
companion — the evidence base for the graph-vs-IVF serving decision the
round-8 verdict asked for (item 3).

DESIGN DECISION (recorded here; numbers in GRAPHANN.json): the engine's
primary ANN serving tier remains IVF(-SQ8/-PQ), not the graph. A graph
index answers one query in sub-millisecond on a single node because hop
N+1's candidates depend on hop N's scores — an inherently SEQUENTIAL
pointer chase. In a distributed DataFrame engine every hop is a join
round (frontier ⋈ adjacency ⋈ vectors), so a beam search costs
H sequential shuffle barriers per query BATCH where IVF costs exactly
one partition-pruned scan. Measured at the 2 M-vector stress corpus
(tools/graph_ann_probe.py, local[32], GRAPHANN.json): the 3-hop beam
over a persisted 16 M-edge graph serves the 5-query batch in 9.85 s vs
0.75 s for the IVF multi-probe — 13× — and the blocked k-NN-graph BUILD
(the part HNSW amortizes into incremental inserts) costs 200 s vs ~30 s
per Lloyd round because it is itself a bucketed all-pairs problem. On
top of the mechanics, this corpus (isotropic pseudo-random 64-d, mean
pairwise cosine ≈ 0) is graph-hostile by construction: best-first
recall@3 DEGRADES with corpus size (0.87 at 200 vectors → 0.13 at
2000) because a fixed beam×hops budget visits a shrinking fraction,
while IVF recall is probe-fraction-controlled. Where graphs win —
single-query sub-millisecond serving — is precisely where you'd export
the index to a point-lookup service rather than ask a batch engine to
serve it; the reference does exactly this with its external vector
service (etl/flows/process_case.py:292-318). The prototype below
stays: it is exact-oracle-checked, demonstrates the relational form,
and its recall companion (``e2_graph_recall``) keeps the decision
measurable as the corpus evolves.

Spark-first shape: the graph is an edge DataFrame (src, dst) — at scale
a lake table bucketed by ``src`` so each hop's frontier join is a
bucket-pruned point lookup; the frontier/beam/visited frames are
(query-batch × beam)-sized, always broadcast-side. Entry points are the
16 IVF seed vectors (vec_id < 16) — the same role HNSW's upper layers
play: a coarse global net that every search descends from.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from ..sources import load_table
from .similarity import _dbl, _dot, _norm

GRAPH_R = 8  # out-degree of the k-NN graph
KNN_BUILD_BLOCKS = 8  # block grid width of the exact all-pairs build
GRAPH_BEAM = 8  # beam width per query
GRAPH_HOPS = 3  # expansion rounds
GRAPH_ENTRIES = 16  # entry net: vec_id < 16 (the IVF seed vectors)
GRAPH_TOPK = 10  # results returned per query


def build_knn_graph(emb: DataFrame, r: int = GRAPH_R) -> DataFrame:
    """Exact directed k-NN graph: each vector's top-``r`` cosine
    neighbors, ties broken by dst vec_id. Cosines are rounded to 6dp
    BEFORE the rank (the ``_lloyd_round`` discipline) so a last-ulp
    association difference can never flip an edge between engines.

    This is the faithful O(n²) build for the oracle-checked catalog
    entry. At corpus scale the build routes through
    ``build_knn_graph_blocked`` (IVF-cell-bucketed local all-pairs —
    approximate, like every practical distributed k-NN-graph
    constructor), and the resulting edge table persists bucketed by
    ``src``; the O(n²) form exists because the sf-scale oracle must be
    exact.

    Round 13 (optimization, guide §4.2): the all-pairs cosines come from
    the blocked-grid numpy matmul kernel (the e1_embedding_neardup
    shape — plain equi-joins onto a broadcast upper-triangle block grid,
    one shuffle, one BLAS matmul per block pair), replacing a
    BroadcastNestedLoopJoin whose 64-d dot product re-ran interpreted
    per pair (~4 s for 2000² pairs at sf0.1). STILL EXACT: every pair is
    scored, cosines are half-up-rounded to 6dp before any rank exactly
    like the relational form, and each kernel task emits its LOCAL
    top-``r`` per src under the identical (c desc, dst asc) order — a
    superset of the global top-``r`` — so the final window reproduces
    the same edge set row-for-row (oracle-verified at every sf)."""
    import pandas as pd

    from .similarity import _round_half_up

    spark = emb.sparkSession
    B = KNN_BUILD_BLOCKS
    grid = spark.createDataFrame(
        [(x, y) for x in range(B) for y in range(B) if x <= y],
        "block_a int, block_b int",
    )
    blocks = emb.select(
        "vec_id",
        _dbl(F.col("embedding")).alias("e"),
        F.pmod("vec_id", F.lit(B)).cast("int").alias("blk"),
    )
    tagged = blocks.join(
        F.broadcast(grid), F.col("blk") == F.col("block_a")
    ).select(
        "block_a", "block_b", F.lit(True).alias("is_a"), "vec_id", "e"
    ).unionByName(
        blocks.join(
            F.broadcast(grid),
            (F.col("blk") == F.col("block_b"))
            & (F.col("block_a") != F.col("block_b")),
        ).select(
            "block_a", "block_b", F.lit(False).alias("is_a"), "vec_id", "e"
        )
    )

    def _local_topr(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        diagonal = pdf["block_a"].iat[0] == pdf["block_b"].iat[0]
        a_rows = pdf if diagonal else pdf[pdf["is_a"]]
        b_rows = pdf if diagonal else pdf[~pdf["is_a"]]
        out_src, out_dst, out_c = [], [], []

        def _one_direction(srcs, dsts):
            if not len(srcs) or not len(dsts):
                return
            # dst side sorted ASC so a stable sort on -c breaks 6dp ties
            # by dst asc — the window's exact (c desc, dst asc) order
            order = np.argsort(dsts["vec_id"].to_numpy(), kind="stable")
            dst_ids = dsts["vec_id"].to_numpy()[order]
            S = np.stack(srcs["e"].to_numpy()).astype(np.float64)
            D = np.stack(dsts["e"].to_numpy()).astype(np.float64)[order]
            # dot/(na·nb), the established kernel convention
            # (similarity.py) and the relational operand structure —
            # round-13 advice: normalizing the rows BEFORE the matmul
            # has a different FP operation order that can differ in the
            # last ulp and flip a HALF_UP 6dp tie on untested corpora.
            ns = np.linalg.norm(S, axis=1)
            nd = np.linalg.norm(D, axis=1)
            C = _round_half_up((S @ D.T) / np.outer(ns, nd), 6)
            src_ids = srcs["vec_id"].to_numpy()
            if diagonal:
                # same block both sides: mask self-pairs
                C[src_ids[:, None] == dst_ids[None, :]] = -2.0
            top = np.argsort(-C, axis=1, kind="stable")[:, :r]
            k = top.shape[1]
            out_src.append(np.repeat(src_ids, k))
            out_dst.append(dst_ids[top].ravel())
            out_c.append(np.take_along_axis(C, top, axis=1).ravel())

        _one_direction(a_rows, b_rows)
        if not diagonal:
            _one_direction(b_rows, a_rows)
        if not out_src:
            return pd.DataFrame({"src": [], "dst": [], "c": []}).astype(
                {"src": "int64", "dst": "int64", "c": "float64"}
            )
        res = pd.DataFrame(
            {
                "src": np.concatenate(out_src),
                "dst": np.concatenate(out_dst),
                "c": np.concatenate(out_c),
            }
        )
        # drop masked self-pairs that slipped into a short top-r slice
        return res[res["c"] > -2.0]

    cand = tagged.groupBy("block_a", "block_b").applyInPandas(
        _local_topr, "src bigint, dst bigint, c double"
    )
    w = Window.partitionBy("src").orderBy(F.desc("c"), F.asc("dst"))
    return (
        cand.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= r)
        .select("src", "dst")
    )


def build_knn_graph_blocked(
    emb: DataFrame,
    r: int = GRAPH_R,
    n_buckets: int = 32,
    use_arrow: bool = False,
) -> DataFrame:
    """Scale-path graph build: bucket vectors by a hash of vec_id and run
    the exact top-``r`` only WITHIN each bucket — the standard blocked
    approximation (a distributed NN-descent would refine it; measured as
    unnecessary for the decision record). One shuffle on the bucket key;
    per-task work is bounded by the largest bucket (~n/n_buckets), never
    by n². Used by tools/graph_ann_probe.py at the 2 M-vector corpus.

    ``use_arrow``: per-bucket numpy matmul + argpartition top-``r``
    (applyInPandas — the similarity-kernel routing rule: the HOF
    interpreter on a bucketed all-pairs stream is ~100× too slow past
    ~1k-row buckets, while one 4k×4k×64 matmul per bucket is a GFLOP).
    Same ranking key (6dp-rounded cosine desc, dst asc)."""
    if use_arrow:
        import pandas as pd

        from .similarity import _round_half_up

        def topr(pdf: pd.DataFrame) -> pd.DataFrame:
            import numpy as np

            ids = pdf["vec_id"].to_numpy()
            V = np.vstack(pdf["e"].to_numpy()).astype(np.float64)
            Vn = V / np.linalg.norm(V, axis=1, keepdims=True)
            C = _round_half_up(Vn @ Vn.T, 6)
            np.fill_diagonal(C, -2.0)
            n = len(ids)
            k = min(r, n - 1)
            if k <= 0:
                return pd.DataFrame({"src": [], "dst": []}).astype("int64")
            # rank by (cos desc, dst asc): lexsort on (-C, ids)
            order = np.lexsort((np.broadcast_to(ids, (n, n)), -C), axis=1)
            dst = ids[order[:, :k]]
            src = np.repeat(ids, k)
            return pd.DataFrame({"src": src, "dst": dst.reshape(-1)})

        withb = emb.select(
            "vec_id",
            _dbl(F.col("embedding")).alias("e"),
            F.pmod(F.xxhash64(F.col("vec_id")), F.lit(n_buckets)).alias(
                "bkt"
            ),
        )
        return withb.groupBy("bkt").applyInPandas(topr, "src long, dst long")
    withb = emb.select(
        "vec_id",
        _dbl(F.col("embedding")).alias("e"),
        F.pmod(F.xxhash64(F.col("vec_id")), F.lit(n_buckets)).alias("bkt"),
    ).select("vec_id", "e", "bkt", _norm(F.col("e")).alias("n"))
    a = withb.select(
        F.col("bkt"),
        F.col("vec_id").alias("src"),
        F.col("e").alias("ea"),
        F.col("n").alias("na"),
    )
    b = withb.select(
        F.col("bkt").alias("bkt_b"),
        F.col("vec_id").alias("dst"),
        F.col("e").alias("eb"),
        F.col("n").alias("nb"),
    )
    cos6 = F.round(
        _dot(F.col("ea"), F.col("eb")) / (F.col("na") * F.col("nb")), 6
    )
    pairs = a.join(
        b, (F.col("bkt") == F.col("bkt_b")) & (F.col("src") != F.col("dst"))
    ).select("src", "dst", cos6.alias("c"))
    w = Window.partitionBy("src").orderBy(F.desc("c"), F.asc("dst"))
    return (
        pairs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= r)
        .select("src", "dst")
    )


def graph_beam_search(
    emb: DataFrame,
    knn: DataFrame,
    *,
    beam: int = GRAPH_BEAM,
    hops: int = GRAPH_HOPS,
    topk: int = GRAPH_TOPK,
    n_queries: int = 5,
    n_entries: int = GRAPH_ENTRIES,
) -> DataFrame:
    """Best-first beam search, driver-unrolled: score the entry net,
    then ``hops`` rounds of (top-``beam`` UNEXPANDED visited) ⋈
    adjacency ⋈ vectors, keeping visited and expanded sets
    deduplicated. The anti-join against the expanded set is what makes
    each hop expand NEW nodes — without it the top-beam stalls on the
    same nodes after hop 1 (measured: recall froze at 0.067 between 3
    and 6 hops on the directed graph; with the anti-join it doubles per
    added hop). Every frontier/beam frame is (n_queries × beam) rows —
    broadcast-side of each join; the only data-sized input per hop is
    the bucketed edge table. Deterministic end-to-end: cosines are
    6dp-rounded before every rank, ties break by vec_id, so the
    unrolled SQL oracle matches hash-exactly."""
    queries = (
        emb.filter(F.col("vec_id") < n_queries)
        .select(
            F.col("vec_id").alias("query_id"),
            _dbl(F.col("embedding")).alias("q_emb"),
        )
        .select("query_id", "q_emb", _norm(F.col("q_emb")).alias("q_norm"))
    )
    corpus = emb.select(
        "vec_id", _dbl(F.col("embedding")).alias("emb")
    ).select("vec_id", "emb", _norm(F.col("emb")).alias("nrm"))
    cos6 = F.round(
        _dot(F.col("emb"), F.col("q_emb")) / (F.col("nrm") * F.col("q_norm")),
        6,
    )
    # Round 14 (optimization, guide §5): ONE fused state frame instead of
    # separate visited/expanded frames. Each row carries its membership
    # flag (`exp` ⇔ the old expanded set), so a hop needs exactly ONE
    # localCheckpoint job (the previous form pinned visited AND expanded
    # — two eager jobs per hop, each with its own broadcast builds). The
    # frontier is the top-``beam`` of the UNEXPANDED rows: ordering the
    # rank window by (exp asc, cosine desc, vec_id asc) puts the
    # unexpanded rows first with their relative order unchanged, so
    # filtering on ``~exp`` reproduces the anti-join + window exactly.
    # Leaving the fused frame lazy instead was measured 2× WORSE in
    # round 13 (10.2 s — window trees re-execute per hop); the checkpoint
    # is the load-bearing part, the fusion halves how many are needed.
    state = (
        corpus.filter(F.col("vec_id") < n_entries)
        .crossJoin(F.broadcast(queries))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            cos6.alias("cosine"),
            F.lit(False).alias("exp"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("vec_id")
    )
    w_pool = Window.partitionBy("query_id").orderBy(
        F.asc("exp"), F.desc("cosine"), F.asc("vec_id")
    )
    for hop in range(hops):
        ranked = state.withColumn("rk", F.row_number().over(w_pool))
        in_beam = (~F.col("exp")) & (F.col("rk") <= beam)
        frontier = ranked.filter(in_beam).select("query_id", "vec_id")
        # no distinct here: duplicate (query_id, dst) rows (two frontier
        # nodes sharing a neighbor) collapse in the state groupBy below,
        # so the aggregate inside this broadcast build would be a second
        # dedup of the same ≤ (queries × beam × R) rows
        nbrs = knn.join(
            F.broadcast(frontier), knn["src"] == frontier["vec_id"]
        ).select("query_id", F.col("dst").alias("vec_id"))
        scored = (
            corpus.join(F.broadcast(nbrs), "vec_id")
            .join(F.broadcast(queries), "query_id")
            .filter(F.col("vec_id") != F.col("query_id"))
            .select(
                "query_id",
                "vec_id",
                cos6.alias("cosine"),
                F.lit(False).alias("exp"),
            )
        )
        # union + group: a re-scored row carries the identical rounded
        # cosine by construction, so max(cosine) dedups exactly like the
        # old full-row DISTINCT; max(exp) keeps the membership flag of
        # any row already expanded. (queries × beam × hops)-bounded.
        state = (
            ranked.withColumn("exp", F.col("exp") | in_beam)
            .drop("rk")
            .unionByName(scored)
            .groupBy("query_id", "vec_id")
            .agg(F.max("cosine").alias("cosine"), F.max("exp").alias("exp"))
        )
        if RECALL_GUARD_ENABLED and hop < hops - 1:
            # pin the hop ONCE (per-invocation; nothing survives the
            # query) so the next hop's frontier window and the final
            # rank read materialized rows instead of re-executing every
            # prior hop's join tree (the unpinned executed plan carried
            # the hop-1 subtree 6×). The LAST hop stays lazy: the only
            # consumer is the final rank window, which executes the
            # hop's tree exactly once — its checkpoint was a pure extra
            # job (round 14).
            state = state.localCheckpoint()
    return (
        state.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= topk)
        .select("query_id", "vec_id", "cosine", "rank")
    )


GRAPH_RECALL_SAFE_N = 1_000  # corpus size beyond which recall is degraded

# Plan-only tooling (tools/explain_audit.py) constructs every catalog
# query just to .explain() it; the guard's bounded count is the one
# eager job in that path, so audit code flips this off. Data-serving
# entry points leave it on.
RECALL_GUARD_ENABLED = True


def _warn_if_beyond_recall_envelope(emb: DataFrame, caller: str) -> None:
    """Round-10 guard (verdict: the ≥0.6 recall pin silently passes at
    small sf while the measured recall at larger corpora collapses —
    0.67 at 100 vectors, 0.87 at 500, 0.13 at 2 000, and GRAPHANN.json's
    0.13 at 2 M): the beam prototype is CORRECTNESS-checked at any size
    (its algebra is exact vs the SQL oracle) but NOT recall-adequate
    beyond ~1 000 vectors with the pinned (beam, hops, entry-net)
    budget. A user exporting it at scale gets an explicit warning
    instead of silently bad neighbors; the serving tier at scale is IVF
    (the GRAPHANN.json decision record). The size check is a bounded
    ``take(N+1)`` of a constant column — a partial scan that stops after
    N+1 rows, not a full count — so the guard stays cheap at the very
    scales it warns about. It is not ``limit(N+1).count()``: a limit
    inside generated code names its counter from a process-wide
    sequence, so that form compiled new classes on every call. Emitted
    through ``logging`` (round-11 advice): the default ``warnings``
    filter deduplicates per call site, so a user querying several
    oversized corpora in one process would be warned only once — a
    logger warns on EVERY oversized invocation."""
    if not RECALL_GUARD_ENABLED:
        return
    n = len(emb.select(F.lit(1)).take(GRAPH_RECALL_SAFE_N + 1))
    if n > GRAPH_RECALL_SAFE_N:
        import logging

        logging.getLogger(__name__).warning(
            "%s: corpus has >%d vectors — beyond the beam prototype's "
            "recall envelope (~%d; measured recall@3 0.13 at 2k and at "
            "2M vectors). Results are correctness-checked but NOT "
            "recall-adequate; serve with the IVF tier (e2_ivf_search) "
            "at this scale.",
            caller,
            GRAPH_RECALL_SAFE_N,
            GRAPH_RECALL_SAFE_N,
        )


def _built_edges(emb: DataFrame) -> DataFrame:
    """Edge table for the catalog's beam-search entries: the exact build,
    materialized ONCE per invocation with ``localCheckpoint`` — the
    bench-scale stand-in for the persisted, src-bucketed lake table the
    module docstring prescribes at corpus scale. Without it every hop's
    frontier join re-executes the whole build subtree (the executed plan
    carried six copies). ``localCheckpoint`` is per-invocation: each call
    recomputes the build from the parquet input (nothing is shared
    across runs — unlike ``persist``, whose plan-keyed cache entry a
    later identical invocation would silently reuse). In plan-audit mode
    (``RECALL_GUARD_ENABLED`` off: tools/explain_audit.py, plan-only
    tooling) the lazy composed plan is returned instead, so audits keep
    seeing the faithful full tree and no job runs at explain time."""
    built = build_knn_graph(emb)
    if not RECALL_GUARD_ENABLED:
        return built
    return built.localCheckpoint()


def e2_graph_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Catalog entry: top-10 per query via 3-hop beam search from the
    16-seed entry net over the exact R=8 k-NN graph. Exact oracle: the
    whole pipeline (graph build, entry scoring, three beam expansions)
    is deterministic relational algebra, unrolled CTE-for-CTE in SQL.
    Recall envelope: correctness-exact at any size, recall-adequate only
    up to ~GRAPH_RECALL_SAFE_N vectors (warned beyond — see
    ``_warn_if_beyond_recall_envelope``)."""
    emb = load_table(spark, sf_dir, "embeddings")
    _warn_if_beyond_recall_envelope(emb, "e2_graph_search")
    return graph_beam_search(emb, _built_edges(emb))


def e2_graph_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured recall companion (the ``e2_pq_recall`` pattern): compare
    the beam search's top-3 per query against the exact top-3 (same 6dp
    rounding, same tie order) and report one summary row. Pinned per-sf
    by tests/test_graphann.py (0.6 inside the recall envelope; the
    measured DEGRADATION beyond it is itself pinned) — if graph quality
    regresses, this trips before any serving claim does."""
    emb = load_table(spark, sf_dir, "embeddings")
    _warn_if_beyond_recall_envelope(emb, "e2_graph_recall")
    graph3 = graph_beam_search(emb, _built_edges(emb)).filter(
        F.col("rank") <= 3
    )
    queries = (
        emb.filter(F.col("vec_id") < 5)
        .select(
            F.col("vec_id").alias("query_id"),
            _dbl(F.col("embedding")).alias("q_emb"),
        )
        .select("query_id", "q_emb", _norm(F.col("q_emb")).alias("q_norm"))
    )
    corpus = emb.select(
        "vec_id", _dbl(F.col("embedding")).alias("emb")
    ).select("vec_id", "emb", _norm(F.col("emb")).alias("nrm"))
    cos6 = F.round(
        _dot(F.col("emb"), F.col("q_emb")) / (F.col("nrm") * F.col("q_norm")),
        6,
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("vec_id")
    )
    exact3 = (
        corpus.join(F.broadcast(queries), F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id", cos6.alias("cosine"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("query_id", "vec_id")
    )
    # ONE full-outer join + ONE aggregate (the e1_neardup_recall pattern):
    # both sides are distinct (query_id, vec_id) sets by construction
    # (row_number ranks), so INTERSECT ≡ the rows where both membership
    # flags hold. The previous three-branch crossJoin form re-executed
    # graph3 (beam search + n² graph build) and exact3 twice each.
    fused = exact3.withColumn("in_exact", F.lit(True)).join(
        graph3.select("query_id", "vec_id", F.lit(True).alias("in_graph")),
        ["query_id", "vec_id"],
        "full_outer",
    )
    return fused.agg(
        F.count(F.when(F.col("in_exact"), 1)).alias("n_exact"),
        F.count(F.when(F.col("in_graph"), 1)).alias("n_graph"),
        F.count(
            F.when(F.col("in_exact") & F.col("in_graph"), 1)
        ).alias("n_common"),
    ).select(
        "n_exact",
        "n_graph",
        "n_common",
        F.round(
            F.col("n_common").cast("double") / F.col("n_exact"), 4
        ).alias("recall"),
    )


_DOT = (
    "list_dot_product(list_transform({a}, x -> CAST(x AS DOUBLE)),"
    " list_transform({b}, y -> CAST(y AS DOUBLE)))"
)

_COS6 = (
    "round(" + _DOT.format(a="e.embedding", b="q.q_emb")
    + " / (sqrt(" + _DOT.format(a="e.embedding", b="e.embedding") + ")"
    + " * sqrt(" + _DOT.format(a="q.q_emb", b="q.q_emb") + ")), 6)"
)

# shared CTE prefix: queries, the exact R=8 kNN graph, and the scored
# entry net (hop-0 visited set)
_GRAPH_PREFIX = f"""
    WITH q AS (
        SELECT vec_id AS query_id, embedding AS q_emb
        FROM embeddings WHERE vec_id < 5
    ), pairs AS (
        SELECT a.vec_id AS src, b.vec_id AS dst,
               round({_DOT.format(a='a.embedding', b='b.embedding')}
                     / (sqrt({_DOT.format(a='a.embedding', b='a.embedding')})
                        * sqrt({_DOT.format(a='b.embedding', b='b.embedding')})),
                     6) AS c
        FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
    ), knn AS (
        SELECT src, dst FROM (
            SELECT src, dst,
                   row_number() OVER (PARTITION BY src
                                      ORDER BY c DESC, dst ASC) AS rn
            FROM pairs
        ) WHERE rn <= {GRAPH_R}
    ), visited0 AS (
        SELECT query_id, e.vec_id, {_COS6} AS cosine
        FROM embeddings e JOIN q
          ON e.vec_id < {GRAPH_ENTRIES} AND e.vec_id <> query_id
    )"""


def _hop_ctes(n_hops: int) -> str:
    """Unroll hop CTEs, mirroring ``graph_beam_search``'s best-first
    loop: beam_i = top-BEAM of visited_i minus the already-expanded set
    (anti-join — the no-re-expansion rule); expanded accumulates the
    beams; visited_{i+1} = visited_i ∪ scored neighbors of beam_i
    (UNION dedups — both branches compute the identical 6dp-rounded
    double)."""
    parts = []
    for i in range(n_hops):
        anti = (
            ""
            if i == 0
            else f"""WHERE NOT EXISTS (
                SELECT 1 FROM expanded{i - 1} x
                WHERE x.query_id = v.query_id AND x.vec_id = v.vec_id
            )
            """
        )
        exp = (
            f"SELECT query_id, vec_id FROM beam{i}"
            if i == 0
            else f"""SELECT query_id, vec_id FROM expanded{i - 1}
        UNION
        SELECT query_id, vec_id FROM beam{i}"""
        )
        parts.append(f""", beam{i} AS (
        SELECT query_id, vec_id FROM (
            SELECT query_id, vec_id,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY cosine DESC, vec_id ASC) AS rk
            FROM visited{i} v
            {anti}
        ) WHERE rk <= {GRAPH_BEAM}
    ), expanded{i} AS (
        {exp}
    ), nbrs{i} AS (
        SELECT DISTINCT query_id, dst AS vec_id
        FROM beam{i} JOIN knn ON beam{i}.vec_id = knn.src
    ), visited{i + 1} AS (
        SELECT * FROM visited{i}
        UNION
        SELECT n.query_id, e.vec_id, {_COS6} AS cosine
        FROM embeddings e
        JOIN nbrs{i} n ON e.vec_id = n.vec_id
        JOIN q ON q.query_id = n.query_id AND e.vec_id <> q.query_id
    )""")
    return "".join(parts)


ORACLES = {
    "e2_graph_search": _GRAPH_PREFIX + _hop_ctes(GRAPH_HOPS) + f"""
    SELECT query_id, vec_id, cosine, rank FROM (
        SELECT query_id, vec_id, cosine,
               CAST(row_number() OVER (PARTITION BY query_id
                                       ORDER BY cosine DESC, vec_id ASC)
                    AS INT) AS rank
        FROM visited{GRAPH_HOPS}
    ) WHERE rank <= {GRAPH_TOPK}
    """,
    "e2_graph_recall": _GRAPH_PREFIX + _hop_ctes(GRAPH_HOPS) + f"""
    , graph3 AS (
        SELECT query_id, vec_id FROM (
            SELECT query_id, vec_id,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY cosine DESC, vec_id ASC) AS rank
            FROM visited{GRAPH_HOPS}
        ) WHERE rank <= 3
    ), exact3 AS (
        SELECT query_id, vec_id FROM (
            SELECT query_id, e.vec_id,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY {_COS6} DESC, e.vec_id ASC)
                       AS rank
            FROM embeddings e JOIN q ON e.vec_id <> query_id
        ) WHERE rank <= 3
    ), common AS (
        SELECT query_id, vec_id FROM graph3
        INTERSECT
        SELECT query_id, vec_id FROM exact3
    )
    SELECT (SELECT count(*) FROM exact3) AS n_exact,
           (SELECT count(*) FROM graph3) AS n_graph,
           (SELECT count(*) FROM common) AS n_common,
           round(CAST((SELECT count(*) FROM common) AS DOUBLE)
                 / (SELECT count(*) FROM exact3), 4) AS recall
    """,
}

QUERIES = {
    "e2_graph_search": e2_graph_search,
    "e2_graph_recall": e2_graph_recall,
}
