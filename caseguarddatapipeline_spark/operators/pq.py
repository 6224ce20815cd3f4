"""Product-quantization ANN over embeddings (E2 scale path, SURVEY.md §2.10).

The reference delegates vector search to Pinecone (README.md:9,
etl/flows/process_case.py:292-318); ``operators/similarity.py`` brought the
serving path in-engine (brute force, LSH, IVF). This module adds the
MEMORY-side scale story: product quantization (Jégou et al., "Product
Quantization for Nearest Neighbor Search", TPAMI 2011 — the scheme behind
FAISS IVFPQ).

A 64-d float embedding (256 B) compresses to M=4 one-byte codes by
splitting the vector into 4 contiguous 16-d subvectors and quantizing each
against its own k=16-centroid codebook — 64× less memory, which is what
makes a 100 TB embedding corpus scannable at all. Search is the classic
asymmetric-distance computation (ADC): per query, a tiny M×k table of
exact query-subvector→centroid distances; a vector's approximate distance
is the sum of M table lookups selected by its codes.

Three search entries:

- ``e2_pq_search_1round`` — flat ADC scan over the full codes relation
  (FAISS ``IndexPQ``): the corpus-wide pass touches only the compressed
  representation.
- ``e2_ivfpq_search_1round`` — IVF cells route each query to nprobe=4 of
  16 coarse partitions, PQ codes score only the candidates inside them
  (FAISS ``IndexIVFPQ`` with by_residual=false): compute AND memory
  pruning composed. At 100 TB `cell` persists as a partition column, so
  the probe join is partition pruning over a 64×-compressed corpus.
- ``e2_ivfpq_residual_1round`` — the by_residual=true form (the FAISS
  default): PQ trains/encodes on (vector − its cell's CENTROID), and the
  query builds one ADC table per probed cell from the same subtraction.

Everything is relational algebra on equi-joins — no UDF, no collect:
codebook training is pinned to exactly ONE Lloyd round per subspace,
seeded by the first k vectors' subvectors (the same determinism contract
as ``e2_ivf_search_1round``), so the full pipeline has an exact DuckDB
oracle. Distances are rounded to 6dp before every argmin and centroid
components to 6dp, so cross-engine float association can never flip an
assignment; ties break to the lowest cell/code id in both engines.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from ..sources import load_table
from .similarity import (
    _COSINE_DESC,
    IVF1_CENTS_SQL,
    N_QUERIES,
    _cent_literal,
    _coarse_cells,
    _dot,
    _ivf1_index,
    _norm,
    _probe_list,
    _query_set,
    _vectors,
)
from .topk import topk_per_key_window

M, SUBDIM, K, TOPK = 4, 16, 16, 3
NPROBE = 4

# per-query ranking order of the quantized searches: approximate distance
# ascending, ties to the lower vec_id
_ADIST_ASC = [("adist", False), ("vec_id", False)]


def _w_argmin():
    return Window.partitionBy("vec_id", "m").orderBy(F.asc("d6"), F.asc("cell"))


def _l2sq(a, b):
    """Squared L2 distance between two equal-length double arrays, as a
    JVM-side fold (zip_with + aggregate) — PQ's native metric."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _vectors(load_table(spark, sf_dir, "embeddings"))


def _subvectors(corpus: DataFrame) -> DataFrame:
    """(vec_id, emb[64]) → (vec_id, m, sub[16]): one row per subspace."""
    parts = F.array(
        *[
            F.struct(
                F.lit(m).alias("m"),
                F.slice("emb", m * SUBDIM + 1, SUBDIM).alias("sub"),
            )
            for m in range(M)
        ]
    )
    return corpus.select("vec_id", F.inline(parts))


def _pq_codebooks(subs: DataFrame) -> DataFrame:
    """One Lloyd round per subspace: nearest seed per (vector, subspace),
    then the per-dimension mean of each (subspace, cell) group. Empty
    cells keep their (rounded) seed subvector, as in the IVF twin.
    Returns (m, cell, c_sub[16])."""
    seeds = subs.filter(F.col("vec_id") < K).select(
        F.col("m").alias("sm"),
        F.col("vec_id").alias("cell"),
        F.col("sub").alias("s_sub"),
    )
    assigned = (
        subs.join(F.broadcast(seeds), F.col("m") == F.col("sm"))
        .withColumn("d6", F.round(_l2sq(F.col("sub"), F.col("s_sub")), 6))
        .withColumn("rn", F.row_number().over(_w_argmin()))
        .filter(F.col("rn") == 1)
        .select("vec_id", "m", "sub", "cell")
    )
    cents0 = (
        assigned.select("m", "cell", F.posexplode("sub").alias("pos", "val"))
        .groupBy("m", "cell", "pos")
        .agg(F.avg("val").alias("v"))
        .groupBy("m", "cell")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "v"))).alias("pv"))
        .select(
            "m",
            "cell",
            F.transform("pv", lambda s: F.round(s["v"], 6)).alias("c_sub"),
        )
    )
    empty = (
        seeds.join(
            cents0,
            (seeds.sm == cents0.m) & (seeds.cell == cents0.cell),
            "left_anti",
        )
        .select(
            F.col("sm").alias("m"),
            "cell",
            F.transform("s_sub", lambda v: F.round(v, 6)).alias("c_sub"),
        )
    )
    return cents0.unionByName(empty).localCheckpoint(eager=False)


def _pq_codes(subs: DataFrame, cents: DataFrame) -> DataFrame:
    """Encode: the corpus keeps only (vec_id, m, code) — the 64×-
    compressed form (argmin codebook entry per subspace)."""
    return (
        subs.join(
            F.broadcast(cents.withColumnRenamed("m", "cm")),
            F.col("m") == F.col("cm"),
        )
        .withColumn("d6", F.round(_l2sq(F.col("sub"), F.col("c_sub")), 6))
        .withColumn("rn", F.row_number().over(_w_argmin()))
        .filter(F.col("rn") == 1)
        .select("vec_id", "m", F.col("cell").alias("code"))
    )


def _adc_table(subs: DataFrame, cents: DataFrame) -> DataFrame:
    """Exact query-subvector → codebook-entry distances: |queries|×M×K
    rows (320 here) — the tiny table every ADC scan broadcasts."""
    queries = subs.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("m").alias("qm"),
        F.col("sub").alias("q_sub"),
    )
    return queries.join(
        cents.withColumnRenamed("m", "cm"), F.col("qm") == F.col("cm")
    ).select(
        "query_id",
        F.col("qm").alias("m"),
        F.col("cell").alias("code"),
        F.round(_l2sq(F.col("q_sub"), F.col("c_sub")), 6).alias("d"),
    )


def _pq_store_dir(sf_dir: str) -> str:
    """On-disk home for a corpus' PQ index store — the shared fingerprint
    rule (``sources/stores.fingerprint_store_dir``); a fixed lake path in
    production. Layout v2: the snapshot also carries the residual
    (by_residual=true) codebooks and codes — old v1 stores are orphaned."""
    from ..sources.stores import fingerprint_store_dir

    return fingerprint_store_dir(
        sf_dir, "embeddings.parquet", "caseguard_pqindex", layout_version=4
    )


def _residual_subvectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, m, sub) over RESIDUALS: each corpus vector minus its
    coarse cell's CENTROID (assignment by seeds, exactly like
    e2_ivfpq_search_1round's coarse stage). Centroid — not seed —
    subtraction is the variance-reducing choice; see
    e2_ivfpq_residual_1round."""
    corpus = _corpus(spark, sf_dir)
    seeds, centroids = _ivf1_index(spark, sf_dir)
    cent_mat = _cent_literal(centroids)
    cells = _coarse_cells(corpus, seeds, keep_emb=True)
    resid = F.zip_with(
        F.col("emb"),
        F.element_at(cent_mat, F.col("cell") + 1),
        lambda a, b: a - b,
    )
    return _subvectors(cells.select("vec_id", resid.alias("emb")))


def publish_pq_index(
    spark: SparkSession, sf_dir: str, base_dir: str | None = None
) -> tuple[str, int]:
    """Train the per-subspace codebooks, ENCODE the corpus, and publish
    both as ONE version of a lake-table store (one manifest commit):
    rows of (kind, vec_id, m, cell, c_sub) with kind ∈ {codebook, code, rcodebook, rcode} — the
    raw-vector codebooks/codes AND their residual (by_residual=true)
    twins, trained on (vector − coarse centroid). Unlike the IVF store
    (k×dim metadata), the CODES relations are the compressed corpus
    itself — the thing PQ exists to persist (a 100 TB embedding corpus is
    scannable only through its stored codes), so publishing them as a
    lake table with version atomicity is the production shape: searches
    read a consistent (codebooks, codes) pair, a corpus refresh publishes
    the next version, and readers mid-scan keep their pinned files.
    Returns (base_dir, version id)."""
    from ..sources.versioned import write_version

    subs = _subvectors(_corpus(spark, sf_dir))
    cents = _pq_codebooks(subs)
    codes = _pq_codes(subs, cents)
    rsubs = _residual_subvectors(spark, sf_dir)
    rcents = _pq_codebooks(rsubs)
    rcodes = _pq_codes(rsubs, rcents)

    def _book(df, kind):
        return df.select(
            F.lit(kind).alias("kind"),
            F.lit(None).cast("long").alias("vec_id"),
            F.col("m").cast("int").alias("m"),
            F.col("cell").cast("long").alias("cell"),
            "c_sub",
        )

    def _enc(df, kind):
        return df.select(
            F.lit(kind).alias("kind"),
            "vec_id",
            F.col("m").cast("int").alias("m"),
            F.col("code").cast("long").alias("cell"),
            F.lit(None).cast("array<double>").alias("c_sub"),
        )

    snap = (
        _book(cents, "codebook")
        .unionByName(_enc(codes, "code"))
        .unionByName(_book(rcents, "rcodebook"))
        .unionByName(_enc(rcodes, "rcode"))
    )
    base = base_dir or _pq_store_dir(sf_dir)
    return base, write_version(snap.coalesce(1), base)


def _load_pq_index(
    spark: SparkSession, sf_dir: str, *, residual: bool = False
) -> tuple[DataFrame, DataFrame]:
    """Read-through load of the persisted PQ index: publish the first
    snapshot if the store is empty, then return (codebooks, codes)
    DataFrames off the LATEST version — lazy scans of the snapshot, no
    collect, no in-process state. ``residual=True`` returns the
    by_residual twins (rcodebook/rcode kinds). Parquet round-trips
    doubles bit-exactly, so the 6dp-rounded codebooks the oracle
    recomputes in SQL match the persisted ones."""
    from ..sources.versioned import has_version, read_version
    from ..sources.stores import memo_snapshot as _memo_snapshot

    base = _pq_store_dir(sf_dir)
    if not has_version(base):
        publish_pq_index(spark, sf_dir, base)
    # memo holds the lazy snapshot FRAME per (session, store, version) —
    # a republish bumps the version and misses; the snapshot files stay
    # the source of truth either way
    snap = _memo_snapshot(spark, base, lambda v: read_version(spark, base, v))
    bk, ck = ("rcodebook", "rcode") if residual else ("codebook", "code")
    cents = snap.filter(F.col("kind") == bk).select("m", "cell", "c_sub")
    codes = snap.filter(F.col("kind") == ck).select(
        "vec_id", "m", F.col("cell").alias("code")
    )
    return cents, codes


def e2_pq_search_1round(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flat PQ-ADC ANN, driver-checkable end-to-end, served from the
    PERSISTED index (``publish_pq_index`` snapshot: codebooks + codes —
    train/encode happen at publish time, not per search).

    ADC search = per-query distance table (query subvectors, the
    per-request input, against the snapshot codebooks) + code equi-join
    + partial-sum groupBy. Queries are the first 5 vectors, ranked by
    approximate distance ascending with vec_id tie-break, top-3 each."""
    subs = _subvectors(_corpus(spark, sf_dir))
    cents, codes = _load_pq_index(spark, sf_dir)
    dtab = _adc_table(subs, cents)
    scored = (
        codes.join(F.broadcast(dtab), ["m", "code"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", "vec_id")
        .agg(F.round(F.sum("d"), 4).alias("adist"))
    )
    return topk_per_key_window(scored, ["query_id"], _ADIST_ASC, TOPK, "rank")


def e2_ivfpq_search_1round(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-routed PQ-ADC ANN (FAISS IVFPQ, by_residual=false).

    The coarse stage is EXACTLY ``e2_ivf_search_1round``'s quantizer
    (cosine assignment to 16 one-Lloyd-round cells, nprobe=4 multi-probe
    per query); the scoring stage is EXACTLY ``e2_pq_search_1round``'s
    ADC. Candidates come from the cell equi-join (~nprobe/k of the
    corpus), and scoring touches only their M=4 codes — so the scan cost
    is pruned by the coarse index AND the bytes-per-candidate by PQ.
    Both indexes are served from persisted versioned snapshots (the IVF
    quantizer store and the PQ codebook+code store). Output: per query,
    top-3 candidates by approximate distance ascending, with the cell
    each candidate came from."""
    corpus = _corpus(spark, sf_dir)
    subs = _subvectors(corpus)
    cents, codes = _load_pq_index(spark, sf_dir)
    dtab = _adc_table(subs, cents)

    # Coarse stage, shared with e2_ivf_search_1round via _ivf1_index and
    # the single _coarse_cells/_probe_list definitions (similarity.py).
    seeds, centroids = _ivf1_index(spark, sf_dir)
    cells = _coarse_cells(corpus, seeds)
    probes = _probe_list(_query_set(corpus), centroids, NPROBE).select(
        "query_id", "probe_cell"
    )

    cand = cells.join(
        F.broadcast(probes),
        (cells.cell == probes.probe_cell) & (cells.vec_id != probes.query_id),
    ).select("query_id", "vec_id", "cell")
    scored = (
        cand.join(codes, "vec_id")
        .join(F.broadcast(dtab), ["query_id", "m", "code"])
        .groupBy("query_id", "vec_id", "cell")
        .agg(F.round(F.sum("d"), 4).alias("adist"))
    )
    return topk_per_key_window(scored, ["query_id"], _ADIST_ASC, TOPK, "rank")


def e2_ivfpq_residual_1round(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ on RESIDUALS (FAISS IndexIVFPQ with by_residual=true — the
    library DEFAULT, and the accuracy-critical half of the scheme):
    instead of quantizing raw vectors, PQ trains and encodes on
    (vector − its coarse cell's vector), which strips the coarse
    component every cell-mate shares and spends the codebook's 4 bits per
    subspace on the intra-cell detail. The query side subtracts the SAME
    probed cell's vector before building its ADC table, so the per-cell
    distance tables stay asymmetric-exact: |queries|×nprobe×M×K rows
    (1 280 here) — still a tiny broadcast.

    Same determinism contract as the non-residual twin: coarse
    assignment by the persisted seeds, probes by the persisted 1-round
    centroids (``_ivf1_index`` snapshot), residual codebooks pinned to
    one Lloyd round with 6dp rounding before every argmin — the whole
    pipeline keeps an exact DuckDB oracle. The residual codebooks AND
    codes are served from the persisted PQ snapshot (rcodebook/rcode
    kinds — training/encoding happen at publish time). Residuals
    subtract the cell's CENTROID (its member mean — variance-reducing),
    not the seed assignment vector: subtracting a raw seed roughly
    DOUBLES residual energy on weakly-clustered data
    (tests/test_similarity.py pins the distinction). At 100 TB `cell`
    persists as a partition column; residual codes live beside the raw
    codes in the PQ store and the probe join is partition pruning either
    way."""
    corpus = _corpus(spark, sf_dir)
    seeds, centroids = _ivf1_index(spark, sf_dir)
    cent_mat = _cent_literal(centroids)

    cells = _coarse_cells(corpus, seeds)
    rcents, rcodes = _load_pq_index(spark, sf_dir, residual=True)
    probes = _probe_list(_query_set(corpus), centroids, NPROBE)
    # per-probed-cell query residual → subvectors → ADC table
    q_resid = F.zip_with(
        F.col("q_emb"),
        F.element_at(cent_mat, F.col("probe_cell") + 1),
        lambda a, b: a - b,
    )
    rq_parts = F.array(
        *[
            F.struct(
                F.lit(m).alias("m"),
                F.slice("qr", m * SUBDIM + 1, SUBDIM).alias("q_sub"),
            )
            for m in range(M)
        ]
    )
    rq_subs = probes.select(
        "query_id", F.col("probe_cell").alias("cell"), q_resid.alias("qr")
    ).select("query_id", "cell", F.inline(rq_parts))
    dtab = rq_subs.join(
        F.broadcast(
            rcents.select(
                F.col("m").alias("cm"),
                F.col("cell").alias("code"),
                "c_sub",
            )
        ),
        F.col("m") == F.col("cm"),
    ).select(
        "query_id",
        "cell",
        "m",
        "code",
        F.round(_l2sq(F.col("q_sub"), F.col("c_sub")), 6).alias("d"),
    )

    cand = cells.select("vec_id", "cell").join(
        F.broadcast(probes.select("query_id", "probe_cell")),
        (F.col("cell") == F.col("probe_cell"))
        & (F.col("vec_id") != F.col("query_id")),
    ).select("query_id", "vec_id", "cell")
    scored = (
        cand.join(rcodes, "vec_id")
        .join(F.broadcast(dtab), ["query_id", "cell", "m", "code"])
        .groupBy("query_id", "vec_id", "cell")
        .agg(F.round(F.sum("d"), 4).alias("adist"))
    )
    return topk_per_key_window(scored, ["query_id"], _ADIST_ASC, TOPK, "rank")


def e2_pq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured PQ quality: per-query recall@3 of the ADC search against
    the EXACT L2 top-3 — the e1_neardup_recall companion for the
    compressed-corpus path, keeping the 64×-compression quality tradeoff
    a re-verified number instead of a docstring claim. Exact side is the
    same JVM fold metric PQ approximates (squared L2), rounded with the
    vec_id tie-break so both engines rank identically.

    Context for the magnitude: this corpus' synthetic embeddings are
    near-isotropic (little cross-dimension structure for the K=16,
    1-round codebooks to exploit), so recall@3 sits around 0.3 at 64×
    compression — the regime where FAISS guidance says raise K / train
    more rounds / use OPQ. Real embedding corpora cluster and compress
    far better; the point of THIS query is that the tradeoff is measured
    continuously, and a codebook regression (e.g. a broken Lloyd step)
    shows up as a recall drop the driver would catch."""
    return _recall_at_k(spark, sf_dir, e2_pq_search_1round(spark, sf_dir))


def _recall_at_k(spark: SparkSession, sf_dir: str, approx: DataFrame) -> DataFrame:
    """Per-query recall@TOPK of an approximate search's (query_id,
    vec_id) hits against the EXACT squared-L2 top-TOPK (6dp-rounded,
    vec_id tie-break) over the same query set: a semi-join of the exact
    top-k against the approximate hits, then ``n_overlap`` and
    ``recall_at_3`` per query (0 for a query with no hit). The one body
    behind every ``*_recall`` name."""
    approx = approx.select("query_id", "vec_id")
    corpus = _corpus(spark, sf_dir)
    queries = _query_set(corpus)
    dist = F.round(_l2sq(F.col("emb"), F.col("q_emb")), 6)
    exact = topk_per_key_window(
        corpus.join(
            F.broadcast(queries), F.col("vec_id") != F.col("query_id")
        ).select("query_id", "vec_id", dist.alias("dist")),
        ["query_id"],
        [("dist", False), ("vec_id", False)],
        TOPK,
        "rank",
    ).select("query_id", "vec_id")
    hits = (
        exact.join(approx, ["query_id", "vec_id"], "left_semi")
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_overlap"))
    )
    n_overlap = F.coalesce(F.col("n_overlap"), F.lit(0))
    return queries.select("query_id").join(hits, "query_id", "left").select(
        "query_id",
        n_overlap.alias("n_overlap"),
        F.round(n_overlap / float(TOPK), 4).alias("recall_at_3"),
    )


def e2_sq8_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured SQ8 quality: per-query recall@3 of the scalar-quantized
    search against the EXACT L2 top-3 — e2_pq_recall's companion for the
    training-free 4x-compression point. SQ8 keeps every dimension at
    8-bit resolution (vs PQ collapsing 16-dim subspaces to one of 16
    codes), so on this corpus it should recover (nearly) the exact
    ranking — a drop in this number flags a quantization regression
    (bounds drift, rounding change) the adist-vs-exact epsilon test
    can't localize to ordering."""
    return _recall_at_k(spark, sf_dir, e2_sq8_search(spark, sf_dir))


SQ_DIM = 64  # embeddings width (matches M * SUBDIM)


def e2_sq8_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar-quantized (SQ8) ANN — the FAISS ``SQ8`` flat index as a
    relational plan, completing the quantization family between exact
    float search (e2_cosine_topk) and PQ: every dimension is linearly
    quantized to an 8-bit code against per-dimension corpus [min, max]
    bounds (4× smaller than float32, no codebook training), and search
    scores raw queries against DEQUANTIZED candidates (asymmetric
    distance, like ADC).

    Plan: one map-side-combinable per-dimension min/max aggregate (64×2
    doubles — broadcast back as two array literals, never a driver
    collect), a scan-local encode projection, then the same
    query-fan-out + fold-distance + per-query top-k shape as the PQ
    searches. At 100 TB the code table is the stored index (int8 columns,
    scan-friendly), bounds live in the index snapshot, and the coarse IVF
    stage composes in front exactly as it does for PQ — no longer a
    claim: ``e2_ivfsq8_search_1round`` is that composition, coded with
    per-cell bounds and its own measured recall@3.
    Quantization is round-half-up on identically-associated double
    arithmetic and all fold sums run in index order, so the oracle is
    IEEE-exact. One spark.sql parse (``_SQ8_SEARCH_SQL``) serves both
    catalog names (``e2_sq8_search`` and ``e2_sq8_search_sql``)."""
    return _sq8_ranked(spark, sf_dir, TOPK)


# The SQ8 ADC ranking as one spark.sql parse, at depth {topn}: the
# per-dimension bounds agg (two array literals, 1-row broadcast), a
# scan-local encode + RECONSTRUCT, the fold ADC distance vs the fixed
# 5-query broadcast, per-query top-{topn}. The reconstruction depends
# only on the corpus row, so it is computed once per corpus vector in
# `encoded` (same per-element float op order as the oracle:
# lo_j + CAST(code_j AS DOUBLE)·(hi_j − lo_j)/255), and the per-pair work
# is zip_with + one fold — ~6 expression nodes per element instead of
# ~40 when the dequantization ran inside the per-pair lambda (measured
# 0.287 s before, see OPTIMIZATION_r13.md).
_SQ8_SEARCH_SQL = """
        WITH corpus AS (
            SELECT vec_id,
                   transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
            FROM {embeddings}
        ), bounds AS (
            SELECT transform(array_sort(collect_list(struct(j, lo))),
                             s -> s.lo) AS lo,
                   transform(array_sort(collect_list(struct(j, hi))),
                             s -> s.hi) AS hi
            FROM (SELECT j, min(v) AS lo, max(v) AS hi
                  FROM (SELECT posexplode(emb) AS (j, v) FROM corpus)
                  GROUP BY j)
        ), encoded AS (
            SELECT /*+ BROADCAST(bounds) */ vec_id,
                   transform(sequence(1, 64), j ->
                       element_at(lo, j)
                       + CAST(CASE WHEN element_at(hi, j)
                                        = element_at(lo, j)
                                   THEN 0
                                   ELSE CAST(round((element_at(emb, j)
                                                    - element_at(lo, j))
                                                   / (element_at(hi, j)
                                                      - element_at(lo, j))
                                                   * 255.0, 0) AS INT)
                              END AS DOUBLE)
                         * (element_at(hi, j) - element_at(lo, j))
                         / 255.0) AS recon
            FROM corpus CROSS JOIN bounds
        ), scored AS (
            SELECT /*+ BROADCAST(q) */ q.query_id, c.vec_id,
                   round(aggregate(
                       zip_with(q.q_emb, c.recon,
                                (x, y) -> (x - y) * (x - y)),
                       CAST(0.0 AS DOUBLE), (acc, v) -> acc + v), 4)
                       AS adist
            FROM encoded c
            JOIN (SELECT vec_id AS query_id, emb AS q_emb
                  FROM corpus WHERE vec_id < 5) q
              ON c.vec_id != q.query_id
        )
        SELECT query_id, vec_id, adist, rank
        FROM (SELECT query_id, vec_id, adist,
                     row_number() OVER (PARTITION BY query_id
                                        ORDER BY adist ASC, vec_id ASC)
                         AS rank
              FROM scored)
        WHERE rank <= {topn}
"""


def _sq8_ranked(spark: SparkSession, sf_dir: str, topn: int) -> DataFrame:
    """The SQ8 ADC ranking at parametric depth — ``e2_sq8_search`` takes
    the top ``TOPK``; the refine tier widens to ``REFINE_CAND``
    candidates before the exact re-rank."""
    from ..sources.tables import scoped_views

    v = scoped_views(spark, sf_dir)
    return spark.sql(
        _SQ8_SEARCH_SQL.format(embeddings=v["embeddings"], topn=topn)
    )


REFINE_CAND = 10  # approximate candidates fed to the exact re-rank


def e2_sq8_refine_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage refine search — FAISS ``IndexRefineFlat`` over the SQ8
    tier: the quantized index proposes ``REFINE_CAND`` candidates per
    query by approximate (dequantized-L2) distance, then the candidates
    ALONE are re-scored by EXACT cosine against the raw vectors and the
    final top-``TOPK`` is ranked on the exact score. This is the
    standard serving recipe when the index must stay small (int8 codes)
    but the returned neighbors must carry true similarities: the exact
    arithmetic runs on |queries| x REFINE_CAND rows instead of the
    corpus. Plan: the SQ8 ranking's shape, then the candidate set (a
    few dozen rows) joins raw embeddings by vec_id — at 100 TB that
    refine join is a point-lookup per candidate against the bucketed
    corpus table, never a scan. Reference analog: Pinecone queries
    return approximate matches that process_case.py re-reads at full
    precision (etl/flows/process_case.py:292-318)."""
    cand = _sq8_ranked(spark, sf_dir, REFINE_CAND).select(
        "query_id", "vec_id", "adist"
    )
    corpus = _corpus(spark, sf_dir)
    queries = _query_set(corpus)
    cosine = F.round(
        _dot(F.col("emb"), F.col("q_emb"))
        / (_norm(F.col("emb")) * _norm(F.col("q_emb"))),
        4,
    )
    refined = (
        cand.join(corpus, "vec_id")
        .join(F.broadcast(queries), "query_id")
        .select("query_id", "vec_id", "adist", cosine.alias("cosine"))
    )
    return topk_per_key_window(refined, ["query_id"], _COSINE_DESC, TOPK, "rank")


def _binary_mids(corpus: DataFrame) -> DataFrame:
    """1-row (mid: array<double>) of per-dimension [min,max] MIDPOINTS —
    the training-free binarization threshold. Order-independent and so
    cross-engine exact (a per-dim mean would inherit float summation
    order)."""
    dims = corpus.select(F.posexplode("emb").alias("j", "v"))
    return (
        dims.groupBy("j")
        .agg(((F.min("v") + F.max("v")) / 2.0).alias("mid"))
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("j", "mid"))),
                lambda s: s["mid"],
            ).alias("mid")
        )
    )


def _binary_encode(corpus: DataFrame, mids: DataFrame) -> DataFrame:
    """(vec_id, emb, w_lo, w_hi): every vector sign-quantized to ONE BIT
    per dimension against the broadcast midpoints, packed into two
    32-bit words. 64x smaller than float32."""
    word = (
        "aggregate(sequence({a}, {b}), 0L, (acc, j) -> acc + "
        "IF(element_at(emb, j) > element_at(mid, j), "
        "shiftleft(1L, j - {a}), 0L))"
    )
    return corpus.crossJoin(F.broadcast(mids)).selectExpr(
        "vec_id",
        "emb",
        word.format(a=1, b=32) + " AS w_lo",
        word.format(a=33, b=64) + " AS w_hi",
    )


def binary_topk(
    corpus: DataFrame, mids: DataFrame | None = None, topn: int = TOPK
) -> DataFrame:
    """Reusable binary-search body over an arbitrary (vec_id, emb)
    corpus — shared by the catalog entry and the scale-stress probe
    (which precomputes ``mids`` outside the timed section, the
    serving posture: thresholds live in the index snapshot)."""
    coded = _binary_encode(
        corpus, mids if mids is not None else _binary_mids(corpus)
    )
    qcodes = coded.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("w_lo").alias("q_lo"),
        F.col("w_hi").alias("q_hi"),
    )
    hamming = (
        F.bit_count(F.expr("w_lo ^ q_lo")) + F.bit_count(F.expr("w_hi ^ q_hi"))
    ).cast("int")
    scored = coded.join(
        F.broadcast(qcodes), F.col("vec_id") != F.col("query_id")
    ).select("query_id", "vec_id", hamming.alias("hamming"))
    return topk_per_key_window(
        scored, ["query_id"], [("hamming", False), ("vec_id", False)], topn, "rank"
    )


def e2_binary_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BINARY (1-bit) quantization search — the bottom rung of the
    quantization ladder (FAISS ``IndexBinaryFlat``): each dimension
    collapses to its sign against the per-dim range midpoint, 64 dims
    pack into two integer words, and search ranks candidates by HAMMING
    distance — ``bit_count(xor())`` over the packed words, the cheapest
    distance a vector index can compute (two instructions per 32 dims).
    Completes the family: float (exact) → SQ8 (8-bit) → PQ (4-bit/
    subspace) → binary (1-bit); ``e2_binary_recall`` measures what the
    64x compression costs. At 100 TB the packed words are two BIGINT
    columns on the corpus table — Hamming search is a pure columnar
    scan with no array access at all, the same reason real systems
    (FAISS binary indexes, Weaviate BQ) serve first-pass retrieval from
    binary codes and refine the survivors at full precision
    (e2_sq8_refine_search's recipe). The measured form of the scan
    claim is STRESS.json's ``binary_search`` shape (2 M vectors)."""
    return binary_topk(_corpus(spark, sf_dir))


def e2_binary_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured binary-quantization quality: per-query recall@3 of the
    Hamming search vs the exact L2 top-3 (e2_sq8_recall's companion at
    the 64x compression point). Binary recall is EXPECTED to trail SQ8
    badly — measured mean 0.33 at sf0.001 / 0.13 at sf0.01 on this
    synthetic corpus, vs ~0.006 for random top-3 — and that gap is the
    recorded justification for the refine recipe (binary as first-pass
    candidate generator, exact re-rank on survivors,
    e2_sq8_refine_search's shape) over serving raw Hamming ranks. The
    pytest pin (tests/test_similarity.py) guards the
    binarizer/packing seam: a sign-flip or word-packing regression
    collapses recall to the random baseline."""
    return _recall_at_k(spark, sf_dir, e2_binary_search(spark, sf_dir))


def e2_ivfsq8_search_1round(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-routed SQ8 ANN (FAISS ``IndexIVFScalarQuantizer`` as a
    relational plan) — the round-8 family-symmetry closer: flat SQ8
    (``e2_sq8_search``) gets the same coarse stage composed in front
    that PQ has in ``e2_ivfpq_search_1round``, so every quantizer tier
    (flat → SQ8 → PQ → IVFPQ → residual IVFPQ → IVF-SQ8) now exists in
    both flat and routed form.

    The coarse stage is EXACTLY the persisted 1-round IVF quantizer
    (``_ivf1_index`` snapshot: seed assignment + nprobe=4 multi-probe —
    the single ``_coarse_cells``/``_probe_list`` definitions shared with
    every other routed search). The fine stage quantizes PER CELL: each
    cell's members get their own per-dimension [min, max] bounds (16
    cells × 64 dims — the IVF analog of FAISS's residual-trained SQ:
    intra-cell spread is much tighter than corpus-wide, so the 8-bit
    grid spends its resolution where the candidates actually live), and
    search scores raw queries against candidates dequantized with their
    OWN cell's bounds. Unlike PQ there is no per-code ADC join — the
    whole asymmetric distance folds in one projection per candidate, so
    the plan is: cell equi-join (~nprobe/k of the corpus) → fold → per-
    query top-k. All arithmetic reuses e2_sq8_search's proven-portable
    forms (round-half-up encode, index-ordered fold), so the oracle is
    IEEE-exact. At 100 TB `cell` is a partition column, the int8 code
    table is the stored index, and the 16×64×2 bounds ride the index
    snapshot."""
    corpus = _corpus(spark, sf_dir)
    seeds, centroids = _ivf1_index(spark, sf_dir)
    cells = _coarse_cells(corpus, seeds, keep_emb=True)

    dims = cells.select("cell", F.posexplode("emb").alias("j", "v"))
    cell_bounds = (
        dims.groupBy("cell", "j")
        .agg(F.min("v").alias("lo"), F.max("v").alias("hi"))
        .groupBy("cell")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("j", "lo"))),
                lambda s: s["lo"],
            ).alias("lo"),
            F.transform(
                F.array_sort(F.collect_list(F.struct("j", "hi"))),
                lambda s: s["hi"],
            ).alias("hi"),
        )
    )
    idx = F.sequence(F.lit(1), F.lit(SQ_DIM))
    lo, hi = F.col("lo"), F.col("hi")

    def _code(j):
        x = F.element_at(F.col("emb"), j)
        l, h = F.element_at(lo, j), F.element_at(hi, j)
        return (
            F.when(h == l, F.lit(0))
            .otherwise(F.round((x - l) / (h - l) * 255.0, 0).cast("int"))
        )

    encoded = cells.join(F.broadcast(cell_bounds), "cell").select(
        "vec_id", "cell", "lo", "hi", F.transform(idx, _code).alias("codes")
    )
    probes = _probe_list(_query_set(corpus), centroids, NPROBE)

    def _sq_term(j):
        deq = F.element_at(lo, j) + F.element_at(F.col("codes"), j).cast(
            "double"
        ) * (F.element_at(hi, j) - F.element_at(lo, j)) / 255.0
        diff = F.element_at(F.col("q_emb"), j) - deq
        return diff * diff

    adist = F.round(
        F.aggregate(
            F.transform(idx, _sq_term), F.lit(0.0), lambda acc, v: acc + v
        ),
        4,
    )
    scored = encoded.join(
        F.broadcast(probes),
        (F.col("cell") == F.col("probe_cell"))
        & (F.col("vec_id") != F.col("query_id")),
    ).select("query_id", "vec_id", "cell", adist.alias("adist"))
    return topk_per_key_window(scored, ["query_id"], _ADIST_ASC, TOPK, "rank")


def e2_ivfsq8_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured IVF-SQ8 quality: per-query recall@3 against the EXACT L2
    top-3 — the recall companion every quantized search in the family
    ships with (zero-debt policy: a routed index without a measured
    recall number is a claim, not a component). Captures BOTH loss
    sources at once: coarse-probe misses (candidates outside the nprobe
    cells) and per-cell 8-bit quantization error."""
    return _recall_at_k(spark, sf_dir, e2_ivfsq8_search_1round(spark, sf_dir))


QUERIES = {
    "e2_pq_search_1round": e2_pq_search_1round,
    "e2_sq8_search": e2_sq8_search,
    "e2_sq8_refine_search": e2_sq8_refine_search,
    "e2_binary_search": e2_binary_search,
    "e2_binary_recall": e2_binary_recall,
    "e2_sq8_recall": e2_sq8_recall,
    "e2_ivfsq8_search_1round": e2_ivfsq8_search_1round,
    "e2_ivfsq8_recall": e2_ivfsq8_recall,
    "e2_ivfpq_search_1round": e2_ivfpq_search_1round,
    "e2_ivfpq_residual_1round": e2_ivfpq_residual_1round,
    "e2_pq_recall": e2_pq_recall,
}

_L2SQ = (
    "round(list_sum(list_transform(range(1, 17),"
    " j -> ({a}[j] - {b}[j]) * ({a}[j] - {b}[j]))), 6)"
)

# PQ CTE chain (p_-prefixed to compose with IVF1_CENTS_SQL, which owns the
# corpus/seeds/assigned/cents names for the COARSE quantizer): subvector
# split → per-subspace 1-round codebooks → codes → per-query ADC table.
# Parameterized on the source relation so the residual variant trains the
# same codebook algebra over (emb − coarse centroid) residuals.


def _pq_ctes(src: str) -> str:
    return f"""
     p_subs AS (
        SELECT vec_id, mm.m AS m,
               list_slice(emb, mm.m * 16 + 1, mm.m * 16 + 16) AS sub
        FROM {src} CROSS JOIN (SELECT unnest(range(4)) AS m) mm
    ), p_seeds AS (
        SELECT m, vec_id AS cell, sub AS s_sub FROM p_subs WHERE vec_id < 16
    ), p_seed_d AS (
        SELECT s.vec_id, s.m, s.sub, sd.cell,
               {_L2SQ.format(a='s.sub', b='sd.s_sub')} AS d6
        FROM p_subs s JOIN p_seeds sd ON s.m = sd.m
    ), p_assigned AS (
        SELECT vec_id, m, sub, cell
        FROM (SELECT *, row_number() OVER (PARTITION BY vec_id, m
                                           ORDER BY d6 ASC, cell ASC) AS rn
              FROM p_seed_d)
        WHERE rn = 1
    ), p_cent_dims AS (
        SELECT a.m, a.cell, jj.j, round(avg(a.sub[jj.j]), 6) AS v
        FROM p_assigned a CROSS JOIN (SELECT unnest(range(1, 17)) AS j) jj
        GROUP BY a.m, a.cell, jj.j
    ), p_cents0 AS (
        SELECT m, cell, list(v ORDER BY j) AS c_sub
        FROM p_cent_dims GROUP BY m, cell
    ), p_cents AS (
        SELECT m, cell, c_sub FROM p_cents0
        UNION ALL
        SELECT s.m, s.cell, list_transform(s.s_sub, v -> round(v, 6))
        FROM p_seeds s
        WHERE NOT EXISTS (SELECT 1 FROM p_cents0 c
                          WHERE c.m = s.m AND c.cell = s.cell)
    ), p_enc_d AS (
        SELECT s.vec_id, s.m, c.cell,
               {_L2SQ.format(a='s.sub', b='c.c_sub')} AS d6
        FROM p_subs s JOIN p_cents c ON s.m = c.m
    ), p_codes AS (
        SELECT vec_id, m, cell AS code
        FROM (SELECT *, row_number() OVER (PARTITION BY vec_id, m
                                           ORDER BY d6 ASC, cell ASC) AS rn
              FROM p_enc_d)
        WHERE rn = 1
    ), p_queries AS (
        SELECT vec_id AS query_id, m, sub AS q_sub
        FROM p_subs WHERE vec_id < 5
    ), p_dtab AS (
        SELECT q.query_id, c.m, c.cell AS code,
               {_L2SQ.format(a='q.q_sub', b='c.c_sub')} AS d
        FROM p_queries q JOIN p_cents c ON q.m = c.m
    )"""


_PQ_CTES = _pq_ctes("corpus")

# SQ8 CTE chain (corpus -> per-dim bounds -> int8 encode -> queries ->
# ADC-scored pairs), shared by the flat SQ8 oracle and the refine tier
# so both cross-engine checks pin the SAME quantizer arithmetic.
_SQ8_CTES = """corpus AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
        FROM embeddings
    ), dim_bounds AS (
        SELECT jj.j AS j, min(emb[jj.j]) AS lo, max(emb[jj.j]) AS hi
        FROM corpus CROSS JOIN (SELECT unnest(range(1, 65)) AS j) jj
        GROUP BY jj.j
    ), bounds AS (
        SELECT list(lo ORDER BY j) AS lo, list(hi ORDER BY j) AS hi
        FROM dim_bounds
    ), encoded AS (
        SELECT vec_id,
               list_transform(range(1, 65), j ->
                   CASE WHEN b.hi[j] = b.lo[j] THEN 0
                        ELSE CAST(round((emb[j] - b.lo[j])
                                        / (b.hi[j] - b.lo[j]) * 255.0,
                                        0) AS INT)
                   END) AS codes
        FROM corpus CROSS JOIN bounds b
    ), queries AS (
        SELECT vec_id AS query_id, emb AS q_emb FROM corpus WHERE vec_id < 5
    ), scored AS (
        SELECT q.query_id, c.vec_id,
               round(list_sum(list_transform(range(1, 65), j ->
                   (q.q_emb[j] - (b.lo[j] + c.codes[j]
                                  * (b.hi[j] - b.lo[j]) / 255.0))
                   * (q.q_emb[j] - (b.lo[j] + c.codes[j]
                                    * (b.hi[j] - b.lo[j]) / 255.0)))), 4)
                   AS adist
        FROM encoded c CROSS JOIN bounds b
        JOIN queries q ON c.vec_id <> q.query_id
    )"""

ORACLES = {
    "e2_sq8_search": f"""
    WITH {_SQ8_CTES}
    SELECT query_id, vec_id, adist,
           CAST(row_number() OVER (PARTITION BY query_id
                                   ORDER BY adist ASC, vec_id ASC)
                AS INT) AS rank
    FROM scored QUALIFY rank <= {TOPK}
    """,
    # FAISS IndexRefineFlat over the SQ8 tier: approximate top-10 by
    # dequantized L2, exact-cosine re-rank of those candidates only
    "e2_sq8_refine_search": f"""
    WITH {_SQ8_CTES},
    cand AS (
        SELECT query_id, vec_id, adist,
               CAST(row_number() OVER (PARTITION BY query_id
                                       ORDER BY adist ASC, vec_id ASC)
                    AS INT) AS arank
        FROM scored QUALIFY arank <= 10
    ), refined AS (
        SELECT c.query_id, c.vec_id, c.adist,
               round(list_dot_product(ce.emb, q.q_emb)
                     / (sqrt(list_dot_product(ce.emb, ce.emb))
                        * sqrt(list_dot_product(q.q_emb, q.q_emb))), 4)
                   AS cosine
        FROM cand c
        JOIN corpus ce ON ce.vec_id = c.vec_id
        JOIN queries q ON q.query_id = c.query_id
    )
    SELECT query_id, vec_id, adist, cosine,
           CAST(row_number() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, vec_id ASC)
                AS INT) AS rank
    FROM refined QUALIFY rank <= {TOPK}
    """,
    "e2_pq_search_1round": f"""
    WITH corpus AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
        FROM embeddings
    ),{_PQ_CTES}
    , cand AS (
        SELECT d.query_id, co.vec_id, round(sum(d.d), 4) AS adist
        FROM p_codes co JOIN p_dtab d ON co.m = d.m AND co.code = d.code
        WHERE co.vec_id <> d.query_id
        GROUP BY d.query_id, co.vec_id
    )
    SELECT query_id, vec_id, adist,
           CAST(row_number() OVER (PARTITION BY query_id
                                   ORDER BY adist ASC, vec_id ASC) AS INT) AS rank
    FROM cand QUALIFY rank <= {TOPK}
    """,
    # recall of the ADC ranking vs exact L2 top-3 over the same queries
    "e2_pq_recall": f"""
    WITH corpus AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
        FROM embeddings
    ),{_PQ_CTES}
    , cand AS (
        SELECT d.query_id, co.vec_id, round(sum(d.d), 4) AS adist
        FROM p_codes co JOIN p_dtab d ON co.m = d.m AND co.code = d.code
        WHERE co.vec_id <> d.query_id
        GROUP BY d.query_id, co.vec_id
    ), approx AS (
        SELECT query_id, vec_id FROM (
            SELECT query_id, vec_id,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY adist ASC, vec_id ASC) AS rank
            FROM cand)
        WHERE rank <= {TOPK}
    ), queries AS (
        SELECT vec_id AS query_id, emb AS q_emb FROM corpus
        WHERE vec_id < {N_QUERIES}
    ), exact AS (
        SELECT query_id, vec_id FROM (
            SELECT query_id, vec_id,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY dist ASC, vec_id ASC) AS rank
            FROM (
                SELECT q.query_id, c.vec_id,
                       round(list_sum(list_transform(range(1, 65),
                             j -> (c.emb[j] - q.q_emb[j])
                                  * (c.emb[j] - q.q_emb[j]))), 6) AS dist
                FROM corpus c JOIN queries q ON c.vec_id <> q.query_id))
        WHERE rank <= {TOPK}
    ), hits AS (
        SELECT e.query_id, count(*) AS n_overlap
        FROM exact e JOIN approx a
          ON a.query_id = e.query_id AND a.vec_id = e.vec_id
        GROUP BY e.query_id
    )
    SELECT q.query_id,
           CAST(coalesce(h.n_overlap, 0) AS BIGINT) AS n_overlap,
           round(coalesce(h.n_overlap, 0) / CAST({TOPK} AS DOUBLE), 4)
               AS recall_at_3
    FROM queries q LEFT JOIN hits h ON h.query_id = q.query_id
    """,
    # IVF1_CENTS_SQL supplies the COARSE stage (corpus/seeds/assigned/
    # cents — identical to the e2_ivf_search_1round oracle); the p_* CTEs
    # supply the PQ stage; probes route, codes score.
    "e2_ivfpq_search_1round": IVF1_CENTS_SQL + f""",{_PQ_CTES}
    , queries AS (
        SELECT vec_id AS query_id, emb AS q_emb FROM corpus WHERE vec_id < 5
    ), probe_scored AS (
        SELECT q.query_id, ct.cell,
               round(list_dot_product(q.q_emb, ct.c_emb)
                     / (sqrt(list_dot_product(q.q_emb, q.q_emb))
                        * sqrt(list_dot_product(ct.c_emb, ct.c_emb))), 6) AS cos6
        FROM queries q CROSS JOIN cents ct
    ), probes AS (
        SELECT query_id, cell
        FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                           ORDER BY cos6 DESC, cell ASC) AS rn
              FROM probe_scored)
        WHERE rn <= {NPROBE}
    ), ivf_cand AS (
        SELECT p.query_id, a.vec_id, a.cell
        FROM assigned a JOIN probes p
          ON a.cell = p.cell AND a.vec_id <> p.query_id
    ), scored AS (
        SELECT ic.query_id, ic.vec_id, CAST(ic.cell AS INT) AS cell,
               round(sum(dt.d), 4) AS adist
        FROM ivf_cand ic
        JOIN p_codes co ON co.vec_id = ic.vec_id
        JOIN p_dtab dt ON dt.query_id = ic.query_id
                      AND dt.m = co.m AND dt.code = co.code
        GROUP BY ic.query_id, ic.vec_id, ic.cell
    )
    SELECT query_id, vec_id, cell, adist,
           CAST(row_number() OVER (PARTITION BY query_id
                                   ORDER BY adist ASC, vec_id ASC) AS INT) AS rank
    FROM scored QUALIFY rank <= {TOPK}
    """,
    # IVF-SQ8: IVF1_CENTS_SQL supplies the coarse stage (same assigned/
    # cents as every routed search); the fine stage is e2_sq8_search's
    # encode/dequantize algebra with PER-CELL bounds. No ADC join — the
    # fold happens per candidate row.
    "e2_ivfsq8_search_1round": IVF1_CENTS_SQL + f"""
    , cell_dim_bounds AS (
        SELECT a.cell, jj.j AS j, min(a.emb[jj.j]) AS lo, max(a.emb[jj.j]) AS hi
        FROM assigned a CROSS JOIN (SELECT unnest(range(1, 65)) AS j) jj
        GROUP BY a.cell, jj.j
    ), cell_bounds AS (
        SELECT cell, list(lo ORDER BY j) AS lo, list(hi ORDER BY j) AS hi
        FROM cell_dim_bounds GROUP BY cell
    ), encoded AS (
        SELECT a.vec_id, a.cell,
               list_transform(range(1, 65), j ->
                   CASE WHEN b.hi[j] = b.lo[j] THEN 0
                        ELSE CAST(round((a.emb[j] - b.lo[j])
                                        / (b.hi[j] - b.lo[j]) * 255.0,
                                        0) AS INT)
                   END) AS codes
        FROM assigned a JOIN cell_bounds b ON b.cell = a.cell
    ), queries AS (
        SELECT vec_id AS query_id, emb AS q_emb FROM corpus
        WHERE vec_id < {N_QUERIES}
    ), probe_scored AS (
        SELECT q.query_id, ct.cell,
               round(list_dot_product(q.q_emb, ct.c_emb)
                     / (sqrt(list_dot_product(q.q_emb, q.q_emb))
                        * sqrt(list_dot_product(ct.c_emb, ct.c_emb))), 6)
                   AS cos6
        FROM queries q CROSS JOIN cents ct
    ), probes AS (
        SELECT query_id, cell
        FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                           ORDER BY cos6 DESC, cell ASC) AS rn
              FROM probe_scored)
        WHERE rn <= {NPROBE}
    ), scored AS (
        SELECT q.query_id, e.vec_id, CAST(e.cell AS INT) AS cell,
               round(list_sum(list_transform(range(1, 65), j ->
                   (q.q_emb[j] - (b.lo[j] + e.codes[j]
                                  * (b.hi[j] - b.lo[j]) / 255.0))
                   * (q.q_emb[j] - (b.lo[j] + e.codes[j]
                                    * (b.hi[j] - b.lo[j]) / 255.0)))), 4)
                   AS adist
        FROM encoded e
        JOIN cell_bounds b ON b.cell = e.cell
        JOIN probes p ON p.cell = e.cell
        JOIN queries q ON q.query_id = p.query_id
                      AND e.vec_id <> q.query_id
    )
    SELECT query_id, vec_id, cell, adist,
           CAST(row_number() OVER (PARTITION BY query_id
                                   ORDER BY adist ASC, vec_id ASC) AS INT)
               AS rank
    FROM scored QUALIFY rank <= {TOPK}
    """,
    # Residual IVFPQ: the p_* chain trains on (emb − assigned seed
    # vector) residuals; the query side subtracts the PROBED cell's seed
    # before its per-cell ADC table (r_dtab keyed by probe cell).
    "e2_ivfpq_residual_1round": IVF1_CENTS_SQL + f""", resid AS (
        SELECT a.vec_id,
               list_transform(range(1, 65), j -> a.emb[j] - ct.c_emb[j]) AS emb
        FROM assigned a JOIN cents ct ON ct.cell = a.cell
    ),{_pq_ctes("resid")}
    , queries AS (
        SELECT vec_id AS query_id, emb AS q_emb FROM corpus WHERE vec_id < 5
    ), probe_scored AS (
        SELECT q.query_id, ct.cell,
               round(list_dot_product(q.q_emb, ct.c_emb)
                     / (sqrt(list_dot_product(q.q_emb, q.q_emb))
                        * sqrt(list_dot_product(ct.c_emb, ct.c_emb))), 6)
                   AS cos6
        FROM queries q CROSS JOIN cents ct
    ), probes AS (
        SELECT query_id, cell
        FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                           ORDER BY cos6 DESC, cell ASC) AS rn
              FROM probe_scored)
        WHERE rn <= {NPROBE}
    ), rq AS (
        SELECT p.query_id, p.cell,
               list_transform(range(1, 65), j -> q.q_emb[j] - ct.c_emb[j]) AS qr
        FROM probes p
        JOIN queries q ON q.query_id = p.query_id
        JOIN cents ct ON ct.cell = p.cell
    ), rq_subs AS (
        SELECT query_id, cell, mm.m AS m,
               list_slice(qr, mm.m * 16 + 1, mm.m * 16 + 16) AS q_sub
        FROM rq CROSS JOIN (SELECT unnest(range(4)) AS m) mm
    ), r_dtab AS (
        SELECT q.query_id, q.cell, c.m, c.cell AS code,
               {_L2SQ.format(a='q.q_sub', b='c.c_sub')} AS d
        FROM rq_subs q JOIN p_cents c ON q.m = c.m
    ), ivf_cand AS (
        SELECT p.query_id, a.vec_id, a.cell
        FROM assigned a JOIN probes p
          ON a.cell = p.cell AND a.vec_id <> p.query_id
    ), scored AS (
        SELECT ic.query_id, ic.vec_id, CAST(ic.cell AS INT) AS cell,
               round(sum(dt.d), 4) AS adist
        FROM ivf_cand ic
        JOIN p_codes co ON co.vec_id = ic.vec_id
        JOIN r_dtab dt ON dt.query_id = ic.query_id AND dt.cell = ic.cell
                      AND dt.m = co.m AND dt.code = co.code
        GROUP BY ic.query_id, ic.vec_id, ic.cell
    )
    SELECT query_id, vec_id, cell, adist,
           CAST(row_number() OVER (PARTITION BY query_id
                                   ORDER BY adist ASC, vec_id ASC) AS INT)
               AS rank
    FROM scored QUALIFY rank <= {TOPK}
    """,
}


# SQ8 recall composes the SQ8 search oracle (as the approx side) with the
# same exact-L2 top-k SQL the PQ recall uses — one definition of the
# quantized ranking, reused.
# IVF-SQ8 recall: the routed-quantized ranking as the approx side, the
# same exact-L2 top-k as every other recall companion.
ORACLES["e2_ivfsq8_recall"] = f"""
    WITH approx AS (
        SELECT query_id, vec_id FROM ({ORACLES["e2_ivfsq8_search_1round"]})
    ), corpus AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
        FROM embeddings
    ), queries AS (
        SELECT vec_id AS query_id, emb AS q_emb FROM corpus
        WHERE vec_id < {N_QUERIES}
    ), exact AS (
        SELECT query_id, vec_id FROM (
            SELECT query_id, vec_id,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY dist ASC, vec_id ASC) AS rank
            FROM (
                SELECT q.query_id, c.vec_id,
                       round(list_sum(list_transform(range(1, 65),
                             j -> (c.emb[j] - q.q_emb[j])
                                  * (c.emb[j] - q.q_emb[j]))), 6) AS dist
                FROM corpus c JOIN queries q ON c.vec_id <> q.query_id))
        WHERE rank <= {TOPK}
    ), hits AS (
        SELECT e.query_id, count(*) AS n_overlap
        FROM exact e JOIN approx a
          ON a.query_id = e.query_id AND a.vec_id = e.vec_id
        GROUP BY e.query_id
    )
    SELECT q.query_id,
           CAST(coalesce(h.n_overlap, 0) AS BIGINT) AS n_overlap,
           round(coalesce(h.n_overlap, 0) / CAST({TOPK} AS DOUBLE), 4)
               AS recall_at_3
    FROM queries q LEFT JOIN hits h ON h.query_id = q.query_id
"""

ORACLES["e2_sq8_recall"] = f"""
    WITH approx AS (
        SELECT query_id, vec_id FROM ({ORACLES["e2_sq8_search"]})
    ), corpus AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
        FROM embeddings
    ), queries AS (
        SELECT vec_id AS query_id, emb AS q_emb FROM corpus
        WHERE vec_id < {N_QUERIES}
    ), exact AS (
        SELECT query_id, vec_id FROM (
            SELECT query_id, vec_id,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY dist ASC, vec_id ASC) AS rank
            FROM (
                SELECT q.query_id, c.vec_id,
                       round(list_sum(list_transform(range(1, 65),
                             j -> (c.emb[j] - q.q_emb[j])
                                  * (c.emb[j] - q.q_emb[j]))), 6) AS dist
                FROM corpus c JOIN queries q ON c.vec_id <> q.query_id))
        WHERE rank <= {TOPK}
    ), hits AS (
        SELECT e.query_id, count(*) AS n_overlap
        FROM exact e JOIN approx a
          ON a.query_id = e.query_id AND a.vec_id = e.vec_id
        GROUP BY e.query_id
    )
    SELECT q.query_id,
           CAST(coalesce(h.n_overlap, 0) AS BIGINT) AS n_overlap,
           round(coalesce(h.n_overlap, 0) / CAST({TOPK} AS DOUBLE), 4)
               AS recall_at_3
    FROM queries q LEFT JOIN hits h ON h.query_id = q.query_id
"""


# Binary quantization: the [min,max]/2 midpoint threshold is
# order-independent (a per-dim MEAN would inherit float summation
# order and drift across engines/partitionings); DuckDB's ^ operator
# is exponentiation, so xor() by name.
_BINARY_CODED_SQL = f"""
    corpus AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
        FROM embeddings
    ), mids AS (
        SELECT list(mid ORDER BY j) AS mid
        FROM (SELECT jj.j AS j,
                     (min(emb[jj.j]) + max(emb[jj.j])) / 2.0 AS mid
              FROM corpus CROSS JOIN (SELECT unnest(range(1, 65)) AS j) jj
              GROUP BY jj.j)
    ), coded AS (
        SELECT vec_id,
               CAST(list_sum(list_transform(range(1, 33),
                   j -> CASE WHEN emb[j] > mid[j]
                             THEN (CAST(1 AS BIGINT) << (j - 1))
                             ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS w_lo,
               CAST(list_sum(list_transform(range(33, 65),
                   j -> CASE WHEN emb[j] > mid[j]
                             THEN (CAST(1 AS BIGINT) << (j - 33))
                             ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS w_hi
        FROM corpus CROSS JOIN mids
    ), q AS (
        SELECT vec_id AS query_id, w_lo AS q_lo, w_hi AS q_hi
        FROM coded WHERE vec_id < {N_QUERIES}
    )
"""

ORACLES["e2_binary_search"] = f"""
    WITH {_BINARY_CODED_SQL}
    SELECT query_id, vec_id, hamming, CAST(rank AS INT) AS rank FROM (
        SELECT q.query_id, c.vec_id,
               CAST(bit_count(xor(c.w_lo, q.q_lo))
                    + bit_count(xor(c.w_hi, q.q_hi)) AS INT) AS hamming,
               row_number() OVER (
                   PARTITION BY q.query_id
                   ORDER BY bit_count(xor(c.w_lo, q.q_lo))
                            + bit_count(xor(c.w_hi, q.q_hi)) ASC,
                            c.vec_id ASC) AS rank
        FROM coded c JOIN q ON c.vec_id <> q.query_id)
    WHERE rank <= {TOPK}
"""

ORACLES["e2_binary_recall"] = f"""
    WITH approx AS (
        SELECT query_id, vec_id FROM ({ORACLES["e2_binary_search"]})
    ), corpus AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
        FROM embeddings
    ), queries AS (
        SELECT vec_id AS query_id, emb AS q_emb FROM corpus
        WHERE vec_id < {N_QUERIES}
    ), exact AS (
        SELECT query_id, vec_id FROM (
            SELECT query_id, vec_id,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY dist ASC, vec_id ASC) AS rank
            FROM (
                SELECT q.query_id, c.vec_id,
                       round(list_sum(list_transform(range(1, 65),
                             j -> (c.emb[j] - q.q_emb[j])
                                  * (c.emb[j] - q.q_emb[j]))), 6) AS dist
                FROM corpus c JOIN queries q ON c.vec_id <> q.query_id))
        WHERE rank <= {TOPK}
    ), hits AS (
        SELECT e.query_id, count(*) AS n_overlap
        FROM exact e JOIN approx a
          ON a.query_id = e.query_id AND a.vec_id = e.vec_id
        GROUP BY e.query_id
    )
    SELECT q.query_id,
           CAST(coalesce(h.n_overlap, 0) AS BIGINT) AS n_overlap,
           round(coalesce(h.n_overlap, 0) / CAST({TOPK} AS DOUBLE), 4)
               AS recall_at_3
    FROM queries q LEFT JOIN hits h ON h.query_id = q.query_id
"""
