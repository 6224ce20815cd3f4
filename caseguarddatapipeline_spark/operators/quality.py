"""Corpus-hygiene operators for the training-data pipeline: a published
rule-battery quality filter (Gopher-style per-rule flags rather than one
blended score), a deterministic text canonicalization pass, a seeded
global shuffle that assigns training shards reproducibly, and
gaps-and-islands activity analysis over the event stream.

Reference parity: the reference scores document quality while extracting
text (docproc/extractor.py:210-240 quality_score on extraction output) and
filters admissible documents by size/format (docproc/format_config.py:86-145);
these operators generalize that into the rule-battery / canonicalize /
shuffle-shard stages a 100 TB pretraining corpus build needs. All four are
pure DataFrame algebra — no Python rows, no collects — so they inherit
whole-stage codegen and scale with the cluster.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from ..sources import load_table
from .textops import STOPWORDS
from .topk import exact_rank, ntile, ntile_start

# Rule thresholds sit inside the synthetic corpus' observed spread
# (n_words 10-99, distinct-ratio 0.28-0.72 at sf0.01) so every rule
# discriminates; at a real corpus these become tenant config (the same
# pattern config.py uses for canonical fields).
MIN_WORDS, MAX_WORDS = 20, 90
MIN_MEAN_WLEN, MAX_MEAN_WLEN = 4.0, 4.9
MIN_DISTINCT_RATIO = 0.45
N_SHARDS = 8
SHUFFLE_SEED = "seed42:"


def e3_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rule-battery quality filter (Gopher/C4 style): each document gets a
    boolean per rule plus the conjunction, so downstream curation can
    report WHICH rule rejected a document (e5_curation_funnel composes
    per-stage counts the same way). Unlike e3_quality_score's blended
    scalar, the battery is auditable — the form production corpus filters
    take (Rae et al. 2021 §A1.1, public).

    One scan, one projection — every rule is column algebra over the
    split-once token array, so the whole battery runs inside one
    codegen stage and the scan reads only (doc_id, text)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    n_words = F.size(toks)
    # single-space tokenization ⇒ mean word length is arithmetic, no loop
    mean_wlen = (F.length("text") - (n_words - 1)).cast("double") / n_words
    distinct_ratio = F.size(F.array_distinct(toks)).cast("double") / n_words
    ok_n_words = (n_words >= MIN_WORDS) & (n_words <= MAX_WORDS)
    ok_mean_wlen = (mean_wlen >= MIN_MEAN_WLEN) & (mean_wlen <= MAX_MEAN_WLEN)
    ok_distinct = distinct_ratio >= MIN_DISTINCT_RATIO
    ok_stopword = F.arrays_overlap(toks, F.array(*[F.lit(s) for s in STOPWORDS]))
    return docs.select(
        "doc_id",
        n_words.alias("n_words"),
        F.round(mean_wlen, 4).alias("mean_word_len"),
        F.round(distinct_ratio, 4).alias("distinct_ratio"),
        ok_n_words.alias("ok_n_words"),
        ok_mean_wlen.alias("ok_mean_word_len"),
        ok_distinct.alias("ok_distinct_ratio"),
        ok_stopword.alias("ok_stopword"),
        (ok_n_words & ok_mean_wlen & ok_distinct & ok_stopword).alias("passed"),
    )


def e3_text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonicalization pass: lowercase, trim, collapse runs of whitespace
    (space/tab) to single spaces — the normalization that runs before
    exact dedup so byte-identical-modulo-whitespace documents collapse to
    one content key (e1_exact_dedup hashes the canonical form in a real
    corpus build).

    The synthetic corpus is already single-spaced, so the query first
    derives a DETERMINISTIC messy variant per doc_id (padding, tabs,
    uppercasing, doubled spaces — the classes of noise web text carries)
    and then normalizes it; the oracle applies the identical derivation,
    making the round-trip exactly checkable. ``norm_key`` md5s the
    canonical text (md5 is bit-identical across engines, unlike
    xxhash64 — FIXTURES.md §D)."""
    docs = load_table(spark, sf_dir, "documents")
    mode = F.pmod(F.col("doc_id"), F.lit(3))
    messy = (
        F.when(mode == 0, F.concat(F.lit("  "), F.regexp_replace("text", " ", "   ")))
        .when(mode == 1, F.concat(F.upper(F.col("text")), F.lit("\t\t")))
        .otherwise(F.concat(F.lit("\t "), F.col("text"), F.lit("  ")))
    )
    norm = F.lower(F.trim(F.regexp_replace(messy, r"[ \t]+", " ")))
    return docs.select(
        "doc_id",
        F.length(messy).alias("raw_len"),
        F.length(norm).alias("norm_len"),
        F.md5(norm).alias("norm_key"),
        (norm == F.col("text")).alias("roundtrips"),
    )


def e5_global_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seeded deterministic global shuffle → training-shard assignment:
    order documents by md5(seed ‖ doc_id), cut the order into N_SHARDS
    equal shards (ntile), number positions within each shard. Reproducible
    across runs/engines because the permutation is a pure function of
    (seed, doc_id) — the property a training job needs to resume mid-epoch.

    The oracle states this as ntile over one global sort. Here the global
    rank is ``topk.exact_rank`` over the 2-hex-char prefix of the order
    key: a PREFIX of the key, so (bucket, key) order equals key order
    exactly, and md5 uniformity bounds every window task at ~n/256 (widen
    the prefix past that). ``shard`` is ``ntile`` arithmetic on (rank, n)
    and ``pos`` is rank minus the shard's start — exact at every shard
    boundary, with no stage that holds the whole order."""
    docs = load_table(spark, sf_dir, "documents")
    keyed = docs.select(
        "doc_id",
        "source",
        F.md5(F.concat(F.lit(SHUFFLE_SEED), F.col("doc_id").cast("string"))).alias(
            "order_key"
        ),
    ).withColumn("bucket", F.substring("order_key", 1, 2))
    rnk, n, shard = F.col("rnk"), F.col("n"), F.col("shard")
    return (
        exact_rank(keyed, "rnk", [F.col("order_key")], "bucket")
        .crossJoin(F.broadcast(docs.agg(F.count(F.lit(1)).alias("n"))))
        .withColumn("shard", ntile(rnk, n, N_SHARDS).cast("int"))
        .select(
            "doc_id",
            "source",
            "order_key",
            "shard",
            (rnk - ntile_start(shard, n, N_SHARDS)).cast("int").alias("pos"),
        )
    )


def curriculum_order_scaled(docs: DataFrame) -> DataFrame:
    """Curriculum data ordering: documents sorted into quality QUARTILES
    (easy/high-quality first), seeded-shuffled WITHIN each quartile — the
    banded ordering curriculum-learning pipelines feed the trainer
    (ordered between bands, decorrelated within). Band = ntile(4) over
    the distinct-token-ratio quality signal (descending, doc_id
    tie-break); within-band position = row_number over the md5
    permutation (same key construction as e5_global_shuffle, so the
    within-band order is reproducible and engine-exact). Global training
    position = (band, pos) lexicographic.

    The oracle states both steps as data-sized global windows; this body
    computes the identical rows (pinned against the oracle by
    tests/test_quality.py) with both ranks taken by ``topk.exact_rank``:

    - the quartile rank buckets on the quality value itself: the offset
      window runs over the DISTINCT quality values, never over documents,
      and per-task work is bounded by the largest tie group; ``ntile``
      arithmetic on (rank, n) gives the band.
    - the in-band position buckets on the 2-hex-char prefix of the md5
      shuffle key within each band (a 4×256-row histogram), so no task
      holds a quarter of the corpus.
    """
    toks = F.split(F.col("text"), " ")
    quality = F.size(F.array_distinct(toks)).cast("double") / F.size(toks)
    # negated (exactly, in IEEE) so ascending buckets are descending
    # quality; the one column serves as key and output, so both consumers
    # of the rank read the same exchange
    scored = docs.select(
        "doc_id",
        (-F.round(quality, 6)).alias("neg_quality"),
        F.md5(F.concat(F.lit(SHUFFLE_SEED), F.col("doc_id").cast("string"))).alias(
            "shuffle_key"
        ),
    )
    n_total = scored.agg(F.count(F.lit(1)).alias("n"))
    banded = (
        exact_rank(scored, "rnk", [F.col("doc_id")], "neg_quality")
        .crossJoin(F.broadcast(n_total))
        .select(
            "doc_id",
            (-F.col("neg_quality")).alias("quality"),
            "shuffle_key",
            F.substring("shuffle_key", 1, 2).alias("bucket"),
            ntile(F.col("rnk"), F.col("n"), 4).cast("int").alias("band"),
        )
    )
    return exact_rank(
        banded, "pos_in_band", [F.col("shuffle_key")], "bucket", by=["band"]
    ).select(
        "doc_id",
        "quality",
        "band",
        F.col("pos_in_band").cast("int").alias("pos_in_band"),
    )


def e5_curriculum_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-quartile curriculum ordering of the corpus, seeded-shuffled
    within bands (also served as e5_curriculum_order_scaled)."""
    return curriculum_order_scaled(load_table(spark, sf_dir, "documents"))


def w11_gaps_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands: maximal runs of CONSECUTIVE active days per user
    (monitoring/dashboard.py:311-382 reports activity continuity; the
    reference loops per case, this is the one-pass relational form).
    Classic island key: day − row_number(day) is constant within a
    consecutive run. One shuffle on user_id; the distinct and both
    window/group steps reuse that partitioning."""
    events = load_table(spark, sf_dir, "events")
    days = events.select("user_id", F.to_date("ts").alias("day")).distinct()
    rn = F.row_number().over(Window.partitionBy("user_id").orderBy("day"))
    islands = days.select("user_id", "day", F.date_sub(F.col("day"), rn).alias("island_key"))
    return (
        islands.groupBy("user_id", "island_key")
        .agg(
            F.min("day").alias("island_start"),
            F.max("day").alias("island_end"),
            F.count(F.lit(1)).alias("n_days"),
        )
        .drop("island_key")
        .select("user_id", "island_start", "island_end", "n_days")
    )


def e5_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-weighted deterministic sampling: keep a document with
    probability equal to its quality weight (here the distinct-token
    ratio — the repetition-penalizing signal from the gopher battery).
    The acceptance draw is the Knuth multiplicative hash of doc_id mapped
    to [0,1): deterministic, engine-exact integer math (same construction
    as p8_stable_sample), so the SAME documents survive on every run,
    engine, and cluster size — unlike ``df.sample`` whose outcome depends
    on partitioning. This is the up/down-weighting primitive a corpus
    mixture applies per quality band (e5_domain_mixture holds the
    per-source weights; this applies a per-DOCUMENT weight)."""
    from .relational5 import KNUTH, MOD

    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    weight = F.size(F.array_distinct(toks)).cast("double") / F.size(toks)
    draw = F.pmod(F.col("doc_id") * F.lit(KNUTH), F.lit(MOD)) / F.lit(float(MOD))
    return docs.select(
        "doc_id",
        "source",
        F.round(weight, 6).alias("weight"),
        F.round(draw, 6).alias("draw"),
        (draw < weight).alias("kept"),
    )


TOKEN_BUDGET_PER_SOURCE = 1000


_BUDGET_BUCKETS = 32  # hash-prefix buckets per source; scale with source size


def token_budget_sample_scaled(
    docs: DataFrame, budget: int = TOKEN_BUDGET_PER_SOURCE
) -> DataFrame:
    """Fit each source to a TOKEN budget — the final packing constraint of
    corpus assembly ("2 T tokens total, at most B from source s"), a
    different primitive from the doc-count cap (e5_stratified_sample) and
    the per-doc acceptance weight (e5_weighted_sample): documents are
    taken in stable content-hash order (deterministic, id- and
    partitioning-independent) and a source's prefix is kept while the
    RUNNING token total stays within budget — a doc is admitted iff the
    cumulative count INCLUDING it is ≤ B, so the boundary doc that would
    overflow is dropped and admission is a pure function of the corpus.
    Every source appears in the fit report, a fully-over-budget one as
    an n_docs_kept=0 row (not absent).

    The oracle states the running sum as one cumulative window per
    source, which sorts each source in ONE task (a straggler when one
    source is half the corpus). Here ``topk.exact_rank`` takes the
    running sum over a DETERMINISTIC hash-prefix bucket — h is already
    uniform in [0, 1e6), so bucket = h DIV (1e6 / _BUDGET_BUCKETS) is
    monotone in the admission order and balanced by construction: a
    giant source spans _BUDGET_BUCKETS window tasks instead of one, and
    the per-(source, bucket) token offsets are a metadata-sized
    broadcast. No driver collect anywhere.

    Admission (cum ≤ budget) and the per-source fit report match the
    oracle row-for-row — pinned by tests/test_quality.py."""
    from .dedup import _portable_token_hash

    width = max(1, 1_000_000 // _BUDGET_BUCKETS)
    h = F.pmod(_portable_token_hash(F.col("text")), F.lit(1_000_000))
    ranked = docs.select(
        "doc_id",
        "source",
        h.alias("h"),
        F.size(F.filter(F.split(F.col("text"), " "), lambda t: t != "")).alias(
            "n_tokens"
        ),
    ).withColumn("_bkt", F.floor(F.col("h") / width).cast("int"))
    cum = exact_rank(
        ranked,
        "cum_tokens",
        [F.col("h").asc(), F.col("doc_id").asc()],
        "_bkt",
        by=["source"],
        value="n_tokens",
    )
    kept = cum.filter(F.col("cum_tokens") <= budget)
    fit = kept.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs_kept"),
        F.max("cum_tokens").cast("bigint").alias("tokens_used"),
        F.min("h").cast("bigint").alias("first_hash"),
        F.max("h").cast("bigint").alias("last_hash"),
    )
    return (
        ranked.select("source").distinct()
        .join(fit, "source", "left")
        .na.fill({"n_docs_kept": 0, "tokens_used": 0})
        .withColumn(
            "budget_fill",
            F.round(
                F.col("tokens_used").cast("double") / F.lit(float(budget)), 6
            ),
        )
        .orderBy("source")
    )


def e5_token_budget_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source token-budget fit report over the corpus (also served as
    e5_token_budget_sample_scaled)."""
    return token_budget_sample_scaled(load_table(spark, sf_dir, "documents"))


def e5_soft_dedup_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SOFT dedup: instead of dropping near-duplicates, DOWN-WEIGHT them
    — every document is kept with probability 1/|its near-dup cluster|,
    so each cluster contributes ~one document's worth of mass to the
    training mix while which member survives stays deterministic (the
    Knuth-hash acceptance draw of e5_weighted_sample). This is the
    repetition-control middle ground between hard removal
    (e5_corpus_curation's LSH stage) and no dedup: boilerplate families
    are not erased, they are normalized to unit weight — the treatment
    mixture builders apply when duplicates carry signal (popularity) but
    must not dominate.

    Clusters come from the oracle-checked connected-components pass
    (e1_dedup_clusters — LSH pairs → min-label propagation); documents
    outside the pair graph are singletons with weight 1. Scale posture is
    the cluster pass's (banded LSH + shallow label propagation); the
    weighting itself is one broadcast-joined projection."""
    from .dedup import e1_dedup_clusters
    from .relational5 import KNUTH, MOD

    docs = load_table(spark, sf_dir, "documents")
    clusters = e1_dedup_clusters(spark, sf_dir).select(
        "doc_id", "cluster_id", "cluster_size"
    )
    joined = docs.select("doc_id", "source").join(clusters, "doc_id", "left")
    size = F.coalesce(F.col("cluster_size"), F.lit(1)).cast("bigint")
    weight = F.lit(1.0) / size
    draw = F.pmod(F.col("doc_id") * F.lit(KNUTH), F.lit(MOD)) / F.lit(float(MOD))
    return joined.select(
        "doc_id",
        "source",
        F.coalesce(F.col("cluster_id"), F.col("doc_id")).alias("cluster_id"),
        size.alias("cluster_size"),
        F.round(weight, 6).alias("weight"),
        F.round(draw, 6).alias("draw"),
        (draw < weight).alias("kept"),
    )


GLOBAL_TOKEN_BUDGET = 6000


# The one-statement form: the water-fill level from ONE aggregation over
# the #sources-row totals, then the per-source prefix admission. Spark
# inlines `ranked` per reference (three documents scans), so this is only
# the fallback. {budget} is GLOBAL_TOKEN_BUDGET, read per call.
_GLOBAL_BUDGET_SQL = """
    WITH ranked AS (
        SELECT doc_id, source,
               aggregate(split(text, ''), CAST(0 AS BIGINT),
                         (acc, c) -> (acc * 131 + ascii(c))
                                     % 2147483647) % 1000000 AS h,
               size(filter(split(text, ' '), t -> t != ''))
                   AS n_tokens
        FROM {documents}
    ), totals AS (
        SELECT source, CAST(sum(n_tokens) AS BIGINT) AS t
        FROM ranked GROUP BY source
    ), sorted_t AS (
        SELECT source, t,
               CAST(row_number() OVER w AS BIGINT) AS i,
               CAST(sum(t) OVER w AS BIGINT) AS cum,
               lead(t) OVER w AS t_next,
               CAST(count(*) OVER () AS BIGINT) AS n
        FROM totals WINDOW w AS (ORDER BY t ASC, source ASC)
    ), lvl AS (
        SELECT coalesce(
                   CASE WHEN t1 * n > {budget}
                        THEN CAST({budget} div n AS BIGINT) END,
                   level_i, t_max) AS level
        FROM (SELECT min(CASE WHEN i = 1 THEN t END) AS t1,
                     max(n) AS n, max(t) AS t_max,
                     min_by(
                         CASE WHEN t_next IS NOT NULL
                               AND t_next * (n - i) > {budget} - cum
                               AND cum <= {budget}
                              THEN CAST(({budget} - cum) div (n - i)
                                        AS BIGINT) END,
                         CASE WHEN t_next IS NOT NULL
                               AND t_next * (n - i) > {budget} - cum
                               AND cum <= {budget}
                              THEN i END) AS level_i
              FROM sorted_t)
    ), caps AS (
        SELECT /*+ BROADCAST(lvl) */ source, t,
               least(t, level) AS cap
        FROM totals CROSS JOIN lvl
    ), fit AS (
        SELECT source, count(*) AS n_docs_kept,
               CAST(max(cum_tokens) AS BIGINT) AS tokens_used
        FROM (SELECT /*+ BROADCAST(caps) */ r.source, r.cum_tokens
              FROM (SELECT source, doc_id, n_tokens,
                           CAST(sum(n_tokens) OVER (
                               PARTITION BY source
                               ORDER BY h ASC, doc_id ASC)
                               AS BIGINT) AS cum_tokens
                    FROM ranked) r
              JOIN caps ON r.source = caps.source
              WHERE r.cum_tokens <= caps.cap)
        GROUP BY source
    )
    SELECT c.source,
           c.t AS total_tokens,
           CAST(c.cap AS BIGINT) AS cap,
           c.t <= c.cap AS fully_kept,
           coalesce(f.n_docs_kept, 0) AS n_docs_kept,
           CAST(coalesce(f.tokens_used, 0) AS BIGINT) AS tokens_used
    FROM caps c LEFT JOIN fit f ON c.source = f.source
    ORDER BY c.source
"""

# The main form, restructured in round 13 (measured at sf0.1: 0.42 s
# exec and 22 Exchanges for the one-statement form). The allocation
# level is a function of the per-source TOTALS table — #sources rows,
# metadata-sized at any corpus scale: decide on that lightweight proxy
# and touch the heavy rows once. So one cheap tokenize-only
# aggregation collects the totals (the same metadata-collect pattern as
# the IVF centroids, vecindex.py), the level is computed driver-side with
# the IDENTICAL integer arithmetic as the one-statement form, and ONE
# main job runs the expensive char-hash + admission window against the
# #sources-row caps relation inlined as a VALUES literal (broadcast).
# Two scans instead of three, the expensive projection exactly once, no
# BNLJ barrier. Recomputed per invocation — nothing is memoized across
# runs.
#
# Round 14 (small-side discipline): the collect + inlined
# VALUES literal is metadata-sized only while `source` is a bounded
# label set. A corpus that keyed source by, say, domain (10^6-10^7
# distinct values) would blow up both the driver collect and the SQL
# text, so the collect is LIMIT-bounded: past this many distinct
# sources the query falls back to _GLOBAL_BUDGET_SQL, which computes the
# same water-fill level entirely engine-side. 10k sources ≈ a 500 KB
# VALUES literal — comfortably metadata-sized; the fallback is pinned by
# tests/test_sql_surface.py.
_GLOBAL_BUDGET_MAX_SOURCES = 10_000

_GLOBAL_BUDGET_TOTALS_SQL = """
    SELECT source, CAST(sum(n_tokens) AS BIGINT) AS t
    FROM (SELECT source,
                 size(array_remove(split(text, ' '), '')) AS n_tokens
          FROM {documents})
    GROUP BY source
"""

_GLOBAL_BUDGET_MAIN_SQL = """
    WITH caps AS (
        SELECT source, CAST(t AS BIGINT) AS t, CAST(cap AS BIGINT) AS cap
        FROM (VALUES {caps_values}) AS v(source, t, cap)
    ), ranked AS (
        SELECT doc_id, source,
               aggregate(split(text, ''), CAST(0 AS BIGINT),
                         (acc, c) -> (acc * 131 + ascii(c))
                                     % 2147483647) % 1000000 AS h,
               size(array_remove(split(text, ' '), '')) AS n_tokens
        FROM {documents}
    ), fit AS (
        SELECT source, count(*) AS n_docs_kept,
               CAST(max(cum_tokens) AS BIGINT) AS tokens_used
        FROM (SELECT /*+ BROADCAST(caps) */ r.source, r.cum_tokens
              FROM (SELECT source, doc_id, n_tokens,
                           CAST(sum(n_tokens) OVER (
                               PARTITION BY source
                               ORDER BY h ASC, doc_id ASC)
                               AS BIGINT) AS cum_tokens
                    FROM ranked) r
              JOIN caps ON r.source = caps.source
              WHERE r.cum_tokens <= caps.cap)
        GROUP BY source
    )
    SELECT c.source,
           c.t AS total_tokens,
           CAST(c.cap AS BIGINT) AS cap,
           c.t <= c.cap AS fully_kept,
           coalesce(f.n_docs_kept, 0) AS n_docs_kept,
           CAST(coalesce(f.tokens_used, 0) AS BIGINT) AS tokens_used
    FROM caps c LEFT JOIN fit f ON c.source = f.source
    ORDER BY c.source
    LIMIT {n_sources}
"""
# ^ The LIMIT equals the exact output row count (one row per source,
# known at build time from the collected totals), so it is a no-op on
# the data at any scale but lets the final ORDER BY plan as
# TakeOrderedAndProject instead of a global Sort+Exchange — one fewer
# stage per execution (falls back to the sort automatically if a corpus
# ever exceeded the topK threshold).


def _water_fill_level(ts: list[int], budget: int) -> int:
    """The one-statement form's level pick, verbatim in integers, over
    ts ascending: coalesce(CASE WHEN t1*n > B THEN B div n END,
    first feasible (B - cum_i) div (n - i), t_max)."""
    n = len(ts)
    if ts[0] * n > budget:
        return budget // n
    cum = 0
    for i in range(1, n):  # t_next = ts[i] exists only for i < n
        cum += ts[i - 1]
        if ts[i] * (n - i) > budget - cum and cum <= budget:
            return (budget - cum) // (n - i)
    return ts[-1]


def e5_global_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONE global token budget allocated across sources by WATER-FILLING
    — the corpus-assembly constraint e5_token_budget_sample's fixed
    per-source budget can't express ("2 T tokens total", not "B per
    source"): sources smaller than the water level keep everything; the
    level is set so the capped sources' share exhausts the remainder.
    This is how a mixture target is met without starving small domains
    or letting one crawl swallow the budget. Also served as
    e5_global_token_budget_sql.

    Exact and engine-portable by construction — ALL integer arithmetic:
    sort the per-source token totals ascending (t_1 ≤ … ≤ t_n, prefix
    sums cum_i); prefix i is feasible iff every remaining source exceeds
    the implied level, i.e. t_{i+1}·(n−i) > B − cum_i, and the chosen
    prefix is the FIRST feasible one (all comparisons cross-multiplied,
    no division); the level is then (B − cum_i) DIV (n − i), so
    Σ min(t_s, level) ≤ B with integer caps. Per-source admission reuses
    the token-budget prefix rule (stable content-hash order, running sum
    ≤ cap). Emits the per-source allocation report."""
    from ..sources.tables import scoped_views

    views = scoped_views(spark, sf_dir)
    # bounded collect (LIMIT n+1): one row past the cap proves the
    # source set is NOT metadata-sized, without collecting it all
    totals = (
        spark.sql(_GLOBAL_BUDGET_TOTALS_SQL.format(**views))
        .limit(_GLOBAL_BUDGET_MAX_SOURCES + 1)
        .collect()
    )
    if not totals or len(totals) > _GLOBAL_BUDGET_MAX_SOURCES:
        # degenerate empty corpus, or source cardinality beyond the
        # VALUES-literal bound: the one-statement form
        return spark.sql(
            _GLOBAL_BUDGET_SQL.format(budget=GLOBAL_TOKEN_BUDGET, **views)
        )
    rows = sorted((int(r["t"]), str(r["source"])) for r in totals)
    level = _water_fill_level([t for t, _ in rows], GLOBAL_TOKEN_BUDGET)
    caps_values = ", ".join(
        "('{}', {}, {})".format(s.replace("'", "''"), t, min(t, level))
        for t, s in rows
    )
    return spark.sql(
        _GLOBAL_BUDGET_MAIN_SQL.format(
            caps_values=caps_values,
            documents=views["documents"],
            n_sources=len(rows),
        )
    )


def zscore_by_source_scaled(docs: DataFrame) -> DataFrame:
    """Per-group feature normalization: z-score, percent rank, and decile
    of document length WITHIN each source — the per-domain normalization
    step before mixing heterogeneous sources (raw length is not
    comparable across a code crawl and a chat log).

    The oracle states the ranks as windows partitioned by source, which
    sort each source in ONE task — fine for many smallish domains, a
    straggler when one source is half the corpus. This body computes the
    identical rows (pinned against the oracle by tests/test_quality.py)
    with ``topk.exact_rank`` bucketed on the value itself: the offset is
    a running sum over the (source, n_chars) histogram — sources ×
    distinct values, never documents — and the row number runs within
    one tie group. percent_rank = (rank−1)/(n−1) and ``ntile`` are then
    column math from (rank, n), so every task is bounded by the largest
    TIE GROUP instead of the largest SOURCE."""
    stats = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n"),
        F.avg("n_chars").alias("mu"),
        F.stddev_samp("n_chars").alias("sd"),
    )
    ranked = exact_rank(
        docs.select("doc_id", "source", "n_chars"),
        "rnk",
        [F.col("doc_id")],
        "n_chars",
        by=["source"],
    ).join(F.broadcast(stats), "source")
    tile = ntile(F.col("rnk"), F.col("n"), 10)
    return ranked.select(
        "doc_id",
        "source",
        "n_chars",
        F.round((F.col("n_chars") - F.col("mu")) / F.col("sd"), 4).alias("z_len"),
        # greatest(n-1, 1): a singleton source must give 0.0 exactly like
        # percent_rank over a 1-row partition, not NULL from 0/0
        F.round(
            (F.col("rnk") - 1) / F.greatest(F.col("n") - 1, F.lit(1)), 6
        ).alias("len_pct_rank"),
        tile.cast("int").alias("len_decile"),
    )


def e3_zscore_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source length z-score, percent rank and decile over the corpus
    (also served as e3_zscore_by_source_scaled)."""
    return zscore_by_source_scaled(load_table(spark, sf_dir, "documents"))


QUERIES = {
    "e3_gopher_rules": e3_gopher_rules,
    "e3_text_normalize": e3_text_normalize,
    "e3_zscore_by_source": e3_zscore_by_source,
    "e5_global_shuffle": e5_global_shuffle,
    "e5_curriculum_order": e5_curriculum_order,
    "e5_weighted_sample": e5_weighted_sample,
    "e5_token_budget_sample": e5_token_budget_sample,
    "e5_global_token_budget": e5_global_token_budget,
    "e5_soft_dedup_sample": e5_soft_dedup_sample,
    "w11_gaps_islands": w11_gaps_islands,
}

_STOPLIST_SQL = ", ".join(f"'{s}'" for s in STOPWORDS)

ORACLES = {
    "e5_token_budget_sample": f"""
        WITH ranked AS (
            SELECT doc_id, source,
                   list_reduce(list_prepend(CAST(0 AS BIGINT),
                       list_transform(string_split(text, ''),
                                      c -> CAST(ascii(c) AS BIGINT))),
                       (a, c) -> (a * 131 + c) % 2147483647) % 1000000 AS h,
                   len(list_filter(string_split(text, ' '),
                                   t -> t <> '')) AS n_tokens
            FROM documents
        ), cum AS (
            SELECT *, sum(n_tokens) OVER (
                PARTITION BY source ORDER BY h ASC, doc_id ASC
                ROWS UNBOUNDED PRECEDING) AS cum_tokens
            FROM ranked
        ), kept AS (
            SELECT * FROM cum WHERE cum_tokens <= {TOKEN_BUDGET_PER_SOURCE}
        ), fit AS (
            SELECT source,
                   count(*) AS n_docs_kept,
                   CAST(max(cum_tokens) AS BIGINT) AS tokens_used,
                   CAST(min(h) AS BIGINT) AS first_hash,
                   CAST(max(h) AS BIGINT) AS last_hash
            FROM kept GROUP BY source
        )
        SELECT s.source,
               coalesce(f.n_docs_kept, 0) AS n_docs_kept,
               CAST(coalesce(f.tokens_used, 0) AS BIGINT) AS tokens_used,
               f.first_hash,
               f.last_hash,
               round(CAST(coalesce(f.tokens_used, 0) AS DOUBLE)
                     / CAST({TOKEN_BUDGET_PER_SOURCE} AS DOUBLE), 6)
                   AS budget_fill
        FROM (SELECT DISTINCT source FROM ranked) s
        LEFT JOIN fit f USING (source)
        ORDER BY s.source
    """,
    "e3_gopher_rules": f"""
        WITH w AS (
            SELECT doc_id, text, string_split(text, ' ') AS ws,
                   len(string_split(text, ' ')) AS n_words
            FROM documents
        ), m AS (
            SELECT doc_id, n_words,
                   CAST(length(text) - (n_words - 1) AS DOUBLE) / n_words
                       AS mean_wlen,
                   CAST(len(list_distinct(ws)) AS DOUBLE) / n_words AS dratio,
                   len(list_intersect(ws, [{_STOPLIST_SQL}])) > 0 AS ok_stopword
            FROM w
        )
        SELECT doc_id, n_words,
               round(mean_wlen, 4) AS mean_word_len,
               round(dratio, 4) AS distinct_ratio,
               n_words BETWEEN {MIN_WORDS} AND {MAX_WORDS} AS ok_n_words,
               mean_wlen BETWEEN {MIN_MEAN_WLEN} AND {MAX_MEAN_WLEN}
                   AS ok_mean_word_len,
               dratio >= {MIN_DISTINCT_RATIO} AS ok_distinct_ratio,
               ok_stopword,
               (n_words BETWEEN {MIN_WORDS} AND {MAX_WORDS})
                   AND (mean_wlen BETWEEN {MIN_MEAN_WLEN} AND {MAX_MEAN_WLEN})
                   AND dratio >= {MIN_DISTINCT_RATIO}
                   AND ok_stopword AS passed
        FROM m
    """,
    "e3_text_normalize": """
        WITH messy AS (
            SELECT doc_id, text,
                   CASE doc_id % 3
                     WHEN 0 THEN '  ' || replace(text, ' ', '   ')
                     WHEN 1 THEN upper(text) || chr(9) || chr(9)
                     ELSE chr(9) || ' ' || text || '  '
                   END AS raw
            FROM documents
        )
        SELECT doc_id,
               length(raw) AS raw_len,
               length(lower(trim(regexp_replace(raw, '[ \t]+', ' ', 'g'))))
                   AS norm_len,
               md5(lower(trim(regexp_replace(raw, '[ \t]+', ' ', 'g'))))
                   AS norm_key,
               lower(trim(regexp_replace(raw, '[ \t]+', ' ', 'g'))) = text
                   AS roundtrips
        FROM messy
    """,
    "e5_global_shuffle": f"""
        WITH keyed AS (
            SELECT doc_id, source,
                   md5('{SHUFFLE_SEED}' || CAST(doc_id AS VARCHAR)) AS order_key
            FROM documents
        ), sharded AS (
            SELECT doc_id, source, order_key,
                   CAST(ntile({N_SHARDS}) OVER (ORDER BY order_key) AS INT)
                       AS shard
            FROM keyed
        )
        SELECT doc_id, source, order_key, shard,
               CAST(row_number() OVER (PARTITION BY shard ORDER BY order_key)
                    AS INT) AS pos
        FROM sharded
    """,
    "e5_curriculum_order": """
        WITH scored AS (
            SELECT doc_id,
                   round(CAST(len(list_distinct(string_split(text, ' ')))
                              AS DOUBLE) / len(string_split(text, ' ')), 6)
                       AS quality,
                   md5('seed42:' || CAST(doc_id AS VARCHAR)) AS shuffle_key
            FROM documents
        ), banded AS (
            SELECT doc_id, quality, shuffle_key,
                   CAST(ntile(4) OVER (ORDER BY quality DESC, doc_id) AS INT)
                       AS band
            FROM scored
        )
        SELECT doc_id, quality, band,
               CAST(row_number() OVER (PARTITION BY band ORDER BY shuffle_key)
                    AS INT) AS pos_in_band
        FROM banded
    """,
    "e5_weighted_sample": """
        WITH m AS (
            SELECT doc_id, source,
                   CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
                       / len(string_split(text, ' ')) AS weight,
                   (doc_id * 2654435761) % 4294967296 / 4294967296.0 AS draw
            FROM documents
        )
        SELECT doc_id, source,
               round(weight, 6) AS weight,
               round(draw, 6) AS draw,
               draw < weight AS kept
        FROM m
    """,
    "e3_zscore_by_source": """
        SELECT doc_id, source, n_chars,
               round((n_chars - avg(n_chars) OVER g)
                     / stddev_samp(n_chars) OVER g, 4) AS z_len,
               round(percent_rank() OVER w, 6) AS len_pct_rank,
               CAST(ntile(10) OVER w AS INT) AS len_decile
        FROM documents
        WINDOW g AS (PARTITION BY source),
               w AS (PARTITION BY source ORDER BY n_chars, doc_id)
    """,
    "w11_gaps_islands": """
        WITH days AS (
            SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
        ), keyed AS (
            SELECT user_id, day,
                   day - CAST(row_number() OVER (PARTITION BY user_id
                                                 ORDER BY day) AS INT)
                       AS island_key
            FROM days
        )
        SELECT user_id,
               min(day) AS island_start,
               max(day) AS island_end,
               count(*) AS n_days
        FROM keyed GROUP BY user_id, island_key
    """,
}


def _soft_dedup_oracle() -> str:
    """Composes the connected-components oracle (recursive CTE) with the
    1/cluster-size weighting — import deferred so module import order
    between quality and dedup stays cycle-free."""
    from .dedup import ORACLES as DEDUP_ORACLES

    return f"""
        WITH clusters AS (
            SELECT doc_id, cluster_id, cluster_size
            FROM ({DEDUP_ORACLES["e1_dedup_clusters"]})
        )
        SELECT d.doc_id,
               d.source,
               coalesce(c.cluster_id, d.doc_id) AS cluster_id,
               CAST(coalesce(c.cluster_size, 1) AS BIGINT) AS cluster_size,
               round(CAST(1 AS DOUBLE) / coalesce(c.cluster_size, 1), 6)
                   AS weight,
               round((d.doc_id * 2654435761) % 4294967296 / 4294967296.0, 6)
                   AS draw,
               (d.doc_id * 2654435761) % 4294967296 / 4294967296.0
                   < CAST(1 AS DOUBLE) / coalesce(c.cluster_size, 1) AS kept
        FROM documents d LEFT JOIN clusters c ON d.doc_id = c.doc_id
    """


ORACLES["e5_soft_dedup_sample"] = _soft_dedup_oracle()

ORACLES["e5_global_token_budget"] = f"""
    WITH ranked AS (
        SELECT doc_id, source,
               list_reduce(list_prepend(CAST(0 AS BIGINT),
                   list_transform(string_split(text, ''),
                                  c -> CAST(ascii(c) AS BIGINT))),
                   (a, c) -> (a * 131 + c) % 2147483647) % 1000000 AS h,
               len(list_filter(string_split(text, ' '),
                               t -> t <> '')) AS n_tokens
        FROM documents
    ), totals AS (
        SELECT source, CAST(sum(n_tokens) AS BIGINT) AS t
        FROM ranked GROUP BY source
    ), sorted_t AS (
        SELECT source, t,
               CAST(row_number() OVER w AS BIGINT) AS i,
               CAST(sum(t) OVER (w ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
               lead(t) OVER w AS t_next,
               CAST(count(*) OVER () AS BIGINT) AS n
        FROM totals WINDOW w AS (ORDER BY t ASC, source ASC)
    ), zero AS (
        SELECT CASE WHEN min(CASE WHEN i = 1 THEN t END) * max(n)
                        > {GLOBAL_TOKEN_BUDGET}
                    THEN CAST({GLOBAL_TOKEN_BUDGET} // max(n) AS BIGINT)
               END AS level0,
               max(t) AS t_max
        FROM sorted_t
    ), feas AS (
        SELECT min_by(CAST(({GLOBAL_TOKEN_BUDGET} - cum) // (n - i) AS BIGINT),
                      i) AS level_i
        FROM sorted_t
        WHERE t_next IS NOT NULL
          AND t_next * (n - i) > {GLOBAL_TOKEN_BUDGET} - cum
          AND cum <= {GLOBAL_TOKEN_BUDGET}
    ), lvl AS (
        SELECT coalesce(level0, level_i, t_max) AS level
        FROM zero CROSS JOIN feas
    ), caps AS (
        SELECT source, t, least(t, level) AS cap FROM totals CROSS JOIN lvl
    ), cum_docs AS (
        SELECT source, doc_id, n_tokens,
               CAST(sum(n_tokens) OVER (
                   PARTITION BY source ORDER BY h ASC, doc_id ASC
                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
        FROM ranked
    ), kept AS (
        SELECT c.source, c.cum_tokens
        FROM cum_docs c JOIN caps USING (source)
        WHERE c.cum_tokens <= caps.cap
    ), fit AS (
        SELECT source, count(*) AS n_docs_kept,
               CAST(max(cum_tokens) AS BIGINT) AS tokens_used
        FROM kept GROUP BY source
    )
    SELECT c.source,
           c.t AS total_tokens,
           CAST(c.cap AS BIGINT) AS cap,
           c.t <= c.cap AS fully_kept,
           coalesce(f.n_docs_kept, 0) AS n_docs_kept,
           CAST(coalesce(f.tokens_used, 0) AS BIGINT) AS tokens_used
    FROM caps c LEFT JOIN fit f USING (source)
    ORDER BY c.source
"""
