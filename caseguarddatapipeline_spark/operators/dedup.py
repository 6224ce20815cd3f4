"""Deduplication operators (E1, SURVEY.md §2.10): exact, n-gram Jaccard,
MinHash+LSH, SimHash.

The reference dedups only by idempotent (tenant_id, case_ref) upserts
(database/change_tracking.py:370-387) and content_hash vector keys
(database/models.py:81); a training-data pipeline needs corpus-level
near-dup removal, implemented here Spark-first:

- exact: hash-groupBy on a content key — one shuffle on the 256-bit key,
  trivially scales (this is how you dedup 100 TB: shuffle by content hash,
  keep min doc_id per group).
- n-gram Jaccard: exact pairwise similarity — quadratic, only for candidate
  verification or small partitions.
- MinHash+LSH: the scale path. signatures are narrow per-doc computations;
  banding turns near-dup search into an equi-join on (band, band_signature)
  — shuffle on bucket keys only, candidate pairs verified with true Jaccard.
  At 100 TB the band join's skewed buckets are handled by AQE skew-join
  splitting; signature width (16) and bands (4×4) tune recall/precision.
- SimHash: 32-bit fingerprints via per-bit majority votes; near-dups are
  fingerprints within Hamming distance k (bit_count(xor)).

Every dedup mode — including MinHash+LSH and SimHash — is oracle-checked:
token hashing uses the portable char polynomial (identical int64 results
in Spark and DuckDB), shingle/signature/band arithmetic is pure integer
math, so candidate pairs, jaccard values, fingerprints, and hamming
distances all hash-match the independent engine. (FIXTURES.md §D forbids
engine-specific hash oracles — xxhash64 appears only where its value never
reaches an output: the optional ``hashed=False`` signature path, identity
keys such as the span-dedup key and shingle ids, and the a17 salt.)
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from ..sources import load_table
from .similarity import _round_half_up

N_MINHASH = 16
LSH_BANDS = 4  # 4 bands x 4 rows per band


def _shingles(toks_col, n: int = 3):
    """Word n-gram shingles as strings (n=3) from a pre-split token column.
    A document shorter than ``n`` tokens yields its single partial shingle
    (``try_element_at`` nulls past the end, which ``concat_ws`` skips) —
    the same semantics as the oracles' ``toks[i:i+n-1]`` list slice; a
    bare ``element_at`` would throw INVALID_ARRAY_INDEX under Spark 4's
    default ANSI mode the moment a short document reaches the corpus.

    ``toks_col`` MUST be a materialized array column (project
    ``F.split(text, " ")`` in a prior select), never the split expression
    itself: Spark does not common-subexpression-eliminate inside
    higher-order-function lambdas, so an inline split would re-tokenize the
    document once per element_at — measured 13× slower on the bench corpus.
    """
    toks = toks_col
    idx = F.sequence(F.lit(1), F.greatest(F.size(toks) - (n - 1), F.lit(1)))
    return F.array_distinct(
        F.transform(
            idx,
            lambda i: F.concat_ws(
                " ", *[F.try_element_at(toks, i + j) for j in range(n)]
            ),
        )
    )


def e1_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by content key: keep min doc_id per distinct text.
    Emits one row per distinct content with its copy count. One
    spark.sql parse (round-13 serving optimization), same plan."""
    from ..sources.tables import scoped_views

    v = scoped_views(spark, sf_dir)
    return spark.sql(f"""
        SELECT content_key, min(doc_id) AS keeper_doc_id,
               count(1) AS n_copies
        FROM (SELECT doc_id, sha2(text, 256) AS content_key
              FROM {v['documents']})
        GROUP BY content_key
    """)


def e1_dedup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus dedup summary: total vs distinct vs duplicate counts."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count_distinct(F.col("text")).alias("n_distinct"),
        (F.count(F.lit(1)) - F.count_distinct(F.col("text"))).alias("n_dups"),
    )


def e1_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise 3-gram Jaccard near-dup detection on a bounded slice
    (doc_id < 500 — covers the whole sf0.01 corpus; the cap bounds the
    quadratic pair count at larger scale factors): |A∩B| / |A∪B| over
    distinct shingle sets.

    Scale note: quadratic — in production this is the *verification* stage
    behind the LSH candidate generator below, never run all-pairs. The
    stream side of the broadcast nested-loop join is repartitioned so the
    O(n²) set arithmetic runs on every core instead of the scan's single
    small-file partition.

    Round 13 (optimization, guide §1.2 per-task work): the per-pair set
    algebra runs on int64 shingle CODES (``_shingle_id`` — the committed
    posting-join dictionary code, injectivity pinned by
    tests/test_dedup.py on every sf corpus), not ~20-char strings, and
    the union size comes from the set identity |A∪B| = |A|+|B| − |A∩B|
    (``_shingles`` yields distinct sets), so each of the O(n²) pairs
    pays ONE long-array intersect instead of a string intersect plus a
    string union. Values identical; measured 7.6 → see
    OPTIMIZATION_r13.md."""
    par = spark.sparkContext.defaultParallelism
    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 500)
        .select("doc_id", F.split(F.col("text"), " ").alias("toks"))
        .select(
            "doc_id",
            F.transform(_shingles(F.col("toks")), _shingle_id).alias("codes"),
        )
        .select("doc_id", "codes", F.size("codes").alias("n"))
    )
    a = _spread(docs, par, "doc_id").alias("a")
    b = docs.alias("b")
    inter = F.size(F.array_intersect(F.col("a.codes"), F.col("b.codes")))
    union = F.col("a.n") + F.col("b.n") - inter
    return (
        a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.round(inter.cast("double") / union, 6).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= 0.2)
    )


_MERSENNE = 2147483647  # 2^31 - 1


def _minhash_signature(shingles_col, hashed: bool = False):
    """16 minhash values via universal hashing: ONE xxhash64 per shingle,
    then 16 affine permutations h_i = (a_i·h + b_i) mod (2^31-1).

    16× cheaper than hashing every shingle 16 times; the affine products
    stay under 2^62 so int64 arithmetic never overflows (ANSI-safe).
    ``hashed=True`` means the input is already int64 shingle hashes."""
    if hashed:
        base = shingles_col
    else:
        base = F.transform(
            shingles_col, lambda s: F.pmod(F.xxhash64(s), F.lit(_MERSENNE))
        )

    # One nested HOF over a literal (a,b) param array instead of 16
    # parallel array_min(transform(...)) trees: same values, ~8× smaller
    # expression tree → plan construction/analysis drops from ~0.8s to
    # ~0.1s (the runtime is identical either way).
    params = F.array(
        *[
            F.struct(
                F.lit(2 * i + 1).alias("a"), F.lit(7919 * (i + 1)).alias("b")
            )
            for i in range(N_MINHASH)
        ]
    )
    return F.transform(
        params,
        lambda p: F.array_min(
            F.transform(base, lambda h: F.pmod(h * p["a"] + p["b"], F.lit(_MERSENNE)))
        ),
    )


def _shingle_hashes_from_token_hashes(th_col, n: int = 3):
    """Shingle hashes by combining n consecutive PRE-HASHED tokens:
    ((h₁·131 + h₂)·131 + h₃) mod 2³¹−1 — pure int64 arithmetic (max
    intermediate < 2³¹·131² < 2⁴⁶), identical in every engine. Same
    pre-materialized-column contract as the other HOF helpers."""
    th = th_col
    idx = F.sequence(F.lit(1), F.greatest(F.size(th) - (n - 1), F.lit(1)))

    def combine(i):
        # try_element_at: a sub-n-token doc's single window reads past the
        # end — null propagates through the arithmetic exactly like
        # DuckDB's out-of-bounds list index, where element_at would throw
        # under ANSI
        acc = F.try_element_at(th, i)
        for j in range(1, n):
            acc = acc * 131 + F.try_element_at(th, i + j)
        return F.pmod(acc, F.lit(_MERSENNE))

    return F.array_distinct(F.transform(idx, combine))


_BUCKET_CAP = 64  # max members whose pair expansion runs inside one task


def _spread(df: DataFrame, par: int, *cols: str) -> DataFrame:
    """Repartition only when the input is under-parallel (e.g. a cold
    single-row-group small-file scan). The warm table cache already
    lays hot tables out multi-partition, and a redundant repartition
    shuffle in front of a Python stage measured ~190 ms of pure
    overhead at sf0.1 — at cluster scale the scan is already wide and
    this is a no-op either way."""
    if df.rdd.getNumPartitions() >= par:
        return df
    return df.repartition(par, *cols)


def _pair_jaccard(sh_a, sh_b):
    return F.round(
        F.size(F.array_intersect(sh_a, sh_b)).cast("double")
        / F.size(F.array_union(sh_a, sh_b)),
        6,
    )


# The LSH tail as ONE spark.sql parse (~15 ms) instead of a DataFrame
# chain whose nested higher-order lambdas cost ~170 ms of py4j expression
# construction per build. DISTINCT ≡ dropDuplicates(doc_a, doc_b) here:
# jaccard is a function of the pair.
_BAND_PAIRS_SQL = f"""
    SELECT DISTINCT p.doc_a, p.doc_b, p.jaccard
    FROM (
      SELECT explode(flatten(transform(members, (m, i) ->
                 transform(slice(members, i + 2, size(members)), m2 ->
                     named_struct(
                         'doc_a', m.doc_id,
                         'doc_b', m2.doc_id,
                         'jaccard',
                         round(CAST(size(array_intersect(
                                   m.shingles, m2.shingles)) AS DOUBLE)
                               / size(array_union(
                                     m.shingles, m2.shingles)),
                               6)))))) AS p
      FROM (
        SELECT band, band_sig,
               sort_array(collect_list(struct(doc_id, shingles)))
                   AS members
        FROM (SELECT doc_id, shingles, band, band_sig,
                     row_number() OVER (PARTITION BY band, band_sig
                                        ORDER BY doc_id) AS rn
              FROM {{banded}})
        WHERE rn <= {_BUCKET_CAP}
        GROUP BY band, band_sig
      )
      WHERE size(members) >= 2
    )
"""


def _band_pairs(banded: DataFrame, dedup_pairs: bool = True) -> DataFrame:
    """The LSH tail: one shuffle on the (band, band_sig) bucket key,
    then in-bucket pair expansion — signatures and shingles are computed
    ONCE upstream. Input columns: doc_id, shingles, band, band_sig.

    Skew guard: a degenerate bucket (thousands of identical docs) must
    not concentrate an unbounded collect_list buffer and its quadratic
    pair expansion in a single task — AQE cannot split a groupBy group.
    A row_number window over the bucket key ranks members by doc_id and
    keeps the first ``_BUCKET_CAP`` per bucket BEFORE the aggregation,
    hard-bounding both the agg buffer and the per-task pair fan-out.
    The window and the groupBy share the one bucket shuffle (same key ⇒
    the exchange partitioning is reused), keeping the tail single-pass
    over the expensive signature stage. (Measured alternatives: a
    small/large two-branch routing re-executes the signature kernel once
    per branch — 2× slower end-to-end; a within-bucket self-join with
    ReuseExchange runs the kernel once but pays an extra sort+join,
    ~1.4× slower.)

    Cap semantics: pairs form only among a bucket's _BUCKET_CAP lowest
    doc_ids — the posting-list capping production near-dup pipelines
    use; exact-dup floods are e1_exact_dedup's job anyway. Max bucket on
    the test corpora is 11, so every DuckDB all-pairs oracle is
    unaffected — pinned by tests/test_dedup.py's 1k-identical-docs
    regression (bounded output, no unbounded task, near-dup neighbours
    of capped members still surface).

    ``dedup_pairs=False`` drops the final DISTINCT (its shuffle) for
    callers whose downstream op subsumes it (e.g. curation's
    ``distinct`` over doc_b alone)."""
    text = _BAND_PAIRS_SQL
    if not dedup_pairs:
        text = text.replace("SELECT DISTINCT", "SELECT", 1)
    return banded.sparkSession.sql(text, banded=banded)


def _banded_vectorized(spark: SparkSession, docs: DataFrame) -> DataFrame:
    """The MinHash signature kernel: (doc_id, text) →
    (doc_id, shingles, band, band_sig). The portable integer pipeline
    (char-polynomial token hash → combined shingle hash → 16-perm
    minhash → 4 band signatures) runs in numpy over Arrow batches via
    mapInPandas — the same integer arithmetic as the HOF column
    functions (``_portable_token_hash``, ``_shingle_hashes_from_token_hashes``,
    ``_minhash_signature``) and the DuckDB oracles. Docs with < 3 tokens
    are excluded at admission, like the oracles and the streaming gate —
    they have no shingle set."""
    import numpy as np  # local: keep module import-safe without numpy
    import pandas as pd

    # Python-worker stages want FEW, BIG Arrow batches (each task pays a
    # worker handshake + per-batch overhead) — but still enough workers
    # to spread the CPU-heavy signature math. Track the session's
    # shuffle-partition setting (cores under the batch profile, thousands
    # on a real cluster) with a floor of 8 so the serving profile's tiny
    # shuffle width doesn't serialize the kernel onto 1-2 workers.
    par = max(
        int(spark.conf.get("spark.sql.shuffle.partitions")),
        min(8, spark.sparkContext.defaultParallelism),
    )
    # sub-shingle-width admission, JVM-side before the Python stage: a
    # < 3-token doc has no shingle set, so every doc reaching the kernel
    # has at least one trigram (its reduceat segment is never empty)
    docs = (
        _spread(docs, par, "doc_id")
        .select("doc_id", "text")
        .filter(
            F.size(F.filter(F.split(F.col("text"), " "), lambda t: t != "")) >= 3
        )
    )
    M = _MERSENNE
    A = np.array([2 * i + 1 for i in range(N_MINHASH)], dtype=np.int64)
    B = np.array([7919 * (i + 1) for i in range(N_MINHASH)], dtype=np.int64)
    rows_per_band = N_MINHASH // LSH_BANDS

    def kernel(batches):
        # Emitting the 4 banded rows directly from Python measured
        # FASTER than emitting one row per doc + JVM-side posexplode:
        # the bucket shuffle carries shingles ×4 either way, and the
        # extra generate stage only added pipeline overhead.
        #
        # The whole batch is hashed as ONE flat numpy problem (no
        # per-document Python loop): token code points (utf-32-le, the
        # value Spark's ascii() and DuckDB's ascii() return per
        # character) become a flat int array hashed by a masked Horner
        # recurrence (max-token-length iterations, each a vectorized
        # step over every token in the batch); trigram shingles are one
        # shifted-multiply over the flat token-hash array with a
        # doc-boundary mask; per-doc sorted uniques come from one
        # lexsort; the 16-perm signature is minimum.reduceat per
        # permutation. Measured ~4× over a per-doc loop at sf0.1
        # (386→~90 ms kernel time).
        for pdf in batches:
            n_docs = len(pdf)
            if n_docs == 0:
                continue
            tok_lists = [
                [t for t in tx.split(" ") if t] for tx in pdf["text"]
            ]
            all_toks = [t for toks in tok_lists for t in toks]
            ntok = np.array([len(toks) for toks in tok_lists], dtype=np.int64)
            lens = np.array([len(t) for t in all_toks], dtype=np.int64)
            codes = np.frombuffer(
                "".join(all_toks).encode("utf-32-le"), dtype=np.uint32
            ).astype(np.int64)
            starts = np.concatenate(([0], np.cumsum(lens)[:-1]))
            th = np.zeros(len(all_toks), dtype=np.int64)
            for j in range(int(lens.max())):
                m = lens > j
                th[m] = (th[m] * 131 + codes[starts[m] + j]) % M
            doc_of_tok = np.repeat(np.arange(n_docs), ntok)
            tri = ((th[:-2] * 131 + th[1:-1]) * 131 + th[2:]) % M
            valid = doc_of_tok[:-2] == doc_of_tok[2:]
            sh_doc = doc_of_tok[:-2][valid]
            sh_val = tri[valid]
            order = np.lexsort((sh_val, sh_doc))
            sd, sv = sh_doc[order], sh_val[order]
            keep = np.ones(len(sv), dtype=bool)
            keep[1:] = (sv[1:] != sv[:-1]) | (sd[1:] != sd[:-1])
            sd, sv = sd[keep], sv[keep]
            cnt = np.bincount(sd, minlength=n_docs)
            seg_starts = np.concatenate(([0], np.cumsum(cnt)[:-1]))
            sig = np.empty((n_docs, N_MINHASH), dtype=np.int64)
            for k in range(N_MINHASH):
                sig[:, k] = np.minimum.reduceat(
                    (sv * A[k] + B[k]) % M, seg_starts
                )
            # shingle values are < 2³¹−1 by construction — int32 halves
            # the bytes the bucket shuffle and the cap-window sort move
            # (shingles dominate row width at ~420 B/row)
            shingle_lists = np.split(sv.astype(np.int32), np.cumsum(cnt)[:-1])
            band_sigs = [
                ":".join(
                    str(v)
                    for v in sig[d, b * rows_per_band:(b + 1) * rows_per_band]
                )
                for d in range(n_docs)
                for b in range(LSH_BANDS)
            ]
            yield pd.DataFrame(
                {
                    "doc_id": np.repeat(pdf["doc_id"].to_numpy(), LSH_BANDS),
                    "band": np.tile(
                        np.arange(LSH_BANDS, dtype=np.int32), n_docs
                    ),
                    "band_sig": band_sigs,
                    "shingles": [
                        shingle_lists[d]
                        for d in range(n_docs)
                        for _ in range(LSH_BANDS)
                    ],
                }
            )

    return docs.mapInPandas(
        kernel, "doc_id long, band int, band_sig string, shingles array<int>"
    )


def e1_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup candidates, verified with true Jaccard.

    token char-polynomial hash → combined shingle hash → 16-perm minhash
    signature → 4 bands of 4 (``_banded_vectorized``) → band-bucket
    pair expansion → exact Jaccard verify (``_band_pairs``). Every stage
    is integer arithmetic both engines compute identically, so the whole
    LSH pipeline — candidate pairs AND their jaccard values —
    hash-matches the DuckDB oracle. Served under both catalog names
    (``e1_minhash_lsh`` and ``e1_minhash_lsh_vectorized``)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return _band_pairs(_banded_vectorized(spark, docs))


def _py_token_hash(t: str) -> int:
    """Python twin of _portable_token_hash: (acc·131 + ord(c)) mod 2³¹−1."""
    acc = 0
    for c in t:
        acc = (acc * 131 + ord(c)) % _MERSENNE
    return acc


def e1_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected-components clustering of the near-dup graph — the
    keep-one-per-CLUSTER semantics real corpus dedup needs (pairwise
    doc_b removal under-merges: a~b, b~c must collapse a,b,c into one
    cluster even when a~c was never a candidate pair).

    Iterative min-label propagation on the LSH pair graph: every node
    starts as its own label; each round takes the min over neighbors'
    labels; fixpoint = per-component minimum doc_id. Each round is one
    distributed join + groupBy (the GraphFrames/Pregel pattern);
    convergence takes O(component diameter) rounds — near-dup clusters
    are shallow, and the loop guards with a hard cap. Per-round lazy
    ``localCheckpoint`` keeps lineage flat (no exponential plan growth);
    the round's count() action materializes it, so the job count per
    round is unchanged. Round 14 (verdict item 8): ``localCheckpoint``
    replaced the persist + process-global release-previous-run dict —
    checkpoints are per-invocation by construction (never matched across
    runs), so the cross-invocation persist hygiene that caused the
    round-13 silent-reuse bug has nothing left to get wrong; the
    returned frame holds the fixpoint's materialized blocks until the
    caller drops it, and ContextCleaner reclaims the intermediate
    rounds. The oracle is a DuckDB RECURSIVE CTE computing the same
    transitive closure, so even this iterative algorithm is
    value-checked cross-engine. Output: member doc_id, cluster_id
    (= min doc in the component), cluster_size.
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    pairs = (
        _band_pairs(_banded_vectorized(spark, docs))
        .filter(F.col("jaccard") >= 0.5)
        .select("doc_a", "doc_b")
    )
    # ONE pass per pair row: explode to both directions instead of
    # union(pairs, swapped) — the union form executes the LSH candidate
    # pipeline once per branch unless something materializes it first
    edges = pairs.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
                ),
                F.struct(
                    F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")
                ),
            )
        ).alias("e")
    ).select("e.src", "e.dst").localCheckpoint(eager=False)
    labels = (
        edges.select(F.col("src").alias("doc_id"))
        .distinct()
        .withColumn("label", F.col("doc_id"))
    )
    changed = 0
    for _ in range(20):  # hard cap >> any realistic near-dup diameter
        nbr_min = (
            edges.join(labels, edges.dst == labels.doc_id)
            .groupBy("src")
            .agg(F.min("label").alias("nbr_label"))
        )
        # carry the changed flag on the row instead of re-joining the
        # old labels afterwards — one join and one job fewer per round
        # (a label only ever decreases, so changed ⇔ nbr_label < label)
        stepped = (
            labels.join(nbr_min, labels.doc_id == nbr_min.src, "left")
            .select(
                "doc_id",
                F.least(
                    F.col("label"), F.coalesce("nbr_label", F.col("label"))
                ).alias("label"),
                (F.coalesce("nbr_label", F.col("label")) < F.col("label")).alias(
                    "_chg"
                ),
            )
            .localCheckpoint(eager=False)
        )
        changed = stepped.filter(F.col("_chg")).count()
        labels = stepped.select("doc_id", "label")
        if changed == 0:
            break
    if changed != 0:
        # a component deeper than the cap would silently SPLIT into
        # several cluster_ids — fail loudly instead of returning wrong
        # clusters (raise the cap or switch to pointer-doubling for
        # pathological chain-shaped corpora)
        raise RuntimeError(
            f"label propagation did not converge in 20 rounds "
            f"({changed} labels still changing)"
        )
    w = Window.partitionBy("label")
    return labels.select(
        "doc_id",
        F.col("label").alias("cluster_id"),
        F.count(F.lit(1)).over(w).alias("cluster_size"),
    ).orderBy("doc_id")


def _portable_token_hash(t):
    """31-bit char-polynomial token hash: (acc·131 + ascii(c)) mod 2³¹−1.
    Integer arithmetic both engines compute identically (verified
    bit-for-bit vs DuckDB list_reduce), making SimHash oracle-checkable —
    unlike xxhash64, which has no cross-engine twin. The char array is the
    inner HOF's input, so it is evaluated once per token (no CSE trap)."""
    return F.aggregate(
        F.split(t, ""),
        F.lit(0).cast("bigint"),
        lambda acc, c: (acc * 131 + F.ascii(c)) % F.lit(_MERSENNE),
    )


# Bit-band boundaries for the 32-bit fingerprint: 7 bands of 5/5/5/5/4/4/4
# bits. Any pair at Hamming distance ≤ 6 has its ≤ 6 differing bits spread
# over at most 6 of the 7 bands, so by pigeonhole it agrees EXACTLY on at
# least one band — the same band-equality guarantee the MinHash LSH join
# above rides, here made deterministic instead of probabilistic.
_SIMHASH_BANDS = [(0, 5), (5, 5), (10, 5), (15, 5), (20, 4), (24, 4), (28, 4)]


def e1_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit SimHash fingerprints: per-bit majority vote over token hashes.

    fingerprint = Σ_b 2^b · [Σ_tokens sign(bit_b(hash(token)))] > 0.
    Near-dup pairs = Hamming distance ≤ 6 over the WHOLE corpus. Pair
    generation is a banded EQUI-join, not all-pairs: each fingerprint
    explodes to its 7 (band, band-bits) slices (_SIMHASH_BANDS — pigeonhole
    makes the candidate set complete for Hamming ≤ 6), candidates equi-join
    on the slice, dedupe, and the exact bit_count verify filters — the
    identical generate-then-verify shape as the MinHash band join above, so
    cost is shuffle-on-band-key linear, never quadratic. The token hash is
    the portable char polynomial, so fingerprints (and therefore hamming
    distances) hash-match the DuckDB oracle exactly; hashes are
    materialized once per token instead of per (token, bit).

    Round 13 (optimization): two changes, same values. (1) Guide §4.1 —
    the 32 per-bit votes were 32 SEPARATE interpreted ``aggregate`` folds
    over each document's hash array (~9M interpreted lambda steps at
    sf0.1); the same integers now come from ONE explode + a codegen hash
    aggregate of 32 conditional sums (integer addition commutes, and
    ``explode_outer``'s null hash for a zero-token document votes −1 on
    every bit, so its fingerprint is 0 exactly as the empty-array fold
    produced). (2) The measured build/exec split was ~1.2 s of py4j
    expression construction per serving run (32 aggs + the fp sum built
    node-by-node), so the query is served as ONE spark.sql parse over
    the scoped views, identical algebra text-for-text."""
    from ..sources.tables import scoped_views

    v = scoped_views(spark, sf_dir)
    par = spark.sparkContext.defaultParallelism
    # gate the fan-out hint exactly like _spread (round-13 advice): when
    # the scan is already >= par partitions the extra exchange is pure
    # overhead (~190 ms measured on the DataFrame twin at sf0.1)
    spread_hint = (
        f"/*+ REPARTITION({par}, doc_id) */ "
        if load_table(spark, sf_dir, "documents").rdd.getNumPartitions()
        < par
        else ""
    )
    vote_cols = ", ".join(
        f"sum(CASE WHEN (shiftright(h, {b}) & 1) = 1 THEN 1 ELSE -1 END)"
        f" AS v{b}"
        for b in range(32)
    )
    fp_sum = " + ".join(
        f"CAST(CASE WHEN v{b} > 0 THEN {1 << b} ELSE 0 END AS BIGINT)"
        for b in range(32)
    )
    band_structs = ", ".join(
        f"named_struct('band', {i}, 'bits',"
        f" shiftright(simhash, {off}) & {(1 << width) - 1})"
        for i, (off, width) in enumerate(_SIMHASH_BANDS)
    )
    return spark.sql(f"""
        WITH spread AS (
            -- the _spread repartition: fan the hash work out BEFORE
            -- tokenization, not after (the hint must sit below the
            -- per-token work to parallelize it); interpolated only
            -- when the scan is under-parallel, like _spread
            SELECT {spread_hint}doc_id, text
            FROM {v['documents']}
        ), hashes AS (
            SELECT doc_id,
                   aggregate(split(tok, ''), CAST(0 AS BIGINT),
                             (acc, c) -> (acc * 131 + ascii(c))
                                         % 2147483647) AS h
            FROM (SELECT doc_id,
                         explode_outer(filter(array_distinct(split(text, ' ')),
                                              t -> t != '')) AS tok
                  FROM spread)
        ), votes AS (
            SELECT doc_id, {vote_cols}
            FROM hashes GROUP BY doc_id
        ), sigs AS (
            SELECT doc_id, {fp_sum} AS simhash FROM votes
        ), banded AS (
            SELECT doc_id, simhash, s.band AS band, s.bits AS bits
            FROM sigs
            LATERAL VIEW explode(array({band_structs})) t AS s
        ), cand AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                            a.simhash AS sim_a, b.simhash AS sim_b
            FROM banded a JOIN banded b
              ON a.band = b.band AND a.bits = b.bits
             AND a.doc_id < b.doc_id
        )
        SELECT doc_a, doc_b, bit_count(sim_a ^ sim_b) AS hamming
        FROM cand
        WHERE bit_count(sim_a ^ sim_b) <= 6
    """)


NEARDUP_BLOCKS = 8  # B(B+1)/2 = 36 block-pair tasks; at scale pick B ≈ n/50k


def e1_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (north-star E1 variant): doc
    pairs whose embedding cosine exceeds a threshold — semantic near-dups
    that text shingling misses (paraphrases, translations). Threshold 0.35
    sits at the ~99.9th percentile of the corpus' pair-cosine distribution.

    Scale shape: **blocked exact all-pairs**, not a self-join. Each vector
    gets a block id (vec_id mod B); a broadcast grid of the B(B+1)/2
    upper-triangle block pairs fans each block out to its partners (plain
    equi-joins — no BroadcastNestedLoopJoin, no cartesian); one shuffle on
    (block_a, block_b) groups the two blocks' vectors together, and an
    Arrow-batched numpy kernel computes the |A|×|B| cosine matrix per
    task. Work is spread evenly across block pairs regardless of data
    skew, replication factor is B (not n), and the per-task kernel is a
    BLAS matmul instead of a per-pair codegen fold.

    Why not pre-bucket with e2_lsh_buckets' hyperplanes (the obvious ANN
    composition)? Measured on this corpus: at τ=0.35 (θ≈70°, per-plane
    agreement p≈0.61) every plane-band config that reaches even ~99%
    recall generates MORE candidate pairs than brute force — 16×2 bands:
    3.1× brute with 13 misses; 48×3: 5.3× brute, 0 misses at sf0.01 but
    34 misses at sf0.1. Hyperplane LSH only prunes at high cosine; at a
    low threshold the blocked-exact matmul is both faster and exact, so
    the DuckDB all-pairs oracle holds at every sf by construction.
    """
    import pandas as pd

    emb = load_table(spark, sf_dir, "embeddings")
    B = NEARDUP_BLOCKS
    grid = spark.createDataFrame(
        [(a, b) for a in range(B) for b in range(B) if a <= b],
        "block_a int, block_b int",
    )
    blocks = emb.select(
        "vec_id",
        F.col("embedding").alias("emb"),
        F.pmod("vec_id", F.lit(B)).cast("int").alias("blk"),
    )
    tagged = (
        blocks.join(F.broadcast(grid), F.col("blk") == F.col("block_a"))
        .select("block_a", "block_b", F.lit(True).alias("is_a"), "vec_id", "emb")
        .unionByName(
            blocks.join(F.broadcast(grid), F.col("blk") == F.col("block_b"))
            .select(
                "block_a", "block_b", F.lit(False).alias("is_a"), "vec_id", "emb"
            )
        )
    )

    def _block_cosines(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        diagonal = pdf["block_a"].iat[0] == pdf["block_b"].iat[0]
        if diagonal:
            # both join legs delivered the diagonal block; keep one copy
            a_rows = b_rows = pdf[pdf["is_a"]]
        else:
            a_rows = pdf[pdf["is_a"]]
            b_rows = pdf[~pdf["is_a"]]
        if not len(a_rows) or not len(b_rows):
            return pd.DataFrame({"doc_a": [], "doc_b": [], "cosine": []}).astype(
                {"doc_a": "int64", "doc_b": "int64", "cosine": "float64"}
            )
        A = np.stack(a_rows["emb"].to_numpy()).astype(np.float64)
        Bm = np.stack(b_rows["emb"].to_numpy()).astype(np.float64)
        A /= np.linalg.norm(A, axis=1, keepdims=True)
        Bm /= np.linalg.norm(Bm, axis=1, keepdims=True)
        # HALF_UP like the oracle's round(): np.round's half-to-even
        # could flip the tau-threshold inclusion at a .xxxxx5 boundary
        cos = _round_half_up(A @ Bm.T, 6)
        hit = cos >= 0.35
        if diagonal:  # symmetric matrix: keep each pair once
            hit &= np.triu(np.ones_like(hit), k=1).astype(bool)
        ia, ib = np.nonzero(hit)
        doc_a = a_rows["vec_id"].to_numpy()[ia]
        doc_b = b_rows["vec_id"].to_numpy()[ib]
        lo = np.minimum(doc_a, doc_b)
        hi = np.maximum(doc_a, doc_b)
        keep = lo < hi
        return pd.DataFrame(
            {"doc_a": lo[keep], "doc_b": hi[keep], "cosine": cos[ia, ib][keep]}
        )

    return tagged.groupBy("block_a", "block_b").applyInPandas(
        _block_cosines, "doc_a bigint, doc_b bigint, cosine double"
    )


def e1_embedding_neardup_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup with an IVF candidate generator — the COMPOSED
    ANN form of e1_embedding_neardup: assign every vector to its top-2
    cells of the 1-round k-means quantizer (similarity._ivf1_index — the
    same oracle-pinned quantizer e2_ivf_search_1round serves), self-join
    on cell id, verify candidates with the exact cosine. All relational:
    the only shuffle is the equi-join on `cell`, so per-task work is
    bounded by cell size (pick k ≈ n/cell_target as the corpus grows; at
    100 TB `cell` persists as a partition column and the self-join is
    partition-local).

    τ-ROUTING RULE (measured, see e1_embedding_neardup's docstring for
    the low-τ numbers): cell blocking prunes only when the threshold is
    high enough that near-dup pairs co-quantize — candidate volume is
    Σ|cell|²/2 ≈ n²/(2k) vs brute force's n²/2·(1/B-blocking overhead),
    and recall is the fraction of τ-pairs sharing a top-2 cell. Route
    HIGH-τ (tight paraphrase/near-identical dedup, τ ≳ 0.8, where
    neighbors and their cells coincide) through THIS operator; route
    low-τ sweeps (this corpus' τ=0.35 sits at the 99.9th pair
    percentile but only ~0.5 max pair cosine) through the blocked exact
    matmul, which is both exact and cheaper there. The catalog pins
    τ=0.35 so the same-cell candidate semantics is checkable against
    the exact operator's output on one corpus: at sf0.01 this generator
    recovers 167 of the exact operator's 271 pairs (62% — exactly the
    low-τ recall loss the routing rule exists to avoid).
    """
    return _ivf_neardup_pairs(spark, sf_dir)


def _ivf_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared IVF-routed candidate pairs: top-2 cell assignment from the
    1-round quantizer, same-cell self-join, exact-cosine verify at τ=0.35.
    Serves e1_embedding_neardup_ivf (the pair view) and e1_semantic_dedup
    (the keep-set view)."""
    from .similarity import _dbl, _dot, _ivf1_index, _nearest_cells_arr, _norm

    emb = load_table(spark, sf_dir, "embeddings")
    _, cents = _ivf1_index(spark, sf_dir)
    # the norm is a per-VECTOR value: project it once before the cell
    # explode and the self-join so the pair verify folds only the dot —
    # recomputing both norms per candidate pair was 2/3 of the verify's
    # interpreted work (values bit-identical, same operand order)
    corpus = emb.select(
        "vec_id", _dbl(F.col("embedding")).alias("emb")
    ).select("vec_id", "emb", _norm(F.col("emb")).alias("nrm"))
    top2 = _nearest_cells_arr(F.col("emb"), cents, 2, vec_norm=F.col("nrm"))
    assigned = corpus.select(
        "vec_id", "emb", "nrm", F.explode(top2).alias("cell")
    )
    a, b = assigned.alias("a"), assigned.alias("b")
    cos = _dot(F.col("a.emb"), F.col("b.emb")) / (
        F.col("a.nrm") * F.col("b.nrm")
    )
    return (
        a.join(
            b,
            (F.col("a.cell") == F.col("b.cell"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("doc_a"),
            F.col("b.vec_id").alias("doc_b"),
            F.round(cos, 6).alias("cosine"),
        )
        .filter(F.col("cosine") >= 0.35)
        .distinct()
    )


def e1_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-shape semantic dedup (Abbas et al. 2023, public): route
    vectors through the IVF cells, then KEEP the smallest vec_id of every
    near-dup pair and mark the rest dropped with a ``dup_of`` pointer —
    the curated keep-set, where the pair operators stop at candidates.

    Keep rule: a vector is dropped iff some SMALLER vec_id lies within τ
    in its candidate cells (dominated-by-smaller-id greedy; ``dup_of`` =
    the smallest such dominator). Deliberately NOT the transitive closure
    — e1_dedup_clusters carries that variant — because greedy-by-id is
    the one-shuffle form: pairs → groupBy(doc_b).min(doc_a) → one
    broadcast-size anti-side joined back to the corpus. At 100 TB the
    dropped set shuffles on vec_id alongside the corpus' own partitioning
    while the pair generation stays cell-local (see _ivf_neardup_pairs).
    """
    emb = load_table(spark, sf_dir, "embeddings")
    dropped = (
        _ivf_neardup_pairs(spark, sf_dir)
        .groupBy(F.col("doc_b").alias("vec_id"))
        .agg(F.min("doc_a").alias("dup_of"))
    )
    return emb.select("vec_id", "label").join(dropped, "vec_id", "left").select(
        "vec_id",
        "label",
        "dup_of",
        F.col("dup_of").isNull().alias("kept"),
    )


def e1_neardup_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate-generator RECALL report: how many of the exact all-pairs
    near-dup pairs (τ=0.35) the IVF cell router recovers — the measured
    form of the τ-routing rule documented on e1_embedding_neardup_ivf
    (at this deliberately low τ the cells miss distant-neighbor pairs;
    at dedup's τ≳0.8 recall approaches 1). Keeping it IN the catalog
    means the routing claim is re-verified against real numbers every
    round instead of living in a docstring. One row: exact pairs, IVF
    candidates, overlap, recall."""
    exact = e1_embedding_neardup(spark, sf_dir).select(
        "doc_a", "doc_b", F.lit(True).alias("in_exact")
    )
    ivf = _ivf_neardup_pairs(spark, sf_dir).select(
        "doc_a", "doc_b", F.lit(True).alias("in_ivf")
    )
    # one full-outer equi-join on the pair key, then ONE aggregate —
    # membership flags classify each pair as exact-only/ivf-only/common
    fused = exact.join(ivf, ["doc_a", "doc_b"], "full_outer")
    return fused.agg(
        F.count(F.when(F.col("in_exact"), 1)).alias("n_exact"),
        F.count(F.when(F.col("in_ivf"), 1)).alias("n_ivf"),
        F.count(F.when(F.col("in_exact") & F.col("in_ivf"), 1)).alias("n_common"),
    ).select(
        "n_exact",
        "n_ivf",
        "n_common",
        F.round(F.col("n_common") / F.col("n_exact"), 4).alias("recall"),
    )


# token-set Jaccard threshold τ = 4/5, kept as an integer ratio so every
# boundary decision (prefix length, length filter, final verify) is pure
# integer arithmetic — identical in both engines by construction, no float
# threshold anywhere near a decision
_PPJ_NUM, _PPJ_DEN = 4, 5


def _ceil_tau_int(n):
    """ceil(τ·n) in exact integer arithmetic — shared by the prefix-filter
    Jaccard join and the containment join so their thresholds can never
    desynchronize."""
    return F.floor((F.lit(_PPJ_NUM) * n + F.lit(_PPJ_DEN - 1)) / F.lit(_PPJ_DEN))


def _shingle_id(tok_col):
    """64-bit integer dictionary code for a shingle string: xxhash64 —
    deterministic (re-computation across plan branches always agrees,
    unlike monotonically_increasing_id) and JVM-cheap (an md5+base-16-conv
    variant measured +2.4 s PER PASS over the shingle stream at the 10×
    stress corpus; xxhash64 is free next to the explode). Collision
    analysis: a collision merges two DISTINCT shingles into one code,
    which in the set-similarity joins can only (a) add a spurious
    CANDIDATE pair — removed by the exact verify — or (b) perturb a
    verified intersection count iff the two colliding shingles co-occur
    in the same compared pair, P ≈ |pair union|²/2⁶⁵ ≈ 2e-15 per pair
    (~1e-8 expected across the 6 M-pair 50× stress corpus; immeasurably
    below the sf0.01 oracle gate). The payoff: posting joins shuffle
    8-byte longs instead of ~20-byte shingle strings, and the verify
    stage runs on sorted int64 arrays in one Arrow kernel instead of
    per-row string set algebra."""
    return F.xxhash64(tok_col)


_VGRID = 8  # verify grid width: arrays replicate P+Q=16× instead of per-pair
_SK_NB = 128  # counted-Bloom buckets per doc sketch (128 counts + 128 bits)
_BM_WORDS = 4  # per-doc shingle presence bitmap: 4 longs = 256 buckets


def _doc_stats(toks: DataFrame) -> DataFrame:
    """Per-doc set size PLUS a 256-bit shingle presence bitmap (4 long
    columns bm0..bm3, bucket = pmod(tid, 256)), computed in the same
    groupBy that already produced the size — the candidate-prune sketch
    for the set-similarity joins (round 9). The bitmap is 32 bytes of
    scalar columns, so it rides the posting rows into the candidate
    equi-join and the prune predicate evaluates INSIDE that join's
    whole-stage-codegen stage — before the candidate ``distinct`` and the
    array-attach shuffles that the round-8 design record measured as the
    binding constraint. Soundness (exact, never drops a true pair): the
    shingle sets are distinct (``_shingles`` applies array_distinct), so
    every bucket occupied by A but empty in B witnesses ≥1 distinct
    shingle of A absent from B, hence
    ``|A∩B| ≤ sz_a − popcount(bm_a & ~bm_b)`` — an upper bound, used only
    to discard pairs already provably below threshold. Degradation is
    graceful: a 10k-shingle document saturates the bitmap, the bound
    collapses to sz_a, and the pair simply proceeds to exact verification
    as before (at corpus scale the bucket width would be sized to the
    p99 document, e.g. 16 longs for 2k-shingle docs)."""
    t = toks.withColumn(
        "bkt", F.pmod(F.col("tid"), F.lit(64 * _BM_WORDS)).cast("int")
    )
    aggs = [F.count(F.lit(1)).alias("sz")]
    for i in range(_BM_WORDS):
        lo = 64 * i
        aggs.append(
            F.coalesce(
                F.bit_or(
                    F.expr(
                        f"CASE WHEN bkt BETWEEN {lo} AND {lo + 63}"
                        f" THEN shiftleft(1L, bkt - {lo}) END"
                    )
                ),
                F.lit(0).cast("long"),
            ).alias(f"bm{i}")
        )
    return t.groupBy("doc_id").agg(*aggs)


def _bm_missing(a: str, b: str):
    """popcount(bm_a & ~bm_b): a lower bound on the number of distinct
    shingles of side ``a`` absent from side ``b`` (see ``_doc_stats``).
    Pure codegen'd long arithmetic — four AND-NOT-bit_counts per pair."""
    return sum(
        F.bit_count(
            F.col(f"{a}.bm{i}").bitwiseAND(
                F.bitwise_not(F.col(f"{b}.bm{i}"))
            )
        )
        for i in range(_BM_WORDS)
    )


def _verify_overlap_pairs(joined: DataFrame, containment: bool) -> DataFrame:
    """Arrow-vectorized verify stage shared by the prefix-filter and
    containment joins — the `_banded_vectorized` treatment applied to the
    exact set-similarity tier (round-7 verdict item 1). Input: candidate
    pairs joined with both sides' SORTED int64 shingle-id arrays
    (doc_a, doc_b, sz_a[, sz_b], tids_a, tids_b). One mapInPandas kernel
    computes |A∩B| per pair with numpy sorted-set membership
    (searchsorted + equality — C per pair instead of per-element JVM
    string set algebra) and applies the integer threshold INSIDE the
    kernel (τden·inter ≥ τnum·base), so only surviving pairs cross Arrow
    back to the JVM. Sizes ride the candidate frame (sz = |set|, counted
    upstream), so union is exact integer arithmetic sz_a + sz_b − inter
    and the kernel never touches floats — the DuckDB string-set oracle
    matches by construction.

    Design record (round 8, measured at the 50× boilerplate-clique
    stress corpus, 250 k docs / ~6.8 M verified pairs): this simple
    join-the-arrays form measured prefix 139.6 s / containment 302.4 s —
    2.5× / 1.5× over the round-7 string-set verify. Two further
    architectures were built and benchmarked SLOWER end-to-end on
    local[32]: (a) a grid-blocked verify (candidates shuffled by
    (hash(a) mod P, hash(b) mod Q), arrays replicated P+Q× instead of
    per-pair) drowned in the exchange + per-cell plumbing of the ~515 M
    candidate rows; (b) posting-bucket expansion with an in-kernel
    counted-Bloom prefilter (the pair stream never materializing as
    Spark rows) still lost to this form on prefix (326 vs 140 s) — the
    JVM join + distinct generates and dedups candidates faster than
    Python can expand and prune them; (c) the same counted-Bloom bound
    (Σ_j cnt_a[j]·absent_b[j] ≤ |A\\B|, prune if > sz_a − ⌈τ·sz_a⌉ —
    sound, and it does kill ~98% of candidates before the membership
    loop) memoized INSIDE this kernel measured 304 vs 302 s on
    containment: this stage is shuffle-bound behind the candidate
    distinct and the two array-attach joins, so pruned Python surfaces
    as idle workers, not wall-clock — reverted as unprofitable
    complexity. The remaining ceiling was CANDIDATE VOLUME (~70× the
    verified output on boilerplate-heavy corpora; positional/PPJoin+
    filters provably cannot prune it here — near-equal set sizes put
    every static bound above the τ=0.8 requirement), a property of
    prefix filtering, not of the verify kernel.

    Round-9 resolution: the volume ceiling fell to the in-JOIN bitmap
    prune (``_doc_stats``/``_bm_missing``) — the same counted-Bloom
    idea as rejected architecture (c), but evaluated BEFORE the
    shuffles that made (c) wall-clock-neutral: 32 bytes of per-doc
    presence bitmap ride the posting rows, and the sound bound kills
    ~98% of candidate rows inside the posting join's codegen stage, so
    the distinct, both array-attach joins, and this kernel all run on
    roughly the verified-output volume. Measured at the same 50×
    corpus: containment 302.4 → 100.6 s, prefix 139.6 → 55.9 s,
    output-identical (the bound is exact-from-above)."""
    import pandas as pd

    num, den = _PPJ_NUM, _PPJ_DEN

    def kernel(batches):
        import numpy as np

        for pdf in batches:
            m = len(pdf)
            if m == 0:
                continue
            ta = pdf["tids_a"].to_numpy()
            tb = pdf["tids_b"].to_numpy()
            inter = np.empty(m, dtype=np.int64)
            for i in range(m):
                a = np.asarray(ta[i])
                b = np.asarray(tb[i])
                pos = np.searchsorted(b, a)
                ok = pos < b.size
                inter[i] = np.count_nonzero(b[pos[ok]] == a[ok])
            sza = pdf["sz_a"].to_numpy()
            base = sza if containment else (
                sza + pdf["sz_b"].to_numpy() - inter
            )
            keep = den * inter >= num * base
            yield pd.DataFrame(
                {
                    "doc_a": pdf["doc_a"].to_numpy()[keep],
                    "doc_b": pdf["doc_b"].to_numpy()[keep],
                    "inter": inter[keep],
                    "base": base[keep],
                }
            )

    return joined.mapInPandas(
        kernel, "doc_a long, doc_b long, inter long, base long"
    )


def e1_prefix_filter_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set-similarity self-join by PREFIX FILTERING (PPJoin family) — the
    third candidate-generation strategy in the dedup kit, alongside
    MinHash-LSH (probabilistic) and SimHash bands (bitwise). Exact, not
    probabilistic: order every document's 3-gram shingle set by ascending
    global document frequency (rarest first, ties by shingle), keep only
    the PREFIX of p = |s| − ceil(τ·|s|) + 1 shingles — two sets with
    Jaccard ≥ τ MUST share a prefix shingle (pigeonhole), so candidates
    ride an equi-join on prefix shingles, narrowed further by the length
    filter τ·|a| ≤ |b| ≤ |a|/τ. Every threshold is integer arithmetic
    (ceil(τ·n) = (τnum·n + τden − 1) DIV τden; verify as
    τden·|a∩b| ≥ τnum·|a∪b|), so the oracle is exact by construction.
    Word 3-grams, not unigrams, are the set unit — the same measure the
    MinHash/LSH path approximates, so this IS its exact counterpart (and
    on the test corpus's ~30-token vocabulary, unigram sets are so
    heavily shared that τ=0.8 admits ~24% of ALL pairs — 2.9M rows at
    sf0.1 — while shingle sets isolate the planted near-dups). At high τ
    the prefixes are tiny and df-ordering makes them RARE shingles, so
    posting lists stay short where LSH would still hash every document
    128 times — the cheaper exact path for strict dedup. At 100 TB the
    df table is computed once per corpus snapshot and the prefix join
    partitions by shingle like any posting-list join."""
    return prefix_filter_pairs(load_table(spark, sf_dir, "documents"))


def prefix_filter_pairs(docs: DataFrame) -> DataFrame:
    """DataFrame-level body of ``e1_prefix_filter_join`` (docs needs
    doc_id, text) — shared with the scale-stress probe, which runs it on
    a boilerplate-skewed replicated corpus to prove the df-ascending
    prefix ordering keeps the posting-list HEAD out of the probe side.

    Execution (round 8): shingles are dictionary-coded to 64-bit longs
    (``_shingle_id``) right after the explode, so document frequency,
    the posting equi-join, and the carried set arrays are all int64 —
    ~3× less shuffle than shingle strings — and the verify stage is the
    Arrow kernel ``_verify_overlap_pairs`` instead of per-pair string
    set algebra. Exact up to the xxhash64 collision bound analyzed on
    ``_shingle_id`` (case (b) there, ~2e-15/pair — immeasurably below
    the oracle gate): the prefix rank orders by (df, tok-string) — a
    deterministic global total order, so the pigeonhole completeness
    proof holds verbatim even if two shingles shared a code (in the
    CANDIDATE stage that only widens the set, which verification then
    narrows; in the verify stage itself a colliding pair could perturb
    one intersection count at that negligible probability), and set
    sizes are counted upstream so union = sz_a + sz_b − inter in pure
    integers.

    Round 9: the candidate join carries each side's 256-bit presence
    bitmap (``_doc_stats``) and prunes, inside the join's codegen stage,
    every pair whose intersection upper bound
    ``min(sz_a − popcount(bm_a & ~bm_b), sz_b − popcount(bm_b & ~bm_a))``
    already falls below the Jaccard threshold — sound (the bound is
    exact-from-above, see ``_doc_stats``), so output is unchanged at any
    scale. On the 50× boilerplate stress corpus this kills the ~98% of
    candidate rows that the round-8 record could only prune AFTER the
    shuffle (where it was wall-clock-neutral): the candidate distinct,
    both array-attach joins, and the Arrow kernel now run on roughly the
    verified-output volume instead of ~70× it."""
    # a doc participates iff it has >= 1 non-empty token: NULL and
    # empty/whitespace text drop, matching the oracle exactly — DuckDB's
    # list_distinct removes the NULL its out-of-range slice yields for a
    # zero-token doc, so such docs are absent there; a 1-2-token doc
    # keeps its single partial shingle in BOTH engines
    toks = (
        docs.select(
            "doc_id",
            F.filter(F.split(F.col("text"), " "), lambda t: t != "").alias("t"),
        )
        .filter(F.size("t") >= 1)
        .select("doc_id", F.explode(_shingles(F.col("t"))).alias("tok"))
        .select("doc_id", "tok", _shingle_id(F.col("tok")).alias("tid"))
    )

    dfc = toks.groupBy("tid").agg(F.count(F.lit(1)).alias("df"))
    stats = _doc_stats(toks)
    w = Window.partitionBy("doc_id").orderBy("df", "tok")
    bm_cols = [f"bm{i}" for i in range(_BM_WORDS)]
    prefix = (
        toks.join(dfc, "tid")
        .join(stats, "doc_id")
        .withColumn("pos", F.row_number().over(w))
        .filter(F.col("pos") <= F.col("sz") - _ceil_tau_int(F.col("sz")) + 1)
        .select("tid", "doc_id", "sz", *bm_cols)
    )
    a, b = prefix.alias("a"), prefix.alias("b")
    num, den = _PPJ_NUM, _PPJ_DEN
    # bitmap prune (see docstring): keep only pairs whose intersection
    # upper bound can still reach τ — (den+num)·(sz_a − missing_ab) ≥
    # num·(sz_a + sz_b), rearranged to avoid re-deriving sz_a, and its
    # mirror on the b side (the sets are distinct, so both bounds hold)
    prune = (
        (den + num) * _bm_missing("a", "b")
        <= den * F.col("a.sz") - num * F.col("b.sz")
    ) & (
        (den + num) * _bm_missing("b", "a")
        <= den * F.col("b.sz") - num * F.col("a.sz")
    )
    cand = (
        a.join(
            b,
            (F.col("a.tid") == F.col("b.tid"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & (F.col("b.sz") >= _ceil_tau_int(F.col("a.sz")))
            & (F.col("a.sz") >= _ceil_tau_int(F.col("b.sz")))
            & prune,
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.sz").alias("sz_a"),
            F.col("b.sz").alias("sz_b"),
        )
        .distinct()
    )
    sets = toks.groupBy("doc_id").agg(
        F.sort_array(F.collect_list("tid")).alias("tids")
    )
    joined = cand.join(
        sets.select(F.col("doc_id").alias("doc_a"), F.col("tids").alias("tids_a")),
        "doc_a",
    ).join(
        sets.select(F.col("doc_id").alias("doc_b"), F.col("tids").alias("tids_b")),
        "doc_b",
    )
    v = _verify_overlap_pairs(joined, containment=False)
    return v.select(
        "doc_a",
        "doc_b",
        F.round(F.col("inter").cast("double") / F.col("base"), 4).alias(
            "jaccard"
        ),
    )


SPAN_N = 8  # tokens per span; Lee et al. 2022 use 50-token spans at corpus scale

# The span-duplication profile as one spark.sql parse. Span keys are a
# 128-bit two-seed xxhash64 pair over the token slice, carried as two
# flat long columns. The key feeds only the duplicate-count equality,
# never an output value, and tokens contain no spaces, so the token-slice
# key identifies the same spans as the oracle's md5 over the joined
# string. A single 64-bit key has birthday-collision expectation ≫ 1 at
# the declared 100 TB envelope (~10^11 spans), and a collision silently
# merges distinct spans into one duplicate group; the pair pushes that
# expectation below ~10^-4. Measured on the isolated query: a token-slice
# hash instead of md5 over the joined string 0.38 → 0.28 s (no per-span
# digest and hex string, a narrower shuffle key); the 128-bit pair over
# a 64-bit key +15% (0.26 → 0.30 s at sf0.1); a struct-valued key
# instead of two flat columns +55%. array_remove(…, '') replaces an
# interpreted filter lambda (same result, ~15% cheaper).
_SPAN_DEDUP_SQL = f"""
        WITH spans AS (
            SELECT doc_id, xxhash64(sp) AS h1, xxhash64(8191L, sp) AS h2
            FROM (SELECT doc_id, toks FROM
                    (SELECT doc_id,
                            array_remove(split(text, ' '), '') AS toks
                     FROM {{documents}})
                  WHERE size(toks) >= {SPAN_N})
            LATERAL VIEW explode(array_distinct(transform(
                sequence(1, size(toks) - {SPAN_N - 1}),
                i -> slice(toks, i, {SPAN_N}))))
                t AS sp
        ), tagged AS (
            SELECT doc_id, count(*) OVER (PARTITION BY h1, h2) AS n_docs
            FROM spans
        )
        SELECT doc_id,
               count(*) AS n_spans,
               count(CASE WHEN n_docs >= 2 THEN 1 END) AS n_dup_spans,
               round(CAST(count(CASE WHEN n_docs >= 2 THEN 1 END) AS DOUBLE)
                     / count(*), 6) AS dup_span_fraction
        FROM tagged GROUP BY doc_id
"""


def e1_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPAN-level (substring) duplication profile — the fourth granularity
    in the dedup kit: exact (whole doc), MinHash/SimHash/prefix-filter
    (whole-doc near-dup), and now REPEATED PASSAGES inside otherwise
    distinct documents ("Deduplicating Training Data Makes Language Models
    Better", Lee et al. 2022 — their suffix-array ExactSubstr, re-expressed
    as a distributed posting-list join). Every sliding ``SPAN_N``-token
    window is keyed by a 128-bit content hash; a span appearing in ≥2
    distinct documents is duplicated, and each document reports what
    fraction of its distinct spans are. The reference dedups only whole
    payloads (database/change_tracking.py:370-387); span granularity is
    what catches boilerplate headers, quoted replies, and license blocks
    that whole-doc similarity dilutes below threshold.

    Scale shape: span TEXT never crosses a shuffle — documents fan out to
    (doc_id, key) pairs map-side, and the expensive span stream is
    computed ONCE: a count-over-key window tags each span with its
    document frequency in the same pass that carries it to the per-doc
    aggregate, so there is no posting-list self-join re-deriving the
    stream (the join form recomputes span generation per side — measured
    2.3× slower at 10×-replicated sf0.1). At 100 TB this is one
    hash-partitioned sort + one combinable hash aggregate over skew-free
    128-bit keys; no pairwise stage anywhere. The suffix-array
    construction of the paper needs a global sort; the posting-list form
    trades its byte-exact span boundaries for pure shuffle-parallelism at
    fixed span length. Served under both catalog names (``e1_span_dedup``
    and ``e1_span_dedup_sql``) over the scoped temp views."""
    from ..sources.tables import scoped_views

    v = scoped_views(spark, sf_dir)
    return spark.sql(_SPAN_DEDUP_SQL.format(documents=v["documents"]))


def _span_hashes(docs: DataFrame) -> DataFrame:
    """(doc_id, h) stream of per-document DISTINCT ``SPAN_N``-token span
    hashes (md5) — docs shorter than ``SPAN_N`` tokens contribute no rows.
    The streaming span-dedup index's key; md5 is its persisted key
    format (the batch profile keys spans by ``_SPAN_DEDUP_SQL``'s
    two-seed xxhash64 pair)."""
    toks = docs.select(
        "doc_id",
        F.filter(F.split(F.col("text"), " "), lambda t: t != "").alias("toks"),
    ).filter(F.size("toks") >= SPAN_N)
    return toks.select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(1), F.size("toks") - (SPAN_N - 1)),
                    lambda i: F.md5(
                        F.concat_ws(" ", F.slice("toks", i, SPAN_N))
                    ),
                )
            )
        ).alias("h"),
    )


def span_duplication_profile(docs: DataFrame) -> DataFrame:
    """``e1_span_dedup``'s query text over any (doc_id, text) frame —
    shared with e5_dedup_report and the scale-stress probe, which runs
    it on an n×-replicated corpus."""
    return docs.sparkSession.sql(_SPAN_DEDUP_SQL, documents=docs)


def e1_span_trim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level TRIM — the rewriting half of the ExactSubstr recipe
    (Lee et al. 2022 *remove* the later occurrences of duplicated
    substrings, they don't just report them): within each document, every
    repeated ``SPAN_N``-token passage keeps its FIRST occurrence and the
    tokens covered by later occurrences are excised, so quoting loops,
    repeated boilerplate blocks, and copy-paste chat turns stop inflating
    a document's token count. ``e1_span_dedup`` is the cross-document
    duplication PROFILE over the same span keys; this operator performs
    the intra-document removal and returns the rewritten text (doc_id,
    n_tokens, n_dropped, trimmed_text). The reference dedups whole
    payloads only (database/change_tracking.py:370-387).

    Scale shape: span TEXT never crosses a shuffle — documents fan out
    map-side to (doc_id, start_pos, span_hash) triples; ONE window over
    the skew-free (doc_id, hash) key marks later occurrences; covered
    positions explode to integers and aggregate per doc; the rewrite is a
    map-side higher-order filter over the token array after a doc-keyed
    join. Two narrow-key shuffles, no pairwise stage, rebuild entirely in
    whole-stage codegen. The span length is ``TRIM_SPAN_N`` = 3 tokens —
    tuned to the fixture corpus the way the paper tunes its 50-token
    window to web scale (the algebra is length-independent; the
    cross-document profile keeps its own ``SPAN_N`` = 8)."""
    return span_trim(load_table(spark, sf_dir, "documents"))


TRIM_SPAN_N = 3  # intra-doc repeat window; Lee et al. use 50 at corpus scale


def span_trim(docs: DataFrame, span_n: int = TRIM_SPAN_N) -> DataFrame:
    """DataFrame-level body of ``e1_span_trim`` (docs needs doc_id,
    text). NULL/empty text rewrites to '' with zero counts."""
    toks = docs.select(
        "doc_id",
        F.filter(
            F.split(F.coalesce(F.col("text"), F.lit("")), " "),
            lambda t: t != "",
        ).alias("toks"),
    )
    spans = (
        toks.filter(F.size("toks") >= span_n)
        .select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("toks") - (span_n - 1)),
                    lambda i: F.struct(
                        i.alias("p"),
                        F.md5(
                            F.concat_ws(" ", F.slice("toks", i, span_n))
                        ).alias("h"),
                    ),
                )
            ).alias("s"),
        )
        .select("doc_id", F.col("s.p").alias("p"), F.col("s.h").alias("h"))
    )
    w_occ = Window.partitionBy("doc_id", "h").orderBy("p")
    dropped = (
        spans.withColumn("rn", F.row_number().over(w_occ))
        .filter(F.col("rn") > 1)  # keep the FIRST occurrence of each span
        .select(
            "doc_id",
            F.explode(
                F.sequence(F.col("p"), F.col("p") + (span_n - 1))
            ).alias("pos"),
        )
        .groupBy("doc_id")
        .agg(F.collect_set("pos").alias("drop_pos"))
    )
    dp = F.coalesce(F.col("drop_pos"), F.array().cast("array<int>"))
    kept = F.transform(
        F.filter(
            F.transform(
                "toks",
                lambda t, i: F.struct(
                    t.alias("t"), (i + F.lit(1)).alias("pos")
                ),
            ),
            lambda s: ~F.array_contains(dp, s["pos"]),
        ),
        lambda s: s["t"],
    )
    return toks.join(dropped, "doc_id", "left").select(
        "doc_id",
        F.size("toks").alias("n_tokens"),
        F.coalesce(F.size("drop_pos"), F.lit(0)).alias("n_dropped"),
        F.concat_ws(" ", kept).alias("trimmed_text"),
    )


def e1_containment_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shingle-CONTAINMENT self-join (overlap coefficient ≥ τ): find pairs
    where the smaller document's 3-gram shingle set is mostly inside the
    larger one's — quoted-with-additions posts, doc-plus-appendix
    reissues, excerpt pages. Symmetric Jaccard structurally misses these
    (a doc fully contained in one 3× its size caps at J = 1/3); the
    overlap coefficient |A∩B| / min(|A|,|B|) is the standard fix and
    needs its own join strategy, implemented here as the containment
    variant of prefix filtering: only the SMALLER side of a pair is
    probed, keeping its first |s| − ⌈τ·|s|⌉ + 1 shingles in
    ascending-document-frequency order (pigeonhole: the excluded
    ⌈τ|s|⌉ − 1 shingles cannot hold all of an intersection of size
    ≥ ⌈τ|s|⌉), while the larger side is indexed on ALL its shingles —
    candidates ride an equi-join of rare probe shingles against the full
    posting list, oriented (smaller → larger) via (sz, doc_id) so each
    unordered pair is generated from one side only. Word 3-grams, not
    unigrams, are the containment unit: position-coupled shingles make
    containment mean shared PASSAGES (on the test corpus's ~30-token
    vocabulary, unigram sets are trivially nested — τ=0.8 admits 40% of
    all pairs; shingle sets isolate exactly the planted containments).
    All thresholds are exact integer arithmetic, so the oracle matches by
    construction. At 100 TB the posting list partitions by shingle like
    any inverted index; df-ascending prefixes keep probe fan-out on the
    rare tail rather than the boilerplate head."""
    return containment_pairs(load_table(spark, sf_dir, "documents"))


def containment_pairs(docs: DataFrame) -> DataFrame:
    """DataFrame-level body of ``e1_containment_join`` (docs needs doc_id,
    text) — shared with the scale-stress probe (boilerplate-skewed
    replicated corpus). Round 8: same int64 dictionary-code + Arrow-kernel
    verify treatment as ``prefix_filter_pairs`` (see its docstring for the
    exactness argument); here the kernel's threshold base is the smaller
    side's set size, carried from the candidate frame. Round 9: same
    in-join 256-bit bitmap prune (``_doc_stats``/``_bm_missing``) — sound,
    output-identical; keep only pairs where
    den·(sz_a − popcount(bm_a & ~bm_b)) ≥ num·sz_a, i.e. the smaller
    side's provably-absent shingles leave the overlap coefficient
    reachable. This was the engine's slowest stage (302 s / 250 k docs at
    50×, round-8 STRESS record) because the tiny-vocabulary corpus makes
    ~70× the verified volume collide on single rare shingles; the prune
    kills those inside the posting join, before the candidate distinct
    and array-attach shuffles that made post-shuffle pruning neutral."""
    # a doc participates iff it has >= 1 non-empty token: NULL and
    # empty/whitespace text drop, matching the oracle exactly — DuckDB's
    # list_distinct removes the NULL its out-of-range slice yields for a
    # zero-token doc, so such docs are absent there; a 1-2-token doc
    # keeps its single partial shingle in BOTH engines
    toks = (
        docs.select(
            "doc_id",
            F.filter(F.split(F.col("text"), " "), lambda t: t != "").alias("t"),
        )
        .filter(F.size("t") >= 1)
        .select("doc_id", F.explode(_shingles(F.col("t"))).alias("tok"))
        .select("doc_id", "tok", _shingle_id(F.col("tok")).alias("tid"))
    )

    dfc = toks.groupBy("tid").agg(F.count(F.lit(1)).alias("df"))
    stats = _doc_stats(toks)
    bm_cols = [f"bm{i}" for i in range(_BM_WORDS)]
    full = toks.join(stats, "doc_id")
    w = Window.partitionBy("doc_id").orderBy("df", "tok")
    prefix = (
        full.join(dfc, "tid")
        .withColumn("pos", F.row_number().over(w))
        .filter(F.col("pos") <= F.col("sz") - _ceil_tau_int(F.col("sz")) + 1)
        .select("tid", "doc_id", "sz", *bm_cols)
    )
    a = prefix.alias("a")
    b = full.select("tid", "doc_id", "sz", *bm_cols).alias("b")
    num, den = _PPJ_NUM, _PPJ_DEN
    # bitmap prune (see docstring): den·(sz_a − missing_ab) ≥ num·sz_a
    # ⇔ den·missing_ab ≤ (den − num)·sz_a — sound, output-identical
    prune = den * _bm_missing("a", "b") <= (den - num) * F.col("a.sz")
    cand = (
        a.join(
            b,
            (F.col("a.tid") == F.col("b.tid"))
            & (
                (F.col("a.sz") < F.col("b.sz"))
                | (
                    (F.col("a.sz") == F.col("b.sz"))
                    & (F.col("a.doc_id") < F.col("b.doc_id"))
                )
            )
            & prune,
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.sz").alias("sz_a"),
        )
        .distinct()
    )
    sets = toks.groupBy("doc_id").agg(
        F.sort_array(F.collect_list("tid")).alias("tids")
    )
    joined = cand.join(
        sets.select(F.col("doc_id").alias("doc_a"), F.col("tids").alias("tids_a")),
        "doc_a",
    ).join(
        sets.select(F.col("doc_id").alias("doc_b"), F.col("tids").alias("tids_b")),
        "doc_b",
    )
    v = _verify_overlap_pairs(joined, containment=True)
    return v.select(
        F.col("doc_a").alias("doc_small"),
        F.col("doc_b").alias("doc_large"),
        F.round(F.col("inter").cast("double") / F.col("base"), 4).alias(
            "containment"
        ),
    )


WINNOW_TAU = 10  # shared fingerprints to call a pair a near-dup
WINNOW_MAXDF = 10  # drop fingerprints shared by more docs (boilerplate)


def e1_winnow_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing-fingerprint near-dup join (the MOSS scheme, Schleimer et
    al. 2003, as a corpus self-join): pairs of documents sharing at least
    ``WINNOW_TAU`` winnowed k-gram fingerprints
    (textops.winnow_postings). Winnowing selects each sliding window's
    MINIMUM hash, so — unlike MinHash, which sketches whole-document
    Jaccard — shared fingerprints certify shared contiguous PASSAGES
    (every common run of WINNOW_K + WINNOW_W − 1 tokens lands at least
    one common fingerprint), making this the sketched complement of the
    exact ``e1_span_dedup``: ~2/(W+1) of positions kept instead of every
    span, at the cost of probabilistic counts.

    The join is an inverted-index equi-join on the fingerprint with a
    document-frequency cap: fingerprints appearing in more than
    ``WINNOW_MAXDF`` documents are boilerplate head and dropped before
    the self-join — the same df-discipline as the prefix-filter join,
    and the thing that bounds candidate fan-out to O(df²) on the rare
    tail instead of O(hot²) at 100 TB, where the postings would be
    written bucketed by fingerprint. Integer counts only, so the oracle
    is exact by construction."""
    return winnow_pairs(load_table(spark, sf_dir, "documents"))


def winnow_pairs(
    docs: DataFrame, tau: int = WINNOW_TAU, maxdf: int = WINNOW_MAXDF
) -> DataFrame:
    """DataFrame-level body of ``e1_winnow_join`` (docs needs doc_id,
    text) — shared with the scale-stress probe, which raises ``maxdf``
    above its replica-clique size so clique fingerprints survive while
    the corpus-wide boilerplate head still gets dropped."""
    from .textops import winnow_postings

    # Round 8 execution rework, 2.4× measured at the 10× stress corpus
    # (27.4 s → 11.45 s, identical pairs + checksum):
    # (1) the 32-hex md5 fingerprint is recoded to a 64-bit xxhash right
    #     after winnowing — the shuffle key drops from a 32-byte string
    #     to an 8-byte long and the pair-count aggregation runs on
    #     (long, long) keys in whole-stage codegen. A recode collision
    #     would merge two distinct fingerprints (P ≈ |fps|²/2⁶⁵ ≈ 3e-9
    #     at the 50× stress corpus, ~1e-13 at the sf0.01 oracle gate) —
    #     the string-keyed DuckDB oracle still hash-matches because no
    #     collision occurs at any tested scale. (md5 itself stays
    #     upstream in winnow_postings: the window-min SELECTION must be
    #     on the lexicographic hex order both engines share.)
    # (2) the df-cap + self-join pipeline (postings computed twice,
    #     shuffled twice) becomes ONE pass: a count window over fp
    #     applies the df cap after a single posting shuffle, the
    #     already-fp-partitioned survivors group into sorted member
    #     lists (collect buffer hard-bounded by maxdf — the window
    #     filter runs first), and candidate pairs expand MAP-SIDE via
    #     the same HOF shape the LSH bucket tail uses, feeding the
    #     pair-count aggregation with its partial (map-side) combine.
    #     (An Arrow-kernel expansion — numpy triu gathers — was also
    #     measured: 173 vs 103 s at 50×; the double Arrow hop of the
    #     245 M-row pair stream costs more than the interpreted HOF
    #     saves.) The hot
    #     boilerplate head (df = |corpus|) still crosses the one
    #     shuffle before being dropped — exactly as it did on the join's
    #     probe side — and emits nothing downstream.
    # Round 10 design record (measured, REJECTED): the _doc_stats
    #     in-join bitmap prune that bought prefix/containment 2.5-3×
    #     in round 9 was built for this tier too — per-doc 256-bit
    #     fingerprint presence bitmaps derived MAP-SIDE from the
    #     per-doc fingerprint array row (zero extra shuffle), riding the member
    #     lists, with the sound bound
    #     min(sz_a − popcount(bm_a & ~bm_b), sz_b − popcount(bm_b & ~bm_a))
    #     evaluated INSIDE the bucket expansion. Output-identical, and
    #     measured 181.4 s vs this form's 103.2 s at the 50× stress
    #     corpus. The reason it loses where prefix/containment won:
    #     their candidate streams were ~70× the verified output
    #     (single-rare-shingle collisions, nearly all prunable); the
    #     winnow stream after the df cap IS the true clique-pair stream
    #     — every candidate genuinely shares ≥ tau fingerprints, the
    #     bound prunes ~nothing, and the 56-byte posting rows, struct
    #     member lists, and 8 interpreted bit_counts per candidate are
    #     pure overhead. The prune needs prunable candidates; winnow's
    #     df cap already removed them.
    posts = winnow_postings(docs).select(
        "doc_id", F.xxhash64("fp").alias("fp")
    )
    members = F.col("members")
    pairs = F.flatten(
        F.transform(
            members,
            lambda m, i: F.transform(
                F.slice(members, i + 2, F.size(members)),
                lambda m2: F.struct(m.alias("doc_a"), m2.alias("doc_b")),
            ),
        )
    )
    return (
        posts.withColumn(
            "n_docs", F.count(F.lit(1)).over(Window.partitionBy("fp"))
        )
        .filter(F.col("n_docs") <= maxdf)
        .groupBy("fp")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("members"))
        .filter(F.size("members") >= 2)
        .select(F.explode(pairs).alias("p"))
        .select("p.doc_a", "p.doc_b")
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= tau)
    )


QUERIES = {
    "e1_neardup_recall": e1_neardup_recall,
    "e1_winnow_join": e1_winnow_join,
    "e1_prefix_filter_join": e1_prefix_filter_join,
    "e1_span_dedup": e1_span_dedup,
    "e1_span_trim": e1_span_trim,
    "e1_containment_join": e1_containment_join,
    "e1_exact_dedup": e1_exact_dedup,
    "e1_embedding_neardup": e1_embedding_neardup,
    "e1_embedding_neardup_ivf": e1_embedding_neardup_ivf,
    "e1_semantic_dedup": e1_semantic_dedup,
    "e1_dedup_stats": e1_dedup_stats,
    "e1_ngram_jaccard": e1_ngram_jaccard,
    "e1_minhash_lsh": e1_minhash_lsh,
    "e1_simhash": e1_simhash,
    "e1_dedup_clusters": e1_dedup_clusters,
}

ORACLES = {
    # e1_winnow_join is appended below the dict (composes textops'
    # shared winnowing-postings CTE)
    "e1_span_dedup": """
        WITH toks AS (
            SELECT doc_id,
                   list_filter(string_split(text, ' '), t -> t <> '') AS toks
            FROM documents
        ), spans AS (
            SELECT DISTINCT doc_id,
                   md5(array_to_string(toks[i:i+7], ' ')) AS h
            FROM toks, LATERAL unnest(generate_series(1, len(toks) - 7)) AS t(i)
            WHERE len(toks) >= 8
        ), posting AS (
            SELECT h, count(*) AS n_docs FROM spans GROUP BY h
        ), per_doc AS (
            SELECT doc_id, count(*) AS n_spans FROM spans GROUP BY doc_id
        ), dups AS (
            SELECT s.doc_id, count(*) AS n_dup_spans
            FROM spans s JOIN posting USING (h)
            WHERE posting.n_docs >= 2 GROUP BY s.doc_id
        )
        SELECT p.doc_id,
               p.n_spans,
               coalesce(d.n_dup_spans, 0) AS n_dup_spans,
               round(CAST(coalesce(d.n_dup_spans, 0) AS DOUBLE) / p.n_spans, 6)
                   AS dup_span_fraction
        FROM per_doc p LEFT JOIN dups d USING (doc_id)
    """,
    "e1_span_trim": """
        WITH toks AS (
            SELECT doc_id,
                   list_filter(string_split(coalesce(text, ''), ' '),
                               t -> t <> '') AS toks
            FROM documents
        ), spans AS (
            SELECT doc_id, i AS p,
                   md5(array_to_string(toks[i:i+2], ' ')) AS h
            FROM toks, LATERAL unnest(generate_series(1, len(toks) - 2)) AS t(i)
            WHERE len(toks) >= 3
        ), rep AS (
            SELECT doc_id, p FROM (
                SELECT doc_id, p,
                       row_number() OVER (PARTITION BY doc_id, h
                                          ORDER BY p) AS rn
                FROM spans)
            WHERE rn > 1
        ), drop_pos AS (
            SELECT DISTINCT doc_id, u.pos
            FROM rep, LATERAL unnest(generate_series(p, p + 2)) AS u(pos)
        ), dropped AS (
            SELECT doc_id, count(*) AS n_dropped FROM drop_pos GROUP BY doc_id
        ), kept AS (
            SELECT t.doc_id, u.pos, t.toks[u.pos] AS tok
            FROM toks t,
                 LATERAL unnest(generate_series(1, len(t.toks))) AS u(pos)
            WHERE NOT EXISTS (SELECT 1 FROM drop_pos d
                              WHERE d.doc_id = t.doc_id AND d.pos = u.pos)
        ), rebuilt AS (
            SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS trimmed_text
            FROM kept GROUP BY doc_id
        )
        SELECT t.doc_id,
               CAST(len(t.toks) AS INT) AS n_tokens,
               CAST(coalesce(d.n_dropped, 0) AS INT) AS n_dropped,
               coalesce(r.trimmed_text, '') AS trimmed_text
        FROM toks t
        LEFT JOIN dropped d USING (doc_id)
        LEFT JOIN rebuilt r USING (doc_id)
    """,
    "e1_containment_join": """
        WITH raw AS (
            SELECT doc_id,
                   list_filter(string_split(text, ' '), x -> x <> '') AS toks
            FROM documents
        ), tok AS (
            SELECT doc_id, t.tok
            FROM raw,
                 LATERAL unnest(list_distinct(list_transform(
                     generate_series(1, greatest(len(toks) - 2, 1)),
                     i -> array_to_string(toks[i:i+2], ' ')))) AS t(tok)
        ), dfc AS (
            SELECT tok, count(*) AS df FROM tok GROUP BY tok
        ), sz AS (
            SELECT doc_id, count(*) AS sz FROM tok GROUP BY doc_id
        ), full_side AS (
            SELECT tok.doc_id, tok.tok, sz.sz
            FROM tok JOIN sz USING (doc_id)
        ), ranked AS (
            SELECT f.doc_id, f.tok, f.sz,
                   row_number() OVER (PARTITION BY f.doc_id
                                      ORDER BY dfc.df, f.tok) AS pos
            FROM full_side f JOIN dfc USING (tok)
        ), prefix AS (
            SELECT doc_id, tok, sz FROM ranked
            WHERE pos <= sz - (4 * sz + 4) // 5 + 1
        ), cand AS (
            SELECT DISTINCT a.doc_id AS doc_small, b.doc_id AS doc_large,
                            a.sz AS sz_small
            FROM prefix a JOIN full_side b
              ON a.tok = b.tok
             AND (a.sz < b.sz OR (a.sz = b.sz AND a.doc_id < b.doc_id))
        ), sets AS (
            SELECT doc_id, list(tok ORDER BY tok) AS toks FROM tok GROUP BY doc_id
        ), verified AS (
            SELECT doc_small, doc_large, sz_small,
                   len(list_intersect(ss.toks, sl.toks)) AS inter
            FROM cand
            JOIN sets ss ON ss.doc_id = doc_small
            JOIN sets sl ON sl.doc_id = doc_large
        )
        SELECT doc_small, doc_large,
               round(CAST(inter AS DOUBLE) / sz_small, 4) AS containment
        FROM verified WHERE 5 * inter >= 4 * sz_small
    """,
    "e1_prefix_filter_join": """
        WITH raw AS (
            SELECT doc_id,
                   list_filter(string_split(text, ' '), x -> x <> '') AS toks
            FROM documents
        ), tok AS (
            SELECT doc_id, t.tok
            FROM raw,
                 LATERAL unnest(list_distinct(list_transform(
                     generate_series(1, greatest(len(toks) - 2, 1)),
                     i -> array_to_string(toks[i:i+2], ' ')))) AS t(tok)
        ), dfc AS (
            SELECT tok, count(*) AS df FROM tok GROUP BY tok
        ), sz AS (
            SELECT doc_id, count(*) AS sz FROM tok GROUP BY doc_id
        ), ranked AS (
            SELECT tok.doc_id, tok.tok, sz.sz,
                   row_number() OVER (PARTITION BY tok.doc_id
                                      ORDER BY dfc.df, tok.tok) AS pos
            FROM tok JOIN dfc USING (tok) JOIN sz USING (doc_id)
        ), prefix AS (
            SELECT doc_id, tok, sz FROM ranked
            WHERE pos <= sz - (4 * sz + 4) // 5 + 1
        ), cand AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM prefix a JOIN prefix b
              ON a.tok = b.tok AND a.doc_id < b.doc_id
             AND b.sz >= (4 * a.sz + 4) // 5 AND a.sz >= (4 * b.sz + 4) // 5
        ), sets AS (
            SELECT doc_id, list(tok ORDER BY tok) AS toks FROM tok GROUP BY doc_id
        ), verified AS (
            SELECT doc_a, doc_b,
                   len(list_intersect(sa.toks, sb.toks)) AS inter,
                   len(list_distinct(list_concat(sa.toks, sb.toks))) AS uni
            FROM cand
            JOIN sets sa ON sa.doc_id = doc_a
            JOIN sets sb ON sb.doc_id = doc_b
        )
        SELECT doc_a, doc_b,
               round(CAST(inter AS DOUBLE) / uni, 4) AS jaccard
        FROM verified WHERE 5 * inter >= 4 * uni
    """,
    "e1_embedding_neardup": """
        WITH e AS (
            SELECT vec_id,
                   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
            FROM embeddings
        )
        SELECT doc_a, doc_b, cosine FROM (
            SELECT a.vec_id AS doc_a, b.vec_id AS doc_b,
                   round(list_dot_product(a.emb, b.emb)
                         / sqrt(list_dot_product(a.emb, a.emb))
                         / sqrt(list_dot_product(b.emb, b.emb)), 6) AS cosine
            FROM e a JOIN e b ON a.vec_id < b.vec_id
        ) WHERE cosine >= 0.35
    """,
    "e1_exact_dedup": """
        SELECT sha256(text) AS content_key,
               min(doc_id) AS keeper_doc_id,
               count(*) AS n_copies
        FROM documents GROUP BY sha256(text)
    """,
    "e1_dedup_stats": """
        SELECT count(*) AS n_docs,
               count(DISTINCT text) AS n_distinct,
               count(*) - count(DISTINCT text) AS n_dups
        FROM documents
    """,
    "e1_ngram_jaccard": """
        WITH sh AS (
            SELECT doc_id,
                   list_distinct(
                     list_transform(
                       generate_series(1, greatest(len(string_split(text,' ')) - 2, 1)),
                       i -> array_to_string(string_split(text,' ')[i:i+2], ' ')
                     )
                   ) AS shingles
            FROM documents WHERE doc_id < 500
        )
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               round(CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
                     / len(list_distinct(list_concat(a.shingles, b.shingles))), 6) AS jaccard
        FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        WHERE CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
              / len(list_distinct(list_concat(a.shingles, b.shingles))) >= 0.2
    """,
    "e1_minhash_lsh": """
        WITH toks AS (
            SELECT doc_id, toks FROM (
                SELECT doc_id,
                       list_filter(string_split(text, ' '), t -> t <> '') AS toks
                FROM documents
            ) WHERE len(toks) >= 3
        ), th AS (
            SELECT doc_id, list_transform(toks, t ->
                list_reduce(list_prepend(CAST(0 AS BIGINT),
                    list_transform(string_split(t, ''),
                                   c -> CAST(ascii(c) AS BIGINT))),
                    (a, c) -> (a * 131 + c) % 2147483647)) AS th
            FROM toks
        ), sh AS (
            SELECT doc_id, list_distinct(list_transform(
                generate_series(1, greatest(len(th) - 2, 1)),
                i -> ((th[i] * 131 + th[i+1]) * 131 + th[i+2]) % 2147483647))
                AS shingles
            FROM th
        ), sig AS (
            SELECT doc_id, shingles, list_transform(generate_series(0, 15), k ->
                list_min(list_transform(shingles,
                    h -> (h * (2*k+1) + 7919*(k+1)) % 2147483647))) AS sig
            FROM sh
        ), banded AS (
            SELECT doc_id, shingles, b,
                   CAST(sig[b*4+1] AS VARCHAR) || ':' ||
                   CAST(sig[b*4+2] AS VARCHAR) || ':' ||
                   CAST(sig[b*4+3] AS VARCHAR) || ':' ||
                   CAST(sig[b*4+4] AS VARCHAR) AS band_sig
            FROM sig, generate_series(0, 3) t(b)
        )
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
               round(CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
                     / len(list_distinct(list_concat(a.shingles, b.shingles))), 6)
                   AS jaccard
        FROM banded a JOIN banded b
          ON a.b = b.b AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id
    """,
    "e1_simhash": """
        WITH toks AS (
            SELECT doc_id,
                   list_filter(list_distinct(string_split(text, ' ')),
                               t -> t <> '') AS toks
            FROM documents
        ), hashes AS (
            SELECT doc_id,
                   unnest(list_transform(toks, t ->
                       list_reduce(
                           list_prepend(CAST(0 AS BIGINT),
                               list_transform(string_split(t, ''),
                                              c -> CAST(ascii(c) AS BIGINT))),
                           (a, c) -> (a * 131 + c) % 2147483647))) AS h
            FROM toks
        ), votes AS (
            SELECT doc_id, bit,
                   sum(CASE WHEN (h >> bit) & 1 = 1 THEN 1 ELSE -1 END) AS vote
            FROM hashes, generate_series(0, 31) t(bit)
            GROUP BY doc_id, bit
        ), fp AS (
            SELECT doc_id,
                   CAST(sum(CASE WHEN vote > 0
                                 THEN (CAST(1 AS BIGINT) << bit)
                                 ELSE 0 END) AS BIGINT) AS simhash
            FROM votes GROUP BY doc_id
        )
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
        FROM fp a JOIN fp b ON a.doc_id < b.doc_id
        WHERE bit_count(xor(a.simhash, b.simhash)) <= 6
    """,
}

# Same 1-round quantizer the e2 search oracle pins (shared CTE chain), then:
# top-2 cell multi-assignment by centroid cosine, same-cell candidate pairs,
# exact-cosine verify. DISTINCT collapses pairs sharing both top-2 cells.
from .similarity import IVF1_CENTS_SQL  # noqa: E402  (after ORACLES: oracle-only dep)

_IVF_PAIRS_CTES = IVF1_CENTS_SQL + """
    , cent_scored AS (
        SELECT c.vec_id, c.emb, ct.cell,
               round(list_dot_product(c.emb, ct.c_emb)
                     / (sqrt(list_dot_product(c.emb, c.emb))
                        * sqrt(list_dot_product(ct.c_emb, ct.c_emb))), 6) AS cos6
        FROM corpus c CROSS JOIN cents ct
    ), multi AS (
        SELECT vec_id, emb, cell
        FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
                                           ORDER BY cos6 DESC, cell ASC) AS rn
              FROM cent_scored)
        WHERE rn <= 2
    ), pairs AS (
        SELECT DISTINCT doc_a, doc_b, cosine FROM (
            SELECT a.vec_id AS doc_a, b.vec_id AS doc_b,
                   round(list_dot_product(a.emb, b.emb)
                         / (sqrt(list_dot_product(a.emb, a.emb))
                            * sqrt(list_dot_product(b.emb, b.emb))), 6) AS cosine
            FROM multi a JOIN multi b
              ON a.cell = b.cell AND a.vec_id < b.vec_id
        ) WHERE cosine >= 0.35
    )"""

ORACLES["e1_embedding_neardup_ivf"] = _IVF_PAIRS_CTES + """
    SELECT doc_a, doc_b, cosine FROM pairs
"""

# recall of the IVF candidate pairs against the exact all-pairs set —
# both sides are the same CTE algebra the individual oracles pin
ORACLES["e1_neardup_recall"] = _IVF_PAIRS_CTES + """
    , exact AS (
        SELECT doc_a, doc_b FROM (
            SELECT a.vec_id AS doc_a, b.vec_id AS doc_b,
                   round(list_dot_product(a.emb, b.emb)
                         / (sqrt(list_dot_product(a.emb, a.emb))
                            * sqrt(list_dot_product(b.emb, b.emb))), 6) AS cosine
            FROM corpus a JOIN corpus b ON a.vec_id < b.vec_id
        ) WHERE cosine >= 0.35
    ), counts AS (
        SELECT (SELECT count(*) FROM exact) AS n_exact,
               (SELECT count(*) FROM pairs) AS n_ivf,
               (SELECT count(*) FROM exact e
                WHERE EXISTS (SELECT 1 FROM pairs p
                              WHERE p.doc_a = e.doc_a AND p.doc_b = e.doc_b))
                   AS n_common
    )
    SELECT n_exact, n_ivf, n_common,
           round(CAST(n_common AS DOUBLE) / n_exact, 4) AS recall
    FROM counts
"""

# keep-set view over the same candidate pairs: dominated-by-smaller-id
ORACLES["e1_semantic_dedup"] = _IVF_PAIRS_CTES + """
    , dropped AS (
        SELECT doc_b AS vec_id, min(doc_a) AS dup_of FROM pairs GROUP BY doc_b
    )
    SELECT e.vec_id, e.label, d.dup_of, d.dup_of IS NULL AS kept
    FROM embeddings e LEFT JOIN dropped d ON e.vec_id = d.vec_id
"""

# Iterative min-label propagation converges to exactly the transitive
# closure a recursive CTE computes — the same LSH pair SQL feeds both.
ORACLES["e1_dedup_clusters"] = f"""
    WITH RECURSIVE fil AS (
        SELECT doc_a, doc_b FROM ({ORACLES["e1_minhash_lsh"]})
        WHERE jaccard >= 0.5
    ), edges AS (
        SELECT doc_a AS src, doc_b AS dst FROM fil
        UNION ALL
        SELECT doc_b AS src, doc_a AS dst FROM fil
    ), reach(src, dst) AS (
        SELECT src, src FROM (SELECT DISTINCT src FROM edges)
        UNION
        SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
    ), labels AS (
        SELECT src AS doc_id, min(dst) AS cluster_id FROM reach GROUP BY src
    )
    SELECT doc_id, cluster_id,
           count(*) OVER (PARTITION BY cluster_id) AS cluster_size
    FROM labels ORDER BY doc_id
"""

# Winnow join: composes textops' shared winnowing-postings CTE with the
# df-cap + self-join; imported lazily to mirror the query-side import.
from .textops import WINNOW_POSTINGS_CTE as _WINNOW_CTE  # noqa: E402

ORACLES["e1_winnow_join"] = f"""
    WITH {_WINNOW_CTE},
    df AS (
        SELECT fp FROM winnow_postings GROUP BY fp
        HAVING count(*) <= {WINNOW_MAXDF}
    ), kept AS (
        SELECT p.doc_id, p.fp FROM winnow_postings p JOIN df USING (fp)
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(count(*) AS BIGINT) AS n_shared
    FROM kept a JOIN kept b ON a.fp = b.fp AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
    HAVING count(*) >= {WINNOW_TAU}
"""
