"""Round-7 operator semantics: winnowing fingerprints + the MOSS-style
near-dup join, bigram-LM quality scoring, SQ8 scalar-quantized ANN, and
Markov event transitions. Exact-value parity is
tests/test_catalog.py::test_query_runs_and_returns_rows's job; these pin
the algorithmic GUARANTEES (winnowing's shared-run property, quantization
error bounds, probability normalization) that a hash-equal oracle can't
articulate."""

from __future__ import annotations

import pyspark.sql.functions as F

from caseguarddatapipeline_spark.operators.dedup import (
    WINNOW_TAU,
    e1_winnow_join,
)
from caseguarddatapipeline_spark.operators.pq import (
    TOPK,
    e2_sq8_search,
)
from caseguarddatapipeline_spark.operators.sessions import (
    w14_event_transitions,
)
from caseguarddatapipeline_spark.operators.textops import (
    WINNOW_K,
    WINNOW_W,
    e3_ngram_lm_score,
    winnow_postings,
)
from caseguarddatapipeline_spark.sources import load_table


def _docs_df(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_winnow_shared_run_guarantee(spark):
    """The winnowing theorem: two docs sharing any run of
    WINNOW_K + WINNOW_W - 1 tokens select at least one common
    fingerprint, regardless of surrounding text."""
    run = "alpha beta gamma delta epsilon zeta"  # 6 = K + W - 1 tokens
    assert len(run.split()) == WINNOW_K + WINNOW_W - 1
    docs = _docs_df(
        spark,
        [
            (1, f"xx yy {run} zz ww vv uu"),
            (2, f"aa bb cc dd {run} ee"),
        ],
    )
    posts = winnow_postings(docs).collect()
    fps1 = {r.fp for r in posts if r.doc_id == 1}
    fps2 = {r.fp for r in posts if r.doc_id == 2}
    assert fps1 & fps2, "shared 6-token run must share a fingerprint"


def test_winnow_short_doc_degradation(spark):
    """< K tokens → no fingerprints; >= K but < K+W-1 → exactly the
    global minimum (one fingerprint)."""
    docs = _docs_df(spark, [(1, "one two"), (2, "one two three four")])
    posts = winnow_postings(docs).groupBy("doc_id").count().collect()
    counts = {r.doc_id: r["count"] for r in posts}
    assert 1 not in counts  # 2 tokens < K: nothing selected
    assert counts[2] == 1  # 2 k-grams < W: one window, its minimum


def test_winnow_join_pairs_share_tau(spark, sf_dir):
    pairs = e1_winnow_join(spark, sf_dir)
    rows = pairs.collect()
    assert rows, "fixture corpus contains planted near-dups"
    assert all(r.n_shared >= WINNOW_TAU for r in rows)
    assert all(r.doc_a < r.doc_b for r in rows)


def test_winnow_join_precision_recall_vs_minhash(spark, sf_dir):
    """Cross-sketch agreement: winnowing certifies shared PASSAGES, so
    its pairs must be a SUBSET of the MinHash-LSH near-dup pairs (100%
    precision against the Jaccard sketch on this corpus — shared runs
    imply shared shingles) while recovering most of the high-similarity
    pairs (recall ≥ 0.7 at jaccard ≥ 0.9; the remainder are short docs
    whose few fingerprints fall under the df cap or the τ floor —
    measured 22/27 at sf0.001)."""
    from caseguarddatapipeline_spark.operators.dedup import e1_minhash_lsh

    mh = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in e1_minhash_lsh(spark, sf_dir).collect()
    }
    found = {(r.doc_a, r.doc_b) for r in e1_winnow_join(spark, sf_dir).collect()}
    assert found, "fixture corpus contains planted near-dups"
    assert found <= set(mh), f"winnow-only pairs: {found - set(mh)}"
    strong = {p for p, j in mh.items() if j >= 0.9}
    assert strong
    assert len(found & strong) / len(strong) >= 0.7


def test_ngram_lm_score_shape(spark, sf_dir):
    scored = e3_ngram_lm_score(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents")
    n_scorable = docs.filter(F.size(F.split("text", " ")) >= 2).count()
    rows = scored.collect()
    assert len(rows) == n_scorable
    # smoothed probabilities are < 1 → log-micro sums strictly negative,
    # and the mean is consistent with the sum
    assert all(r.sum_logp_micro < 0 for r in rows)
    assert all(
        abs(r.avg_logp_micro - r.sum_logp_micro / r.n_bigrams) <= 0.5
        for r in rows
    )


def test_ngram_lm_ranks_familiar_transitions(spark, sf_dir):
    """A document whose every bigram is corpus-frequent must outscore one
    built from transitions the corpus never makes. Scores are per-doc
    means, so this pins the signal direction end-to-end."""
    scored = {
        r.doc_id: r.avg_logp_micro
        for r in e3_ngram_lm_score(spark, sf_dir).collect()
    }
    docs = load_table(spark, sf_dir, "documents").collect()
    texts = {r.doc_id: r.text for r in docs}
    # corpus-wide bigram counts (driver-side, fixture is tiny)
    from collections import Counter

    bg = Counter()
    for t in texts.values():
        toks = t.split(" ")
        bg.update(zip(toks, toks[1:]))
    doc_mean_freq = {
        d: sum(bg[p] for p in zip(t.split(" "), t.split(" ")[1:]))
        / max(1, len(t.split(" ")) - 1)
        for d, t in texts.items()
        if len(t.split(" ")) >= 2
    }
    most = max(doc_mean_freq, key=doc_mean_freq.get)
    least = min(doc_mean_freq, key=doc_mean_freq.get)
    assert scored[most] > scored[least]


def test_sq8_approximates_exact_distance(spark, sf_dir):
    """8-bit linear quantization bounds the per-dimension error at
    (hi-lo)/510, so the approximate distance of every returned candidate
    must sit within a few percent of its exact L2 distance."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("emb"),
    )
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("emb").alias("q_emb")
    )
    exact = (
        emb.join(F.broadcast(q), F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            F.aggregate(
                F.zip_with("q_emb", "emb", lambda a, b: (a - b) * (a - b)),
                F.lit(0.0),
                lambda acc, v: acc + v,
            ).alias("d_exact"),
        )
    )
    got = e2_sq8_search(spark, sf_dir).join(exact, ["query_id", "vec_id"])
    rows = got.collect()
    assert len(rows) == 5 * TOPK
    for r in rows:
        assert abs(r.adist - r.d_exact) <= 0.05 * max(r.d_exact, 1.0), (
            r.query_id,
            r.vec_id,
            r.adist,
            r.d_exact,
        )


def test_w14_transitions_conservation(spark, sf_dir):
    """Total transition count = Σ_users (n_events − 1), and each source
    state's per-mille shares sum to 1000 within rounding slack."""
    trans = w14_event_transitions(spark, sf_dir)
    rows = trans.collect()
    events = load_table(spark, sf_dir, "events")
    per_user = events.groupBy("user_id").count().collect()
    expected = sum(r["count"] - 1 for r in per_user)
    assert sum(r.n for r in rows) == expected
    by_src = {}
    for r in rows:
        by_src.setdefault(r.event_type, []).append(r.share_milli)
        assert 0 <= r.share_milli <= 1000
    for src, shares in by_src.items():
        assert abs(sum(shares) - 1000) <= len(shares), src


def test_mixture_epochs_conservation(spark, sf_dir):
    """Budget accounting: served + shortfall = allotted for every source,
    epochs within [1, MAX_EPOCHS], served never exceeds available×epochs,
    and the per-source allotment is the floor-divided equal share of the
    BUDGET_MULT× corpus budget."""
    from caseguarddatapipeline_spark.operators.curation import (
        BUDGET_MULT,
        MAX_EPOCHS,
        e5_mixture_epochs,
    )

    rows = e5_mixture_epochs(spark, sf_dir).collect()
    assert rows
    total = sum(r.available_tokens for r in rows)
    allot = BUDGET_MULT * total // len(rows)
    for r in rows:
        assert r.allotted_tokens == allot
        assert 1 <= r.epochs <= MAX_EPOCHS
        assert r.served_tokens + r.shortfall_tokens == r.allotted_tokens
        assert r.served_tokens <= r.available_tokens * r.epochs
        # shortfall only when even MAX_EPOCHS can't cover the allotment
        if r.shortfall_tokens > 0:
            assert r.epochs == MAX_EPOCHS


def test_doc_entropy_bounds(spark, sf_dir):
    """0 <= H <= ln(n_distinct) (uniform bound), zero iff one distinct
    word, and a repeated-word doc scores below a same-length all-distinct
    doc."""
    import math

    from caseguarddatapipeline_spark.operators.textops import e3_doc_entropy

    rows = e3_doc_entropy(spark, sf_dir).collect()
    assert rows
    for r in rows:
        # slack: each distinct word's term rounds by <= 0.5 micro-nat
        assert (
            0
            <= r.entropy_micro
            <= math.log(r.n_distinct) * 1e6 + r.n_distinct
        )
        if r.n_distinct == 1:
            assert r.entropy_micro == 0

    docs = spark.createDataFrame(
        [(1, "a a a a a a b"), (2, "q w e r t y u")],
        "doc_id long, text string",
    )
    docs.createOrReplaceTempView("_ent_docs")
    # reuse the operator's algebra directly on crafted docs
    from caseguarddatapipeline_spark.operators import textops as T
    import pyspark.sql.functions as FF

    words = docs.select(
        "doc_id", FF.explode(FF.split("text", " ")).alias("w")
    )
    wc = words.groupBy("doc_id", "w").count()
    n = wc.groupBy("doc_id").agg(
        FF.sum("count").alias("n"), FF.count(FF.lit(1)).alias("d")
    )
    got = {
        r.doc_id: r.h
        for r in wc.join(n, "doc_id")
        .groupBy("doc_id")
        .agg(
            FF.sum(
                (FF.col("count") / FF.col("n"))
                * FF.log(FF.col("n") / FF.col("count"))
            ).alias("h")
        )
        .collect()
    }
    assert got[1] < got[2]


def test_dsir_weights_favor_target_domain(spark, sf_dir):
    """Importance weights select FOR the target distribution: the mean
    per-token DSIR weight of lang='en' documents (the target subcorpus)
    must exceed the mean over every other language, and weights must be
    finite for all docs (smoothing covers unseen-in-target words)."""
    from caseguarddatapipeline_spark.operators.textops import (
        e3_dsir_weights,
    )

    rows = e3_dsir_weights(spark, sf_dir).collect()
    assert rows
    per_lang = {}
    for r in rows:
        per_lang.setdefault(r.lang, []).append(r.dsir_micro / r.n_tokens)
    means = {k: sum(v) / len(v) for k, v in per_lang.items()}
    assert "en" in means and len(means) > 1
    for lang, m in means.items():
        if lang != "en":
            assert means["en"] > m, (lang, means)


def test_dedup_report_matches_standalone_tiers(spark, sf_dir):
    """The datasheet must agree with the standalone queries it
    summarizes — pair counts with the pair joins, span totals with the
    span profile — since it imports their bodies rather than
    re-implementing them."""
    from caseguarddatapipeline_spark.operators.curation import (
        e5_dedup_report,
    )
    from caseguarddatapipeline_spark.operators.dedup import (
        e1_minhash_lsh,
        e1_span_dedup,
    )

    rep = {r.granularity: r for r in e5_dedup_report(spark, sf_dir).collect()}
    assert set(rep) == {"exact", "minhash", "containment", "winnow", "span"}
    mh_pairs = e1_minhash_lsh(spark, sf_dir).filter("jaccard >= 0.5").count()
    assert rep["minhash"].n_units == mh_pairs
    wn_pairs = e1_winnow_join(spark, sf_dir).count()
    assert rep["winnow"].n_units == wn_pairs
    span = e1_span_dedup(spark, sf_dir).agg(
        F.sum("n_dup_spans").alias("s"),
        F.count(F.when(F.col("n_dup_spans") > 0, 1)).alias("d"),
    ).collect()[0]
    assert rep["span"].n_units == span.s
    assert rep["span"].n_docs_affected == span.d
    for r in rep.values():
        assert r.n_units >= 0 and r.n_docs_affected >= 0


def test_sq8_recall_beats_pq(spark, sf_dir):
    """The compression-quality ordering the quantization family claims:
    SQ8 (8 bits/dim, no training) must recover (nearly) the exact L2
    top-3 — per-query recall@3 >= 2/3 and mean >= 0.8 — sitting far
    above the 64x-compressed PQ codebooks on this near-isotropic corpus
    (~0.3, see e2_pq_recall's docstring)."""
    from caseguarddatapipeline_spark.operators.pq import e2_sq8_recall

    rows = e2_sq8_recall(spark, sf_dir).collect()
    assert len(rows) == 5
    assert all(r.recall_at_3 >= 0.66 for r in rows)
    assert sum(r.recall_at_3 for r in rows) / len(rows) >= 0.8
