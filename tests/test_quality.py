"""Corpus-hygiene operators: rule-battery quality filter, text
canonicalization, seeded global shuffle, gaps-and-islands, and the
SemDeDup-shape keep-set."""

from __future__ import annotations

import pytest

from caseguarddatapipeline_spark.operators.dedup import e1_semantic_dedup
from caseguarddatapipeline_spark.operators.quality import (
    N_SHARDS,
    e3_gopher_rules,
    e3_text_normalize,
    e5_global_shuffle,
    w11_gaps_islands,
)


def test_gopher_rules_flags_consistent(spark, sf_dir):
    rows = e3_gopher_rules(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.passed == (
            r.ok_n_words and r.ok_mean_word_len
            and r.ok_distinct_ratio and r.ok_stopword
        )
    # every rule must discriminate on this corpus (thresholds sit inside
    # the observed spread) — all-true or all-false means a dead rule
    for flag in ("ok_n_words", "ok_mean_word_len", "ok_distinct_ratio"):
        vals = {getattr(r, flag) for r in rows}
        assert vals == {True, False}, f"rule {flag} never fires"


def test_text_normalize_roundtrips(spark, sf_dir):
    rows = e3_text_normalize(spark, sf_dir).collect()
    assert rows
    # the derived mess is strictly longer, and normalization recovers the
    # original (already-canonical) text for every noise mode
    for r in rows:
        assert r.raw_len > r.norm_len
        assert r.roundtrips


def test_global_shuffle_deterministic_and_balanced(spark, sf_dir):
    a = e5_global_shuffle(spark, sf_dir).collect()
    b = e5_global_shuffle(spark, sf_dir).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    by_shard = {}
    for r in a:
        by_shard.setdefault(r.shard, []).append(r)
    assert set(by_shard) == set(range(1, N_SHARDS + 1))
    sizes = {len(v) for v in by_shard.values()}
    assert max(sizes) - min(sizes) <= 1  # ntile balance
    for members in by_shard.values():
        poss = sorted(r.pos for r in members)
        assert poss == list(range(1, len(members) + 1))
        # position order within a shard follows the md5 order key
        ordered = sorted(members, key=lambda r: r.order_key)
        assert [r.pos for r in ordered] == poss


def test_gaps_islands_invariants(spark, sf_dir):
    rows = w11_gaps_islands(spark, sf_dir).collect()
    assert rows
    seen_days = {}
    for r in rows:
        assert r.island_start <= r.island_end
        assert (r.island_end - r.island_start).days + 1 == r.n_days
        seen_days.setdefault(r.user_id, []).append(r)
    # islands of one user never touch or overlap (else they'd be one island)
    for islands in seen_days.values():
        islands.sort(key=lambda r: r.island_start)
        for prev, nxt in zip(islands, islands[1:]):
            assert (nxt.island_start - prev.island_end).days >= 2


def test_semantic_dedup_keep_set(spark, sf_dir):
    rows = e1_semantic_dedup(spark, sf_dir).collect()
    assert rows
    kept = [r for r in rows if r.kept]
    dropped = [r for r in rows if not r.kept]
    assert len(kept) + len(dropped) == len(rows)
    for r in dropped:
        assert r.dup_of is not None and r.dup_of < r.vec_id
    for r in kept:
        assert r.dup_of is None
    # the keeper side of every pair relation survives: min vec_id overall
    assert min(r.vec_id for r in rows) in {r.vec_id for r in kept}


def test_weighted_sample_deterministic(spark, sf_dir):
    from caseguarddatapipeline_spark.operators.quality import e5_weighted_sample

    a = {r.doc_id: r for r in e5_weighted_sample(spark, sf_dir).collect()}
    b = {r.doc_id: r for r in e5_weighted_sample(spark, sf_dir).collect()}
    assert {k: (v.kept, v.draw) for k, v in a.items()} == {
        k: (v.kept, v.draw) for k, v in b.items()
    }
    for r in a.values():
        assert 0.0 <= r.weight <= 1.0 and 0.0 <= r.draw < 1.0
        assert r.kept == (r.draw < r.weight)
    # acceptance rate tracks mean weight (law of large numbers, hash draw)
    kept_rate = sum(r.kept for r in a.values()) / len(a)
    mean_w = sum(r.weight for r in a.values()) / len(a)
    assert abs(kept_rate - mean_w) < 0.1


def test_zscore_by_source_invariants(spark, sf_dir):
    from caseguarddatapipeline_spark.operators.quality import e3_zscore_by_source

    rows = e3_zscore_by_source(spark, sf_dir).collect()
    by_src = {}
    for r in rows:
        by_src.setdefault(r.source, []).append(r)
    for members in by_src.values():
        zs = [r.z_len for r in members]
        assert abs(sum(zs) / len(zs)) < 1e-3  # z-scores center at 0
        deciles = {r.len_decile for r in members}
        assert deciles <= set(range(1, 11))
        assert min(r.len_pct_rank for r in members) == 0.0


def test_grouping_sets_totals_consistent(spark, sf_dir):
    from caseguarddatapipeline_spark.operators.relational5 import a28_grouping_sets

    rows = a28_grouping_sets(spark, sf_dir).collect()
    grand = [r for r in rows if r.gid == 3]
    per_src = [r for r in rows if r.gid == 1]  # lang aggregated away
    per_lang = [r for r in rows if r.gid == 2]
    fine = [r for r in rows if r.gid == 0]
    assert len(grand) == 1
    total = grand[0].n_docs
    assert sum(r.n_docs for r in per_src) == total
    assert sum(r.n_docs for r in per_lang) == total
    assert sum(r.n_docs for r in fine) == total
    assert sum(r.total_chars for r in fine) == grand[0].total_chars


def test_quality_classifier_bounds(spark, sf_dir):
    from caseguarddatapipeline_spark.operators.inference import u8_quality_classifier

    rows = u8_quality_classifier(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0.0 <= r.p_quality <= 1.0
        assert r.accepted == (r.p_quality >= 0.5)
    assert {r.accepted for r in rows} == {True, False}  # discriminates


@pytest.mark.parametrize("name", ["e5_global_shuffle", "w5_batch_numbering"])
def test_exact_rank_bodies_match_oracle(spark, sf_dir, oracle_problems, name):
    """Both global numberings rank through topk.exact_rank (bucket
    histogram + prefix offsets) and must equal their oracle's global
    ntile / row_number row for row — shard boundaries included."""
    from caseguarddatapipeline_spark.catalog import build_catalog

    queries, _ = build_catalog()
    assert oracle_problems(queries[name](spark, sf_dir), name) == []


def test_zscore_scaled_matches_window_form(spark, sf_dir, oracle_problems):
    """The histogram + tie-group-window decomposition is row-identical to
    the oracle's per-source-window form — same z, percent rank, and ntile
    decile."""
    from caseguarddatapipeline_spark.operators.quality import (
        zscore_by_source_scaled,
    )
    from caseguarddatapipeline_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents")
    problems = oracle_problems(zscore_by_source_scaled(docs), "e3_zscore_by_source")
    assert not problems, problems


def test_neardup_recall_invariants(spark, sf_dir):
    from caseguarddatapipeline_spark.operators.dedup import e1_neardup_recall

    r = e1_neardup_recall(spark, sf_dir).collect()[0]
    assert r.n_common <= min(r.n_exact, r.n_ivf)
    assert 0.0 <= r.recall <= 1.0
    # the IVF candidates are a SUBSET of exact pairs (same τ, same cosine):
    # every candidate the router emits is a true pair, so n_ivf == n_common
    assert r.n_ivf == r.n_common


def test_curriculum_order_bands(spark, sf_dir):
    from caseguarddatapipeline_spark.operators.quality import e5_curriculum_order

    rows = e5_curriculum_order(spark, sf_dir).collect()
    by_band = {}
    for r in rows:
        by_band.setdefault(r.band, []).append(r)
    assert set(by_band) == {1, 2, 3, 4}
    # bands are ordered by quality: every band-1 doc >= every band-4 doc
    assert min(r.quality for r in by_band[1]) >= max(r.quality for r in by_band[4])
    # within a band, positions are a contiguous 1..n permutation
    for members in by_band.values():
        assert sorted(r.pos_in_band for r in members) == list(
            range(1, len(members) + 1)
        )


def test_curriculum_order_scaled_identical(spark, sf_dir):
    """The histogram-CDF deployment form has no data-sized
    single-partition window: the only unpartitioned window runs over the
    distinct-quality histogram, and in-band positions come from (band,
    key-prefix-bucket) windows, never PARTITION BY band alone. Its rows
    equal the oracle's faithful ntile form through the catalog name
    ``e5_curriculum_order`` (tests/test_catalog.py)."""
    from caseguarddatapipeline_spark.operators.quality import (
        curriculum_order_scaled,
    )
    from caseguarddatapipeline_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents")
    scaled_df = curriculum_order_scaled(docs)
    # plan guard: no window may partition the corpus by band alone — the
    # scale twin's whole point is that in-band position is bucketed by a
    # key prefix. Every windowspecdefinition partitioned on band must
    # also carry the bucket column; none may be a global ntile.
    plan = scaled_df._jdf.queryExecution().optimizedPlan().toString()
    import re

    for spec in re.findall(r"windowspecdefinition\(([^)]*)\)", plan):
        first = spec.split(",")[0].strip()
        if first.startswith("band#"):
            assert "bucket#" in spec, f"band-only window in plan: {spec}"
    assert "ntile" not in plan


def test_expectations_all_pass_on_clean_fixture(spark, sf_dir):
    from caseguarddatapipeline_spark.operators.profiling import a29_expectations

    rows = {r.rule: r for r in a29_expectations(spark, sf_dir).collect()}
    assert len(rows) == 6
    # the synthetic tables are referentially clean — every rule passes
    for r in rows.values():
        assert r.n_violations == 0 and r.passed
        assert r.n_checked > 0


def test_approx_percentiles_track_exact(spark, sf_dir):
    """The mergeable-sketch form honors its rank-error contract: each
    returned percentile is a REAL sample whose rank is within the sketch
    bound of the target rank (a18 interpolates, the sketch returns
    members — so the check is rank-window membership, not equality)."""
    import math

    from caseguarddatapipeline_spark.operators.relational5 import (
        approx_value_percentiles,
    )
    from caseguarddatapipeline_spark.sources import load_table

    approx = {
        r.event_type: r for r in approx_value_percentiles(spark, sf_dir).collect()
    }
    events = load_table(spark, sf_dir, "events").select("event_type", "value")
    by_type = {}
    for r in events.collect():
        by_type.setdefault(r.event_type, []).append(r.value)
    assert set(approx) == set(by_type)
    for et, vals in by_type.items():
        vals.sort()
        n = len(vals)
        a = approx[et]
        assert a.n_events == n
        for q in (0.5, 0.9, 0.99):
            got = getattr(a, f"p{int(q * 100)}")
            target = max(1, math.ceil(q * n))
            lo = vals[max(0, target - 3)]
            hi = vals[min(n - 1, target + 1)]
            assert lo <= got <= hi, (et, q, got, lo, hi)


def test_token_budget_sample_prefix_and_boundary(spark, tmp_path):
    """Token-budget sampling keeps exactly the hash-order prefix whose
    RUNNING total fits the budget: the boundary doc that would overflow
    is dropped (verified against an independent python-side hash
    ordering), and an under-budget source keeps everything."""
    import pyspark.sql.functions as F

    from caseguarddatapipeline_spark.operators import quality as Q
    from caseguarddatapipeline_spark.operators.dedup import _py_token_hash

    budget = Q.TOKEN_BUDGET_PER_SOURCE
    # source A: docs sized ~40% of budget each -> exactly 2 fit; source B
    # fits entirely; source C's ONLY doc alone exceeds the budget
    docs = []
    for i in range(5):
        docs.append((i, "A", " ".join(f"a{i}w{j}" for j in range(int(budget * 0.4)))))
    docs.append((10, "B", "tiny doc here"))
    docs.append((11, "B", "another tiny doc"))
    docs.append((20, "C", " ".join(f"c{j}" for j in range(budget + 5))))
    spark.createDataFrame(docs, "doc_id long, source string, text string") \
        .coalesce(1).write.parquet(str(tmp_path / "documents.parquet"))

    got = {
        r["source"]: r
        for r in Q.e5_token_budget_sample(spark, str(tmp_path)).collect()
    }
    assert got["A"]["n_docs_kept"] == 2
    assert got["A"]["tokens_used"] == 2 * int(budget * 0.4)
    assert got["B"]["n_docs_kept"] == 2 and got["B"]["budget_fill"] < 0.01
    # fully-over-budget source still appears in the fit report as zero
    assert got["C"]["n_docs_kept"] == 0 and got["C"]["tokens_used"] == 0
    assert got["C"]["first_hash"] is None and got["C"]["budget_fill"] == 0.0

    # the kept prefix is the 2 smallest (hash, doc_id) docs of source A
    order = sorted(
        (( _py_token_hash(t) % 1_000_000), d) for d, s, t in docs if s == "A"
    )
    kept_ids = {d for _, d in order[:2]}
    detail = (
        spark.read.parquet(str(tmp_path / "documents.parquet"))
        .filter("source = 'A'")
    )
    # recompute membership through the operator's own internals
    from caseguarddatapipeline_spark.operators.dedup import _portable_token_hash
    from pyspark.sql import Window

    h = F.pmod(_portable_token_hash(F.col("text")), F.lit(1_000_000))
    w = Window.partitionBy("source").orderBy(F.col("h").asc(), F.col("doc_id").asc())
    kept = (
        detail.select(
            "doc_id", "source", h.alias("h"),
            F.size(
                F.filter(F.split("text", " "), lambda t: t != "")
            ).alias("n_tokens"),
        )
        .withColumn("cum", F.sum("n_tokens").over(w))
        .filter(F.col("cum") <= budget)
    )
    assert {r["doc_id"] for r in kept.collect()} == kept_ids


def test_token_budget_scaled_matches_window_form(spark, sf_dir, oracle_problems):
    """The hash-prefix-bucket decomposition is row-identical to the
    oracle's whole-source-window form — same kept counts, token totals,
    hash bounds, and fill ratios per source."""
    from caseguarddatapipeline_spark.operators.quality import (
        token_budget_sample_scaled,
    )
    from caseguarddatapipeline_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents")
    problems = oracle_problems(
        token_budget_sample_scaled(docs), "e5_token_budget_sample"
    )
    assert not problems, problems


def test_token_budget_scaled_skewed_giant_source(spark):
    """One source holding ~all rows (the straggler case the decomposition
    exists for): the bucket-offset running sum must admit exactly the
    serial prefix, across bucket boundaries, including a fully-over-budget
    source reported as zero-kept."""
    import pyspark.sql.functions as F

    from caseguarddatapipeline_spark.operators.dedup import _portable_token_hash
    from caseguarddatapipeline_spark.operators.quality import (
        token_budget_sample_scaled,
    )

    # giant source: 5000 docs of 3 tokens each; tiny source: one 50-token
    # doc that blows its whole budget on doc 1 in hash order -> 0 kept
    docs = spark.range(5000).select(
        F.col("id").alias("doc_id"),
        F.lit("giant").alias("source"),
        F.concat(F.lit("tok"), F.col("id").cast("string"), F.lit(" alpha beta")).alias("text"),
    ).unionByName(
        spark.range(1).select(
            (F.col("id") + 100_000).alias("doc_id"),
            F.lit("tiny").alias("source"),
            F.lit(" ".join(f"w{i}" for i in range(50))).alias("text"),
        )
    )
    got = {r["source"]: r for r in token_budget_sample_scaled(docs, budget=40).collect()}

    # serial reference: sort giant's docs by (h, doc_id), take while cum <= 40
    rows = docs.filter(F.col("source") == "giant").select(
        "doc_id",
        F.pmod(_portable_token_hash(F.col("text")), F.lit(1_000_000)).alias("h"),
    ).collect()
    order = sorted((r["h"], r["doc_id"]) for r in rows)
    kept, cum = [], 0
    for h_val, did in order:
        if cum + 3 > 40:
            break
        cum += 3
        kept.append((h_val, did))
    assert got["giant"]["n_docs_kept"] == len(kept) == 13  # 13*3=39 <= 40
    assert got["giant"]["tokens_used"] == cum == 39
    assert got["giant"]["first_hash"] == kept[0][0]
    assert got["giant"]["last_hash"] == kept[-1][0]
    # the 50-token doc overflows a 40-token budget: present, zero kept
    assert got["tiny"]["n_docs_kept"] == 0
    assert got["tiny"]["tokens_used"] == 0


def test_global_token_budget_waterfill_properties(spark, sf_dir):
    """Water-filling invariants on the real corpus: total usage within
    the global budget; a source is either fully kept (total <= level) or
    capped at the level; and the level is MAXIMAL (level+1 would overflow
    the budget) unless everything is already kept."""
    from caseguarddatapipeline_spark.operators.quality import (
        GLOBAL_TOKEN_BUDGET,
        e5_global_token_budget,
    )

    rows = e5_global_token_budget(spark, sf_dir).collect()
    assert rows
    caps = {r["source"]: r["cap"] for r in rows}
    totals = {r["source"]: r["total_tokens"] for r in rows}
    assert sum(caps.values()) <= GLOBAL_TOKEN_BUDGET or all(
        caps[s] == totals[s] for s in caps
    )
    level_vals = {caps[s] for s in caps if caps[s] < totals[s]}
    assert len(level_vals) <= 1  # every capped source sits at ONE level
    if level_vals and any(caps[s] == totals[s] for s in caps):
        (level,) = level_vals
        # every fully-kept source is at or below the level; maximality:
        # raising the level by 1 for all capped sources would overflow
        assert all(totals[s] <= level for s in caps if caps[s] == totals[s])
        n_capped = sum(1 for s in caps if caps[s] < totals[s])
        assert sum(caps.values()) + n_capped > GLOBAL_TOKEN_BUDGET
    # per-source usage never exceeds its cap
    for r in rows:
        assert r["tokens_used"] <= r["cap"]
        assert r["fully_kept"] == (r["total_tokens"] <= r["cap"])


def test_global_token_budget_crafted_allocation(spark, tmp_path):
    """Known-answer crafted corpus: totals [10, 20, 100] tokens under a
    60-token global budget water-fill to caps [10, 20, 30] (small sources
    fully kept, the crawl capped at the level); under a 25-token budget
    nobody fits fully and everyone caps at 25 div 3 = 8."""
    from caseguarddatapipeline_spark.operators import quality as Q

    # one doc per source with exactly t single-char tokens
    rows = [
        (0, "s10", " ".join(["a"] * 10)),
        (1, "s20", " ".join(["b"] * 20)),
        (2, "s100", " ".join(["c"] * 100)),
    ]
    spark.createDataFrame(rows, "doc_id long, source string, text string") \
        .coalesce(1).write.parquet(str(tmp_path / "documents.parquet"))

    def run(budget):
        import unittest.mock as mock

        with mock.patch.object(Q, "GLOBAL_TOKEN_BUDGET", budget):
            return {
                r["source"]: r
                for r in Q.e5_global_token_budget(spark, str(tmp_path)).collect()
            }

    got = run(60)
    assert {s: r["cap"] for s, r in got.items()} == {"s10": 10, "s20": 20, "s100": 30}
    assert got["s10"]["fully_kept"] and got["s20"]["fully_kept"]
    assert not got["s100"]["fully_kept"]
    # the 100-token doc overflows its 30-token cap in one piece -> 0 kept
    assert got["s100"]["n_docs_kept"] == 0

    got = run(25)
    assert {s: r["cap"] for s, r in got.items()} == {"s10": 8, "s20": 8, "s100": 8}
    assert not any(r["fully_kept"] for r in got.values())

    # budget above the grand total: everyone fully kept
    got = run(1000)
    assert all(r["fully_kept"] for r in got.values())
    assert {s: r["cap"] for s, r in got.items()} == {"s10": 10, "s20": 20, "s100": 100}


def test_soft_dedup_sample_semantics(spark, sf_dir):
    """Soft dedup: cluster members share one weight = 1/cluster_size and
    the cluster's EXPECTED kept mass is ~1 (weights sum to 1 per
    cluster); singletons keep weight 1 and are always kept; the kept
    decision equals the deterministic draw-vs-weight comparison."""
    from caseguarddatapipeline_spark.operators.quality import (
        e5_soft_dedup_sample,
    )

    rows = e5_soft_dedup_sample(spark, sf_dir).collect()
    assert rows
    by_cluster: dict[int, list] = {}
    for r in rows:
        by_cluster.setdefault(r["cluster_id"], []).append(r)
    multi = {c: m for c, m in by_cluster.items() if len(m) > 1}
    assert multi, "corpus must contain near-dup clusters"
    for cid, members in by_cluster.items():
        n = len(members)
        assert all(r["cluster_size"] == n for r in members)
        assert all(abs(r["weight"] - round(1 / n, 6)) < 1e-9 for r in members)
        # per-cluster expected mass is one document
        assert abs(sum(r["weight"] for r in members) - 1.0) < 1e-4
        assert cid == min(r["doc_id"] for r in members)
    singles = [m[0] for c, m in by_cluster.items() if len(m) == 1]
    assert singles and all(r["kept"] for r in singles)  # weight 1 ⇒ kept
    for r in rows:
        assert r["kept"] == (r["draw"] < r["weight"] or
                             abs(r["draw"] - r["weight"]) < 5e-7)
