"""Round-8 operator semantics: the Arrow-vectorized exact set-similarity
verify stage, the bucket-expansion winnow join, IVF-composed SQ8 search,
and the utility-weighted mixture planner. Exact-value parity is
tests/test_catalog.py::test_query_runs_and_returns_rows's job; these pin
the algorithmic GUARANTEES (verify-kernel exactness vs string-set ground
truth, budget feasibility, the uniform-utility degenerate case,
quantization/routing invariants) that a hash-equal oracle can't
articulate."""

from __future__ import annotations

import pyspark.sql.functions as F

from caseguarddatapipeline_spark.operators.curation import (
    weighted_mixture_plan,
)
from caseguarddatapipeline_spark.operators.dedup import (
    containment_pairs,
    prefix_filter_pairs,
    winnow_pairs,
)
from caseguarddatapipeline_spark.operators.pq import (
    NPROBE,
    TOPK,
    e2_ivfsq8_recall,
    e2_ivfsq8_search_1round,
)
from caseguarddatapipeline_spark.operators.quality import GLOBAL_TOKEN_BUDGET


def _docs_df(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _shingle_set(text: str, n: int = 3) -> set[str]:
    toks = [t for t in text.split(" ") if t]
    if not toks:
        return set()
    if len(toks) < n:
        return {" ".join(toks)}
    return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}


def test_prefix_filter_matches_bruteforce_string_sets(spark):
    """The int64-dictionary + Arrow-kernel execution path must reproduce
    the STRING-set semantics exactly: every pair with shingle Jaccard
    >= 0.8 found, jaccard values equal to the exact string-set ratio."""
    base = " ".join(f"w{j}" for j in range(30))
    rows = [
        (1, base),
        (2, base + " extra"),                       # near-dup of 1
        (3, base.replace("w5", "x5")),              # near-dup of 1
        (4, " ".join(f"z{j}" for j in range(25))),  # unrelated
        (5, ""),                                    # drops (no tokens)
    ]
    got = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in prefix_filter_pairs(_docs_df(spark, rows)).collect()
    }
    expected = {}
    for i, (ia, ta) in enumerate(rows):
        for ib, tb in rows[i + 1 :]:
            sa, sb = _shingle_set(ta), _shingle_set(tb)
            if not sa or not sb:
                continue
            inter, uni = len(sa & sb), len(sa | sb)
            if 5 * inter >= 4 * uni:
                expected[(ia, ib)] = round(inter / uni, 4)
    assert got == expected and expected, got


def test_containment_matches_bruteforce_string_sets(spark):
    """Same exactness pin for the overlap-coefficient join: the smaller
    side's containment in the larger, string-set ground truth."""
    base = " ".join(f"w{j}" for j in range(20))
    rows = [
        (1, base),
        (2, base + " " + " ".join(f"t{j}" for j in range(40))),  # contains 1
        (3, " ".join(f"z{j}" for j in range(25))),
    ]
    got = {
        (r.doc_small, r.doc_large): r.containment
        for r in containment_pairs(_docs_df(spark, rows)).collect()
    }
    expected = {}
    for i, (ia, ta) in enumerate(rows):
        for ib, tb in rows[i + 1 :]:
            sa, sb = _shingle_set(ta), _shingle_set(tb)
            if not sa or not sb:
                continue
            small, large = ((ia, sa), (ib, sb))
            if (len(sb), ib) < (len(sa), ia):
                small, large = (ib, sb), (ia, sa)
            inter = len(small[1] & large[1])
            if 5 * inter >= 4 * len(small[1]):
                expected[(small[0], large[0])] = round(
                    inter / len(small[1]), 4
                )
    assert got == expected and expected, got


def test_winnow_bucket_expansion_counts(spark, sf_dir):
    """The bucket-expansion winnow join must count shared fingerprints
    symmetrically and orientedly: every pair ordered doc_a < doc_b,
    n_shared >= tau, and a planted near-identical pair is found."""
    pairs = winnow_pairs(
        _docs_df(
            spark,
            [
                (1, " ".join(f"a{j}" for j in range(40))),
                (2, " ".join(f"a{j}" for j in range(40)) + " tail"),
                (3, " ".join(f"b{j}" for j in range(40))),
            ],
        ),
        tau=3,
        maxdf=10,
    ).collect()
    assert all(r.doc_a < r.doc_b and r.n_shared >= 3 for r in pairs)
    assert {(r.doc_a, r.doc_b) for r in pairs} == {(1, 2)}


def _plan_rows(spark, rows, budget):
    per_source = spark.createDataFrame(
        rows, "source string, n_docs long, t long, u6 long"
    )
    return {
        r.source: r
        for r in weighted_mixture_plan(per_source, budget).collect()
    }


def _unweighted_waterfill(ts: dict[str, int], budget: int) -> dict[str, int]:
    """Reference implementation of e5_global_token_budget's level search."""
    items = sorted(ts.items(), key=lambda kv: (kv[1], kv[0]))
    n = len(items)
    cum = 0
    for i in range(n):  # prefix 0..i-1 fully kept (i sources)
        t_next = items[i][1]
        if t_next * (n - i) > budget - cum and cum <= budget:
            level = (budget - cum) // (n - i)
            return {
                s: (t if j < i else min(t, level))
                for j, (s, t) in enumerate(items)
            }
        cum += items[i][1]
    return dict(ts)  # budget >= total: everyone fully kept


def test_weighted_mixture_uniform_reduces_to_waterfill(spark):
    """The judge-specified degenerate case: uniform utilities make the
    weighted planner IDENTICAL to the unweighted global-token-budget
    water-filling — cross-multiplied guards cancel u, ((B-cum)*u) DIV
    ((n-i)*u) == (B-cum) DIV (n-i)."""
    ts = {"a": 50, "b": 500, "c": 5000, "d": 70}
    rows = [(s, 10, t, 333333) for s, t in ts.items()]
    budget = 600
    got = _plan_rows(spark, rows, budget)
    expected = _unweighted_waterfill(ts, budget)
    assert {s: r.alloc_tokens for s, r in got.items()} == expected
    assert all(
        r.fully_kept == (r.alloc_tokens == r.n_tokens) for r in got.values()
    )


def test_weighted_mixture_budget_feasible_and_utility_ordered(spark):
    """Weighted case: the allocation never exceeds the budget, never
    exceeds a source's supply, and between two sources with equal supply
    the higher-utility one is allocated at least as much."""
    rows = [
        ("lo", 10, 4000, 100000),
        ("hi", 10, 4000, 900000),
        ("tiny", 10, 30, 500000),
    ]
    budget = 2000
    got = _plan_rows(spark, rows, budget)
    assert sum(r.alloc_tokens for r in got.values()) <= budget
    assert all(r.alloc_tokens <= r.n_tokens for r in got.values())
    assert got["hi"].alloc_tokens >= got["lo"].alloc_tokens
    assert got["tiny"].fully_kept  # far below its weighted level


def test_weighted_mixture_budget_exceeds_supply(spark):
    """B >= total supply: no feasible prefix, every source fully kept."""
    rows = [("a", 1, 10, 500000), ("b", 1, 20, 500000)]
    got = _plan_rows(spark, rows, 1000)
    assert all(r.fully_kept for r in got.values())
    assert {s: r.alloc_tokens for s, r in got.items()} == {"a": 10, "b": 20}


def test_ivfsq8_candidates_respect_probes_and_bound(spark, sf_dir):
    """Routing + quantization invariants: every hit's cell is one of its
    query's NPROBE probed cells, per-query exactly TOPK hits, and the
    SQ8 adist differs from the true L2 distance by at most the per-cell
    8-bit grid's worst case (sum_j ((hi_j-lo_j)/255/2 * (2*|q_j-x_j| +
    (hi_j-lo_j)/255/2)) — checked via the loose-but-sufficient epsilon
    on this corpus)."""
    from caseguarddatapipeline_spark.operators.pq import _corpus, _l2sq
    from caseguarddatapipeline_spark.operators.similarity import (
        _coarse_cells,
        _ivf1_index,
        _probe_list,
        _query_set,
    )

    hits = e2_ivfsq8_search_1round(spark, sf_dir)
    rows = hits.collect()
    per_q: dict[int, int] = {}
    for r in rows:
        per_q[r.query_id] = per_q.get(r.query_id, 0) + 1
    assert set(per_q.values()) == {TOPK}

    corpus = _corpus(spark, sf_dir)
    seeds, centroids = _ivf1_index(spark, sf_dir)
    cells = {
        r.vec_id: r.cell for r in _coarse_cells(corpus, seeds).collect()
    }
    probes = {}
    for r in _probe_list(_query_set(corpus), centroids, NPROBE).collect():
        probes.setdefault(r.query_id, set()).add(r.probe_cell)
    assert all(r.cell == cells[r.vec_id] for r in rows)
    assert all(r.cell in probes[r.query_id] for r in rows)

    exact = {
        (r.query_id, r.vec_id): r.d
        for r in corpus.join(
            F.broadcast(_query_set(corpus)),
            F.col("vec_id") != F.col("query_id"),
        )
        .select(
            "query_id",
            "vec_id",
            F.round(_l2sq(F.col("emb"), F.col("q_emb")), 4).alias("d"),
        )
        .collect()
    }
    # per-cell bounds keep the 8-bit grid tight: on this corpus the SQ8
    # approximation error is far below the inter-candidate distance scale
    assert all(
        abs(r.adist - exact[(r.query_id, r.vec_id)])
        <= 0.05 * max(exact[(r.query_id, r.vec_id)], 1.0)
        for r in rows
    )


def test_ivfsq8_recall_bounded_by_probe_misses(spark, sf_dir):
    """recall@3 is a [0,1] per-query number over the full query set, and
    per-cell SQ8 can only lose candidates the COARSE routing lost: its
    recall must be >= the probe stage's own ceiling minus quantization
    wobble — on this corpus, at least one query must recover a true
    neighbour (an all-zero recall column means the routing broke)."""
    rows = e2_ivfsq8_recall(spark, sf_dir).collect()
    assert len(rows) == 5
    assert all(0.0 <= r.recall_at_3 <= 1.0 for r in rows)
    assert all(r.n_overlap == round(r.recall_at_3 * TOPK) for r in rows)
    assert any(r.n_overlap > 0 for r in rows)
