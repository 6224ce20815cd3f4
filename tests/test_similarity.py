"""Similarity search invariants: brute-force correctness and IVF recall."""

from __future__ import annotations

import pytest

from caseguarddatapipeline_spark.operators.similarity import (
    e2_cosine_topk,
    e2_ivf_search_1round,
    e2_ivf_search_2round,
    e2_knn_per_query,
)


def test_topk_is_sorted_and_bounded(spark, sf_dir):
    rows = e2_cosine_topk(spark, sf_dir).collect()
    assert len(rows) == 10
    cosines = [r["cosine"] for r in rows]
    assert cosines == sorted(cosines, reverse=True)
    assert all(-1.0 <= c <= 1.0 for c in cosines)


@pytest.mark.parametrize(
    "search", [e2_ivf_search_1round, e2_ivf_search_2round], ids=lambda f: f.__name__
)
def test_ivf_recall_vs_bruteforce(spark, sf_dir, search):
    brute = e2_knn_per_query(spark, sf_dir).collect()
    ivf = search(spark, sf_dir).collect()
    brute_sets = {}
    for r in brute:
        brute_sets.setdefault(r["query_id"], set()).add(r["vec_id"])
    ivf_sets = {}
    for r in ivf:
        ivf_sets.setdefault(r["query_id"], set()).add(r["vec_id"])
    assert set(ivf_sets) == set(brute_sets)
    # k=16 cells, nprobe=4 (~25% of corpus scanned): numpy simulation of the
    # same quantizer gives recall@3 ≈ 0.93; assert a safe floor
    hits = sum(len(ivf_sets[q] & brute_sets[q]) for q in brute_sets)
    total = sum(len(brute_sets[q]) for q in brute_sets)
    assert hits / total >= 0.6, f"IVF recall {hits}/{total}"


def test_pq_search_shape_and_recall(spark, sf_dir):
    """PQ-ADC top-3: right shape (5 queries × 3 ranked rows, nonneg
    distances ascending) and useful recall against exact kNN — PQ is an
    approximation of L2 while the exact ranking is cosine, but the corpus
    embeddings are near-unit-norm so the neighbor sets largely agree."""
    from caseguarddatapipeline_spark.operators.pq import e2_pq_search_1round

    rows = e2_pq_search_1round(spark, sf_dir).collect()
    assert len(rows) == 15
    by_q = {}
    for r in rows:
        assert r["adist"] >= 0.0
        by_q.setdefault(r["query_id"], []).append((r["rank"], r["adist"]))
    assert set(by_q) == {0, 1, 2, 3, 4}
    for pairs in by_q.values():
        pairs.sort()
        assert [p[0] for p in pairs] == [1, 2, 3]
        dists = [p[1] for p in pairs]
        assert dists == sorted(dists)

    import numpy as np

    from caseguarddatapipeline_spark.sources import load_table

    emb = {
        r["vec_id"]: np.asarray(r["embedding"], dtype=np.float64)
        for r in load_table(spark, sf_dir, "embeddings").collect()
    }
    # The synthetic corpus is near-uniform on the sphere (exact top-3
    # distance ≈1.3 vs median pairwise ≈2.0), so a 4×16-code codebook's
    # quantization error (~0.76) swamps the neighbor gap and exact-top-3
    # recall is genuinely low (numpy simulation of the same quantizer:
    # 5/15). The meaningful invariant is that PQ returns NEAR neighbors:
    # every pick sits in the exact-L2 top quartile (measured: worst rank
    # 86 of 499, i.e. top 18%), with some exact-top-3 hits.
    hits = 0
    for q in range(5):
        exact = sorted(
            (float(np.sum((emb[v] - emb[q]) ** 2)), v)
            for v in emb
            if v != q
        )
        rank_of = {v: i for i, (_, v) in enumerate(exact)}
        top3 = {v for _, v in exact[:3]}
        picks = {r["vec_id"] for r in rows if r["query_id"] == q}
        hits += len(picks & top3)
        worst = max(rank_of[v] for v in picks)
        assert worst <= 0.25 * len(emb), f"query {q}: exact rank {worst}"
    assert hits >= 2, f"PQ exact-top-3 hits {hits}/15"


def test_ivfpq_dominated_by_flat_pq(spark, sf_dir):
    """IVFPQ scores the same ADC distance over an IVF-restricted candidate
    set, so per query its rank-k approximate distance can never beat flat
    PQ's rank-k (subset dominance) — an exact invariant tying the two
    entries together. Also: 5 queries × 3 ranked rows, cells in [0, 16)."""
    from caseguarddatapipeline_spark.operators.pq import (
        e2_ivfpq_search_1round,
        e2_pq_search_1round,
    )

    flat = {}
    for r in e2_pq_search_1round(spark, sf_dir).collect():
        flat.setdefault(r["query_id"], {})[r["rank"]] = r["adist"]
    ivfpq_rows = e2_ivfpq_search_1round(spark, sf_dir).collect()
    assert len(ivfpq_rows) == 15
    routed = {}
    for r in ivfpq_rows:
        assert 0 <= r["cell"] < 16
        routed.setdefault(r["query_id"], {})[r["rank"]] = r["adist"]
    assert set(routed) == {0, 1, 2, 3, 4}
    for q in routed:
        for k in (1, 2, 3):
            assert routed[q][k] >= flat[q][k] - 1e-9, (q, k)


def test_ivf_index_is_persisted_and_stable_across_sessions(spark, sf_dir):
    """The IVF quantizer is a versioned lake table, not session state: two
    FRESH sessions serve identical search results from the SAME published
    snapshot (no rebuild on the second session — the version pointer does
    not advance), and the stored centroids round-trip bit-exactly."""
    import os

    from caseguarddatapipeline_spark.operators.similarity import (
        _index_store_dir,
        _load_ivf_index,
        e2_ivf_search_2round,
        publish_ivf_index,
    )
    from caseguarddatapipeline_spark.sources.versioned import latest_version

    s1 = spark.newSession()
    res1 = sorted(map(tuple, e2_ivf_search_2round(s1, sf_dir).collect()))
    base = _index_store_dir(sf_dir)
    assert os.path.isdir(base)
    v1 = latest_version(base)

    s2 = spark.newSession()
    res2 = sorted(map(tuple, e2_ivf_search_2round(s2, sf_dir).collect()))
    assert res1 == res2
    assert latest_version(base) == v1  # served from the snapshot, no rebuild

    # explicit republish = a NEW immutable version; the quantizer content
    # is deterministic so the snapshots are equal, and old readers keep v1
    _, v2 = publish_ivf_index(s2, sf_dir, base)
    assert v2 == v1 + 1
    idx = _load_ivf_index(s2, sf_dir)
    assert set(idx) == {"seed", "round1", "round2"}
    assert all(len(idx[k]) == 16 for k in idx)


def test_pq_index_is_persisted_and_stable_across_sessions(spark, sf_dir):
    """The PQ index (codebooks AND the encoded corpus) is a versioned
    lake table: two fresh sessions serve identical ADC results from the
    same snapshot with no rebuild, and the snapshot holds both relations
    in one atomic version."""
    import os

    import pyspark.sql.functions as F

    from caseguarddatapipeline_spark.operators.pq import (
        M,
        _pq_store_dir,
        e2_pq_search_1round,
        publish_pq_index,
    )
    from caseguarddatapipeline_spark.sources.versioned import (
        latest_version,
        read_latest,
    )

    s1 = spark.newSession()
    res1 = sorted(map(tuple, e2_pq_search_1round(s1, sf_dir).collect()))
    base = _pq_store_dir(sf_dir)
    v1 = latest_version(base)

    s2 = spark.newSession()
    res2 = sorted(map(tuple, e2_pq_search_1round(s2, sf_dir).collect()))
    assert res1 == res2
    assert latest_version(base) == v1  # no rebuild on the second session

    snap = read_latest(spark, base)
    kinds = {r["kind"]: r["n"] for r in snap.groupBy("kind").agg(
        F.count(F.lit(1)).alias("n")).collect()}
    assert kinds["codebook"] == kinds["rcodebook"] == M * 16  # M x K entries
    n_vecs = snap.filter(F.col("kind") == "code").select(
        "vec_id").distinct().count()
    # every vector fully encoded in BOTH the raw and residual code spaces
    assert kinds["code"] == kinds["rcode"] == M * n_vecs

    # republish = next immutable version, deterministic content
    _, v2 = publish_pq_index(s2, sf_dir, base)
    assert v2 == v1 + 1


def test_ivfpq_residual_quality_and_contract(spark, sf_dir):
    """Residual IVFPQ (by_residual=true): same output contract as the
    plain variant, and its ADC approximation error stays within 1.3x of
    plain's (deterministic corpora — no timing noise). The bound guards
    the residual-reference bug class: subtracting the seed ASSIGNMENT
    vector instead of the cell CENTROID measured 2.03x worse here."""
    import pyspark.sql.functions as F

    from caseguarddatapipeline_spark.operators import pq
    from caseguarddatapipeline_spark.operators.pq import _corpus, _l2sq

    corpus = _corpus(spark, sf_dir)
    queries = corpus.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("emb").alias("q_emb")
    )

    def mae(df):
        j = (
            df.join(corpus, "vec_id")
            .join(queries, "query_id")
            .select(
                "adist",
                F.round(_l2sq(F.col("emb"), F.col("q_emb")), 6).alias("exact"),
            )
        )
        return j.agg(
            F.avg(F.abs(F.col("adist") - F.col("exact")))
        ).collect()[0][0]

    resid_rows = pq.e2_ivfpq_residual_1round(spark, sf_dir).collect()
    by_q = {}
    for r in resid_rows:
        assert r["adist"] >= 0
        by_q.setdefault(r["query_id"], []).append(r["rank"])
    assert set(by_q) == {0, 1, 2, 3, 4}
    assert all(sorted(v) == [1, 2, 3] for v in by_q.values())

    ratio = mae(pq.e2_ivfpq_residual_1round(spark, sf_dir)) / mae(
        pq.e2_ivfpq_search_1round(spark, sf_dir)
    )
    assert ratio < 1.3, f"residual ADC error blew up: {ratio:.2f}x plain"


def test_ivf_range_search_semantics(spark, sf_dir):
    """Range search: every result clears the radius, and the probed-cell
    result set is a SUBSET of the brute-force radius set (IVF may miss
    neighbors outside probed cells, never invent them)."""
    import pyspark.sql.functions as F

    from caseguarddatapipeline_spark.operators.similarity import (
        RANGE_TAU,
        _dbl,
        _dot,
        _norm,
        e2_ivf_range_search,
    )
    from caseguarddatapipeline_spark.sources import load_table

    got = e2_ivf_range_search(spark, sf_dir).collect()
    assert got and all(r["cosine"] >= RANGE_TAU for r in got)
    got_pairs = {(r["query_id"], r["vec_id"]) for r in got}

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), _dbl(F.col("embedding")).alias("q_emb")
    )
    c = emb.select("vec_id", _dbl(F.col("embedding")).alias("emb"))
    cos = _dot(F.col("emb"), F.col("q_emb")) / (
        _norm(F.col("emb")) * _norm(F.col("q_emb"))
    )
    brute = {
        (r["query_id"], r["vec_id"])
        for r in c.join(F.broadcast(q), F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id", F.round(cos, 4).alias("cosine"))
        .filter(F.col("cosine") >= RANGE_TAU)
        .collect()
    }
    assert got_pairs <= brute
    # the probes catch most of the radius set on this corpus
    assert len(got_pairs) >= int(0.8 * len(brute))


def test_ivf_candidates_arrow_matches_hof(spark, sf_dir):
    """The Arrow matmul kernel and the HOF codegen plan are the SAME
    operator — row-identical candidates (assignment cell, probe set, 4dp
    cosine) at both driver scale factors, so cost routing can never
    change results. Also exercises the kernel through the public search:
    top-3 per query equal under both routes."""
    import pyspark.sql.functions as F

    from caseguarddatapipeline_spark.operators.similarity import (
        _ivf1_index,
        _ivf_candidates,
    )
    from caseguarddatapipeline_spark.sources import load_table

    for d in (sf_dir, sf_dir.replace("sf0.001", "sf0.01")):
        emb = load_table(spark, d, "embeddings")
        seeds, cents = _ivf1_index(spark, d)
        cols = ["query_id", "vec_id", "cell", "cosine"]
        hof = sorted(
            map(tuple, _ivf_candidates(emb, seeds, cents).select(*cols).collect())
        )
        arrow = sorted(
            map(
                tuple,
                _ivf_candidates(emb, seeds, cents, use_arrow=True)
                .select(*cols)
                .collect(),
            )
        )
        assert arrow == hof
        assert len(hof) > 0


def test_round_half_up_matches_spark_round(spark):
    """The numpy HALF_UP emulation must agree with Spark F.round on
    shortest-repr midpoints: Spark rounds doubles through
    BigDecimal.valueOf (shortest decimal repr, then HALF_UP), so 0.26645 —
    stored binarily just BELOW the midpoint — still rounds UP to 0.2665.
    The pure floor(|x|·10^d+0.5) form got these wrong; the kernel's
    rounded value is a ranking key, so a mismatch flips top-k membership
    between the Arrow and codegen routes."""
    import numpy as np
    import pyspark.sql.functions as F

    from caseguarddatapipeline_spark.operators.similarity import (
        _round_half_up,
    )

    vals = [
        0.26645, -0.26645, 0.12345, -0.12345, 2.675, 0.5, -0.5,
        0.00005, -0.00005, 0.73115, 0.1, -0.99995, 1.0, 0.0,
        0.333333, 0.66665, -0.66665, 123.45675,
    ]
    for d in (4, 6):
        got = _round_half_up(np.array(vals), d)
        df = spark.createDataFrame([(v,) for v in vals], "x double")
        want = [r["r"] for r in df.select(F.round("x", d).alias("r")).collect()]
        assert list(got) == want, (d, list(zip(vals, got, want)))


def test_ivf_arrow_kernel_empty_queries(spark, sf_dir):
    """A corpus with no query vectors (all vec_id >= 5) returns an empty
    frame from BOTH routes instead of crashing the Arrow kernel's
    driver-side query collect."""
    import pyspark.sql.functions as F

    from caseguarddatapipeline_spark.operators.similarity import (
        _ivf1_index,
        _ivf_candidates,
    )
    from caseguarddatapipeline_spark.sources import load_table

    seeds, cents = _ivf1_index(spark, sf_dir)
    emb = (
        load_table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") >= 5)
        .select("vec_id", "embedding")
    )
    for arrow in (False, True):
        got = _ivf_candidates(emb, seeds, cents, use_arrow=arrow)
        assert got.count() == 0
        assert got.columns == ["query_id", "vec_id", "cell", "cosine"]


def test_binary_search_recall_beats_random_and_is_consistent(spark, sf_dir):
    """Binary (1-bit) quantization seam pin: Hamming top-3 must beat the
    random-top-3 baseline by an order of magnitude (measured mean
    recall@3 ≈ 0.33 at sf0.001 vs ~0.006 random) — a sign-flip or
    word-packing regression collapses it to random. Also pins the
    packed-word invariants: hamming within [0, 64], self excluded,
    exactly TOPK rows per query."""
    from caseguarddatapipeline_spark.operators.pq import (
        N_QUERIES,
        TOPK,
        e2_binary_recall,
        e2_binary_search,
    )

    rows = e2_binary_search(spark, sf_dir).collect()
    per_q = {}
    for r in rows:
        assert 0 <= r["hamming"] <= 64
        assert r["vec_id"] != r["query_id"]
        per_q.setdefault(r["query_id"], []).append(r["rank"])
    assert len(per_q) == N_QUERIES
    for ranks in per_q.values():
        assert sorted(ranks) == list(range(1, TOPK + 1))

    rec = [r["recall_at_3"] for r in e2_binary_recall(spark, sf_dir).collect()]
    assert len(rec) == N_QUERIES
    assert sum(rec) / len(rec) >= 0.1, rec


def test_cent_literal_sql_text_is_bit_identical_to_lit_form(spark):
    """_cent_literal builds the centroid matrix as one JVM-parsed SQL
    text (round-13 plan-build optimization); the parsed doubles must be
    bit-identical to the F.lit() form for every representable value the
    shortest-roundtrip repr can produce."""
    import struct

    from pyspark.sql import functions as F

    from caseguarddatapipeline_spark.operators.similarity import _cent_literal

    cents = [
        [1e-17, -3.0, 0.1 + 0.2, 2.5e300, 1.0, -0.0],
        [4.9e-324, 1.7976931348623157e308, -1.2345678901234567, 0.5, 2.0, 7.0],
    ]
    lit_form = F.array(
        *[F.array(*[F.lit(float(v)) for v in c]) for c in cents]
    )
    df = spark.range(1)
    a = df.select(lit_form.alias("x")).collect()[0]["x"]
    b = df.select(_cent_literal(cents).alias("x")).collect()[0]["x"]
    for r1, r2 in zip(a, b):
        for p, q in zip(r1, r2):
            assert struct.pack("<d", p) == struct.pack("<d", q)


def test_py_norm_is_bit_identical_to_spark_fold(spark, sf_dir):
    """The driver-side centroid norms embedded by _cell_cosines must be
    bit-identical to evaluating _norm's fold on the same literals — on
    the REAL persisted index centroids, not synthetic values."""
    import struct

    from pyspark.sql import functions as F

    from caseguarddatapipeline_spark.operators.similarity import (
        _cent_literal,
        _ivf1_index,
        _norm,
        _py_norm,
    )

    seeds, cents = _ivf1_index(spark, sf_dir)
    for mat in (seeds, cents):
        spark_norms = (
            spark.range(1)
            .select(
                F.transform(_cent_literal(mat), lambda c: _norm(c)).alias("n")
            )
            .collect()[0]["n"]
        )
        for c, sn in zip(mat, spark_norms):
            assert struct.pack("<d", _py_norm(c)) == struct.pack("<d", sn)
