"""Dedup operators on constructed corpora with known duplicates — the
LSH/minhash path must find a planted near-duplicate."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from caseguarddatapipeline_spark.operators.dedup import (
    _minhash_signature,
    _shingles,
)


def _docs_df(spark):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    near = "the quick brown fox jumps over the lazy cat again and again today"
    far = "completely different content about spark shuffles and partitions here"
    return spark.createDataFrame(
        [(0, base), (1, near), (2, far), (3, base)], ["doc_id", "text"]
    )


def test_exact_duplicate_detected(spark):
    docs = _docs_df(spark)
    dups = (
        docs.groupBy("text")
        .agg(F.count(F.lit(1)).alias("n"), F.min("doc_id").alias("keeper"))
        .filter(F.col("n") > 1)
        .collect()
    )
    assert len(dups) == 1
    assert dups[0]["keeper"] == 0 and dups[0]["n"] == 2


def test_minhash_identical_signatures(spark):
    docs = _docs_df(spark).select(
        "doc_id", F.split(F.col("text"), " ").alias("toks")
    ).select("doc_id", _shingles(F.col("toks")).alias("shingles"))
    sigs = docs.withColumn("sig", _minhash_signature(F.col("shingles"))).collect()
    by_id = {r["doc_id"]: r["sig"] for r in sigs}
    # exact dup -> identical signature; near dup -> mostly matching bands
    assert by_id[0] == by_id[3]
    # near-dup pair has shingle-jaccard ~0.57 -> expected ~9/16 matching
    # minhashes; allow variance down to 4. Disjoint docs should match ~0.
    matches = sum(1 for a, b in zip(by_id[0], by_id[1]) if a == b)
    assert matches >= 4, f"near-dup only matched {matches} minhashes"
    far_matches = sum(1 for a, b in zip(by_id[0], by_id[2]) if a == b)
    assert far_matches < matches


def test_vectorized_lsh_matches_hof_form(spark, sf_dir, oracle_problems):
    """The numpy kernel must reproduce the portable integer pipeline
    bit-for-bit: the catalog's one LSH body gives the DuckDB oracle's
    candidate pairs and verified jaccard values."""
    from caseguarddatapipeline_spark.catalog import build_catalog

    queries, _ = build_catalog()
    got = queries["e1_minhash_lsh"](spark, sf_dir)
    assert oracle_problems(got, "e1_minhash_lsh") == []


def test_signature_kernel_reads_code_points(spark):
    """Non-ASCII tokens (accented, CJK, emoji) hash by code point, as the
    HOF column functions do: the kernel's shingles and band signatures
    equal ``minhash_signature(hashed_shingles(...))``'s. 1- and 2-token
    docs have no shingle set and yield no rows."""
    from caseguarddatapipeline_spark import functions as CF
    from caseguarddatapipeline_spark.operators.dedup import _banded_vectorized

    rows = [
        (0, "café naïve résumé über straße façade"),
        (1, "数据 去重 管道 训练 语料"),
        (2, "ship it 🚀 with 😀 and a😀b too"),
        (3, "mixed ascii then Ωmega and 数据 again"),
        (4, "solo"),
        (5, "two 数据"),
        (6, "plain ascii words only in this one"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        (r["doc_id"], r["band"]): (r["band_sig"], sorted(r["shingles"]))
        for r in _banded_vectorized(spark, docs).collect()
    }
    toks = F.filter(F.split(F.col("text"), " "), lambda t: t != "")
    ref = (
        docs.select("doc_id", F.transform(toks, CF.token_hash).alias("th"))
        .select("doc_id", CF.hashed_shingles(F.col("th")).alias("sh"))
        .select("doc_id", "sh", CF.minhash_signature(F.col("sh")).alias("sig"))
        .collect()
    )
    want = {}
    for r in ref:
        if r["doc_id"] in (4, 5):
            continue
        for b in range(4):
            want[(r["doc_id"], b)] = (
                ":".join(str(v) for v in r["sig"][4 * b:4 * b + 4]),
                sorted(r["sh"]),
            )
    assert got == want
    assert {d for d, _ in got} == {0, 1, 2, 3, 6}


def test_dedup_clusters_merge_chains(spark):
    """a~b and b~c (but never a~c as a direct pair) must land in ONE
    cluster — the transitive semantics pairwise removal misses."""
    from caseguarddatapipeline_spark.operators.dedup import e1_dedup_clusters

    sf = "/root/testdata/sf0.01"
    rows = e1_dedup_clusters(spark, sf).collect()
    assert rows, "no near-dup clusters found"
    by_cluster: dict[int, list[int]] = {}
    for r in rows:
        by_cluster.setdefault(r["cluster_id"], []).append(r["doc_id"])
    for cid, members in by_cluster.items():
        assert cid == min(members)  # label = component min
        assert all(
            r["cluster_size"] == len(members)
            for r in rows
            if r["cluster_id"] == cid
        )
    # the corpus contains at least one transitive chain (cluster of ≥3)
    assert any(len(m) >= 3 for m in by_cluster.values())


def test_degenerate_bucket_is_capped(spark):
    """Skew guard: a bucket with 1k identical docs (way over _BUCKET_CAP)
    must NOT expand C(1000,2) pairs inside one task — the row_number cap
    bounds every bucket to its _BUCKET_CAP lowest doc_ids before the
    collect_list, so output and agg buffer stay bounded while near-dup
    neighbours of the surviving members still surface."""
    from caseguarddatapipeline_spark.operators.dedup import (
        _BUCKET_CAP,
        _band_pairs,
        _banded_vectorized,
    )

    base = "the quick brown fox jumps over the lazy dog again and again today"
    near = "the quick brown fox jumps over the lazy cat again and again today"
    n_dup = 1000
    rows = [(0, near)]  # low id ⇒ ranks inside the cap in shared buckets
    rows += [(i, base) for i in range(2, n_dup + 2)]
    rows.append((1, "completely different content about spark shuffles here yes"))
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    assert n_dup > _BUCKET_CAP

    got = _band_pairs(_banded_vectorized(spark, docs)).collect()
    # bounded: nothing beyond cap-sized buckets pairs up
    assert len(got) <= _BUCKET_CAP * (_BUCKET_CAP + 1) // 2
    ident = [r for r in got if r["doc_a"] >= 2 and r["doc_b"] >= 2]
    assert ident and all(r["jaccard"] == 1.0 for r in ident)
    # identical docs pair only within the capped prefix (lowest doc_ids)
    assert max(r["doc_b"] for r in ident) <= 2 + _BUCKET_CAP
    # the near-dup doc shares 3 of 4 band buckets with the identical
    # group and ranks first there -> it must still surface
    near_pairs = [r for r in got if r["doc_a"] == 0]
    assert near_pairs and all(0.4 < r["jaccard"] < 1.0 for r in near_pairs)


def test_jaccard_ordering(spark):
    docs = _docs_df(spark).select(
        "doc_id", F.split(F.col("text"), " ").alias("toks")
    ).select("doc_id", _shingles(F.col("toks")).alias("sh"))
    a = docs.alias("a")
    b = docs.alias("b")
    inter = F.size(F.array_intersect(F.col("a.sh"), F.col("b.sh")))
    union = F.size(F.array_union(F.col("a.sh"), F.col("b.sh")))
    pairs = (
        a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("da"),
            F.col("b.doc_id").alias("db"),
            (inter.cast("double") / union).alias("j"),
        )
        .collect()
    )
    jac = {(r["da"], r["db"]): r["j"] for r in pairs}
    assert jac[(0, 3)] == 1.0
    assert jac[(0, 1)] > jac[(0, 2)]
    assert 0.3 < jac[(0, 1)] < 1.0


def test_prefix_filter_join_finds_every_pair_above_threshold(spark, tmp_path):
    """Pigeonhole completeness: prefix filtering must produce EVERY pair
    with 3-gram-shingle Jaccard >= 4/5 (no false negatives), and nothing
    below. Verified against brute-force all-pairs on a seeded corpus with
    planted near-dups at several overlap levels."""
    import itertools
    import random

    import pyspark.sql.functions as F

    from caseguarddatapipeline_spark.operators import dedup as D

    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(120)]
    docs = []
    for i in range(40):
        toks = rng.sample(vocab, 15)
        docs.append((2 * i, toks))
        # drop k SUFFIX tokens: shingle J = (13-k)/13 → k=1: 0.923 (in),
        # k=2: 0.846 (in), k=4: 0.692 (out) — straddles the 0.8 threshold
        k = [1, 2, 4][i % 3]
        docs.append((2 * i + 1, toks[:-k]))

    def shingles(t):
        return {" ".join(t[i : i + 3]) for i in range(len(t) - 2)}

    sets = {d: shingles(t) for d, t in docs}
    expected = set()
    for a, b in itertools.combinations(sorted(sets), 2):
        inter = len(sets[a] & sets[b])
        uni = len(sets[a] | sets[b])
        if 5 * inter >= 4 * uni:
            expected.add((a, b))
    assert expected, "corpus must plant pairs above the threshold"
    assert len(expected) < len(docs), "threshold must also exclude variants"

    path = str(tmp_path / "documents.parquet")
    spark.createDataFrame(
        [(d, " ".join(t)) for d, t in docs], "doc_id long, text string"
    ).coalesce(1).write.parquet(path)
    # point the operator at the fixture corpus via its sf_dir contract
    got = {
        (r["doc_a"], r["doc_b"])
        for r in D.e1_prefix_filter_join(spark, str(tmp_path)).collect()
    }
    assert got == expected


def test_binaryfile_fixture_idempotent(spark, sf_dir):
    """The binaryFile fixture writer: second call reuses the completed
    dir (marker file), and the scan sees exactly the fixture docs."""
    import os

    from caseguarddatapipeline_spark.operators import multimodal as M

    d1 = M._binaryfile_fixture_dir(spark, sf_dir)
    mtime = os.path.getmtime(os.path.join(d1, "_FIXTURE_COMPLETE"))
    d2 = M._binaryfile_fixture_dir(spark, sf_dir)
    assert d1 == d2
    assert os.path.getmtime(os.path.join(d2, "_FIXTURE_COMPLETE")) == mtime
    n_files = len([f for f in os.listdir(d1) if f.startswith("doc_")])
    assert n_files == M._BINFIX_TOTAL
    # the scan's glob is pinned to the five original classes; the jpg
    # class (ids >= 64) is covered by e4_pixel_tile_stats' jpg branch
    out = M.e4_binaryfile_scan(spark, sf_dir)
    assert out.count() == M._BINFIX_N


def test_decode_stub_magic_byte_dispatch():
    """The decode stub branches on REAL format signatures: PDF header →
    extracted body preview, PNG signature → IHDR dims, RIFF/WAVE → sample
    rate + data length, plain bytes → utf-8 preview. Payloads come from
    the fixture's own generator so the on-disk files and the parse stay
    in lockstep."""
    from caseguarddatapipeline_spark.operators import multimodal as M

    text = "hello world this is a body that exceeds thirty-two characters"
    # doc_id 0 → pdf, 1 → png (dims 96x96), 2 → wav, 5 → ppm, 11 → bmp
    assert M._decode_one(M._format_payload(0, text)) == text[:32]
    assert M._decode_one(M._format_payload(1, text)) == "PNG 96x96"
    assert (
        M._decode_one(M._format_payload(2, text))
        == f"WAV 8000Hz {len(text)}smp"
    )
    assert M._decode_one(M._format_payload(5, text)) == "PPM 64x96"
    assert M._decode_one(M._format_payload(11, text)) == "BMP 96x64"
    # the generated files really carry the magic numbers
    assert M._format_payload(0, text)[:5] == b"%PDF-"
    assert M._format_payload(1, text)[:8] == b"\x89PNG\r\n\x1a\n"
    wav = M._format_payload(2, text)
    assert wav[:4] == b"RIFF" and wav[8:12] == b"WAVE" and len(wav) == 44 + len(text)
    # PNG IHDR CRC is genuine (a strict decoder would verify it)
    import struct
    import zlib

    png = M._format_payload(1, text)
    chunk = png[12:29]  # 4-byte type + 13-byte IHDR data
    assert struct.unpack(">I", png[29:33])[0] == zlib.crc32(chunk)


def test_decode_stub_magic_prefix_text_falls_through():
    """Round-11 advice: a corpus document whose TEXT merely starts with a
    format magic ('P6 engines...', 'BMW road test', a truncated RIFF)
    must degrade to the utf-8 preview, never crash the mapInPandas
    stage with a header-parse error."""
    from caseguarddatapipeline_spark.operators import multimodal as M

    cases = [
        b"P6 engines are the classic flat-six family",
        b"BM says the quarterly results improved a lot",
        b"BM",  # too short for any BITMAPINFOHEADER field
        b"P6 12 notanumber",
        b"RIFF1234WAVE",  # truncated: no fmt/data chunks
        b"\x89PNG\r\n\x1a\nshort",  # signature but truncated IHDR
    ]
    for payload in cases:
        out = M._decode_one(payload)
        assert out == payload[:32].decode("utf-8", errors="replace")


def test_span_dedup_counts_match_bruteforce(spark, tmp_path):
    """Span-level dedup: per-doc distinct-span and duplicated-span counts
    must match a brute-force sliding-window computation on a corpus with
    a planted shared passage, an exact duplicate, and a unique doc."""
    from caseguarddatapipeline_spark.operators import dedup as D

    passage = [f"p{i}" for i in range(12)]  # 12-token shared passage
    docs = {
        0: passage + [f"a{i}" for i in range(10)],
        1: [f"b{i}" for i in range(6)] + passage,
        2: [f"c{i}" for i in range(20)],  # unique, no dup spans
        3: passage + [f"a{i}" for i in range(10)],  # exact dup of doc 0
        4: [f"d{i}" for i in range(5)],  # shorter than SPAN_N: excluded
    }
    n = D.SPAN_N
    spans = {
        d: {" ".join(t[i : i + n]) for i in range(len(t) - n + 1)}
        for d, t in docs.items()
        if len(t) >= n
    }
    expected = {}
    for d, s in spans.items():
        dup = {x for x in s if any(x in spans[o] for o in spans if o != d)}
        expected[d] = (len(s), len(dup))
    assert expected[2][1] == 0 and expected[0][1] > 0

    spark.createDataFrame(
        [(d, " ".join(t)) for d, t in docs.items()], "doc_id long, text string"
    ).coalesce(1).write.parquet(str(tmp_path / "documents.parquet"))
    got = {
        r["doc_id"]: (r["n_spans"], r["n_dup_spans"])
        for r in D.e1_span_dedup(spark, str(tmp_path)).collect()
    }
    assert got == expected
    assert 4 not in got  # sub-span-length doc yields no span rows


def test_containment_join_completeness(spark, tmp_path):
    """Containment prefix filtering must produce EVERY pair whose shingle
    overlap coefficient >= 4/5 (pigeonhole completeness), and nothing
    below, vs brute-force all-pairs on planted containments."""
    import itertools
    import random

    from caseguarddatapipeline_spark.operators import dedup as D

    rng = random.Random(11)
    vocab = [f"w{i}" for i in range(400)]
    docs = {}
    for i in range(15):
        big = rng.sample(vocab, 24)
        docs[3 * i] = big
        # contiguous slice -> shingle containment 1.0 (planted IN)
        docs[3 * i + 1] = big[2:14]
        # slice diluted with foreign tokens -> containment < 0.8 (OUT)
        docs[3 * i + 2] = big[4:10] + rng.sample(vocab, 6)

    def shingles(toks):
        return {" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)}

    sh = {d: shingles(t) for d, t in docs.items()}
    expected = set()
    for a, b in itertools.combinations(sorted(sh), 2):
        inter = len(sh[a] & sh[b])
        m = min(len(sh[a]), len(sh[b]))
        if 5 * inter >= 4 * m:
            # orientation: smaller set first, ties by doc_id
            s, l = (a, b) if (len(sh[a]), a) < (len(sh[b]), b) else (b, a)
            expected.add((s, l))
    assert expected, "corpus must plant containment pairs"

    spark.createDataFrame(
        [(d, " ".join(t)) for d, t in docs.items()], "doc_id long, text string"
    ).coalesce(1).write.parquet(str(tmp_path / "documents.parquet"))
    got = {
        (r["doc_small"], r["doc_large"])
        for r in D.e1_containment_join(spark, str(tmp_path)).collect()
    }
    assert got == expected


def test_prefix_filter_excludes_boilerplate_head(spark):
    """The df-ascending prefix ordering property the 50x stress record
    measures, guarded fast in-suite: with a boilerplate head shared by
    EVERY document, no pure-boilerplate shingle may appear in any
    document's probe prefix (it would join the whole corpus to itself),
    and the join still finds exactly the planted near-dup pair."""
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    from caseguarddatapipeline_spark.operators import dedup as D

    boiler = "b0 b1 b2 b3 b4 b5 b6 b7 b8 b9"
    bodies = {
        i: " ".join(f"w{i}_{j}" for j in range(20)) for i in range(30)
    }
    bodies[99] = bodies[0] + " extra"  # near-dup of doc 0
    docs = spark.createDataFrame(
        [(i, f"{boiler} {b}") for i, b in bodies.items()],
        "doc_id long, text string",
    )

    pairs = {(r["doc_a"], r["doc_b"]) for r in D.prefix_filter_pairs(docs).collect()}
    assert pairs == {(0, 99)}

    # reconstruct each doc's prefix exactly as prefix_filter_pairs does
    # and assert pure-boilerplate shingles (present in all docs) are out
    toks = (
        docs.select(
            "doc_id",
            F.filter(F.split(F.col("text"), " "), lambda t: t != "").alias("t"),
        )
        .select("doc_id", F.explode(D._shingles(F.col("t"))).alias("tok"))
    )
    n_docs = docs.count()
    dfc = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    sizes = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    w = Window.partitionBy("doc_id").orderBy("df", "tok")
    prefix = (
        toks.join(dfc, "tok")
        .join(sizes, "doc_id")
        .withColumn("pos", F.row_number().over(w))
        .filter(F.col("pos") <= F.col("sz") - D._ceil_tau_int(F.col("sz")) + 1)
    )
    corpus_wide = prefix.join(
        dfc.filter(F.col("df") >= n_docs).select("tok"), "tok", "left_semi"
    )
    assert corpus_wide.count() == 0, (
        "boilerplate-head shingles entered a probe prefix: df-ascending "
        "ordering regressed (see STRESS.json prefix_filter floor)"
    )


def test_span_trim_semantics(spark):
    """Intra-doc span trim: later occurrences of a repeated TRIM_SPAN_N
    (3)-token passage are excised (first kept), non-repeating and
    too-short docs pass through unchanged, null text rewrites to ''."""
    from caseguarddatapipeline_spark.operators.dedup import span_trim

    docs = spark.createDataFrame(
        [
            # "a b c" repeats at pos 1 and pos 5 — positions 5,6,7 drop
            (1, "a b c X a b c tail"),
            # no intra-doc repeat
            (2, "p q r s t u v"),
            # shorter than the span window
            (3, "x y"),
            # null text
            (4, None),
            # overlapping periodic repeat: "w w w w w" — spans at 1,2,3
            # hash equal; spans 2 and 3 are repeats → positions 2..5 drop
            (5, "w w w w w"),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in span_trim(docs).collect()}
    assert got[1]["trimmed_text"] == "a b c X tail"
    assert (got[1]["n_tokens"], got[1]["n_dropped"]) == (8, 3)
    assert got[2]["trimmed_text"] == "p q r s t u v"
    assert got[2]["n_dropped"] == 0
    assert got[3]["trimmed_text"] == "x y"
    assert got[4]["trimmed_text"] == "" and got[4]["n_tokens"] == 0
    assert got[5]["trimmed_text"] == "w"
    assert (got[5]["n_tokens"], got[5]["n_dropped"]) == (5, 4)


@pytest.mark.parametrize(
    "sf", ["/root/testdata/sf0.001", "/root/testdata/sf0.01",
           "/root/testdata/sf0.1"]
)
def test_ngram_jaccard_codes_injective(spark, sf):
    """The dictionary code behind e1_ngram_jaccard's int64 set algebra is
    injective on EVERY available sf corpus' shingle universe (round-13
    advice: this entry has no exact verify stage to absorb a collision,
    so the pin must cover each corpus the driver tests, not just
    sf0.01). A collision would perturb an intersection count."""
    from caseguarddatapipeline_spark.operators.dedup import _shingle_id
    from caseguarddatapipeline_spark.sources import load_table

    sh = (
        load_table(spark, sf, "documents")
        .filter(F.col("doc_id") < 500)
        .select(F.split(F.col("text"), " ").alias("toks"))
        .select(F.explode(_shingles(F.col("toks"))).alias("s"))
    )
    n_str, n_code = sh.agg(
        F.count_distinct("s"), F.count_distinct(_shingle_id(F.col("s")))
    ).first()
    assert n_str == n_code and n_str > 0


def test_ngram_jaccard_codes_exact(spark):
    """e1_ngram_jaccard (round-13 optimization) runs its per-pair set
    algebra on int64 shingle codes with |A∪B| = |A|+|B|−|A∩B|: the
    produced jaccard values equal the original string-set form on a
    real sf corpus."""
    from caseguarddatapipeline_spark.operators.dedup import (
        e1_ngram_jaccard,
    )
    from caseguarddatapipeline_spark.sources import load_table

    sf = "/root/testdata/sf0.01"
    got = sorted(map(tuple, e1_ngram_jaccard(spark, sf).collect()))
    docs = (
        load_table(spark, sf, "documents")
        .filter(F.col("doc_id") < 500)
        .select("doc_id", F.split(F.col("text"), " ").alias("toks"))
        .select("doc_id", _shingles(F.col("toks")).alias("shingles"))
    )
    a, b = docs.alias("a"), docs.alias("b")
    inter = F.size(F.array_intersect(F.col("a.shingles"), F.col("b.shingles")))
    union = F.size(F.array_union(F.col("a.shingles"), F.col("b.shingles")))
    want = sorted(
        map(
            tuple,
            a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
            .select(
                F.col("a.doc_id").alias("doc_a"),
                F.col("b.doc_id").alias("doc_b"),
                F.round(inter.cast("double") / union, 6).alias("jaccard"),
            )
            .filter(F.col("jaccard") >= 0.2)
            .collect(),
        )
    )
    assert got == want and len(got) > 0
