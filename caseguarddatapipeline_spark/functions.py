"""Public column-function API: the engine's reusable expression builders,
importable like ``pyspark.sql.functions``.

Each returns a Column (pure, JVM-side, whole-stage-codegen-friendly) so
users compose them into their own queries::

    from caseguarddatapipeline_spark import functions as CF
    docs.select(CF.quality_score(F.col("text")).alias("q"))

These are the same expressions the catalog operators use — one
definition, tested once, shared between the packaged queries and ad-hoc
user SQL/DataFrame code.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column

from .operators.dedup import (
    _MERSENNE,
    _minhash_signature,
    _portable_token_hash,
    _shingle_hashes_from_token_hashes,
    _shingles,
)
from .operators.textops import STOPWORDS

__all__ = [
    "token_hash",
    "tokens",
    "shingles",
    "hashed_shingles",
    "minhash_signature",
    "quality_score",
    "token_count",
    "stopword_ratio",
    "cosine",
    "l2_norm",
    "dot",
    "distinct_ratio",
    "mean_word_len",
    "normalize_text",
    "seeded_draw",
    "seeded_order_key",
]


def tokens(text: Column) -> Column:
    """Whitespace tokenization (the corpus convention everywhere)."""
    return F.split(text, " ")


def token_hash(token: Column) -> Column:
    """Portable 31-bit char-polynomial hash: (acc·131 + ascii(c)) mod 2³¹−1.
    Identical integers in any engine — the basis of every oracle-checked
    hash pipeline here (MinHash, SimHash, LSH)."""
    return _portable_token_hash(token)


def shingles(toks: Column, n: int = 3) -> Column:
    """Word n-gram shingles from a PRE-MATERIALIZED token array column.
    (Materialize first — Spark does not CSE inside HOF lambdas.)"""
    return _shingles(toks, n)


def hashed_shingles(token_hashes: Column, n: int = 3) -> Column:
    """int64 shingle hashes from pre-hashed tokens (the scale form)."""
    return _shingle_hashes_from_token_hashes(token_hashes, n)


def minhash_signature(shingle_hashes: Column) -> Column:
    """16-permutation minhash signature over int64 shingle hashes."""
    return _minhash_signature(shingle_hashes, hashed=True)


def token_count(text: Column) -> Column:
    return F.size(tokens(text))


def stopword_ratio(text: Column) -> Column:
    toks = tokens(text)
    n_stop = F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS)))
    return n_stop.cast("double") / F.size(toks)


def quality_score(text: Column) -> Column:
    """The curation quality heuristic in [0,1] (length, stopword ratio,
    avg token length) — identical to the E3/E5 operators' scoring."""
    toks = tokens(text)
    n_tokens = F.size(toks)
    stop = stopword_ratio(text)
    avg_tok_len = (F.length(text) - (n_tokens - 1)).cast("double") / n_tokens
    return (
        F.lit(0.5) * F.least(n_tokens / F.lit(100.0), F.lit(1.0))
        + F.lit(0.3) * (F.lit(1.0) - stop)
        + F.lit(0.2) * F.least(avg_tok_len / F.lit(10.0), F.lit(1.0))
    )


def distinct_ratio(text: Column) -> Column:
    """Fraction of distinct tokens — the repetition-penalizing signal in
    the gopher rule battery and the weighted-sampling weight."""
    toks = tokens(text)
    return F.size(F.array_distinct(toks)).cast("double") / F.size(toks)


def mean_word_len(text: Column) -> Column:
    """Mean token length under single-space tokenization (arithmetic on
    lengths, no per-token loop)."""
    n = F.size(tokens(text))
    return (F.length(text) - (n - 1)).cast("double") / n


def normalize_text(text: Column) -> Column:
    """Canonicalization before exact dedup: lowercase, trim, collapse
    space/tab runs — identical to the e3_text_normalize operator."""
    return F.lower(F.trim(F.regexp_replace(text, r"[ \t]+", " ")))


def seeded_draw(key: Column, seed_knuth: int = 2654435761) -> Column:
    """Deterministic uniform in [0,1) from an integer key via the Knuth
    multiplicative hash — the engine-exact acceptance draw behind
    p8_stable_sample / e5_weighted_sample (keys must be < 2³¹ so the
    product stays ANSI-safe in int64)."""
    return F.pmod(key * F.lit(seed_knuth), F.lit(4294967296)) / F.lit(4294967296.0)


def seeded_order_key(key: Column, seed: str = "seed42:") -> Column:
    """md5-derived permutation key (bit-identical across engines) — the
    e5_global_shuffle training order for an arbitrary key column. Its
    first two hex chars are a prefix of the key, so they serve as the
    monotone bucket column ``operators.topk.exact_rank`` needs to rank
    the permutation without a global sort."""
    return F.md5(F.concat(F.lit(seed), key.cast("string")))


def dot(a: Column, b: Column) -> Column:
    """Dot product of two numeric array columns (JVM-side HOFs)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2_norm(v: Column) -> Column:
    return F.sqrt(dot(v, v))


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity of two array<numeric> columns. Cast float
    embeddings to double first for stable parity:
    ``F.transform(c, lambda x: x.cast("double"))``."""
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


MERSENNE_31 = _MERSENNE
