"""Batch-inference operators (U1-U5, SURVEY.md §2.8): LLM enrichment,
embedding generation, document text extraction — as Arrow-batched pandas
operators with deterministic stub models.

The reference calls OpenAI per case in a Python loop (ai/enricher.py:88-173
chat completion per case; caseguard/vectorization/embedder.py:138-163 one
embedding call per text) — the single biggest perf defect in the reference
(SURVEY.md §4). Spark-first, external inference is a ``mapInPandas`` /
``pandas_udf`` stage: Arrow batches amortize transfer, partition count
bounds concurrency (the reference's max_concurrent=25 becomes
``repartition(25)``), and a client-side token bucket inside the UDF matches
the reference's rate limiting (worker.py:283-305).

The default models are DETERMINISTIC stubs (the tested path, per SURVEY.md
§7 risk 6): a rule-based insight extractor and a hash-based embedder. The
``model_fn`` seam is where a real client drops in; everything around it
(batching, schema, rate limiting) is production code.

Document text extraction (U3) dispatches by format through
``docparse.dispatch_stage``: ``u3_format_dispatch`` over four vectorized
text decoders, ``u3_binary_dispatch`` over the ten byte-real container
parsers of ``docparse.PARSERS``.
"""

from __future__ import annotations

import math
from collections.abc import Callable, Iterator
from typing import NamedTuple

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..sources import load_table
from .similarity import _round_half_up

INSIGHT_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("summary", StringType()),
        StructField("key_issues", StringType()),  # comma-joined, sorted
        StructField("settlement_likelihood", DoubleType()),
        StructField("confidence", DoubleType()),
    ]
)

EMBED_DIM = 64


def _insight_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Deterministic rule-based AIInsight extractor (stands in for the
    gpt-4o-mini JSON-mode call at ai/enricher.py:138-173; output shape =
    database/models.py:62-71 with the same [0,1] clamping as
    enricher.py:175-246)."""
    from collections import Counter

    def top3(tokens: list[str]) -> str:
        # Explicit (count desc, token asc) selection — a total order, so
        # any engine picks the same 3 tokens (pandas value_counts ties
        # break by insertion order, which no SQL twin can reproduce).
        best = sorted(Counter(tokens).items(), key=lambda kv: (-kv[1], kv[0]))
        return ",".join(sorted(t for t, _ in best[:3]))

    for pdf in batches:
        toks = pdf["text"].str.split(" ")
        summaries = toks.map(lambda t: " ".join(t[:8]))
        key_issues = toks.map(top3)
        likelihood = ((pdf["n_chars"] % 100) / 100.0).clip(0.0, 1.0)
        confidence = (toks.map(len).clip(upper=200) / 200.0).clip(0.0, 1.0)
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "summary": summaries,
                "key_issues": key_issues,
                "settlement_likelihood": likelihood.astype("float64"),
                "confidence": confidence.astype("float64"),
            }
        )


def u1_insight_extraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LLM-enrichment operator over documents (rows-only check: the stub is
    Python-side by design; tests pin exact outputs)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text", "n_chars")
    return docs.mapInPandas(_insight_batch, schema=INSIGHT_SCHEMA)


def _bucket_counts(text: str, dim: int = EMBED_DIM) -> np.ndarray:
    """Raw token-bucket counts — the ONE definition of the hash-embedder
    arithmetic (rolling code (c*131 + ord) mod 1e9+7 → bucket), shared by
    hash_embed and the u2 kernel so the embeddings table and the u2
    checksums can never desynchronize."""
    v = np.zeros(dim, dtype=np.float64)
    for tok in text.split(" "):
        code = 0
        for ch in tok:
            code = (code * 131 + ord(ch)) % 1_000_000_007
        v[code % dim] += 1.0
    return v


def hash_embed(texts: pd.Series, dim: int = EMBED_DIM) -> pd.Series:
    """Deterministic hash-based embedder: token → bucket via a polynomial
    rolling code, L2-normalized counts. Stands in for
    text-embedding-3-large (embedder.py:138-163)."""

    def one(text: str) -> list[float]:
        v = _bucket_counts(text, dim)
        n = math.sqrt(float((v * v).sum()))
        return (v / n if n > 0 else v).astype(np.float32).tolist()

    return texts.map(one)


def u2_hash_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-generation operator: mapInPandas (Arrow-batched) text →
    array<float>[64] + checksums. The checksums are computed from the RAW
    integer bucket counts in float64 — Σc is the token count exactly and
    Σc² is an exact integer, so norm = √Σc² and component_sum = Σc/√Σc²
    are IEEE-identical in any engine and the query is fully
    oracle-checked even though the embedding itself is a Python stage."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")

    def embed(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            embs, norms, sums = [], [], []
            for text in pdf["text"]:
                v = _bucket_counts(text)
                n = math.sqrt(float((v * v).sum()))
                embs.append(
                    (v / n if n > 0 else v).astype(np.float32).tolist()
                )
                norms.append(n)
                sums.append(float(v.sum()) / n if n > 0 else 0.0)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "embedding": embs,
                    "norm": norms,
                    "component_sum": sums,
                }
            )

    out = docs.mapInPandas(
        embed,
        "doc_id long, embedding array<float>, norm double, component_sum double",
    )
    return out.select(
        "doc_id",
        F.size("embedding").alias("dim"),
        F.round("norm", 4).alias("norm"),
        F.round("component_sum", 4).alias("component_sum"),
    )


EXTRACT_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("extracted_text", StringType()),
        StructField("n_parts", LongType()),
        StructField("n_words", LongType()),
    ]
)


def make_text_extractor(rate_per_batch_sleep: float | None = None):
    """U3/U4: binary→text extraction as a mapInPandas stage (stands in for
    the LlamaParse markdown extraction at docproc/format_config.py:147-230,
    batch driver :232-302).

    Deterministic stub: utf-8 decode, split into ~40-word "parts", join
    with the reference's part separator. ``rate_per_batch_sleep`` is the
    U4 client-side rate-limit seam (enricher.py:357-414 sleeps 1s every
    max_concurrent) — None in tests, a positive float against a real
    parser API."""

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import time

        for pdf in batches:
            if rate_per_batch_sleep:
                time.sleep(rate_per_batch_sleep)
            texts = pdf["payload"].map(
                lambda b: bytes(b).decode("utf-8", errors="replace")
            )
            words = texts.str.split(" ")
            parts = words.map(
                lambda w: [" ".join(w[i : i + 40]) for i in range(0, len(w), 40)]
            )
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "extracted_text": parts.map("\n\n".join),
                    "n_parts": parts.map(len).astype("int64"),
                    "n_words": words.map(len).astype("int64"),
                }
            )

    return extract


def u3_text_extraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document text extraction over the binary modality column (rows-only:
    pandas-UDF stage; unit tests pin the part/word counts)."""
    from .multimodal import with_binary_payload

    docs = with_binary_payload(load_table(spark, sf_dir, "documents")).select(
        "doc_id", "payload"
    )
    return docs.mapInPandas(make_text_extractor(), schema=EXTRACT_SCHEMA)


class _TextDecoder(NamedTuple):
    """A format of ``u3_format_dispatch``: its priority class, extractor
    name and a vectorized decode over a Series of unicode texts."""

    priority: str
    extractor: str
    decode: Callable[[pd.Series], pd.Series]

    def texts(self, payloads: pd.Series) -> pd.Series:
        return self.decode(
            payloads.map(lambda b: bytes(b).decode("utf-8", errors="replace"))
        )


# Per-format decode dispatch (U3 breadth): format → decoder. Priority
# classes follow P4's admission config (docproc/format_config.py:44-53
# processing_priority: pdf/doc high, eml/msg/txt medium; formats outside
# the config fall back to low); the decode bodies here are deterministic
# string arithmetic over TEXT payloads so this dispatch pipeline keeps a
# pure-SQL twin — the REAL-BYTES form of the same fan-out is
# u3_binary_dispatch below, which runs docparse.PARSERS (the in-repo
# container parsers) instead of the LlamaParse call format_config.py:
# 147-230 makes.
_U3_DISPATCH: dict[str, _TextDecoder] = {
    "ACROBAT-PDF": _TextDecoder(
        "high",
        "pdf_markdown",
        lambda texts: texts.str.split(" ").map(
            lambda w: "\n\n".join(
                " ".join(w[i : i + 40]) for i in range(0, len(w), 40)
            )
        ),
    ),
    "TEXT": _TextDecoder("medium", "plain", lambda texts: texts),
    "HTML": _TextDecoder(
        "low",
        "html_strip",
        lambda texts: "[html] " + texts.str.replace(r"<[^>]*>", "", regex=True),
    ),
    "EMAIL-MSG": _TextDecoder(
        "medium",
        "msg_preview",
        lambda texts: "[msg] " + texts.str.slice(0, 500),
    ),
}

U3_DISPATCH_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("doc_format", StringType()),
        StructField("priority_class", StringType()),
        StructField("extractor", StringType()),
        StructField("extracted_text", StringType()),
        StructField("n_chars_out", LongType()),
    ]
)


def u3_format_dispatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U3 breadth: multi-format document extraction behind the dispatch
    map. The manifest assigns each doc a format (the S5 shape); the
    mapInPandas stage groups each Arrow batch by format and runs that
    format's decode fn vectorized over the group — one dispatch per
    (batch, format), not per row. Full SQL oracle across all 4 formats."""
    from .docparse import dispatch_stage

    fmts = list(_U3_DISPATCH)
    fmt_arr = F.array(*[F.lit(f) for f in fmts])
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.element_at(fmt_arr, (F.col("doc_id") % len(fmts) + 1).cast("int")).alias(
            "doc_format"
        ),
        F.encode(F.col("text"), "utf-8").alias("payload"),
    )
    return dispatch_stage(docs, _U3_DISPATCH, U3_DISPATCH_SCHEMA)


def u3_binary_dispatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U3 dispatch over REAL BYTES across the reference's FULL admitted
    text-bearing container matrix: scan the fixture's genuine on-disk
    files, dispatch each Arrow batch by extension exactly like
    ``u3_format_dispatch`` dispatches by format code, and run the REAL
    in-repo parser per group (``docparse.PARSERS``) — PDF xref/
    FlateDecode, OOXML (word/spreadsheet/presentation) ZIP walks, RFC
    5322 mail, the RTF tokenizer, and the OLE2 family (MSG property
    streams, Word 97 piece table, Excel 97 BIFF8 cell records,
    PowerPoint 97 record tree). Every parser recovers the generating
    document text verbatim, so the whole dispatch pipeline keeps an
    exact SQL oracle while every byte it touches is a real container.
    Reference parity: this IS docproc/format_config.py:147-230's
    dispatch — the same ten admitted extensions, priority classes from
    :44-53 (pdf/doc/docx high, eml/msg medium, spreadsheet/presentation/
    rtf low) — with the LlamaParse call replaced by in-repo parsers.
    Scale: one file = one row = one kernel call; the per-batch groupby
    dispatches once per (batch, extension), not per row."""
    from .docparse import PARSERS, _fixture_docs, dispatch_stage

    files = _fixture_docs(
        spark, sf_dir, "doc_*.{pdf,docx,xlsx,pptx,eml,rtf,msg,doc,xls,ppt}"
    ).withColumnRenamed("ext", "doc_format")
    return dispatch_stage(files, PARSERS, U3_DISPATCH_SCHEMA)


def u5_urgency_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Urgency heuristic (enricher.py:313-355) — pure column expressions,
    no UDF needed (SURVEY.md §2.8 U5): recency + magnitude blend."""
    orders = load_table(spark, sf_dir, "orders")
    days_old = F.datediff(
        F.to_date(F.lit("1998-08-01")), F.col("o_orderdate").cast("date")
    )
    recency = F.greatest(F.lit(0.0), 1 - days_old / F.lit(1500.0))
    magnitude = F.least(F.col("o_totalprice") / F.lit(300000.0), F.lit(1.0))
    return orders.select(
        "o_orderkey",
        F.round(
            F.least(F.greatest(F.lit(0.6) * recency + F.lit(0.4) * magnitude,
                               F.lit(0.0)), F.lit(1.0)),
            6,
        ).alias("urgency"),
    )


CHUNK_CHARS = 800  # vector_config chunk size (fdm_solicitors.json:44-45)
MAX_EMBED_CHARS = 32_000  # embedder input cap (embedder.py:148-151)


def chunk_explode(docs: DataFrame, *carry) -> DataFrame:
    """The shared cap-and-chunk fan-out (embedder.py:76-151 semantics):
    truncate ``text`` to the embedder input cap, one output row per
    CHUNK_CHARS chunk with (chunk_index, chunk_text, n_chars), carrying
    any ``carry`` columns through. Pure column expressions (sequence +
    explode + substring): a narrow per-row transform with no shuffle.
    Consumed by u7_embedding_chunks AND corpus_export.curated_chunks —
    one definition of the chunk geometry."""
    capped = F.substring(F.col("text"), 1, MAX_EMBED_CHARS)
    n_chunks = F.ceil(
        F.least(F.length("text"), F.lit(MAX_EMBED_CHARS)) / F.lit(CHUNK_CHARS)
    ).cast("int")
    chunks = docs.select(
        "doc_id",
        *carry,
        capped.alias("capped"),
        # n_chunks can be 0 (empty text): sequence(0, -1) would yield the
        # descending [0, -1], so gate on an empty array — explode drops the
        # row, matching the oracle's unnest(generate_series(0, -1)) → 0 rows.
        F.explode(
            F.when(n_chunks > 0, F.sequence(F.lit(0), n_chunks - 1))
            .otherwise(F.array().cast("array<int>"))
        ).alias("chunk_index"),
    )
    chunk_text = F.expr(
        f"substring(capped, chunk_index * {CHUNK_CHARS} + 1, {CHUNK_CHARS})"
    )
    return chunks.select(
        "doc_id",
        *carry,
        "chunk_index",
        chunk_text.alias("chunk_text"),
        F.length(chunk_text).alias("n_chars"),
    )


def u7_embedding_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-vectorization chunking: the shared ``chunk_explode`` fan-out
    over the corpus, carrying the truncation flag — the stage that feeds
    u2's embedding kernel in front of a 100 TB embedding run."""
    docs = load_table(spark, sf_dir, "documents").withColumn(
        "truncated", F.length("text") > MAX_EMBED_CHARS
    )
    return chunk_explode(docs, "truncated").select(
        "doc_id", "chunk_index", "chunk_text", "n_chars", "truncated"
    )


# fixed classifier weights: (bias, n_words/100, stopword_ratio,
# distinct_ratio) — a stand-in for trained fasttext/logreg coefficients
CLF_W = (-1.45, 0.8, -2.0, 2.5)


def u8_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality classifier over the corpus — the learned
    sibling of the rule battery (quality.e3_gopher_rules): a logistic
    model over (length, stopword-ratio, distinct-ratio) features, scored
    in an Arrow-batched mapInPandas kernel exactly the way a real
    fasttext/sklearn classifier deploys (swap ``_score`` for
    model.predict_proba; the batch shape, schema, and partitioning stay).
    The stub's fixed weights keep it oracle-checkable: the same features
    and sigmoid are plain SQL, so the Python stage is value-verified
    cross-engine — only the model seam itself is stubbed."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    stop = set(("the", "a", "of", "and", "to"))  # textops.STOPWORDS
    w0, w1, w2, w3 = CLF_W

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            toks = pdf["text"].str.split(" ")
            n = toks.map(len).to_numpy(dtype="float64")
            n_stop = toks.map(
                lambda ts: sum(1 for t in ts if t in stop)
            ).to_numpy(dtype="float64")
            n_dist = toks.map(lambda ts: len(set(ts))).to_numpy(dtype="float64")
            z = w0 + w1 * (n / 100.0) + w2 * (n_stop / n) + w3 * (n_dist / n)
            p = 1.0 / (1.0 + np.exp(-z))
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    # HALF_UP to match the SQL twin's round()
                    "p_quality": _round_half_up(p, 6),
                    "accepted": p >= 0.5,
                }
            )

    return docs.mapInPandas(
        score, "doc_id bigint, p_quality double, accepted boolean"
    )


QUERIES = {
    "u8_quality_classifier": u8_quality_classifier,
    "u1_insight_extraction": u1_insight_extraction,
    "u2_hash_embedding": u2_hash_embedding,
    "u3_text_extraction": u3_text_extraction,
    "u3_format_dispatch": u3_format_dispatch,
    "u3_binary_dispatch": u3_binary_dispatch,
    "u5_urgency_score": u5_urgency_score,
    "u7_embedding_chunks": u7_embedding_chunks,
}

ORACLES = {
    # u1/u2/u3 are pandas-UDF operators, but their stub kernels are pure
    # integer/string arithmetic — each has a full SQL twin, so even the
    # Python-stage operators are value-checked cross-engine. Only the
    # model seam (swap the stub for a real LLM/embedder) is unverifiable
    # by construction.
    "u8_quality_classifier": """
        WITH f AS (
            SELECT doc_id,
                   CAST(len(string_split(text, ' ')) AS DOUBLE) AS n,
                   CAST(len(list_filter(string_split(text, ' '),
                        t -> t IN ('the','a','of','and','to'))) AS DOUBLE)
                       AS n_stop,
                   CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
                       AS n_dist
            FROM documents
        ), z AS (
            SELECT doc_id,
                   -1.45 + 0.8 * (n / 100.0) - 2.0 * (n_stop / n)
                        + 2.5 * (n_dist / n) AS z
            FROM f
        )
        SELECT doc_id,
               round(1.0 / (1.0 + exp(-z)), 6) AS p_quality,
               1.0 / (1.0 + exp(-z)) >= 0.5 AS accepted
        FROM z
    """,
    # the real-bytes dispatch over all nine admitted text-bearing
    # container classes (disjoint fixture id ranges per class; every
    # parser round-trips the document text exactly)
    "u3_binary_dispatch": """
        WITH f AS (
            SELECT doc_id, text,
                   CASE
                       WHEN doc_id < 64 AND doc_id % 3 = 0 THEN 'pdf'
                       WHEN doc_id >= 96 AND doc_id < 128 THEN 'docx'
                       WHEN doc_id >= 128 AND doc_id < 160 THEN 'xlsx'
                       WHEN doc_id >= 192 AND doc_id < 224 THEN 'pptx'
                       WHEN doc_id >= 224 AND doc_id < 256 THEN 'eml'
                       WHEN doc_id >= 256 AND doc_id < 288 THEN 'rtf'
                       WHEN doc_id >= 288 AND doc_id < 320 THEN 'msg'
                       WHEN doc_id >= 320 AND doc_id < 352 THEN 'doc'
                       WHEN doc_id >= 352 AND doc_id < 384 THEN 'xls'
                       WHEN doc_id >= 384 AND doc_id < 416 THEN 'ppt'
                   END AS doc_format
            FROM documents
        )
        SELECT doc_id, doc_format,
               CASE doc_format
                   WHEN 'pdf' THEN 'high' WHEN 'doc' THEN 'high'
                   WHEN 'docx' THEN 'high'
                   WHEN 'eml' THEN 'medium' WHEN 'msg' THEN 'medium'
                   ELSE 'low' END AS priority_class,
               CASE doc_format
                   WHEN 'pdf' THEN 'pdf_xref_flate'
                   WHEN 'doc' THEN 'doc_fib_pieces'
                   WHEN 'docx' THEN 'docx_zip_ooxml'
                   WHEN 'eml' THEN 'eml_rfc5322'
                   WHEN 'msg' THEN 'msg_cfb_props'
                   WHEN 'xlsx' THEN 'xlsx_zip_sst'
                   WHEN 'xls' THEN 'xls_biff8_sst'
                   WHEN 'pptx' THEN 'pptx_drawingml'
                   WHEN 'ppt' THEN 'ppt_record_tree'
                   ELSE 'rtf_tokenizer' END AS extractor,
               text AS extracted_text,
               CAST(length(text) AS BIGINT) AS n_chars_out
        FROM f
        WHERE doc_format IS NOT NULL
    """,
    "u3_format_dispatch": """
        WITH m AS (
            SELECT doc_id, text,
                   ['ACROBAT-PDF','TEXT','HTML','EMAIL-MSG']
                       [CAST(doc_id % 4 AS INT) + 1] AS doc_format
            FROM documents
        ), ex AS (
            SELECT doc_id, doc_format,
                   CASE doc_format
                       WHEN 'ACROBAT-PDF' THEN 'high'
                       WHEN 'TEXT' THEN 'medium'
                       WHEN 'EMAIL-MSG' THEN 'medium'
                       ELSE 'low' END AS priority_class,
                   CASE doc_format
                       WHEN 'ACROBAT-PDF' THEN 'pdf_markdown'
                       WHEN 'TEXT' THEN 'plain'
                       WHEN 'HTML' THEN 'html_strip'
                       ELSE 'msg_preview' END AS extractor,
                   CASE doc_format
                       WHEN 'ACROBAT-PDF' THEN array_to_string(
                           list_transform(
                               range(0, CAST(ceil(len(string_split(text, ' ')) / 40.0) AS INT)),
                               i -> array_to_string(
                                   string_split(text, ' ')[i*40+1 : i*40+40], ' ')),
                           chr(10) || chr(10))
                       WHEN 'TEXT' THEN text
                       WHEN 'HTML' THEN '[html] ' ||
                           regexp_replace(text, '<[^>]*>', '', 'g')
                       ELSE '[msg] ' || substring(text, 1, 500) END
                       AS extracted_text
            FROM m
        )
        SELECT doc_id, doc_format, priority_class, extractor,
               extracted_text,
               CAST(length(extracted_text) AS BIGINT) AS n_chars_out
        FROM ex
    """,
    "u1_insight_extraction": """
        WITH toks AS (
            SELECT doc_id, n_chars, string_split(text, ' ') AS tk
            FROM documents
        ), counts AS (
            SELECT doc_id, tok, count(*) AS cnt
            FROM (SELECT doc_id, unnest(tk) AS tok FROM toks)
            GROUP BY doc_id, tok
        ), top3 AS (
            SELECT doc_id,
                   array_to_string(list_sort(list(tok)), ',') AS key_issues
            FROM (
                SELECT doc_id, tok,
                       row_number() OVER (
                           PARTITION BY doc_id
                           ORDER BY cnt DESC, tok ASC
                       ) AS rn
                FROM counts
            ) WHERE rn <= 3
            GROUP BY doc_id
        )
        SELECT t.doc_id,
               array_to_string(t.tk[1:8], ' ') AS summary,
               top3.key_issues,
               (t.n_chars % 100) / 100.0 AS settlement_likelihood,
               least(len(t.tk), 200) / 200.0 AS confidence
        FROM toks t JOIN top3 ON t.doc_id = top3.doc_id
    """,
    "u2_hash_embedding": """
        WITH codes AS (
            SELECT doc_id,
                   list_transform(string_split(text, ' '), t ->
                       list_reduce(list_prepend(CAST(0 AS BIGINT),
                           list_transform(string_split(t, ''),
                                          c -> CAST(ascii(c) AS BIGINT))),
                           (a, c) -> (a * 131 + c) % 1000000007) % 64) AS buckets
            FROM documents
        ), counts AS (
            SELECT doc_id, b, count(*) AS cnt
            FROM (SELECT doc_id, unnest(buckets) AS b FROM codes)
            GROUP BY doc_id, b
        )
        SELECT doc_id, 64 AS dim,
               round(sqrt(sum(cnt * cnt)), 4) AS norm,
               round(sum(cnt) / sqrt(sum(cnt * cnt)), 4) AS component_sum
        FROM counts GROUP BY doc_id
    """,
    "u3_text_extraction": """
        WITH words AS (
            SELECT doc_id, string_split(text, ' ') AS w,
                   len(string_split(text, ' ')) AS n_words
            FROM documents
        )
        SELECT doc_id,
               array_to_string(
                   list_transform(
                       generate_series(1, CAST(ceil(n_words / 40.0) AS BIGINT)),
                       i -> array_to_string(w[((i-1)*40+1):((i-1)*40+40)], ' ')
                   ), chr(10) || chr(10)
               ) AS extracted_text,
               CAST(ceil(n_words / 40.0) AS BIGINT) AS n_parts,
               CAST(n_words AS BIGINT) AS n_words
        FROM words
    """,
    "u7_embedding_chunks": """
        WITH capped AS (
            SELECT doc_id,
                   substring(text, 1, 32000) AS capped,
                   length(text) > 32000 AS truncated,
                   CAST(ceil(least(length(text), 32000) / 800.0) AS INT)
                       AS n_chunks
            FROM documents
        )
        , idx AS (
            SELECT doc_id, capped, truncated,
                   unnest(generate_series(0, n_chunks - 1)) AS i
            FROM capped
        )
        SELECT doc_id,
               CAST(i AS INT) AS chunk_index,
               substring(capped, CAST(i AS INT) * 800 + 1, 800) AS chunk_text,
               length(substring(capped, CAST(i AS INT) * 800 + 1, 800))
                   AS n_chars,
               truncated
        FROM idx
    """,
    "u5_urgency_score": """
        SELECT o_orderkey,
               round(least(greatest(
                 0.6 * greatest(0.0, 1 - date_diff('day', CAST(o_orderdate AS DATE),
                                                   DATE '1998-08-01') / 1500.0)
                 + 0.4 * least(o_totalprice / 300000.0, 1.0), 0.0), 1.0), 6) AS urgency
        FROM orders
    """,
}
