"""Archive EXPANSION — the reference's "special handling" for its
archive priority class, made real (round 13).

The reference's format config routes archives to a distinct priority
class (docproc/format_config.py:44-53 "archive": .zip) whose handling
is expansion: members come OUT of the container and re-enter the
pipeline as ordinary documents. ``e4_zip_manifest`` (docxops) covers
the cheap inspection pass; this module covers the expansion itself —
the genuinely archive-shaped Spark semantics being the FAN-OUT: one
binaryFile row in, one row PER MEMBER out, produced inside a single
Arrow-batched kernel (no shuffle, no explode stage — the kernel's
output batch simply carries more rows than its input, exactly how
mapInPandas models 1→N).

``build_case_bundle`` writes a real multi-member ZIP (docxops' writer:
deflate entries, correct CRCs, central directory) whose members split
the document text into thirds across three formats — plain text, RTF,
and a complete nested DOCX (an OOXML ZIP *inside* the outer ZIP, the
nested-container case real correspondence bundles hit). ``expand_zip``
walks the outer central directory, inflates each member, and routes it
through the matching byte-real parser by extension — the same
``docparse.PARSERS`` table ``u3_binary_dispatch`` applies to loose
files, so the member path composes with every parser in the repo.

Round-trip is exact (each member's extracted text is a substring
formula of the generating text), so ``e4_zip_expand`` pins the whole
fan-out against the documents table. Scale: one archive = one row =
one kernel call; member fan-out happens executor-side within the
batch, so a 100 TB landing zone of bundles expands with zero
pre-shuffle.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Callable

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from .docparse import PARSERS
from .docxops import _zip, _zip_member, build_docx, zip_manifest
from .rtfops import build_rtf


class ArchiveParseError(ValueError):
    pass


def build_case_bundle(text: str) -> bytes:
    """A real multi-member ZIP: the text's thirds as doc_part0.txt
    (plain bytes), doc_part1.rtf (complete RTF), doc_part2.docx (a
    complete nested OOXML archive)."""
    n = len(text)
    c0, c1, c2 = text[: n // 3], text[n // 3 : 2 * n // 3], text[2 * n // 3 :]
    return _zip(
        [
            ("doc_part0.txt", c0.encode("utf-8")),
            ("doc_part1.rtf", build_rtf(c1)),
            ("doc_part2.docx", build_docx(c2)),
        ]
    )


def expand_zip(data: bytes) -> list[dict[str, object]]:
    """Central-directory walk → per-member inflate → per-extension
    byte-real parse (plain ``txt``, or any ``docparse.PARSERS`` format).
    Returns one dict per member, in archive order:
    {"member_name", "member_format", "member_text"}."""
    out: list[dict[str, object]] = []
    for name, _method, _usize in zip_manifest(data):
        raw = _zip_member(data, name)
        ext = name.rsplit(".", 1)[-1].lower() if "." in name else ""
        if ext == "txt":
            text = raw.decode("utf-8")
        elif ext in PARSERS:
            text = str(PARSERS[ext].extract(raw)["text"])
        else:
            raise ArchiveParseError(f"no parser for archive member {name!r}")
        out.append(
            {"member_name": name, "member_format": ext, "member_text": text}
        )
    return out


ZIP_EXPAND_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("member_index", IntegerType()),
        StructField("member_name", StringType()),
        StructField("member_format", StringType()),
        StructField("member_text", StringType()),
        StructField("n_chars", LongType()),
    ]
)


def _zip_expand_kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        ids, idxs, names, fmts, texts = [], [], [], [], []
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            for i, m in enumerate(expand_zip(bytes(payload))):
                ids.append(doc_id)
                idxs.append(i)
                names.append(m["member_name"])
                fmts.append(m["member_format"])
                texts.append(m["member_text"])
        yield pd.DataFrame(
            {
                "doc_id": pd.Series(ids, dtype="int64"),
                "member_index": pd.Series(idxs, dtype="int32"),
                "member_name": names,
                "member_format": fmts,
                "member_text": texts,
                "n_chars": pd.Series(
                    [len(t) for t in texts], dtype="int64"
                ),
            }
        )


def e4_zip_expand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ARCHIVE EXPANSION over genuine on-disk bundles (fixture ids
    416-447): one row per archive member, each member routed through
    its byte-real parser — plain text, the RTF tokenizer, and a FULL
    nested-DOCX walk (OOXML ZIP inside the outer ZIP). The member
    texts are the generating document's thirds, so the entire fan-out
    is pinned exactly by substring arithmetic."""
    from .docparse import _fixture_docs

    docs = _fixture_docs(spark, sf_dir, "doc_*.zip")
    return docs.mapInPandas(_zip_expand_kernel, schema=ZIP_EXPAND_SCHEMA)


QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "e4_zip_expand": e4_zip_expand,
}

ORACLES: dict[str, str] = {
    "e4_zip_expand": """
        WITH m AS (
            SELECT doc_id, text, length(text) AS n,
                   unnest(range(3)) AS mi
            FROM documents
            WHERE doc_id >= 416 AND doc_id < 448
        )
        SELECT doc_id,
               CAST(mi AS INT) AS member_index,
               'doc_part' || mi || '.' ||
                   CASE mi WHEN 0 THEN 'txt' WHEN 1 THEN 'rtf'
                        ELSE 'docx' END AS member_name,
               CASE mi WHEN 0 THEN 'txt' WHEN 1 THEN 'rtf'
                    ELSE 'docx' END AS member_format,
               CASE mi
                   WHEN 0 THEN substring(text, 1, n // 3)
                   WHEN 1 THEN substring(text, n // 3 + 1,
                                         2 * n // 3 - n // 3)
                   ELSE substring(text, 2 * n // 3 + 1) END AS member_text,
               CASE mi
                   WHEN 0 THEN CAST(n // 3 AS BIGINT)
                   WHEN 1 THEN CAST(2 * n // 3 - n // 3 AS BIGINT)
                   ELSE CAST(n - 2 * n // 3 AS BIGINT) END AS n_chars
        FROM m
    """,
}
