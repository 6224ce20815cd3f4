"""Byte-real EML (RFC 5322 + MIME) text extraction (round 12).

``.eml/.msg`` are the reference's MEDIUM-priority correspondence class
(docproc/format_config.py:44-53); until now they flowed through the U3
text-class stubs. This module makes the internet-message format real:
``build_eml`` writes a complete RFC 5322 message — headers with proper
folding, a MIME content type, QUOTED-PRINTABLE transfer encoding with
'=' escaping and 76-column soft line breaks (RFC 2045 §6.7) — and
``extract_eml`` parses it back: header unfolding, case-insensitive
header lookup, and body decode dispatched on
Content-Transfer-Encoding (quoted-printable, base64, 7bit/8bit).
Round-trip is exact, so ``e4_eml_text`` pins every recovered body
character and the subject against the documents table.

Scale: identical to the other document tiers — a ``docparse.PARSERS``
entry run by ``docparse.text_stage``: one file = one binaryFile row =
one parser call, no shuffle.
"""

from __future__ import annotations

import base64
import re
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)


class EmlParseError(ValueError):
    pass


def _qp_encode(text: str) -> str:
    """Quoted-printable per RFC 2045 §6.7: '=' and non-printables as
    =XX, trailing space/tab protected, hard lines capped at 76 chars
    with '=' soft breaks. Deterministic byte-for-byte."""
    out: list[str] = []
    for raw_line in text.split("\n"):
        enc: list[str] = []
        for ch in raw_line:
            o = ord(ch)
            if ch == "=" or o < 32 or o > 126:
                for b in ch.encode("utf-8"):
                    enc.append(f"={b:02X}")
            else:
                enc.append(ch)
        # protect a trailing space/tab (would be stripped in transport)
        if enc and enc[-1] in (" ", "\t"):
            enc[-1] = f"={ord(enc[-1][0]):02X}"
        line = "".join(enc)
        # soft-wrap at 75 payload chars + '=' continuation, never
        # splitting an =XX escape
        parts: list[str] = []
        while len(line) > 75:
            cut = 75
            if line[cut - 2 : cut].startswith("="):
                cut -= 2
            elif line[cut - 1] == "=":
                cut -= 1
            parts.append(line[:cut] + "=")
            line = line[cut:]
        parts.append(line)
        out.append("\r\n".join(parts))
    return "\r\n".join(out)


def _qp_decode(body: str) -> str:
    body = re.sub(r"=\r?\n", "", body)  # soft breaks first
    body = body.replace("\r\n", "\n")  # hard breaks BEFORE hex decode,
    # so an encoded =0D/=0A survives as a literal control byte
    data = re.sub(
        r"=([0-9A-Fa-f]{2})",
        lambda m: chr(int(m.group(1), 16)),
        body,
    )
    return data.encode("latin-1").decode("utf-8", errors="replace")


def build_eml(text: str, subject: str, *, encoding: str = "quoted-printable") -> bytes:
    """A complete single-part RFC 5322 message whose decoded body is
    ``text``. Long subjects FOLD (RFC 5322 §2.2.3: CRLF + WSP
    continuation) so the parser's unfolding is exercised by real
    fixture files, not only by tests."""
    if encoding == "quoted-printable":
        body = _qp_encode(text)
    elif encoding == "base64":
        raw = base64.b64encode(text.encode("utf-8")).decode("ascii")
        body = "\r\n".join(raw[i : i + 76] for i in range(0, len(raw), 76))
    elif encoding == "7bit":
        body = text.replace("\n", "\r\n")
    else:
        raise ValueError(f"unsupported encoding {encoding}")
    folded_subject = subject
    if len(subject) > 60:  # fold long subjects like real MUAs
        words = subject.split(" ")
        lines, cur = [], ""
        for w in words:
            if cur and len(cur) + 1 + len(w) > 60:
                lines.append(cur)
                cur = w
            else:
                cur = f"{cur} {w}" if cur else w
        lines.append(cur)
        folded_subject = "\r\n ".join(lines)
    headers = (
        "From: intake@example.test\r\n"
        "To: pipeline@example.test\r\n"
        f"Subject: {folded_subject}\r\n"
        "Date: Thu, 01 Jan 1998 00:00:00 +0000\r\n"
        "MIME-Version: 1.0\r\n"
        'Content-Type: text/plain; charset="utf-8"\r\n'
        f"Content-Transfer-Encoding: {encoding}\r\n"
    )
    return (headers + "\r\n" + body).encode("ascii")


def extract_eml(data: bytes) -> dict[str, object]:
    """Header/body split at the first blank line, header UNFOLDING
    (continuation lines join with a single space), case-insensitive
    header map, body decoded per Content-Transfer-Encoding. Returns
    {"subject", "n_headers", "encoding", "text"}."""
    try:
        raw = data.decode("ascii")
    except UnicodeDecodeError as e:
        raise EmlParseError(f"not 7-bit clean: {e}")
    m = re.search(r"\r?\n\r?\n", raw)
    if not m:
        raise EmlParseError("no header/body separator")
    head, body = raw[: m.start()], raw[m.end() :]
    unfolded = re.sub(r"\r?\n[ \t]+", " ", head)
    headers: dict[str, str] = {}
    for line in unfolded.split("\n"):
        line = line.rstrip("\r")
        if not line:
            continue
        if ":" not in line:
            raise EmlParseError(f"malformed header line: {line[:40]!r}")
        k, v = line.split(":", 1)
        headers[k.strip().lower()] = v.strip()
    enc = headers.get("content-transfer-encoding", "7bit").lower()
    if enc == "quoted-printable":
        text = _qp_decode(body)
    elif enc == "base64":
        text = base64.b64decode(
            re.sub(r"\s+", "", body).encode("ascii")
        ).decode("utf-8", errors="replace")
    elif enc in ("7bit", "8bit", "binary"):
        text = body.replace("\r\n", "\n")
    else:
        raise EmlParseError(f"unsupported transfer encoding {enc}")
    return {
        "subject": headers.get("subject", ""),
        "n_headers": len(headers),
        "encoding": enc,
        "text": text,
    }


EML_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("subject", StringType()),
        StructField("n_headers", IntegerType()),
        StructField("encoding", StringType()),
        StructField("body_text", StringType()),
        StructField("n_chars", LongType()),
    ]
)


def e4_eml_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BYTE-REAL EML extraction over genuine on-disk .eml files
    (fixture ids 224-255: real RFC 5322 messages, quoted-printable
    bodies with soft line wraps, folded subjects): header unfold +
    MIME transfer decode per file in one Arrow-batched stage. The body
    round-trips the document text and the subject is 'case document
    <id>', so the oracle is exact — the reference's correspondence
    class (.eml/.msg medium priority, format_config.py:44-53)."""
    from .docparse import _fixture_docs, text_stage

    docs = _fixture_docs(spark, sf_dir, "doc_*.eml")
    return text_stage(docs, extract_eml, EML_SCHEMA, "body_text")


QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "e4_eml_text": e4_eml_text,
}

ORACLES: dict[str, str] = {
    "e4_eml_text": """
        SELECT doc_id,
               'case document ' || CAST(doc_id AS VARCHAR) AS subject,
               CAST(7 AS INT) AS n_headers,
               'quoted-printable' AS encoding,
               text AS body_text,
               CAST(length(text) AS BIGINT) AS n_chars
        FROM documents
        WHERE doc_id >= 224 AND doc_id < 256
    """,
}
