"""Byte-real RTF text extraction (round 12).

``.rtf`` is an admitted extension in the reference
(docproc/format_config.py:16-19). RTF is a brace-grouped control-word
language (the public Rich Text Format specification): ``build_rtf``
writes a complete document — ``{\\rtf1\\ansi`` header, a font table
DESTINATION group the extractor must skip, escaped specials
(``\\\\ \\{ \\}``), ``\\par`` paragraph marks, ``\\'hh`` hex escapes
for non-ASCII bytes — and ``extract_rtf`` is a real tokenizer: group
stack, control words with optional numeric parameters and the
delimiting-space rule, destination skipping (``\\*`` and the known
header destinations), ``\\uN`` Unicode escapes with fallback-character
consumption (``\\ucN``). Round-trip is exact, so ``e4_rtf_text`` pins
every recovered character against the documents table. Scale: a
``docparse.PARSERS`` entry run by ``docparse.text_stage`` — one file =
one binaryFile row = one parser call, no shuffle.
"""

from __future__ import annotations

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


class RtfParseError(ValueError):
    pass


def build_rtf(text: str) -> bytes:
    """A complete RTF document whose body is ``text`` (newlines as
    ``\\par``): header with a font-table destination the parser must
    skip, specials escaped, non-ASCII/control bytes as ``\\'hh``."""
    out: list[str] = []
    for ch in text:
        if ch in "\\{}":
            out.append("\\" + ch)
        elif ch == "\n":
            out.append("\\par ")
        elif ch == "\t":
            out.append("\\tab ")
        elif 32 <= ord(ch) <= 126:
            out.append(ch)
        elif ord(ch) <= 255:
            out.append(f"\\'{ord(ch):02x}")
        else:
            out.append(f"\\u{ord(ch)}?")
    body = "".join(out)
    return (
        "{\\rtf1\\ansi\\deff0{\\fonttbl{\\f0\\fswiss Helvetica;}}"
        "\\f0\\fs24 " + body + "}"
    ).encode("latin-1")


# header destination groups whose content is metadata, not body text
_DESTINATIONS = {
    b"fonttbl", b"colortbl", b"stylesheet", b"info", b"pict",
    b"header", b"footer", b"field",
}


def extract_rtf(data: bytes) -> dict[str, object]:
    """Tokenize: groups, control words/symbols, destination skipping,
    ``\\'hh`` and ``\\uN`` escapes. Returns {"text", "n_groups",
    "n_controls"}."""
    if not data.startswith(b"{\\rtf"):
        raise RtfParseError("not an RTF document")
    out: list[str] = []
    i = 0
    n = len(data)
    depth = 0
    skip_until_depth: int | None = None  # inside a destination group
    uc_skip = 1  # \ucN: fallback chars to eat after \uN
    n_groups = 0
    n_controls = 0
    while i < n:
        c = data[i : i + 1]
        if c == b"{":
            depth += 1
            n_groups += 1
            i += 1
        elif c == b"}":
            depth -= 1
            if skip_until_depth is not None and depth < skip_until_depth:
                skip_until_depth = None
            i += 1
        elif c == b"\\":
            m = re.match(rb"\\([a-z]+)(-?\d+)? ?", data[i : i + 32])
            if m:
                n_controls += 1
                word, param = m.group(1), m.group(2)
                i += m.end()
                if skip_until_depth is not None:
                    continue
                if word in _DESTINATIONS:
                    skip_until_depth = depth
                elif word == b"par" or word == b"line":
                    out.append("\n")
                elif word == b"tab":
                    out.append("\t")
                elif word == b"uc" and param is not None:
                    uc_skip = int(param)
                elif word == b"u" and param is not None:
                    cp = int(param)
                    out.append(chr(cp + 65536 if cp < 0 else cp))
                    # eat uc_skip fallback TOKENS (not bytes): each is
                    # either a 4-byte \'hh escape or one plain byte
                    for _ in range(uc_skip):
                        if data[i : i + 2] == b"\\'":
                            i += 4
                        else:
                            i += 1
                # formatting words (\f0 \fs24 \b ...) contribute no text
                continue
            sym = data[i + 1 : i + 2]
            if sym == b"'":
                if skip_until_depth is None:
                    out.append(
                        bytes([int(data[i + 2 : i + 4], 16)]).decode(
                            "latin-1"
                        )
                    )
                i += 4
            elif sym == b"*":
                # \* marks an optional destination: skip its group
                if skip_until_depth is None:
                    skip_until_depth = depth
                i += 2
            elif sym in (b"\\", b"{", b"}"):
                if skip_until_depth is None:
                    out.append(sym.decode("latin-1"))
                i += 2
            elif sym == b"~":
                if skip_until_depth is None:
                    out.append("\u00a0")
                i += 2
            else:
                i += 2  # unknown control symbol: no text
        elif c in (b"\r", b"\n"):
            i += 1  # raw newlines in the file are NOT text
        else:
            if skip_until_depth is None:
                out.append(c.decode("latin-1"))
            i += 1
    if depth != 0:
        raise RtfParseError(f"unbalanced groups (depth {depth} at EOF)")
    return {
        "text": "".join(out),
        "n_groups": n_groups,
        "n_controls": n_controls,
    }


RTF_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("n_groups", IntegerType()),
        StructField("n_controls", IntegerType()),
        StructField("rtf_text", StringType()),
        StructField("n_chars", LongType()),
    ]
)


def e4_rtf_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BYTE-REAL RTF extraction over genuine on-disk .rtf files
    (fixture ids 256-287): group-stack tokenizer with destination
    skipping per file in one Arrow-batched stage. The fixture body is
    pure-ASCII corpus text, so extraction returns it verbatim; the
    structural counts (3 groups: root, fonttbl, font entry) pin the
    tokenizer's group handling."""
    from .docparse import _fixture_docs, text_stage

    docs = _fixture_docs(spark, sf_dir, "doc_*.rtf")
    return text_stage(docs, extract_rtf, RTF_SCHEMA, "rtf_text")


QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "e4_rtf_text": e4_rtf_text,
}

ORACLES: dict[str, str] = {
    # 3 groups (root + fonttbl + font entry); control words: rtf1,
    # ansi, deff0, fonttbl, f0, fswiss, f0, fs24 = 8 for pure-ASCII
    # single-line corpus text
    "e4_rtf_text": """
        SELECT doc_id,
               CAST(3 AS INT) AS n_groups,
               CAST(8 AS INT) AS n_controls,
               text AS rtf_text,
               CAST(length(text) AS BIGINT) AS n_chars
        FROM documents
        WHERE doc_id >= 256 AND doc_id < 288
    """,
}
