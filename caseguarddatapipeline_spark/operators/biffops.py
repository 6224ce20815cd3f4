"""Byte-real Excel 97 ``.xls`` (BIFF8) cell extraction (round 13).

``.xls`` sits in the reference's admitted-extension set and its "low"
processing-priority class alongside ``.xlsx``
(docproc/format_config.py:16-19, :44-53); the reference delegates to
an external parser — here the binary format is walked for real from
the public [MS-XLS] spec. An Excel 97 file is an OLE2 compound file
(cfbops' [MS-CFB] walker) whose ``Workbook`` stream is a sequence of
BIFF records (u16 id, u16 length, payload): a globals substream (BOF
dt=0x0005, the shared-string table SST, one BoundSheet8 per sheet
holding the absolute offset of that sheet's BOF, EOF) followed by
worksheet substreams (BOF dt=0x0010, cell records, EOF). String cells
are LABELSST records indexing the SST — the same store-once dedup
``.xlsx`` does with sharedStrings.xml — numeric cells are NUMBER
(IEEE f64) or the packed 30-bit RK encoding.

``build_xls`` writes the real thing: correct record framing, a
two-pass-patched BoundSheet8 offset, SST strings alternating 8-bit
compressed and UTF-16LE storage (the per-string fHighByte flag
readers must honour), column A as LABELSST references, column B as
NUMBER doubles. ``extract_xls`` walks it back the way a real reader
must: BIFF8 version check → SST decode → BoundSheet8 → sheet record
scan (LABELSST / NUMBER / RK) → row-major values.

Round-trip is exact, so ``e4_xls_cells`` pins the recovered words,
the shared-string dedup count, and the NUMBER column's sum against
the documents table. Scale: a ``docparse.PARSERS`` entry run by
``docparse.text_stage`` — one file = one binaryFile row = one parser
call, partition-local, no shuffle.
"""

from __future__ import annotations

import struct
from collections.abc import Iterator
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from .cfbops import CfbParseError, _read_cfb, build_cfb

_R_BOF = 0x0809
_R_EOF = 0x000A
_R_SST = 0x00FC
_R_BOUNDSHEET = 0x0085
_R_LABELSST = 0x00FD
_R_NUMBER = 0x0203
_R_RK = 0x027E
_BIFF8 = 0x0600
_DT_GLOBALS = 0x0005
_DT_SHEET = 0x0010
_MAX_RECORD = 8224  # BIFF record payload cap; beyond needs CONTINUE


class XlsParseError(ValueError):
    pass


def _rec(rid: int, payload: bytes) -> bytes:
    if len(payload) > _MAX_RECORD:
        raise XlsParseError("record exceeds BIFF cap (CONTINUE unsupported)")
    return struct.pack("<HH", rid, len(payload)) + payload


def _bof(dt: int) -> bytes:
    return _rec(_R_BOF, struct.pack("<HHHHII", _BIFF8, dt, 0x0DBB, 0x07CC, 0, 0))


def build_xls(text: str) -> bytes:
    """A complete minimal BIFF8 workbook: column A holds the text's
    words as SST references (alternating compressed/UTF-16 storage),
    column B holds the 1-based row index as a NUMBER double.
    Extraction round-trips words, dedup count and number sum."""
    words = text.split(" ") if text else []
    uniq: dict[str, int] = {}
    for w in words:
        uniq.setdefault(w, len(uniq))

    sst = bytearray(struct.pack("<II", len(words), len(uniq)))
    for i, s in enumerate(uniq):
        wide = i % 2 == 1 or any(ord(c) > 255 for c in s)
        if wide:
            sst += struct.pack("<HB", len(s), 0x01) + s.encode("utf-16-le")
        else:
            sst += struct.pack("<HB", len(s), 0x00) + s.encode("latin-1")

    sheet = bytearray(_bof(_DT_SHEET))
    for i, w in enumerate(words):
        sheet += _rec(_R_LABELSST, struct.pack("<HHHI", i, 0, 15, uniq[w]))
        sheet += _rec(
            _R_NUMBER, struct.pack("<HHH", i, 1, 15) + struct.pack("<d", i + 1.0)
        )
    sheet += _rec(_R_EOF, b"")

    name = "Sheet1".encode("latin-1")
    bsheet = _rec(
        _R_BOUNDSHEET,
        struct.pack("<IBB", 0, 0, 0) + bytes([len(name), 0]) + name,
    )
    globals_sub = bytearray(_bof(_DT_GLOBALS))
    bsheet_pos = len(globals_sub)
    globals_sub += bsheet
    globals_sub += _rec(_R_SST, bytes(sst))
    globals_sub += _rec(_R_EOF, b"")
    # patch BoundSheet8.lbPlyPos = absolute offset of the sheet's BOF
    struct.pack_into("<I", globals_sub, bsheet_pos + 4, len(globals_sub))

    return build_cfb([("Workbook", bytes(globals_sub) + bytes(sheet))])


def _decode_rk(rk: int) -> float:
    """[MS-XLS] RkNumber: bit0 = ×1/100, bit1 = 30-bit int vs truncated
    f64 high bits."""
    if rk & 0x02:
        v = rk >> 2
        if rk & 0x80000000:
            v -= 1 << 30
        num = float(v)
    else:
        num = struct.unpack(
            "<d", b"\x00\x00\x00\x00" + struct.pack("<I", rk & 0xFFFFFFFC)
        )[0]
    return num / 100.0 if rk & 0x01 else num


def _records(stream: bytes, pos: int) -> Iterator[tuple[int, bytes]]:
    while pos + 4 <= len(stream):
        rid, rlen = struct.unpack_from("<HH", stream, pos)
        payload = stream[pos + 4 : pos + 4 + rlen]
        if len(payload) != rlen:
            raise XlsParseError("truncated BIFF record")
        pos += 4 + rlen
        yield rid, payload


def _parse_sst(payload: bytes) -> list[str]:
    cst_unique = struct.unpack_from("<I", payload, 4)[0]
    out: list[str] = []
    off = 8
    for _ in range(cst_unique):
        if off + 3 > len(payload):
            raise XlsParseError("truncated SST")
        cch, fl = struct.unpack_from("<HB", payload, off)
        off += 3
        if fl & 0x0C:
            raise XlsParseError("rich-text/ext SST strings unsupported")
        if fl & 0x01:
            out.append(payload[off : off + 2 * cch].decode("utf-16-le"))
            off += 2 * cch
        else:
            out.append(payload[off : off + cch].decode("latin-1"))
            off += cch
    return out


def extract_xls(data: bytes) -> dict[str, object]:
    """Full BIFF8 walk: Workbook stream → globals (SST, BoundSheet8) →
    first sheet's cell records. Returns {"values" (row-major label
    cells), "text" (space-joined), "n_cells", "n_shared",
    "sum_numbers"}."""
    _, read_stream = _read_cfb(data)
    try:
        wb = read_stream("Workbook")
    except CfbParseError:
        raise XlsParseError(
            "no Workbook stream (BIFF8 required; BIFF5 'Book' unsupported)"
        ) from None

    shared: list[str] = []
    sheet_offsets: list[int] = []
    first = True
    for rid, payload in _records(wb, 0):
        if first:
            if rid != _R_BOF or struct.unpack_from("<H", payload, 0)[0] != _BIFF8:
                raise XlsParseError("not a BIFF8 workbook")
            if struct.unpack_from("<H", payload, 2)[0] != _DT_GLOBALS:
                raise XlsParseError("workbook globals substream missing")
            first = False
            continue
        if rid == _R_SST:
            shared = _parse_sst(payload)
        elif rid == _R_BOUNDSHEET:
            sheet_offsets.append(struct.unpack_from("<I", payload, 0)[0])
        elif rid == _R_EOF:
            break
    if not sheet_offsets:
        raise XlsParseError("no BoundSheet8 records")

    labels: dict[tuple[int, int], str] = {}
    numbers: dict[tuple[int, int], float] = {}
    sheet_first = True
    for rid, payload in _records(wb, sheet_offsets[0]):
        if sheet_first:
            if rid != _R_BOF or struct.unpack_from("<H", payload, 2)[0] != _DT_SHEET:
                raise XlsParseError("BoundSheet8 offset is not a sheet BOF")
            sheet_first = False
            continue
        if rid == _R_LABELSST:
            rw, col, _, isst = struct.unpack("<HHHI", payload)
            if isst >= len(shared):
                raise XlsParseError(f"SST index {isst} out of range")
            labels[(rw, col)] = shared[isst]
        elif rid == _R_NUMBER:
            rw, col, _ = struct.unpack_from("<HHH", payload, 0)
            numbers[(rw, col)] = struct.unpack_from("<d", payload, 6)[0]
        elif rid == _R_RK:
            rw, col, _, rk = struct.unpack("<HHHI", payload)
            numbers[(rw, col)] = _decode_rk(rk)
        elif rid == _R_EOF:
            break

    values = [labels[k] for k in sorted(labels)]
    return {
        "values": values,
        "text": " ".join(values),
        "n_cells": len(labels),
        "n_shared": len(shared),
        "sum_numbers": float(sum(numbers.values())),
    }


XLS_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("n_cells", IntegerType()),
        StructField("n_shared", IntegerType()),
        StructField("sheet_text", StringType()),
        StructField("sum_numbers", DoubleType()),
        StructField("n_chars", LongType()),
    ]
)


def e4_xls_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BYTE-REAL Excel 97 extraction over genuine on-disk compound
    files (fixture ids 352-383): CFB walk → Workbook BIFF records →
    SST/BoundSheet8 → LABELSST + NUMBER cell scan, per file in one
    Arrow-batched stage. Column A's recovered word sequence is pinned
    exactly (n_cells = word count, n_shared = distinct words — the
    dedup property the SST exists for), and column B's NUMBER doubles
    (the 1-based row index) pin sum_numbers = n(n+1)/2."""
    from .docparse import _fixture_docs, text_stage

    docs = _fixture_docs(spark, sf_dir, "doc_*.xls")
    return text_stage(docs, extract_xls, XLS_SCHEMA, "sheet_text")


QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "e4_xls_cells": e4_xls_cells,
}

ORACLES: dict[str, str] = {
    "e4_xls_cells": """
        SELECT doc_id,
               CAST(len(string_split(text, ' ')) AS INT) AS n_cells,
               CAST(len(list_distinct(string_split(text, ' '))) AS INT)
                   AS n_shared,
               text AS sheet_text,
               CAST(len(string_split(text, ' '))
                    * (len(string_split(text, ' ')) + 1) AS DOUBLE) / 2
                   AS sum_numbers,
               CAST(length(text) AS BIGINT) AS n_chars
        FROM documents
        WHERE doc_id >= 352 AND doc_id < 384
    """,
}
