"""Byte-real XLSX cell extraction (round 12 — the reference's "low"
priority class made real).

``.xls/.xlsx`` sit in the reference's admitted-extension set and its
"low" processing-priority class (docproc/format_config.py:16-19,
:44-53). SpreadsheetML (ECMA-376) is the same OPC/ZIP container DOCX
uses, with values split across parts: ``xl/worksheets/sheet1.xml``
holds cells that reference ``xl/sharedStrings.xml`` by index (the
dedup layer every real workbook carries), plus inline strings and raw
numbers. ``build_xlsx`` writes a complete workbook — content types,
package + workbook relationships, workbook, shared strings, one sheet
with the document's words as a sharedString-referenced column —
reusing docxops' ZIP writer (real deflate entries, correct CRCs;
CPython's zipfile validates the archives in the tests).
``extract_xlsx`` walks it back: shared-string table → sheet cell scan
(t="s" lookup, t="inlineStr", numeric) → row-major values.

Round-trip is exact, so ``e4_xlsx_cells`` pins every recovered word
against the documents table. Scale: identical to the PDF/DOCX path —
a ``docparse.PARSERS`` entry run by ``docparse.text_stage``: one file =
one binaryFile row = one parser call, partition-local, no shuffle.
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

from .docxops import DocxParseError, _xml_escape, _xml_unescape, _zip, _zip_member

_CONTENT_TYPES = (
    '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
    '<Types xmlns="http://schemas.openxmlformats.org/package/2006/'
    'content-types">'
    '<Default Extension="rels" ContentType="application/vnd.'
    'openxmlformats-package.relationships+xml"/>'
    '<Default Extension="xml" ContentType="application/xml"/>'
    '<Override PartName="/xl/workbook.xml" ContentType="application/vnd.'
    'openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>'
    '<Override PartName="/xl/worksheets/sheet1.xml" ContentType='
    '"application/vnd.openxmlformats-officedocument.spreadsheetml.'
    'worksheet+xml"/>'
    '<Override PartName="/xl/sharedStrings.xml" ContentType="application/'
    'vnd.openxmlformats-officedocument.spreadsheetml.sharedStrings+xml"/>'
    "</Types>"
)
_RELS = (
    '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
    '<Relationships xmlns="http://schemas.openxmlformats.org/package/'
    '2006/relationships">'
    '<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/'
    'officeDocument/2006/relationships/officeDocument" '
    'Target="xl/workbook.xml"/></Relationships>'
)
_WB_RELS = (
    '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
    '<Relationships xmlns="http://schemas.openxmlformats.org/package/'
    '2006/relationships">'
    '<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/'
    'officeDocument/2006/relationships/worksheet" '
    'Target="worksheets/sheet1.xml"/>'
    '<Relationship Id="rId2" Type="http://schemas.openxmlformats.org/'
    'officeDocument/2006/relationships/sharedStrings" '
    'Target="sharedStrings.xml"/></Relationships>'
)
_S_NS = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"
_WORKBOOK = (
    '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
    f'<workbook xmlns="{_S_NS}"><sheets>'
    '<sheet name="Sheet1" sheetId="1" r:id="rId1" xmlns:r='
    '"http://schemas.openxmlformats.org/officeDocument/2006/'
    'relationships"/></sheets></workbook>'
)


def build_xlsx(text: str) -> bytes:
    """A complete minimal workbook whose column A holds the text's
    words, one per row, as SHARED-STRING references (the storage every
    real workbook uses — distinct strings stored once, cells carry
    indices). Extraction round-trips the word sequence exactly."""
    words = text.split(" ") if text else []
    uniq: dict[str, int] = {}
    for w in words:
        uniq.setdefault(w, len(uniq))
    sst = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        f'<sst xmlns="{_S_NS}" count="{len(words)}" '
        f'uniqueCount="{len(uniq)}">'
        + "".join(
            f'<si><t xml:space="preserve">{_xml_escape(s)}</t></si>'
            for s in uniq
        )
        + "</sst>"
    )
    rows = "".join(
        f'<row r="{i + 1}"><c r="A{i + 1}" t="s"><v>{uniq[w]}</v></c></row>'
        for i, w in enumerate(words)
    )
    sheet = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        f'<worksheet xmlns="{_S_NS}"><sheetData>{rows}</sheetData>'
        "</worksheet>"
    )
    return _zip(
        [
            ("[Content_Types].xml", _CONTENT_TYPES.encode()),
            ("_rels/.rels", _RELS.encode()),
            ("xl/workbook.xml", _WORKBOOK.encode()),
            ("xl/_rels/workbook.xml.rels", _WB_RELS.encode()),
            ("xl/sharedStrings.xml", sst.encode()),
            ("xl/worksheets/sheet1.xml", sheet.encode()),
        ]
    )


def extract_xlsx(data: bytes) -> dict[str, object]:
    """Full workbook walk: sheet1 cell scan with shared-string (t="s"),
    inline-string (t="inlineStr") and numeric cells resolved. Returns
    {"values": row-major cell strings, "text": space-joined,
    "n_cells", "n_shared"}."""
    try:
        sst_xml = _zip_member(data, "xl/sharedStrings.xml").decode("utf-8")
        shared = [
            _xml_unescape(m.group(1) or "")
            for m in re.finditer(
                r"<si>(?:<r>.*?</r>)*?<t(?:\s[^>]*)?>(.*?)</t></si>|<si><t(?:\s[^>]*)?/></si>",
                sst_xml,
                re.DOTALL,
            )
        ]
    except DocxParseError:
        shared = []
    sheet = _zip_member(data, "xl/worksheets/sheet1.xml").decode("utf-8")
    values: list[str] = []
    for cm in re.finditer(
        r'<c(?:\s+[^>]*?)?(?:\s+t="([^"]*)")?(?:\s+[^>]*)?(?:/>|>(.*?)</c>)',
        sheet,
        re.DOTALL,
    ):
        ctype, inner = cm.group(1) or "n", cm.group(2) or ""
        if ctype == "s":
            vm = re.search(r"<v>(\d+)</v>", inner)
            if vm is None:
                raise DocxParseError("shared-string cell without <v>")
            idx = int(vm.group(1))
            if idx >= len(shared):
                raise DocxParseError(f"shared-string index {idx} out of range")
            values.append(shared[idx])
        elif ctype == "inlineStr":
            tm = re.search(r"<t(?:\s[^>]*)?>(.*?)</t>", inner, re.DOTALL)
            values.append(_xml_unescape(tm.group(1)) if tm else "")
        else:  # numeric / formula-cached value
            vm = re.search(r"<v>(.*?)</v>", inner, re.DOTALL)
            if vm is not None:
                values.append(vm.group(1))
    return {
        "values": values,
        "text": " ".join(values),
        "n_cells": len(values),
        "n_shared": len(shared),
    }


XLSX_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("n_cells", IntegerType()),
        StructField("n_shared", IntegerType()),
        StructField("sheet_text", StringType()),
        StructField("n_chars", LongType()),
    ]
)


def e4_xlsx_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BYTE-REAL XLSX extraction over genuine on-disk workbooks
    (fixture ids 128-159): ZIP walk → shared-string table → sheet cell
    scan, per file inside one Arrow-batched mapInPandas stage. Column A
    holds the document's words as shared-string references, so the
    recovered sequence is pinned exactly: n_cells = the word count,
    n_shared = the DISTINCT word count (the dedup property shared
    strings exist for), sheet_text = the document text verbatim."""
    from .docparse import _fixture_docs, text_stage

    docs = _fixture_docs(spark, sf_dir, "doc_*.xlsx")
    return text_stage(docs, extract_xlsx, XLSX_SCHEMA, "sheet_text")


QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "e4_xlsx_cells": e4_xlsx_cells,
}

ORACLES: dict[str, str] = {
    "e4_xlsx_cells": """
        SELECT doc_id,
               CAST(len(string_split(text, ' ')) AS INT) AS n_cells,
               CAST(len(list_distinct(string_split(text, ' '))) AS INT)
                   AS n_shared,
               text AS sheet_text,
               CAST(length(text) AS BIGINT) AS n_chars
        FROM documents
        WHERE doc_id >= 128 AND doc_id < 160
    """,
}
