"""Round-13 parser edge cases (ADVICE.md items): indirect PDF /Length,
RTF \\uN fallback as an \\'hh escape, JPEG standalone markers + fill
bytes, ZIP64 rejection. Each was a silent-misparse or wrong-exception
path; these pin the documented error contract / correct skip."""

from __future__ import annotations

import numpy as np
import pytest

from caseguarddatapipeline_spark.operators.docxops import (
    DocxParseError,
    _zip_member,
    build_docx,
    extract_docx_text,
)
from caseguarddatapipeline_spark.operators.jpegops import (
    decode_jpeg,
    encode_flat_blocks,
)
from caseguarddatapipeline_spark.operators.pdfops import (
    PdfParseError,
    _stream_bytes,
)
from caseguarddatapipeline_spark.operators.rtfops import extract_rtf


def test_pdf_indirect_length_raises_not_misparses():
    # '/Length 10 0 R' used to backtrack-match length=1; it must raise
    # the documented PdfParseError, for compressed and plain streams.
    body = b"<< /Length 10 0 R >>\nstream\nBT ET xxxxx\nendstream"
    with pytest.raises(PdfParseError):
        _stream_bytes(body)
    body_flate = (
        b"<< /Length 10 0 R /Filter /FlateDecode >>\nstream\nZZZZZ\nendstream"
    )
    with pytest.raises(PdfParseError):
        _stream_bytes(body_flate)
    # direct lengths still parse
    assert _stream_bytes(b"<< /Length 5 >>\nstream\nABCDE\nendstream") == b"ABCDE"


def test_rtf_unicode_fallback_is_hex_escape_not_raw_bytes():
    # Word commonly writes the \uN fallback as a 4-byte \'hh escape;
    # \uc1 means "skip ONE fallback token", which must consume all 4
    # bytes of \'47, not just the backslash (leaking "47" as text).
    doc = b"{\\rtf1\\ansi \\uc1\\u915\\'47 after}"
    assert extract_rtf(doc)["text"].strip() == "Γ after"
    # plain-byte fallback (the fixtures' '?') still skips one byte
    doc2 = b"{\\rtf1\\ansi \\uc1\\u915? after}"
    assert extract_rtf(doc2)["text"].strip() == "Γ after"
    # \uc2: two fallback tokens, mixed escape + plain byte
    doc3 = b"{\\rtf1\\ansi \\uc2\\u915\\'47?after}"
    assert extract_rtf(doc3)["text"].strip() == "Γafter"


def test_jpeg_standalone_markers_and_fill_bytes():
    levels = np.asarray([[63, 191]], dtype=np.uint8)
    good = encode_flat_blocks(levels)
    w, h, nc, ref = decode_jpeg(good)
    # inject legal no-length markers + fill bytes right after SOI:
    # 0xFF fill, TEM (FF01), RST4 (FFD4) — T.81 allows all pre-SOS
    patched = good[:2] + b"\xff\xff\x01\xff\xd4" + good[2:]
    w2, h2, nc2, img = decode_jpeg(patched)
    assert (w2, h2, nc2) == (w, h, nc)
    assert np.array_equal(img, ref)


def test_zip64_sentinels_raise_docx_parse_error():
    doc = build_docx("hello")
    eocd = doc.rfind(b"PK\x05\x06")
    # n_entries = 0xFFFF sentinel
    z64 = doc[: eocd + 10] + b"\xff\xff\xff\xff" + doc[eocd + 14 :]
    with pytest.raises(DocxParseError, match="ZIP64"):
        _zip_member(z64, "word/document.xml")
    # cd_off = 0xFFFFFFFF sentinel
    z64b = doc[: eocd + 16] + b"\xff\xff\xff\xff" + doc[eocd + 20 :]
    with pytest.raises(DocxParseError, match="ZIP64"):
        _zip_member(z64b, "word/document.xml")
    # cd_off past EOF → bounds error, not struct.error
    bogus = doc[: eocd + 16] + (len(doc) + 100).to_bytes(4, "little") + doc[eocd + 20 :]
    with pytest.raises(DocxParseError):
        _zip_member(bogus, "word/document.xml")
    # untouched docx still round-trips
    assert extract_docx_text(doc)["text"] == "hello"
