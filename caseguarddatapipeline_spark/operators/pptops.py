"""Byte-real PowerPoint 97 ``.ppt`` text extraction (round 13 — the
last admitted text-bearing extension without a real parser).

``.ppt`` is in the reference's admitted-extension set and its "low"
processing-priority class alongside ``.pptx``
(docproc/format_config.py:16-21, :44-53); the reference delegates to
an external parser — here the binary format is walked for real from
the public [MS-PPT] spec. A PowerPoint 97 file is an OLE2 compound
file (cfbops' [MS-CFB] walker) with a ``Current User`` stream (the
CurrentUserAtom pointing at the live user edit) and a ``PowerPoint
Document`` stream holding a TREE of length-prefixed records — 8-byte
headers (recVer/recInstance, recType, recLen), where recVer 0xF marks
a container whose payload is nested records. Slide text lives in
TextCharsAtom (UTF-16LE) and TextBytesAtom (8-bit cp1252) records
inside the SlideListWithText container of the DocumentContainer, each
announced by a TextHeaderAtom — the storage duality every real reader
(catppt, LibreOffice) must honour per atom.

``build_ppt`` writes the real thing: CurrentUserAtom with the
documented header token, UserEditAtom, a DocumentContainer holding a
DocumentAtom and a SlideListWithText whose text is split into
alternating TextBytesAtom/TextCharsAtom chunks (an atom that can't
encode cp1252 is forced to UTF-16). ``extract_ppt`` walks the record
tree recursively — container recursion by recVer, bounds-checked
lengths — and concatenates the text atoms in document order.

Round-trip is exact, so ``e4_ppt_text`` pins the recovered text and
the atom structure against the documents table. Scale: a
``docparse.PARSERS`` entry run by ``docparse.text_stage`` — one file =
one binaryFile row = one parser call, partition-local, no shuffle.
"""

from __future__ import annotations

import struct
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from .cfbops import CfbParseError, _read_cfb, build_cfb

_ATOM_CP = 120  # fixture atom size in characters (forces >1 atom)

_RT_DOCUMENT = 0x03E8
_RT_DOCUMENT_ATOM = 0x03E9
_RT_SLIDE_PERSIST_ATOM = 0x03F3
_RT_SLIDE_LIST_WITH_TEXT = 0x0FF0
_RT_USER_EDIT_ATOM = 0x0FF5
_RT_CURRENT_USER_ATOM = 0x0FF6
_RT_TEXT_HEADER_ATOM = 0x0F9F
_RT_TEXT_CHARS_ATOM = 0x0FA0
_RT_TEXT_BYTES_ATOM = 0x0FA8
_CURRENT_USER_TOKEN = 0xE391C05F  # plaintext document ([MS-PPT] §2.3.2)
_CONTAINER_VER = 0xF


class PptParseError(ValueError):
    pass


def _rec(rtype: int, payload: bytes, *, ver: int = 0, instance: int = 0) -> bytes:
    return struct.pack("<HHI", (instance << 4) | ver, rtype, len(payload)) + payload


def build_ppt(text: str) -> bytes:
    """A complete PowerPoint 97 binary file whose slide text is
    ``text`` (newlines as the \\r line breaks PPT uses): Current User
    stream + PowerPoint Document stream with UserEditAtom and a
    DocumentContainer/SlideListWithText carrying the text as
    alternating TextBytesAtom (cp1252) / TextCharsAtom (UTF-16)
    records, each announced by a TextHeaderAtom."""
    full = text.replace("\n", "\r")
    chunks = [full[i : i + _ATOM_CP] for i in range(0, len(full), _ATOM_CP)]

    slw = bytearray()
    slw += _rec(
        _RT_SLIDE_PERSIST_ATOM,
        struct.pack("<IIiIi", 2, 0, len(chunks), 256, 0),
    )
    for i, chunk in enumerate(chunks):
        # TextHeaderAtom: text type 0 = title-ish body ([MS-PPT] TextTypeEnum)
        slw += _rec(_RT_TEXT_HEADER_ATOM, struct.pack("<I", 0))
        as_bytes = i % 2 == 0
        if as_bytes:
            try:
                enc = chunk.encode("cp1252")
            except UnicodeEncodeError:
                as_bytes = False
        if as_bytes:
            slw += _rec(_RT_TEXT_BYTES_ATOM, enc)
        else:
            slw += _rec(_RT_TEXT_CHARS_ATOM, chunk.encode("utf-16-le"))

    doc = bytearray()
    # DocumentAtom: slide/notes sizes, first-slide ref, flags (40 bytes)
    doc += _rec(
        _RT_DOCUMENT_ATOM,
        struct.pack("<iiiiiiIHBBBB", 5760, 4320, 5760, 4320, 1, 1, 0, 256, 0, 1, 0, 0),
        ver=1,
    )
    doc += _rec(_RT_SLIDE_LIST_WITH_TEXT, bytes(slw), ver=_CONTAINER_VER)
    document_container = _rec(_RT_DOCUMENT, bytes(doc), ver=_CONTAINER_VER)

    # UserEditAtom before the document container; its offsets are the
    # persist machinery real multi-edit files use — one edit here
    user_edit = _rec(
        _RT_USER_EDIT_ATOM,
        struct.pack("<IHBBIIIIHH", 256, 0x03F4, 3, 0, 0, 0, 1, 257, 0, 0),
    )
    pp_stream = user_edit + document_container

    user_name = b"caseguard"
    current_user = _rec(
        _RT_CURRENT_USER_ATOM,
        struct.pack(
            "<IIIHHBB",
            0x14,  # size of the fixed part
            _CURRENT_USER_TOKEN,
            0,  # offsetToCurrentEdit (UserEditAtom at stream start)
            len(user_name),
            0x03F4,  # docFileVersion
            3, 0,  # major/minor
        )
        + b"\x00\x00"  # unused
        + user_name
        + struct.pack("<I", 0x00000008),  # relVersion
    )

    return build_cfb(
        [
            ("Current User", current_user),
            ("PowerPoint Document", pp_stream),
        ]
    )


def _walk_records(data: bytes, pos: int, end: int, out: list, depth: int = 0):
    """Recursive [MS-PPT] record-tree walk: (ver, type, payload) per
    atom, recursing into recVer==0xF containers, bounds-checked."""
    if depth > 16:
        raise PptParseError("record tree too deep")
    while pos + 8 <= end:
        vi, rtype, rlen = struct.unpack_from("<HHI", data, pos)
        body_start = pos + 8
        if body_start + rlen > end:
            raise PptParseError("record overruns its container")
        if vi & 0xF == _CONTAINER_VER:
            _walk_records(data, body_start, body_start + rlen, out, depth + 1)
        else:
            out.append((rtype, data[body_start : body_start + rlen]))
        pos = body_start + rlen
    if pos != end:
        raise PptParseError("trailing bytes after last record")


def extract_ppt(data: bytes) -> dict[str, object]:
    """Full [MS-PPT] text walk: CFB → Current User token check →
    PowerPoint Document record tree → TextCharsAtom/TextBytesAtom in
    document order. Returns {"text" (\\r line breaks as newlines),
    "n_atoms", "n_unicode"}."""
    _, read_stream = _read_cfb(data)
    try:
        cu = read_stream("Current User")
        pp = read_stream("PowerPoint Document")
    except CfbParseError:
        raise PptParseError("not a PowerPoint 97 file (streams missing)") from None
    if len(cu) < 16 or struct.unpack_from("<H", cu, 2)[0] != _RT_CURRENT_USER_ATOM:
        raise PptParseError("malformed Current User stream")
    token = struct.unpack_from("<I", cu, 12)[0]
    if token != _CURRENT_USER_TOKEN:
        raise PptParseError("encrypted PowerPoint document unsupported")

    atoms: list[tuple[int, bytes]] = []
    _walk_records(pp, 0, len(pp), atoms)
    if not any(t == _RT_DOCUMENT_ATOM for t, _ in atoms):
        raise PptParseError("no DocumentAtom in PowerPoint Document stream")

    parts: list[str] = []
    n_atoms = 0
    n_unicode = 0
    for rtype, payload in atoms:
        if rtype == _RT_TEXT_CHARS_ATOM:
            n_atoms += 1
            n_unicode += 1
            parts.append(payload.decode("utf-16-le"))
        elif rtype == _RT_TEXT_BYTES_ATOM:
            n_atoms += 1
            parts.append(payload.decode("cp1252"))
    return {
        "text": "".join(parts).replace("\r", "\n"),
        "n_atoms": n_atoms,
        "n_unicode": n_unicode,
    }


PPT_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("n_atoms", IntegerType()),
        StructField("n_unicode", IntegerType()),
        StructField("slide_text", StringType()),
        StructField("n_chars", LongType()),
    ]
)


def e4_ppt_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BYTE-REAL PowerPoint 97 extraction over genuine on-disk compound
    files (fixture ids 384-415): CFB walk → Current User token →
    PowerPoint Document record-tree recursion → text atoms in document
    order, per file in one Arrow-batched stage. The text round-trips
    exactly; the atom structure is pinned too — n_atoms =
    ceil(n_chars/120) for the fixture's 120-char atoms, n_unicode =
    every odd atom (the fixture alternates storage, ASCII text never
    forces a flip)."""
    from .docparse import _fixture_docs, text_stage

    docs = _fixture_docs(spark, sf_dir, "doc_*.ppt")
    return text_stage(docs, extract_ppt, PPT_SCHEMA, "slide_text")


QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "e4_ppt_text": e4_ppt_text,
}

ORACLES: dict[str, str] = {
    "e4_ppt_text": """
        SELECT doc_id,
               CAST(ceil(length(text) / 120.0) AS INT) AS n_atoms,
               CAST(floor(ceil(length(text) / 120.0) / 2) AS INT)
                   AS n_unicode,
               text AS slide_text,
               CAST(length(text) AS BIGINT) AS n_chars
        FROM documents
        WHERE doc_id >= 384 AND doc_id < 416
    """,
}
