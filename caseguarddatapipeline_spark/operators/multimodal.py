"""Multimodal columns (E4, SURVEY.md §2.10): binary payloads + typed
metadata + text + vectors in one table.

The reference treats documents as SOAP-fetched binary blobs uploaded to
object storage (caseguard/proclaim/soap_downloader.py:101-161,
caseguard/storage/spaces.py:74-266) with text extracted downstream
(docproc/format_config.py:147-230). Spark-first, a multimodal corpus is ONE
DataFrame: ``binary`` column + typed metadata columns + extracted text +
embedding array — written as parquet partitioned by modality/tenant, read
with full column pruning (a scan that only needs metadata never touches the
binary bytes).

Decode is BYTE-REAL for four formats (round 10): PPM (raw RGB), BMP
(bottom-up rows, BGR channels, 4-byte padding undone), PNG (stdlib-only
chunk walk with CRC validation, zlib inflate, all five per-row filters
defiltered), and WAV PCM (container parse + G.711 mu-law expansion pinned
against CPython's audioop) — each with tile/resize/frame statistics
queries whose exact SQL oracles recompute the fixture's deterministic
payloads. Only lossy codecs (JPEG/MP3-class) remain behind the
``decode_binary_stub`` header-preview seam, whose mapInPandas plumbing
(schema, batching, Arrow transfer) is production-shaped — swap in
PIL/ffmpeg in a real deployment.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..sources import load_table
from .docparse import PARSERS, _fixture_docs, sniff_text


def with_binary_payload(docs: DataFrame) -> DataFrame:
    """Attach the binary modality column: utf-8 payload bytes + MIME.

    Stands in for the SOAP download (soap_downloader.py:135 base64
    filedata); in production this column comes from
    ``spark.read.format("binaryFile")`` or the parquet binary column."""
    return docs.select(
        "doc_id",
        "lang",
        "source",
        "n_chars",
        F.encode(F.col("text"), "utf-8").alias("payload"),
        F.when((F.col("doc_id") % 3) == 0, "application/pdf")
        .when((F.col("doc_id") % 3) == 1, "image/png")
        .otherwise("text/plain")
        .alias("mime_type"),
    )


DECODED_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("mime_type", StringType()),
        StructField("n_bytes", LongType()),
        StructField("decoded_preview", StringType()),
        StructField("feature_dim", IntegerType()),
    ]
)


def _decode_one(b: bytes) -> str:
    """Magic-byte dispatch for the decode stub — REAL format signatures,
    deterministic outputs (no codec libraries needed for the header
    parse; a full decoder drops in per branch):

    - ``%PDF-``: strip the header line and the ``%%EOF`` trailer, preview
      the embedded body text (what a pdf text extractor returns).
    - PNG signature: parse the IHDR chunk's big-endian width/height —
      the dimensions a real decoder hands to patchification.
    - ``RIFF..WAVE``: parse the little-endian fmt sample rate and data
      chunk length — the frame arithmetic a real resampler starts from.
    - ``P6``: parse the PPM header's width/height (full pixel decode is
      ``_parse_ppm`` — this preview reports the dims a patchifier needs).
    - ``BM``: parse the BITMAPINFOHEADER width/height (full pixel decode
      incl. bottom-up flip and BGR swap is ``_parse_bmp``).
    - the admitted document containers (``docparse.PARSERS``: ZIP, OLE2,
      ``{\\rtf``, ``From: ``): the first accepting parser's text.
    - anything else: utf-8 text preview (the plain-text path).
    """
    import struct
    import zlib

    if b[:5] == b"%PDF-":
        # REAL extraction (round 12): xref walk + FlateDecode + text
        # operators (the registry's pdf parser). Legacy header-only
        # payloads (%PDF- line + raw body, no xref) fall back to the
        # body strip so mixed corpora keep decoding.
        try:
            return str(PARSERS["pdf"].extract(b)["text"])[:32]
        except Exception:
            body = b.split(b"\n", 1)[1] if b"\n" in b else b""
            body = body.removesuffix(b"\n%%EOF")
            return body[:32].decode("utf-8", errors="replace")
    # A magic prefix alone doesn't prove the format: arbitrary document
    # text routed through e4_decode_pipeline can start with "P6"/"BM"
    # (and a truncated binary can pass the signature but not the header).
    # Malformed-after-magic payloads fall through to the text preview
    # instead of crashing the whole mapInPandas stage (round-11 advice).
    try:
        if b[:8] == b"\x89PNG\r\n\x1a\n":
            w, h = struct.unpack(">II", b[16:24])
            return f"PNG {w}x{h}"
        if b[:4] == b"RIFF" and b[8:12] == b"WAVE" and b[12:16] == b"fmt ":
            rate = struct.unpack("<I", b[24:28])[0]
            n_samples = struct.unpack("<I", b[40:44])[0]
            return f"WAV {rate}Hz {n_samples}smp"
        if b[:2] == b"P6":
            w, h, _, _ = _ppm_header(b)
            return f"PPM {w}x{h}"
        if b[:2] == b"\xff\xd8":
            from .jpegops import decode_jpeg

            w, h, _, _ = decode_jpeg(b)
            return f"JPEG {w}x{h}"
        if b[:4] == b"II\x2a\x00":
            w, h, _ = _parse_tiff(b)
            return f"TIFF {w}x{h}"
        if any(b.startswith(p.magic) for p in PARSERS.values()):
            # the admitted document containers: ZIP (docx, xlsx, pptx) and
            # OLE2 (msg, doc, xls, ppt) families try each parser in turn
            return sniff_text(b)[:32]
        # "BM" + any 24 bytes of text parses to garbage dims — require
        # the DIB header-size field to name a known header variant
        # (CORE 12, OS22X 16/64, INFO 40, V2 52, V3 56, V4 108, V5 124)
        if b[:2] == b"BM" and len(b) >= 26 and struct.unpack(
            "<I", b[14:18]
        )[0] in (12, 16, 40, 52, 56, 64, 108, 124):
            w = struct.unpack("<i", b[18:22])[0]
            h = abs(struct.unpack("<i", b[22:26])[0])
            return f"BMP {w}x{h}"
    except (ValueError, struct.error, zlib.error, KeyError, IndexError):
        # zlib.error: a PK/JPEG-magic payload whose compressed member is
        # corrupt raises out of inflate, not the parser's own ValueError
        pass
    return b[:32].decode("utf-8", errors="replace")


def _ppm_header(b: bytes) -> tuple[int, int, int, int]:
    """Parse a binary-PPM (P6) header: magic, whitespace-separated width
    height maxval, ONE whitespace byte, then raw RGB triplets (the
    Netpbm spec). Returns (width, height, maxval, pixel_data_offset)."""
    import re

    m = re.match(rb"P6\s+(\d+)\s+(\d+)\s+(\d+)[ \t\r\n]", b)
    if m is None:
        raise ValueError("not a binary PPM (P6) header")
    return int(m.group(1)), int(m.group(2)), int(m.group(3)), m.end()


def _parse_ppm(b: bytes):
    """BYTE-REAL PPM (P6) decode — no codec library needed, the format is
    raw RGB: header parse, then the pixel payload reshaped to
    (height, width*3) row-major top-down RGB uint8. Returns (w, h, arr).
    The reference extracts real content at this seam
    (docproc/format_config.py:147-230); this is the engine's native
    decoder for the uncompressed raster path."""
    import numpy as np

    w, h, maxval, off = _ppm_header(b)
    if maxval != 255:
        raise ValueError(f"unsupported PPM maxval {maxval}")
    need = w * h * 3
    arr = np.frombuffer(b, dtype=np.uint8, count=need, offset=off)
    return w, h, arr.reshape(h, w * 3)


def _build_tiff(px) -> bytes:
    """A complete little-endian baseline TIFF (round 12): header, one
    IFD with the nine baseline tags a reader needs (dims, 8-bit RGB,
    Compression=1 none, Photometric=2 RGB, single strip), the
    BitsPerSample triple at an offset (3 SHORTs don't fit the 4-byte
    value slot — the quirk every real TIFF writer handles), then the
    raw strip. ``px`` is the (h, w, 3) uint8 logical image."""
    import struct

    h, w = px.shape[0], px.shape[1]
    n_entries = 9
    ifd_off = 8
    bps_off = ifd_off + 2 + n_entries * 12 + 4  # after entry table + next-IFD
    strip_off = bps_off + 6

    def entry(tag: int, typ: int, count: int, value: int) -> bytes:
        return struct.pack("<HHII", tag, typ, count, value)

    ifd = struct.pack("<H", n_entries)
    ifd += entry(256, 4, 1, w)  # ImageWidth LONG
    ifd += entry(257, 4, 1, h)  # ImageLength LONG
    ifd += entry(258, 3, 3, bps_off)  # BitsPerSample 3x SHORT at offset
    ifd += entry(259, 3, 1, 1)  # Compression: none
    ifd += entry(262, 3, 1, 2)  # Photometric: RGB
    ifd += entry(273, 4, 1, strip_off)  # StripOffsets
    ifd += entry(277, 3, 1, 3)  # SamplesPerPixel
    ifd += entry(278, 4, 1, h)  # RowsPerStrip: single strip
    ifd += entry(279, 4, 1, w * h * 3)  # StripByteCounts
    ifd += struct.pack("<I", 0)  # next IFD
    return (
        b"II\x2a\x00" + struct.pack("<I", ifd_off)
        + ifd + struct.pack("<HHH", 8, 8, 8) + px.tobytes()
    )


def _parse_tiff(b: bytes):
    """BYTE-REAL baseline TIFF decode (II little-endian, uncompressed
    8-bit RGB or grayscale, multi-strip): header → IFD entry walk
    (inline vs offset values resolved per type size — the classic TIFF
    reader quirk), strip gather in row order, grayscale replicated to
    RGB. Returns (w, h, arr) in the shared (h, w*3) top-down layout."""
    import struct

    import numpy as np

    if b[:4] != b"II\x2a\x00":
        raise ValueError("not a little-endian baseline TIFF")
    ifd_off = struct.unpack("<I", b[4:8])[0]
    n = struct.unpack("<H", b[ifd_off : ifd_off + 2])[0]
    _TYPE_SIZE = {1: 1, 2: 1, 3: 2, 4: 4}
    tags: dict[int, list[int]] = {}
    for k in range(n):
        e = ifd_off + 2 + k * 12
        tag, typ, count = struct.unpack("<HHI", b[e : e + 8])
        if typ not in _TYPE_SIZE:
            continue  # RATIONAL etc. — not needed by the baseline tags
        size = _TYPE_SIZE[typ] * count
        off = e + 8 if size <= 4 else struct.unpack("<I", b[e + 8 : e + 12])[0]
        fmt = {1: "B", 2: "B", 3: "H", 4: "I"}[typ]
        tags[tag] = list(
            struct.unpack(f"<{count}{fmt}", b[off : off + size])
        )
    try:
        w, h = tags[256][0], tags[257][0]
        comp = tags.get(259, [1])[0]
        photo = tags[262][0]
        spp = tags.get(277, [1])[0]
        offsets = tags[273]
        counts = tags[279]
    except KeyError as e:
        raise ValueError(f"TIFF missing baseline tag {e}")
    if comp != 1:
        raise ValueError(f"unsupported TIFF compression {comp}")
    if photo not in (0, 1, 2) or spp not in (1, 3):
        raise ValueError("only 8-bit gray/RGB TIFF supported")
    if any(v != 8 for v in tags.get(258, [8])):
        raise ValueError("only 8 bits per sample supported")
    raw = b"".join(b[o : o + c] for o, c in zip(offsets, counts))
    arr = np.frombuffer(raw, dtype=np.uint8, count=w * h * spp)
    if spp == 1:
        if photo == 0:  # WhiteIsZero inverts
            arr = 255 - arr
        arr = np.repeat(arr.reshape(h, w, 1), 3, axis=2)
        return w, h, arr.reshape(h, w * 3)
    return w, h, arr.reshape(h, w * 3)


def _parse_bmp(b: bytes):
    """BYTE-REAL BMP decode (24-bit uncompressed): parse the file header's
    pixel-data offset and the BITMAPINFOHEADER dims, undo the two storage
    quirks a real decoder must handle — rows are stored BOTTOM-UP (when
    height > 0) and padded to 4-byte boundaries, channels are BGR — and
    return (w, h, arr) with arr the LOGICAL (height, width*3) row-major
    top-down RGB uint8 image, byte-identical to what ``_parse_ppm``
    returns for the same logical image (tests/test_round10_ops.py pins
    both the equality and that skipping the flip/swap would differ)."""
    import struct

    import numpy as np

    if b[:2] != b"BM":
        raise ValueError("not a BMP file")
    data_off = struct.unpack("<I", b[10:14])[0]
    w = struct.unpack("<i", b[18:22])[0]
    h_raw = struct.unpack("<i", b[22:26])[0]
    planes, bpp = struct.unpack("<HH", b[26:30])
    compression = struct.unpack("<I", b[30:34])[0]
    if planes != 1 or bpp != 24 or compression != 0:
        raise ValueError("only 24-bit uncompressed BMP is supported")
    h, bottom_up = abs(h_raw), h_raw > 0
    stride = (w * 3 + 3) // 4 * 4  # rows pad to 4-byte boundaries
    rows = np.frombuffer(
        b, dtype=np.uint8, count=stride * h, offset=data_off
    ).reshape(h, stride)[:, : w * 3]
    if bottom_up:
        rows = rows[::-1]
    rgb = rows.reshape(h, w, 3)[:, :, ::-1]  # stored BGR → logical RGB
    return w, h, np.ascontiguousarray(rgb.reshape(h, w * 3))


def _png_filter_rows(px, h: int, w: int):
    """Apply the PNG per-row filter transform the spec's encoder side
    defines (filter type = row % 5, cycling through None/Sub/Up/Average/
    Paeth) to the logical RGB image — so the fixture's IDAT payload is a
    REAL filtered PNG byte stream and the decoder must genuinely undo
    every filter type to recover the pixels."""
    import numpy as np

    raw = px.reshape(h, w * 3).astype(np.int64)
    out = np.empty((h, 1 + w * 3), dtype=np.uint8)
    for y in range(h):
        ftype = y % 5
        cur = raw[y]
        left = np.concatenate([[0, 0, 0], cur[:-3]])
        prior = raw[y - 1] if y > 0 else np.zeros_like(cur)
        pl = np.concatenate([[0, 0, 0], prior[:-3]])
        if ftype == 0:
            f = cur
        elif ftype == 1:
            f = cur - left
        elif ftype == 2:
            f = cur - prior
        elif ftype == 3:
            f = cur - (left + prior) // 2
        else:  # Paeth
            p = left + prior - pl
            pa, pb, pc = abs(p - left), abs(p - prior), abs(p - pl)
            pred = np.where(
                (pa <= pb) & (pa <= pc), left, np.where(pb <= pc, prior, pl)
            )
            f = cur - pred
        out[y, 0] = ftype
        out[y, 1:] = (f % 256).astype(np.uint8)
    return out.tobytes()


def _zlib_stored(data: bytes) -> bytes:
    """A zlib stream of STORED (uncompressed) deflate blocks, constructed
    byte-by-byte: 2-byte header, per-≤65535-byte block a 5-byte stored
    header, then the 4-byte adler32 — decompressible by any inflater and
    fully deterministic, so the fixture PNG's on-disk size stays an
    exact integer formula the SQL oracle can state (unlike real deflate,
    whose compressed size is data- and library-dependent)."""
    import struct
    import zlib

    out = [b"\x78\x01"]
    n = len(data)
    pos = 0
    while True:
        chunk = data[pos : pos + 65535]
        pos += len(chunk)
        final = 1 if pos >= n else 0
        out.append(
            struct.pack("<BHH", final, len(chunk), 0xFFFF ^ len(chunk))
            + chunk
        )
        if final:
            break
    out.append(struct.pack(">I", zlib.adler32(data)))
    return b"".join(out)


def _png_chunk(ctype: bytes, payload: bytes) -> bytes:
    import struct
    import zlib

    return (
        struct.pack(">I", len(payload))
        + ctype
        + payload
        + struct.pack(">I", zlib.crc32(ctype + payload))
    )


def _parse_png(b: bytes):
    """BYTE-REAL PNG decode for 8-bit truecolor non-interlaced images,
    using only the stdlib: walk the chunk stream (validating each CRC),
    inflate the concatenated IDAT payload with zlib, and undo the
    per-row filter (all five types: None/Sub/Up/Average/Paeth) exactly
    as the spec's decoder side requires. Returns (w, h, arr) with arr
    the logical (height, width*3) top-down RGB — byte-identical to what
    ``_parse_ppm``/``_parse_bmp`` return for the same logical image."""
    import struct
    import zlib

    import numpy as np

    if b[:8] != b"\x89PNG\r\n\x1a\n":
        raise ValueError("not a PNG file")
    pos, w = 8, None
    idat = []
    while pos < len(b):
        (length,) = struct.unpack(">I", b[pos : pos + 4])
        ctype = b[pos + 4 : pos + 8]
        payload = b[pos + 8 : pos + 8 + length]
        (crc,) = struct.unpack(
            ">I", b[pos + 8 + length : pos + 12 + length]
        )
        if crc != zlib.crc32(ctype + payload):
            raise ValueError(f"bad CRC in {ctype!r} chunk")
        if ctype == b"IHDR":
            w, h, depth, ctype_code, comp, filt, interlace = struct.unpack(
                ">IIBBBBB", payload
            )
            if (depth, ctype_code, comp, filt, interlace) != (8, 2, 0, 0, 0):
                raise ValueError(
                    "only 8-bit truecolor non-interlaced PNG is supported"
                )
        elif ctype == b"IDAT":
            idat.append(payload)
        elif ctype == b"IEND":
            break
        pos += 12 + length
    if w is None or not idat:
        raise ValueError("missing IHDR or IDAT")
    stream = zlib.decompress(b"".join(idat))
    n = w * 3
    stride = 1 + n
    if len(stream) != h * stride:
        raise ValueError("PNG pixel stream length mismatch")
    # Defilter strategy — MEASURED, round 11, on the 160x128 fixture
    # image (all five filter types cycling):
    #   per-byte numpy indexing (round 10)   ~35 ms
    #   3-wide numpy vectors per pixel       ~35 ms (advice suggestion:
    #     numpy's per-call overhead at 3-element operands eats the
    #     3x iteration saving)
    #   plain Python ints over lists          ~4 ms  <- shipped
    # The Average/Paeth recurrences are serial by spec (each byte needs
    # the decoded left neighbor), so the constant factor per iteration
    # is everything; CPython int ops beat tiny-ndarray dispatch ~10x.
    out = bytearray(h * n)
    prior = [0] * n
    for y in range(h):
        rowoff = y * stride
        ftype = stream[rowoff]
        f = stream[rowoff + 1 : rowoff + stride]
        if ftype == 0:
            cur = list(f)
        elif ftype == 2:  # Up
            cur = [(a + b_) & 255 for a, b_ in zip(f, prior)]
        elif ftype == 1:  # Sub
            cur = list(f)
            for i in range(3, n):
                cur[i] = (cur[i] + cur[i - 3]) & 255
        elif ftype == 3:  # Average
            cur = [0] * n
            for i in range(n):
                left = cur[i - 3] if i >= 3 else 0
                cur[i] = (f[i] + (left + prior[i]) // 2) & 255
        elif ftype == 4:  # Paeth
            cur = [0] * n
            for i in range(n):
                left = cur[i - 3] if i >= 3 else 0
                up = prior[i]
                ul = prior[i - 3] if i >= 3 else 0
                p = left + up - ul
                pa = p - left if p >= left else left - p
                pb = p - up if p >= up else up - p
                pc = p - ul if p >= ul else ul - p
                pred = (
                    left
                    if pa <= pb and pa <= pc
                    else (up if pb <= pc else ul)
                )
                cur[i] = (f[i] + pred) & 255
        else:
            raise ValueError(f"unknown PNG filter type {ftype}")
        out[y * n : (y + 1) * n] = cur
        prior = cur
    return w, h, np.frombuffer(bytes(out), dtype=np.uint8).reshape(h, n)


def _parse_wav_pcm(b: bytes):
    """BYTE-REAL WAV decode for the canonical PCM layout the fixture (and
    e4_audio_chunks' framing constants) use: RIFF/WAVE with a 16-byte fmt
    chunk (PCM, mono, 8 kHz, 8-bit) followed by the data chunk. Returns
    (sample_rate, samples) with samples a uint8 numpy array — the actual
    PCM payload, not a header field."""
    import struct

    import numpy as np

    if b[:4] != b"RIFF" or b[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE file")
    fmt_size, audio_fmt, channels, rate = struct.unpack("<IHHI", b[16:28])
    bits = struct.unpack("<H", b[34:36])[0]
    if fmt_size != 16 or audio_fmt != 1 or channels != 1 or bits != 8:
        raise ValueError("only canonical 8-bit mono PCM WAV is supported")
    if b[36:40] != b"data":
        raise ValueError("expected the data chunk at offset 36")
    n = struct.unpack("<I", b[40:44])[0]
    return rate, np.frombuffer(b, dtype=np.uint8, count=n, offset=44)


def decode_binary_stub(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas decode stub: Arrow-batched, deterministic, dispatching
    on REAL magic bytes (PDF header, PNG signature + IHDR, RIFF/WAVE) via
    ``_decode_one``. A real implementation swaps each branch's body for
    PIL / torchaudio / pyav and emits tensors; the header parsing, batch
    shape, schema, and Arrow transfer here are production-shaped and the
    fixture files carry genuine format signatures
    (tests/test_multimodal.py pins the dispatch)."""
    for pdf in batches:
        payloads = pdf["payload"]
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "mime_type": pdf["mime_type"],
                "n_bytes": payloads.map(len).astype("int64"),
                "decoded_preview": payloads.map(
                    lambda b: _decode_one(bytes(b))
                ),
                "feature_dim": (pdf["doc_id"] % 8 + 8).astype("int32"),
            }
        )


def e4_multimodal_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents ⋈ embeddings: text + vector modalities in one row, with
    per-modality stats. Equi-join on the shared id — at scale both tables
    are bucketed on it, making this join shuffle-free."""
    # One spark.sql parse (round-13 serving optimization). The double-
    # cast embedding is materialized as a projected column so the
    # zip_with lambda references it instead of re-running the transform
    # per argument (no CSE inside HOF lambdas) — same values.
    from ..sources.tables import scoped_views

    v = scoped_views(spark, sf_dir)
    return spark.sql(f"""
        SELECT d.doc_id, d.lang, d.source,
               size(split(d.text, ' ')) AS n_tokens,
               e.label,
               round(sqrt(aggregate(zip_with(e.emb, e.emb,
                                             (x, y) -> x * y),
                                    CAST(0.0 AS DOUBLE),
                                    (acc, v) -> acc + v)), 4)
                   AS embedding_norm
        FROM {v['documents']} d
        JOIN (SELECT vec_id, label,
                     transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
              FROM {v['embeddings']}) e
          ON d.doc_id = e.vec_id
    """)


def e4_binary_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary modality with typed metadata: payload byte length vs declared
    n_chars (ascii text ⇒ equal), MIME class tally — the admission check a
    binary ingest runs before decode."""
    docs = with_binary_payload(load_table(spark, sf_dir, "documents"))
    return docs.select(
        "doc_id",
        "mime_type",
        F.length(F.col("payload")).alias("n_bytes"),
        (F.length(F.col("payload")).cast("bigint") == F.col("n_chars")).alias(
            "size_consistent"
        ),
    )


def e4_decode_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full binary→features pipeline through the mapInPandas decode stub.

    Oracle-checked: the stub's outputs are byte counts, a 32-BYTE utf-8
    preview, and modular feature dims — and the corpus is pure ASCII
    (verified at every scale factor), so byte arithmetic equals char
    arithmetic and the SQL twin is exact. A real codec (PIL/pyav) drops
    in at decode_binary_stub and moves this to rows-only."""
    docs = with_binary_payload(load_table(spark, sf_dir, "documents"))
    return docs.mapInPandas(decode_binary_stub, schema=DECODED_SCHEMA)


FRAME_SIZE = 256  # bytes per fake "frame"
FRAME_STRIDE = 4  # sample every 4th frame


def e4_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling over the binary modality: treat each payload as a
    sequence of FRAME_SIZE-byte frames and keep every FRAME_STRIDE-th —
    the video-frame-sampling plan shape (sequence → explode → offset
    arithmetic), with byte extraction left to the decode stub
    (e4_decode_pipeline). Fully SQL-expressible, so unlike the codec stubs
    this multimodal op gets a value-checked oracle."""
    docs = with_binary_payload(load_table(spark, sf_dir, "documents"))
    n_frames = F.floor(F.octet_length("payload") / F.lit(FRAME_SIZE)).cast("int")
    frames = docs.filter(n_frames > 0).select(
        "doc_id",
        "mime_type",
        F.octet_length("payload").alias("n_bytes"),
        F.explode(
            F.sequence(F.lit(0), n_frames - 1, F.lit(FRAME_STRIDE))
        ).alias("frame_index"),
    )
    return frames.select(
        "doc_id",
        "mime_type",
        "frame_index",
        (F.col("frame_index") * FRAME_SIZE).alias("byte_offset"),
        F.least(
            F.lit(FRAME_SIZE), F.col("n_bytes") - F.col("frame_index") * FRAME_SIZE
        ).alias("frame_len"),
    )


SAMPLE_RATE, BYTES_PER_SAMPLE, VAD_MS = 8_000, 1, 10


def e4_audio_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio framing over the binary modality: interpret each payload as
    8 kHz mu-law mono (1 byte/sample) and cut 10 ms voice-activity-
    detection frames — the ASR-preprocessing plan shape (duration from
    byte length, sequence → explode, offset arithmetic), sample decode
    left to the codec stub exactly as e4_frame_sample leaves pixels.
    All integer arithmetic (duration_ms = bytes·1000 DIV bytes-per-
    second), so the oracle is exact. At 100 TB the frame fan-out is a
    partition-local explode on the scan — no shuffle until a downstream
    transcribe/groupBy consumes the frames."""
    docs = with_binary_payload(load_table(spark, sf_dir, "documents"))
    bps = SAMPLE_RATE * BYTES_PER_SAMPLE
    duration_ms = F.expr(f"octet_length(payload) * 1000 DIV {bps}")
    chunks = (
        docs.select(
            "doc_id",
            F.octet_length("payload").alias("n_bytes"),
            duration_ms.alias("duration_ms"),
        )
        .filter(F.col("duration_ms") > 0)
        .select(
            "doc_id",
            "n_bytes",
            "duration_ms",
            F.explode(
                F.sequence(
                    F.lit(0),
                    F.expr(f"(duration_ms - 1) DIV {VAD_MS}").cast("int"),
                )
            ).alias("frame_index"),
        )
    )
    return chunks.select(
        "doc_id",
        "n_bytes",
        "frame_index",
        (F.col("frame_index") * VAD_MS).alias("start_ms"),
        F.least(
            F.lit(VAD_MS).cast("long"),
            F.col("duration_ms") - F.col("frame_index") * VAD_MS,
        ).alias("frame_ms"),
    )


TILE = 32  # ViT-style square patch edge, pixels


def e4_image_tiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image patch/tile fan-out over the binary modality: derive each
    image's (height, width) — in production from the parquet metadata
    column the decoder wrote; here deterministically from doc_id so the
    oracle is exact — and emit one row per TILE×TILE patch with its pixel
    origin and flattened patch index (the ViT patchification plan shape;
    the pixel extraction itself belongs to the codec stub, exactly as
    e4_frame_sample leaves frame bytes). A doubly-nested fan-out
    (rows × tiles_y × tiles_x) as two partition-local explodes — no
    shuffle until an embedder consumes the patches."""
    docs = with_binary_payload(load_table(spark, sf_dir, "documents"))
    images = docs.filter(F.col("mime_type") == "image/png").select(
        "doc_id",
        (64 + (F.col("doc_id") % 4) * TILE).cast("int").alias("img_h"),
        (64 + (F.col("doc_id") % 3) * TILE).cast("int").alias("img_w"),
    )
    tiled = images.select(
        "doc_id",
        "img_h",
        "img_w",
        (F.col("img_h") / TILE).cast("int").alias("n_ty"),
        (F.col("img_w") / TILE).cast("int").alias("n_tx"),
    ).select(
        "doc_id",
        "img_h",
        "img_w",
        "n_tx",
        F.explode(F.sequence(F.lit(0), F.col("n_ty") - 1)).alias("tile_y"),
    ).select(
        "doc_id",
        "img_h",
        "img_w",
        "n_tx",
        "tile_y",
        F.explode(F.sequence(F.lit(0), F.col("n_tx") - 1)).alias("tile_x"),
    )
    return tiled.select(
        "doc_id",
        "img_h",
        "img_w",
        (F.col("tile_y") * F.col("n_tx") + F.col("tile_x")).alias("patch_index"),
        "tile_y",
        "tile_x",
        (F.col("tile_x") * TILE).alias("x0"),
        (F.col("tile_y") * TILE).alias("y0"),
    )


_BINFIX_N = 64  # docs materialized as real files (bounded fixture, not data-sized)
_BINFIX_JPG_N = 32  # doc_ids [64, 96): baseline JFIF class (round 12)
_BINFIX_DOCX_N = 32  # doc_ids [96, 128): OOXML/ZIP class (round 12)
_BINFIX_XLSX_N = 32  # doc_ids [128, 160): spreadsheet OOXML class (round 12)
_BINFIX_TIFF_N = 32  # doc_ids [160, 192): baseline TIFF class (round 12)
_BINFIX_PPTX_N = 32  # doc_ids [192, 224): presentation OOXML class (round 12)
_BINFIX_EML_N = 32  # doc_ids [224, 256): RFC 5322 message class (round 12)
_BINFIX_RTF_N = 32  # doc_ids [256, 288): RTF class (round 12)
_BINFIX_MSG_N = 32  # doc_ids [288, 320): OLE2/MSG compound class (round 12)
_BINFIX_DOC_N = 32  # doc_ids [320, 352): Word 97 binary class (round 13)
_BINFIX_XLS_N = 32  # doc_ids [352, 384): Excel 97 BIFF8 class (round 13)
_BINFIX_PPT_N = 32  # doc_ids [384, 416): PowerPoint 97 class (round 13)
_BINFIX_ZIP_N = 32  # doc_ids [416, 448): multi-member archive bundles (round 13)
_BINFIX_TOTAL = (
    _BINFIX_N + _BINFIX_JPG_N + _BINFIX_DOCX_N + _BINFIX_XLSX_N
    + _BINFIX_TIFF_N + _BINFIX_PPTX_N + _BINFIX_EML_N + _BINFIX_RTF_N
    + _BINFIX_MSG_N + _BINFIX_DOC_N + _BINFIX_XLS_N + _BINFIX_PPT_N
    + _BINFIX_ZIP_N
)
_BINFIX_VERSION = 14  # bump when payload formats change: invalidates old fixtures


def _format_ext(doc_id: int) -> str:
    """doc_id → on-disk extension: pdf / png / wav / ppm / bmp for ids
    below _BINFIX_N (the doc_id%3==2 class splits by %6 into wav and
    the %12∈{5,11} raster pair, so every format the decoders handle
    appears in the fixture); ids [_BINFIX_N, _BINFIX_N+_BINFIX_JPG_N)
    are the round-12 baseline-JPEG class; [96,128) wordprocessing OOXML,
    [128,160) spreadsheet OOXML, [160,192) baseline TIFF, [192,224)
    presentation OOXML, [224,256) RFC 5322 messages, [256,288) RTF,
    [288,320) OLE2/MSG, [320,352) Word 97 binary, [352,384) Excel 97
    BIFF8, [384,416) PowerPoint 97, [416,448) multi-member archive
    bundles — disjoint id ranges so every pre-existing oracle's
    ``doc_id < 64`` scope is untouched."""
    if doc_id >= 416:
        return "zip"
    if doc_id >= 384:
        return "ppt"
    if doc_id >= 352:
        return "xls"
    if doc_id >= 320:
        return "doc"
    if doc_id >= 288:
        return "msg"
    if doc_id >= 256:
        return "rtf"
    if doc_id >= 224:
        return "eml"
    if doc_id >= 192:
        return "pptx"
    if doc_id >= 160:
        return "tiff"
    if doc_id >= 128:
        return "xlsx"
    if doc_id >= _BINFIX_N + _BINFIX_JPG_N:
        return "docx"
    if doc_id >= _BINFIX_N:
        return "jpg"
    m = doc_id % 3
    if m == 0:
        return "pdf"
    if m == 1:
        return "png"
    if doc_id % 6 == 2:
        return "wav"
    return "ppm" if doc_id % 12 == 5 else "bmp"


def _raster_dims(doc_id: int) -> tuple[int, int]:
    """Deterministic (w, h) for the fixture's uncompressed raster images,
    both multiples of the 32-px tile so patchification is exact; the two
    moduli differ so dims vary independently across the fixture ids."""
    return 64 + (doc_id % 5) * 32, 64 + (doc_id % 7 % 4) * 32


def _raster_pixels(doc_id: int, w: int, h: int):
    """The fixture's LOGICAL image: byte j of the row-major top-down RGB
    stream is ``(doc_id*3 + j) % 256`` — position-dependent in both axes
    and per channel, so any decoder offset/flip/swap error changes the
    tile statistics (the oracle computes the same formula in SQL)."""
    import numpy as np

    j = np.arange(w * h * 3, dtype=np.int64)
    return ((doc_id * 3 + j) % 256).astype(np.uint8).reshape(h, w, 3)


def _format_payload(doc_id: int, text: str) -> bytes:
    """GENUINE format payloads for the fixture — real magic numbers and
    parseable headers (the reference handles real file formats:
    soap_downloader.py:101-161), deterministic from (doc_id, text):

    - pdf: a COMPLETE real PDF (round 12 — no longer header-only):
      catalog, page tree, font resource, a /FlateDecode content stream
      (stored-deflate framing, the PNG trick) showing the doc text via
      Tj/TJ, correct xref offsets + trailer (pdfops.build_pdf); size
      stays the exact formula pdfops.pdf_n_bytes states in SQL.
    - png: a COMPLETE real PNG (round 10 — no longer header-only):
      signature, IHDR (big-endian dims 64+(id%5)*32 × 64+(id%4)*32,
      8-bit truecolor, correct CRC32), an IDAT carrying the
      ``_raster_pixels`` logical image run through the spec's per-row
      filters (type = row % 5, so all five filter types appear) inside
      a stored-block zlib stream (``_zlib_stored`` — deterministic
      framing, so n_bytes = 63 + raw + 5·ceil(raw/65535) with
      raw = h·(1+3w) stays an exact SQL formula), and IEND.
    - wav: canonical 44-byte RIFF/WAVE PCM header (8 kHz mono 8-bit,
      matching e4_audio_chunks' framing constants) + the text bytes as
      the sample data (n_bytes = len(text) + 44).
    - ppm: binary PPM (P6) with REAL pixel bytes — the ``_raster_pixels``
      logical image written verbatim after the canonical header
      (n_bytes = 9 + len(str w) + len(str h) + 3wh).
    - bmp: 24-bit uncompressed BMP of the SAME logical image, written the
      way real BMPs are stored — rows bottom-up, channels BGR, rows
      padded to 4-byte boundaries (n_bytes = 54 + stride·h) — so the
      decoder must genuinely undo both quirks to recover the pixels.
    - jpg (ids ≥ _BINFIX_N): complete baseline JFIF — DQT/SOF0/DHT/SOS
      + Huffman-coded MCUs with byte stuffing — whose flat DC-only
      blocks decode exactly (jpegops module docstring).
    """
    import struct

    import numpy as np

    body = text.encode()
    ext = _format_ext(doc_id)
    if ext == "zip":
        from .archiveops import build_case_bundle

        return build_case_bundle(text)
    if ext == "ppt":
        from .pptops import build_ppt

        return build_ppt(text)
    if ext == "xls":
        from .biffops import build_xls

        return build_xls(text)
    if ext == "doc":
        from .wordops import build_doc

        return build_doc(text)
    if ext == "msg":
        from .cfbops import build_msg

        return build_msg(f"case document {doc_id}", text)
    if ext == "rtf":
        from .rtfops import build_rtf

        return build_rtf(text)
    if ext == "eml":
        from .mailops import build_eml

        return build_eml(text, f"case document {doc_id}")
    if ext == "pptx":
        from .docxops import build_pptx

        return build_pptx(text)
    if ext == "tiff":
        # complete baseline TIFF (header, 9-tag IFD, offset-resolved
        # BitsPerSample, raw strip) of the SAME logical image formula
        # as the ppm/bmp/png classes — decode is SQL-exact
        w, h = _raster_dims(doc_id)
        return _build_tiff(_raster_pixels(doc_id, w, h))
    if ext == "xlsx":
        # complete SpreadsheetML archive: the doc's words as a
        # sharedStrings-referenced column (xlsxops.build_xlsx)
        from .xlsxops import build_xlsx

        return build_xlsx(text)
    if ext == "docx":
        # complete OOXML archive: real deflate ZIP entries with correct
        # CRCs and central directory (docxops.build_docx) — CPython's
        # zipfile validates the fixture files in tests/test_docxops.py
        from .docxops import build_docx

        return build_docx(text)
    if ext == "jpg":
        # complete baseline JFIF, flat 8×8 blocks at gray level
        # (doc_id*3 + block_index) % 256 — a DC-only block decodes to
        # its constant EXACTLY (jpegops: IDCT of DC 8·(v−128) is v), so
        # the lossy container stays SQL-exact like the stored-deflate
        # PNG/PDF payloads
        import numpy as np

        from .jpegops import encode_flat_blocks

        w, h = _raster_dims(doc_id)
        nbx, nby = w // 8, h // 8
        bi = np.arange(nby * nbx, dtype=np.int64).reshape(nby, nbx)
        return encode_flat_blocks(((doc_id * 3 + bi) % 256).astype(np.uint8))
    if ext == "pdf":
        from .pdfops import build_pdf

        return build_pdf(text)
    if ext == "png":
        w, h = 64 + (doc_id % 5) * 32, 64 + (doc_id % 4) * 32
        px = _raster_pixels(doc_id, w, h)
        return (
            b"\x89PNG\r\n\x1a\n"
            + _png_chunk(
                b"IHDR", struct.pack(">II5B", w, h, 8, 2, 0, 0, 0)
            )
            + _png_chunk(
                b"IDAT", _zlib_stored(_png_filter_rows(px, h, w))
            )
            + _png_chunk(b"IEND", b"")
        )
    if ext == "wav":
        return (
            b"RIFF"
            + struct.pack("<I", 36 + len(body))
            + b"WAVE"
            + b"fmt "
            + struct.pack("<IHHIIHH", 16, 1, 1, 8000, 8000, 1, 8)
            + b"data"
            + struct.pack("<I", len(body))
            + body
        )
    w, h = _raster_dims(doc_id)
    px = _raster_pixels(doc_id, w, h)
    if ext == "ppm":
        return f"P6\n{w} {h}\n255\n".encode() + px.tobytes()
    # bmp: bottom-up row order, BGR channels, 4-byte row padding
    stride = (w * 3 + 3) // 4 * 4
    rows = np.zeros((h, stride), dtype=np.uint8)
    rows[:, : w * 3] = px[::-1, :, ::-1].reshape(h, w * 3)
    return (
        b"BM"
        + struct.pack("<IHHI", 54 + stride * h, 0, 0, 54)
        + struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, stride * h, 2835, 2835, 0, 0)
        + rows.tobytes()
    )


def _binaryfile_fixture_dir(spark: SparkSession, sf_dir: str) -> str:
    """Materialize the first _BINFIX_N documents as REAL files on local
    disk (one file per doc, extension from the payload's MIME class) so
    ``e4_binaryfile_scan`` exercises a true ``binaryFile`` scan — the
    reference's on-disk handoff (soap_downloader.py:101-161 writes fetched
    blobs to temp files before upload). The collect is bounded at
    _BINFIX_N rows (fixture-sized, like the similarity query-vector
    cache); idempotent via a marker file, atomic via write-to-tmp+rename
    so concurrent builders can't expose a half-written dir."""
    import os

    from ..sources.stores import fingerprint_store_dir

    # tagged by the source parquet's fingerprint (shared rule): a
    # regenerated dataset at the same path must invalidate the fixture —
    # unlike the in-process caches, this one survives restarts; payload
    # format revisions invalidate via _BINFIX_VERSION
    out = fingerprint_store_dir(
        sf_dir, "documents.parquet", "caseguard_binfix", _BINFIX_VERSION
    )
    marker = os.path.join(out, "_FIXTURE_COMPLETE")
    if os.path.exists(marker):
        return out
    rows = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < _BINFIX_TOTAL)
        .select("doc_id", "text")
        .collect()
    )
    import tempfile

    base = os.path.dirname(out)
    os.makedirs(base, exist_ok=True)
    tmp = tempfile.mkdtemp(dir=base)
    for r in rows:
        did = r["doc_id"]
        name = f"doc_{did:06d}.{_format_ext(did)}"
        with open(os.path.join(tmp, name), "wb") as f:
            f.write(_format_payload(did, r["text"]))
    with open(os.path.join(tmp, "_FIXTURE_COMPLETE"), "w") as f:
        f.write(str(len(rows)))
    try:
        os.rename(tmp, out)
    except OSError:
        import shutil

        if os.path.exists(marker):  # lost the race: winner's dir is complete
            shutil.rmtree(tmp, ignore_errors=True)
        else:  # a real failure (stale file at out, permissions): surface it
            shutil.rmtree(tmp, ignore_errors=True)
            raise
    return out


def e4_binaryfile_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRUE binary-file ingestion: scan a directory of actual on-disk
    files with ``spark.read.format("binaryFile")`` (path, length, content
    columns), derive doc_id from the filename and MIME from the
    extension — exactly how a production blob-store landing zone is read
    — then route the bytes through the same Arrow-batched decode stub as
    ``e4_decode_pipeline``. The files carry GENUINE format signatures
    (PDF header, PNG signature + IHDR, RIFF/WAVE — ``_format_payload``),
    so the stub's magic-byte dispatch is exercised on real headers and
    the oracle pins the PARSED values (PNG dims, WAV rate/sample count,
    extracted PDF body), all deterministic functions of (doc_id, text).
    At 100 TB the fixture dir is an object-store prefix and binaryFile's
    pathGlobFilter/recursiveFileLookup handle layout; each file is one
    row, so partitioning follows files — no shuffle before decode."""
    # scope pinned to the five original classes: the round-12 jpg class
    # (ids ≥ 64) has its own tile-stats coverage and oracle
    files = _fixture_docs(spark, sf_dir, "doc_*.{pdf,png,wav,ppm,bmp}")
    mimes = {
        "pdf": "application/pdf",
        "png": "image/png",
        "wav": "audio/wav",
        "ppm": "image/x-portable-pixmap",
        "bmp": "image/bmp",
    }
    # one literal-map lookup reads ``ext`` once, so the projection
    # collapses into file_docs' own
    mime = F.create_map(*[F.lit(s) for kv in mimes.items() for s in kv])
    docs = files.select(
        "doc_id",
        F.coalesce(mime[F.col("ext")], F.lit("text/plain")).alias("mime_type"),
        "payload",
    )
    return docs.mapInPandas(decode_binary_stub, schema=DECODED_SCHEMA)


def _decode_raster(b: bytes):
    """Magic-byte dispatch over the four raster decoders. Returns
    (fmt, w, h, logical top-down RGB array of shape (h, 3w)). JPEG
    grayscale replicates into RGB (r=g=b), the standard gray→RGB
    upsample, so the tile framing is uniform across formats."""
    if b[:2] == b"P6":
        return ("ppm", *_parse_ppm(b))
    if b[:2] == b"BM":
        return ("bmp", *_parse_bmp(b))
    if b[:2] == b"\xff\xd8":
        import numpy as np

        from .jpegops import decode_jpeg

        w, h, nc, img = decode_jpeg(b)
        if nc == 1:
            img = np.repeat(img[:, :, None], 3, axis=2)
        return ("jpg", w, h, img.reshape(h, w * 3))
    if b[:4] == b"II\x2a\x00":
        return ("tiff", *_parse_tiff(b))
    return ("png", *_parse_png(b))


PIX_TILE = 32  # square patch edge for the byte-real tile stats
_TILE_BYTES = PIX_TILE * PIX_TILE * 3


def _pixel_tiles_kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Arrow-batched BYTE-REAL patchification: for each raster
    payload (PPM, BMP, or PNG), decode the actual pixels
    (``_decode_raster``) and emit one row per 32×32 RGB tile
    with statistics computed FROM THE PAYLOAD BYTES (sum/min/max over the
    tile's 3072 channel bytes) — not from header fields. numpy slicing
    per tile; nothing crosses Arrow except the per-tile stat rows."""
    import numpy as np

    for pdf in batches:
        out: dict[str, list] = {
            k: []
            for k in (
                "doc_id", "fmt", "img_w", "img_h", "tile_y", "tile_x",
                "byte_sum", "byte_min", "byte_max",
            )
        }
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            fmt, w, h, arr = _decode_raster(bytes(payload))
            a = arr.astype(np.int64)
            for ty in range(h // PIX_TILE):
                rows = a[ty * PIX_TILE : (ty + 1) * PIX_TILE]
                for tx in range(w // PIX_TILE):
                    tile = rows[:, tx * PIX_TILE * 3 : (tx + 1) * PIX_TILE * 3]
                    out["doc_id"].append(doc_id)
                    out["fmt"].append(fmt)
                    out["img_w"].append(w)
                    out["img_h"].append(h)
                    out["tile_y"].append(ty)
                    out["tile_x"].append(tx)
                    out["byte_sum"].append(int(tile.sum()))
                    out["byte_min"].append(int(tile.min()))
                    out["byte_max"].append(int(tile.max()))
        yield pd.DataFrame(out)


def e4_pixel_tile_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BYTE-REAL image patchification (round-10: the multimodal decode no
    longer stops at headers): scan the fixture's PPM, BMP, and PNG
    files with ``binaryFile``, decode the ACTUAL pixel payloads in an
    Arrow-batched kernel — PPM is raw RGB after the header; BMP requires
    undoing bottom-up row order, BGR channel order, and 4-byte row
    padding; PNG requires a CRC-checked chunk walk, zlib inflate, and
    per-row defiltering — and
    emit per-32×32-tile statistics over the decoded bytes. The fixture
    pixels are a deterministic position formula (``_raster_pixels``), so
    the oracle recomputes every tile's sum/min/max exactly in SQL: any
    decoder offset, flip, or channel-swap error hash-mismatches.
    ``e4_image_tiles`` remains the coordinate-only plan twin; this is the
    content tier the reference reaches in docproc/format_config.py:147-230.
    Round 12 adds the baseline-JPEG class (ids ≥ 64 — Huffman entropy
    decode, dequantize, zigzag, IDCT; jpegops.decode_jpeg): `.jpg/.jpeg`
    are reference-admitted extensions (format_config.py:16-19) and the
    fixture's DC-only blocks make even the lossy format's decoded bytes
    exact in SQL; ids ≥ 160 add baseline TIFF (IFD walk, offset-resolved
    tags, strip gather — the fifth raster format, same logical-image
    formula as ppm/bmp). At 100 TB: one file = one row = one kernel
    call, stats are partition-local, no shuffle before a downstream
    embedder."""
    docs = _fixture_docs(spark, sf_dir, "doc_*.{ppm,bmp,png,jpg,tiff}")
    tiles = docs.mapInPandas(
        _pixel_tiles_kernel,
        "doc_id long, fmt string, img_w int, img_h int, tile_y int, "
        "tile_x int, byte_sum long, byte_min int, byte_max int",
    )
    # mean is derived JVM-side so both engines round the same double
    return tiles.withColumn(
        "byte_mean",
        F.round(F.col("byte_sum") / F.lit(float(_TILE_BYTES)), 4),
    )


RESIZE_FACTOR = 2  # nearest-neighbor downsample stride


def _resize_kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Arrow-batched BYTE-REAL nearest-neighbor resize: decode the raster
    payload, take every RESIZE_FACTOR-th pixel in both axes (the
    standard nearest-neighbor decimation a thumbnail/preprocessing stage
    applies before embedding), and emit statistics computed from the
    RESIZED pixel bytes — so a stride, axis, or channel error changes
    the output."""
    import numpy as np

    for pdf in batches:
        out: dict[str, list] = {
            k: []
            for k in (
                "doc_id", "fmt", "img_w", "img_h", "out_w", "out_h",
                "byte_sum", "byte_min", "byte_max",
            )
        }
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            fmt, w, h, arr = _decode_raster(bytes(payload))
            px = arr.reshape(h, w, 3)
            small = px[:: RESIZE_FACTOR, :: RESIZE_FACTOR, :].astype(np.int64)
            out["doc_id"].append(doc_id)
            out["fmt"].append(fmt)
            out["img_w"].append(w)
            out["img_h"].append(h)
            out["out_w"].append(small.shape[1])
            out["out_h"].append(small.shape[0])
            out["byte_sum"].append(int(small.sum()))
            out["byte_min"].append(int(small.min()))
            out["byte_max"].append(int(small.max()))
        yield pd.DataFrame(out)


def e4_image_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BYTE-REAL image resize (round-10: completes the brief's
    decode / feature-extract / RESIZE / frame-sample quartet without a
    stub): nearest-neighbor 2× downsample of the genuinely decoded
    PPM/BMP/PNG pixels, per-image statistics over the RESIZED bytes. The
    fixture pixel formula (``_raster_pixels``) makes the expected resized
    bytes exactly computable in SQL — out pixel (y,x,c) is in pixel
    (2y,2x,c) — so any stride/axis/channel mistake hash-mismatches.
    Same scale posture as the other binaryFile kernels: one file = one
    row = one kernel call, no shuffle."""
    docs = _fixture_docs(spark, sf_dir, "doc_*.{ppm,bmp,png}")
    resized = docs.mapInPandas(
        _resize_kernel,
        "doc_id long, fmt string, img_w int, img_h int, out_w int, "
        "out_h int, byte_sum long, byte_min int, byte_max int",
    )
    n_out = (F.col("out_w") * F.col("out_h") * 3).cast("double")
    return resized.withColumn(
        "byte_mean", F.round(F.col("byte_sum") / n_out, 4)
    )


WAV_FRAME_SAMPLES = 80  # 10 ms at the fixture's 8 kHz mono 8-bit PCM


def _wav_frames_kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Arrow-batched BYTE-REAL WAV framing: parse each RIFF/WAVE payload
    (``_parse_wav_pcm`` validates the canonical PCM fmt chunk), cut the
    ACTUAL sample array into 80-sample (10 ms) frames, and emit per-frame
    statistics computed from the PCM bytes themselves."""
    import numpy as np

    for pdf in batches:
        out: dict[str, list] = {
            k: []
            for k in (
                "doc_id", "frame_index", "n_samples",
                "sample_sum", "sample_min", "sample_max",
            )
        }
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            rate, samples = _parse_wav_pcm(bytes(payload))
            if rate != SAMPLE_RATE:
                raise ValueError(f"unexpected sample rate {rate}")
            s = samples.astype(np.int64)
            for fi in range(0, -(-len(s) // WAV_FRAME_SAMPLES)):
                fr = s[fi * WAV_FRAME_SAMPLES : (fi + 1) * WAV_FRAME_SAMPLES]
                out["doc_id"].append(doc_id)
                out["frame_index"].append(fi)
                out["n_samples"].append(len(fr))
                out["sample_sum"].append(int(fr.sum()))
                out["sample_min"].append(int(fr.min()))
                out["sample_max"].append(int(fr.max()))
        yield pd.DataFrame(out)


def _mulaw_decode_table():
    """The 256-entry G.711 mu-law → linear-16 decode table, computed from
    the CCITT reference recipe: complement, then
    magnitude = ((mantissa·8 + 0x84) << exponent), signed around the
    0x84 bias. Pure integer arithmetic, so the SQL oracle states the
    same formula per sample."""
    import numpy as np

    u = 255 - np.arange(256, dtype=np.int64)  # ~byte & 0xFF
    mant = u & 0x0F
    exp = (u >> 4) & 0x07
    t = ((mant << 3) + 0x84) << exp
    return np.where(u & 0x80, 0x84 - t, t - 0x84)


def _mulaw_frames_kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Arrow-batched mu-law decode + framing: parse the WAV container,
    expand every 8-bit sample through the G.711 decode table to its
    linear-16 value (the transform an ASR front-end applies to telephony
    audio before feature extraction), and emit per-10 ms-frame statistics
    over the DECODED values."""
    lut = _mulaw_decode_table()
    for pdf in batches:
        out: dict[str, list] = {
            k: []
            for k in (
                "doc_id", "frame_index", "n_samples",
                "linear_sum", "linear_min", "linear_max",
            )
        }
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            rate, samples = _parse_wav_pcm(bytes(payload))
            if rate != SAMPLE_RATE:
                raise ValueError(f"unexpected sample rate {rate}")
            lin = lut[samples]
            for fi in range(0, -(-len(lin) // WAV_FRAME_SAMPLES)):
                fr = lin[fi * WAV_FRAME_SAMPLES : (fi + 1) * WAV_FRAME_SAMPLES]
                out["doc_id"].append(doc_id)
                out["frame_index"].append(fi)
                out["n_samples"].append(len(fr))
                out["linear_sum"].append(int(fr.sum()))
                out["linear_min"].append(int(fr.min()))
                out["linear_max"].append(int(fr.max()))
        yield pd.DataFrame(out)


def e4_wav_mulaw_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G.711 mu-law EXPANSION over the WAV fixture (round-10): the
    telephony-audio decode an ASR preprocessing stage runs — each 8-bit
    sample maps through the CCITT mu-law recipe to its linear-16 value,
    then 10 ms frames report statistics over the DECODED signal.
    ``e4_wav_pcm_frames`` proves the container parse; this op proves a
    real sample-domain TRANSFORM on the decoded bytes, with the oracle
    restating the bit arithmetic per sample in SQL (complement → mantissa
    /exponent split → biased shift → sign fold). Same scale posture: one
    file = one kernel call, no shuffle."""
    docs = _fixture_docs(spark, sf_dir, "doc_*.wav")
    return docs.mapInPandas(
        _mulaw_frames_kernel,
        "doc_id long, frame_index int, n_samples int, linear_sum long, "
        "linear_min int, linear_max int",
    )


def e4_wav_pcm_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BYTE-REAL audio framing (round-10): scan the fixture's WAV files
    with ``binaryFile``, decode the ACTUAL 8-bit PCM sample payload (the
    fmt chunk is validated, not assumed), and emit per-10 ms-frame
    statistics over the decoded samples. The fixture's PCM data is the
    document's utf-8 text (``_format_payload``), so the oracle recomputes
    every frame's sum/min/max from ``ascii(substring(text, …))`` exactly —
    a mis-sized header skip or frame offset hash-mismatches.
    ``e4_audio_chunks`` remains the coordinate-only plan twin. Same scale
    posture as the tile stats: per-file kernel calls, no shuffle."""
    docs = _fixture_docs(spark, sf_dir, "doc_*.wav")
    return docs.mapInPandas(
        _wav_frames_kernel,
        "doc_id long, frame_index int, n_samples int, sample_sum long, "
        "sample_min int, sample_max int",
    )


QUERIES = {
    "e4_pixel_tile_stats": e4_pixel_tile_stats,
    "e4_wav_pcm_frames": e4_wav_pcm_frames,
    "e4_wav_mulaw_frames": e4_wav_mulaw_frames,
    "e4_image_resize": e4_image_resize,
    "e4_image_tiles": e4_image_tiles,
    "e4_binaryfile_scan": e4_binaryfile_scan,
    "e4_multimodal_join": e4_multimodal_join,
    "e4_binary_metadata": e4_binary_metadata,
    "e4_decode_pipeline": e4_decode_pipeline,
    "e4_frame_sample": e4_frame_sample,
    "e4_audio_chunks": e4_audio_chunks,
}

ORACLES = {
    # binaryFile twin: every payload is a deterministic function of
    # (doc_id, text) — _format_payload — so the stub's header PARSE
    # results (PDF body, PNG IHDR dims, WAV rate/sample count, raw text)
    # and byte lengths are exactly computable in SQL.
    "e4_binaryfile_scan": """
        WITH dims AS (
            SELECT doc_id,
                   CAST(64 + (doc_id % 5) * 32 AS VARCHAR) AS rw,
                   CAST(64 + (doc_id % 7 % 4) * 32 AS VARCHAR) AS rh,
                   (64 + (doc_id % 5) * 32) * (64 + (doc_id % 7 % 4) * 32) * 3
                       AS rpix,
                   -- png raw filtered stream: h rows of (1 filter byte
                   -- + 3w pixel bytes); file = 63 + raw + 5*ceil(raw/65535)
                   (64 + (doc_id % 4) * 32)
                       * (1 + 3 * (64 + (doc_id % 5) * 32)) AS praw
            FROM documents WHERE doc_id < 64
        ),
        -- real-PDF size (pdfops.pdf_n_bytes): content scaffold 54 +
        -- escaped text, stored-deflate framing 6 + 5/block, stream-obj
        -- wrapper 69 + /Length digits, fixed objects 311, xref+trailer
        -- 180 + startxref digits
        pdf1 AS (
            SELECT doc_id,
                   54 + length(text)
                      + (length(text) - length(replace(replace(replace(
                            text, '(', ''), ')', ''), '\\', ''))) AS cu
            FROM documents WHERE doc_id < 64 AND doc_id % 3 = 0
        ),
        pdf2 AS (
            SELECT doc_id,
                   6 + cu + 5 * ((cu + 65534) // 65535) AS lz
            FROM pdf1
        ),
        pdf3 AS (
            SELECT doc_id,
                   311 + 69 + length(CAST(lz AS VARCHAR)) + lz AS xref_off
            FROM pdf2
        ),
        pdfsz AS (
            SELECT doc_id,
                   xref_off + 180 + length(CAST(xref_off AS VARCHAR))
                       AS pdf_nb
            FROM pdf3
        )
        SELECT d.doc_id,
               CASE WHEN d.doc_id % 3 = 0 THEN 'application/pdf'
                    WHEN d.doc_id % 3 = 1 THEN 'image/png'
                    WHEN d.doc_id % 6 = 2 THEN 'audio/wav'
                    WHEN d.doc_id % 12 = 5 THEN 'image/x-portable-pixmap'
                    ELSE 'image/bmp' END AS mime_type,
               CAST(CASE WHEN d.doc_id % 3 = 0 THEN p.pdf_nb
                         WHEN d.doc_id % 3 = 1
                             THEN 63 + m.praw + 5 * ((m.praw + 65534) // 65535)
                         WHEN d.doc_id % 6 = 2 THEN length(text) + 44
                         WHEN d.doc_id % 12 = 5
                             THEN 9 + length(m.rw) + length(m.rh) + m.rpix
                         ELSE 54 + m.rpix END AS BIGINT) AS n_bytes,
               CASE WHEN d.doc_id % 3 = 1
                        THEN 'PNG ' || CAST(64 + (d.doc_id % 5) * 32 AS VARCHAR)
                             || 'x' || CAST(64 + (d.doc_id % 4) * 32 AS VARCHAR)
                    WHEN d.doc_id % 6 = 2
                        THEN 'WAV 8000Hz '
                             || CAST(length(text) AS VARCHAR) || 'smp'
                    WHEN d.doc_id % 12 = 5 THEN 'PPM ' || m.rw || 'x' || m.rh
                    WHEN d.doc_id % 12 = 11 THEN 'BMP ' || m.rw || 'x' || m.rh
                    ELSE substring(text, 1, 32) END AS decoded_preview,
               CAST(d.doc_id % 8 + 8 AS INT) AS feature_dim
        FROM documents d JOIN dims m ON d.doc_id = m.doc_id
        LEFT JOIN pdfsz p ON d.doc_id = p.doc_id
        WHERE d.doc_id < 64
    """,
    # Byte-real raster decode: the fixture pixel at logical byte offset j
    # is (doc_id*3 + j) % 256 (_raster_pixels), so every 32x32 tile's
    # sum/min/max over its 3072 channel bytes is exactly computable —
    # tile (ty,tx) covers, for dy in [0,32) and dx in [0,96),
    # j = (ty*32+dy)*w*3 + tx*96 + dx.
    "e4_pixel_tile_stats": """
        WITH imgs AS (
            -- ids < 64: the ppm/bmp/png classes; ids 160-191: baseline
            -- TIFF of the SAME logical-image formula (round 12)
            SELECT doc_id,
                   CASE WHEN doc_id >= 160 THEN 'tiff'
                        WHEN doc_id % 12 = 5 THEN 'ppm'
                        WHEN doc_id % 12 = 11 THEN 'bmp'
                        ELSE 'png' END AS fmt,
                   CAST(64 + (doc_id % 5) * 32 AS INT) AS img_w,
                   CAST(CASE WHEN doc_id < 64 AND doc_id % 3 = 1
                             THEN 64 + (doc_id % 4) * 32
                             ELSE 64 + (doc_id % 7 % 4) * 32 END AS INT)
                       AS img_h
            FROM documents
            WHERE (doc_id < 64
                   AND (doc_id % 12 = 5 OR doc_id % 12 = 11
                        OR doc_id % 3 = 1))
               OR (doc_id >= 160 AND doc_id < 192)
        ), tiles AS (
            SELECT doc_id, fmt, img_w, img_h,
                   ty.v AS tile_y, tx.v AS tile_x
            FROM imgs,
                 LATERAL (SELECT unnest(range(img_h // 32)) AS v) ty,
                 LATERAL (SELECT unnest(range(img_w // 32)) AS v) tx
        ), vals AS (
            SELECT doc_id, fmt, img_w, img_h, tile_y, tile_x,
                   (doc_id * 3
                    + ((tile_y * 32 + u.t // 96) * img_w * 3
                       + tile_x * 96 + u.t % 96)) % 256 AS v
            FROM tiles, LATERAL (SELECT unnest(range(3072)) AS t) u
        )
        SELECT doc_id, fmt, img_w, img_h,
               CAST(tile_y AS INT) AS tile_y, CAST(tile_x AS INT) AS tile_x,
               CAST(sum(v) AS BIGINT) AS byte_sum,
               CAST(min(v) AS INT) AS byte_min,
               CAST(max(v) AS INT) AS byte_max,
               round(sum(v) / 3072.0, 4) AS byte_mean
        FROM vals
        GROUP BY doc_id, fmt, img_w, img_h, tile_y, tile_x
        UNION ALL
        -- round-12 jpg class (ids 64..95): flat 8x8 blocks at gray
        -- level (doc_id*3 + by*(w/8) + bx) % 256, gray replicated to
        -- RGB; a 32x32 tile covers a 4x4 block grid, so its 3072
        -- channel bytes are 192 copies of each of 16 block levels
        SELECT doc_id, fmt, img_w, img_h,
               CAST(tile_y AS INT) AS tile_y, CAST(tile_x AS INT) AS tile_x,
               CAST(192 * sum(v) AS BIGINT) AS byte_sum,
               CAST(min(v) AS INT) AS byte_min,
               CAST(max(v) AS INT) AS byte_max,
               round(192 * sum(v) / 3072.0, 4) AS byte_mean
        FROM (
            SELECT doc_id, 'jpg' AS fmt,
                   CAST(64 + (doc_id % 5) * 32 AS INT) AS img_w,
                   CAST(64 + (doc_id % 7 % 4) * 32 AS INT) AS img_h,
                   ty.v AS tile_y, tx.v AS tile_x,
                   (doc_id * 3
                    + (ty.v * 4 + u.t // 4) * ((64 + (doc_id % 5) * 32) // 8)
                    + tx.v * 4 + u.t % 4) % 256 AS v
            FROM documents,
                 LATERAL (
                     SELECT unnest(range((64 + (doc_id % 7 % 4) * 32) // 32))
                         AS v
                 ) ty,
                 LATERAL (
                     SELECT unnest(range((64 + (doc_id % 5) * 32) // 32))
                         AS v
                 ) tx,
                 LATERAL (SELECT unnest(range(16)) AS t) u
            WHERE doc_id >= 64 AND doc_id < 96
        )
        GROUP BY doc_id, fmt, img_w, img_h, tile_y, tile_x
    """,
    # Byte-real nearest-neighbor resize: out pixel (y,x,c) = in pixel
    # (2y,2x,c), in byte value (doc_id*3 + j) % 256 at
    # j = (2y·w + 2x)·3 + c — summed over the out grid in SQL.
    "e4_image_resize": """
        WITH imgs AS (
            SELECT doc_id,
                   CASE WHEN doc_id % 12 = 5 THEN 'ppm'
                        WHEN doc_id % 12 = 11 THEN 'bmp'
                        ELSE 'png' END AS fmt,
                   CAST(64 + (doc_id % 5) * 32 AS INT) AS img_w,
                   CAST(CASE WHEN doc_id % 3 = 1
                             THEN 64 + (doc_id % 4) * 32
                             ELSE 64 + (doc_id % 7 % 4) * 32 END AS INT)
                       AS img_h
            FROM documents
            WHERE doc_id < 64
              AND (doc_id % 12 = 5 OR doc_id % 12 = 11 OR doc_id % 3 = 1)
        ), vals AS (
            SELECT doc_id, fmt, img_w, img_h,
                   img_w // 2 AS out_w, img_h // 2 AS out_h,
                   (doc_id * 3
                    + ((2 * (u.t // 3 // (img_w // 2))) * img_w
                       + 2 * (u.t // 3 % (img_w // 2))) * 3
                    + u.t % 3) % 256 AS v
            FROM imgs,
                 LATERAL (
                     SELECT unnest(range((img_w // 2) * (img_h // 2) * 3))
                         AS t
                 ) u
        )
        SELECT doc_id, fmt, img_w, img_h,
               CAST(out_w AS INT) AS out_w, CAST(out_h AS INT) AS out_h,
               CAST(sum(v) AS BIGINT) AS byte_sum,
               CAST(min(v) AS INT) AS byte_min,
               CAST(max(v) AS INT) AS byte_max,
               round(sum(v) / CAST(out_w * out_h * 3 AS DOUBLE), 4)
                   AS byte_mean
        FROM vals
        GROUP BY doc_id, fmt, img_w, img_h, out_w, out_h
    """,
    # G.711 mu-law expansion, restated per sample in SQL: with
    # u = 255 - byte (the complement), mantissa = u % 16,
    # exponent = (u // 16) % 8, t = (mantissa*8 + 132) << exponent,
    # linear = 132 - t when u >= 128 else t - 132.
    "e4_wav_mulaw_frames": """
        WITH wav AS (
            SELECT doc_id, text, length(text) AS n
            FROM documents WHERE doc_id < 64 AND doc_id % 6 = 2
        ), frames AS (
            SELECT doc_id, text, n,
                   CAST(f.v AS INT) AS frame_index,
                   CAST(least(80, n - f.v * 80) AS INT) AS n_samples
            FROM wav, LATERAL (SELECT unnest(range((n + 79) // 80)) AS v) f
            WHERE n > 0
        ), raw AS (
            SELECT doc_id, frame_index, n_samples,
                   255 - ascii(substring(text, frame_index * 80 + s.v + 1, 1))
                       AS u
            FROM frames,
                 LATERAL (SELECT unnest(range(n_samples)) AS v) s
        ), dec AS (
            SELECT doc_id, frame_index, n_samples,
                   CASE WHEN u >= 128
                        THEN 132 - (((u % 16) * 8 + 132) << ((u // 16) % 8))
                        ELSE (((u % 16) * 8 + 132) << ((u // 16) % 8)) - 132
                   END AS v
            FROM raw
        )
        SELECT doc_id, frame_index, n_samples,
               CAST(sum(v) AS BIGINT) AS linear_sum,
               CAST(min(v) AS INT) AS linear_min,
               CAST(max(v) AS INT) AS linear_max
        FROM dec
        GROUP BY doc_id, frame_index, n_samples
    """,
    # Byte-real WAV decode: the fixture's PCM payload IS the document
    # text's utf-8 bytes (pure-ASCII corpus), so each 80-sample frame's
    # stats are ascii() arithmetic over the matching substring.
    "e4_wav_pcm_frames": """
        WITH wav AS (
            SELECT doc_id, text, length(text) AS n
            FROM documents WHERE doc_id < 64 AND doc_id % 6 = 2
        ), frames AS (
            SELECT doc_id, text, n,
                   CAST(f.v AS INT) AS frame_index,
                   CAST(least(80, n - f.v * 80) AS INT) AS n_samples
            FROM wav, LATERAL (SELECT unnest(range((n + 79) // 80)) AS v) f
            WHERE n > 0
        ), samples AS (
            SELECT doc_id, frame_index, n_samples,
                   ascii(substring(text, frame_index * 80 + s.v + 1, 1)) AS v
            FROM frames,
                 LATERAL (SELECT unnest(range(n_samples)) AS v) s
        )
        SELECT doc_id, frame_index, n_samples,
               CAST(sum(v) AS BIGINT) AS sample_sum,
               CAST(min(v) AS INT) AS sample_min,
               CAST(max(v) AS INT) AS sample_max
        FROM samples
        GROUP BY doc_id, frame_index, n_samples
    """,
    "e4_image_tiles": """
        WITH images AS (
            SELECT doc_id,
                   CAST(64 + (doc_id % 4) * 32 AS INT) AS img_h,
                   CAST(64 + (doc_id % 3) * 32 AS INT) AS img_w
            FROM documents WHERE doc_id % 3 = 1
        ), tiled AS (
            SELECT doc_id, img_h, img_w,
                   img_w // 32 AS n_tx, ty.ty AS tile_y, tx.tx AS tile_x
            FROM images,
                 LATERAL (SELECT unnest(range(img_h // 32)) AS ty) ty,
                 LATERAL (SELECT unnest(range(img_w // 32)) AS tx) tx
        )
        SELECT doc_id, img_h, img_w,
               CAST(tile_y * n_tx + tile_x AS INT) AS patch_index,
               CAST(tile_y AS INT) AS tile_y,
               CAST(tile_x AS INT) AS tile_x,
               CAST(tile_x * 32 AS INT) AS x0,
               CAST(tile_y * 32 AS INT) AS y0
        FROM tiled
    """,
    "e4_audio_chunks": """
        WITH b AS (
            SELECT doc_id, octet_length(encode(text)) AS n_bytes
            FROM documents
        ), d AS (
            SELECT doc_id, CAST(n_bytes AS INT) AS n_bytes,
                   (n_bytes * 1000) // 8000 AS duration_ms
            FROM b
        ), frames AS (
            SELECT doc_id, n_bytes, duration_ms,
                   CAST(unnest(range(0, (duration_ms - 1) // 10 + 1)) AS INT)
                       AS frame_index
            FROM d WHERE duration_ms > 0
        )
        SELECT doc_id, n_bytes, frame_index,
               frame_index * 10 AS start_ms,
               least(10, duration_ms - frame_index * 10) AS frame_ms
        FROM frames
    """,
    "e4_decode_pipeline": """
        SELECT doc_id,
               CASE WHEN doc_id % 3 = 0 THEN 'application/pdf'
                    WHEN doc_id % 3 = 1 THEN 'image/png'
                    ELSE 'text/plain' END AS mime_type,
               CAST(length(text) AS BIGINT) AS n_bytes,
               substring(text, 1, 32) AS decoded_preview,
               CAST(doc_id % 8 + 8 AS INT) AS feature_dim
        FROM documents
    """,
    "e4_multimodal_join": """
        WITH n AS (
            SELECT vec_id,
                   sqrt(list_dot_product(list_transform(embedding, x -> CAST(x AS DOUBLE)),
                                         list_transform(embedding, x -> CAST(x AS DOUBLE)))) AS norm
            FROM embeddings
        )
        SELECT doc_id, lang, source,
               CAST(len(string_split(text, ' ')) AS INT) AS n_tokens,
               label,
               round(norm, 4) AS embedding_norm
        FROM documents
        JOIN embeddings ON doc_id = vec_id
        JOIN n USING (vec_id)
    """,
    "e4_binary_metadata": """
        SELECT doc_id,
               CASE WHEN doc_id % 3 = 0 THEN 'application/pdf'
                    WHEN doc_id % 3 = 1 THEN 'image/png'
                    ELSE 'text/plain' END AS mime_type,
               CAST(octet_length(encode(text)) AS INT) AS n_bytes,
               (octet_length(encode(text)) = n_chars) AS size_consistent
        FROM documents
    """,
    # e4_decode_pipeline: rows-only (pandas-UDF stub, not SQL-expressible).
    "e4_frame_sample": """
        WITH d AS (
            SELECT doc_id,
                   CASE WHEN doc_id % 3 = 0 THEN 'application/pdf'
                        WHEN doc_id % 3 = 1 THEN 'image/png'
                        ELSE 'text/plain' END AS mime_type,
                   octet_length(encode(text)) AS n_bytes,
                   CAST(floor(octet_length(encode(text)) / 256) AS INT) AS n_frames
            FROM documents
        )
        , f AS (
            SELECT doc_id, mime_type, n_bytes,
                   unnest(generate_series(0, n_frames - 1, 4)) AS frame_index
            FROM d WHERE n_frames > 0
        )
        SELECT doc_id, mime_type,
               CAST(frame_index AS INT) AS frame_index,
               frame_index * 256 AS byte_offset,
               least(256, n_bytes - frame_index * 256) AS frame_len
        FROM f
    """,
}
