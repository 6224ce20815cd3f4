"""The document-extraction seam: one parser registry, one per-file text
kernel, one by-format dispatch kernel and one ``binaryFile`` front end.

The reference extracts a case document's text at one place
(docproc/format_config.py:147-230): each admitted extension goes to its
parser, in a priority class from :44-53 (pdf/doc/docx high, eml/msg
medium, spreadsheets, presentations and rtf low). This module is that
place for the engine's ten byte-real parsers:

- ``PARSERS``: extension → (magic prefix, priority class, extractor
  name, ``extract_*`` function). Order matters to ``sniff_text``: the
  OOXML formats share the ZIP magic and are tried docx, xlsx, pptx; the
  OLE2 formats share the compound-file magic and are tried msg, doc,
  xls, ppt (each parser rejects a container that lacks its stream).
- ``text_stage``: one Arrow-batched kernel that runs one parser per
  file and fills a schema from the parser's result dict.
- ``dispatch_stage``: one kernel that groups each batch by format and
  runs that format's parser over the group — one dispatch per (batch,
  format), not per row.
- ``file_docs``: ``binaryFile`` rows → ``doc_id, ext, payload``, with the
  doc id taken from the ``doc_<id>.<ext>`` file name.

Every stage is partition-local: one file = one row = one parser call, no
shuffle before or after the decode.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator, Mapping
from typing import NamedTuple

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from .biffops import extract_xls
from .cfbops import extract_msg
from .docxops import extract_docx_text, extract_pptx_text
from .mailops import extract_eml
from .pdfops import extract_pdf_text
from .pptops import extract_ppt
from .rtfops import extract_rtf
from .wordops import extract_doc
from .xlsxops import extract_xlsx


class Parser(NamedTuple):
    magic: bytes
    priority: str
    extractor: str
    extract: Callable[[bytes], dict[str, object]]

    def texts(self, payloads: pd.Series) -> pd.Series:
        """The extracted text of every payload in ``payloads``."""
        return payloads.map(lambda b: str(self.extract(bytes(b))["text"]))


_ZIP = b"PK\x03\x04"
_OLE2 = b"\xd0\xcf\x11\xe0\xa1\xb1\x1a\xe1"

PARSERS: dict[str, Parser] = {
    "pdf": Parser(b"%PDF-", "high", "pdf_xref_flate", extract_pdf_text),
    "docx": Parser(_ZIP, "high", "docx_zip_ooxml", extract_docx_text),
    "xlsx": Parser(_ZIP, "low", "xlsx_zip_sst", extract_xlsx),
    "pptx": Parser(_ZIP, "low", "pptx_drawingml", extract_pptx_text),
    "msg": Parser(_OLE2, "medium", "msg_cfb_props", extract_msg),
    "doc": Parser(_OLE2, "high", "doc_fib_pieces", extract_doc),
    "xls": Parser(_OLE2, "low", "xls_biff8_sst", extract_xls),
    "ppt": Parser(_OLE2, "low", "ppt_record_tree", extract_ppt),
    "rtf": Parser(b"{\\rtf", "low", "rtf_tokenizer", extract_rtf),
    "eml": Parser(b"From: ", "medium", "eml_rfc5322", extract_eml),
}


def sniff_text(data: bytes) -> str:
    """Text of ``data`` from the first parser whose magic prefixes it and
    which accepts it, in ``PARSERS`` order. Raises ValueError when no
    parser accepts it; errors other than a parser's own ValueError (a
    corrupt deflate stream, a truncated header) propagate."""
    for p in PARSERS.values():
        if data.startswith(p.magic):
            try:
                return str(p.extract(data)["text"])
            except ValueError:
                continue
    raise ValueError("no admitted parser accepts this payload")


_PANDAS_DTYPES = {
    "integer": "int32",
    "long": "int64",
    "double": "float64",
    "string": object,
}


def text_stage(
    docs: DataFrame,
    extract: Callable[[bytes], dict[str, object]],
    schema: StructType,
    text_col: str,
) -> DataFrame:
    """Run ``extract`` on every ``payload`` of ``docs`` (doc_id, payload)
    in one mapInPandas stage. ``doc_id`` passes through; ``text_col``
    takes the result's ``"text"``, ``n_chars`` its length, and every
    other schema field the result's value under the field's name."""
    fields = [(f.name, _PANDAS_DTYPES[f.dataType.typeName()]) for f in schema.fields]

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            results = [extract(bytes(b)) for b in pdf["payload"]]
            cols = {}
            for name, dtype in fields:
                if name == "doc_id":
                    cols[name] = pdf["doc_id"]
                    continue
                if name == text_col:
                    values = [r["text"] for r in results]
                elif name == "n_chars":
                    values = [len(r["text"]) for r in results]
                else:
                    values = [r[name] for r in results]
                cols[name] = pd.Series(values, dtype=dtype)
            yield pd.DataFrame(cols)

    return docs.select("doc_id", "payload").mapInPandas(kernel, schema=schema)


def dispatch_stage(
    docs: DataFrame, parsers: Mapping[str, object], schema: StructType
) -> DataFrame:
    """Group each batch of ``docs`` (doc_id, doc_format, payload) by
    ``doc_format`` and run that format's parser over the group. A parser
    is any ``parsers`` value with ``priority``, ``extractor`` and
    ``texts(payloads) -> texts`` (a ``Parser``, or a vectorized text
    decoder). Each ``schema`` field is one of doc_id, doc_format,
    priority_class, extractor, extracted_text, and n_chars or
    n_chars_out (the text length)."""
    names = [f.name for f in schema.fields]

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for fmt, idx in pdf.groupby("doc_format").groups.items():
                p = parsers[fmt]
                texts = p.texts(pdf["payload"].loc[idx])
                n_chars = texts.str.len().astype("int64")
                cols = {
                    "doc_id": pdf["doc_id"].loc[idx],
                    "doc_format": fmt,
                    "priority_class": p.priority,
                    "extractor": p.extractor,
                    "extracted_text": texts,
                    "n_chars": n_chars,
                    "n_chars_out": n_chars,
                }
                out.append(pd.DataFrame({n: cols[n] for n in names}))
            yield pd.concat(out) if out else pd.DataFrame(columns=names)

    return docs.select("doc_id", "doc_format", "payload").mapInPandas(
        kernel, schema=schema
    )


def file_docs(files: DataFrame) -> DataFrame:
    """``binaryFile`` rows (path, content, ...) → doc_id, ext, payload.
    The doc id comes from the ``doc_<id>.<ext>`` file name. A file outside
    that convention fails the stage: a silently NULL doc_id would collapse
    document identities downstream."""
    extracted = F.regexp_extract(F.col("path"), r"doc_(\d+)\.", 1)
    return files.select(
        F.when(
            extracted == "",
            F.raise_error(
                F.concat(
                    F.lit("file name does not carry a doc_<id> identity: "),
                    F.col("path"),
                )
            ),
        )
        .otherwise(extracted.cast("long"))
        .alias("doc_id"),
        F.element_at(F.split(F.col("path"), r"\."), -1).alias("ext"),
        F.col("content").alias("payload"),
    )


def _fixture_docs(spark: SparkSession, sf_dir: str, glob: str) -> DataFrame:
    """``file_docs`` over the fixture's files narrowed by ``glob`` — the
    front end of every byte-real e4 op."""
    from .multimodal import _binaryfile_fixture_dir

    files = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", glob)
        .load(_binaryfile_fixture_dir(spark, sf_dir))
    )
    return file_docs(files)
