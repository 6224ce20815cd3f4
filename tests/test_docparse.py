"""The document-extraction seam (operators/docparse.py): every byte-real
document op against its oracle, the magic-byte decode preview over each
admitted format, and the rule that only one module routes bytes to the
parsers."""

from __future__ import annotations

import ast
from pathlib import Path

import pytest

PACKAGE = Path(__file__).resolve().parent.parent / "caseguarddatapipeline_spark"

TEXT_OPS = [
    "e4_pdf_text",
    "e4_docx_text",
    "e4_pptx_text",
    "e4_xlsx_cells",
    "e4_eml_text",
    "e4_msg_text",
    "e4_doc_text",
    "e4_xls_cells",
    "e4_ppt_text",
    "e4_rtf_text",
]


@pytest.mark.parametrize(
    "name",
    TEXT_OPS
    + [
        "u3_binary_dispatch",
        "u3_format_dispatch",
        "e4_decode_pipeline",
        "e4_zip_expand",
    ],
)
def test_document_op_matches_oracle(spark, sf_dir, oracle_problems, name):
    from caseguarddatapipeline_spark.catalog import build_catalog

    queries, _ = build_catalog()
    assert oracle_problems(queries[name](spark, sf_dir), name) == []


def _builders():
    from caseguarddatapipeline_spark.operators.biffops import build_xls
    from caseguarddatapipeline_spark.operators.cfbops import build_msg
    from caseguarddatapipeline_spark.operators.docxops import (
        build_docx,
        build_pptx,
    )
    from caseguarddatapipeline_spark.operators.mailops import build_eml
    from caseguarddatapipeline_spark.operators.pdfops import build_pdf
    from caseguarddatapipeline_spark.operators.pptops import build_ppt
    from caseguarddatapipeline_spark.operators.rtfops import build_rtf
    from caseguarddatapipeline_spark.operators.wordops import build_doc
    from caseguarddatapipeline_spark.operators.xlsxops import build_xlsx

    return {
        "pdf": build_pdf,
        "docx": build_docx,
        "xlsx": build_xlsx,
        "pptx": build_pptx,
        "eml": lambda t: build_eml(t, "case document 7"),
        "msg": lambda t: build_msg("case document 7", t),
        "doc": build_doc,
        "xls": build_xls,
        "ppt": build_ppt,
        "rtf": build_rtf,
    }


def test_decode_one_previews_every_admitted_format():
    """Each of the ten admitted container formats decodes to the first 32
    characters of the text it was built from."""
    from caseguarddatapipeline_spark.operators.multimodal import _decode_one

    text = "the claimant filed a second witness statement before the hearing"
    builders = _builders()
    assert len(builders) == 10
    for fmt, build in builders.items():
        assert _decode_one(build(text)) == text[:32], fmt


def test_decode_one_corrupt_container_falls_back_to_preview():
    """A payload that carries the ZIP or OLE2 magic but no parser accepts
    degrades to the utf-8 preview instead of failing the stage."""
    from caseguarddatapipeline_spark.operators.docxops import build_docx
    from caseguarddatapipeline_spark.operators.multimodal import _decode_one
    from caseguarddatapipeline_spark.operators.wordops import build_doc

    text = "a body long enough to be cut at thirty-two characters"
    ole2 = b"\xd0\xcf\x11\xe0\xa1\xb1\x1a\xe1"
    cases = [
        b"PK\x03\x04" + b"not a zip archive at all, just words",
        build_docx(text)[:80],
        ole2 + b"not a compound file, just words here",
        build_doc(text)[:700],
    ]
    for payload in cases:
        assert _decode_one(payload) == payload[:32].decode(
            "utf-8", errors="replace"
        )


def _routing_violations() -> list[str]:
    """Package files under operators/ and streaming/ that route bytes to a
    parser themselves: an ``extract_*`` import outside docparse.py, or a
    ``parsed = [...]`` list built to assemble a frame."""
    out = []
    for sub in ("operators", "streaming"):
        for path in sorted((PACKAGE / sub).glob("*.py")):
            tree = ast.parse(path.read_text())
            rel = f"{sub}/{path.name}"
            for node in ast.walk(tree):
                if isinstance(node, ast.ImportFrom) and path.name != "docparse.py":
                    for a in node.names:
                        if a.name.startswith("extract_"):
                            out.append(f"{rel}:{node.lineno} imports {a.name}")
                elif (
                    isinstance(node, ast.Attribute)
                    and node.attr.startswith("extract_")
                    and path.name != "docparse.py"
                ):
                    out.append(f"{rel}:{node.lineno} reaches {node.attr}")
                elif isinstance(node, ast.Assign) and isinstance(
                    node.value, ast.ListComp
                ):
                    if any(
                        isinstance(t, ast.Name) and t.id == "parsed"
                        for t in node.targets
                    ):
                        out.append(f"{rel}:{node.lineno} builds parsed = [...]")
    return out


def test_one_module_routes_bytes_to_parsers():
    """docparse.py holds the one extension → parser table and the one
    per-file kernel; no other operator or streaming module imports a
    parser's ``extract_*`` function or builds its own parsed-rows frame."""
    assert _routing_violations() == []
