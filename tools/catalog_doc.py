"""Regenerate CATALOG.md: one row per catalog query — name, oracle
status, module:line, and the docstring's first sentence. Run after
adding operators:

    python tools/catalog_doc.py > CATALOG.md
"""

from __future__ import annotations

import inspect
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from caseguarddatapipeline_spark.catalog import build_catalog  # noqa: E402


def first_sentence(doc: str | None) -> str:
    if not doc:
        return ""
    text = " ".join(doc.split())
    for stop in (". ", ".\n"):
        if stop in text:
            return text[: text.index(stop) + 1]
    return text if len(text) < 200 else text[:197] + "..."


def main() -> int:
    queries, oracles = build_catalog()
    print("# Query catalog")
    print()
    print(f"{len(queries)} queries, {len(oracles)} oracle-backed "
          "(generated by tools/catalog_doc.py — do not edit).")
    print()
    print("| query | oracle | source | summary |")
    print("|---|---|---|---|")
    for name, fn in queries.items():
        target = inspect.unwrap(fn)
        mod = target.__module__.rsplit(".", 1)[-1]
        try:
            line = inspect.getsourcelines(target)[1]
            src = f"{mod}.py:{line}"
        except OSError:
            src = f"{mod}.py"
        oracle = "sql" if name in oracles else "rows-only"
        summary = first_sentence(target.__doc__).replace("|", "\\|")
        print(f"| `{name}` | {oracle} | {src} | {summary} |")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
