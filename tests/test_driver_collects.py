"""No unbounded driver collect (ROADMAP rule 5b), checked on the source.

A ``.collect()``/``.toPandas()`` pulls its whole result into the driver,
so on a corpus-sized frame it is an out-of-memory at scale that passes
every small-data test. Each one in ``operators/`` and ``streaming/`` must
either carry ``.limit(``/``.take(`` in its receiver chain or be listed in
``ALLOWED`` under (file, enclosing function) with the reason its result
stays small.
"""

from __future__ import annotations

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PACKAGE = REPO / "caseguarddatapipeline_spark"
SCANNED = ("operators", "streaming")
DRIVER_PULLS = {"collect", "toPandas"}
BOUNDING = {"limit", "take"}

# (file under the package, dotted enclosing function) -> what bounds it
ALLOWED = {
    ("operators/contracts.py", "diff_summary"): "statuses: one row per diff "
    "status (added/removed/changed)",
    ("operators/multimodal.py", "_binaryfile_fixture_dir"): "unique-id "
    "filter: doc_id < _BINFIX_TOTAL fixture documents",
    ("operators/similarity.py", "_query_vectors"): "unique-id filter: "
    "vec_id < upper, at most the 5 queries",
    ("operators/similarity.py", "_lloyd_round"): "k cells: one centroid "
    "row per cell",
    ("operators/similarity.py", "publish_ivf_index"): "k cells: unique-id "
    "filter vec_id < _IVF1_K seeds",
    ("operators/similarity.py", "_load_ivf_index._load"): "k cells: the "
    "quantizer snapshot's seed/round1/round2 centroid rows",
    ("operators/similarity.py", "_ivf_candidates_arrow"): "the 5 queries "
    "(the fixed query set)",
    ("operators/vecindex.py", "_replace_cells"): "k cells: distinct cells "
    "the batch touches",
    ("operators/vecindex.py", "s12_postings_search"): "the 5 queries × "
    "nprobe probe cells",
    ("streaming/assembly.py", "run_assembly_stream.handle_batch"): "sources: "
    "per-source token tallies",
    ("streaming/jobs.py", "make_batch_handler.handle_batch"): "failed jobs: "
    "retry sets are small",
}


def _receiver_methods(call: ast.Call) -> set[str]:
    """Method names called along the receiver chain of ``x.a().b().collect()``."""
    names, node = set(), call.func.value
    while True:
        if isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute):
            names.add(node.func.attr)
            node = node.func.value
        elif isinstance(node, (ast.Attribute, ast.Subscript)):
            node = node.value
        else:
            return names


def _unbounded_pulls(source: str) -> list[tuple[str, int]]:
    """(dotted enclosing function, line) of every unbounded driver pull."""
    found: list[tuple[str, int]] = []

    class Visitor(ast.NodeVisitor):
        def __init__(self) -> None:
            self.scope: list[str] = []

        def visit_FunctionDef(self, node) -> None:
            self.scope.append(node.name)
            self.generic_visit(node)
            self.scope.pop()

        visit_AsyncFunctionDef = visit_FunctionDef

        def visit_Call(self, node: ast.Call) -> None:
            if (
                isinstance(node.func, ast.Attribute)
                and node.func.attr in DRIVER_PULLS
                and not _receiver_methods(node) & BOUNDING
            ):
                found.append((".".join(self.scope) or "<module>", node.lineno))
            self.generic_visit(node)

    Visitor().visit(ast.parse(source))
    return found


def _package_pulls() -> dict[tuple[str, str], list[int]]:
    sites: dict[tuple[str, str], list[int]] = {}
    for sub in SCANNED:
        for path in sorted((PACKAGE / sub).rglob("*.py")):
            rel = str(path.relative_to(PACKAGE))
            for fn, line in _unbounded_pulls(path.read_text()):
                sites.setdefault((rel, fn), []).append(line)
    return sites


def test_scanner_tells_bounded_from_unbounded():
    src = (
        "def f(df):\n"
        "    a = df.orderBy('x').limit(5).collect()\n"
        "    b = df.select('x').toPandas()\n"
        "    def g():\n"
        "        return df.groupBy('k').count().collect()\n"
    )
    assert _unbounded_pulls(src) == [("f", 3), ("f.g", 5)]


def test_every_driver_collect_is_bounded_or_allowlisted():
    unlisted = {
        f"{rel}:{lines} ({fn})"
        for (rel, fn), lines in _package_pulls().items()
        if (rel, fn) not in ALLOWED
    }
    assert not unlisted, (
        f"unbounded driver collects (add .limit() or an ALLOWED reason): "
        f"{sorted(unlisted)}"
    )


def test_collect_allowlist_is_live():
    # an entry whose function no longer pulls unbounded rows is stale: it
    # would wave a future corpus-sized collect there through unreviewed
    stale = sorted(set(ALLOWED) - set(_package_pulls()))
    assert not stale, f"ALLOWED entries with no unbounded collect: {stale}"
