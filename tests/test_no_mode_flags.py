"""No process-global mode flag (ROADMAP rule 3c), checked on the source.

A module-level flag that a tool flips is shared by every caller in the
process, so one invocation's mode leaks into the next. Tests may still
swap such values with ``monkeypatch.setattr``, which restores them.
"""

from __future__ import annotations

import ast
import re
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PACKAGE = "caseguarddatapipeline_spark"


def _parse(path: Path) -> ast.Module:
    return ast.parse(path.read_text(), filename=str(path))


def test_package_has_no_global_statement():
    offenders = [
        f"{path.relative_to(REPO)}:{node.lineno}"
        for path in sorted((REPO / PACKAGE).rglob("*.py"))
        for node in ast.walk(_parse(path))
        if isinstance(node, ast.Global)
    ]
    assert not offenders, f"`global` statements in the package: {offenders}"


def _package_names(tree: ast.Module) -> set[str]:
    """Local names bound by imports from the package."""
    names = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            names.update(
                a.asname or PACKAGE
                for a in node.names
                if a.name.split(".")[0] == PACKAGE
            )
        elif isinstance(node, ast.ImportFrom):
            if (node.module or "").split(".")[0] == PACKAGE:
                names.update(a.asname or a.name for a in node.names)
    return names


def test_tools_do_not_assign_package_constants():
    offenders = []
    for path in [*sorted((REPO / "tools").glob("*.py")), REPO / "bench.py"]:
        tree = _parse(path)
        package_names = _package_names(tree)
        for node in ast.walk(tree):
            if not (
                isinstance(node, ast.Attribute)
                and isinstance(node.ctx, ast.Store)
                and re.fullmatch(r"[A-Z][A-Z0-9_]*", node.attr)
            ):
                continue
            owner = node.value
            while isinstance(owner, ast.Attribute):
                owner = owner.value
            if isinstance(owner, ast.Name) and owner.id in package_names:
                offenders.append(f"{path.relative_to(REPO)}:{node.lineno}")
    assert not offenders, f"tools assign package mode flags: {offenders}"
