"""Catalog-wide tests: every name against its DuckDB oracle at sf0.001,
the driver contract, and catalog assembly (the reference's TDD-interface
style, SURVEY.md §5, applied to the driver contract)."""

from __future__ import annotations

import pytest

from caseguarddatapipeline_spark.catalog import build_catalog

QUERIES, ORACLES = build_catalog()

# Queries allowed to be empty at sf0.001 (data simply contains no such rows).
MAY_BE_EMPTY = {"j2_deactivated_anti"}


def test_catalog_is_nonempty():
    assert len(QUERIES) >= 40
    # every oracle belongs to a query
    assert set(ORACLES) <= set(QUERIES)


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_runs_and_returns_rows(spark, sf_dir, oracle_problems, name):
    """Every catalog name at sf0.001: an oracle-backed name must equal its
    DuckDB oracle (``tools.parity.compare``) and return rows unless it is
    in ``MAY_BE_EMPTY``; the rows-only name must return rows with at
    least two columns."""
    df = QUERIES[name](spark, sf_dir)
    if name in ORACLES:
        assert oracle_problems(df, name, may_be_empty=name in MAY_BE_EMPTY) == []
        return
    assert len(df.columns) >= 2, f"{name}: too few columns"
    assert df.count() > 0, f"{name}: returned no rows"


def test_survey_inventory_covered():
    """Every SURVEY.md §2 operator ID maps to a catalog name or a library
    symbol (``tools/coverage_check.py``)."""
    from tools import coverage_check

    assert coverage_check.main() == 0


def test_entry_contract(spark):
    import __spark_entry__ as mod

    out = mod.entry(spark)
    rows = out.collect()
    assert len(rows) == 4  # all four change types materialize
    assert {r["change_type"] for r in rows} == {
        "new",
        "deactivated",
        "update",
        "unchanged",
    }
    assert set(mod.queries()) == set(QUERIES)
    assert set(mod.oracle_sql()) == set(ORACLES)


def test_driver_window_all_oracle_backed():
    """The driver verifies the first 50 catalog entries: every one of
    those slots must have a value oracle (a rows-only entry can never
    turn its slot green — the round-2 lesson with e2_ivf_search), and
    the window must actually be full."""
    window = list(QUERIES)[:50]
    assert len(window) == 50
    missing = [n for n in window if n not in ORACLES]
    assert not missing, f"window slots without oracles: {missing}"


def test_aliases_live_in_one_table():
    """A second catalog name for one body is registered only in
    ``catalog.ALIASES``: no operator module maps two names to one
    function object or registers a function defined in another module."""
    from caseguarddatapipeline_spark.catalog import _registered_modules

    problems = []
    for module in _registered_modules():
        seen = {}
        for name, fn in module.QUERIES.items():
            if id(fn) in seen:
                problems.append(f"{name} and {seen[id(fn)]} share one body")
            seen[id(fn)] = name
            if fn.__module__ != module.__name__:
                problems.append(f"{module.__name__} registers {fn.__module__}.{name}")
    assert not problems, problems


def test_catalog_rejects_an_alias_of_a_missing_name(monkeypatch):
    """An ``ALIASES`` entry whose canonical name is absent fails catalog
    assembly."""
    from caseguarddatapipeline_spark import catalog

    monkeypatch.setattr(catalog, "ALIASES", {**catalog.ALIASES, "x_alias": "no_such_query"})
    with pytest.raises(AssertionError, match="alias of a missing name: x_alias"):
        catalog.build_catalog()
