"""Catalog-wide smoke + shape tests (the reference's TDD-interface style,
SURVEY.md §5, applied to the driver contract)."""

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
def test_query_runs_and_returns_rows(spark, sf_dir, name):
    df = QUERIES[name](spark, sf_dir)
    assert len(df.columns) >= 2, f"{name}: too few columns"
    n = df.count()
    if name not in MAY_BE_EMPTY:
        assert n > 0, f"{name}: returned no rows"


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


def test_window_rotation_is_stalest_first():
    """Round-12 rotation guarantee: after the pinned entries, the window
    holds the stalest oracle-backed queries by (last hash-green round,
    name) — so every query re-enters the window within
    ceil(N / (50 - pins)) rounds. A regression that re-introduces a
    hand-ordered window (or forgets to regenerate _window_state after a
    round) shows up as a fresher-than-necessary slot here."""
    from caseguarddatapipeline_spark._window_state import LAST_GREEN
    from caseguarddatapipeline_spark.catalog import _PINNED

    window = list(QUERIES)[:50]
    assert window[: len(_PINNED)] == _PINNED
    rotation = window[len(_PINNED) :]
    keys = [(LAST_GREEN.get(n, 0), n) for n in rotation]
    assert keys == sorted(keys), "rotation slots are not stalest-first"
    # nothing OUTSIDE the window may be staler than anything inside it
    outside = [
        n
        for n in list(QUERIES)[50:]
        if n in ORACLES and n not in _PINNED
    ]
    if outside and rotation:
        min_outside = min((LAST_GREEN.get(n, 0), n) for n in outside)
        assert keys[-1] <= min_outside, (
            "a staler query was left outside the window: "
            f"{min_outside} vs newest inside {keys[-1]}"
        )


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
    assembly, like a mistyped pin."""
    from caseguarddatapipeline_spark import catalog

    monkeypatch.setattr(catalog, "ALIASES", {**catalog.ALIASES, "x_alias": "no_such_query"})
    with pytest.raises(AssertionError, match="alias of a missing name: x_alias"):
        catalog.build_catalog()


def test_window_rejects_a_pinned_name_missing_from_the_catalog(monkeypatch):
    """A mistyped ``_PINNED`` name fails catalog assembly instead of
    silently dropping out of the correctness window."""
    from caseguarddatapipeline_spark import catalog

    monkeypatch.setattr(catalog, "_PINNED", [*catalog._PINNED, "no_such_query"])
    with pytest.raises(AssertionError, match="not in the catalog: no_such_query"):
        catalog._window(list(QUERIES), ORACLES)
