from __future__ import annotations

import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from caseguarddatapipeline_spark.session import get_spark  # noqa: E402

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", master="local[4]", shuffle_partitions=4)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def oracle_problems(sf_dir):
    """``problems(df, name)``: the differences between ``df`` and the
    catalog's DuckDB oracle ``name`` over the same parquet files, compared
    the way tools/parity.py does. ``df`` must return rows unless
    ``may_be_empty``."""
    from caseguarddatapipeline_spark.catalog import build_catalog
    from tools.parity import compare, oracle_connection

    oracles = build_catalog()[1]
    con = oracle_connection(sf_dir)

    def problems(df, name, may_be_empty=False):
        got = df.toPandas()
        assert may_be_empty or len(got) > 0, f"{name}: returned no rows"
        return compare(got, con.execute(oracles[name]).fetchdf())

    yield problems
    con.close()
