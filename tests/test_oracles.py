"""Every registry query against its DuckDB oracle at sf0.01 (the test
tables next to the suite's default sf0.001 ones): row count, column names,
oracle column types and order-insensitive values, compared by
tools/check_oracles.py's `check` (the tool is a CLI over it)."""

from __future__ import annotations

import os

import pytest

import __spark_entry__ as entrymod
from tools.check_oracles import check, oracle_db

NAMES = sorted(entrymod.queries())


def test_every_query_has_an_oracle():
    assert sorted(entrymod.oracle_sql()) == NAMES


@pytest.fixture(scope="module")
def oracle(sf_dir):
    """(sf0.01 directory, DuckDB connection over its tables)."""
    sf = os.path.join(os.path.dirname(sf_dir), "sf0.01")
    con = oracle_db(sf)
    yield sf, con
    con.close()


@pytest.mark.parametrize("name", NAMES)
def test_query_matches_oracle(spark, oracle, name):
    sf, con = oracle
    assert check(spark, con, sf, name) == []
