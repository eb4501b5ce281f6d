"""Run every registered query against its DuckDB oracle — the same gate
the driver applies (at sf0.01); tests default to sf0.001 for speed."""

from __future__ import annotations

import pytest

import __spark_entry__ as entrymod
from tests.util import assert_matches_oracle, duck_connection

QUERIES = entrymod.queries()
ORACLE = entrymod.oracle_sql()


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = duck_connection(sf_dir)
    yield con
    con.close()


def test_every_query_has_callable():
    assert QUERIES, "no queries registered"


@pytest.mark.parametrize("name", sorted(ORACLE))
def test_oracle_keys_subset_of_queries(name):
    assert name in QUERIES


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_runs(name):
    """Every registered query has an oracle, so
    ``test_query_matches_oracle`` builds and runs each one; with
    ``test_oracle_keys_subset_of_queries`` this pins
    ``set(QUERIES) == set(ORACLE)``."""
    assert name in ORACLE


@pytest.mark.parametrize("name", sorted(ORACLE))
def test_query_matches_oracle(spark, sf_dir, duck, name):
    df = QUERIES[name](spark, sf_dir)
    assert_matches_oracle(df, duck, ORACLE[name], name)


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    assert df.count() > 0
