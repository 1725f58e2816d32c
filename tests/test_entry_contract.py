"""Guards the driver contract: entry() produces rows with a stable
schema; every queries() entry runs at sf0.001; every oracle_sql() entry
is valid DuckDB SQL over the pre-registered views. A regression here is
a failed round even if the library itself is healthy."""

from __future__ import annotations

import os
import warnings

import duckdb
import pytest

import __spark_entry__ as entrymod

from .conftest import TESTDATA

SF = os.path.join(TESTDATA, "sf0.001")
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert df.columns == ["error_code", "cnt"]


def test_oracles_cover_queries():
    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    assert set(oracles) <= set(qs)
    # every SQL-expressible operator family has an oracle
    assert len(oracles) >= 19


def test_entry_compiles_without_warnings():
    # an invalid escape sequence is a DeprecationWarning on 3.11, a
    # SyntaxWarning on 3.12+ and slated to become a SyntaxError
    with open(entrymod.__file__, encoding="utf-8") as fh:
        source = fh.read()
    with warnings.catch_warnings():
        warnings.simplefilter("error", SyntaxWarning)
        warnings.simplefilter("error", DeprecationWarning)
        compile(source, entrymod.__file__, "exec")


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")
    return con


@pytest.mark.parametrize("name", sorted(entrymod.queries()))
def test_query_runs(spark, name):
    fn = entrymod.queries()[name]
    df = fn(spark, SF)
    assert df.count() >= 0


@pytest.mark.parametrize("name", sorted(entrymod.oracle_sql()))
def test_oracle_parses_and_runs(duck, name):
    rel = duck.sql(entrymod.oracle_sql()[name])
    rel.fetchall()
