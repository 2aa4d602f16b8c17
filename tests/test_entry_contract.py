"""Driver-contract test: every ``queries()`` entry must match its
``oracle_sql()`` twin on DuckDB (row count, sorted column names,
order-insensitive value multiset) — the same comparison the driver's
correctness gate performs at sf0.01 (here at sf0.001 for speed;
scripts/check_oracle.py runs the full matrix at any sf)."""

import importlib.util
import math
import os
import sys

import duckdb
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import __spark_entry__ as entrymod  # noqa: E402


def _check_oracle():
    spec = importlib.util.spec_from_file_location(
        "check_oracle", os.path.join(ROOT, "scripts", "check_oracle.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


TABLES = _check_oracle().TABLES


def _norm(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else f"{v:.9g}"
    return str(v)


def _multiset(colnames, rows):
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    return sorted(tuple(_norm(r[i]) for i in order) for r in rows)


@pytest.fixture(scope="module")
def con(sf_dir):
    c = duckdb.connect()
    for t in TABLES:
        c.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return c


ORACLED = sorted(entrymod.queries())


def test_every_oracle_has_a_query():
    """Queries and oracles pair up one to one: a query without an oracle
    would go unchecked, and an oracle left behind by a deleted query
    would never run."""
    assert set(entrymod.oracle_sql()) == set(entrymod.queries())


@pytest.mark.parametrize("name", ORACLED)
def test_query_matches_oracle(spark, sf_dir, con, name):
    df = entrymod.queries()[name](spark, sf_dir)
    scols, srows = df.columns, [tuple(r) for r in df.collect()]
    rel = con.sql(entrymod.oracle_sql()[name])
    ocols, orows = rel.columns, rel.fetchall()
    assert sorted(scols) == sorted(ocols)
    assert len(srows) == len(orows)
    assert _multiset(scols, srows) == _multiset(ocols, orows)


def test_entry_smoke(spark, monkeypatch):
    monkeypatch.setattr(entrymod, "DEFAULT_SF",
                        os.environ.get("SPARK_GRAFT_TEST_SF",
                                       "/root/testdata/sf0.001"))
    df = entrymod.entry(spark)
    assert df.count() > 0
    assert "error_type" in df.columns
