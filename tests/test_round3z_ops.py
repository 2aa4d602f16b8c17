"""Round-3z: NULL-island runs."""

from __future__ import annotations

import pytest

from schema_validata_spark.operators.sequence import null_runs


# ------------------------------------------------------------ null_runs

def _seq(spark, rows):
    return spark.createDataFrame(rows, "p string, i int, a string, b string")


def test_null_runs_hand_case(spark):
    rows = [("c1", 1, "x", None),
            ("c1", 2, None, None),
            ("c1", 3, None, "y"),
            ("c1", 4, None, None),
            ("c1", 5, "x", None)]
    got = {(r["partition"], r["column_name"]): r
           for r in null_runs(_seq(spark, rows), "p", ["i"],
                              ["a", "b"], min_run=2).collect()}
    a = got[("c1", "a")]
    assert (a["n_runs"], a["max_run"], a["n_null_total"]) == (1, 3, 3)
    b = got[("c1", "b")]
    # b: NULL runs are rows 1-2 (len 2) and 4-5 (len 2)
    assert (b["n_runs"], b["max_run"], b["n_null_total"]) == (2, 2, 4)


def test_null_runs_scattered_not_flagged(spark):
    rows = [("c1", i, None if i % 2 == 0 else "v", "z")
            for i in range(10)]
    got = null_runs(_seq(spark, rows), "p", ["i"], ["a", "b"],
                    min_run=2).collect()
    assert got == []                       # alternating: max run 1


def test_null_runs_cross_partition_isolation(spark):
    rows = [("c1", 1, None, "z"), ("c1", 2, None, "z"),
            ("c2", 1, None, "z"), ("c2", 2, "v", "z")]
    got = {(r["partition"], r["column_name"]): r["max_run"]
           for r in null_runs(_seq(spark, rows), "p", ["i"], ["a"],
                              min_run=2).collect()}
    # c1 has a 2-run; c2's single NULL does not merge across keys
    assert got == {("c1", "a"): 2}


def test_null_runs_validation(spark):
    df = _seq(spark, [])
    with pytest.raises(ValueError):
        null_runs(df, "p", ["i"], [], 2)
    with pytest.raises(ValueError):
        null_runs(df, "p", ["i"], ["a"], 0)
