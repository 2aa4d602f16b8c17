"""Round-3u: contingency-cell residual drill-down."""

from __future__ import annotations

import math

from schema_validata_spark.operators.statqa import crosstab_residuals


# --------------------------------------------------- crosstab_residuals

def test_crosstab_hand_case(spark):
    # strong diagonal association: (x, 1) and (y, 2) over-represented
    rows = [("x", "1")] * 20 + [("y", "2")] * 20 \
        + [("x", "2")] * 5 + [("y", "1")] * 5
    df = spark.createDataFrame(rows, "a string, b string")
    got = {(r["value_a"], r["value_b"]): r
           for r in crosstab_residuals(df, "a", "b").collect()}
    x1 = got[("x", "1")]
    assert x1["n"] == 20
    assert x1["expected"] == 12.5              # 25*25/50
    e, ra, cb, t = 12.5, 25.0, 25.0, 50.0
    den = math.sqrt(e * (1 - ra / t) * (1 - cb / t))
    assert abs(x1["residual"] - round((20 - e) / den, 6)) < 1e-9
    assert x1["flagged"]
    # symmetric under-represented cell mirrors the residual
    assert abs(got[("x", "2")]["residual"] + x1["residual"]) < 1e-9
    # residuals of a 2x2 table all share magnitude
    assert got[("y", "2")]["flagged"] and got[("y", "1")]["flagged"]


def test_crosstab_independent_not_flagged(spark):
    rows = [(a, b) for a in ("x", "y") for b in ("1", "2")] * 10
    df = spark.createDataFrame(rows, "a string, b string")
    got = crosstab_residuals(df, "a", "b").collect()
    assert all(not r["flagged"] for r in got)
    assert all(abs(r["residual"]) < 1e-6 for r in got)


def test_crosstab_nulls_excluded(spark):
    rows = [("x", "1"), ("x", None), (None, "1")]
    df = spark.createDataFrame(rows, "a string, b string")
    got = crosstab_residuals(df, "a", "b").collect()
    assert len(got) == 1 and got[0]["n"] == 1
    # single-cell table: den = 0 -> residual NULL, not flagged
    assert got[0]["residual"] is None and got[0]["flagged"] is False
