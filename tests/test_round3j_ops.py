"""Round-3j operators: Wilson-interval rates, quantized shape moments
(skewness/kurtosis)."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from schema_validata_spark.operators.statqa import (moment_stats,
                                                    wilson_rates)


# -------------------------------------------------------- wilson_rates

def _flags(spark, rows):
    return spark.createDataFrame(rows, "g string, hit boolean")


def _wilson(n, k, z=1.959964):
    p = k / n
    denom = 1.0 + z * z / n
    center = (p + z * z / (2.0 * n)) / denom
    half = (z * math.sqrt(p * (1.0 - p) / n
                          + z * z / (4.0 * n * n))) / denom
    return round(center - half, 6), round(center + half, 6)


def test_wilson_hand_case(spark):
    rows = ([("tool_a", True)] * 3 + [("tool_a", False)] * 7
            + [("tool_b", True)])
    got = {r["group"]: r for r in wilson_rates(
        _flags(spark, rows), F.col("hit"), "g").collect()}
    a = got["tool_a"]
    assert (a["n"], a["k"], a["rate"]) == (10, 3, 0.3)
    lo, hi = _wilson(10, 3)
    assert abs(a["wilson_lo"] - lo) < 1e-9
    assert abs(a["wilson_hi"] - hi) < 1e-9
    b = got["tool_b"]                       # n=1, k=1: inside [0, 1]
    assert 0.0 <= b["wilson_lo"] <= b["wilson_hi"] <= 1.0
    assert b["rate"] == 1.0


def test_wilson_interval_narrows_with_n(spark):
    rows = ([("small", True)] * 2 + [("small", False)] * 2
            + [("big", True)] * 200 + [("big", False)] * 200)
    got = {r["group"]: r["wilson_hi"] - r["wilson_lo"]
           for r in wilson_rates(_flags(spark, rows),
                                 F.col("hit"), "g").collect()}
    assert got["big"] < got["small"] / 3


def test_wilson_null_exclusions(spark):
    rows = [("g1", True), ("g1", None), (None, True)]
    got = wilson_rates(_flags(spark, rows), F.col("hit"), "g").collect()
    assert len(got) == 1
    assert (got[0]["n"], got[0]["k"]) == (1, 1)


# -------------------------------------------------------- moment_stats

def _vals(spark, rows):
    return spark.createDataFrame(rows, "g string, v double")


def _expected_moments(vals, unit=0.001):
    qs = [round(v / unit) for v in vals]
    n = float(len(qs))
    s1, s2 = float(sum(qs)), float(sum(q * q for q in qs))
    s3 = float(sum(q ** 3 for q in qs))
    s4 = float(sum(q ** 4 for q in qs))
    m = s1 / n
    m2 = s2 / n - m * m
    m3 = s3 / n - 3.0 * m * s2 / n + 2.0 * m ** 3
    m4 = s4 / n - 4.0 * m * s3 / n + 6.0 * m * m * s2 / n - 3.0 * m ** 4
    return (round(m * unit, 6), round(math.sqrt(max(m2, 0.0)) * unit, 6),
            round(m3 / m2 ** 1.5, 6), round(m4 / (m2 * m2) - 3.0, 6))


def test_moment_hand_case(spark):
    vals = [1.0, 2.0, 2.0, 3.0, 10.0]          # right-skewed
    r = moment_stats(_vals(spark, [("g", v) for v in vals]),
                     "v", "g").collect()[0]
    mean, std, skew, kurt = _expected_moments(vals)
    assert r["n"] == 5
    assert abs(r["mean"] - mean) < 1e-9
    assert abs(r["std"] - std) < 1e-9
    assert abs(r["skewness"] - skew) < 1e-9
    assert abs(r["ex_kurtosis"] - kurt) < 1e-9
    assert r["skewness"] > 1.0                  # the outlier skews right


def test_moment_symmetric_and_constant(spark):
    rows = ([("sym", v) for v in (1.0, 2.0, 3.0, 4.0, 5.0)]
            + [("const", 7.0)] * 4 + [("single", 1.0)])
    got = {r["group"]: r for r in moment_stats(
        _vals(spark, rows), "v", "g").collect()}
    assert got["sym"]["skewness"] == 0.0
    # uniform-ish 5-point grid: platykurtic (negative excess kurtosis)
    assert got["sym"]["ex_kurtosis"] < 0
    c = got["const"]
    assert (c["std"], c["skewness"], c["ex_kurtosis"]) == (0.0, None, None)
    s = got["single"]
    assert (s["n"], s["skewness"]) == (1, None)


def test_moment_nulls_unit_validation(spark):
    rows = [("g", 1.0), ("g", None), (None, 5.0), ("g", 2.0)]
    r = moment_stats(_vals(spark, rows), "v", "g").collect()
    assert len(r) == 1 and r[0]["n"] == 2
    with pytest.raises(ValueError):
        moment_stats(_vals(spark, rows), "v", "g", unit=0)


def test_moment_single_exchange_plan(spark):
    import io
    import contextlib
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        moment_stats(_vals(spark, [("g", 1.0)]), "v", "g") \
            .explain("formatted")
    plan = buf.getvalue()
    assert plan.count("Arguments: hashpartitioning") == 1, plan
