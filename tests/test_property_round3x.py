"""Property-based invariants for the round-3 continuation ops: Theil-Sen
re-derived from the textbook pairwise-slope median, EWMA against pandas'
``ewm(adjust=True)`` (the identical debiased formula), quality calibration
against a plain-Python percent_rank replica. Spark jobs stay tiny."""

from __future__ import annotations

import datetime as dt
import math

import pandas as pd
import pytest
from hypothesis import HealthCheck, given, settings, strategies as st
from pyspark.sql import Row


def _median(xs):
    ys = sorted(xs)
    n = len(ys)
    mid = n // 2
    if n % 2:
        return float(ys[mid])
    return (ys[mid - 1] + ys[mid]) / 2.0


def _daily_df(spark, counts, start=dt.date(2024, 1, 1)):
    rows = []
    for k, n in enumerate(counts):
        day = dt.datetime.combine(start + dt.timedelta(days=k),
                                  dt.time(8, 0))
        rows.extend(Row(ts=day) for _ in range(n))
    return spark.createDataFrame(rows, "ts timestamp")


# ------------------------------------------------------------ theil-sen

@settings(max_examples=6, deadline=None,
          suppress_health_check=list(HealthCheck))
@given(counts=st.lists(st.integers(1, 12), min_size=2, max_size=10))
def test_theil_sen_matches_pairwise_median(spark, counts):
    from schema_validata_spark.operators.statqa import theil_sen_trend
    r = theil_sen_trend(_daily_df(spark, counts), "ts").collect()[0]
    d0 = (dt.date(2024, 1, 1) - dt.date(1970, 1, 1)).days
    days = [(d0 + k, float(n)) for k, n in enumerate(counts)]
    slopes = [(y2 - y1) / (d2 - d1)
              for i, (d1, y1) in enumerate(days)
              for (d2, y2) in days[i + 1:]]
    slope = _median(slopes)
    intercept = _median([y - slope * d for d, y in days])
    assert r["n_days"] == len(counts)
    assert r["n_pairs"] == len(slopes)
    assert r["slope"] == pytest.approx(round(slope, 6), abs=1e-6)
    assert r["intercept"] == pytest.approx(round(intercept, 6), abs=1e-5)


# ----------------------------------------------------------------- ewma

@settings(max_examples=6, deadline=None,
          suppress_health_check=list(HealthCheck))
@given(counts=st.lists(st.integers(1, 500), min_size=1, max_size=15),
       alpha=st.sampled_from([0.1, 0.3, 0.5, 0.8]))
def test_ewma_matches_pandas_adjusted(spark, counts, alpha):
    from schema_validata_spark.operators.statqa import ewma_anomalies
    out = ewma_anomalies(_daily_df(spark, counts), "ts",
                         alpha=alpha).collect()
    out.sort(key=lambda r: r["day"])
    # pandas adjust=True IS the debiased weighted mean of the history;
    # shift(1) gives "EWMA of all PRIOR days"
    want = (pd.Series([float(c) for c in counts])
            .ewm(alpha=alpha, adjust=True).mean().shift(1))
    assert out[0]["smoothed_prev"] is None
    for r, w in zip(out[1:], want[1:]):
        assert r["smoothed_prev"] == pytest.approx(w, abs=1e-4)
        expect_dev = abs(r["n"] - w) / max(w, 1.0)
        assert r["deviation"] == pytest.approx(expect_dev, abs=1e-4)
        assert r["flag"] == (round(expect_dev, 6) > 0.5)


# ------------------------------------------------------ calibration

def _pct_ranks(xs):
    n = len(xs)
    if n == 1:
        return [0.0]
    order = sorted(xs)
    return [(order.index(x)) / (n - 1) for x in xs]


@settings(max_examples=6, deadline=None,
          suppress_health_check=list(HealthCheck))
@given(data=st.lists(
    st.tuples(st.sampled_from(["s1", "s2", "s3"]),
              st.integers(0, 20)),
    min_size=2, max_size=40))
def test_quality_calibration_matches_python_percent_rank(spark, data):
    from schema_validata_spark.operators.statqa import quality_calibration
    df = spark.createDataFrame(
        [Row(g=g, q=float(v)) for g, v in data], "g string, q double")
    out = {r["group"]: r for r in
           quality_calibration(df, "q", "g").collect()}
    all_vals = [float(v) for _, v in data]
    gp = dict(zip(range(len(data)), _pct_ranks(all_vals)))
    by_src = {}
    for i, (g, v) in enumerate(data):
        by_src.setdefault(g, []).append(i)
    for g, idxs in by_src.items():
        src_vals = [all_vals[i] for i in idxs]
        sp = _pct_ranks(src_vals)
        gps = [gp[i] for i in idxs]
        r = out[g]
        assert r["n"] == len(idxs)
        assert r["mean_global_pctl"] == pytest.approx(
            sum(gps) / len(gps), abs=1e-5)
        assert r["ks_stat"] == pytest.approx(
            max(abs(s - gl) for s, gl in zip(sp, gps)), abs=1e-5)
        assert -0.5 <= r["calibration_gap"] <= 0.5
