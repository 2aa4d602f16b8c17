"""Round-3 continuation batch: Theil-Sen robust volume trend, EWMA
anomaly screen, corpus readability, cross-source score calibration."""

import datetime as dt

import pytest
from pyspark.sql import Row, functions as F


# ------------------------------------------------------------ theil-sen

def test_theil_sen_recovers_exact_line(spark):
    from schema_validata_spark.operators.statqa import theil_sen_trend
    # day d has exactly 2*k + 3 events for k = 0..4 (d0 = 2024-01-01)
    rows = []
    eid = 0
    for k in range(5):
        day = dt.datetime(2024, 1, 1 + k, 12, 0, 0)
        for _ in range(2 * k + 3):
            rows.append(Row(ts=day, event_id=eid))
            eid += 1
    df = spark.createDataFrame(rows, "ts timestamp, event_id int")
    out = theil_sen_trend(df, "ts").collect()
    assert len(out) == 1
    r = out[0]
    d0 = (dt.date(2024, 1, 1) - dt.date(1970, 1, 1)).days
    assert r["n_days"] == 5 and r["n_pairs"] == 10
    assert r["slope"] == pytest.approx(2.0)
    assert r["intercept"] == pytest.approx(3.0 - 2.0 * d0)


def test_theil_sen_outlier_day_resistant(spark):
    from schema_validata_spark.operators.statqa import theil_sen_trend
    # flat series of 5/day with one 50-event backfill spike: OLS slope
    # would move; the median pairwise slope stays 0
    rows = []
    eid = 0
    for k in range(9):
        n = 50 if k == 4 else 5
        day = dt.datetime(2024, 2, 1 + k)
        for _ in range(n):
            rows.append(Row(ts=day, event_id=eid))
            eid += 1
    df = spark.createDataFrame(rows, "ts timestamp, event_id int")
    r = theil_sen_trend(df, "ts").collect()[0]
    assert r["slope"] == pytest.approx(0.0)


def test_theil_sen_single_day_yields_no_row(spark):
    from schema_validata_spark.operators.statqa import theil_sen_trend
    df = spark.createDataFrame([Row(ts=dt.datetime(2024, 3, 1))],
                               "ts timestamp")
    assert theil_sen_trend(df, "ts").count() == 0


# ------------------------------------------------------------ ewma

def _daily_events(spark, counts, start=dt.date(2024, 5, 1)):
    rows = []
    for k, n in enumerate(counts):
        day = dt.datetime.combine(start + dt.timedelta(days=k),
                                  dt.time(9, 0))
        rows.extend(Row(ts=day) for _ in range(n))
    return spark.createDataFrame(rows, "ts timestamp")


def test_ewma_constant_series_never_flags(spark):
    from schema_validata_spark.operators.statqa import ewma_anomalies
    out = ewma_anomalies(_daily_events(spark, [20] * 6), "ts").collect()
    out.sort(key=lambda r: r["day"])
    assert out[0]["smoothed_prev"] is None and not out[0]["flag"]
    for r in out[1:]:
        # debiased EWMA of a constant IS the constant
        assert r["smoothed_prev"] == pytest.approx(20.0)
        assert r["deviation"] == pytest.approx(0.0)
        assert not r["flag"]


def test_ewma_spike_flags_and_recovers(spark):
    from schema_validata_spark.operators.statqa import ewma_anomalies
    out = ewma_anomalies(_daily_events(spark, [20, 20, 20, 60, 20]),
                         "ts", alpha=0.3, threshold=0.5).collect()
    out.sort(key=lambda r: r["day"])
    # spike day: prior EWMA is 20, |60-20|/20 = 2.0 > 0.5
    assert out[3]["deviation"] == pytest.approx(2.0)
    assert out[3]["flag"]
    # next day: EWMA has absorbed part of the spike but the return to
    # 20 is within threshold
    assert not out[4]["flag"]
    assert sum(1 for r in out if r["flag"]) == 1


def test_ewma_first_day_unflagged(spark):
    from schema_validata_spark.operators.statqa import ewma_anomalies
    out = ewma_anomalies(_daily_events(spark, [1000]), "ts").collect()
    assert len(out) == 1
    assert out[0]["smoothed_prev"] is None and not out[0]["flag"]


# ------------------------------------------------------------ readability

def test_readability_known_counts(spark):
    from schema_validata_spark.functions.text import readability_stats
    df = spark.createDataFrame(
        [Row(text="The cat sat. The dog ran!", g="en"),
         Row(text=None, g="en")],
        "text string, g string")
    r = readability_stats(df, "text", "g").collect()[0]
    assert r["n_docs"] == 1
    assert r["words"] == 6 and r["sentences"] == 2
    # vowel groups: The(1) cat(1) sat(1) The(1) dog(1) ran(1) = 6
    assert r["syllables"] == 6
    assert r["words_per_sentence"] == pytest.approx(3.0)
    assert r["syllables_per_word"] == pytest.approx(1.0)
    assert r["flesch"] == pytest.approx(206.835 - 1.015 * 3 - 84.6,
                                        abs=1e-5)


def test_readability_no_punctuation_floors_sentences(spark):
    from schema_validata_spark.functions.text import readability_stats
    df = spark.createDataFrame([Row(text="one two three", g="x")],
                               "text string, g string")
    r = readability_stats(df, "text", "g").collect()[0]
    assert r["sentences"] == 0
    assert r["words_per_sentence"] == pytest.approx(3.0)  # floor S at 1


# ------------------------------------------------------------ calibration

def test_quality_calibration_shifted_source(spark):
    from schema_validata_spark.operators.statqa import quality_calibration
    rows = ([Row(src="low", q=float(i)) for i in range(10)]
            + [Row(src="high", q=float(i + 100)) for i in range(10)])
    df = spark.createDataFrame(rows, "src string, q double")
    out = {r["group"]: r for r in
           quality_calibration(df, "q", "src").collect()}
    # disjoint ranges: low sits entirely in the bottom global half
    assert out["low"]["mean_global_pctl"] < 0.3
    assert out["high"]["mean_global_pctl"] > 0.7
    assert out["low"]["calibration_gap"] == pytest.approx(
        out["low"]["mean_global_pctl"] - 0.5, abs=1e-6)
    # within-source pctl spans [0,1] but global tops out at ~0.47
    assert out["low"]["ks_stat"] > 0.4
    assert out["low"]["n"] == 10


def test_quality_calibration_identical_sources_balanced(spark):
    from schema_validata_spark.operators.statqa import quality_calibration
    rows = ([Row(src="a", q=float(i)) for i in range(20)]
            + [Row(src="b", q=float(i)) for i in range(20)])
    df = spark.createDataFrame(rows, "src string, q double")
    out = {r["group"]: r for r in
           quality_calibration(df, "q", "src").collect()}
    for s in ("a", "b"):
        assert abs(out[s]["calibration_gap"]) < 0.03
