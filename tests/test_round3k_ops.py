"""Round-3k: per-bucket completeness trend, bucketed-table
zero-shuffle joins."""

from __future__ import annotations

import contextlib
import datetime
import io
import uuid

import pytest
from pyspark.sql import functions as F

from schema_validata_spark.operators.expectations import completeness_trend
from schema_validata_spark.sources.tableio import (bucketed_join,
                                                   write_bucketed)


def _ts(s):
    return datetime.datetime.fromisoformat(s)


def _plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


# -------------------------------------------------- completeness_trend

def _cev(spark, rows):
    return spark.createDataFrame(rows, "ts timestamp, v double")


def test_completeness_trend_hand_case(spark):
    d1, d2 = _ts("2024-01-01T06:00"), _ts("2024-01-02T06:00")
    rows = [(d1, 1.0)] * 4 + [(d2, None)] * 4
    got = {r["bucket"]: r for r in completeness_trend(
        _cev(spark, rows), "ts", ["v"], z_threshold=1.5).collect()}
    a, b = got["2024-01-01"], got["2024-01-02"]
    assert (a["n"], a["n_null"], a["null_rate"]) == (4, 0, 0.0)
    assert (b["n"], b["n_null"], b["null_rate"]) == (4, 4, 1.0)
    assert a["overall_rate"] == 0.5
    assert a["z"] == -2.0 and b["z"] == 2.0      # (r-p0)/sqrt(p0q0/n)
    assert a["flagged"] and b["flagged"]


def test_completeness_trend_degenerate_and_null_ts(spark):
    rows = [(_ts("2024-01-01T00:00"), 1.0),
            (_ts("2024-01-01T01:00"), 2.0),
            (None, None)]                       # no bucket -> excluded
    got = completeness_trend(_cev(spark, rows), "ts", ["v"]).collect()
    assert len(got) == 1
    r = got[0]
    assert (r["n"], r["n_null"], r["overall_rate"]) == (2, 0, 0.0)
    assert r["z"] is None and r["flagged"] is False


def test_completeness_trend_validation(spark):
    df = _cev(spark, [])
    with pytest.raises(ValueError):
        completeness_trend(df, "ts", [])
    with pytest.raises(ValueError):
        completeness_trend(df, "ts", ["v"], granularity="minute")


def test_completeness_trend_single_row_shuffle(spark):
    """Row data shuffles once (bucket agg); the totals join is a
    broadcast of the bucket-sized frame — no second row shuffle."""
    rows = [(_ts("2024-01-01T00:00"), 1.0)] * 8
    plan = _plan(completeness_trend(_cev(spark, rows), "ts", ["v"]))
    assert "BroadcastNestedLoop" not in plan
    assert plan.count("Arguments: hashpartitioning") <= 2, plan


# -------------------------------------------------------- bucketed join

def test_bucketed_join_zero_exchange(spark, tmp_path):
    tag = uuid.uuid4().hex[:8]
    left, right = f"bj_left_{tag}", f"bj_right_{tag}"
    a = spark.range(0, 1000).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("va"))
    b = spark.range(0, 1000).select(
        F.col("id").alias("k"), (F.col("id") * 3).alias("vb"))
    write_bucketed(a, left, ["k"], 4, sort_cols=["k"])
    write_bucketed(b, right, ["k"], 4, sort_cols=["k"])
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        j = bucketed_join(spark, left, right, ["k"])
        plan = _plan(j)
        assert "SortMergeJoin" in plan, plan
        assert "Arguments: hashpartitioning" not in plan, plan
        assert j.count() == 1000
        got = j.where(F.col("k") == 7).collect()[0]
        assert (got["va"], got["vb"]) == (14, 21)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql(f"DROP TABLE IF EXISTS {left}")
        spark.sql(f"DROP TABLE IF EXISTS {right}")


def test_bucketed_groupby_zero_exchange(spark):
    """A groupBy on the bucket key also skips its shuffle."""
    tag = uuid.uuid4().hex[:8]
    name = f"bg_{tag}"
    df = spark.range(0, 500).select(
        (F.col("id") % 50).alias("k"), F.col("id").alias("v"))
    write_bucketed(df, name, ["k"], 4)
    try:
        g = (spark.read.table(name).groupBy("k")
             .agg(F.sum("v").alias("s")))
        plan = _plan(g)
        assert "Arguments: hashpartitioning" not in plan, plan
        assert g.count() == 50
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_write_bucketed_validation(spark):
    df = spark.range(2)
    with pytest.raises(ValueError):
        write_bucketed(df, "x", [], 4)
    with pytest.raises(ValueError):
        write_bucketed(df, "x", ["id"], 0)
