"""Round-3p: value grid-snap profile."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from schema_validata_spark.operators.statqa import value_grid_stats


# ------------------------------------------------------ value_grid_stats

def test_grid_hand_case(spark):
    vals = [1.0, 2.5, 3.0, 10.0, 0.25, None]
    df = spark.createDataFrame([(v,) for v in vals], "v double")
    got = {r["step"]: r for r in value_grid_stats(
        df, "v", steps=(0.25, 0.5, 1.0, 5.0)).collect()}
    assert got[0.25]["n"] == 5
    assert got[0.25]["n_on_grid"] == 5 and got[0.25]["share"] == 1.0
    assert got[0.5]["n_on_grid"] == 4           # 0.25 falls off
    assert got[1.0]["n_on_grid"] == 3           # 1, 3, 10
    assert got[5.0]["n_on_grid"] == 1           # 10
    assert got[1.0]["share"] == 0.6


def test_grid_float_noise_tolerated(spark):
    # 0.1+0.2 = 0.30000000000000004 must still count on the 0.1 grid
    df = spark.createDataFrame([(0.1 + 0.2,), (0.3,)], "v double")
    got = {r["step"]: r["n_on_grid"] for r in value_grid_stats(
        df, "v", steps=(0.1,)).collect()}
    assert got[0.1] == 2


def test_grid_empty_and_validation(spark):
    df = spark.createDataFrame([], "v double")
    r = value_grid_stats(df, "v", steps=(1.0,)).collect()[0]
    assert r["n"] == 0 and r["share"] is None
    with pytest.raises(ValueError):
        value_grid_stats(df, "v", steps=())
    with pytest.raises(ValueError):
        value_grid_stats(df, "v", steps=(0.0,))
