"""Round-3p: value grid-snap profile, embedding covariance spectrum."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from schema_validata_spark.operators.similarity import embedding_spectrum
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


# ---------------------------------------------------- embedding_spectrum

def _vecs(spark, arrs):
    return spark.createDataFrame([(list(map(float, a)),) for a in arrs],
                                 "embedding array<float>")


def test_spectrum_collapsed_cloud(spark):
    """Vectors on one line: top-1 share ~1, effective rank ~1."""
    arrs = [[t, 2 * t, -t] for t in (1, 2, 3, 4, 5, -2, -4)]
    got = embedding_spectrum(_vecs(spark, arrs), top_k=3).collect()
    assert got[0]["var_share"] > 0.999
    assert got[0]["effective_rank"] < 1.01
    assert [r["component"] for r in got] == [1, 2, 3]
    assert abs(got[-1]["cum_share"] - 1.0) < 1e-6


def test_spectrum_isotropic_cloud(spark):
    """A symmetric 3D cross has three equal eigenvalues: effective
    rank 3, each share 1/3."""
    arrs = [[1, 0, 0], [-1, 0, 0], [0, 1, 0], [0, -1, 0],
            [0, 0, 1], [0, 0, -1]]
    got = embedding_spectrum(_vecs(spark, arrs), top_k=3).collect()
    assert abs(got[0]["effective_rank"] - 3.0) < 1e-6
    for r in got:
        assert abs(r["var_share"] - round(1 / 3, 6)) < 1e-5


def test_spectrum_skips_null_and_validates(spark):
    df = spark.createDataFrame(
        [([1.0, 0.0],), (None,), ([0.0, 1.0],)],
        "embedding array<float>")
    got = embedding_spectrum(df, top_k=2).collect()
    assert len(got) == 2
    mixed = spark.createDataFrame([([1.0],), ([1.0, 2.0],)],
                                  "embedding array<float>")
    with pytest.raises(ValueError):
        embedding_spectrum(mixed)
    with pytest.raises(ValueError):
        embedding_spectrum(df, top_k=0)
