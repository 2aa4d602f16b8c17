"""Round-3l: Welch's t per slice, robust MAD location screen."""

from __future__ import annotations

import math

import pytest

from schema_validata_spark.operators.statqa import mad_location, welch_t


def _vals(spark, rows):
    return spark.createDataFrame(rows, "g string, v double")


# ------------------------------------------------------------- welch_t

def _expected_welch(a, b, unit=0.001):
    qa = [round(x / unit) for x in a]
    qb = [round(x / unit) for x in b]
    na, nb = float(len(qa)), float(len(qb))
    sa, sb = float(sum(qa)), float(sum(qb))
    ssa = float(sum(q * q for q in qa))
    ssb = float(sum(q * q for q in qb))
    ma, mb = sa / na, sb / nb
    va = (na * ssa - sa * sa) / (na * (na - 1.0))
    vb = (nb * ssb - sb * sb) / (nb * (nb - 1.0))
    se2 = va / na + vb / nb
    t = (ma - mb) / math.sqrt(se2)
    dof = se2 * se2 / (va * va / (na * na * (na - 1.0))
                       + vb * vb / (nb * nb * (nb - 1.0)))
    return round(t, 6), round(dof, 6)


def test_welch_hand_case(spark):
    a = [10.0, 12.0, 11.0, 13.0]        # slice "hot"
    b = [1.0, 2.0, 1.5, 2.5, 1.0, 2.0]  # the rest
    rows = [("hot", x) for x in a] + [("cold", x) for x in b]
    got = {r["group"]: r for r in welch_t(
        _vals(spark, rows), "v", "g").collect()}
    h = got["hot"]
    assert (h["n_in"], h["n_out"]) == (4, 6)
    t, dof = _expected_welch(a, b)
    assert abs(h["t"] - t) < 1e-9
    assert abs(h["dof"] - dof) < 1e-9
    assert h["significant"]
    assert abs(h["mean_in"] - 11.5) < 1e-9
    assert abs(h["mean_out"] - 1.666667) < 1e-6
    # antisymmetric: the other slice sees the mirrored comparison
    c = got["cold"]
    assert abs(c["t"] + h["t"]) < 1e-9


def test_welch_degenerate_sides(spark):
    rows = [("tiny", 5.0)] + [("big", float(i)) for i in range(10)]
    got = {r["group"]: r for r in welch_t(
        _vals(spark, rows), "v", "g").collect()}
    t = got["tiny"]                      # n_in = 1 -> undefined
    assert t["t"] is None and t["significant"] is False
    # constant-everything: zero variance both sides
    rows2 = [("a", 1.0)] * 3 + [("b", 1.0)] * 3
    got2 = {r["group"]: r for r in welch_t(
        _vals(spark, rows2), "v", "g").collect()}
    assert got2["a"]["t"] is None and got2["a"]["significant"] is False


def test_welch_validation_and_nulls(spark):
    rows = [("a", 1.0), ("a", None), (None, 2.0), ("b", 3.0), ("b", 4.0)]
    got = {r["group"]: r for r in welch_t(
        _vals(spark, rows), "v", "g").collect()}
    assert got["a"]["n_in"] == 1 and got["b"]["n_in"] == 2
    with pytest.raises(ValueError):
        welch_t(_vals(spark, rows), "v", "g", unit=0)


# -------------------------------------------------------- mad_location

def test_mad_hand_case(spark):
    # global values: 1..7 -> median 4; |v-4| = 3,2,1,0,1,2,3 -> MAD 2
    rows = [("low", 1.0), ("low", 2.0), ("low", 3.0),
            ("mid", 4.0), ("hi", 5.0), ("hi", 6.0), ("hi", 7.0)]
    got = {r["group"]: r for r in mad_location(
        _vals(spark, rows), "v", "g", z_threshold=0.5).collect()}
    assert got["mid"]["global_median"] == 4.0
    assert got["mid"]["global_mad"] == 2.0
    assert got["mid"]["robust_z"] == 0.0 and not got["mid"]["flagged"]
    z_hi = round((6.0 - 4.0) / (1.4826 * 2.0), 6)
    assert abs(got["hi"]["robust_z"] - z_hi) < 1e-9
    assert got["hi"]["flagged"] and got["low"]["flagged"]
    assert got["hi"]["n"] == 3 and got["hi"]["median"] == 6.0


def test_mad_zero_mad_and_nulls(spark):
    rows = [("a", 5.0)] * 3 + [("b", 5.0)] * 2 \
        + [("a", None), (None, 9.0)]
    got = {r["group"]: r for r in mad_location(
        _vals(spark, rows), "v", "g").collect()}
    assert got["a"]["global_mad"] == 0.0
    assert got["a"]["robust_z"] is None and got["a"]["flagged"] is False
    assert got["a"]["n"] == 3 and got["b"]["n"] == 2


def test_mad_outlier_insensitive_vs_welch(spark):
    """A slice with a block of sentinel 50s flags on welch_t but not
    on mad_location — the documented pairing (means move, medians
    barely do)."""
    base = [("clean", float(v)) for v in (1, 2, 3, 4, 5) * 10]
    dirty = [("dirty", float(v)) for v in (1, 2, 3, 4, 5) * 10] \
        + [("dirty", 50.0)] * 10
    df = _vals(spark, base + dirty)
    w = {r["group"]: r for r in welch_t(df, "v", "g").collect()}
    m = {r["group"]: r for r in mad_location(df, "v", "g").collect()}
    assert w["dirty"]["significant"]          # mean dragged by sentinels
    assert not m["dirty"]["flagged"]          # median barely moves
