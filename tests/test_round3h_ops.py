"""Round-3h operators: latest-per-key snapshot compaction, pairwise
co-occurrence lift/PMI."""

from __future__ import annotations

import datetime
import math

from schema_validata_spark.operators.selection import latest_per_key
from schema_validata_spark.operators.statqa import pairwise_lift


def _ts(s):
    return datetime.datetime.fromisoformat(s)


# --------------------------------------------------- latest_per_key

def _log(spark, rows):
    return spark.createDataFrame(
        rows, "k string, ts timestamp, rid int, val string")


def test_latest_picks_max_ts(spark):
    df = _log(spark, [("a", _ts("2024-01-01T00:00"), 1, "old"),
                      ("a", _ts("2024-01-03T00:00"), 2, "new"),
                      ("a", _ts("2024-01-02T00:00"), 3, "mid"),
                      ("b", _ts("2024-01-01T00:00"), 4, "only")])
    got = {r["k"]: (r["val"], r["rid"])
           for r in latest_per_key(df, ["k"], "ts",
                                   tiebreak_cols=["rid"]).collect()}
    assert got == {"a": ("new", 2), "b": ("only", 4)}


def test_latest_tie_resolves_by_greatest_tiebreak(spark):
    t = _ts("2024-01-01T00:00")
    df = _log(spark, [("a", t, 1, "first"), ("a", t, 9, "winner"),
                      ("a", t, 5, "mid")])
    got = latest_per_key(df, ["k"], "ts", tiebreak_cols=["rid"]).collect()
    assert len(got) == 1 and got[0]["val"] == "winner"


def test_latest_null_ts_loses_but_all_null_key_survives(spark):
    df = _log(spark, [("a", None, 9, "nullts"),
                      ("a", _ts("2024-01-01T00:00"), 1, "real"),
                      ("c", None, 2, "lo"), ("c", None, 7, "hi")])
    got = {r["k"]: r["val"]
           for r in latest_per_key(df, ["k"], "ts",
                                   tiebreak_cols=["rid"]).collect()}
    assert got == {"a": "real", "c": "hi"}


def test_latest_plan_is_one_aggregate_no_window(spark):
    df = _log(spark, [("a", _ts("2024-01-01T00:00"), 1, "x")])
    plan = latest_per_key(df, ["k"], "ts",
                          tiebreak_cols=["rid"])._jdf \
        .queryExecution().executedPlan().toString()
    assert "Window" not in plan
    assert plan.count("Exchange") <= 1


# ---------------------------------------------------- pairwise_lift

def _basket(spark, rows):
    return spark.createDataFrame(rows, "g string, v string")


def test_lift_hand_computed(spark):
    # groups: g1={A,B}, g2={A,B}, g3={A}, g4={B,C}
    df = _basket(spark, [("g1", "A"), ("g1", "B"), ("g2", "A"),
                         ("g2", "B"), ("g3", "A"), ("g4", "B"),
                         ("g4", "C")])
    got = {(r["value_a"], r["value_b"]): r
           for r in pairwise_lift(df, "g", "v").collect()}
    ab = got[("A", "B")]
    assert (ab["n_a"], ab["n_b"], ab["n_ab"], ab["n_groups"]) \
        == (3, 3, 2, 4)
    # lift = 2*4/(3*3)
    assert abs(ab["lift"] - round(8 / 9, 6)) < 1e-9
    assert abs(ab["pmi"] - round(math.log2(8 / 9), 6)) < 1e-9
    assert abs(ab["support"] - 0.5) < 1e-9
    bc = got[("B", "C")]
    assert (bc["n_ab"], bc["lift"]) == (1, round(4 / 3, 6))
    assert ("A", "C") not in got  # never co-occur


def test_lift_presence_not_multiplicity_and_nulls_excluded(spark):
    df = _basket(spark, [("g1", "A"), ("g1", "A"), ("g1", "B"),
                         ("g1", None), (None, "A"), ("g2", "A"),
                         ("g2", "B")])
    got = pairwise_lift(df, "g", "v").collect()
    assert len(got) == 1
    r = got[0]
    # duplicates collapse: n_ab=2 of n_groups=2, perfect co-occurrence
    assert (r["n_ab"], r["n_groups"], r["lift"]) == (2, 2, 1.0)


def test_lift_min_pairs_prunes(spark):
    df = _basket(spark, [("g1", "A"), ("g1", "B"), ("g2", "B"),
                         ("g2", "C")])
    got = pairwise_lift(df, "g", "v", min_pairs=2).collect()
    assert got == []
