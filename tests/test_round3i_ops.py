"""Round-3i operators: Zipf-law fit."""

from __future__ import annotations

import math

from schema_validata_spark.operators.statqa import zipf_fit


# ------------------------------------------------------------ zipf_fit

def _docs(spark, rows):
    return spark.createDataFrame(rows, "text string, g string")


def _expected_fit(counts):
    """Replay the micro-unit OLS exactly as the operator computes it."""
    ranked = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))
    xs = [round(math.log(i + 1) * 1e6) for i in range(len(ranked))]
    ys = [round(math.log(c) * 1e6) for _, c in ranked]
    n = float(len(xs))
    sx, sy = float(sum(xs)), float(sum(ys))
    sxx = float(sum(x * x for x in xs))
    sxy = float(sum(x * y for x, y in zip(xs, ys)))
    syy = float(sum(y * y for y in ys))
    num, den_x, den_y = n * sxy - sx * sy, n * sxx - sx * sx, \
        n * syy - sy * sy
    return round(num / den_x, 6), round(num * num / (den_x * den_y), 6)


def test_zipf_hand_case(spark):
    df = _docs(spark, [("a a a a b b c", "g1")])
    r = zipf_fit(df, "text", "g").collect()[0]
    assert (r["n_tokens"], r["total_tokens"]) == (3, 7)
    slope, r2 = _expected_fit({"a": 4, "b": 2, "c": 1})
    assert abs(r["zipf_slope"] - slope) < 1e-9
    assert abs(r["r2"] - r2) < 1e-9
    assert -1.5 < r["zipf_slope"] < -0.5      # zipf-ish text


def test_zipf_degenerate_vocab(spark):
    got = {r["group"]: r for r in zipf_fit(
        _docs(spark, [("hello", "one"), ("a b", "ties")]),
        "text", "g").collect()}
    one = got["one"]                           # single-token vocabulary
    assert (one["n_tokens"], one["zipf_slope"], one["r2"]) \
        == (1, None, None)
    ties = got["ties"]                         # flat counts: slope 0
    assert ties["zipf_slope"] == 0.0 and ties["r2"] is None


def test_zipf_exclusions_and_case_folding(spark):
    df = _docs(spark, [("The THE the", "g1"), ("", "g1"),
                       ("   ", "g1"), (None, "g1"), ("x", None)])
    got = zipf_fit(df, "text", "g").collect()
    assert len(got) == 1
    assert (got[0]["n_tokens"], got[0]["total_tokens"]) == (1, 3)


# ----------------------------------------------------------- plan guards

def _plan(df) -> str:
    import io
    import contextlib
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_zipf_two_exchanges_no_raw_text_shuffle(spark):
    """zipf_fit = wordcount exchange on (group, token) + the rank
    window's exchange on group; the final moments aggregate reuses the
    window's partitioning. The text column itself never shuffles —
    only exploded tokens do."""
    docs = _docs(spark, [("alpha beta gamma delta", "g%d" % (i % 3))
                         for i in range(30)])
    plan = _plan(zipf_fit(docs, "text", "g"))
    assert plan.count("Arguments: hashpartitioning") == 2, plan
    assert "BroadcastNestedLoop" not in plan
    assert "CartesianProduct" not in plan
