"""Round-3ee: sampling bias audit."""

from __future__ import annotations

import math

from schema_validata_spark.functions.sampling import sample_bias_check


# ---------------------------------------------------- sample_bias_check

def _g(spark, pairs):
    rows = [(g,) for g, n in pairs for _ in range(n)]
    return spark.createDataFrame(rows, "g string")


def test_bias_check_hand_case(spark):
    corpus = _g(spark, [("en", 800), ("fr", 200)])
    sample = _g(spark, [("en", 40), ("fr", 60)])    # fr over-sampled
    got = {r["group"]: r for r in sample_bias_check(
        sample, corpus, "g").collect()}
    fr = got["fr"]
    assert (fr["n_sample"], fr["n_corpus"]) == (60, 200)
    assert fr["share_sample"] == 0.6 and fr["share_corpus"] == 0.2
    z = round((0.6 - 0.2) / math.sqrt(0.2 * 0.8 / 100), 6)
    assert abs(fr["z"] - z) < 1e-9
    assert fr["flagged"]
    assert got["en"]["flagged"]                     # mirror deficit


def test_bias_check_absent_group_rows(spark):
    corpus = _g(spark, [("en", 90), ("fr", 10)])
    sample = _g(spark, [("en", 20)])                # fr absent
    got = {r["group"]: r for r in sample_bias_check(
        sample, corpus, "g", z_threshold=2.0).collect()}
    fr = got["fr"]
    assert fr["n_sample"] == 0 and fr["share_sample"] == 0.0
    assert fr["z"] is not None


def test_bias_check_unbiased_not_flagged(spark):
    corpus = _g(spark, [("a", 500), ("b", 500)])
    sample = _g(spark, [("a", 50), ("b", 50)])
    got = sample_bias_check(sample, corpus, "g").collect()
    assert all(not r["flagged"] for r in got)
    assert all(r["z"] == 0.0 for r in got)
