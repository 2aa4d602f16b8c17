"""Unit tests for the FD audit, within-group percentile calibration
and mixture sampling (round-3 pipeline operators)."""

import pytest
from pyspark.sql import Row, functions as F

from schema_validata_spark.operators.integrity import fd_check
from schema_validata_spark.operators.selection import group_percent_rank


# -------------------------------------------------------------- fd_check

def test_fd_check_mixed_verdicts(spark):
    df = spark.createDataFrame(
        [Row(k=1, v="a", u=10), Row(k=1, v="a", u=10),
         Row(k=2, v="a", u=20), Row(k=2, v="b", u=20),
         Row(k=3, v=None, u=30), Row(k=3, v="c", u=30)])
    out = {r.fd: r for r in
           fd_check(df, [("k_to_v", ["k"], "v"),
                         ("k_to_u", ["k"], "u")]).collect()}
    # k=2 violates (a,b); k=3 does NOT (NULL dep ignored)
    assert out["k_to_v"].n_keys == 3
    assert out["k_to_v"].n_violating_keys == 1
    assert out["k_to_v"].n_rows_in_violating_keys == 2
    assert out["k_to_u"].n_violating_keys == 0


def test_fd_check_composite_determinant(spark):
    df = spark.createDataFrame(
        [Row(a=1, b=1, v="x"), Row(a=1, b=1, v="y"),
         Row(a=1, b=2, v="x")])
    out = fd_check(df, [("ab_to_v", ["a", "b"], "v")]).collect()[0]
    assert (out.n_keys, out.n_violating_keys) == (2, 1)


def test_fd_check_rejects_empty(spark):
    with pytest.raises(ValueError):
        fd_check(spark.range(1), [])


# ------------------------------------------------- group_percent_rank

def test_group_percent_rank_basic(spark):
    df = spark.createDataFrame(
        [Row(g="a", s=10, i=0), Row(g="a", s=20, i=1),
         Row(g="a", s=30, i=2), Row(g="b", s=5, i=3)])
    out = {r.i: r.pct_rank
           for r in group_percent_rank(df, "g", "s", "i").collect()}
    assert out[0] == 0.0 and out[1] == 0.5 and out[2] == 1.0
    assert out[3] == 0.0   # singleton group


def test_group_percent_rank_tiebreak_deterministic(spark):
    df = spark.createDataFrame(
        [Row(g="a", s=1, i=j) for j in range(4)])
    a = group_percent_rank(df.repartition(1), "g", "s", "i").collect()
    b = group_percent_rank(df.repartition(3, "i"), "g", "s", "i").collect()
    assert sorted((r.i, r.pct_rank) for r in a) \
        == sorted((r.i, r.pct_rank) for r in b)


# --------------------------------------------------------- mixture_sample

def _mix_corpus(spark):
    rows = [Row(doc_id=i, src="a") for i in range(100)]
    rows += [Row(doc_id=100 + i, src="b") for i in range(100)]
    rows += [Row(doc_id=200 + i, src="c") for i in range(20)]
    rows += [Row(doc_id=300, src=None)]
    return spark.createDataFrame(rows)


def test_mixture_sample_realizes_targets(spark):
    from schema_validata_spark.functions.sampling import mixture_sample
    df = _mix_corpus(spark)
    kept = mixture_sample(df, "doc_id", "src", {"a": 0.9, "b": 0.1})
    by = {r.src: r.n for r in
          kept.groupBy("src").agg(F.count("*").alias("n")).collect()}
    # T = min(100/0.9, 100/0.1) = 111.1 -> a keeps all, b ~11
    assert by["a"] == 100
    assert 2 <= by.get("b", 0) <= 30
    # unlisted groups (c and NULL) are dropped
    assert "c" not in by and None not in by


def test_mixture_sample_deterministic(spark):
    from schema_validata_spark.functions.sampling import mixture_sample
    df = _mix_corpus(spark)
    a = sorted(r.doc_id for r in
               mixture_sample(df.repartition(1), "doc_id", "src",
                              {"a": 0.5, "b": 0.5}).collect())
    b = sorted(r.doc_id for r in
               mixture_sample(df.repartition(5, "doc_id"), "doc_id",
                              "src", {"a": 0.5, "b": 0.5}).collect())
    assert a == b and len(a) > 0


def test_mixture_sample_validates_targets(spark):
    from schema_validata_spark.functions.sampling import mixture_sample
    df = _mix_corpus(spark)
    with pytest.raises(ValueError):
        mixture_sample(df, "doc_id", "src", {})
    with pytest.raises(ValueError):
        mixture_sample(df, "doc_id", "src", {"a": 0.9, "b": 0.3})
