"""Round-3d additions: FD violation listing, candidate-key discovery,
dup-cluster-size histogram, per-slice quality trend."""

import datetime as dt

import pytest

from schema_validata_spark.operators.dedup import dup_cluster_sizes
from schema_validata_spark.operators.integrity import (candidate_keys,
                                                       fd_violations)
from schema_validata_spark.operators.statqa import quality_trend


def test_fd_violations_lists_breaking_keys(spark):
    df = spark.createDataFrame(
        [("o1", "A"), ("o1", "A"), ("o1", "B"),      # violating: A(2), B(1)
         ("o2", "C"), ("o2", "C"),                   # clean
         ("o3", None), ("o3", "D"),                  # NULL asserts nothing
         (None, "E"), (None, "F")],                  # NULL key can violate
        "k string, v string")
    out = {(r["k"], r["dep_value"]): r
           for r in fd_violations(df, ["k"], "v").collect()}
    # o2 is clean, o3 has a single non-null value -> absent
    assert set(out) == {("o1", "A"), ("o1", "B"), (None, "E"), (None, "F")}
    assert out[("o1", "A")]["n_rows"] == 2
    assert out[("o1", "A")]["is_majority"] is True
    assert out[("o1", "B")]["is_majority"] is False
    assert out[("o1", "A")]["n_distinct_vals"] == 2
    # ties break by greatest value: F beats E at 1 row each
    assert out[(None, "F")]["is_majority"] is True
    assert out[(None, "E")]["is_majority"] is False


def test_fd_violations_max_keys_keeps_heaviest(spark):
    rows = ([("big", f"v{i % 3}") for i in range(9)]
            + [("small", "x"), ("small", "y")])
    df = spark.createDataFrame(rows, "k string, v string")
    capped = fd_violations(df, ["k"], "v", max_keys=1).collect()
    assert {r["k"] for r in capped} == {"big"}
    full = fd_violations(df, ["k"], "v").collect()
    assert {r["k"] for r in full} == {"big", "small"}


def test_candidate_keys_classification(spark):
    df = spark.createDataFrame(
        [(1, "a", "x"), (2, "a", "y"), (3, "b", None), (4, "b", "y")],
        "id bigint, g string, s string")
    out = {r["key_name"]: r for r in candidate_keys(
        df, [("pk", ["id"]), ("grp", ["g"]), ("pair", ["g", "s"])]
    ).collect()}
    assert out["pk"]["is_unique"] is True
    assert out["pk"]["n_distinct"] == 4 and out["pk"]["n_extra_rows"] == 0
    assert out["grp"]["is_unique"] is False
    assert out["grp"]["n_extra_rows"] == 2          # 4 rows, 2 distinct
    # NULL component rows are counted and veto uniqueness
    assert out["pair"]["n_null_rows"] == 1
    assert out["pair"]["n_distinct"] == 3
    assert out["pair"]["is_unique"] is False


def test_dup_cluster_sizes_histogram(spark):
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3),            # chain -> cluster of 3
         (10, 11),                  # pair  -> cluster of 2
         (20, 21)],                 # pair  -> cluster of 2
        "id_a bigint, id_b bigint")
    out = {r["cluster_size"]: r for r in dup_cluster_sizes(pairs).collect()}
    assert out[3]["n_clusters"] == 1 and out[3]["n_docs"] == 3
    assert out[2]["n_clusters"] == 2 and out[2]["n_docs"] == 4


def test_quality_trend_exact_slope(spark):
    base = dt.datetime(2026, 1, 5)        # a Monday
    rows = []
    for w in range(4):                     # group 'up': avg = 10 + 2*w
        for v in (10.0 + 2 * w - 1, 10.0 + 2 * w + 1):
            rows.append(("up", base + dt.timedelta(weeks=w), v))
    rows.append(("flat", base, 5.0))       # single bucket -> NULL slope
    rows.append(("flat", base, 7.0))
    rows.append(("up", None, 999.0))       # NULL ts excluded
    df = spark.createDataFrame(rows, "g string, ts timestamp, v double")
    out = {r["group"]: r for r in quality_trend(df, "g", "ts", "v").collect()}
    assert out["up"]["n_buckets"] == 4
    assert out["up"]["slope_per_week"] == pytest.approx(2.0, abs=1e-6)
    assert out["up"]["first_week"] == dt.date(2026, 1, 5)
    assert out["up"]["last_week"] == dt.date(2026, 1, 26)
    assert out["flat"]["n_buckets"] == 1
    assert out["flat"]["slope_per_week"] is None
    assert out["flat"]["overall_avg"] == pytest.approx(6.0)


def _tree(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_fd_violations_plan_shape(spark, tmp_path):
    """fd_violations aggregates on (det, dep) then windows on det:
    exactly TWO Exchanges — and both carry the aggregated frame's
    short columns, never raw rows twice."""
    from pyspark.sql import functions as F
    from schema_validata_spark.operators.integrity import fd_violations
    src = str(tmp_path / "fd")
    spark.range(20_000).select(
        (F.col("id") % 500).alias("k"),
        (F.col("id") % 7).cast("string").alias("v")) \
        .write.parquet(src)
    out = fd_violations(spark.read.parquet(src), ["k"], "v")
    plan = _tree(out)
    assert plan.count("Exchange") == 2, plan
    assert "NestedLoop" not in plan and "Cartesian" not in plan, plan


def test_quality_trend_plan_shape(spark, tmp_path):
    """quality_trend is two chained hash aggregates — (group, week)
    then (group): two Exchanges, no window, no join."""
    from pyspark.sql import functions as F
    from schema_validata_spark.operators.statqa import quality_trend
    src = str(tmp_path / "qt")
    spark.range(20_000).select(
        (F.col("id") % 5).cast("string").alias("g"),
        F.timestamp_seconds(F.col("id") * 3600).alias("ts"),
        (F.col("id") % 11).cast("double").alias("v")) \
        .write.parquet(src)
    out = quality_trend(spark.read.parquet(src), "g", "ts", "v")
    plan = _tree(out)
    assert plan.count("Exchange") == 2, plan
    assert "Join" not in plan and "Window" not in plan, plan


def test_mask_stability_flags_format_flip(spark):
    from schema_validata_spark.operators.expectations import \
        mask_stability
    rows = ([("p1", "AB-1234", "x1")] * 5          # stable id format
            + [("p2", "AB-5678", "x2")] * 5
            + [("p3", "12345678", "x3")] * 5)      # p3 flipped format
    df = spark.createDataFrame(rows, "p string, uid string, other string")
    out = {r["column_name"]: r
           for r in mask_stability(df, ["uid", "other"], "p").collect()}
    uid = out["uid"]
    assert uid["n_partitions"] == 3
    assert uid["n_dominant_masks"] == 2
    assert uid["stable"] is False
    assert uid["top_mask"] == "AA-9999"            # 2 of 3 partitions
    assert uid["n_conforming"] == 2
    assert out["other"]["stable"] is True
    assert out["other"]["top_mask"] == "a9"


def test_mask_stability_null_partition_and_ties(spark):
    from schema_validata_spark.operators.expectations import \
        mask_stability
    # NULL partition is a real partition; within-partition dominance
    # ties break by GREATEST mask
    rows = [(None, "aa"), (None, "99"),            # tie -> 'aa' > '99'
            ("p", "bb")]
    df = spark.createDataFrame(rows, "p string, c string")
    out = mask_stability(df, ["c"], "p").collect()[0]
    assert out["n_partitions"] == 2
    # dominants: NULL->'aa', p->'aa' -> stable
    assert out["n_dominant_masks"] == 1 and out["stable"] is True
    assert out["top_mask"] == "aa" and out["n_conforming"] == 2


def test_mask_stability_plan_one_raw_shuffle(spark, tmp_path):
    """The only Exchange touching raw-row volume carries the
    (partition, column, clipped-mask) key — text/values never
    shuffle; later aggregates run on the mask-vocabulary frame."""
    from pyspark.sql import functions as F
    from schema_validata_spark.operators.expectations import \
        mask_stability
    src = str(tmp_path / "ms")
    spark.range(10_000).select(
        (F.col("id") % 7).cast("string").alias("p"),
        F.concat(F.lit("v"), F.col("id") % 50).alias("c")) \
        .write.parquet(src)
    out = mask_stability(spark.read.parquet(src), ["c"], "p")
    plan = _tree(out)
    # counts -> dominant -> per-dominant -> summary; only the first
    # exchange sees raw-row volume, and it carries the clipped mask key
    assert plan.count("Exchange") == 4, plan
    assert "NestedLoop" not in plan and "Join" not in plan, plan


def test_fd_repair_majority_vote(spark):
    from schema_validata_spark.operators.integrity import fd_repair
    df = spark.createDataFrame(
        [("o1", 1, "A"), ("o1", 2, "A"), ("o1", 3, "B"),  # B -> A
         ("o2", 1, "C"),                                   # clean
         ("o3", 1, None), ("o3", 2, "D"),                  # NULL stays NULL
         ("o4", 1, None),                                  # all-NULL key
         (None, 1, "E"), (None, 2, "F"), (None, 3, "F")],  # NULL key: E -> F
        "k string, i int, v string")
    out = {(r["k"], r["i"]): (r["v"], r["was_repaired"])
           for r in fd_repair(df, ["k"], "v").collect()}
    assert out[("o1", 3)] == ("A", True)
    assert out[("o1", 1)] == ("A", False)
    assert out[("o2", 1)] == ("C", False)
    assert out[("o3", 1)] == (None, False)      # NULL dep never repaired
    assert out[("o3", 2)] == ("D", False)
    assert out[("o4", 1)] == (None, False)      # no majority -> untouched
    assert out[(None, 1)] == ("F", True)        # NULL key repairs too
    assert len(out) == 10                       # row count preserved


def test_verdict_flips_classification(spark):
    from schema_validata_spark.validate import verdict_flips
    schema = ("partition_key string, column_name string, check string, "
              "violation_count bigint, status string")
    before = spark.createDataFrame(
        [("p1", "c", "range_max", 0, "pass"),    # regresses
         ("p2", "c", "range_max", 5, "fail"),    # gets fixed
         ("p3", "c", "range_max", 0, "pass"),    # unchanged -> absent
         ("p4", "c", "allow_null", 1, "fail"),   # removed check
         (None, "c", "range_max", 2, "fail")],   # NULL partition, fixed
        schema)
    after = spark.createDataFrame(
        [("p1", "c", "range_max", 3, "fail"),
         ("p2", "c", "range_max", 0, "pass"),
         ("p3", "c", "range_max", 0, "pass"),
         ("p5", "c", "length", 9, "fail"),       # new check
         (None, "c", "range_max", 0, "pass")],
        schema)
    out = {(r["partition_key"], r["check"]): r
           for r in verdict_flips(before, after).collect()}
    assert len(out) == 5                         # p3 unchanged is absent
    assert out[("p1", "range_max")]["flip"] == "regressed"
    assert out[("p1", "range_max")]["count_after"] == 3
    assert out[("p2", "range_max")]["flip"] == "fixed"
    assert out[("p4", "allow_null")]["flip"] == "removed_check"
    assert out[("p4", "allow_null")]["status_after"] is None
    assert out[("p5", "length")]["flip"] == "new_check"
    assert out[(None, "range_max")]["flip"] == "fixed"


def test_whitespace_stats_counts(spark):
    from schema_validata_spark.functions.text import whitespace_stats
    df = spark.createDataFrame(
        [(" lead", "x"), ("trail ", "x"), ("em\nbed", None),
         ("two  sp", "x"), ("tab\there", "x"), ("clean", "x"),
         (None, "x"), ("\tboth \n", "x")],
        "a string, b string")
    out = {r["column_name"]: r
           for r in whitespace_stats(df, ["a", "b"]).collect()}
    a = out["a"]
    assert a["n_values"] == 7                       # NULL excluded
    assert a["n_leading_ws"] == 2                   # ' lead', '\tboth \n'
    assert a["n_trailing_ws"] == 2                  # 'trail ', '\tboth \n'
    assert a["n_embedded_newlines"] == 2            # 'em\nbed', '\tboth \n'
    assert a["n_multi_spaces"] == 1
    assert a["n_tabs"] == 2
    # trim strips ASCII spaces only: ' lead', 'trail ' change;
    # '\tboth \n' does NOT (its outermost chars are \t and \n)
    assert a["n_trim_changed"] == 2
    assert out["b"]["n_values"] == 7
    assert out["b"]["n_leading_ws"] == 0


def test_whitespace_stats_single_aggregate_plan(spark, tmp_path):
    from pyspark.sql import functions as F
    from schema_validata_spark.functions.text import whitespace_stats
    src = str(tmp_path / "ws")
    spark.range(5_000).select(
        F.concat(F.lit("v "), F.col("id")).alias("a"),
        F.concat(F.col("id"), F.lit(" ")).alias("b")) \
        .write.parquet(src)
    out = whitespace_stats(spark.read.parquet(src), ["a", "b"])
    plan = _tree(out)
    # one global aggregate: a single single-partition Exchange; the
    # per-column explode runs on the 1-row frame (no replanted scans)
    assert plan.count("Exchange") == 1, plan
    assert plan.count("Scan parquet") == 1, plan
