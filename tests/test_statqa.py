"""Unit tests for the statistical QA screens (operators/statqa.py,
ks_drift in operators/drift.py)."""

import math

import pytest
from pyspark.sql import Row, functions as F

from schema_validata_spark.operators.drift import ks_drift
from schema_validata_spark.operators.statqa import (benford_digits,
                                                    column_entropy)


# ---------------------------------------------------------------- ks_drift

def _ks_frame(spark):
    rows = []
    # baseline partition: values 1..100
    rows += [Row(p="base", v=float(i)) for i in range(1, 101)]
    # identical partition: same values -> KS 0
    rows += [Row(p="same", v=float(i)) for i in range(1, 101)]
    # shifted partition: values 51..150 -> KS well above 0
    rows += [Row(p="shift", v=float(i + 50)) for i in range(1, 101)]
    return spark.createDataFrame(rows)


def test_ks_drift_identical_zero_shifted_positive(spark):
    df = _ks_frame(spark)
    edges = [10.0, 25.0, 50.0, 75.0, 100.0, 125.0]
    out = {r["partition_key"]: r for r in
           ks_drift(df, "v", "p", edges, "base").collect()}
    assert out["base"]["ks_stat"] == 0.0
    assert out["same"]["ks_stat"] == 0.0
    # at edge 50: base CDF 0.5, shift CDF 0 -> KS >= 0.5
    assert out["shift"]["ks_stat"] >= 0.5
    assert all(r["n_rows"] == 100 for r in out.values())


def test_ks_drift_missing_baseline_empty(spark):
    df = _ks_frame(spark)
    assert ks_drift(df, "v", "p", [50.0], "nope").count() == 0


def test_ks_drift_requires_edges(spark):
    with pytest.raises(ValueError):
        ks_drift(_ks_frame(spark), "v", "p", [], "base")


def test_ks_drift_plan_shape(spark):
    """Raw rows shuffle only as per-partition count rows (two tiny hash
    aggregates — the main one and the baseline branch, whose
    ``p = baseline`` filter is pushed below its aggregate so an Iceberg
    scan would prune to one partition); the join back is a broadcast of
    the 1-row baseline, never a SortMergeJoin."""
    df = _ks_frame(spark)
    plan = ks_drift(df, "v", "p", [10.0, 50.0], "base") \
        ._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in plan
    assert plan.count("Exchange hashpartitioning") <= 2
    assert "BroadcastExchange" in plan
    # baseline filter sits below the aggregate, next to the scan
    assert "= base" in plan.split("BroadcastExchange")[1]


# ---------------------------------------------------------- benford_digits

def test_benford_digit_extraction_and_shares(spark):
    vals = [1.0, 19.5, 0.02, 250.0, 2.0, 3.14, 0.0, None, -45.0]
    df = spark.createDataFrame([Row(v=v) for v in vals])
    out = {r["digit"]: r for r in benford_digits(df, "v").collect()}
    # zero and NULL excluded; digits: 1,1,2,2,2,3,4 -> 7 rows total
    assert {d: r["n"] for d, r in out.items()} == {1: 2, 2: 3, 3: 1, 4: 1}
    assert abs(sum(r["share"] for r in out.values()) - 1.0) < 1e-6
    # benford_share column matches log10(1 + 1/d)
    for d, r in out.items():
        assert abs(r["benford_share"] - math.log10(1 + 1 / d)) < 1e-6
        assert r["chi2_term"] >= 0.0


def test_benford_near_benford_sample_low_chi2(spark):
    # log-uniform values follow Benford closely by construction
    n = 20000
    df = spark.range(n).select(
        F.pow(F.lit(10.0), (F.col("id") % 997) / 997.0 * 3.0).alias("v"))
    rows = benford_digits(df, "v").collect()
    assert len(rows) == 9
    chi2 = sum(r["chi2_term"] for r in rows)
    # 8 dof; a true Benford sample stays far below the uniform-digit
    # alternative (which lands in the thousands at n=20k)
    assert chi2 < 100.0, chi2


# ---------------------------------------------------------- column_entropy

def test_column_entropy_basics(spark):
    rows = [Row(a="x", b="u", c=None) for _ in range(4)] + \
           [Row(a="x", b="v", c="z") for _ in range(4)]
    df = spark.createDataFrame(rows)
    out = {r["column_name"]: r for r in
           column_entropy(df, ["a", "b", "c"]).collect()}
    # constant column: zero entropy, top_share 1
    assert out["a"]["n_distinct"] == 1
    assert out["a"]["entropy_bits"] == 0.0
    assert out["a"]["norm_entropy"] == 0.0
    assert out["a"]["top_share"] == 1.0
    # 50/50 split: exactly 1 bit, norm 1
    assert out["b"]["entropy_bits"] == 1.0
    assert out["b"]["norm_entropy"] == 1.0
    # NULL counts as its own category
    assert out["c"]["n_distinct"] == 2
    assert out["c"]["n_rows"] == 8


# ----------------------------------------------------- numeric_correlations

def test_numeric_correlations_known_values(spark):
    from schema_validata_spark.operators.statqa import numeric_correlations
    rows = [Row(a=float(i), b=float(2 * i + 3), c=float(-i), d=1.0,
                e=None if i % 2 else float(i))
            for i in range(1, 21)]
    df = spark.createDataFrame(rows,
                               "a double, b double, c double, d double, "
                               "e double")
    out = {(r["col_a"], r["col_b"]): r for r in
           numeric_correlations(df, ["a", "b", "c", "d", "e"]).collect()}
    assert len(out) == 10
    assert out[("a", "b")]["pearson_r"] == 1.0     # perfect linear
    assert out[("a", "c")]["pearson_r"] == -1.0    # perfect inverse
    assert out[("a", "d")]["pearson_r"] is None    # constant side: undefined
    # pairwise deletion: e is NULL on odd i -> 10 pairs
    assert out[("a", "e")]["n_pairs"] == 10
    assert out[("a", "b")]["n_pairs"] == 20


def test_numeric_correlations_needs_two(spark):
    from schema_validata_spark.operators.statqa import numeric_correlations
    df = spark.createDataFrame([Row(a=1.0)])
    with pytest.raises(ValueError):
        numeric_correlations(df, ["a"])


def test_numeric_correlations_single_scan_no_shuffle_of_rows(spark):
    from schema_validata_spark.operators.statqa import numeric_correlations
    df = spark.range(100).select(
        (F.col("id") * 1.0).alias("a"), (F.col("id") * 2.0).alias("b"),
        (F.col("id") % 7 * 1.0).alias("c"))
    plan = numeric_correlations(df, ["a", "b", "c"]) \
        ._jdf.queryExecution().executedPlan().toString()
    # single-row aggregate -> SinglePartition exchange only, no hash shuffle
    assert "Exchange hashpartitioning" not in plan, plan


# ------------------------------------------------------------- value_masks

def test_value_masks_formats_and_topk(spark):
    from schema_validata_spark.operators.statqa import value_masks
    rows = ([Row(phone="555-123-4567", code=None)] * 5
            + [Row(phone="5551234567", code="AB12")] * 2
            + [Row(phone=None, code="xy-9")] * 3)
    df = spark.createDataFrame(rows, "phone string, code string")
    out = value_masks(df, ["phone", "code"], k=1).collect()
    top = {r["column_name"]: r for r in out}
    assert top["phone"]["mask"] == "999-999-9999"
    assert top["phone"]["n"] == 5
    assert top["code"]["mask"] == "aa-9"          # NULLs excluded
    assert top["code"]["n"] == 3


def test_value_masks_clips_long_values(spark):
    from schema_validata_spark.operators.statqa import value_masks
    df = spark.createDataFrame([Row(t="x" * 500)])
    r = value_masks(df, ["t"], k=1, max_chars=24).collect()[0]
    assert r["mask"] == "a" * 24


# ------------------------------------------------------------- schema_diff

def test_schema_diff_statuses(spark):
    from schema_validata_spark.operators.schema_evolution import schema_diff
    a = spark.createDataFrame(
        [], "id bigint, name string, score double, gone int")
    b = spark.createDataFrame(
        [], "id bigint, name string, score string, fresh timestamp")
    out = {r["column_name"]: r for r in schema_diff(spark, a, b).collect()}
    assert out["id"]["status"] == "unchanged"
    assert out["gone"]["status"] == "removed" and out["gone"]["type_b"] is None
    assert out["fresh"]["status"] == "added"
    assert out["fresh"]["type_b"] == "timestamp"
    assert out["score"]["status"] == "type_changed"
    assert (out["score"]["type_a"], out["score"]["type_b"]) == \
        ("double", "varchar")
    assert out["name"]["type_a"] == "varchar"


def test_schema_diff_canonical_complex_types(spark):
    from schema_validata_spark.operators.schema_evolution import \
        canonical_type
    from pyspark.sql import types as T
    assert canonical_type(T.ArrayType(T.FloatType())) == "float[]"
    assert canonical_type(T.DecimalType(12, 2)) == "decimal(12,2)"
    assert canonical_type(T.BinaryType()) == "blob"


# --------------------------------------------------------------- cramers_v

def test_cramers_v_perfect_and_independent(spark):
    from schema_validata_spark.operators.statqa import cramers_v
    # perfect association: b = f(a)
    perfect = spark.createDataFrame(
        [Row(a=x, b=x.upper()) for x in ["p", "q", "r"] * 20])
    r = cramers_v(perfect, "a", "b").collect()[0]
    assert r["cramers_v"] == 1.0
    assert (r["r_levels"], r["c_levels"]) == (3, 3)
    # independence: balanced cross product -> chi2 0
    indep = spark.createDataFrame(
        [Row(a=x, b=y) for x in ["p", "q"] for y in ["u", "v"]
         for _ in range(10)])
    r = cramers_v(indep, "a", "b").collect()[0]
    assert r["chi2"] == 0.0 and r["cramers_v"] == 0.0


def test_cramers_v_single_level_and_nulls(spark):
    from schema_validata_spark.operators.statqa import cramers_v
    df = spark.createDataFrame(
        [Row(a="only", b=None), Row(a="only", b="x")] * 5)
    r = cramers_v(df, "a", "b").collect()[0]
    # one-level side: association undefined, reported 0; NULL is a level
    assert r["r_levels"] == 1 and r["c_levels"] == 2
    assert r["cramers_v"] == 0.0
    assert r["n_rows"] == 10


# ------------------------------------------------------------ null_patterns

def test_null_patterns_counts_and_shares(spark):
    from schema_validata_spark.operators.statqa import null_patterns
    rows = ([Row(a=1, b="x", c=1.0)] * 4          # 000
            + [Row(a=None, b="x", c=1.0)] * 3     # 100
            + [Row(a=None, b=None, c=1.0)] * 2    # 110
            + [Row(a=None, b=None, c=None)] * 1)  # 111
    df = spark.createDataFrame(rows, "a int, b string, c double")
    out = {r["pattern"]: r for r in
           null_patterns(df, ["a", "b", "c"]).collect()}
    assert out["000"]["n"] == 4 and out["000"]["null_cols"] == ""
    assert out["100"]["n"] == 3 and out["100"]["null_cols"] == "a"
    assert out["110"]["null_cols"] == "a,b"
    assert out["111"]["n"] == 1 and out["111"]["null_cols"] == "a,b,c"
    assert abs(sum(r["share"] for r in out.values()) - 1.0) < 1e-6


def test_null_patterns_topk_ordering(spark):
    from schema_validata_spark.operators.statqa import null_patterns
    rows = [Row(a=1 if i % 2 else None) for i in range(10)]
    df = spark.createDataFrame(rows, "a int")
    out = null_patterns(df, ["a"], k=1).collect()
    # tie at 5/5 -> pattern asc tiebreak keeps '0'
    assert len(out) == 1 and out[0]["pattern"] == "0"


# ------------------------------------------------------- gini_coefficient

def test_gini_hand_computed(spark):
    from schema_validata_spark.operators.statqa import gini_coefficient
    rows = ([("A", 1.0)] * 4
            + [("B", 0.0)] * 3 + [("B", 10.0)]
            + [("C", 5.0), ("C", -3.0)]
            + [("Z", 0.0), ("Z", 0.0)]
            + [(None, 2.0), (None, 2.0)]
            + [("E", None), ("E", -1.0)])
    df = spark.createDataFrame(rows, "src: string, v: double")
    out = {r["group"]: r for r in
           gini_coefficient(df, "v", "src").collect()}
    assert out["A"]["gini"] == 0.0 and out["A"]["n"] == 4
    # sorted B: 0,0,0,10 -> G = (2*40 - 5*10) / (4*10) = 0.75
    assert out["B"]["gini"] == 0.75
    # negative excluded but audited; single eligible value -> gini 0
    assert out["C"]["n"] == 1 and out["C"]["n_negative"] == 1
    assert out["C"]["gini"] == 0.0 and out["C"]["total"] == 5.0
    # all-zero group: total 0 -> NULL gini, not a div-by-zero
    assert out["Z"]["gini"] is None and out["Z"]["total"] == 0.0
    # NULL group key is a group, not silently dropped
    assert out[None]["n"] == 2 and out[None]["gini"] == 0.0
    # group with no eligible rows still appears
    assert out["E"]["n"] == 0 and out["E"]["n_negative"] == 1
    assert out["E"]["gini"] is None


def test_gini_global_and_concentration(spark):
    from schema_validata_spark.operators.statqa import gini_coefficient
    df = spark.createDataFrame(
        [(float(0 if i else 1000),) for i in range(100)], "v: double")
    out = gini_coefficient(df, "v").collect()
    assert len(out) == 1 and out[0]["group"] == "__all__"
    assert out[0]["gini"] == 0.99  # one row carries everything: (n-1)/n


# ------------------------------------------------------------- zipf_slope

def test_zipf_slope_exact_fit(spark):
    import math
    from schema_validata_spark.functions.text import zipf_slope
    # freqs 6/3/2 = 6/rank exactly -> slope -1, r2 1, intercept ln 6
    doc = " ".join(["a"] * 6 + ["b"] * 3 + ["c"] * 2)
    df = spark.createDataFrame(
        [("g", doc), ("mono", "x x x x"), (None, "skip me"),
         ("g", None), ("g", "   ")],
        "src: string, text: string")
    out = {r["group"]: r for r in zipf_slope(df, "text", "src").collect()}
    assert set(out) == {"g", "mono"}
    g = out["g"]
    assert g["n_tokens"] == 3
    assert abs(g["slope"] - (-1.0)) < 1e-6
    assert abs(g["r2"] - 1.0) < 1e-6
    assert abs(g["intercept"] - round(math.log(6), 6)) < 1e-6
    # single token type: no x-variance -> NULLs, not a crash
    m = out["mono"]
    assert m["n_tokens"] == 1 and m["slope"] is None and m["r2"] is None


def test_zipf_top_v_truncates(spark):
    from schema_validata_spark.functions.text import zipf_slope
    doc = " ".join(f"t{i}" for i in range(50))
    df = spark.createDataFrame([("g", doc)], "src: string, text: string")
    out = zipf_slope(df, "text", "src", top_v=10).collect()
    assert out[0]["n_tokens"] == 10


# ------------------------------------------------- spearman_correlations

def test_spearman_monotone_and_ties(spark):
    from schema_validata_spark.operators.statqa import spearman_correlations
    rows = [(1.0, 1.0, 5.0), (2.0, 8.0, 5.0), (3.0, 27.0, 5.0),
            (4.0, 64.0, 5.0), (5.0, 125.0, 5.0)]
    df = spark.createDataFrame(rows, "x: double, y: double, k: double")
    out = {(r["col_a"], r["col_b"]): r for r in
           spearman_correlations(df, ["x", "y", "k"]).collect()}
    # perfectly monotone nonlinear: Spearman 1 (Pearson would be ~0.9)
    assert out[("x", "y")]["spearman_rho"] == 1.0
    assert out[("x", "y")]["n_pairs"] == 5
    # constant side: undefined -> NULL
    assert out[("x", "k")]["spearman_rho"] is None


def test_spearman_fractional_ranks_exact(spark):
    from schema_validata_spark.operators.statqa import spearman_correlations
    # x has a tied block; textbook fractional-rank rho = 0.948683
    rows = [(1.0, 10.0), (2.0, 20.0), (2.0, 30.0), (3.0, 40.0),
            (None, 99.0), (7.0, None)]
    df = spark.createDataFrame(rows, "x: double, y: double")
    out = spearman_correlations(df, ["x", "y"]).collect()[0]
    assert out["n_pairs"] == 4            # pairwise NULL deletion
    assert out["spearman_rho"] == 0.948683


# --------------------------------------------------------- majority_share

def test_majority_share_hand_computed(spark):
    from schema_validata_spark.operators.statqa import majority_share
    rows = [("A", "en"), ("A", "en"), ("A", "fr"), ("A", None),
            ("B", "y"), ("B", "x"),
            ("C", None), ("C", None),
            (None, "en")]
    df = spark.createDataFrame(rows, "src: string, lang: string")
    out = {r["group"]: r for r in
           majority_share(df, "src", "lang").collect()}
    a = out["A"]
    assert (a["n_values"], a["n_null"], a["n_distinct"]) == (3, 1, 2)
    assert a["top_value"] == "en" and a["top_count"] == 2
    assert a["top_share"] == 0.666667
    # tie pins to the lexicographically smallest value
    assert out["B"]["top_value"] == "x"
    # all-NULL group still appears, with NULL top
    c = out["C"]
    assert c["n_values"] == 0 and c["n_null"] == 2
    assert c["top_value"] is None and c["top_share"] is None
    # NULL group key is a group
    assert out[None]["top_value"] == "en"


# ----------------------------------------------------- variance_explained

def test_variance_explained_hand_computed(spark):
    from schema_validata_spark.operators.statqa import variance_explained
    # groups fully determine the value -> eta^2 = 1, F undefined (ssw=0)
    df1 = spark.createDataFrame(
        [("a", 1.0), ("a", 1.0), ("b", 5.0), ("b", 5.0)],
        "g: string, v: double")
    r1 = variance_explained(df1, "v", "g").collect()[0]
    assert r1["eta_sq"] == 1.0 and r1["f_stat"] is None
    assert r1["n"] == 4 and r1["n_groups"] == 2
    # textbook two-group case: g means 2 and 4, grand 3
    # SST = (1+9+1+9) - 36... values a:[1,3] b:[3,5]
    df2 = spark.createDataFrame(
        [("a", 1.0), ("a", 3.0), ("b", 3.0), ("b", 5.0), ("b", None),
         (None, 2.0), (None, 4.0)],
        "g: string, v: double")
    r2 = variance_explained(df2, "v", "g").collect()[0]
    # NULL group is a group (mean 3); NULL value excluded
    assert r2["n"] == 6 and r2["n_groups"] == 3
    # SST = sum(x^2) - S^2/N = (1+9+9+25+4+16) - 18^2/6 = 64 - 54 = 10
    # SSB = (4^2/2 + 8^2/2 + 6^2/2) - 54 = 58 - 54 = 4
    assert r2["ss_total"] == 10.0 and r2["ss_between"] == 4.0
    assert r2["eta_sq"] == 0.4
    # F = (4/2) / (6/3) = 1.0
    assert r2["f_stat"] == 1.0
    # constant column -> NULL eta
    df3 = spark.createDataFrame([("a", 7.0), ("b", 7.0)], "g: string, v: double")
    assert variance_explained(df3, "v", "g").collect()[0]["eta_sq"] is None


# ---------------------------------------------- uncertainty_coefficient

def test_uncertainty_coefficient_directions(spark):
    from schema_validata_spark.operators.statqa import uncertainty_coefficient
    # x fully determines y (y = x mod 2 label), y does NOT determine x
    rows = [("a", "even"), ("b", "odd"), ("c", "even"), ("d", "odd"),
            ("a", "even"), ("b", "odd"), ("c", "even"), ("d", "odd")]
    df = spark.createDataFrame(rows, "x: string, y: string")
    r = uncertainty_coefficient(df, "x", "y").collect()[0]
    assert r["n"] == 8
    assert r["u_y_given_x"] == 1.0          # knowing x removes all of H(Y)
    assert 0.0 < r["u_x_given_y"] < 1.0     # knowing y only halves H(X)
    assert r["h_x"] == 2.0 and r["h_y"] == 1.0
    assert r["h_y_given_x"] == 0.0
    # independence -> both directions ~0
    rows2 = [(a, b) for a in "ab" for b in "cd" for _ in range(5)]
    df2 = spark.createDataFrame(rows2, "x: string, y: string")
    r2 = uncertainty_coefficient(df2, "x", "y").collect()[0]
    assert r2["u_y_given_x"] == 0.0 and r2["u_x_given_y"] == 0.0
    # constant y -> H(Y)=0 -> U(Y|X) NULL (nothing to explain), and a
    # constant conditioner removes nothing of H(X) -> U(X|Y) = 0
    df3 = spark.createDataFrame([("a", "k"), ("b", "k")], "x: string, y: string")
    r3 = uncertainty_coefficient(df3, "x", "y").collect()[0]
    assert r3["u_y_given_x"] is None and r3["u_x_given_y"] == 0.0


def test_uncertainty_coefficient_null_category(spark):
    from schema_validata_spark.operators.statqa import uncertainty_coefficient
    df = spark.createDataFrame([("a", None), ("a", None), ("b", "v"),
                                ("b", "v")], "x: string, y: string")
    r = uncertainty_coefficient(df, "x", "y").collect()[0]
    # NULL is a category: x fully determines y (NULL vs v)
    assert r["u_y_given_x"] == 1.0 and r["n"] == 4
