"""Error-budget (rate-tolerant) verdicts over a violations frame."""

import pytest
from pyspark.sql import Row

from schema_validata_spark.operators.expectations import violation_rate_gate


def _viol(spark, rows):
    return spark.createDataFrame(
        [Row(column_name=c, error_type=t) for c, t in rows],
        "column_name string, error_type string")


def _gate(spark, rows, total, budgets, **kw):
    out = violation_rate_gate(_viol(spark, rows), total, budgets, **kw)
    return {(r["column_name"], r["error_type"]):
            (r["n_violations"], r["rate"], r["budget"], r["passed"])
            for r in out.collect()}


def test_within_budget_passes_over_budget_fails(spark):
    rows = [("a", "Null Value")] * 5 + [("b", "Unallowed Value")] * 20
    got = _gate(spark, rows, 100,
                {("a", "Null Value"): 0.05,
                 ("b", "Unallowed Value"): 0.10})
    assert got[("a", "Null Value")] == (5, 0.05, 0.05, True)   # == budget
    assert got[("b", "Unallowed Value")] == (20, 0.2, 0.10, False)


def test_listed_clean_check_reports_zero_filled(spark):
    got = _gate(spark, [("a", "Null Value")], 10,
                {("a", "Null Value"): 0.5,
                 ("c", "Duplicate Value"): 0.1})
    assert got[("c", "Duplicate Value")] == (0, 0.0, 0.1, True)


def test_unlisted_observed_combo_gets_default_budget(spark):
    got = _gate(spark, [("x", "Invalid Pattern")], 1000, {})
    assert got[("x", "Invalid Pattern")] == (1, 0.001, 0.0, False)
    got = _gate(spark, [("x", "Invalid Pattern")], 1000, {},
                default_budget=0.01)
    assert got[("x", "Invalid Pattern")][3] is True


def test_bad_total_raises(spark):
    with pytest.raises(ValueError):
        violation_rate_gate(_viol(spark, []), 0, {})


def test_empty_violations_reports_only_listed(spark):
    got = _gate(spark, [], 50, {("a", "Null Value"): 0.0})
    assert got == {("a", "Null Value"): (0, 0.0, 0.0, True)}


# ----------------------------------------------------- partition_rate_verdicts

def _pv_frame(spark):
    rows = []
    # partition A: 10 rows, 1 over-range -> rate 0.1
    rows += [Row(p="A", x=float(1 + (1 if i == 0 else 0) * 100))
             for i in range(10)]
    # partition B: 100 rows, 1 over-range -> rate 0.01
    rows += [Row(p="B", x=float(1 + (1 if i == 0 else 0) * 100))
             for i in range(100)]
    return spark.createDataFrame(rows, "p string, x double")


def _pv_rules():
    from schema_validata_spark.rules import FieldRule, Rules
    return Rules(name="T", fields=[
        FieldRule("x", data_type="Float", range_max=50.0)])


def test_rate_verdicts_scale_with_partition_size(spark):
    from schema_validata_spark.validate import partition_rate_verdicts
    out = {r["partition_key"]: (r["rate"], r["status"])
           for r in partition_rate_verdicts(
               _pv_frame(spark), _pv_rules(), "p",
               {("x", "range_max"): 0.05}).collect()}
    # same absolute count (1), opposite verdicts by partition size
    assert out["A"] == (0.1, "fail")
    assert out["B"] == (0.01, "pass")


def test_default_budget_matches_strict_partition_verdicts(spark):
    from schema_validata_spark.validate import (partition_rate_verdicts,
                                                partition_verdicts)
    df, rules = _pv_frame(spark), _pv_rules()
    strict = {(r["partition_key"], r["column_name"], r["check"]):
              r["status"]
              for r in partition_verdicts(df, rules, "p").collect()}
    rated = {(r["partition_key"], r["column_name"], r["check"]):
             r["status"]
             for r in partition_rate_verdicts(df, rules, "p",
                                              {}).collect()}
    assert strict == rated and len(strict) == 2


# --------------------------------------------------------- stream_rate_verdicts

def test_stream_rate_verdicts_budget_flips_verdict(spark, tmp_path):
    from schema_validata_spark.datagen import (gen_transcripts,
                                               transcript_rules)
    from schema_validata_spark.streaming import (stream_partition_verdicts,
                                                 stream_rate_verdicts)
    t = gen_transcripts(spark, 3000, seed=42)
    src = str(tmp_path / "rate_stream_src")
    t.write.parquet(src)
    stream = spark.readStream.schema(t.schema).parquet(src)
    rules = transcript_rules()

    # strict baseline: find a check that fails in some window
    out0 = stream_partition_verdicts(stream, rules, ts_col="ts",
                                     window="24 hours")
    q0 = (out0.writeStream.format("memory").queryName("rate_strict_mem")
          .outputMode("complete").trigger(availableNow=True).start())
    q0.awaitTermination(120)
    strict = spark.sql("SELECT * FROM rate_strict_mem").collect()
    failing = [r for r in strict if r["status"] == "fail"]
    assert failing

    # a generous 50% budget on every failing check flips it to pass;
    # strict (empty budgets) matches the baseline verdicts exactly
    budgets = {(r["column_name"], r["check"]): 0.5 for r in failing}
    out1 = stream_rate_verdicts(stream, rules, budgets, ts_col="ts",
                                window="24 hours")
    q1 = (out1.writeStream.format("memory").queryName("rate_budget_mem")
          .outputMode("complete").trigger(availableNow=True).start())
    q1.awaitTermination(120)
    rated = spark.sql("SELECT * FROM rate_budget_mem").collect()
    by_key = {(r["window_start"], r["column_name"], r["check"]): r
              for r in rated}
    assert by_key  # same aggregate shape
    for r in failing:
        k = (r["window_start"], r["column_name"], r["check"])
        assert by_key[k]["status"] == "pass"          # budget absorbs it
        assert by_key[k]["rate"] <= 0.5
        assert by_key[k]["n_rows"] > 0

    out2 = stream_rate_verdicts(stream, rules, {}, ts_col="ts",
                                window="24 hours")
    q2 = (out2.writeStream.format("memory").queryName("rate_strict2_mem")
          .outputMode("complete").trigger(availableNow=True).start())
    q2.awaitTermination(120)
    strict2 = {(r["window_start"], r["column_name"], r["check"]):
               r["status"]
               for r in spark.sql("SELECT * FROM rate_strict2_mem")
                             .collect()}
    base = {(r["window_start"], r["column_name"], r["check"]): r["status"]
            for r in strict}
    assert strict2 == base


def test_rate_verdicts_null_partition_survives(spark):
    from schema_validata_spark.validate import partition_rate_verdicts
    rows = [Row(p=None, x=100.0)] * 4 + [Row(p=None, x=1.0)] * 6 \
        + [Row(p="A", x=1.0)] * 10
    df = spark.createDataFrame(rows, "p string, x double")
    out = {r["partition_key"]: (r["n_rows"], r["rate"], r["status"])
           for r in partition_rate_verdicts(
               df, _pv_rules(), "p", {("x", "range_max"): 0.5}).collect()}
    # the NULL partition keeps its verdict and its own n_rows
    assert out[None] == (10, 0.4, "pass")
    assert out["A"] == (10, 0.0, "pass")


# ------------------------------------------- quoted names in stack() SQL

def test_stream_verdicts_quote_apostrophe_names(spark, tmp_path):
    """A column and a conditional rule named ``it's`` become SQL string
    literals in the verdict unpivot; unescaped, the quote broke the
    stack() parse. Streaming verdicts equal the batch partition
    verdicts over the same rows."""
    import datetime as dt

    from pyspark.sql import functions as F

    from schema_validata_spark.operators.expectations import ConditionalRule
    from schema_validata_spark.rules import FieldRule, Rules
    from schema_validata_spark.streaming import (stream_partition_verdicts,
                                                 stream_rate_verdicts)
    from schema_validata_spark.validate import partition_verdicts

    t0 = dt.datetime(2026, 1, 1)
    vals = [1, 3, 6, 7, 3]
    df = spark.createDataFrame(
        [(t0 + dt.timedelta(minutes=i), v) for i, v in enumerate(vals)],
        ["ts", "it's"])
    src = str(tmp_path / "quoted_src")
    df.write.parquet(src)
    rules = Rules(name="Q", fields=[FieldRule("it's", range_max=5.0)],
                  conditional=[ConditionalRule("it's", "`it's` > 2",
                                               "`it's` < 7")])
    want = {("it's", "range_max"): 2, ("it's", "conditional"): 1}

    stream = spark.readStream.schema(df.schema).parquet(src)
    got = {}
    for name, out in (
            ("quoted_pv_mem", stream_partition_verdicts(
                stream, rules, ts_col="ts", window="24 hours")),
            ("quoted_rate_mem", stream_rate_verdicts(
                stream, rules, {}, ts_col="ts", window="24 hours"))):
        q = (out.writeStream.format("memory").queryName(name)
             .outputMode("complete").trigger(availableNow=True).start())
        q.awaitTermination(120)
        got[name] = {(r["column_name"], r["check"]): r["violation_count"]
                     for r in spark.sql(f"SELECT * FROM {name}").collect()}
    assert got["quoted_pv_mem"] == want
    assert got["quoted_rate_mem"] == want
    batch = {(r["column_name"], r["check"]): r["violation_count"]
             for r in partition_verdicts(
                 df.withColumn("p", F.lit("x")), rules, "p").collect()}
    assert batch == want
