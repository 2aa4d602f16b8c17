"""Round-5: regression tests for the ADVICE r4 findings.

1. (medium) the library's 1-row broadcast crossJoin scorers
   (functions/text.py totals, functions/sampling.py share caps) plan
   as BroadcastNestedLoopJoin. validate()'s default budget is strict:
   it rejects BNLJ unless the caller's budget dict admits it, and a
   CartesianProduct (both sides distributed) stays forbidden even then.
2. (low) _xl_serial_to_dt must use the 1904-epoch-specific overflow
   bound: serials 2,957,004–2,958,465 under date1904 degrade per-cell
   to the raw number instead of killing the workbook read.
3. (low) bench_compare must find the JSON lap line even when JVM
   chatter follows it on stdout, and report missing 'queries'
   actionably.
"""

import datetime as dt
import os
import sys

import pytest
from pyspark.sql import functions as F

from schema_validata_spark import validate
from schema_validata_spark.plans.audit import assert_scalable, plan_audit
from schema_validata_spark.rules import Rules
from schema_validata_spark.sources.xls import _xl_serial_to_dt

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "scripts"))


def _scored(spark):
    """The ADVICE repro shape: a corpus crossJoined with a broadcast
    1-row totals frame — exactly what the sanctioned scorers emit."""
    df = spark.createDataFrame(
        [(i, f"document text {i}") for i in range(60)],
        "doc_id long, text string")
    tot = df.agg(F.count("*").alias("n_total"))
    return df.crossJoin(F.broadcast(tot)).withColumn(
        "quality", F.length("text") / F.col("n_total"))


def test_validate_rejects_broadcast_nlj_lineage(spark):
    """validate()'s default budget forbids BroadcastNestedLoopJoin; an
    explicit budget dict can still admit it."""
    scored = _scored(spark)
    rules = Rules.from_nested_dict("R", {
        "doc_id": {"data_type": "Integer", "allow_null": False},
        "text": {"data_type": "String", "allow_null": False,
                 "length": 40},
    })
    with pytest.raises(ValueError, match="BroadcastNestedLoopJoin"):
        validate(spark, scored, rules, key_cols=["doc_id"])
    res = validate(spark, scored, rules, key_cols=["doc_id"],
                   plan_budget={"allow_broadcast_nested_loop": True})
    assert res.violations is not None
    res.unpersist()


def test_cartesian_still_forbidden_by_default_budget(spark):
    a = spark.createDataFrame([(i,) for i in range(40)], "a long")
    b = spark.createDataFrame([(i,) for i in range(40)], "b long")
    # defeat auto-broadcast so the planner must pick CartesianProduct
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        cart = a.crossJoin(b)
        if plan_audit(cart).n_cartesian_products == 0:
            pytest.skip("planner still broadcast this crossJoin")
        with pytest.raises(ValueError, match="CartesianProduct"):
            assert_scalable(cart, allow_broadcast_nested_loop=True)
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")


def test_assert_scalable_strict_default_still_rejects_bnlj(spark):
    """Direct assert_scalable keeps its strict default; only an
    explicit flag admits BNLJ."""
    scored = _scored(spark)
    with pytest.raises(ValueError, match="BroadcastNestedLoopJoin"):
        assert_scalable(scored)
    a = assert_scalable(scored, allow_broadcast_nested_loop=True)
    assert a.n_broadcast_nested_loop_joins >= 1
    assert a.n_cartesian_products == 0


def test_xl_serial_1904_overflow_degrades_per_cell():
    # 2,958,000 under the 1900 epoch is a valid 9998-ish date...
    assert isinstance(_xl_serial_to_dt(2_958_000.0), dt.datetime)
    # ...but under 1904 it lands past year 9999: must return the raw
    # number, not raise OverflowError (the ADVICE repro).
    assert _xl_serial_to_dt(2_958_000.0, date1904=True) == 2_958_000.0
    # boundary: the last representable 1904 serial converts exactly
    top = _xl_serial_to_dt(2_957_003.0, date1904=True)
    assert top == dt.datetime(9999, 12, 31)
    # and the 1900-epoch top bound is unchanged
    assert _xl_serial_to_dt(2_958_465.0) == dt.datetime(9999, 12, 31)
    assert _xl_serial_to_dt(2_958_466.0) == 2_958_466.0


def test_bench_compare_parses_lap_with_trailing_chatter():
    from bench_compare import parse_lap_stdout
    lap = ('{"metric": "m", "value": 1.5, "unit": "sec", '
           '"queries": {"q1": 1.5}, "sf": "0.1"}')
    noisy = ("warming up\n" + lap +
             "\nWARNING: An illegal reflective access operation\n"
             "[Stage 3:> (0 + 4) / 4]\n")
    assert parse_lap_stdout(noisy)["queries"] == {"q1": 1.5}
    # clean single-line still works
    assert parse_lap_stdout(lap)["value"] == 1.5


def test_bench_compare_missing_queries_is_actionable():
    from bench_compare import parse_lap_stdout
    with pytest.raises(SystemExit, match="queries"):
        parse_lap_stdout('{"metric": "m", "value": 1.0}')
    with pytest.raises(SystemExit, match="no JSON lap line"):
        parse_lap_stdout("just\nnoise\nlines")
