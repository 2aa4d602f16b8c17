"""Round-4: default-on plan budget for validate() (VERDICT r3 #6) —
it runs plans.audit.assert_scalable on the composed frames before
returning; opt-out is explicit. The default budget is strict."""

import pytest
from pyspark.sql import functions as F

from schema_validata_spark import validate
from schema_validata_spark.rules import Rules


def _rules():
    return Rules.from_nested_dict("R", {
        "conv_id": {"data_type": "String", "allow_null": False},
        "turn_idx": {"data_type": "Integer", "allow_null": False,
                     "range_min": 0},
    })


def _df(spark):
    return spark.createDataFrame(
        [(f"c{i % 5}", i, f"t{i}") for i in range(100)],
        "conv_id string, turn_idx int, text string")


def test_validate_default_budget_passes(spark):
    res = validate(spark, _df(spark), _rules(),
                   key_cols=["conv_id", "turn_idx"])
    assert res.violations is not None
    res.unpersist()


def test_validate_budget_violation_raises_with_numbers(spark):
    """An impossible exchange cap proves the audit runs by default
    wiring and reports the measured plan numbers."""
    with pytest.raises(ValueError, match="exchanges > budget"):
        validate(spark, _df(spark), _rules(),
                 key_cols=["conv_id", "turn_idx"],
                 partition_col="conv_id",
                 plan_budget={"max_exchanges": 0})


def test_validate_budget_opt_out(spark):
    res = validate(spark, _df(spark), _rules(),
                   key_cols=["conv_id", "turn_idx"], plan_budget=None)
    assert res.violations is not None
    res.unpersist()


def test_validate_gate_catches_smuggled_global_sort(spark):
    """A caller handing validate() a globally sorted input has a range
    exchange in the composed plan — the 100×-killer the default budget
    exists to catch before execution."""
    df = _df(spark).orderBy("text")
    with pytest.raises(ValueError, match="global-sort"):
        validate(spark, df, _rules(), key_cols=["conv_id", "turn_idx"])
    # explicit opt-out lets it through (and it still runs)
    res = validate(spark, df, _rules(), key_cols=["conv_id", "turn_idx"],
                   plan_budget=None)
    assert res.violations.count() == 0
    res.unpersist()


def test_validate_gate_catches_smuggled_non_equi_broadcast_join(spark):
    """A non-equi join against a broadcast frame plans as
    BroadcastNestedLoopJoin, which validate()'s default budget
    forbids."""
    caps = spark.createDataFrame([(50,)], "cap int")
    df = _df(spark).join(F.broadcast(caps), F.col("turn_idx") < F.col("cap"))
    with pytest.raises(ValueError, match="BroadcastNestedLoopJoin"):
        validate(spark, df, _rules(), key_cols=["conv_id", "turn_idx"])
    res = validate(spark, df, _rules(), key_cols=["conv_id", "turn_idx"],
                   plan_budget=None)
    assert res.violations.count() == 0
    res.unpersist()
