"""assert_scalable gates for the continuation session's operators: the
100×-killer budget (no global data sorts, no row-at-a-time Python, no
surprise nested loops) applied to each new plan over the events fixture.

Notes on relaxed flags (documented shapes, see plans/audit.py):
- a crossJoin of a broadcast 1-row stats/total frame prints as
  BroadcastNestedLoopJoin -> allow_nested_loop=True where that is the
  design (benford-style total broadcasts);
- quantile_normalize's exact global percent_rank IS a global sort by
  contract (the documented equi-depth swap at 10^12) -> not gated here.
"""

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def ev(spark):
    return spark.read.parquet("/root/testdata/sf0.001/events.parquet")


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet")


def test_reliability_and_ece_plans(ev):
    from schema_validata_spark.operators.statqa import (
        expected_calibration_error, reliability_bins)
    from schema_validata_spark.plans import assert_scalable
    flag = F.col("event_type") == "error"
    assert_scalable(reliability_bins(ev, "value", flag, 0.0, 500.0, 10),
                    max_exchanges=2)
    assert_scalable(
        expected_calibration_error(ev, "value", flag, 0.0, 500.0, 10),
        max_exchanges=3)


def test_daily_percentiles_plan(ev):
    from schema_validata_spark.operators.statqa import \
        daily_value_percentiles
    from schema_validata_spark.plans import assert_scalable
    assert_scalable(daily_value_percentiles(ev, "ts", "value"),
                    max_exchanges=2)


def test_readability_and_mixture_plans(docs):
    from schema_validata_spark.functions.sampling import mixture_weights
    from schema_validata_spark.functions.text import readability_stats
    from schema_validata_spark.plans import assert_scalable
    assert_scalable(readability_stats(docs, "text", "lang"),
                    max_exchanges=2)
    assert_scalable(mixture_weights(docs, "source", F.length("text"),
                                    alpha=0.3),
                    allow_nested_loop=True, max_exchanges=4)


def test_hash_uniformity_plan(ev):
    from schema_validata_spark.functions.sampling import hash_uniformity
    from schema_validata_spark.plans import assert_scalable
    assert_scalable(hash_uniformity(ev, "event_id"),
                    allow_nested_loop=True, max_exchanges=4)


def test_rolling_psi_plan(ev):
    from schema_validata_spark.operators.drift import rolling_psi
    from schema_validata_spark.plans import assert_scalable
    # one corpus-scan aggregate; grid/windows run on the day x bucket
    # frame (the tiny cross join of day and bucket lists is by design)
    assert_scalable(rolling_psi(ev, "ts", "value", 0.0, 500.0),
                    allow_nested_loop=True)


def test_zorder_and_file_skew_plans(ev):
    from schema_validata_spark.plans import assert_scalable
    from schema_validata_spark.sources.layout import (file_skew_profile,
                                                      zorder_preview)
    a = assert_scalable(
        zorder_preview(ev, "value", "user_id", 0.0, 500.0, 0.0, 15.0),
        max_exchanges=2)
    assert a.n_python_evals == 0            # bit math stays JVM-side
    assert_scalable(file_skew_profile(ev), max_exchanges=3)


def test_salted_join_no_extra_shuffle_stage(spark, ev):
    from schema_validata_spark.plans import assert_scalable, plan_audit
    from schema_validata_spark.plans.salting import salted_join
    dim = ev.groupBy("event_type").agg(F.avg("value").alias("a"))
    plain = plan_audit(ev.join(dim, ["event_type"]))
    salted = plan_audit(salted_join(ev, dim, "event_type", salts=8))
    # salting must not add a JOIN STRATEGY regression: still a hash
    # join family, no nested loop, no global sort
    assert salted.n_nested_loop_joins == 0
    assert not salted.has_global_sort
    assert (salted.n_broadcast_hash_joins + salted.n_shuffle_joins) \
        >= (plain.n_broadcast_hash_joins + plain.n_shuffle_joins)
    assert_scalable(salted_join(ev, dim, "event_type", salts=8),
                    max_exchanges=6)
