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
