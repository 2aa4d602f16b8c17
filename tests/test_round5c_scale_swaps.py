"""Round-5 (VERDICT r4 #3): the documented at-scale swaps are now
mode kwargs with equivalence/accuracy tests and plan guards.

* quantile_normalize(method="equidepth") — kills the global
  row_number sort; interpolates against a broadcast percentile_approx
  edge vector instead.
* rolling_active_users(method="sketch") — replaces the
  window_days × |user, day| exact expansion with per-day HLL sketches
  merged by hll_union_agg (the sketches.py contract).
"""

import pytest
from pyspark.sql import functions as F

from schema_validata_spark.operators.selection import quantile_normalize
from schema_validata_spark.operators.sequence import rolling_active_users
from schema_validata_spark.plans.audit import plan_audit


def _scores(spark):
    # two sources with shifted scorer distributions over 3000 docs
    return spark.range(3000).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 2 == 0, "a").otherwise("b").alias("source"),
        F.when(F.col("id") % 2 == 0,
               (F.col("id") % 97).cast("double") / 97.0)
         .otherwise(0.5 + (F.col("id") % 53).cast("double") / 106.0)
         .alias("q"))


def test_quantile_normalize_equidepth_tracks_exact(spark):
    df = _scores(spark)
    exact = {r["id"]: r["normalized"]
             for r in quantile_normalize(df, "q", "source",
                                         "doc_id").collect()}
    approx = {r["id"]: r["normalized"]
              for r in quantile_normalize(df, "q", "source", "doc_id",
                                          method="equidepth",
                                          bins=300).collect()}
    assert set(exact) == set(approx)
    errs = [abs(exact[k] - approx[k]) for k in exact]
    # error bounded by the within-bin value range; scores span [0, 1]
    # over 300 bins, so a loose 0.02 ceiling is ~6 bins of slack
    assert max(errs) < 0.02, max(errs)
    assert sum(errs) / len(errs) < 0.005


def test_quantile_normalize_equidepth_has_no_global_sort(spark):
    df = _scores(spark)
    ex = quantile_normalize(df, "q", "source", "doc_id")
    eq = quantile_normalize(df, "q", "source", "doc_id",
                            method="equidepth")
    ex_tree = ex._jdf.queryExecution().executedPlan().toString()
    eq_tree = eq._jdf.queryExecution().executedPlan().toString()
    # the exact path ranks the WHOLE corpus through one ungrouped
    # row_number window (all rows into a single partition + sort) —
    # the documented cost the swap removes. The equidepth plan keeps
    # only the per-source window's partition-local sort; its one
    # SinglePartition exchange is the percentile_approx merge of
    # per-partition sketch partials (metadata-sized), feeding an
    # aggregate, never a Sort/Window.
    assert "row_number" in ex_tree
    assert "row_number" not in eq_tree
    import re
    assert len(re.findall(r"\bSort \[", ex_tree)) >= 2
    assert len(re.findall(r"\bSort \[", eq_tree)) == 1
    a_eq = plan_audit(eq)
    assert not a_eq.has_global_sort
    assert a_eq.n_shuffle_joins == 0        # no rank-frame joins either
    assert a_eq.n_cartesian_products == 0


def test_quantile_normalize_rejects_unknown_method(spark):
    with pytest.raises(ValueError, match="method"):
        quantile_normalize(_scores(spark), "q", "source", "doc_id",
                           method="nope")


def _events(spark):
    return spark.range(20_000).select(
        (F.col("id") % 700).alias("user"),
        F.to_timestamp(F.concat(
            F.lit("2024-01-"),
            F.lpad(((F.col("id") % 20) + 1).cast("string"), 2, "0"),
            F.lit(" 12:00:00"))).alias("ts"))


def test_rolling_active_users_sketch_tracks_exact(spark):
    df = _events(spark)
    exact = {r["bucket"]: r for r in rolling_active_users(
        df, "user", "ts", window_days=7).collect()}
    est = {r["bucket"]: r for r in rolling_active_users(
        df, "user", "ts", window_days=7, method="sketch").collect()}
    assert set(exact) == set(est)
    for b in exact:
        for c in ("n_active_day", "n_active_window"):
            e, a = exact[b][c], est[b][c]
            assert abs(a - e) <= max(3, 0.05 * e), (b, c, e, a)


def test_rolling_active_users_sketch_window1_equals_day(spark):
    out = rolling_active_users(_events(spark), "user", "ts",
                               window_days=1, method="sketch").collect()
    assert out and all(r["n_active_day"] == r["n_active_window"]
                       for r in out)


def test_rolling_active_users_sketch_shuffles_sketches_not_users(spark):
    """The plan merges per-day sketches (hll_union_agg) — the second
    aggregate consumes the #days-sized sketch frame, not a re-expanded
    user frame (no second distinct over exploded user rows)."""
    out = rolling_active_users(_events(spark), "user", "ts",
                               window_days=90, method="sketch")
    tree = out._jdf.queryExecution().executedPlan().toString()
    assert "hll_union_agg" in tree
    # exact mode pays a distinct over the exploded (user, window-day)
    # frame; sketch mode must not re-shuffle user values after the
    # per-day sketch aggregate
    assert tree.count("HashAggregate") <= 8
    assert rolling_active_users(_events(spark), "user", "ts",
                                window_days=90).collect() is not None


def test_rolling_active_users_rejects_unknown_method(spark):
    with pytest.raises(ValueError, match="method"):
        rolling_active_users(_events(spark), "user", "ts",
                             method="bogus")
