"""Round-5 (VERDICT r4 #3): the documented at-scale swap is a mode
kwarg with equivalence/accuracy tests and plan guards.

* quantile_normalize(method="equidepth") — kills the global
  row_number sort; interpolates against a broadcast percentile_approx
  edge vector instead.
"""

import pytest
from pyspark.sql import functions as F

from schema_validata_spark.operators.selection import quantile_normalize
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
