"""One rules→check compiler (``operators.violations.rule_specs``) behind
the batch listing, the partition verdicts, quarantine and the streaming
listing: the same rule gives the same answer on every path."""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings, strategies as st
from pyspark.sql import functions as F

from schema_validata_spark import FieldRule, Rules, validate
from schema_validata_spark.config import (ERROR_TYPE_LABELS,
                                          length_error_type,
                                          range_error_type)
from schema_validata_spark.operators.verdicts import downcast_ints
from schema_validata_spark.operators.violations import quarantine
from schema_validata_spark.streaming import stream_validate
from schema_validata_spark.validate import partition_verdicts

SCHEMA = "k int, p string, s string, x double, n int"


def _frame(spark):
    return spark.createDataFrame(
        [(1, "a", "abc", 60.0, 7), (2, "b", "N/A", 10.0, None),
         (3, "a", "x", 20.0, 3)], SCHEMA)


@pytest.mark.parametrize("pattern", ["NA", "N/A"])
def test_na_token_regex_is_no_check_on_any_path(spark, pattern):
    """An NA-token pattern is an empty dictionary cell, not a regex
    (reference :2584-2593): validate() never listed it, and now the
    partition verdicts, quarantine and the stream listing skip it too."""
    df = _frame(spark)
    rules = Rules("R", fields=[FieldRule("s", regex_pattern=pattern)])
    res = validate(spark, df, rules, key_cols=["k"], ignore_errors=[])
    assert res.violations is None or res.violations.count() == 0
    assert partition_verdicts(df, rules, "p") \
        .where(F.col("check") == "regex_pattern").count() == 0
    assert quarantine(df, rules, ignore_errors=[])[1].count() == 0
    assert stream_validate(df, rules, ["k"]).count() == 0


def test_stream_range_label_is_int_downcast(spark):
    """``range_max=50.0`` labels ``(50)`` on the stream path, as in
    validate() and quarantine (the stream path listed ``(50.0)``)."""
    df = _frame(spark)
    rules = Rules("R", fields=[FieldRule("x", range_max=50.0)])
    want = ["Exceeds Maximum Allowed Value (50)"]
    got = [r["error_type"] for r in
           stream_validate(df, rules, ["k"]).collect()]
    assert got == want
    listed = validate(spark, df, rules, key_cols=["k"],
                      ignore_errors=[]).violations
    assert [r["error_type"] for r in listed.collect()] == want
    reasons = quarantine(df, rules, ignore_errors=[])[1].collect()
    assert [r["violation_reasons"] for r in reasons] == [want]


def test_empty_allowed_list_flags_every_value_on_every_path(spark):
    """An empty allowed list is a list: the verdict flags it, so
    validate() lists every non-null value, and the partition verdicts
    and the stream listing count the same rows (they skipped it)."""
    df = _frame(spark)
    rules = Rules("R", fields=[FieldRule("s", allowed_value_list=[])])
    listed = validate(spark, df, rules, key_cols=["k"],
                      ignore_errors=[]).violations
    assert listed.count() == 3
    assert partition_verdicts(df, rules, "p").groupBy().sum(
        "violation_count").collect()[0][0] == 3
    assert stream_validate(df, rules, ["k"]).count() == 3


def test_stream_validate_without_row_checks_is_empty(spark):
    """Rules that compile to no per-row check give a well-typed empty
    listing; ``F.array()`` of no structs used to fail the ``v.*``
    expand with an AnalysisException."""
    rules = Rules("R", fields=[FieldRule("s", regex_pattern="")])
    out = stream_validate(_frame(spark), rules, ["k"])
    assert out.columns == ["k", "error_type", "column_name", "error_value"]
    assert out.count() == 0


# ------------------------------------------------ cross-path property

S_VALS = st.sampled_from(["a", "bb", "ccc", "12", "x y", None])
X_VALS = st.sampled_from([-5.0, 0.0, 1.5, 10.0, 50.0, 99.0, None])
N_VALS = st.sampled_from([-3, 0, 7, 42, 100, None])
BOUNDS = st.one_of(st.none(), st.sampled_from([0.0, 2.5, 5.0, 10.0, 50.0]))
PATTERNS = st.one_of(st.none(), st.sampled_from(
    ["[a-z]+", r"\d", "b+", "NA", "N/A", ""]))


@st.composite
def _rule(draw, col, values, numeric, listed):
    allowed = st.lists(values.filter(lambda v: v is not None),
                       max_size=3, unique=True)
    return FieldRule(
        col,
        allow_null=draw(st.sampled_from([None, False, True])),
        length=draw(st.one_of(st.none(), st.integers(1, 4))),
        range_min=draw(BOUNDS) if numeric else None,
        range_max=draw(BOUNDS) if numeric else None,
        allowed_value_list=draw(st.one_of(st.none(), allowed))
        if listed else None,
        regex_pattern=draw(PATTERNS))


@st.composite
def _case(draw):
    rows = draw(st.lists(st.tuples(st.sampled_from(["a", "b"]),
                                   S_VALS, X_VALS, N_VALS),
                         min_size=1, max_size=12))
    cols = draw(st.lists(st.sampled_from(["s", "x", "n"]), min_size=1,
                         max_size=3, unique=True))
    spec = {"s": (S_VALS, False, True), "x": (X_VALS, True, False),
            "n": (N_VALS, True, True)}
    fields = [draw(_rule(c, *spec[c])) for c in cols]
    # s is also a foreign key into a dimension with duplicate and NULL
    # keys allowed
    dim_keys = draw(st.lists(S_VALS, max_size=6))
    return ([(i, *r) for i, r in enumerate(rows)], fields,
            draw(st.booleans()), dim_keys)


def _labels(fr: FieldRule) -> dict[str, str]:
    """check → error-type label for one rule, from the rule values."""
    return {"allow_null": ERROR_TYPE_LABELS["allow_null"],
            "allowed_value_list": ERROR_TYPE_LABELS["allowed_value_list"],
            "regex_pattern": ERROR_TYPE_LABELS["regex_pattern"],
            "length": length_error_type(fr.length),
            "range_min": range_error_type("min", downcast_ints(fr.range_min)),
            "range_max": range_error_type("max", downcast_ints(fr.range_max))}


def _listed(frame) -> dict[tuple[str, str], int]:
    return {(r[0], r[1]): r[2] for r in frame.groupBy(
        "column_name", "error_type").count().collect()}


@settings(max_examples=10, deadline=None,
          suppress_health_check=list(HealthCheck))
@given(case=_case())
def test_every_path_counts_the_same_violations(spark, case):
    """Per-(column, check) sums of the partition verdicts equal the
    per-(column, label) row counts of validate()'s listing (speculative
    and verdict-gated plans), of stream_validate on the batch frame and
    of quarantine's reasons. Inside validate()'s two documented quirks:
    allowed lists sit only where the profile captures observed values
    (String or Integer-like columns under 100 distinct values — the
    Float column ``x`` gets none, reference :1445-1460), and range rules
    sit on numeric columns only. The foreign key's per-partition
    ``referential`` counts sum to validate()'s RI count."""
    rows, fields, speculative, dim_keys = case
    df = spark.createDataFrame(rows, SCHEMA)
    dims = {"d": spark.createDataFrame([(v,) for v in dim_keys],
                                       "key string")}
    rules = Rules("R", fields=fields, foreign_keys=[("s", "d", "key")])
    labels = {fr.field_name: _labels(fr) for fr in fields}

    verdicts: dict[tuple[str, str], int] = {}
    orphans = 0
    for r in partition_verdicts(df, rules, "p", dims).collect():
        if r["check"] == "referential":
            orphans += r["violation_count"]
            continue
        key = (r["column_name"], labels[r["column_name"]][r["check"]])
        verdicts[key] = verdicts.get(key, 0) + r["violation_count"]
    want = {k: v for k, v in verdicts.items() if v}

    res = validate(spark, df, rules, key_cols=["k"] if speculative else None,
                   dims=dims, ignore_errors=[])
    assert (_listed(res.violations) if res.violations is not None
            else {}) == want
    assert orphans == res.referential["s->d.key"]
    res.unpersist()
    assert _listed(stream_validate(df, rules, ["k"])) == want
    reasons = [quarantine(df, Rules("R", fields=[fr]), ignore_errors=[])[1]
               .select(F.lit(fr.field_name).alias("column_name"),
                       F.explode("violation_reasons").alias("error_type"))
               for fr in fields]
    union = reasons[0]
    for f in reasons[1:]:
        union = union.unionByName(f)
    assert _listed(union) == want
