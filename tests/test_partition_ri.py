"""Referential integrity inside partition_verdicts: each foreign key is
a broadcast existence flag on the per-partition check scan. Every case
compares the per-partition ``referential`` counts with a plain-SQL
``LEFT ANTI JOIN ... GROUP BY partition`` witness."""

from pyspark.sql import functions as F

from schema_validata_spark.operators.integrity import referential_exists
from schema_validata_spark.rules import Rules
from schema_validata_spark.validate import (partition_rate_verdicts,
                                            partition_verdicts)


def _q(name):
    return "`" + name.replace("`", "``") + "`"


def _witness(spark, fact, fk, dim, key, part="part"):
    """{partition_key: orphan rows} by SQL anti-join; NULL fks excluded."""
    fact.createOrReplaceTempView("ri_fact")
    dim.createOrReplaceTempView("ri_dim")
    rows = spark.sql(
        f"SELECT CAST(f.{_q(part)} AS STRING) AS p, COUNT(*) AS n"
        f" FROM ri_fact f LEFT ANTI JOIN ri_dim d"
        f" ON f.{_q(fk)} = d.{_q(key)}"
        f" WHERE f.{_q(fk)} IS NOT NULL GROUP BY 1").collect()
    return {r["p"]: r["n"] for r in rows}


def _referential(pv, fk):
    return {r["partition_key"]: r["violation_count"] for r in pv.collect()
            if r["check"] == "referential" and r["column_name"] == fk}


def _rules(fks, fields=None):
    rules = Rules.from_nested_dict("ri", fields or {
        "fk": {"data_type": "String", "allow_null": False}})
    rules.foreign_keys = fks
    return rules


def _fact(spark):
    return spark.createDataFrame(
        [("a", "p1"), ("a", "p1"), ("x", "p1"), (None, "p1"),
         ("b", "p2"), ("y", "p2"), ("y", "p2"),
         (None, "p3"), ("a", "p3")],
        "fk string, part string")


def test_dim_duplicate_and_null_keys_multiply_no_row(spark):
    fact = _fact(spark)
    dim = spark.createDataFrame([("a",), ("a",), ("a",), ("b",), (None,)],
                                "k string")
    rules = _rules([("fk", "d", "k")])
    got = _referential(partition_verdicts(fact, rules, "part", {"d": dim}),
                       "fk")
    assert got == _witness(spark, fact, "fk", dim, "k") == {"p1": 1,
                                                           "p2": 2}
    # per-row checks and n_rows count each fact row once
    rate = partition_rate_verdicts(fact, rules, "part", {},
                                   dims={"d": dim}).collect()
    n_rows = {r["partition_key"]: r["n_rows"] for r in rate}
    assert n_rows == {"p1": 4, "p2": 3, "p3": 2}
    nulls = {r["partition_key"]: r["violation_count"] for r in rate
             if r["check"] == "allow_null"}
    assert nulls == {"p1": 1, "p2": 0, "p3": 1}


def test_null_foreign_keys_are_excluded(spark):
    fact = _fact(spark)
    dim = spark.createDataFrame([("zzz",)], "k string")
    got = _referential(partition_verdicts(fact, _rules([("fk", "d", "k")]),
                                          "part", {"d": dim}), "fk")
    # every non-NULL key is an orphan; the NULLs are the null check's
    assert got == _witness(spark, fact, "fk", dim, "k") \
        == {"p1": 3, "p2": 3, "p3": 1}


def test_two_foreign_keys_against_two_dims(spark):
    fact = spark.createDataFrame(
        [("a", 1, "p1"), ("x", 2, "p1"), ("b", 9, "p2"), ("y", 9, "p2"),
         ("a", None, "p3")],
        "fk string, fk2 int, part string")
    d1 = spark.createDataFrame([("a",), ("b",)], "k string")
    d2 = spark.createDataFrame([(1,), (2,), (3,)], "id int")
    rules = _rules([("fk", "d1", "k"), ("fk2", "d2", "id")])
    pv = partition_verdicts(fact, rules, "part", {"d1": d1, "d2": d2})
    assert _referential(pv, "fk") == _witness(spark, fact, "fk", d1, "k") \
        == {"p1": 1, "p2": 1}
    assert _referential(pv, "fk2") == _witness(spark, fact, "fk2", d2,
                                               "id") == {"p2": 2}


def test_apostrophe_foreign_key_column(spark):
    fact = _fact(spark).withColumnRenamed("fk", "it's")
    dim = spark.createDataFrame([("a",), ("b",)], "`it's` string")
    rules = _rules([("it's", "d", "it's")],
                   {"it's": {"data_type": "String", "allow_null": False}})
    got = _referential(partition_verdicts(fact, rules, "part", {"d": dim}),
                       "it's")
    assert got == _witness(spark, fact, "it's", dim, "it's") \
        == {"p1": 1, "p2": 2}


def test_outer_reference_is_qualified(spark):
    """Fact and dimension share the key's name. An unqualified
    ``F.col(fk).outer()`` resolves to the dimension's own column, which
    turns the flag into "the dimension is non-empty": ``x`` would read
    True and no orphan would be counted."""
    fact = spark.createDataFrame([("a",), ("x",)], "conv_id string")
    dim = spark.createDataFrame([("a",)], "conv_id string")
    flag = referential_exists("f", "conv_id", dim, "conv_id")
    got = dict(fact.alias("f").select("conv_id", flag.alias("e")).collect())
    assert got == {"a": True, "x": False}


def test_null_partition_key(spark):
    fact = spark.createDataFrame(
        [("x", None), ("y", None), ("a", None), ("x", "p1"), ("a", "p1")],
        "fk string, part string")
    dim = spark.createDataFrame([("a",)], "k string")
    rules = _rules([("fk", "d", "k")])
    got = _referential(partition_verdicts(fact, rules, "part", {"d": dim}),
                       "fk")
    assert got == _witness(spark, fact, "fk", dim, "k") \
        == {None: 2, "p1": 1}
    rate = partition_rate_verdicts(fact, rules, "part", {},
                                   dims={"d": dim}).collect()
    assert {(r["partition_key"], r["check"]): r["n_rows"] for r in rate
            if r["check"] == "referential"} == {(None, "referential"): 3,
                                                ("p1", "referential"): 2}


def test_dim_derived_from_the_fact_frame(spark):
    """A dimension sharing the fact frame's lineage (same attribute ids)
    still correlates on the fact row."""
    fact = _fact(spark)
    dim = fact.where(F.col("part") == "p2").select(F.col("fk").alias("k"))
    got = _referential(partition_verdicts(fact, _rules([("fk", "d", "k")]),
                                          "part", {"d": dim}), "fk")
    assert got == _witness(spark, fact, "fk", dim, "k") \
        == {"p1": 3, "p3": 1}


def test_missing_dim_or_fk_column_has_no_row(spark):
    fact = _fact(spark)
    dim = spark.createDataFrame([("zzz",)], "k string")
    no_dim = partition_verdicts(fact, _rules([("fk", "other", "k")]),
                                "part", {"d": dim})
    no_col = partition_verdicts(fact, _rules([("nope", "d", "k")]),
                                "part", {"d": dim})
    for pv in (no_dim, no_col):
        rows = pv.collect()
        assert rows and all(r["check"] != "referential" for r in rows)
    # no per-row check and no applicable key: the typed empty frame
    bare = Rules.from_nested_dict("ri", {"fk": {"data_type": "String"}})
    bare.foreign_keys = [("fk", "other", "k")]
    assert partition_verdicts(fact, bare, "part", {"d": dim}).count() == 0
