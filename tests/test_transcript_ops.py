"""Transcript-shape operators: role-transition conformance
(operators/sequence.py:role_conformance) and whole-conversation dedup
(operators/dedup.py:duplicate_conversations)."""

from schema_validata_spark.operators.dedup import (
    conversation_fingerprints, duplicate_conversations)
from schema_validata_spark.operators.sequence import role_conformance

TRANS = {("system", "user"), ("user", "assistant"),
         ("assistant", "user")}
FIRST = {"system", "user"}


def _conv(spark, rows):
    return spark.createDataFrame(
        rows, "conv string, turn int, role string, text string")


def test_role_conformance_clean_conversations_filtered(spark):
    df = _conv(spark, [
        ("a", 1, "system", "s"), ("a", 2, "user", "hi"),
        ("a", 3, "assistant", "yo"), ("a", 4, "user", "more"),
        ("b", 1, "user", "hi"), ("b", 2, "assistant", "yo"),
    ])
    got = role_conformance(df, "conv", ["turn"], "role",
                           transitions=TRANS, first_roles=FIRST)
    assert got.count() == 0


def test_role_conformance_flags_each_break_kind(spark):
    df = _conv(spark, [
        # c: bad opener (assistant first)
        ("c", 1, "assistant", "x"), ("c", 2, "user", "y"),
        # d: double-user transition at turn 3
        ("d", 1, "user", "x"), ("d", 2, "assistant", "y"),
        ("d", 3, "assistant", "z"),
        # e: NULL role mid-stream — two bad transitions (into + out of)
        ("e", 1, "user", "x"), ("e", 2, None, "y"),
        ("e", 3, "assistant", "z"),
    ])
    got = {r["conv"]: r for r in
           role_conformance(df, "conv", ["turn"], "role",
                            transitions=TRANS,
                            first_roles=FIRST).collect()}
    assert set(got) == {"c", "d", "e"}
    assert got["c"]["bad_first"] == 1
    assert got["c"]["n_bad_transitions"] == 0
    assert got["c"]["first_bad_order"] == 1
    assert got["d"]["bad_first"] == 0
    assert got["d"]["n_bad_transitions"] == 1
    assert got["d"]["first_bad_order"] == 3
    assert got["e"]["n_null_roles"] == 1
    assert got["e"]["n_bad_transitions"] == 2
    assert got["e"]["first_bad_order"] == 2


def test_role_conformance_null_opener_is_bad_first(spark):
    df = _conv(spark, [("f", 1, None, "x"), ("f", 2, "user", "y")])
    got = role_conformance(df, "conv", ["turn"], "role",
                           transitions=TRANS,
                           first_roles=FIRST).collect()
    assert len(got) == 1
    r = got[0]
    assert r["bad_first"] == 1 and r["n_null_roles"] == 1
    # NULL→user is also not an allowed transition
    assert r["n_bad_transitions"] == 1


def test_duplicate_conversations_by_sequence_content(spark):
    df = _conv(spark, [
        ("a", 1, "u", "hello"), ("a", 2, "b", "world"),
        # b == a's content under different ids AND different index base
        ("b", 10, "u", "hello"), ("b", 20, "b", "world"),
        # c: same texts, different ORDER — not a duplicate of a/b
        ("c", 1, "u", "world"), ("c", 2, "b", "hello"),
        # d: subset of a — not a duplicate
        ("d", 1, "u", "hello"),
    ])
    got = duplicate_conversations(df, "conv", "turn", "text").collect()
    assert len(got) == 1
    assert got[0]["example_conv"] == "a"
    assert got[0]["n_convs"] == 2
    assert got[0]["n_turns"] == 2


def test_conversation_fingerprints_null_text_participates(spark):
    df = _conv(spark, [
        ("a", 1, "u", None), ("a", 2, "b", "x"),
        ("b", 1, "u", None), ("b", 2, "b", "x"),
        ("c", 1, "u", ""), ("c", 2, "b", "x"),  # '' != NULL
    ])
    fps = {r["conv"]: r["conv_fp"] for r in
           conversation_fingerprints(df, "conv", "turn",
                                     "text").collect()}
    assert fps["a"] == fps["b"]
    assert fps["a"] != fps["c"]


def test_duplicate_conversations_partition_independent(spark):
    rows = [(f"c{i % 5}", j, "u", f"t{i % 5}-{j}")
            for i in range(10) for j in range(4)]
    df = _conv(spark, rows)
    one = duplicate_conversations(df.coalesce(1), "conv", "turn",
                                  "text").collect()
    many = duplicate_conversations(df.repartition(13), "conv", "turn",
                                   "text").collect()
    key = lambda r: r["example_conv"]
    assert sorted(one, key=key) == sorted(many, key=key)
