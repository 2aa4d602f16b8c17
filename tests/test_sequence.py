"""Sequence/window operators (operators/sequence.py)."""

import datetime as dt

from schema_validata_spark.operators.sequence import consecutive_repeats


def _events(spark):
    base = dt.datetime(2024, 1, 1, 9, 0)
    rows = [
        # user A: burst, 40-min gap, burst; repeat in the 2nd burst
        (1, "a", "click", base),
        (2, "a", "view", base + dt.timedelta(minutes=5)),
        (3, "a", "click", base + dt.timedelta(minutes=50)),
        (4, "a", "click", base + dt.timedelta(minutes=51)),
        # user B: single event
        (5, "b", "view", base),
    ]
    return spark.createDataFrame(
        rows, "event_id long, user_id string, event_type string, ts timestamp")


def test_consecutive_repeats(spark):
    df = _events(spark)
    got = consecutive_repeats(df, "user_id", ["ts", "event_id"],
                              "event_type").collect()
    assert [(r["event_id"], r["prev_value"]) for r in got] == [(4, "click")]


def test_order_regressions(spark):
    import datetime as dt
    from schema_validata_spark.operators.sequence import order_regressions
    base = dt.datetime(2024, 1, 1, 9, 0)
    m = dt.timedelta(minutes=1)
    rows = [  # logical order = turn_idx; turn 3 regresses past turn 1
        ("c", 1, base + 5 * m), ("c", 2, base + 6 * m), ("c", 3, base + 2 * m),
        ("c", 4, base + 7 * m),                  # above the running max — ok
        ("d", 1, base), ("d", 2, base),  # equal ts is NOT a regression
    ]
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int, ts timestamp")
    got = [(r["conv_id"], r["turn_idx"]) for r in
           order_regressions(df, "conv_id", ["turn_idx"], "ts").collect()]
    assert got == [("c", 3)]


# --- turn_conformance --------------------------------------------------------

def _tc(spark, rows, start=0):
    from schema_validata_spark.operators.sequence import turn_conformance
    df = spark.createDataFrame(rows, ["conv", "idx"])
    return {r["conv"]: r for r in
            turn_conformance(df, "conv", "idx", start=start).collect()}


def test_turn_conformance_dense_not_flagged(spark):
    rows = [("a", 0), ("a", 1), ("a", 2), ("b", 0)]
    assert _tc(spark, rows) == {}


def test_turn_conformance_gap(spark):
    out = _tc(spark, [("a", 0), ("a", 2)])
    r = out["a"]
    assert r["n_turns"] == 2 and r["n_dup_rows"] == 0
    assert (r["min_idx"], r["max_idx"]) == (0, 2)


def test_turn_conformance_duplicate_and_null(spark):
    out = _tc(spark, [("a", 0), ("a", 0), ("a", 1),
                      ("b", 0), ("b", None)])
    assert out["a"]["n_dup_rows"] == 1
    assert out["b"]["n_null_idx"] == 1


def test_turn_conformance_offset_start(spark):
    # dense 1..n is conformant only with start=1
    rows = [("a", 1), ("a", 2), ("a", 3)]
    assert "a" in _tc(spark, rows, start=0)
    assert _tc(spark, rows, start=1) == {}


def test_turn_latency_stats(spark):
    from schema_validata_spark.operators.sequence import turn_latency_stats
    base = dt.datetime(2024, 1, 1, 9, 0)
    rows = [
        ("a", base), ("a", base + dt.timedelta(seconds=10)),
        ("a", base + dt.timedelta(seconds=30)),   # gaps: 10, 20
        ("b", base), ("b", None),                 # NULL ts excluded
    ]
    df = spark.createDataFrame(rows, "conv string, ts timestamp")
    got = {r["conv"]: r
           for r in turn_latency_stats(df, "conv", "ts").collect()}
    a = got["a"]
    assert a["n_events"] == 3 and a["n_gaps"] == 2
    assert a["mean_gap_s"] == 15.0 and a["median_gap_s"] == 15.0
    # exact interpolated p95 of [10, 20]: 10 + 0.95 * 10
    assert a["p95_gap_s"] == 19.5 and a["max_gap_s"] == 20.0
    b = got["b"]
    assert b["n_events"] == 1 and b["n_gaps"] == 0
    assert b["max_gap_s"] is None


def test_turn_latency_tie_robust(spark):
    """Deltas of a sorted multiset don't depend on tiebreak order:
    the same rows under different partitioning give identical stats."""
    from schema_validata_spark.operators.sequence import turn_latency_stats
    base = dt.datetime(2024, 1, 1)
    rows = [("a", base), ("a", base), ("a", base),
            ("a", base + dt.timedelta(seconds=7))]
    df = spark.createDataFrame(rows, "conv string, ts timestamp")
    r1 = turn_latency_stats(df, "conv", "ts").collect()[0]
    r2 = turn_latency_stats(df.repartition(7), "conv", "ts").collect()[0]
    assert r1 == r2
    assert r1["n_gaps"] == 3 and r1["max_gap_s"] == 7.0


def test_transition_counts(spark):
    from schema_validata_spark.operators.sequence import transition_counts
    df = _events(spark)  # a: click,view,click,click; b: view
    got = {(r["prev_value"], r["value"]): r["n"]
           for r in transition_counts(
               df, "user_id", ["ts", "event_id"], "event_type")
           .collect()}
    assert got[(None, "click")] == 1 and got[(None, "view")] == 1
    assert got[("click", "view")] == 1 and got[("view", "click")] == 1
    assert got[("click", "click")] == 1
    assert sum(got.values()) == 5


def test_role_share_stats(spark):
    from schema_validata_spark.operators.sequence import role_share_stats
    rows = [
        ("c1", "user"), ("c1", "assistant"), ("c1", "assistant"),
        ("c1", None),                       # NULL role: total, not focus
        ("c2", "user"), ("c2", "user"),     # zero focus mass
    ]
    df = spark.createDataFrame(rows, "conv string, role string")
    got = {r["conv"]: r
           for r in role_share_stats(df, "conv", "role",
                                     "assistant").collect()}
    c1 = got["c1"]
    assert c1["n_turns"] == 4 and c1["total_weight"] == 4.0
    assert c1["focus_weight"] == 2.0 and c1["focus_share"] == 0.5
    assert got["c2"]["focus_share"] == 0.0


def test_role_share_stats_weighted(spark):
    """Weighted mode: NULL weights contribute 0, never NULL-poison."""
    from schema_validata_spark.operators.sequence import role_share_stats
    rows = [("c1", "assistant", 30), ("c1", "user", 10),
            ("c1", "assistant", None)]
    df = spark.createDataFrame(rows, "conv string, role string, w long")
    r = role_share_stats(df, "conv", "role", "assistant",
                         weight="w").collect()[0]
    assert r["total_weight"] == 40.0 and r["focus_weight"] == 30.0
    assert r["focus_share"] == 0.75


TURNS = [
    # conv, idx, role, text
    ("c1", 0, "system", "be helpful"),
    ("c1", 1, "user", "hi"),
    ("c1", 2, "assistant", "hello!"),
    ("c1", 3, "tool", "{}"),
    ("c1", 4, "assistant", "done"),       # prev is tool → no pair
    ("c2", 0, "assistant", "orphan"),     # first turn → no pair
    ("c2", 1, "user", None),              # NULL prompt text
    ("c2", 2, "assistant", "reply"),
]


def test_sft_pairs_prev_user_only(spark):
    """Only assistant turns immediately preceded by a user turn pair
    up; tool-interrupted and conversation-opening assistants don't."""
    from schema_validata_spark.operators.sequence import sft_pairs
    df = spark.createDataFrame(
        TURNS, "conv string, idx int, role string, text string")
    got = {(r["conv"], r["idx"]): (r["prompt_text"], r["response_text"])
           for r in sft_pairs(df, "conv", ["idx"], "role", "text")
           .collect()}
    assert got == {("c1", 2): ("hi", "hello!"),
                   ("c2", 2): (None, "reply")}


def test_span_offsets_separator_accounting(spark):
    """Offsets match python's '\\x1f'.join on coalesced texts; NULL
    text is a 0-length span that still consumes its separator."""
    from schema_validata_spark.operators.sequence import span_offsets
    df = spark.createDataFrame(
        TURNS, "conv string, idx int, role string, text string")
    all_spans = span_offsets(df, "conv", ["idx"], "text",
                             role_col="role", sep_len=1).collect()
    by_conv = {}
    for conv, idx, role, text in TURNS:
        by_conv.setdefault(conv, []).append(text or "")
    for r in all_spans:
        doc = "\x1f".join(by_conv[r["conv"]])
        want = by_conv[r["conv"]][r["idx"]]
        assert doc[r["start_char"]:r["end_char"]] == want, r
    kept = span_offsets(df, "conv", ["idx"], "text", role_col="role",
                        roles={"assistant"}, sep_len=1).collect()
    assert {(r["conv"], r["idx"]) for r in kept} == \
        {("c1", 2), ("c1", 4), ("c2", 0), ("c2", 2)}
    # masked and kept turns share one coordinate system
    first = {(r["conv"], r["idx"]): r["start_char"] for r in all_spans}
    for r in kept:
        assert first[(r["conv"], r["idx"])] == r["start_char"]


def test_assemble_conversations_matches_span_offsets(spark):
    """Cross-op contract: span_offsets (same sep_len) indexes EXACTLY
    into the document assemble_conversations builds."""
    from schema_validata_spark.operators.sequence import (
        assemble_conversations, span_offsets)
    df = spark.createDataFrame(
        TURNS, "conv string, idx int, role string, text string")
    docs = {r["conv"]: r for r in
            assemble_conversations(df, "conv", "idx", "text").collect()}
    assert docs["c1"]["n_turns"] == 5
    assert docs["c1"]["doc"].split("\x1f")[1] == "hi"
    spans = span_offsets(df, "conv", ["idx"], "text",
                         role_col="role", sep_len=1).collect()
    texts = {(c, i): t or "" for c, i, _, t in TURNS}
    for r in spans:
        doc = docs[r["conv"]]["doc"]
        assert doc[r["start_char"]:r["end_char"]] == \
            texts[(r["conv"], r["idx"])]
        assert docs[r["conv"]]["n_chars"] == len(doc)


def test_sequence_ngrams_respect_partition_boundaries(spark):
    from schema_validata_spark.operators.sequence import sequence_ngrams
    rows = [("a", 1, "x"), ("a", 2, "y"), ("a", 3, "z"),
            ("b", 1, "z"), ("b", 2, "x")]
    df = spark.createDataFrame(rows, ["conv", "idx", "tool"])
    got = {tuple(r["gram"]): r["n_occurrences"]
           for r in sequence_ngrams(df, "conv", ["idx"], "tool",
                                    n=3).collect()}
    # only conv a has 3 turns; no gram spans a->b
    assert got == {("x", "y", "z"): 1}
    bi = {tuple(r["gram"]): r["n_occurrences"]
          for r in sequence_ngrams(df, "conv", ["idx"], "tool",
                                   n=2).collect()}
    assert bi == {("x", "y"): 1, ("y", "z"): 1, ("z", "x"): 1}
    assert ("z", "z") not in bi  # a's last -> b's first never pairs


def test_sequence_ngrams_null_labels_inside_grams(spark):
    """A NULL label is part of the sequence, not a partition start —
    position-based gating keeps it inside grams."""
    from schema_validata_spark.operators.sequence import sequence_ngrams
    rows = [("a", 1, "x"), ("a", 2, None), ("a", 3, "y")]
    df = spark.createDataFrame(rows, ["conv", "idx", "tool"])
    got = {tuple(r["gram"]) for r in
           sequence_ngrams(df, "conv", ["idx"], "tool", n=2).collect()}
    assert got == {("x", None), (None, "y")}


def test_sequence_ngrams_min_count_and_validation(spark):
    import pytest

    from schema_validata_spark.operators.sequence import sequence_ngrams
    rows = [("a", i, "t" if i % 2 else "u") for i in range(1, 9)]
    df = spark.createDataFrame(rows, ["conv", "idx", "tool"])
    out = sequence_ngrams(df, "conv", ["idx"], "tool", n=2,
                          min_count=3).collect()
    assert all(r["n_occurrences"] >= 3 for r in out) and out
    with pytest.raises(ValueError, match="n >= 2"):
        sequence_ngrams(df, "conv", ["idx"], "tool", n=1)


def test_turn_balance_hand_computed(spark):
    from schema_validata_spark.operators.sequence import turn_balance_stats
    rows = [("c1", "user", "hi"), ("c1", "user", "yo!"),
            ("c1", "assistant", "hello"), ("c1", "assistant", None),
            ("c1", "system", "x"), ("c1", None, "zz"),
            ("c2", "assistant", "wall of text")]
    df = spark.createDataFrame(rows, "conv: string, role: string, text: string")
    out = {r["conv"]: r for r in
           turn_balance_stats(df, "conv", "role", "text").collect()}
    c1 = out["c1"]
    assert c1["n_prompt_turns"] == 2 and c1["n_response_turns"] == 2
    assert c1["prompt_chars"] == 5 and c1["response_chars"] == 5
    assert c1["response_ratio"] == 1.0
    # no prompt mass -> NULL ratio, conversation still reported
    c2 = out["c2"]
    assert c2["n_prompt_turns"] == 0 and c2["response_chars"] == 12
    assert c2["response_ratio"] is None


def test_terminal_turns_hand_computed(spark):
    from schema_validata_spark.operators.sequence import terminal_turns
    rows = [("c1", 1, "user"), ("c1", 2, "assistant"),      # ok
            ("c2", 1, "user"), ("c2", 2, "user"),           # ends on user
            ("c3", 1, "assistant"), ("c3", 2, None),        # NULL last role
            ("c4", 1, "tool")]                              # ends on tool
    df = spark.createDataFrame(rows, "conv: string, idx: int, role: string")
    out = {r["conv"]: r for r in
           terminal_turns(df, "conv", ["idx"], "role").collect()}
    assert set(out) == {"c2", "c3", "c4"}
    assert out["c2"]["last_role"] == "user" and out["c2"]["last_order"] == 2
    assert out["c3"]["last_role"] is None
    assert out["c4"]["n_turns"] == 1
    # widening the allowed set clears the tool ending
    out2 = {r["conv"] for r in
            terminal_turns(df, "conv", ["idx"], "role",
                           allowed_last={"assistant", "tool"}).collect()}
    assert out2 == {"c2", "c3"}


def test_position_profile_hand_computed(spark):
    from schema_validata_spark.operators.sequence import position_profile
    rows = [("c1", 1, "aaaa"), ("c1", 2, "bb"), ("c1", 3, "c"),
            ("c1", 4, "dd"),
            ("c2", 1, "eeee"), ("c2", 2, None),
            ("c3", 1, "  ")]
    df = spark.createDataFrame(rows, "conv: string, idx: int, text: string")
    out = {r["position"]: r for r in
           position_profile(df, "conv", ["idx"], "text",
                            max_bucket=3).collect()}
    p1 = out[1]
    assert p1["n_turns"] == 3 and p1["n_empty"] == 1
    # mean over non-NULL texts: (4 + 4 + 2)/3 (blank "  " has length 2)
    assert p1["mean_chars"] == round(10 / 3, 6)
    p2 = out[2]
    assert p2["n_turns"] == 2 and p2["n_empty"] == 1
    assert p2["mean_chars"] == 2.0        # NULL text excluded from mean
    # positions 3 and 4 collapse into the capped bucket
    p3 = out[3]
    assert p3["n_turns"] == 2 and p3["position_capped"] == 1
    assert p3["mean_chars"] == 1.5 and p3["max_chars"] == 2
    assert out[1]["position_capped"] == 0
