"""Property-based test of the conversation-assembly span contract:
randomized conversations (NULL texts, duplicate order values) through
``assemble_conversations`` and ``span_offsets``. Frames stay tiny
(≤ 25 rows); the point is edge coverage, not volume."""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings, strategies as st

WORDS = st.lists(st.sampled_from(
    ["alpha", "beta", "gamma", "delta", "eps", "zeta", "eta", "theta"]),
    min_size=0, max_size=14).map(" ".join)
TEXTS = st.one_of(st.none(), WORDS)


@settings(max_examples=10, deadline=None,
          suppress_health_check=list(HealthCheck))
@given(data=st.data())
def test_assembly_span_coordinate_contract(spark, data):
    """For random conversations (NULL texts, duplicate order values),
    every span_offsets row slices its own text out of
    assemble_conversations' document."""
    from schema_validata_spark.operators.sequence import (
        assemble_conversations, span_offsets)
    rows = data.draw(st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 30), TEXTS),
        min_size=1, max_size=25))
    # duplicate (conv, idx) would make turn identity ambiguous for the
    # slice check; keep idx unique per conv (the engine's key contract)
    seen, uniq = set(), []
    for c, i, t in rows:
        if (c, i) not in seen:
            seen.add((c, i))
            uniq.append((c, i, t))
    df = spark.createDataFrame(uniq, "conv int, idx int, text string")
    docs = {r["conv"]: r["doc"] for r in
            assemble_conversations(df, "conv", "idx", "text").collect()}
    texts = {(c, i): t or "" for c, i, t in uniq}
    spans = span_offsets(df, "conv", ["idx"], "text", sep_len=1).collect()
    assert len(spans) == len(uniq)
    for r in spans:
        assert docs[r["conv"]][r["start_char"]:r["end_char"]] == \
            texts[(r["conv"], r["idx"])]
