"""Property-based test for the round-3 ``scd2_history`` operator —
randomized tiny frames re-checked against a plain-Python oracle (the
strategy of test_property_joins). Edge focus: single events and
NULL-safe change collapse."""

from __future__ import annotations

import datetime as dt
from collections import defaultdict

from hypothesis import HealthCheck, given, settings, strategies as st

from schema_validata_spark.operators.selection import scd2_history

BASE = dt.datetime(2024, 1, 1)
KEYS = st.integers(0, 2)


def _ts(seconds):
    return BASE + dt.timedelta(seconds=seconds)


@settings(max_examples=12, deadline=None,
          suppress_health_check=list(HealthCheck))
@given(rows=st.lists(
    st.tuples(KEYS, st.integers(0, 50),
              st.one_of(st.none(), st.sampled_from(["a", "b"]))),
    min_size=1, max_size=25, unique_by=lambda r: (r[0], r[1])))
def test_scd2_intervals_partition_timeline(spark, rows):
    """Intervals per key: start at the key's first event, chain
    valid_to == next valid_from, end open, and replaying state at
    each event time gives the event's value."""
    df = spark.createDataFrame(
        [(f"k{k}", _ts(s), v) for k, s, v in rows],
        "k string, ts timestamp, v string")
    hist = scd2_history(df, ["k"], "ts", ["v"]).collect()
    by_key = defaultdict(list)
    for r in hist:
        by_key[r["k"]].append(r)
    events = defaultdict(list)
    for k, s, v in rows:
        events[f"k{k}"].append((_ts(s), v))
    for key, evs in events.items():
        evs.sort()
        ivs = sorted(by_key[key], key=lambda r: r["valid_from"])
        assert ivs[0]["valid_from"] == evs[0][0]
        assert ivs[-1]["valid_to"] is None
        for a, b in zip(ivs, ivs[1:]):
            assert a["valid_to"] == b["valid_from"]
            assert a["v"] != b["v"] or (a["v"] is None) != (b["v"] is None)
        # state-at-time replay
        for t, v in evs:
            holding = [iv for iv in ivs
                       if iv["valid_from"] <= t
                       and (iv["valid_to"] is None or t < iv["valid_to"])]
            assert len(holding) == 1 and holding[0]["v"] == v
