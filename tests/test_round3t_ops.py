"""Round-3t: SCD2 history intervals, streaming referential integrity."""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import functions as F

from schema_validata_spark.operators.selection import scd2_history


def _ts(s):
    return datetime.datetime.fromisoformat(s)


# --------------------------------------------------------- scd2_history

def _ev(spark, rows):
    return spark.createDataFrame(
        rows, "k string, ts timestamp, status string, tier string")


def test_scd2_hand_case(spark):
    rows = [("u1", _ts("2024-01-01T00:00"), "active", "free"),
            ("u1", _ts("2024-01-02T00:00"), "active", "free"),   # no chg
            ("u1", _ts("2024-01-03T00:00"), "active", "paid"),   # change
            ("u1", _ts("2024-01-05T00:00"), "closed", "paid")]   # change
    got = scd2_history(_ev(spark, rows), ["k"], "ts",
                       ["status", "tier"]) \
        .orderBy("valid_from").collect()
    assert len(got) == 3
    a, b, c = got
    assert (a["status"], a["tier"]) == ("active", "free")
    assert a["valid_from"] == _ts("2024-01-01T00:00")
    assert a["valid_to"] == _ts("2024-01-03T00:00")
    assert b["valid_to"] == _ts("2024-01-05T00:00")
    assert (c["status"], c["valid_to"]) == ("closed", None)


def test_scd2_null_safe_change_detection(spark):
    rows = [("u1", _ts("2024-01-01T00:00"), None, "x"),
            ("u1", _ts("2024-01-02T00:00"), None, "x"),   # NULL==NULL
            ("u1", _ts("2024-01-03T00:00"), "set", "x")]  # NULL->value
    got = scd2_history(_ev(spark, rows), ["k"], "ts",
                       ["status", "tier"]) \
        .orderBy("valid_from").collect()
    assert len(got) == 2
    assert got[0]["status"] is None
    assert got[0]["valid_to"] == _ts("2024-01-03T00:00")


def test_scd2_asof_composability(spark):
    """The produced intervals answer 'state at time T' via a plain
    range predicate."""
    rows = [("u1", _ts("2024-01-01T00:00"), "active", "free"),
            ("u1", _ts("2024-01-03T00:00"), "active", "paid")]
    hist = scd2_history(_ev(spark, rows), ["k"], "ts",
                        ["status", "tier"])
    at = hist.where(
        (F.col("valid_from") <= F.lit(_ts("2024-01-02T12:00")))
        & (F.col("valid_to").isNull()
           | (F.col("valid_to") > F.lit(_ts("2024-01-02T12:00"))))
    ).collect()
    assert len(at) == 1 and at[0]["tier"] == "free"


def test_scd2_excludes_null_keys_and_validation(spark):
    rows = [(None, _ts("2024-01-01T00:00"), "a", "b"),
            ("u1", None, "a", "b"),
            ("u1", _ts("2024-01-01T00:00"), "a", "b")]
    got = scd2_history(_ev(spark, rows), ["k"], "ts", ["status"])
    assert got.count() == 1
    with pytest.raises(ValueError):
        scd2_history(_ev(spark, rows), [], "ts", ["status"])
    with pytest.raises(ValueError):
        scd2_history(_ev(spark, rows), ["k"], "ts", [])


def test_scd2_single_exchange_plan(spark):
    import contextlib
    import io
    rows = [("u%d" % (i % 3), _ts("2024-01-01T00:00")
             + datetime.timedelta(hours=i), "s%d" % (i % 2), "t")
            for i in range(30)]
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        scd2_history(_ev(spark, rows), ["k"], "ts",
                     ["status", "tier"]).explain("formatted")
    plan = buf.getvalue()
    # lag-flag window and lead window share ONE exchange on the key
    assert plan.count("Arguments: hashpartitioning") == 1, plan


# ------------------------------------------------- stream_ri_violations

def test_stream_ri_matches_batch_anti_join(spark, tmp_path):
    """The stream op returns exactly ``referential_violations`` on the
    same rows: a NULL foreign key is not an orphan, and a duplicate
    dimension key does not multiply fact rows."""
    from schema_validata_spark.operators.integrity import \
        referential_violations
    from schema_validata_spark.streaming.validate_stream import \
        stream_ri_violations

    facts = spark.createDataFrame(
        [(i, i % 7) for i in range(50)] + [(99, None), (100, None)],
        "event_id long, fk long")
    dim = spark.createDataFrame([(k,) for k in (0, 1, 1, 2, 3, 3, None)],
                                "pk long")
    src = str(tmp_path / "ri_src")
    facts.write.parquet(src)
    stream = spark.readStream.schema(facts.schema).parquet(src)
    out = stream_ri_violations(stream, dim, "fk", "pk")
    q = (out.writeStream.format("memory").queryName("ri_mem")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = sorted((r["event_id"], r["fk"])
                 for r in spark.sql("SELECT * FROM ri_mem").collect())
    batch = sorted((r["event_id"], r["fk"]) for r in
                   referential_violations(facts, ["fk"], dim,
                                          ["pk"]).collect())
    assert got == batch
    assert got == sorted((i, i % 7) for i in range(50) if i % 7 > 3)
