"""Round-3dd: streaming burst alerts."""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import functions as F


def _ts(s):
    return datetime.datetime.fromisoformat(s)


# --------------------------------------------------- stream_burst_alerts

def test_stream_burst_alerts(spark, tmp_path):
    from schema_validata_spark.streaming.validate_stream import \
        stream_burst_alerts

    base = _ts("2024-01-01T00:00:00")
    rows = ([("hot", base + datetime.timedelta(seconds=i))
             for i in range(30)]                       # 30 in 30s
            + [("calm", base + datetime.timedelta(minutes=7 * i))
               for i in range(5)]
            + [(None, base)])
    df = spark.createDataFrame(rows, "u string, ts timestamp")
    src = str(tmp_path / "burst_src")
    df.write.parquet(src)
    stream = spark.readStream.schema(df.schema).parquet(src)
    out = stream_burst_alerts(stream, "u", "ts", window="5 minutes",
                              watermark="1 hour", threshold=10)
    q = (out.writeStream.format("memory").queryName("burst_mem")
         .outputMode("complete").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = spark.sql("SELECT * FROM burst_mem").collect()
    assert {r["key"] for r in got} == {"hot"}
    assert got[0]["n_events"] == 30
    with pytest.raises(ValueError):
        stream_burst_alerts(df, "u", threshold=0)
