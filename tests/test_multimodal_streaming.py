"""Structured-Streaming validation parity: row checks, windowed
verdicts, watermark dedup, drift and sketch summaries."""

import pytest
from pyspark.sql import functions as F

from schema_validata_spark.datagen import gen_transcripts, transcript_rules
from schema_validata_spark.streaming import (stream_partition_verdicts,
                                             stream_validate)


def test_stream_validate_matches_batch(spark, tmp_path):
    """Stream the fixture through readStream; per-row violations equal
    the batch scan on the same data (parity by construction)."""
    t = gen_transcripts(spark, 3000, seed=42)
    src = str(tmp_path / "stream_src")
    t.write.parquet(src)
    stream = spark.readStream.schema(t.schema).parquet(src)
    rules = transcript_rules()

    out = stream_validate(stream, rules, ["conv_id", "turn_idx"])
    q = (out.writeStream.format("memory").queryName("violations_mem")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)

    got = spark.sql("SELECT count(*) c FROM violations_mem").collect()[0]["c"]
    batch = stream_validate(spark.read.parquet(src), rules,
                            ["conv_id", "turn_idx"]).count()
    assert got == batch > 0


def test_stream_validate_error_value_matches_batch(spark):
    """Both listings render error_value through the same display cast:
    a whole-number double lists as '150' on the batch AND the
    streaming path (the streaming twin used to list '150.0')."""
    from schema_validata_spark import FieldRule, Rules, validate
    df = spark.createDataFrame([(1, 150.0), (2, 2.5), (3, 50.0)],
                               "k int, x double")
    rules = Rules("R", fields=[FieldRule("x", range_max=100,
                                         range_min=2.9)])
    cols = ["k", "error_type", "column_name", "error_value"]
    batch = validate(spark, df, rules, key_cols=["k"],
                     ignore_errors=[]).violations.select(*cols)
    stream = stream_validate(df, rules, ["k"]).select(*cols)
    got = sorted(tuple(r) for r in stream.collect())
    assert got == sorted(tuple(r) for r in batch.collect())
    assert [r[3] for r in got] == ["150", "2.5"]


def test_stream_windowed_verdicts(spark, tmp_path):
    t = gen_transcripts(spark, 3000, seed=42)
    src = str(tmp_path / "stream_src2")
    t.write.parquet(src)
    stream = spark.readStream.schema(t.schema).parquet(src)
    out = stream_partition_verdicts(stream, transcript_rules(),
                                    ts_col="ts", window="24 hours")
    q = (out.writeStream.format("memory").queryName("verdicts_mem")
         .outputMode("complete").trigger(availableNow=True).start())
    q.awaitTermination(120)
    rows = spark.sql("SELECT * FROM verdicts_mem").collect()
    assert len(rows) > 0
    assert any(r["status"] == "fail" for r in rows)


def test_stream_dedup_within_watermark(spark, tmp_path):
    """Redelivered keys inside the watermark horizon are suppressed;
    content mode dedupes normalized-identical text across conv_ids."""
    import datetime as dt
    from schema_validata_spark.streaming.validate_stream import stream_dedup
    base = dt.datetime(2024, 1, 1, 12, 0, 0)
    rows = [
        ("c1", 0, "hello world", base),
        ("c1", 0, "hello world", base),                       # redelivery
        ("c1", 1, "second turn", base + dt.timedelta(minutes=1)),
        ("c2", 0, "HELLO   world", base + dt.timedelta(minutes=2)),
    ]
    src = str(tmp_path / "src")
    spark.createDataFrame(
        rows, "conv_id string, turn_idx int, text string, ts timestamp"
    ).write.parquet(src)
    stream = spark.readStream.schema(
        "conv_id string, turn_idx int, text string, ts timestamp"
    ).parquet(src)

    by_key = stream_dedup(stream, key_cols=["conv_id", "turn_idx"])
    q = (by_key.writeStream.format("memory").queryName("dedup_key_mem")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = spark.sql("SELECT conv_id, turn_idx FROM dedup_key_mem").collect()
    assert sorted((r[0], r[1]) for r in got) == [
        ("c1", 0), ("c1", 1), ("c2", 0)]

    by_content = stream_dedup(stream, text_col="text")
    q2 = (by_content.writeStream.format("memory")
          .queryName("dedup_content_mem")
          .outputMode("append").trigger(availableNow=True).start())
    q2.awaitTermination(120)
    texts = [r[0] for r in
             spark.sql("SELECT text FROM dedup_content_mem").collect()]
    # 'hello world' and 'HELLO   world' share a normalized fingerprint
    assert len(texts) == 2
    assert "second turn" in texts


def test_stream_dedup_arg_validation(spark):
    import pytest as _pytest
    from schema_validata_spark.streaming.validate_stream import stream_dedup
    df = spark.range(1).select(
        F.col("id").cast("string").alias("conv_id"),
        F.current_timestamp().alias("ts"))
    with _pytest.raises(ValueError):
        stream_dedup(df)


def test_stream_dedup_null_text_passthrough(spark, tmp_path):
    """Text-less rows must pass through content-mode dedup untouched —
    xxhash64(NULL) is the constant seed, so an ungated fingerprint
    would collapse every null-text row in the horizon into one."""
    import datetime as dt
    from schema_validata_spark.streaming.validate_stream import stream_dedup
    base = dt.datetime(2024, 1, 1, 12, 0)
    rows = [("c1", 0, None, base), ("c2", 0, None, base),
            ("c3", 0, None, base), ("c4", 0, "real text", base)]
    src = str(tmp_path / "src2")
    spark.createDataFrame(
        rows, "conv_id string, turn_idx int, text string, ts timestamp"
    ).write.parquet(src)
    stream = spark.readStream.schema(
        "conv_id string, turn_idx int, text string, ts timestamp"
    ).parquet(src)
    q = (stream_dedup(stream, text_col="text")
         .writeStream.format("memory").queryName("dedup_null_mem")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = sorted(r[0] for r in
                 spark.sql("SELECT conv_id FROM dedup_null_mem").collect())
    assert got == ["c1", "c2", "c3", "c4"]    # all three null-text rows kept


def test_stream_drift_scores_match_batch(spark, tmp_path):
    """Windowed streaming drift must reproduce the batch drift_scores
    chi2/PSI on the same rows vs the same baseline (one 24h window =
    the whole fixture), and a shifted stream must score drifted."""
    from schema_validata_spark.operators.drift import (drift_scores,
                                                       numeric_histogram)
    from schema_validata_spark.streaming.validate_stream import \
        stream_drift_scores

    t = gen_transcripts(spark, 4000, seed=42) \
        .select("ts", F.length("text").cast("double").alias("tlen"))
    baseline = numeric_histogram(
        t.withColumn("pk", F.lit("all")), "tlen", "pk", 0.0, 400.0, 10)

    src = str(tmp_path / "drift_src")
    t.write.parquet(src)
    stream = spark.readStream.schema(
        spark.read.parquet(src).schema).parquet(src)
    out = stream_drift_scores(stream, "tlen", baseline, 0.0, 400.0,
                              n_buckets=10, ts_col="ts",
                              window="36500 days", watermark="1 hour")
    q = (out.writeStream.format("memory").queryName("drift_mem")
         .outputMode("complete").trigger(availableNow=True).start())
    q.awaitTermination(120)
    rows = spark.sql("SELECT * FROM drift_mem").collect()
    assert len(rows) == 1
    got = rows[0]
    assert got.n_obs == 4000

    observed = numeric_histogram(
        t.withColumn("pk", F.lit("all")), "tlen", "pk", 0.0, 400.0, 10)
    batch = drift_scores(observed, baseline, by_partition=False).collect()[0]
    # identical data vs itself: both engines near-zero and equal
    assert abs(got.chi2 - batch["chi2"]) < 1e-3
    assert abs(got.psi - batch["psi"]) < 1e-3

    # shifted stream: batch and stream agree on a real drift too
    t2 = t.withColumn("tlen", F.col("tlen") * 1.5)
    src2 = str(tmp_path / "drift_src2")
    t2.write.parquet(src2)
    stream2 = spark.readStream.schema(t2.schema).parquet(src2)
    out2 = stream_drift_scores(stream2, "tlen", baseline, 0.0, 400.0,
                               n_buckets=10, ts_col="ts",
                               window="36500 days", watermark="1 hour")
    q2 = (out2.writeStream.format("memory").queryName("drift_mem2")
          .outputMode("complete").trigger(availableNow=True).start())
    q2.awaitTermination(120)
    got2 = spark.sql("SELECT * FROM drift_mem2").collect()[0]
    obs2 = numeric_histogram(
        t2.withColumn("pk", F.lit("all")), "tlen", "pk", 0.0, 400.0, 10)
    batch2 = drift_scores(obs2, baseline, by_partition=False).collect()[0]
    assert got2.psi > got.psi and got2.chi2 > got.chi2
    assert abs(got2.chi2 - batch2["chi2"]) / max(batch2["chi2"], 1.0) < 1e-3
    assert abs(got2.psi - batch2["psi"]) < 1e-3


def test_stream_drift_empty_baseline_raises(spark):
    from schema_validata_spark.streaming.validate_stream import \
        stream_drift_scores
    empty = spark.createDataFrame([], "bucket: string, count: bigint")
    df = spark.createDataFrame([(1.0,)], "v: double")
    import pytest as pt
    with pt.raises(ValueError):
        stream_drift_scores(df, "v", empty, 0.0, 1.0)


def test_stream_distinct_estimates_windows_and_merge(spark, tmp_path):
    """Per-window distinct estimates are exact in the coupon regime,
    NULLs count rows but not coupons, and the emitted sketches union
    across windows to the whole-stream distinct count."""
    import datetime as dt
    from pyspark.sql import functions as F
    from schema_validata_spark.streaming.validate_stream import (
        stream_distinct_estimates)
    h0 = dt.datetime(2024, 1, 1, 10, 0, 0)
    h1 = dt.datetime(2024, 1, 1, 11, 0, 0)
    rows = ([("c%d" % (i % 5), h0 + dt.timedelta(minutes=i % 30))
             for i in range(40)]                      # 5 distinct in w0
            + [("c%d" % (3 + i % 4), h1 + dt.timedelta(minutes=i % 30))
               for i in range(20)]                    # c3..c6 in w1
            + [(None, h0)]                            # NULL: row, no coupon
            # sentinel advances the watermark past w1's end so append
            # mode emits it; its own window never closes and is absent
            + [("sentinel", h1 + dt.timedelta(hours=1, minutes=1))])
    src = str(tmp_path / "sde")
    spark.createDataFrame(rows, "conv_id string, ts timestamp") \
        .write.parquet(src)
    stream = spark.readStream.schema("conv_id string, ts timestamp") \
        .parquet(src)
    out = stream_distinct_estimates(stream, "conv_id", window="1 hour",
                                    watermark="0 seconds")
    q = (out.writeStream.format("memory").queryName("sde_mem")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {r["window_start"]: r for r in
           spark.sql("SELECT * FROM sde_mem").collect()}
    assert got[h0]["n_distinct_est"] == 5
    assert got[h0]["n_rows"] == 41          # NULL row counted
    assert got[h1]["n_distinct_est"] == 4
    # window sketches merge to the whole-stream distinct (c0..c6 = 7)
    assert h1 + dt.timedelta(hours=1) not in got   # sentinel window open
    merged = (spark.sql("SELECT sketch FROM sde_mem")
              .agg(F.hll_sketch_estimate(F.hll_union_agg("sketch")))
              .collect()[0][0])
    assert merged == 7


def test_stream_quantile_summaries_feed_merge_and_drift(spark, tmp_path):
    """Per-window quantile summaries emit in the batch merge layer's
    frame shape: completed windows merge to whole-stream quantiles and
    diff through summary_drift (a +100 shift between windows reads as
    W1 = 100 exactly, since GK returns actual elements)."""
    import datetime as dt
    from pyspark.sql import functions as F
    from schema_validata_spark.streaming.validate_stream import (
        stream_quantile_summaries)
    from schema_validata_spark.operators.sketches import (
        merge_quantile_estimates, summary_drift)
    h0 = dt.datetime(2024, 1, 1, 10, 0, 0)
    h1 = dt.datetime(2024, 1, 1, 11, 0, 0)
    rows = ([(float(i), h0 + dt.timedelta(minutes=i % 30))
             for i in range(100)]                     # w0: 0..99
            + [(float(i) + 100.0, h1 + dt.timedelta(minutes=i % 30))
               for i in range(100)]                   # w1: 100..199
            + [(None, h0)]                            # NULL: not counted
            + [(0.0, h1 + dt.timedelta(hours=1, minutes=1))])  # sentinel
    src = str(tmp_path / "sqs")
    spark.createDataFrame(rows, "v double, ts timestamp") \
        .write.parquet(src)
    stream = spark.readStream.schema("v double, ts timestamp").parquet(src)
    out = stream_quantile_summaries(stream, ["v"], window="1 hour",
                                    watermark="0 seconds", k=8)
    q = (out.writeStream.format("memory").queryName("sqs_mem")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = spark.sql("SELECT * FROM sqs_mem")
    rows_out = {r["window_start"]: r for r in got.collect()}
    assert set(rows_out) == {h0, h1}            # sentinel window still open
    assert rows_out[h0]["n_vals"] == 100        # NULL not counted
    assert len(rows_out[h0]["qs"]) == 8
    # the emitted frame IS the batch merge layer's shape
    merged = merge_quantile_estimates(
        got.select("partition_key", "column_name", "qs", "n_vals"),
        [0.5]).collect()[0]
    assert 90.0 <= merged["q_50"] <= 110.0      # median of 0..199
    drift = summary_drift(
        got.where(F.col("window_start") == h0)
           .select("column_name", "qs", "n_vals"),
        got.where(F.col("window_start") == h1)
           .select("column_name", "qs", "n_vals"),
        probes=4).collect()[0]
    assert drift["w1_est"] == 100.0 and drift["max_q_gap"] == 100.0
