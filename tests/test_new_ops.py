"""Round-1 widening: length percentiles, rules bootstrap, table
metadata, report sinks, stateful streaming."""

import json
import os

from pyspark.sql import functions as F

from schema_validata_spark.datagen import (gen_conversations, gen_transcripts,
                                           transcript_rules)
from schema_validata_spark.operators.profile import (length_percentiles,
                                                     profile)
from schema_validata_spark.report import errors_overview, write_report
from schema_validata_spark.rules import Rules
from schema_validata_spark.sources.tableio import TableIO
from schema_validata_spark.streaming import stream_monotonic_ts_violations
from schema_validata_spark.validate import validate


def test_length_percentiles_exact_vs_approx(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    exact = length_percentiles(docs, "text", exact=True).collect()[0]
    approx = length_percentiles(docs, "text", exact=False).collect()[0]
    assert exact["p_5"] <= exact["p_9"] <= exact["p_99"]
    # sketch stays within a loose band of exact on this distribution
    for k in ("p_5", "p_9", "p_99"):
        assert abs(float(approx[k]) - float(exact[k])) / float(exact[k]) < 0.1
    grouped = length_percentiles(docs, "text", group_col="lang").collect()
    assert len(grouped) == docs.select("lang").distinct().count()


def test_rules_from_profile_roundtrip(spark):
    t = gen_transcripts(spark, 2000, seed=42).drop("ts_date")
    obs = profile(t)
    rules = Rules.from_profile("BOOTSTRAP", obs)
    names = set(rules.field_names())
    assert names == set(t.columns)
    role = rules["role"]
    assert role.data_type == "String"
    assert isinstance(role.allowed_value_list, list)
    # bootstrapped rules validate their own source with no type errors
    res = validate(spark, t, rules, dataset_name="self", list_errors=False)
    assert all("data_type" not in v
               for v in res.schema_violations.values())


def test_tableio_metadata(spark, sf_dir):
    io = TableIO(spark)
    md = io.metadata(f"{sf_dir}/customer.parquet")
    assert md["row_count"] > 0 and md["column_count"] == 5
    assert len(md["schema_md5"]) == 32


def test_write_report(spark, tmp_path):
    t = gen_transcripts(spark, 2000, seed=42).drop("ts_date")
    c = gen_conversations(spark, 2000, seed=42)
    res = validate(spark, t, transcript_rules(), dataset_name="transcripts",
                   dims={"conversations": c},
                   key_cols=["conv_id", "turn_idx"], ignore_errors=[])
    paths = write_report(res, str(tmp_path), out_name="r1")
    assert os.path.exists(paths["json"])
    with open(paths["json"]) as f:
        rep = json.load(f)
    assert res.uid in rep
    rows = errors_overview(rep)
    assert any(r["Column"] == "missing_col"
               and r["Error Type"] == "required_column" for r in rows)
    assert os.path.exists(paths["overview_csv"])
    assert os.path.exists(paths["violations_parquet"])
    assert spark.read.parquet(paths["violations_parquet"]).count() \
        == res.violations.count()


def test_stream_monotonic_ts_state_across_batches(spark, tmp_path):
    """Two files → maxFilesPerTrigger=1 → two micro-batches; a timestamp
    regression BETWEEN batches is only catchable via state."""
    src = str(tmp_path / "mono_src")
    rows1 = [("c1", 0, "2024-01-01 00:00:10"),
             ("c1", 1, "2024-01-01 00:00:20"),
             ("c2", 0, "2024-01-01 00:00:05")]
    rows2 = [("c1", 2, "2024-01-01 00:00:15"),   # regression vs batch 1
             ("c1", 3, "2024-01-01 00:00:30"),
             ("c2", 1, "2024-01-01 00:00:06")]
    df1 = spark.createDataFrame(rows1, "conv_id string, turn_idx int, ts_s string") \
        .select("conv_id", "turn_idx", F.to_timestamp("ts_s").alias("ts"))
    df2 = spark.createDataFrame(rows2, "conv_id string, turn_idx int, ts_s string") \
        .select("conv_id", "turn_idx", F.to_timestamp("ts_s").alias("ts"))
    df1.coalesce(1).write.parquet(src)
    df2.coalesce(1).write.mode("append").parquet(src)

    stream = (spark.readStream.schema(df1.schema)
              .option("maxFilesPerTrigger", "1").parquet(src))
    out = stream_monotonic_ts_violations(stream)
    q = (out.writeStream.format("memory").queryName("mono_mem")
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {(r["conv_id"], r["turn_idx"])
           for r in spark.sql("SELECT * FROM mono_mem").collect()}
    assert ("c1", 2) in got
    assert ("c2", 1) not in got
    assert ("c1", 3) not in got


def test_stream_role_conformance_state_across_batches(spark, tmp_path):
    """Two micro-batches; a user→user transition that straddles the
    batch boundary is only catchable via carried state. Also: a bad
    opener in batch 2 and a NULL role mid-conversation."""
    from schema_validata_spark.streaming import stream_role_conformance
    src = str(tmp_path / "role_src")
    rows1 = [("c1", 0, "user"), ("c1", 1, "assistant"),
             ("c1", 2, "user"),
             ("c2", 0, "user")]
    rows2 = [("c1", 3, "user"),        # user→user ACROSS batches: bad
             ("c2", 1, None),          # user→NULL: bad transition
             ("c3", 0, "assistant"),   # bad opener
             ("c3", 1, "user")]        # assistant→user: fine
    schema = "conv_id string, turn_idx int, role string"
    spark.createDataFrame(rows1, schema).coalesce(1).write.parquet(src)
    spark.createDataFrame(rows2, schema).coalesce(1) \
        .write.mode("append").parquet(src)

    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", "1").parquet(src))
    out = stream_role_conformance(
        stream,
        transitions={("system", "user"), ("user", "assistant"),
                     ("assistant", "user")},
        first_roles={"system", "user"})
    q = (out.writeStream.format("memory").queryName("role_mem")
         .option("checkpointLocation", str(tmp_path / "role_ckpt"))
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {(r["conv_id"], r["turn_idx"]): r["error_type"]
           for r in spark.sql("SELECT * FROM role_mem").collect()}
    assert got[("c1", 3)] == "Bad Role Transition"
    assert got[("c2", 1)] == "Bad Role Transition"
    assert got[("c3", 0)] == "Bad Opening Role"
    assert ("c3", 1) not in got
    assert ("c1", 1) not in got and ("c1", 2) not in got
