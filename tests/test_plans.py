"""Physical-plan guards: the optimizations the engine's scale story
depends on must be visible in the plan, not assumed."""

import io
import contextlib

from pyspark.sql import functions as F

from schema_validata_spark.datagen import gen_transcripts
from schema_validata_spark.operators.violations import (CheckSpec,
                                                        value_errors_df)
from schema_validata_spark.operators.integrity import referential_violations


def _plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_violations_scan_prunes_columns(spark, tmp_path):
    src = str(tmp_path / "t")
    gen_transcripts(spark, 2000, seed=42).write.parquet(src)
    t = spark.read.parquet(src)
    ve = value_errors_df(
        t, [CheckSpec("role", "allowed_value_list", ["user", "tool"])],
        ["conv_id", "turn_idx"])
    plan = _plan(ve)
    read = next(l for l in plan.splitlines() if "ReadSchema" in l)
    # only the checked column + keys are read; text/ts/tool pruned
    assert "role" in read and "conv_id" in read
    assert "text" not in read and "tool" not in read


def test_filter_pushdown_reaches_scan(spark, tmp_path):
    src = str(tmp_path / "t2")
    gen_transcripts(spark, 2000, seed=42).write.parquet(src)
    t = spark.read.parquet(src)
    q = t.where(F.col("role") == "tool").select("conv_id")
    plan = _plan(q)
    assert "PushedFilters" in plan
    assert "EqualTo(role,tool)" in plan.replace(" ", "").replace("'", "")


def test_dup_joinback_not_forced_broadcast(spark):
    """Pervasively-duplicated keys (every key duplicated) must not be
    force-broadcast: the plan may pick broadcast via AQE runtime stats,
    but no explicit hint may appear in the logical plan (a hint is
    honored regardless of size → unbounded broadcast at scale)."""
    from schema_validata_spark.operators.uniqueness import composite_duplicates
    df = spark.range(10_000).select(
        (F.col("id") % 5000).alias("k"),
        (F.col("id") % 7).alias("v"))
    dups = composite_duplicates(df, ["k"])
    logical = dups._jdf.queryExecution().analyzed().toString()
    assert "ResolvedHint" not in logical and "broadcast" not in logical.lower()
    # correctness unchanged: every row belongs to a duplicated key
    assert dups.count() == 10_000


def test_violations_dup_join_not_forced_broadcast(spark):
    from schema_validata_spark.operators.violations import (CheckSpec,
                                                            value_errors_df)
    df = spark.range(2_000).select(
        (F.col("id") % 1000).cast("string").alias("k"),
        F.col("id").alias("rid"))
    ve = value_errors_df(df, [CheckSpec("k", "unique_value")], ["rid"])
    logical = ve._jdf.queryExecution().analyzed().toString()
    assert "ResolvedHint" not in logical
    assert ve.count() == 2_000


def test_ri_join_broadcasts_small_dim(spark, tmp_path):
    src = str(tmp_path / "t3")
    gen_transcripts(spark, 2000, seed=42).write.parquet(src)
    t = spark.read.parquet(src)
    dim = spark.createDataFrame([("conv-%08d" % i,) for i in range(50)],
                                "conv_id: string")
    v = referential_violations(t, ["conv_id"], dim, ["conv_id"],
                               broadcast_dim=True)
    plan = _plan(v)
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan


def test_partition_batch_filter_pushdown(spark, tmp_path):
    """validate_partitioned's per-batch `isin` filter must reach the
    parquet scan as a pushed filter (partition pruning at the source)."""
    src = str(tmp_path / "t4")
    gen_transcripts(spark, 2000, seed=42).write.partitionBy("ts_date") \
        .parquet(src)
    t = spark.read.parquet(src)
    part = t.select(t.ts_date.cast("string")).distinct().collect()[0][0]
    sub = t.where(t.ts_date.cast("string").isin([part]))
    plan = _plan(sub.select("conv_id"))
    # directory-partitioned column → PartitionFilters prune whole dirs
    assert "PartitionFilters" in plan
    assert plan.count("PartitionFilters: []") == 0


def test_top_k_per_group_map_side_group_limit(spark):
    """top_k_per_group must plan a WindowGroupLimit (Spark 3.5+
    InferWindowGroupLimit): each map task keeps only its local top-k
    per group BEFORE the shuffle — without it the whole table moves."""
    from schema_validata_spark.operators.selection import top_k_per_group
    df = spark.range(1000).select(
        (F.col("id") % 7).alias("g"), F.col("id").alias("doc"),
        F.rand(42).alias("s"))
    plan = top_k_per_group(df, ["g"], "s", 5, tiebreak_cols=["doc"]) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan


def _tree(df) -> str:
    """Plain (non-formatted) executed-plan tree: root first, leaves
    last, each Exchange rendered on one line with its partitioning."""
    return df._jdf.queryExecution().executedPlan().toString()


def test_mixture_sample_no_row_shuffle(spark):
    """mixture_sample's corpus side must stay map-only: the only
    hash-partitioned exchanges belong to the tiny counts/rates frame
    (group key), and row data reaches the join without repartitioning
    (AQE decides broadcast at runtime; no forced hint)."""
    from schema_validata_spark.functions.sampling import mixture_sample
    df = spark.range(10_000).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 4).cast("string").alias("source"))
    kept = mixture_sample(df, "doc_id", "source",
                          {"0": 0.5, "1": 0.5})
    logical = kept._jdf.queryExecution().analyzed().toString()
    assert "ResolvedHint" not in logical
    plan = _tree(kept)
    exchange_lines = [l for l in plan.splitlines()
                      if "Exchange hashpartitioning" in l]
    assert exchange_lines, plan
    for line in exchange_lines:
        assert "source" in line and "doc_id" not in line, line


def test_incremental_dedup_is_one_anti_join_no_hint(spark):
    """incremental_dedup must be a single LeftAnti join keyed on the
    8-byte fingerprint with NO forced broadcast (AQE decides from the
    seen set's real size) and no nested-loop fallback."""
    from schema_validata_spark.operators.dedup import (
        incremental_dedup, snapshot_fingerprints)
    df = spark.range(5_000).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("doc "), F.col("id")).alias("text"))
    seen = snapshot_fingerprints(df.where(F.col("doc_id") % 7 == 0),
                                 "text")
    out = incremental_dedup(df, seen, "text")
    logical = out._jdf.queryExecution().analyzed().toString()
    assert "ResolvedHint" not in logical
    plan = _tree(out)
    assert plan.count("LeftAnti") == 1, plan
    assert "NestedLoop" not in plan and "Cartesian" not in plan, plan


def test_dedup_lines_no_global_sort(spark):
    """dedup_lines reassembles per-doc via groupBy + array_sort — the
    plan must contain NO global (non-partition-local) sort and no
    nested-loop join; frequent-line filtering is an anti hash join."""
    from schema_validata_spark.operators.dedup import dedup_lines
    df = spark.range(2_000).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("HEAD\nbody "), F.col("id"),
                 F.lit("\nFOOT")).alias("text"))
    out = dedup_lines(df, "text", "doc_id", min_docs=10)
    plan = _tree(out)
    assert "Sort [" not in plan, plan          # no SortExec at all
    assert "NestedLoop" not in plan and "Cartesian" not in plan, plan
    assert "LeftAnti" in plan, plan


def test_role_conformance_one_shuffle(spark):
    """role_conformance = ONE exchange on the conversation key (the
    lag window and the per-conversation aggregate share it) plus a
    partition-LOCAL sort only; never a nested-loop join."""
    from schema_validata_spark.operators.sequence import role_conformance
    df = spark.range(2_000).select(
        (F.col("id") % 40).alias("conv"), F.col("id").alias("turn"),
        F.when(F.col("id") % 2 == 0, "user").otherwise("assistant")
         .alias("role"))
    out = role_conformance(
        df, "conv", ["turn"], "role",
        transitions={("user", "assistant"), ("assistant", "user")},
        first_roles={"user"})
    plan = _tree(out)
    assert plan.count("Exchange") == 1, plan
    for line in plan.splitlines():
        if "Sort [" in line:
            assert ", false, 0" in line, line   # partition-local only
    assert "NestedLoop" not in plan and "Cartesian" not in plan, plan


def test_duplicate_conversations_two_hash_aggs_no_sort(spark):
    """duplicate_conversations = exactly two exchanges (conversation
    key, then the 8-byte fingerprint) with NO sort of any kind — turn
    text must collapse to xxhash64 BEFORE the first shuffle."""
    from schema_validata_spark.operators.dedup import (
        duplicate_conversations)
    df = spark.range(2_000).select(
        (F.col("id") % 40).alias("conv"), F.col("id").alias("turn"),
        F.concat(F.lit("t"), F.col("id")).alias("text"))
    out = duplicate_conversations(df, "conv", "turn", "text")
    plan = _tree(out)
    assert plan.count("Exchange") == 2, plan
    assert "Sort [" not in plan, plan
    assert "xxhash64" in plan, plan


def test_turn_latency_single_exchange(spark, tmp_path):
    """turn_latency_stats windows and aggregates on the SAME key, so
    the groupBy must reuse the window's hash partitioning: exactly ONE
    Exchange in the whole plan, and no nested-loop anywhere."""
    from schema_validata_spark.operators.sequence import turn_latency_stats
    src = str(tmp_path / "ev")
    spark.range(20_000).select(
        (F.col("id") % 500).alias("conv"),
        F.timestamp_seconds(F.col("id") * 3).alias("ts")) \
        .write.parquet(src)
    out = turn_latency_stats(spark.read.parquet(src), "conv", "ts")
    plan = _tree(out)
    assert plan.count("Exchange") == 1, plan
    assert "NestedLoop" not in plan and "Cartesian" not in plan, plan


def test_dup_share_text_never_shuffles(spark, tmp_path):
    """duplicate_share_by_group fingerprints map-side: every Exchange
    carries the 8-byte fp / group key, never the text column."""
    from schema_validata_spark.operators.dedup import (
        duplicate_share_by_group)
    src = str(tmp_path / "docs")
    spark.range(5_000).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 8).cast("string").alias("source"),
        F.concat(F.lit("body "), F.col("id") % 100).alias("text")) \
        .write.parquet(src)
    out = duplicate_share_by_group(spark.read.parquet(src),
                                   "text", "source")
    plan = _tree(out)
    exchange_lines = [l for l in plan.splitlines() if "Exchange" in l]
    assert exchange_lines, plan
    for line in exchange_lines:
        assert "text" not in line, line


def test_ngram_diversity_shuffles_hashes_not_text(spark, tmp_path):
    """ngram_diversity hashes n-grams inside the scan: Exchanges carry
    (group, 8-byte hash) only — no text, no gram strings."""
    from schema_validata_spark.functions.text import ngram_diversity
    src = str(tmp_path / "docs")
    spark.range(5_000).select(
        (F.col("id") % 8).cast("string").alias("source"),
        F.concat(F.lit("tok"), F.col("id") % 50, F.lit(" tok"),
                 F.col("id") % 7, F.lit(" tok"), F.col("id") % 3)
         .alias("text")) \
        .write.parquet(src)
    out = ngram_diversity(spark.read.parquet(src), "text", "source")
    plan = _tree(out)
    exchange_lines = [l for l in plan.splitlines() if "Exchange" in l]
    assert exchange_lines, plan
    for line in exchange_lines:
        assert "text" not in line, line


def test_vocab_drift_heap_topk_no_text_shuffle(spark, tmp_path):
    """vocab_drift's top-k must be TakeOrderedAndProject (per-task
    heaps, no global sort) and no Exchange may carry the text column —
    only token counts shuffle."""
    from schema_validata_spark.operators.drift import vocab_drift
    src = str(tmp_path / "docs")
    spark.range(5_000).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("tok"), F.col("id") % 40, F.lit(" tok"),
                 F.col("id") % 9).alias("text")).write.parquet(src)
    docs = spark.read.parquet(src)
    out = vocab_drift(docs.where(F.col("doc_id") % 2 == 0),
                      docs.where(F.col("doc_id") % 2 == 1), "text")
    plan = _tree(out)
    assert "TakeOrderedAndProject" in plan, plan
    # no Exchange may carry text; partition-local SMJ sorts over the
    # vocabulary-sized count frames are fine (and expected)
    for line in plan.splitlines():
        if "Exchange" in line:
            assert "text" not in line, line


def test_derived_mismatches_map_only(spark, tmp_path):
    """derived_mismatches is a pure scan-side filter: ZERO Exchanges."""
    from schema_validata_spark.operators.expectations import (
        derived_mismatches)
    src = str(tmp_path / "docs")
    spark.range(5_000).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("t"), F.col("id")).alias("text"),
        F.lit(5).cast("bigint").alias("n_chars")).write.parquet(src)
    out = derived_mismatches(spark.read.parquet(src), "doc_id",
                             "n_chars", F.length("text").cast("bigint"))
    plan = _tree(out)
    assert "Exchange" not in plan, plan


def test_bucketed_incremental_dedup_zero_shuffle(spark, tmp_path):
    """The dedup docstring's scale contract, proven in a plan: persist
    the seen-fingerprint snapshot AND the new batch bucketed on the
    fingerprint (same bucket count), join through incremental_dedup's
    new_fp_col path, and the anti-join must be a co-located merge with
    ZERO Exchanges — the shape a billion-fp snapshot needs, where a
    shuffle of either side would dominate the job."""
    from schema_validata_spark.functions.text import fingerprint
    from schema_validata_spark.operators.dedup import (
        incremental_dedup, snapshot_fingerprints)
    spark.sql("DROP TABLE IF EXISTS __t_seen_b")
    spark.sql("DROP TABLE IF EXISTS __t_new_b")
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = spark.range(10_000).select(
            F.col("id").alias("doc_id"),
            F.concat(F.lit("t"), F.col("id")).alias("text"))
        seen = snapshot_fingerprints(
            df.where(F.col("doc_id") % 3 == 0), "text")
        seen.write.bucketBy(8, "fp").saveAsTable("__t_seen_b")
        df.withColumn("fp", fingerprint("text")) \
          .write.bucketBy(8, "fp").saveAsTable("__t_new_b")
        out = incremental_dedup(spark.table("__t_new_b"),
                                spark.table("__t_seen_b"), "text",
                                new_fp_col="fp")
        plan = _tree(out)
        assert "Exchange" not in plan, plan
        assert plan.count("Bucketed: true") == 2, plan
        # semantics unchanged vs the derived-fp path
        assert out.count() == df.where(F.col("doc_id") % 3 != 0).count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS __t_seen_b")
        spark.sql("DROP TABLE IF EXISTS __t_new_b")


def test_wasserstein_drift_single_exchange_no_row_shuffle(spark, tmp_path):
    """wasserstein_drift carries one row per partition_key of grid
    counts through ONE Exchange (plus the single-row baseline
    broadcast); the raw value column never shuffles."""
    from schema_validata_spark.operators.drift import wasserstein_drift
    src = str(tmp_path / "wv")
    spark.range(20_000).select(
        (F.col("id") % 9).cast("string").alias("day"),
        (F.col("id") % 100).cast("double").alias("v")) \
        .write.parquet(src)
    out = wasserstein_drift(spark.read.parquet(src), "v", "day",
                            [0.0, 25.0, 50.0, 75.0, 100.0], "0")
    plan = _tree(out)
    shuffles = [l for l in plan.splitlines()
                if "Exchange" in l and "Broadcast" not in l
                and "SinglePartition" not in l]
    assert len(shuffles) <= 2, plan     # counts agg + baseline replay
    # the single-row baseline joins as a BROADCAST nested loop (the
    # intended shape); a non-broadcast cartesian would be a bug
    assert "CartesianProduct" not in plan, plan
    for line in plan.splitlines():
        if "NestedLoopJoin" in line:
            assert "Broadcast" in line, line
    # raw values shuffle nowhere: every Exchange carries grid counts
    for line in plan.splitlines():
        if "Exchange hashpartitioning" in line:
            assert "v#" not in line, line


def test_json_key_profile_payload_never_shuffles(spark, tmp_path):
    """json_key_profile extracts keys in the scan: every Exchange line
    carries the short key strings, never the payload column."""
    from schema_validata_spark.operators.semistructured import (
        json_key_profile)
    src = str(tmp_path / "jp")
    spark.range(5_000).select(
        F.concat(F.lit('{"k'), (F.col("id") % 6).cast("string"),
                 F.lit('": 1}')).alias("props")) \
        .write.parquet(src)
    out = json_key_profile(spark.read.parquet(src), "props")
    plan = _tree(out)
    exchange_lines = [l for l in plan.splitlines() if "Exchange" in l]
    assert exchange_lines, plan
    for line in exchange_lines:
        assert "props" not in line, line


def test_key_locality_shuffles_pairs_only(spark, tmp_path):
    """key_locality shuffles only the projected (key, partition)
    pairs: no payload column in any Exchange, no sort, no join."""
    from schema_validata_spark.operators.uniqueness import key_locality
    src = str(tmp_path / "kl")
    spark.range(20_000).select(
        (F.col("id") % 300).alias("uid"),
        (F.col("id") % 9).cast("string").alias("day"),
        F.concat(F.lit("payload-"), F.col("id")).alias("blob")) \
        .write.parquet(src)
    out = key_locality(spark.read.parquet(src), "uid", "day")
    plan = _tree(out)
    for line in plan.splitlines():
        if "Exchange" in line:
            assert "blob" not in line, line
    assert "SortMergeJoin" not in plan and "Cartesian" not in plan, plan
    # column pruning: the payload column never leaves the scan
    read = next(l for l in plan.splitlines() if "ReadSchema" in l)
    assert "blob" not in read, read


def test_partition_sketches_map_side_combined(spark, tmp_path):
    """partition_sketches is ONE hash aggregate: sketch partials merge
    map-side, so the single shuffle carries (#partitions x #cols)
    sketch blobs, and untracked columns are pruned at the scan."""
    from schema_validata_spark.operators.sketches import partition_sketches
    src = str(tmp_path / "sk")
    spark.range(20_000).select(
        (F.col("id") % 7).cast("string").alias("day"),
        (F.col("id") % 40).alias("uid"),
        F.concat(F.lit("text-"), F.col("id")).alias("blob")) \
        .write.parquet(src)
    out = partition_sketches(spark.read.parquet(src), ["uid"], "day")
    plan = _tree(out)
    assert plan.count("ObjectHashAggregate") == 2, plan  # partial+final
    shuffles = [l for l in plan.splitlines()
                if "Exchange" in l and "Broadcast" not in l]
    assert len(shuffles) == 1, plan
    read = next(l for l in plan.splitlines() if "ReadSchema" in l)
    assert "blob" not in read, read


def test_quantile_summaries_single_agg_pruned_scan(spark, tmp_path):
    """quantile_summaries is ONE aggregate keyed by partition — the
    shuffle carries percentile partials, never rows — and untracked
    columns (the document text) are pruned at the scan."""
    from schema_validata_spark.operators.sketches import quantile_summaries
    src = str(tmp_path / "qs")
    spark.range(20_000).select(
        (F.col("id") % 7).cast("string").alias("day"),
        (F.col("id") % 997).cast("double").alias("v"),
        F.concat(F.lit("text-"), F.col("id")).alias("blob")) \
        .write.parquet(src)
    out = quantile_summaries(spark.read.parquet(src), ["v"], "day", k=16)
    plan = _tree(out)
    shuffles = [l for l in plan.splitlines()
                if "Exchange" in l and "Broadcast" not in l]
    assert len(shuffles) == 1, plan
    read = next(l for l in plan.splitlines() if "ReadSchema" in l)
    assert "blob" not in read, read


def test_quantile_merge_runs_on_summary_frame_only(spark, tmp_path):
    """merge_quantile_estimates never rescans data: its plan reads the
    (metadata-sized) summary frame alone, and the window + final agg
    shuffle summary rows only."""
    from schema_validata_spark.operators.sketches import (
        merge_quantile_estimates, quantile_summaries)
    src = str(tmp_path / "qm")
    spark.range(20_000).select(
        (F.col("id") % 7).cast("string").alias("day"),
        (F.col("id") % 997).cast("double").alias("v")) \
        .write.parquet(src)
    summ_path = str(tmp_path / "summ")
    quantile_summaries(spark.read.parquet(src), ["v"], "day",
                       k=16).write.parquet(summ_path)
    est = merge_quantile_estimates(spark.read.parquet(summ_path), [0.5])
    plan = _tree(est)
    scans = [l for l in plan.splitlines() if "Scan parquet" in l]
    assert len(scans) == 1 and "summ" in scans[0], plan


def test_distinctive_terms_text_never_shuffles(spark):
    """distinctive_terms' shuffles carry (group, token) pairs — the
    raw text column must never be a shuffle key (it's consumed by the
    map-side explode)."""
    from schema_validata_spark.functions.text import distinctive_terms
    df = spark.createDataFrame([("s1", "a b c"), ("s2", "b c d")],
                               "src: string, text: string")
    plan = _tree(distinctive_terms(df, "text", "src", k=5))
    ex = [l for l in plan.splitlines()
          if "Exchange hashpartitioning" in l]
    assert ex, plan
    for line in ex:
        assert "text" not in line, line


def test_zipf_slope_text_never_shuffles(spark):
    from schema_validata_spark.functions.text import zipf_slope
    df = spark.createDataFrame([("s1", "a a b"), ("s2", "b c d")],
                               "src: string, text: string")
    plan = _tree(zipf_slope(df, "text", "src"))
    ex = [l for l in plan.splitlines()
          if "Exchange hashpartitioning" in l]
    assert ex, plan
    for line in ex:
        assert "text" not in line, line


def test_gini_prunes_untouched_columns(spark, tmp_path):
    """gini_coefficient reads only (group, value) from the source —
    a wide payload column must not reach the scan (column pruning),
    and no shuffle may carry it."""
    from schema_validata_spark.operators.statqa import gini_coefficient
    path = str(tmp_path / "gini_docs")
    spark.range(100).select(
        (F.col("id") % 3).cast("string").alias("src"),
        (F.col("id") * 2.0).alias("v"),
        F.lit("payloadpayload").alias("blob")).write.parquet(path)
    out = gini_coefficient(spark.read.parquet(path), "v", "src")
    plan = _plan(out)
    reads = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert reads, plan
    assert all("blob" not in l for l in reads), reads
    assert out.count() == 3


# --------------------------------------------------------------- plan_audit

def test_plan_audit_counts_known_structures(spark, tmp_path):
    from schema_validata_spark.plans import plan_audit
    path = str(tmp_path / "audit_src")
    spark.range(100).select(
        F.col("id"), (F.col("id") % 5).cast("string").alias("g"),
        F.lit("wide").alias("extra")).write.parquet(path)
    df = spark.read.parquet(path)
    # one hash agg: exactly one exchange, no sort/join/python
    agg = df.groupBy("g").count()
    a = plan_audit(agg)
    assert a.n_exchanges == 1 and a.n_sorts == 0
    assert a.n_nested_loop_joins == 0 and a.n_python_evals == 0
    assert not a.has_global_sort
    assert a.n_scans == 1 and a.scan_widths == [1]   # pruned to g
    # a global orderBy shows up as a range exchange + sort (order by a
    # non-presorted column: Range is already ordered by id, and Catalyst
    # would eliminate that sort entirely)
    srt = plan_audit(df.orderBy("g"))
    assert srt.has_global_sort and srt.n_sorts >= 1
    # crossJoin is a nested-loop join
    cj = plan_audit(df.crossJoin(spark.range(2)))
    assert cj.n_nested_loop_joins >= 1
    # a row-at-a-time python UDF is the flagged slow path
    from pyspark.sql.functions import udf
    slow = df.select(udf(lambda x: x + 1, "long")(F.col("id")))
    assert plan_audit(slow).n_python_evals >= 1


def test_assert_scalable_gates_and_reports(spark):
    import pytest
    from schema_validata_spark.plans import assert_scalable
    df = spark.range(100).select(
        F.col("id"), (F.col("id") % 3).alias("g"))
    ok = assert_scalable(df.groupBy("g").count(), max_exchanges=1)
    assert ok.n_exchanges == 1
    with pytest.raises(ValueError, match="global-sort"):
        assert_scalable(df.orderBy("g"))
    with pytest.raises(ValueError, match="exchanges > budget"):
        assert_scalable(df.groupBy("g").count(), max_exchanges=0)
    with pytest.raises(ValueError, match="nested-loop"):
        assert_scalable(df.crossJoin(df.select(F.col("id").alias("i2"))))
    # the engine's own flagship ops pass their documented budgets
    from schema_validata_spark.operators.statqa import variance_explained
    assert_scalable(variance_explained(df, "id", "g"), max_exchanges=2)


def test_flagship_queries_within_scale_budgets(spark, sf_dir):
    """The plan-audit gate applied to REAL registered queries: each
    named query must stay inside its documented plan budget. Budgets
    carry headroom for AQE variation; 'global sort' is allowed only
    where the query deliberately orderBys an aggregate-sized frame for
    oracle determinism, and 'nested loop' only where a 1-row broadcast
    crossJoin (which prints as BroadcastNestedLoopJoin) is the
    documented pattern."""
    import __spark_entry__ as entry
    from schema_validata_spark.plans import assert_scalable

    budgets = {
        # map-only / single-agg ops: at most a couple of exchanges,
        # no sort, no join surprises, no Python anywhere
        "dedup_exact":        dict(max_exchanges=2),
        "token_counts":       dict(max_exchanges=2),
        "quality_scores":     dict(max_exchanges=2),
        "k_anonymity":        dict(max_exchanges=3),
        "variance_explained": dict(max_exchanges=3),
        "turn_balance":       dict(max_exchanges=2),
        "l_diversity":        dict(max_exchanges=3),
        # aggregate-sized outputs ordered for oracle determinism
        "sketch_overlap":     dict(max_exchanges=6, allow_global_sort=True),
        "lang_purity":        dict(max_exchanges=4),
        "position_profile":   dict(max_exchanges=3,
                                   allow_global_sort=True),
        # 1-row broadcast crossJoins print as BroadcastNestedLoopJoin
        "uncertainty_coeff":  dict(max_exchanges=10,
                                   allow_nested_loop=True),
        "distinctive_terms":  dict(max_exchanges=6,
                                   allow_nested_loop=True),
    }
    qs = entry.queries()
    for name, budget in budgets.items():
        df = qs[name](spark, sf_dir)
        audit = assert_scalable(df, **budget)
        # nothing here may ever hit the row-at-a-time Python path
        assert audit.n_python_evals == 0, name
