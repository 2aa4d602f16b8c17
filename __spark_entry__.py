"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)``      — flagship: full validation run (profile → verdicts →
                        violations) over the sf0.001 ``events`` table.
``queries()``         — one entry per implemented operator from SURVEY.md §2
                        plus the training-data ops (dedup / text-analysis /
                        drift).
``oracle_sql()``      — DuckDB-runnable ANSI SQL equivalent for every
                        query (same column names/aliases).

The hash-based near-dup operators (MinHash LSH, SimHash) are oracle-checked
too: their oracles replay the same md5 hashes and band buckets in SQL.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from schema_validata_spark.functions.text import (LANG_MARKERS, STOPWORDS_EN,
                                                  bpe_ish_token_count,
                                                  fingerprint, lang_id,
                                                  quality_score, token_count)
from schema_validata_spark.operators.dedup import (dedup_exact,
                                                   dedup_keep_canonical,
                                                   minhash_near_duplicates,
                                                   near_dup_clusters,
                                                   ngram_jaccard_pairs,
                                                   simhash_near_duplicates)
from schema_validata_spark.operators.selection import top_k_per_group
from schema_validata_spark.functions.sampling import (_hex_threshold,
                                                      deterministic_sample,
                                                      group_split)
from schema_validata_spark.functions.text import (PII_PATTERNS, pii_summary,
                                                  repetition_stats)
from schema_validata_spark.operators.sequence import (consecutive_repeats,
                                                      order_regressions)
from schema_validata_spark.operators.drift import (drift_scores,
                                                   drift_scores_pandas,
                                                   numeric_histogram,
                                                   text_length_histogram)
from schema_validata_spark.operators.integrity import referential_violations
from schema_validata_spark.operators.profile import profile_stats_df
from schema_validata_spark.operators.uniqueness import composite_duplicates
from schema_validata_spark.operators.violations import (CheckSpec,
                                                        value_errors_df)
from schema_validata_spark.rules import FieldRule, Rules
from schema_validata_spark.validate import partition_verdicts, validate

DEFAULT_SF = "/root/testdata/sf0.001"


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# ---------------------------------------------------------------------------
# entry — flagship validation run
# ---------------------------------------------------------------------------

def _events_rules() -> Rules:
    return Rules(
        name="EVENTS_SCHEMA",
        fields=[
            FieldRule("event_id", required=True, data_type="Integer",
                      allow_null=False, unique_value=True),
            FieldRule("ts", required=True, data_type="Datetime",
                      allow_null=False),
            FieldRule("user_id", required=True, data_type="Integer",
                      allow_null=False, range_min=0.0),
            FieldRule("event_type", required=True, data_type="String",
                      allow_null=False, length=16,
                      regex_pattern=r"^[a-z]+$",
                      allowed_value_list=["click", "view", "purchase",
                                          "signup"]),
            FieldRule("value", required=True, data_type="Float",
                      allow_null=False, range_min=0.0, range_max=400.0),
            FieldRule("props", required=False, data_type="String",
                      allow_null=True),
        ],
        composite_unique=[("user_id", "event_type")],
        foreign_keys=[("user_id", "customer", "c_custkey")],
    )


def entry(spark: SparkSession) -> DataFrame:
    """Full validation of the sf0.001 events table: one wide profiling
    aggregate, driver-side verdicts, then ONE combined column-pruned scan
    emitting every flagged row-level violation."""
    events = _t(spark, DEFAULT_SF, "events")
    customer = _t(spark, DEFAULT_SF, "customer")
    result = validate(spark, events, _events_rules(),
                      dataset_name="events",
                      dims={"customer": customer},
                      key_cols=["event_id"])
    return result.violations


# ---------------------------------------------------------------------------
# queries — the oracle-checked operator surface
# ---------------------------------------------------------------------------

_DOC_LEN_MAX = 400           # documents.text length rule used below
_EVENT_ALLOWED = ["click", "view", "purchase", "signup"]  # 'error' violates
_PRIO_ALLOWED = ["1-URGENT", "2-HIGH", "3-MEDIUM", "5-LOW"]
# re.match anchoring: start-anchored only (reference quirk, SURVEY §2.5)
_LANG_RE = "^(?:en|de|fr|es)"   # 'zh' violates
_QTY_MAX = 45.0


def q_profile_stats(spark, sf_dir):
    """SURVEY §2.3 build_data_dictionary → one wide agg + one melt shuffle
    (operators/profile.py)."""
    return profile_stats_df(spark, _t(spark, sf_dir, "customer"))


def q_null_counts(spark, sf_dir):
    """SURVEY §2.3 null_count stat: single wide aggregate, one row/column."""
    df = _t(spark, sf_dir, "events")
    aggs = [F.count(F.lit(1)).alias("__n")] + [
        (F.count(F.lit(1)) - F.count(F.col(c))).alias(c) for c in df.columns]
    row = df.agg(*aggs)
    stack = ", ".join(f"'{c}', cast(`{c}` as bigint)" for c in df.columns)
    return row.selectExpr(
        f"stack({len(df.columns)}, {stack}) as (column_name, null_count)")


def q_composite_duplicates(spark, sf_dir):
    """North-rule salted two-phase composite-key duplicate detection
    (operators/uniqueness.py)."""
    df = _t(spark, sf_dir, "events")
    dups = composite_duplicates(df, ["user_id", "event_type"])
    return (dups.select("user_id", "event_type",
                        F.col("dup_count").cast("bigint").alias("dup_count"))
                .distinct())


def q_key_skew_stats(spark, sf_dir):
    """Heavy-hitter shuffle-key diagnosis (operators/uniqueness.py:
    key_skew_stats): top-15 user_id keys with share and
    uniformity-relative skew ratio — the pre-flight check before
    keying a join/agg on a candidate column."""
    from schema_validata_spark.operators.uniqueness import key_skew_stats
    return key_skew_stats(_t(spark, sf_dir, "events"), ["user_id"],
                          top_n=15)


def q_duplicate_totals(spark, sf_dir):
    """Aggregate duplicate stats (duplicate_keys / duplicate_rows,
    pandas keep=False semantics) for (user_id, event_type)."""
    df = _t(spark, sf_dir, "events")
    dup_keys = (df.groupBy("user_id", "event_type")
                  .agg(F.count(F.lit(1)).alias("cnt"))
                  .where(F.col("cnt") > 1))
    return dup_keys.agg(
        F.count(F.lit(1)).cast("bigint").alias("duplicate_keys"),
        F.coalesce(F.sum("cnt"), F.lit(0)).cast("bigint")
         .alias("duplicate_rows"))


def q_value_errors_range(spark, sf_dir):
    """SURVEY §2.5 value_errors_out_of_range as a Column-expression filter."""
    df = _t(spark, sf_dir, "lineitem")
    specs = [CheckSpec("l_quantity", "range_max", _QTY_MAX)]
    return value_errors_df(df, specs, ["l_orderkey", "l_linenumber"])


def q_value_errors_allowed(spark, sf_dir):
    """SURVEY §2.5 value_errors_unallowed (anti-isin)."""
    df = _t(spark, sf_dir, "orders")
    specs = [CheckSpec("o_orderpriority", "allowed_value_list", _PRIO_ALLOWED)]
    return value_errors_df(df, specs, ["o_orderkey"])


def q_value_errors_regex(spark, sf_dir):
    """SURVEY §2.5 value_errors_regex_mismatches (re.match anchoring)."""
    df = _t(spark, sf_dir, "documents")
    specs = [CheckSpec("lang", "regex_pattern", "en|de|fr|es")]
    return value_errors_df(df, specs, ["doc_id"])


def q_value_errors_length(spark, sf_dir):
    """SURVEY §2.5 value_errors_length. error_value carries the oversized
    text; length check on the string rendering."""
    df = _t(spark, sf_dir, "documents")
    specs = [CheckSpec("text", "length", _DOC_LEN_MAX)]
    ve = value_errors_df(df, specs, ["doc_id"])
    # project the (long) text off the output; keep its measured length
    return ve.select("doc_id", "error_type", "column_name",
                     F.length("error_value").cast("bigint")
                      .alias("error_length"))


def q_value_errors_nulls(spark, sf_dir):
    """SURVEY §2.5 value_errors_nulls with the extended NA vocabulary."""
    df = _t(spark, sf_dir, "events")
    specs = [CheckSpec("props", "allow_null")]
    ve = value_errors_df(df, specs, ["event_id"])
    return ve.select("event_id", "error_type", "column_name")


def q_referential_integrity(spark, sf_dir):
    """North-rule referential anti-join (operators/integrity.py). The dim
    is filtered to seed violations deterministically (every 97th customer
    'deleted')."""
    ev = _t(spark, sf_dir, "events")
    cust = _t(spark, sf_dir, "customer").where("c_custkey % 97 != 0")
    viol = referential_violations(ev, ["user_id"], cust, ["c_custkey"],
                                  broadcast_dim=True)
    return (viol.groupBy("user_id")
                .agg(F.count(F.lit(1)).cast("bigint").alias("n_orphan_events"))
            )


def q_partition_verdicts(spark, sf_dir):
    """North-rule per-partition pass/fail verdicts: ONE groupBy(partition)
    aggregate covering all checks (validate.partition_verdicts)."""
    df = _t(spark, sf_dir, "lineitem")
    rules = Rules(name="LINEITEM_SCHEMA", fields=[
        FieldRule("l_quantity", data_type="Float", range_max=_QTY_MAX),
        FieldRule("l_discount", data_type="Float", range_max=0.05),
        FieldRule("l_tax", data_type="Float", range_min=0.02),
    ])
    return partition_verdicts(df, rules, "l_returnflag")


def q_partition_rate_verdicts(spark, sf_dir):
    """Per-partition verdicts with error budgets (validate.py:
    partition_rate_verdicts): the same one-aggregate north-rule gate,
    but a partition fails only when a check's violation RATE exceeds
    its budget — production tolerance semantics where huge partitions
    aren't failed by the absolute counts tiny ones shrug off."""
    from schema_validata_spark.validate import partition_rate_verdicts
    df = _t(spark, sf_dir, "lineitem")
    rules = Rules(name="LINEITEM_SCHEMA", fields=[
        FieldRule("l_quantity", data_type="Float", range_max=_QTY_MAX),
        FieldRule("l_discount", data_type="Float", range_max=0.05),
        FieldRule("l_tax", data_type="Float", range_min=0.02),
    ])
    return partition_rate_verdicts(
        df, rules, "l_returnflag",
        {("l_quantity", "range_max"): 0.5,
         ("l_discount", "range_max"): 0.0001,
         ("l_tax", "range_min"): 0.30})


def q_dedup_exact(spark, sf_dir):
    """Exact dedup by 64-bit content fingerprint — keep min-id per group
    (operators/dedup.py). One shuffle on 8-byte hashes."""
    df = _t(spark, sf_dir, "documents")
    return dedup_exact(df, "text", "doc_id").select("doc_id")


def q_fingerprint_distinct(spark, sf_dir):
    """Document fingerprinting (rolling-hash content identity): corpus
    cardinality by fingerprint."""
    df = _t(spark, sf_dir, "documents")
    return df.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.countDistinct(fingerprint("text")).cast("bigint")
         .alias("n_distinct_fingerprints"))


def q_token_counts(spark, sf_dir):
    """Whitespace token counting (functions/text.py) — JVM-side split."""
    df = _t(spark, sf_dir, "documents")
    return df.select("doc_id",
                     token_count("text").cast("bigint").alias("n_tokens"))


def q_bpe_token_counts(spark, sf_dir):
    """BPE-ish regex token estimate (functions/text.py)."""
    df = _t(spark, sf_dir, "documents")
    return df.select("doc_id",
                     bpe_ish_token_count("text").cast("bigint")
                      .alias("n_bpe_tokens"))


def q_lang_id_counts(spark, sf_dir):
    """Marker-word language ID (functions/text.py), aggregated."""
    df = _t(spark, sf_dir, "documents")
    return (df.select(lang_id("text").alias("lang_pred"))
              .groupBy("lang_pred")
              .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs")))


def q_quality_scores(spark, sf_dir):
    """C4-style heuristic quality scoring (functions/text.py)."""
    df = _t(spark, sf_dir, "documents")
    return df.select("doc_id", quality_score("text").alias("q"))


def q_text_length_histogram(spark, sf_dir):
    """Drift building block: per-partition text-length histogram
    (operators/drift.py, width_bucket aggregate)."""
    df = _t(spark, sf_dir, "documents")
    h = text_length_histogram(df, "text", "lang", hi=2000, n_buckets=20)
    return h.select("partition_key", "column_name", "bucket",
                    F.col("count").cast("bigint").alias("count"))


def q_drift_scores(spark, sf_dir):
    """Chi-square + PSI drift per (event_type) partition vs the global
    baseline histogram (operators/drift.py) — join + vectorized math."""
    df = _t(spark, sf_dir, "events")
    obs = numeric_histogram(df, "value", "event_type", 0.0, 500.0, 20)
    base = obs.groupBy("column_name", "bucket").agg(
        F.sum("count").alias("count")).withColumn(
        "partition_key", F.lit("__all__"))
    sc = drift_scores(obs, base, by_partition=True)
    return sc.select("partition_key", "column_name",
                     F.round("chi2", 4).alias("chi2"),
                     F.round("psi", 6).alias("psi"),
                     F.col("n_obs").cast("bigint").alias("n_obs"),
                     F.col("n_base").cast("bigint").alias("n_base"))


def q_drift_scores_arrow(spark, sf_dir):
    """Same drift stats through the grouped applyInPandas (Arrow) island —
    the pandas-UDF extension point named by the north_star."""
    df = _t(spark, sf_dir, "events")
    obs = numeric_histogram(df, "value", "event_type", 0.0, 500.0, 20)
    base = obs.groupBy("column_name", "bucket").agg(
        F.sum("count").alias("count")).withColumn(
        "partition_key", F.lit("__all__"))
    sc = drift_scores_pandas(obs, base)
    return sc.select("partition_key", "column_name",
                     F.round("chi2", 4).alias("chi2"),
                     F.round("psi", 6).alias("psi"),
                     F.col("n_obs").cast("bigint").alias("n_obs"),
                     F.col("n_base").cast("bigint").alias("n_base"))


def q_jsd_drift(spark, sf_dir):
    """Jensen–Shannon divergence per (event_type) partition vs the
    global baseline histogram (operators/drift.py:jsd_drift) — the
    BOUNDED [0,1]-bits drift score the chi²/PSI pair lacks: one
    threshold works across columns, and zero bins are exact (no
    epsilon). Same histogram frames as drift_scores."""
    from schema_validata_spark.operators.drift import jsd_drift
    df = _t(spark, sf_dir, "events")
    obs = numeric_histogram(df, "value", "event_type", 0.0, 500.0, 20)
    base = obs.groupBy("column_name", "bucket").agg(
        F.sum("count").alias("count")).withColumn(
        "partition_key", F.lit("__all__"))
    sc = jsd_drift(obs, base, by_partition=True)
    return sc.select("partition_key", "column_name", "jsd",
                     F.col("n_obs").cast("bigint").alias("n_obs"),
                     F.col("n_base").cast("bigint").alias("n_base"))


def q_latest_per_key(spark, sf_dir):
    """Snapshot compaction — the latest event per user by (ts,
    event_id) via a single max-over-ordering-struct hash aggregate
    (operators/selection.py:latest_per_key); deliberately NOT the
    row_number window plan, which would sort-shuffle every row."""
    from schema_validata_spark.operators.selection import latest_per_key
    df = _t(spark, sf_dir, "events")
    return latest_per_key(df, ["user_id"], "ts",
                          tiebreak_cols=["event_id"])


def q_pairwise_lift(spark, sf_dir):
    """Presence-based co-occurrence lift / PMI between event types
    within a user's history (operators/statqa.py:pairwise_lift) —
    distinct-pair reduction first, so the self-join runs over the
    groups × vocabulary presence frame, never raw rows."""
    from schema_validata_spark.operators.statqa import pairwise_lift
    df = _t(spark, sf_dir, "events")
    return pairwise_lift(df, "user_id", "event_type")


_KS_EDGES = [1.0, 2.0, 5.0, 10.0, 20.0, 35.0, 50.0, 75.0,
             100.0, 150.0, 200.0, 300.0, 400.0]


def q_ks_drift(spark, sf_dir):
    """Kolmogorov–Smirnov numeric drift per day vs the first day's
    value distribution on a fixed edge grid (operators/drift.py:
    ks_drift) — one hash aggregate, raw values never shuffle."""
    from schema_validata_spark.operators.drift import ks_drift
    df = _t(spark, sf_dir, "events").withColumn(
        "day", F.date_format(F.col("ts"), "yyyy-MM-dd"))
    out = ks_drift(df, "value", "day", _KS_EDGES, "2024-01-01")
    return out.orderBy("partition_key")


def q_wasserstein_drift(spark, sf_dir):
    """Grid-approximated Wasserstein-1 (earth-mover) drift per day vs
    the first day's value distribution (operators/drift.py:
    wasserstein_drift) — magnitude-in-units complement of ks_drift;
    identical one-hash-aggregate profile, raw values never shuffle."""
    from schema_validata_spark.operators.drift import wasserstein_drift
    df = _t(spark, sf_dir, "events").withColumn(
        "day", F.date_format(F.col("ts"), "yyyy-MM-dd"))
    out = wasserstein_drift(df, "value", "day", _KS_EDGES, "2024-01-01")
    return out.orderBy("partition_key")


def q_json_key_profile(spark, sf_dir):
    """Top-level key-set discovery over the events JSON payload column
    (operators/semistructured.py:json_key_profile) — occurrence count
    and share-of-object-rows per key; one bounded-vocabulary hash
    aggregate, payload text never shuffles."""
    from schema_validata_spark.operators.semistructured import (
        json_key_profile)
    return json_key_profile(_t(spark, sf_dir, "events"), "props")


def q_tool_arg_conformance(spark, sf_dir):
    """Per-tool JSON argument contracts over events — event_type
    stands in for the tool name, props for its argument payload
    (operators/semistructured.py:tool_arg_conformance): 'purchase'
    requires a key the fixture payloads lack ('amount'), so the
    missing path is exercised; uncontracted tools report NULL
    contract columns. One bounded-vocabulary hash aggregate."""
    from schema_validata_spark.operators.semistructured import (
        tool_arg_conformance)
    return tool_arg_conformance(
        _t(spark, sf_dir, "events"), "event_type", "props",
        {"click": ["k"], "purchase": ["k", "amount"]})


def q_distinct_sketch_estimates(spark, sf_dir):
    """Table-level distinct counts recovered from per-day-partition
    mergeable HLL sketches (operators/sketches.py) — the incremental
    resume path for distinct stats: only changed partitions ever
    re-sketch, the union runs on the metadata-sized sketch frame.
    Oracle-exact here because both tracked columns sit in the
    sketch's coupon (exact) regime at gate scale (≤150 distinct;
    exact through ~384 at lg_k=12); the approximate dense regime is
    pytest-bounded instead."""
    from schema_validata_spark.operators.sketches import (
        partition_sketches, union_estimates)
    df = _t(spark, sf_dir, "events").withColumn(
        "day", F.date_format(F.col("ts"), "yyyy-MM-dd"))
    return union_estimates(
        partition_sketches(df, ["user_id", "event_type"], "day"))


def q_quantile_sketch_merge(spark, sf_dir):
    """Table-level quantiles recovered from per-day-partition
    mergeable quantile summaries (operators/sketches.py
    quantile_summaries + merge_quantile_estimates) — the
    order-statistics complement of the HLL resume path: only changed
    partitions re-summarize, the flat merge runs on the
    metadata-sized summary frame with a deterministic n/(2k) rank
    bound. The oracle replays the SAME summarize+merge algorithm in
    DuckDB (quantile_cont per day → weighted cumulative pick), so
    this checks the Spark implementation against an independent SQL
    one rather than pretending the estimate is exact."""
    from schema_validata_spark.operators.sketches import (
        merge_quantile_estimates, quantile_summaries)
    df = _t(spark, sf_dir, "events").withColumn(
        "day", F.date_format(F.col("ts"), "yyyy-MM-dd"))
    summ = quantile_summaries(df, ["value"], "day", k=32)
    return merge_quantile_estimates(summ, [0.25, 0.5, 0.75, 0.95])


def q_summary_drift(spark, sf_dir):
    """W1 distribution drift from persisted quantile-summary frames
    alone (operators/sketches.py:summary_drift): per-day k=32
    summaries of the two event halves, probed at 8 fractions — 'did
    the value distribution move since the baseline' with zero data
    rescan. The oracle replays the identical summarize+merge+gap
    algorithm in DuckDB."""
    from schema_validata_spark.operators.sketches import (quantile_summaries,
                                                          summary_drift)
    ev = _t(spark, sf_dir, "events").withColumn(
        "day", F.date_format(F.col("ts"), "yyyy-MM-dd"))
    sa = quantile_summaries(ev.where(F.col("event_id") % 2 == 0),
                            ["value"], "day", k=32)
    sb = quantile_summaries(ev.where(F.col("event_id") % 2 == 1),
                            ["value"], "day", k=32)
    return summary_drift(sa, sb, probes=8)


def q_key_locality(spark, sf_dir):
    """Physical-locality audit of events.user_id against day
    partitions (operators/uniqueness.py:key_locality) — single-row
    partition-pruning effectiveness summary; only distinct
    (key, partition) pairs shuffle."""
    from schema_validata_spark.operators.uniqueness import key_locality
    df = _t(spark, sf_dir, "events").withColumn(
        "day", F.date_format(F.col("ts"), "yyyy-MM-dd"))
    return key_locality(df, "user_id", "day")


def q_benford_digits(spark, sf_dir):
    """Leading-digit (Benford) conformance of events.value
    (operators/statqa.py) — a synthetic-data tripwire next to the
    range/null profile; one ≤9-row aggregate."""
    from schema_validata_spark.operators.statqa import benford_digits
    return benford_digits(_t(spark, sf_dir, "events"), "value")


def q_column_entropy(spark, sf_dir):
    """Shannon-entropy + cardinality profile of documents.lang /
    documents.source (operators/statqa.py) — catches a column whose
    information content collapsed while every rule stayed green."""
    from schema_validata_spark.operators.statqa import column_entropy
    out = column_entropy(_t(spark, sf_dir, "documents"),
                         ["lang", "source"])
    return out.orderBy("column_name")


def q_schema_diff(spark, sf_dir):
    """Schema-evolution diff (operators/schema_evolution.py) — pure
    metadata (catalog-call only, zero data scanned at any table size);
    events as the old snapshot, orders as the new."""
    from schema_validata_spark.operators.schema_evolution import schema_diff
    return schema_diff(spark, _t(spark, sf_dir, "events"),
                       _t(spark, sf_dir, "orders")).orderBy("column_name")


def q_numeric_correlations(spark, sf_dir):
    """Pairwise Pearson correlations in ONE single-row aggregate
    (operators/statqa.py) — the relationship profile next to the
    per-column stats; rows never shuffle."""
    from schema_validata_spark.operators.statqa import numeric_correlations
    return numeric_correlations(_t(spark, sf_dir, "events"),
                                ["value", "user_id", "event_id"])


def q_spearman_corr(spark, sf_dir):
    """Pairwise Spearman rank correlations (operators/statqa.py:
    spearman_correlations): fractional ranks from DISTINCT-VALUE
    frames (vocab-sized windows, never a row-sized global sort) +
    hash join-back, one moment aggregate per pair."""
    from schema_validata_spark.operators.statqa import spearman_correlations
    return spearman_correlations(_t(spark, sf_dir, "events"),
                                 ["value", "user_id", "event_id"])


def q_lang_purity(spark, sf_dir):
    """Slice purity (operators/statqa.py:majority_share): majority
    language + share per source — one (group, value) hash agg, rank
    window + rollup over the vocabulary-sized count frame."""
    from schema_validata_spark.operators.statqa import majority_share
    return majority_share(_t(spark, sf_dir, "documents"),
                          "source", "lang")


def q_sketch_overlap(spark, sf_dir):
    """Snapshot value-universe overlap at metadata cost
    (operators/sketches.py:sketch_overlap): per-column HLL sketches of
    two event halves, unioned + inclusion-exclusion into Jaccard /
    containment — gate cardinalities sit in the sketches' sparse
    (exact) regime, so the DuckDB exact-distinct replay matches."""
    from schema_validata_spark.operators.sketches import (partition_sketches,
                                                          sketch_overlap)
    ev = _t(spark, sf_dir, "events")
    sa = partition_sketches(ev.where(F.col("event_id") % 2 == 0),
                            ["user_id", "event_type"], "event_type")
    sb = partition_sketches(ev.where(F.col("event_id") % 2 == 1),
                            ["user_id", "event_type"], "event_type")
    return sketch_overlap(sa, sb)


def q_variance_explained(spark, sf_dir):
    """One-way variance decomposition (operators/statqa.py:
    variance_explained): eta-squared + ANOVA F of events.value by
    event_type — one map-side-combined hash agg, arithmetic over the
    #groups-sized frame."""
    from schema_validata_spark.operators.statqa import variance_explained
    return variance_explained(_t(spark, sf_dir, "events"),
                              "value", "event_type")


def q_k_anonymity(spark, sf_dir):
    """Release-readiness k-anonymity screen (operators/uniqueness.py:
    k_anonymity): quasi-identifier class sizes over (source, lang) —
    one map-side-combined hash agg + a single-row rollup of the
    classes-sized frame."""
    from schema_validata_spark.operators.uniqueness import k_anonymity
    return k_anonymity(_t(spark, sf_dir, "documents"),
                       ["source", "lang"], k=20)


def q_l_diversity(spark, sf_dir):
    """l-diversity privacy screen (operators/uniqueness.py:
    l_diversity): distinct user_ids per (event_type, day) class —
    classes large enough to be k-anonymous can still be uniform in the
    sensitive attribute; one (quasi, sensitive) hash agg pre-collapses
    duplicates map-side."""
    from schema_validata_spark.operators.uniqueness import l_diversity
    ev = _t(spark, sf_dir, "events").withColumn(
        "day", F.date_format(F.col("ts"), "yyyy-MM-dd"))
    return l_diversity(ev, ["event_type", "day"], "user_id", l=3)


def q_terminal_turns(spark, sf_dir):
    """Truncated-conversation screen (operators/sequence.py:
    terminal_turns): conversations whose FINAL turn role is not
    'assistant' (or is NULL) over the derived-role events transcript —
    one hash aggregate, max-of-struct picks the last turn map-side."""
    from schema_validata_spark.operators.sequence import terminal_turns
    return (terminal_turns(_event_role(spark, sf_dir), "user_id",
                           ["ts"], "role")
            .withColumnRenamed("last_order", "last_ts"))


def q_position_profile(spark, sf_dir):
    """Turn-position text-mass curve (operators/sequence.py:
    position_profile) over the derived-role events transcript: ONE
    keyed window + ONE hash agg on the bucket-sized key — the
    context-truncation/sampling-window signal."""
    from schema_validata_spark.operators.sequence import position_profile
    return position_profile(_event_transcript(spark, sf_dir),
                            "user_id", ["ts"], "text", max_bucket=10)


def q_uncertainty_coeff(spark, sf_dir):
    """Theil's U between documents.source and documents.lang
    (operators/statqa.py:uncertainty_coefficient) — the asymmetric
    association cramers_v can't express: does source determine lang
    more than lang determines source; one (x, y) hash agg, entropies
    over the vocab-squared frame."""
    from schema_validata_spark.operators.statqa import uncertainty_coefficient
    return uncertainty_coefficient(_t(spark, sf_dir, "documents"),
                                   "source", "lang")


def q_slice_similarity(spark, sf_dir):
    """Slice-level content-overlap matrix (operators/dedup.py:
    slice_similarity): MinHash signatures per language slice via
    engine-portable salted-md5 mins (map-side combinable, duplicate
    shingles never shuffle), pairwise compared on the #groups-sized
    signature frame."""
    from schema_validata_spark.operators.dedup import slice_similarity
    return slice_similarity(_t(spark, sf_dir, "documents"),
                            "text", "lang", k=24)


def q_relationship_audit(spark, sf_dir):
    """Join-cardinality contract audit (operators/integrity.py:
    relationship_audit) between customer and orders on custkey:
    classify the realized relationship + orphans both ways + the
    worst fan-out a join would hit; two (key, count) hash aggs and a
    key-sized full-outer join."""
    from schema_validata_spark.operators.integrity import relationship_audit
    return relationship_audit(_t(spark, sf_dir, "customer"),
                              _t(spark, sf_dir, "orders"),
                              "c_custkey", "o_custkey")


def q_seasonal_volume(spark, sf_dir):
    """Seasonality-aware volume screen (operators/expectations.py:
    seasonal_volume_anomalies): each day scored against ITS weekday's
    median+MAD — all post-scan math runs on the bucket-sized frame."""
    from schema_validata_spark.operators.expectations import (
        seasonal_volume_anomalies)
    return (seasonal_volume_anomalies(_t(spark, sf_dir, "events"), "ts")
            .select(F.date_format("bucket", "yyyy-MM-dd").alias("day"),
                    "dow", "row_count", "dow_median", "dow_mad",
                    "deviation", F.col("is_anomaly").cast("int")
                     .alias("is_anomaly")))


def q_value_masks(spark, sf_dir):
    """Top-k value-format masks per column (operators/statqa.py) —
    scan-side regexp_replace chain + one bounded-key aggregate +
    WindowGroupLimit top-k."""
    from schema_validata_spark.operators.statqa import value_masks
    out = value_masks(_t(spark, sf_dir, "events"),
                      ["event_type", "props"], k=8)
    return out.orderBy("column_name", F.desc("n"), "mask")


def q_cramers_v(spark, sf_dir):
    """Cramér's V association between orders.o_orderstatus and
    o_orderpriority (operators/statqa.py) — contingency-sized shuffle,
    raw rows never move."""
    from schema_validata_spark.operators.statqa import cramers_v
    return cramers_v(_t(spark, sf_dir, "orders"),
                     "o_orderstatus", "o_orderpriority")


def q_null_patterns(spark, sf_dir):
    """Row-level NULL co-occurrence patterns (operators/statqa.py).
    The fixtures carry no NULLs, so nullable columns are derived
    identically in both engines (nullif / thresholds) to exercise
    multiple patterns."""
    from schema_validata_spark.operators.statqa import null_patterns
    d = _t(spark, sf_dir, "events").select(
        F.expr("nullif(event_type, 'click')").alias("et"),
        F.when(F.col("value") <= 100, F.col("value")).alias("val"),
        F.col("props"))
    return null_patterns(d, ["et", "val", "props"], k=10)


def _snapshot_fixture(spark, sf_dir):
    """Deterministic old/new snapshot pair derived from documents:
    doc_id%41==3 removed, %37==7 text edited, %43==5 cloned in under a
    shifted id (added). Derived identically in the oracle SQL."""
    old = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    new = (old.where(did % 41 != 3)
              .withColumn("text",
                          F.when(did % 37 == 7,
                                 F.concat(F.col("text"), F.lit(" v2")))
                           .otherwise(F.col("text")))
              .unionByName(
                  old.where(did % 43 == 5)
                     .withColumn("doc_id", did + F.lit(1000001))))
    return old, new


def q_snapshot_diff(spark, sf_dir):
    """Row-level snapshot diff keyed by the stable row address
    (operators/snapshot.py:snapshot_diff) — the north-rule 'per-turn
    text equality under stable key' invariant as an operator. Digest
    projection + ONE full-outer key join; the oracle compares RAW
    values, certifying the md5-digest shortcut."""
    from schema_validata_spark.operators.snapshot import snapshot_diff
    old, new = _snapshot_fixture(spark, sf_dir)
    return (snapshot_diff(old, new, ["doc_id"],
                          compare_cols=["text", "lang", "source"])
            .orderBy("doc_id", "change"))


def q_snapshot_diff_summary(spark, sf_dir):
    """Change-type counts for the same snapshot pair (operators/
    snapshot.py:snapshot_diff_summary) — includes the 'unchanged'
    row the diff listing omits."""
    from schema_validata_spark.operators.snapshot import (
        snapshot_diff_summary)
    old, new = _snapshot_fixture(spark, sf_dir)
    return (snapshot_diff_summary(old, new, ["doc_id"],
                                  compare_cols=["text", "lang", "source"])
            .orderBy("change"))


def q_filter_funnel(spark, sf_dir):
    """Staged-filter survival funnel (operators/selection.py:
    filter_funnel): per-stage standalone and cumulative survivor
    counts from ONE aggregate over one scan."""
    from schema_validata_spark.operators.selection import filter_funnel
    docs = _t(spark, sf_dir, "documents")
    return filter_funnel(docs, [
        ("long_enough", F.length("text") >= 200),
        ("english", F.col("lang") == "en"),
        ("id_even", F.col("doc_id") % 2 == 0),
    ])


def q_turn_echo(spark, sf_dir):
    """Consecutive-turn token-set Jaccard (operators/sequence.py:
    turn_echo) over per-user event sequences (event_type + props as
    the turn text, event_id as the stable order) — the parroting /
    retry-loop detector. One keyed window, array exprs only."""
    from schema_validata_spark.operators.sequence import turn_echo
    ev = (_t(spark, sf_dir, "events")
          .where(F.col("user_id").isNotNull())
          .select("user_id", "event_id",
                  F.concat_ws(" ", F.col("event_type"),
                              F.col("props")).alias("turn_text")))
    return (turn_echo(ev, "user_id", ["event_id"], "turn_text")
            .orderBy("user_id", "event_id"))


def q_winsorized_stats(spark, sf_dir):
    """Outlier-robust moments (operators/statqa.py:winsorized_stats):
    raw vs p01/p99-winsorized mean and population σ of events.value —
    two single-row aggregates, exact interpolated percentiles."""
    from schema_validata_spark.operators.statqa import winsorized_stats
    return winsorized_stats(_t(spark, sf_dir, "events"), "value",
                            0.01, 0.99)


def q_equidepth_histogram(spark, sf_dir):
    """Equi-depth (quantile) histogram of events.value (operators/
    statqa.py:equidepth_histogram): 8 ~equal-mass bins with exact
    percentile edges; bucket id evaluates in the scan against the
    broadcast edge vector, ONE ≤8-key aggregate."""
    from schema_validata_spark.operators.statqa import (
        equidepth_histogram)
    return equidepth_histogram(_t(spark, sf_dir, "events"), "value",
                               bins=8)


def q_length_percentiles(spark, sf_dir):
    """North-star 'length percentiles' stat: exact interpolated
    percentile here (oracle-checkable); percentile_approx is the
    t-digest scale path (operators/profile.py:length_percentiles)."""
    from schema_validata_spark.operators.profile import length_percentiles
    df = _t(spark, sf_dir, "documents")
    lp = length_percentiles(df, "text", group_col="lang", exact=True)
    return lp.select("lang", F.round("p_5", 4).alias("p_5"),
                     F.round("p_9", 4).alias("p_9"),
                     F.round("p_99", 4).alias("p_99"))


def q_ngram_jaccard(spark, sf_dir):
    """Exact n-gram Jaccard pairs within language groups
    (operators/dedup.py) — the verification oracle for LSH candidates."""
    df = _t(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(df, "text", "doc_id", threshold=0.12,
                               shingle_k=3, group_col="lang")


def _ngram_pairs(spark, sf_dir):
    return ngram_jaccard_pairs(_t(spark, sf_dir, "documents"), "text",
                               "doc_id", threshold=0.12, shingle_k=3,
                               group_col="lang")


def q_near_dup_clusters(spark, sf_dir):
    """Connected components over exact n-gram-Jaccard near-dup pairs
    (operators/dedup.py:near_dup_clusters — min-label propagation with
    pointer jumping; oracle is a DuckDB recursive CTE)."""
    return near_dup_clusters(_ngram_pairs(spark, sf_dir), "id_a", "id_b")


def q_dedup_near(spark, sf_dir):
    """Cluster-aware near-dup removal: keep the min-id canonical per
    component, pass through unclustered docs (dedup_keep_canonical)."""
    df = _t(spark, sf_dir, "documents")
    kept = dedup_keep_canonical(df, _ngram_pairs(spark, sf_dir), "doc_id")
    return kept.select("doc_id")


def q_near_dup_safe_split(spark, sf_dir):
    """Leakage-safe splits under CONTENT similarity
    (operators/dedup.py:near_dup_safe_split): every member of a
    near-dup cluster (exact n-gram pairs, the dedup_near family's
    generator) receives the same split — paraphrased copies cannot
    straddle train/test. Split key = cluster canonical min-id (own id
    when unclustered) through the engine-portable md5 interval rule;
    the oracle replays the recursive-CC clustering AND the hash
    assignment."""
    from schema_validata_spark.operators.dedup import near_dup_safe_split
    df = _t(spark, sf_dir, "documents")
    return (near_dup_safe_split(df, _ngram_pairs(spark, sf_dir),
                                "doc_id")
            .select("doc_id", "split").orderBy("doc_id"))


def q_dedup_keep_best(spark, sf_dir):
    """Quality-aware near-dup resolution (operators/dedup.py:
    dedup_keep_best): keep the LONGEST member (n_chars, doc_id
    tiebreak) of each n-gram-Jaccard near-dup cluster instead of the
    min-id canonical — the curation-grade keep rule; clusters-sized
    window + one id-keyed anti-join, text never shuffles."""
    from schema_validata_spark.operators.dedup import dedup_keep_best
    df = _t(spark, sf_dir, "documents")
    kept = dedup_keep_best(df, _ngram_pairs(spark, sf_dir), "doc_id",
                           "n_chars")
    return kept.select("doc_id")


def q_per_group_sample(spark, sf_dir):
    """Deterministic exact-n per-group sampling (functions/sampling.py:
    sample_n_per_group): the 10 smallest-md5 doc_ids per source — a
    fixed-size eval slice per slice; row_number ≤ n rewrites to
    WindowGroupLimit (task-side heaps), decision depends only on
    md5(doc_id), never on partitioning."""
    from schema_validata_spark.functions.sampling import sample_n_per_group
    df = _t(spark, sf_dir, "documents")
    return sample_n_per_group(df, "doc_id", "source", 10) \
        .select("doc_id", "source")


def q_quality_topk_per_lang(spark, sf_dir):
    """Per-group top-k quality filtering (operators/selection.py):
    top-3 docs per lang by C4-style quality score, doc_id tiebreak.
    Plan uses WindowGroupLimit (map-side partial top-k) — plan-guard
    tested."""
    df = (_t(spark, sf_dir, "documents")
          .select("doc_id", "lang", quality_score("text").alias("q")))
    return top_k_per_group(df, ["lang"], "q", 3, tiebreak_cols=["doc_id"])


def q_pii_summary(spark, sf_dir):
    """Corpus PII audit (functions/text.py:pii_summary): per pattern
    type, total regex occurrences + documents affected, one aggregate,
    map-only scan."""
    return pii_summary(_t(spark, sf_dir, "documents"), "text")


def q_consecutive_repeats(spark, sf_dir):
    """Sequence check (operators/sequence.py): events where the same
    user fires the same event_type twice in a row (total order
    ts, event_id — lag is deterministic under shuffle retries)."""
    df = _t(spark, sf_dir, "events")
    out = consecutive_repeats(df, "user_id", ["ts", "event_id"],
                              "event_type")
    return out.select("event_id", "user_id", "event_type", "prev_value")


def q_loop_runs(spark, sf_dir):
    """Cycle (loop) detection (operators/sequence.py:loop_runs): the
    'agent stuck in a loop' screen — per (user, period ≤ 3), the
    longest run of event_types equal to the value `period` rows back,
    reported when it covers ≥3 cycle traversals. One window pass
    computes all lags (values ride that single exchange); only matched
    (part, rn, period) rows re-shuffle for the islands window."""
    from schema_validata_spark.operators.sequence import loop_runs
    ev = _t(spark, sf_dir, "events").where(F.col("user_id").isNotNull())
    return loop_runs(ev, "user_id", ["ts", "event_id"], "event_type",
                     max_period=3, min_repeats=3)


def q_conversation_outliers(spark, sf_dir):
    """Multivariate robust outlier screen (operators/statqa.py:
    robust_outliers): per-user (n_events, n_types, avg_value) features
    scored against each FEATURE's median+MAD; entities flag per
    dimension, named — 'which conversations are abnormal and in what
    way'. Exact percentiles here (oracle mode); production default is
    the single-pass percentile_approx sketch."""
    from schema_validata_spark.operators.statqa import robust_outliers
    ev = _t(spark, sf_dir, "events").where(F.col("user_id").isNotNull())
    feats = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("double").alias("n_events"),
        F.countDistinct("event_type").cast("double").alias("n_types"),
        F.round(F.avg("value"), 6).alias("avg_value"))
    return robust_outliers(feats, "user_id",
                           ["n_events", "n_types", "avg_value"],
                           k=3.0, exact=True)


def q_order_regressions(spark, sf_dir):
    """Batch timestamp-monotonicity check (the north-star per-turn
    ordering invariant, batch twin of the stateful streaming op):
    events whose ts precedes the running max along event_id order."""
    df = _t(spark, sf_dir, "events")
    out = order_regressions(df, "user_id", ["event_id"], "ts")
    return out.select("event_id", "user_id", "ts", "prev_max_ts")


def q_repetition_stats(spark, sf_dir):
    """Boilerplate detection (functions/text.py:repetition_stats):
    top-token fraction via two-stage agg + duplicate-trigram fraction
    via array arithmetic."""
    return repetition_stats(_t(spark, sf_dir, "documents"),
                            "text", "doc_id")


def q_deterministic_sample(spark, sf_dir):
    """Reproducible hash-based sampling (functions/sampling.py): the
    keep decision depends only on md5(doc_id), never on partitioning,
    ordering, or seed state — identical in any engine (the oracle runs
    the same predicate in DuckDB). Pure Column expr, map-only — the
    filter runs inside the scan stage, no shuffle."""
    df = _t(spark, sf_dir, "documents")
    return deterministic_sample(df, "doc_id", 0.3).select("doc_id")


def q_transcript_split(spark, sf_dir):
    """Leakage-safe train/val/test split: every event of a user lands
    in the same split (group_split hashes user_id — no shuffle, no
    join). Returns per-split row counts."""
    df = _t(spark, sf_dir, "events")
    return (group_split(df, "user_id")
            .groupBy("split").agg(F.count(F.lit(1)).alias("n_rows")))


# --- LSH near-dup family: md5 signature mode (VERDICT r3 #1) ---------------
# These queries run the SAME banding/bucketing pipeline as the scale
# defaults, with the hash swapped to the engine-portable md5 mode so the
# ENTIRE candidate-generation + verification path is replayed in the
# DuckDB oracle — not rows-only. xxhash64 stays the production default
# and keeps its recall/property pytests.

def q_minhash_near_duplicates(spark, sf_dir):
    """MinHash+LSH near-dup candidates verified by exact Jaccard —
    md5 signature mode (operators/dedup.py:minhash_signatures), so
    signatures, band buckets, the bucket cap, and the Jaccard verify
    are all replayed by the oracle."""
    df = _t(spark, sf_dir, "documents")
    return minhash_near_duplicates(df, "text", "doc_id", threshold=0.12,
                                   num_hashes=32, bands=16, shingle_k=3,
                                   hasher="md5")


def q_simhash_near_duplicates(spark, sf_dir):
    """SimHash chunked-signature near-dup pairs. max_hamming=3 → 4
    chunks of 16 bits (65,536 bucket values per chunk) — the
    scale-honest default (operators/dedup.py scale contract); wider
    Hamming radii lean on the bucket-size cap. md5 nibble-bit mode:
    the 64 per-bit majorities, signature assembly, chunk buckets and
    Hamming verify are all replayed by the oracle."""
    df = _t(spark, sf_dir, "documents")
    return simhash_near_duplicates(df, "text", "doc_id", max_hamming=3,
                                   shingle_k=2, hasher="md5")


def q_datetime_inference(spark, sf_dir):
    """SURVEY §2.2 infer_datetime_column / COMMON_DATETIMES coverage
    (functions/datetimes.py): orders dates rendered into 5 distinct
    string formats (keyed by o_orderkey) and recovered by the
    shape-gated multi-format parser — per-format parse counts + range."""
    from schema_validata_spark.functions.datetimes import parse_datetime_multi
    df = _t(spark, sf_dir, "orders")
    fid = F.pmod(F.col("o_orderkey"), F.lit(5))
    rendered = (
        F.when(fid == 0, F.date_format("o_orderdate", "MM/dd/yyyy"))
         .when(fid == 1, F.date_format("o_orderdate", "yyyy-MM-dd"))
         .when(fid == 2, F.date_format("o_orderdate", "MMM-dd-yyyy"))
         .when(fid == 3, F.date_format("o_orderdate", "MMMM dd, yyyy"))
         .otherwise(F.date_format("o_orderdate", "dd-MM-yyyy")))
    parsed = parse_datetime_multi(rendered)
    return (df.select(fid.cast("bigint").alias("fmt_id"), parsed.alias("p"))
              .groupBy("fmt_id")
              .agg(F.count("p").cast("bigint").alias("n_parsed"),
                   F.date_format(F.min("p"), "yyyy-MM-dd").alias("min_d"),
                   F.date_format(F.max("p"), "yyyy-MM-dd").alias("max_d")))


def q_na_discovery(spark, sf_dir):
    """SURVEY §2.1 read_df_with_optimal_dtypes NA-vocabulary discovery
    (functions/nulls.py:discover_na_values): NA-like raw values beyond
    the literal sentinel list, per column. Values seeded
    deterministically from customer keys."""
    from schema_validata_spark.functions.nulls import discover_na_values
    df = _t(spark, sf_dir, "customer")
    mod = F.pmod(F.col("c_custkey"), F.lit(7))
    status = (F.when(mod == 0, F.lit("N/A"))
               .when(mod == 1, F.lit(" - "))
               .when(mod == 2, F.lit("not available"))
               .when(mod == 3, F.lit("  "))
               .otherwise(F.col("c_mktsegment")))
    vocab = discover_na_values(df.select(status.alias("status")))
    rows = [("status", v) for v in vocab.get("status", [])]
    from pyspark.sql import types as T
    schema = T.StructType([T.StructField("column_name", T.StringType()),
                           T.StructField("na_value", T.StringType())])
    return spark.createDataFrame(rows, schema)


def _cond_rules():
    from schema_validata_spark.operators.expectations import ConditionalRule
    return [
        ConditionalRule("error_value_cap",
                        "event_type = 'error'", "value <= 5"),
        ConditionalRule("purchase_value_positive",
                        "event_type = 'purchase'", "value > 0"),
    ]


def q_conditional_violations(spark, sf_dir):
    """Cross-column conditional rules (operators/expectations.py):
    IF when_sql THEN then_sql, compiled to Column predicates — one scan
    for all rules via the array-of-structs → explode pattern."""
    from schema_validata_spark.operators.expectations import \
        conditional_violations
    events = _t(spark, sf_dir, "events")
    out = conditional_violations(events, _cond_rules(), ["event_id"])
    return out.select("event_id", F.col("column_name").alias("rule_name"))


def q_expectation_checks(spark, sf_dir):
    """Dataset-level contracts (operators/expectations.py): ONE global
    aggregate evaluates every expectation."""
    from schema_validata_spark.operators.expectations import (Expectation,
                                                              check_expectations)
    events = _t(spark, sf_dir, "events")
    exps = [
        Expectation("row_count_min", "count(*)", ">=", 1000),
        Expectation("value_null_frac_max",
                    "avg(case when value is null then 1.0 else 0.0 end)",
                    "<=", 0.01),
        Expectation("event_type_card_max",
                    "count(distinct event_type)", "<=", 10),
        Expectation("value_max_cap", "max(value)", "<=", 400),
    ]
    out = check_expectations(events, exps)
    return out.select("expectation", F.round("observed", 6).alias("observed"),
                      "op", "threshold", "status")


def q_group_expectation_checks(spark, sf_dir):
    """Per-conversation contracts (operators/expectations.py:
    check_group_expectations): every expectation for every group in
    ONE hash aggregate; failures-only output."""
    from schema_validata_spark.operators.expectations import (
        Expectation, check_group_expectations)
    events = _t(spark, sf_dir, "events")
    exps = [
        Expectation("turns_per_user_max", "count(*)", "<=", 40),
        Expectation("value_sum_cap", "sum(value)", "<=", 900.0),
        Expectation("error_free", """
            sum(case when event_type = 'error' then 1 else 0 end)
            """.strip(), "==", 0),
    ]
    out = check_group_expectations(events, ["user_id"], exps)
    return out.select("user_id", "expectation",
                      F.round("observed", 6).alias("observed"),
                      "op", "threshold", "status")


def q_freshness_daily(spark, sf_dir):
    """Per-day arrival stats with lag vs the global max event time
    (operators/expectations.py:freshness_stats) — one scan, bucket
    aggregate + broadcast of the re-aggregated global max."""
    from schema_validata_spark.operators.expectations import freshness_stats
    events = _t(spark, sf_dir, "events")
    out = freshness_stats(events, "ts", "day")
    return out.select(
        F.date_format("bucket", "yyyy-MM-dd").alias("day"),
        F.col("row_count").cast("bigint").alias("row_count"),
        F.date_format("bucket_max_ts", "yyyy-MM-dd HH:mm:ss")
         .alias("bucket_max_ts"),
        "lag_seconds")


def q_completeness_gaps(spark, sf_dir):
    """Hour buckets with zero purchase events between the observed min
    and max (operators/expectations.py:completeness_gaps): dense range
    from a 1-row aggregate (sequence + explode) anti-joined against the
    observed buckets."""
    from schema_validata_spark.operators.expectations import completeness_gaps
    events = _t(spark, sf_dir, "events")
    gaps = completeness_gaps(events.where(F.col("event_type") == "purchase"),
                             "ts", "hour")
    return gaps.select(
        F.date_format("bucket", "yyyy-MM-dd HH:00").alias("gap_hour"))


def q_iqr_outliers(spark, sf_dir):
    """Tukey-fence outlier stats (operators/expectations.py:
    iqr_outlier_stats). exact=True (exact percentile) for oracle parity;
    the default percentile_approx sketch is the 100 TB path."""
    from schema_validata_spark.operators.expectations import iqr_outlier_stats
    events = _t(spark, sf_dir, "events")
    out = iqr_outlier_stats(events, ["value"], k=1.5, exact=True)
    return out.select(
        "column_name", F.round("q1", 6).alias("q1"),
        F.round("q3", 6).alias("q3"),
        F.round("fence_lo", 6).alias("fence_lo"),
        F.round("fence_hi", 6).alias("fence_hi"), "n_outliers")


def q_stratified_sample(spark, sf_dir):
    """Per-stratum deterministic sampling (functions/sampling.py:
    stratified_sample): md5-hash keep decision with a CASE-selected
    per-stratum cut — map-only, reproducible across engines and
    partitionings. Here: keep 50% of errors, all purchases, 10% of
    everything else."""
    from schema_validata_spark.functions.sampling import stratified_sample
    events = _t(spark, sf_dir, "events")
    kept = stratified_sample(events, "event_id", "event_type",
                             {"error": 0.5, "purchase": 1.0}, default=0.1)
    return kept.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_kept"))


def q_clean_text(spark, sf_dir):
    """Deterministic text normalization (functions/text.py:clean_text):
    control-char strip, typographic normalization, whitespace collapse —
    pure Column expressions. The messy input is synthesized identically
    in both engines (curly quotes + NBSP + em dash + tab + BEL around
    the document text)."""
    from schema_validata_spark.functions.text import clean_text
    docs = _t(spark, sf_dir, "documents")
    messy = F.concat(F.lit("\u201c"), F.col("text"), F.lit("\u201d"),
                     F.lit("\u00a0\u2014\t"), F.lit("x\x07y"))
    return docs.select("doc_id", clean_text(messy).alias("cleaned"))


def q_reconcile_keys(spark, sf_dir):
    """Two-sided key reconciliation (operators/integrity.py:
    reconcile_keys): distinct event users vs the customer dimension —
    tag + union + ONE hash aggregate (duplicates collapse map-side; no
    join, no separate distinct pass)."""
    from schema_validata_spark.operators.integrity import reconcile_keys
    events = _t(spark, sf_dir, "events")
    customer = _t(spark, sf_dir, "customer")
    return reconcile_keys(events, ["user_id"], customer, ["c_custkey"])


def q_quarantine(spark, sf_dir):
    """Quarantine split (operators/violations.py:quarantine): rows
    violating any per-row rule, tagged with the reason labels (spec
    order), plus the clean/bad counts implied by the row set."""
    from schema_validata_spark.operators.violations import quarantine
    from schema_validata_spark.rules import FieldRule, Rules
    events = _t(spark, sf_dir, "events")
    rules = Rules(name="Q", fields=[
        FieldRule("event_type", allowed_value_list=_EVENT_ALLOWED),
        FieldRule("value", range_max=400.0),
    ])
    _clean, bad = quarantine(events, rules, ignore_errors=[])
    return bad.select(
        "event_id",
        F.array_join("violation_reasons", ",").alias("reasons"))


def q_volume_anomalies(spark, sf_dir):
    """Row-volume anomaly screen (operators/expectations.py:
    volume_anomalies): hourly bucket counts vs median + MAD — robust to
    the spike masking itself. Anomalous buckets only (k=3)."""
    from schema_validata_spark.operators.expectations import volume_anomalies
    events = _t(spark, sf_dir, "events")
    out = volume_anomalies(events, "ts", "hour", k=3.0)
    return (out.where(F.col("is_anomaly"))
               .select(F.date_format("bucket", "yyyy-MM-dd HH:00")
                        .alias("hour"),
                       F.col("row_count").cast("bigint").alias("row_count"),
                       F.round("deviation", 6).alias("deviation")))


def q_validate_events(spark, sf_dir):
    """End-to-end orchestrator (validate.py): flagged row-level violations
    for the events rule table, aggregated per (column, error_type)."""
    events = _t(spark, sf_dir, "events")
    customer = _t(spark, sf_dir, "customer")
    result = validate(spark, events, _events_rules(), dataset_name="events",
                      dims={"customer": customer}, key_cols=["event_id"])
    return (result.violations
            .groupBy("column_name", "error_type")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_violations")))


def q_violation_budgets(spark, sf_dir):
    """Error-budget verdicts (operators/expectations.py:
    violation_rate_gate): each (column, error_type) check passes while
    its violation RATE stays within budget — rate-tolerant gating over
    the engine's own violations frame ('≤5% unknown event types OK,
    any value overflow beyond 0.1% fails'); listed-but-clean checks
    report zero-filled. One hash agg on the violations frame + a
    full-outer join against the #budgets-row literal frame."""
    from schema_validata_spark.operators.expectations import (
        violation_rate_gate)
    events = _t(spark, sf_dir, "events")
    customer = _t(spark, sf_dir, "customer")
    result = validate(spark, events, _events_rules(),
                      dataset_name="events",
                      dims={"customer": customer}, key_cols=["event_id"])
    return violation_rate_gate(
        result.violations, events.count(),
        {("event_type", "Unallowed Value"): 0.05,
         ("value", "Exceeds Maximum Allowed Value (400)"): 0.001,
         ("event_id", "Null Value"): 0.0})


def q_top_tokens(spark, sf_dir):
    """Corpus vocabulary head (functions/text.py:top_tokens): wordcount
    two-stage agg + TakeOrderedAndProject top-k — the shuffle carries
    per-partition partial counts, never token occurrences."""
    from schema_validata_spark.functions.text import top_tokens
    return top_tokens(_t(spark, sf_dir, "documents"), "text", 20)


def q_distinctive_terms(spark, sf_dir):
    """Per-source TF-IDF distinctive vocabulary
    (functions/text.py:distinctive_terms): explode + two map-side-
    combined hash aggs + a vocabulary-sized per-group rank window —
    corpus text never shuffles, only (group, token) pairs do. Scores
    pinned to 6dp before ranking so the top-k is engine-stable."""
    from schema_validata_spark.functions.text import distinctive_terms
    return distinctive_terms(_t(spark, sf_dir, "documents"),
                             "text", "source", k=10)


def q_length_gini(spark, sf_dir):
    """Per-source contribution inequality (operators/statqa.py:
    gini_coefficient): doc-length Gini via the rank identity — the
    window shuffles only (group, value) pairs, then one hash agg;
    audit spine left-joined null-safely so no group can vanish."""
    from schema_validata_spark.operators.statqa import gini_coefficient
    return gini_coefficient(_t(spark, sf_dir, "documents"),
                            "n_chars", "source")


def q_zipf_slope(spark, sf_dir):
    """Zipf-law fit per language slice (functions/text.py:zipf_slope):
    OLS of ln(freq) on ln(rank) over the top-300 tokens via
    covar_pop/var_pop — catches templated or generator-collapsed
    slices whose frequency curve bends away from slope −1."""
    from schema_validata_spark.functions.text import zipf_slope
    return zipf_slope(_t(spark, sf_dir, "documents"),
                      "text", "lang", top_v=300)


def q_turn_balance(spark, sf_dir):
    """Prompt/response mass balance per conversation
    (operators/sequence.py:turn_balance_stats) over the derived-role
    events transcript: ONE hash aggregate on the conversation key."""
    from schema_validata_spark.operators.sequence import turn_balance_stats
    return turn_balance_stats(_event_transcript(spark, sf_dir),
                              "user_id", "role", "text")


def q_gopher_rules(spark, sf_dir):
    """Gopher-style per-document quality-filter verdicts
    (functions/text.py:gopher_rules): word count / mean word length /
    alpha fraction / stopword rules as one map-only scan with a 0/1
    flag per rule plus the audit stats."""
    from schema_validata_spark.functions.text import gopher_rules
    return gopher_rules(_t(spark, sf_dir, "documents"), "text", "doc_id")


def q_json_payload_stats(spark, sf_dir):
    """Semi-structured payload health (operators/semistructured.py):
    per event_type, JSON parseability + key presence + numeric-typed
    share + mean of $.k — one aggregate, all get_json_object exprs
    inside the scan stage. Poison payloads are SEEDED (every 7th
    event's props becomes the malformed '{broken' — ~14% of rows) so
    the invalid-JSON counting path is oracle-verified at material
    volume, not just the happy path (ADVICE r2 / VERDICT r3 #2)."""
    from schema_validata_spark.operators.semistructured import \
        json_payload_stats
    ev = _t(spark, sf_dir, "events").withColumn(
        "props",
        F.when(F.pmod(F.col("event_id"), F.lit(7)) == 0, F.lit("{broken"))
         .otherwise(F.col("props")))
    return json_payload_stats(ev, "props", "event_type", "k")


def q_tool_call_pairing(spark, sf_dir):
    """Tool-call pairing integrity (operators/sequence.py:
    tool_call_pairing): orphan tool results and unanswered tool calls
    over a transcript-shaped frame derived from events identically in
    both engines (conv = user_id, order = (ts, event_id), role mapped
    from event_type, every 3rd assistant turn invokes a tool). One
    keyed lag+lead window; output is violating turns only."""
    from schema_validata_spark.operators.sequence import \
        tool_call_pairing
    ev = _t(spark, sf_dir, "events")
    role = (F.when(F.col("event_type") == "click", "user")
             .when(F.col("event_type") == "view", "assistant")
             .when(F.col("event_type") == "purchase", "tool")
             .when(F.col("event_type") == "signup", "system")
             .otherwise("assistant"))
    t = ev.select("user_id", "ts", "event_id", role.alias("role"),
                  F.when((role == "assistant")
                         & (F.col("event_id") % 3 == 0),
                         F.lit("api")).alias("tool"))
    return (tool_call_pairing(t, "user_id", ["ts", "event_id"],
                              "role", "tool")
            .orderBy("user_id", "ts", "event_id", "issue"))


def q_repair_cut_points(spark, sf_dir):
    """Per-conversation repair plan (operators/sequence.py:
    repair_cut_points) over the tool-pairing issue frame: earliest
    offending turn + issue census per conversation — the
    keep-the-valid-prefix salvage. One aggregate over the
    violations-sized frame; the oracle replays the pairing issues AND
    the min-struct first-issue rule."""
    from schema_validata_spark.operators.sequence import \
        repair_cut_points
    issues = q_tool_call_pairing(spark, sf_dir) \
        .select("user_id", "ts", "issue")
    return (repair_cut_points(issues, "user_id", "ts")
            .orderBy("user_id"))


def q_run_log_regressions(spark, sf_dir):
    """Cross-run regression diff over append_run_log's tables
    (report.py:run_log_regressions): three synthetic validation runs
    are constructed from events deterministically in BOTH engines —
    run rX's error rows are events in a value window, error kind =
    (event_type, value-decade bucket) — and the operator reports
    per-run error-count delta plus newly-appearing / resolved kinds
    vs the previous run (the reference example's accumulating-log
    monitoring question)."""
    from schema_validata_spark.report import run_log_regressions
    ev = _t(spark, sf_dir, "events")
    kind = F.concat(F.lit("b"),
                    F.floor(F.col("value") / 10).cast("int")
                     .cast("string"))
    runs = [("r1", "2024-01-01", F.col("value") < 30),
            ("r2", "2024-01-02",
             (F.col("value") >= 15) & (F.col("value") < 45)),
            ("r3", "2024-01-03",
             (F.col("value") >= 40) & (F.col("value") < 120))]
    els, rls = [], []
    for uid, day, pred in runs:
        sel = ev.where(pred)
        els.append(sel.select(
            F.lit(uid).alias("run_uid"), F.lit("events").alias("dataset"),
            F.col("event_type").alias("column"),
            kind.alias("error_type")))
        rls.append(sel.agg(
            F.lit(uid).alias("run_uid"), F.lit("events").alias("dataset"),
            F.count(F.lit(1)).cast("bigint").alias("error_count"),
            F.lit(day).cast("timestamp").alias("ts")))
    el = els[0].unionByName(els[1]).unionByName(els[2])
    rl = rls[0].unionByName(rls[1]).unionByName(rls[2])
    return (run_log_regressions(el, rl)
            .orderBy("dataset", "run_uid"))


def q_json_payload_violations(spark, sf_dir):
    """Row-level JSON payload violations (operators/semistructured.py:
    json_payload_violations): (event_id, reason) rows for unparseable
    payloads, missing $.k, and non-numeric $.k — the three poison
    classes are SEEDED identically in both engines (every 7th event
    '{broken', every 11th '{"j": 1}', every 13th '{"k": "oops"}',
    when-chain priority in that order) so ALL reason paths are
    oracle-exercised, ~30% of rows dirty."""
    from schema_validata_spark.operators.semistructured import \
        json_payload_violations
    eid = F.col("event_id")
    ev = _t(spark, sf_dir, "events").withColumn(
        "props",
        F.when(F.pmod(eid, F.lit(7)) == 0, F.lit("{broken"))
         .when(F.pmod(eid, F.lit(11)) == 0, F.lit('{"j": 1}'))
         .when(F.pmod(eid, F.lit(13)) == 0, F.lit('{"k": "oops"}'))
         .otherwise(F.col("props")))
    return json_payload_violations(ev, "props", "event_id",
                                   required_keys=["k"],
                                   numeric_keys=["k"])


def q_topk_sample(spark, sf_dir):
    """Exact-size deterministic sample (functions/sampling.py:
    deterministic_topk_sample): the 50 smallest-hash doc_ids via
    TakeOrderedAndProject (per-task heap, no global sort)."""
    from schema_validata_spark.functions.sampling import \
        deterministic_topk_sample
    docs = _t(spark, sf_dir, "documents")
    return deterministic_topk_sample(docs, "doc_id", 50).select("doc_id")


def q_weighted_sample(spark, sf_dir):
    """Length-proportional deterministic sampling (functions/
    sampling.py:weighted_sample): keep probability = clamp(n_chars ×
    0.002, 0, 1) decided by md5(doc_id) — expected TOKEN mass, not row
    count, matches the budget; map-only, engine-portable."""
    from schema_validata_spark.functions.sampling import weighted_sample
    docs = _t(spark, sf_dir, "documents")
    return weighted_sample(docs, "doc_id", "n_chars", scale=0.002) \
        .select("doc_id")


def q_turn_conformance(spark, sf_dir):
    """Dense turn-index invariant (operators/sequence.py:
    turn_conformance) — the structural (conv_id, turn_idx) check of the
    north-star transcript table, driven here over (l_orderkey,
    l_linenumber): one hash aggregate, non-dense partitions listed with
    null/dup/span diagnostics."""
    from schema_validata_spark.operators.sequence import turn_conformance
    return turn_conformance(_t(spark, sf_dir, "lineitem"),
                            "l_orderkey", "l_linenumber", start=1)


def q_source_share_caps(spark, sf_dir):
    """Source-mix balancing (functions/sampling.py:cap_group_share):
    every source above 3% corpus share is deterministically downsampled
    to the cap (md5-keyed keep decision, engine-portable); per-source
    kept counts. One source ('src7') is remapped to NULL so the oracle
    exercises the NULL-group path: NULL-group rows must obey the cap
    like any other group, not silently vanish (VERDICT r2 #1)."""
    from schema_validata_spark.functions.sampling import cap_group_share
    docs = _t(spark, sf_dir, "documents") \
        .withColumn("source", F.nullif(F.col("source"), F.lit("src7")))
    return (cap_group_share(docs, "doc_id", "source", 0.03)
            .groupBy("source")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_kept"))
            .orderBy(F.col("source").asc_nulls_first()))


def q_fd_check(spark, sf_dir):
    """Functional-dependency audit (operators/integrity.py:fd_check):
    does l_orderkey determine l_returnflag / l_linestatus, does
    l_partkey determine l_suppkey — one hash aggregate per dependency,
    one summary row each."""
    from schema_validata_spark.operators.integrity import fd_check
    return (fd_check(_t(spark, sf_dir, "lineitem"),
                     [("orderkey_to_returnflag", ["l_orderkey"],
                       "l_returnflag"),
                      ("orderkey_to_linestatus", ["l_orderkey"],
                       "l_linestatus"),
                      ("partkey_to_suppkey", ["l_partkey"],
                       "l_suppkey")])
            .orderBy("fd"))


def q_quality_percentiles(spark, sf_dir):
    """Within-source percentile calibration (operators/selection.py:
    group_percent_rank): percent_rank of document length inside each
    source, doc_id tiebreak — the per-group threshold that keeps
    filter rates comparable across sources."""
    from schema_validata_spark.operators.selection import \
        group_percent_rank
    docs = _t(spark, sf_dir, "documents")
    return (group_percent_rank(docs, "source", "n_chars", "doc_id")
            .select("doc_id", "source", "n_chars", "pct_rank")
            .orderBy("doc_id"))


def q_mixture_sample(spark, sf_dir):
    """Target-mixture downsampling (functions/sampling.py:
    mixture_sample): keep the largest corpus realizing 50/30/20
    shares over src0/src1/src2 (everything else drops) — feasible
    total pinned by the first group to run out, md5-keyed keep
    decision, row data never shuffles."""
    from schema_validata_spark.functions.sampling import mixture_sample
    docs = _t(spark, sf_dir, "documents")
    kept = mixture_sample(docs, "doc_id", "source",
                          {"src0": 0.5, "src1": 0.3, "src2": 0.2})
    return (kept.groupBy("source")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_kept"))
            .orderBy("source"))


def q_encoding_qa(spark, sf_dir):
    """Encoding/mojibake QA (functions/text.py:encoding_summary):
    per-source totals + affected-doc counts for replacement chars,
    stray C0 controls and UTF-8-as-Latin-1 mojibake. The artifacts are
    synthesized identically in both engines (every 31st doc gains a
    U+FFFD + 'Ã©', every 41st a \\x01 + 'â€™' prefix); ONE hash
    aggregate over map-side regexp_count columns — text never
    shuffles."""
    from schema_validata_spark.functions.text import encoding_summary
    docs = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    messy = (F.when(did % 31 == 0,
                    F.concat(F.col("text"), F.lit("�"),
                             F.lit("Ã©")))
              .when(did % 41 == 0,
                    F.concat(F.lit("\x01â€™"),
                             F.col("text")))
              .otherwise(F.col("text")))
    return (encoding_summary(docs.select("source", messy.alias("text")),
                             "text", group_col="source")
            .orderBy("source"))


def q_markup_stats(spark, sf_dir):
    """Markup/URL density (functions/text.py:markup_stats): per-doc
    HTML-tag / URL / entity occurrence counts and the fraction of
    characters consumed by markup — the web-extractor-escape signal.
    Map-only; every 13th doc is wrapped in tags + given a URL, every
    17th gains entities, identically in both engines."""
    from schema_validata_spark.functions.text import markup_stats
    docs = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    messy = (F.when(did % 13 == 0,
                    F.concat(F.lit("<p>"), F.col("text"),
                             F.lit("</p> see https://example.com/a?b=1")))
              .when(did % 17 == 0,
                    F.concat(F.col("text"), F.lit(" &amp;&#39;")))
              .otherwise(F.col("text")))
    return (markup_stats(docs.select("doc_id", messy.alias("text")),
                         "text", "doc_id")
            .orderBy("doc_id"))


def q_incremental_dedup(spark, sf_dir):
    """Cross-snapshot incremental dedup (operators/dedup.py:
    snapshot_fingerprints + incremental_dedup): the seen set is every
    5th doc's content fingerprint; the new batch is the corpus plus
    clones of those docs under UNRELATED ids (+1000001) — clones must
    vanish by CONTENT, seen originals too, everything else survives.
    One left-anti join on the 8-byte fingerprint."""
    from schema_validata_spark.operators.dedup import (
        incremental_dedup, snapshot_fingerprints)
    docs = _t(spark, sf_dir, "documents")
    prior = docs.where(F.col("doc_id") % 5 == 0)
    clones = prior.withColumn("doc_id", F.col("doc_id") + F.lit(1000001))
    new_batch = docs.unionByName(clones)
    seen = snapshot_fingerprints(prior, "text")
    return (incremental_dedup(new_batch, seen, "text")
            .select("doc_id", "source").orderBy("doc_id"))


def q_line_dedup(spark, sf_dir):
    """Line-level corpus dedup (operators/dedup.py:dedup_lines, the
    CCNet/C4 boilerplate-line pass): every doc gains a universal
    header, every even doc a shared footer, every odd doc a unique
    trailer — lines in ≥50 distinct docs are removed and the text
    reassembled in order. Returns (doc_id, cleaned text) so the oracle
    hash checks the full rebuild."""
    from schema_validata_spark.operators.dedup import dedup_lines
    docs = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    trailer = (F.when(did % 2 == 0, F.lit("SHARED FOOTER"))
                .otherwise(F.concat(F.lit("unique-"),
                                    did.cast("string"))))
    messy = F.concat_ws("\n", F.lit("HEADER NAV"), F.col("text"),
                        trailer)
    mdf = docs.select("doc_id", messy.alias("text"))
    return dedup_lines(mdf, "text", "doc_id", min_docs=50) \
        .orderBy("doc_id")


def _event_role(spark, sf_dir):
    """Shared fixture: events as a transcript — conv=user_id, order=ts
    (unique per user in the testdata), role derived deterministically
    from event_type (signup→system, click/view→user, rest→assistant)
    with every 97th event_id's role NULLed to exercise NULL handling.
    The oracle derives the identical mapping in SQL."""
    ev = _t(spark, sf_dir, "events")
    role = (F.when(F.col("event_id") % 97 == 0, F.lit(None))
             .when(F.col("event_type") == "signup", F.lit("system"))
             .when(F.col("event_type").isin("click", "view"),
                   F.lit("user"))
             .otherwise(F.lit("assistant")))
    return ev.select("user_id", "ts", role.alias("role"))


def _event_transcript(spark, sf_dir):
    """`_event_role` plus a text column (the raw props payload), the
    shape sft-pair extraction and loss-mask spans need; every 89th
    event's text is NULLed to exercise empty-turn handling."""
    ev = _t(spark, sf_dir, "events")
    role = (F.when(F.col("event_id") % 97 == 0, F.lit(None))
             .when(F.col("event_type") == "signup", F.lit("system"))
             .when(F.col("event_type").isin("click", "view"),
                   F.lit("user"))
             .otherwise(F.lit("assistant")))
    text = F.when(F.col("event_id") % 89 != 0, F.col("props"))
    return ev.select("user_id", "ts", role.alias("role"),
                     text.alias("text"))


def q_sft_pairs(spark, sf_dir):
    """(prompt, response) SFT pair extraction (operators/sequence.py:
    sft_pairs): assistant turns immediately preceded by a user turn,
    one lag window over the conversation key."""
    from schema_validata_spark.operators.sequence import sft_pairs
    return (sft_pairs(_event_transcript(spark, sf_dir),
                      "user_id", ["ts"], "role", "text")
            .select("user_id", "ts", "prompt_text", "response_text"))


def q_span_offsets(spark, sf_dir):
    """Loss-mask char spans (operators/sequence.py: span_offsets):
    [start, end) of each assistant turn when the conversation is
    concatenated with a 1-char separator; only lengths shuffle."""
    from schema_validata_spark.operators.sequence import span_offsets
    return (span_offsets(_event_transcript(spark, sf_dir),
                         "user_id", ["ts"], "text", role_col="role",
                         roles={"assistant"}, sep_len=1)
            .select("user_id", "ts", "role", "start_char", "end_char"))


def q_assemble_conversations(spark, sf_dir):
    """Turns → packed conversation documents (operators/sequence.py:
    assemble_conversations): separator-joined turn texts in turn
    order; the coordinate system span_offsets indexes into."""
    from schema_validata_spark.operators.sequence import (
        assemble_conversations)
    return assemble_conversations(_event_transcript(spark, sf_dir),
                                  "user_id", "ts", "text")


def q_role_conformance(spark, sf_dir):
    """Speaker-sequence automaton check (operators/sequence.py:
    role_conformance): allowed transitions system→user, user→assistant,
    assistant→user; openers system|user. Random event sequences violate
    constantly, so the output lists most conversations with
    bad-transition counts and the first break point — one lag window +
    one hash aggregate."""
    from schema_validata_spark.operators.sequence import role_conformance
    return (role_conformance(
                _event_role(spark, sf_dir), "user_id", ["ts"], "role",
                transitions={("system", "user"), ("user", "assistant"),
                             ("assistant", "user")},
                first_roles={"system", "user"})
            .orderBy("user_id"))


def q_conversation_forks(spark, sf_dir):
    """Conversation fork detection (operators/dedup.py:
    conversation_forks): dialogues sharing an identical first-3-turn
    prefix — same-seed re-rolls / truncated re-exports that
    whole-dialogue dedup cannot see. Every 5th user's first 3 events
    are re-keyed as a truncation fork; each must group with its
    original. Turn text md5s scan-side; only 32-char hashes shuffle."""
    from pyspark.sql import Window
    from schema_validata_spark.operators.dedup import conversation_forks
    ev = _t(spark, sf_dir, "events") \
        .where(F.col("user_id").isNotNull()) \
        .select("user_id", "ts", "event_id", "props")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    clones = (ev.withColumn("__rn", F.row_number().over(w))
                .where((F.col("user_id") % 5 == 0) & (F.col("__rn") <= 3))
                .drop("__rn")
                .withColumn("user_id", F.col("user_id") + F.lit(200000)))
    corpus = ev.unionByName(clones)
    return conversation_forks(corpus, "user_id", ["ts", "event_id"],
                              "props", k=3, min_group=2)


def q_duplicate_conversations(spark, sf_dir):
    """Whole-dialogue dedup (operators/dedup.py:
    duplicate_conversations): conversations = events grouped by
    user_id ordered by ts with props as turn text; every 7th user is
    cloned under an unrelated id (+100000) — each cloned dialogue must
    surface as one duplicate group keyed on SEQUENCE content (min-id
    exemplar, member count, turn count). Turn texts hash map-side;
    only 8-byte hashes shuffle."""
    from schema_validata_spark.operators.dedup import (
        duplicate_conversations)
    ev = _t(spark, sf_dir, "events").select("user_id", "ts", "props")
    clones = ev.where(F.col("user_id") % 7 == 0) \
               .withColumn("user_id", F.col("user_id") + F.lit(100000))
    corpus = ev.unionByName(clones)
    return (duplicate_conversations(corpus, "user_id", "ts", "props")
            .orderBy("example_conv"))


def q_incremental_near_dedup(spark, sf_dir):
    """Cross-snapshot NEAR dedup (operators/dedup.py:
    incremental_near_dedup): the seen artifact is every 5th doc's
    MinHash signature; the new batch adds lightly-edited clones of
    those docs (one token appended) under unrelated ids — the clones
    should screen out against the snapshot's signatures alone (no
    prior text). md5 signature mode (operators/dedup.py): the snapshot
    signatures, band buckets, match-fraction estimate, and anti-join
    are all replayed by the DuckDB oracle; the estimator's recall is
    additionally pytest-asserted on the xxhash64 scale default."""
    from schema_validata_spark.operators.dedup import (
        incremental_near_dedup, snapshot_minhash_signatures)
    docs = _t(spark, sf_dir, "documents")
    prior = docs.where(F.col("doc_id") % 5 == 0)
    clones = (prior.withColumn("doc_id", F.col("doc_id") + F.lit(2000001))
                   .withColumn("text", F.concat(F.col("text"),
                                                F.lit(" retrieved"))))
    new_batch = docs.where(F.col("doc_id") % 5 != 0).unionByName(clones)
    seen = snapshot_minhash_signatures(prior, "text", "doc_id",
                                       hasher="md5")
    return (incremental_near_dedup(new_batch, seen, "text", "doc_id",
                                   threshold=0.5, hasher="md5")
            .select("doc_id", "source").orderBy("doc_id"))


def q_url_domains(spark, sf_dir):
    """Top URL domains (functions/text.py:url_domains): every 3rd doc
    gains a link to a deterministic host (doc_id%7 picks the domain,
    doc_id%3==0∧%2 adds a second mention) — occurrence and
    document counts per host, top-k by link mass."""
    from schema_validata_spark.functions.text import url_domains
    docs = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    link = F.concat(F.lit(" see https://site"),
                    (did % 7).cast("string"),
                    F.lit(".example.com/p?id="), did.cast("string"))
    link2 = F.when(did % 2 == 0,
                   F.concat(F.lit(" and https://site"),
                            (did % 7).cast("string"),
                            F.lit(".example.com/q"))) \
             .otherwise(F.lit(""))
    messy = F.when(did % 3 == 0,
                   F.concat(F.col("text"), link, link2)) \
             .otherwise(F.col("text"))
    return url_domains(docs.select("doc_id", messy.alias("text")),
                       "text", "doc_id", k=10)


def q_fertility(spark, sf_dir):
    """Per-language tokenizer fertility (functions/text.py:
    fertility_stats): BPE-ish tokens per word and chars per token by
    lang — the mixture-weight driver for multilingual corpora. Map-side
    token counts + ONE hash aggregate on lang."""
    from schema_validata_spark.functions.text import fertility_stats
    return (fertility_stats(_t(spark, sf_dir, "documents"),
                            "text", "lang")
            .orderBy("lang"))


def q_vocab_stats(spark, sf_dir):
    """Corpus vocabulary summary (functions/text.py:vocab_stats):
    total/distinct tokens, type-token ratio, hapax count + share, head
    token share — ONE row from a wordcount two-stage aggregate plus a
    global aggregate over the vocabulary-sized counts frame."""
    from schema_validata_spark.functions.text import vocab_stats
    return vocab_stats(_t(spark, sf_dir, "documents"), "text")


def q_turn_latency(spark, sf_dir):
    """Inter-turn latency profile (operators/sequence.py:
    turn_latency_stats): per-conversation (user_id) gap stats between
    consecutive events — count / mean / exact-interpolated median and
    p95 / max seconds. ONE keyed window + ONE hash aggregate; the
    oracle replays it with lag + quantile_cont."""
    from schema_validata_spark.operators.sequence import (
        turn_latency_stats)
    ev = _t(spark, sf_dir, "events").where(F.col("user_id").isNotNull())
    return (turn_latency_stats(ev, "user_id", "ts")
            .orderBy("user_id"))


def q_tool_transitions(spark, sf_dir):
    """Tool-chain bigram counts (operators/sequence.py:
    transition_counts): which event_type follows which within a
    conversation (user_id ordered by ts, event_id tiebreak); openers
    surface with prev_value NULL. One lag window + one hash aggregate
    over the tiny label alphabet."""
    from schema_validata_spark.operators.sequence import (
        transition_counts)
    ev = _t(spark, sf_dir, "events").where(F.col("user_id").isNotNull())
    return (transition_counts(ev, "user_id", ["ts", "event_id"],
                              "event_type")
            .orderBy(F.col("n").desc(),
                     F.col("prev_value").asc_nulls_first(),
                     F.col("value").asc()))


def q_tool_chain_ngrams(spark, sf_dir):
    """Frequent 3-step tool-call chains per user session
    (operators/sequence.py:sequence_ngrams) — workflow mining over the
    event stream: one keyed window (two lags) + one hash aggregate on
    the bounded gram alphabet; grams never cross a user boundary."""
    from schema_validata_spark.operators.sequence import sequence_ngrams
    ev = _t(spark, sf_dir, "events").where(F.col("user_id").isNotNull())
    return sequence_ngrams(ev, "user_id", ["ts", "event_id"],
                           "event_type", n=3)


def q_dup_share_by_source(spark, sf_dir):
    """Per-source duplication pressure (operators/dedup.py:
    duplicate_share_by_group): every 9th doc is cloned under an
    unrelated id (same source), so each source's share of rows whose
    content fingerprint repeats corpus-wide is non-trivial. One
    8-byte-fp aggregate + fp join-back + one group aggregate."""
    from schema_validata_spark.operators.dedup import (
        duplicate_share_by_group)
    docs = _t(spark, sf_dir, "documents")
    clones = (docs.where(F.col("doc_id") % 9 == 0)
                  .withColumn("doc_id", F.col("doc_id") + F.lit(1000001)))
    return (duplicate_share_by_group(docs.unionByName(clones),
                                     "text", "source")
            .orderBy("source"))


def q_ngram_diversity(spark, sf_dir):
    """Per-source distinct-2 diversity (functions/text.py:
    ngram_diversity): total vs distinct word bigrams and their ratio —
    the slice-level template detector. Bigrams hash to 8 bytes inside
    the scan; two-stage hash aggregate, no text shuffle."""
    from schema_validata_spark.functions.text import ngram_diversity
    return (ngram_diversity(_t(spark, sf_dir, "documents"),
                            "text", "source", n=2)
            .orderBy("source"))


def q_vocab_drift(spark, sf_dir):
    """Snapshot vocabulary movers (operators/drift.py:vocab_drift):
    snapshot A = even docs, B = odd docs with ' driftmarker
    driftmarker' appended to every 5th — the planted token plus the
    even/odd content split must surface as the top-25 share deltas,
    selected on the ROUNDED delta with token tiebreak so both engines
    pick the same rows. Two wordcounts + vocab-sized outer join +
    TakeOrderedAndProject."""
    from schema_validata_spark.operators.drift import vocab_drift
    docs = _t(spark, sf_dir, "documents")
    a = docs.where(F.col("doc_id") % 2 == 0)
    b = (docs.where(F.col("doc_id") % 2 == 1)
             .withColumn("text",
                         F.when(F.col("doc_id") % 5 == 1,
                                F.concat(F.col("text"),
                                         F.lit(" driftmarker"
                                               " driftmarker")))
                          .otherwise(F.col("text"))))
    return vocab_drift(a, b, "text", k=25)


def q_derived_consistency(spark, sf_dir):
    """Stored-vs-recomputed derived column audit (operators/
    expectations.py:derived_mismatches): n_chars is corrupted (+7) for
    every 23rd doc and NULLed for every 97th — exactly those rows must
    surface with the stored and recomputed values (null-safe compare).
    Map-only scan, violation-sized output."""
    from schema_validata_spark.operators.expectations import (
        derived_mismatches)
    docs = _t(spark, sf_dir, "documents")
    corrupted = (F.when(F.col("doc_id") % 97 == 0,
                        F.lit(None).cast("bigint"))
                  .when(F.col("doc_id") % 23 == 0,
                        F.col("n_chars") + 7)
                  .otherwise(F.col("n_chars")))
    fixed = docs.withColumn("n_chars", corrupted)
    return (derived_mismatches(fixed, "doc_id", "n_chars",
                               F.length("text").cast("bigint"))
            .orderBy("doc_id"))


def q_role_share(spark, sf_dir):
    """Per-conversation focus-role share (operators/sequence.py:
    role_share_stats) over the derived-role events fixture: how much
    of each conversation is 'assistant' turns (NULL roles count in
    totals, never in focus). ONE hash aggregate."""
    from schema_validata_spark.operators.sequence import role_share_stats
    return (role_share_stats(_event_role(spark, sf_dir),
                             "user_id", "role", "assistant")
            .orderBy("user_id"))


def q_unigram_scores(spark, sf_dir):
    """Unigram-LM perplexity proxy (functions/text.py:
    unigram_logprob_scores): per-doc mean negative log-prob under an
    add-one-smoothed top-200 unigram model trained on the same corpus
    (vocab deliberately small so the OOV path is oracle-exercised).
    Wordcount + TakeOrderedAndProject vocab + broadcast-join scoring."""
    from schema_validata_spark.functions.text import unigram_logprob_scores
    return unigram_logprob_scores(_t(spark, sf_dir, "documents"),
                                  "text", "doc_id",
                                  vocab_size=200).orderBy("id")


def q_fd_violations(spark, sf_dir):
    """Row-level functional-dependency drill-down (operators/
    integrity.py:fd_violations): list the l_orderkey keys that break
    l_orderkey -> l_returnflag, one row per (key, flag value) with the
    majority-vote survivor marked — one (det, dep) hash aggregate, a
    key-level window over the aggregated frame only."""
    from schema_validata_spark.operators.integrity import fd_violations
    return (fd_violations(_t(spark, sf_dir, "lineitem"),
                          ["l_orderkey"], "l_returnflag")
            .orderBy("l_orderkey", "dep_value"))


def q_candidate_keys(spark, sf_dir):
    """Candidate-key discovery (operators/integrity.py:candidate_keys):
    does (l_orderkey, l_linenumber) identify lineitem rows, does
    l_orderkey alone, does l_comment — the probe run before writing a
    unique_value rule into the data dictionary."""
    from schema_validata_spark.operators.integrity import candidate_keys
    return (candidate_keys(_t(spark, sf_dir, "lineitem"),
                           [("line_pk", ["l_orderkey", "l_linenumber"]),
                            ("orderkey_only", ["l_orderkey"]),
                            ("shipdate_only", ["l_shipdate"])])
            .orderBy("key_name"))


def q_dup_cluster_sizes(spark, sf_dir):
    """Near-duplicate cluster-size histogram (operators/dedup.py:
    dup_cluster_sizes): connected components over the same n-gram
    Jaccard pair graph as near_dup_clusters, rolled up to
    (cluster_size, n_clusters, n_docs) — the dup-mass shape report."""
    from schema_validata_spark.operators.dedup import dup_cluster_sizes
    return (dup_cluster_sizes(_ngram_pairs(spark, sf_dir), "id_a", "id_b")
            .orderBy("cluster_size"))


def q_quality_trend(spark, sf_dir):
    """Per-slice weekly metric trend (operators/statqa.py:
    quality_trend): weekly bucket averages of events.value per
    event_type and an OLS slope per week — the longitudinal companion
    to the snapshot drift checks."""
    from schema_validata_spark.operators.statqa import quality_trend
    return (quality_trend(_t(spark, sf_dir, "events"),
                          "event_type", "ts", "value")
            .orderBy("group"))


def q_mask_stability(spark, sf_dir):
    """Cross-partition format-mask stability (operators/statqa.py:
    mask_stability): per ts-day partition, the dominant A/a/9 value
    mask of event_type and props, rolled up to a per-column stability
    verdict — the format-drift screen that catches an exporter
    switching ID/date shapes in one partition."""
    from pyspark.sql import functions as F
    from schema_validata_spark.operators.expectations import mask_stability
    ev = _t(spark, sf_dir, "events").withColumn("__pday", F.to_date("ts"))
    return (mask_stability(ev, ["event_type", "props"], "__pday")
            .orderBy("column_name"))


def q_fd_repair(spark, sf_dir):
    """Majority-vote FD repair (operators/integrity.py:fd_repair):
    coerce l_returnflag to its order's majority flag (the same
    deterministic winner fd_violations marks), was_repaired naming
    the changed rows; dependent rides as its native type, join-back
    keyed on the determinant."""
    from schema_validata_spark.operators.integrity import fd_repair
    return (fd_repair(_t(spark, sf_dir, "lineitem"),
                      ["l_orderkey"], "l_returnflag")
            .select("l_orderkey", "l_linenumber", "l_returnflag",
                    "was_repaired")
            .orderBy("l_orderkey", "l_linenumber"))


def q_verdict_flips(spark, sf_dir):
    """Verdict release-diff (validate.py:verdict_flips): which
    (partition, column, check) verdicts CHANGE when the strict
    per-partition gate is re-judged under error budgets — the same
    rules as partition_verdicts vs partition_rate_verdicts, joined
    full-outer on the verdict keys; unchanged verdicts emit nothing."""
    from schema_validata_spark.validate import (partition_rate_verdicts,
                                                verdict_flips)
    df = _t(spark, sf_dir, "lineitem")
    rules = Rules(name="LINEITEM_SCHEMA", fields=[
        FieldRule("l_quantity", data_type="Float", range_max=_QTY_MAX),
        FieldRule("l_discount", data_type="Float", range_max=0.05),
        FieldRule("l_tax", data_type="Float", range_min=0.02),
    ])
    strict = partition_verdicts(df, rules, "l_returnflag")
    budgeted = partition_rate_verdicts(
        df, rules, "l_returnflag",
        {("l_quantity", "range_max"): 0.5,
         ("l_discount", "range_max"): 0.0001,
         ("l_tax", "range_min"): 0.30})
    return (verdict_flips(strict, budgeted)
            .orderBy("partition_key", "column_name", "check"))


def q_whitespace_stats(spark, sf_dir):
    """Whitespace-hygiene profile (functions/text.py:whitespace_stats):
    per column, values with leading/trailing whitespace, embedded
    newlines, double spaces, tabs, and trim-changes — the quantified
    version of the reference's silent newline scrub
    (src/schema_validata.py remove_pd_df_newlines). ONE aggregate."""
    from schema_validata_spark.functions.text import whitespace_stats
    return (whitespace_stats(_t(spark, sf_dir, "documents"),
                             ["text", "lang", "source"])
            .orderBy("column_name"))


def q_fuzzy_value_pairs(spark, sf_dir):
    """Blocked-Levenshtein entity screen (operators/dedup.py:
    fuzzy_duplicate_values): near-miss variants of customer names
    within 1 edit, paired inside a 15-char prefix block over the
    DISTINCT-value frame — the vocabulary cleanup pass the
    reference's allowed-value checks assume has already happened."""
    from schema_validata_spark.operators.dedup import fuzzy_duplicate_values
    return (fuzzy_duplicate_values(_t(spark, sf_dir, "customer"),
                                   "c_name", max_dist=1, prefix_len=15)
            .orderBy("value_a", "value_b"))


def q_cohens_kappa(spark, sf_dir):
    """Inter-rater agreement (statqa.cohens_kappa): κ between two
    derived raters (event_id parity) labeling shared items
    (event_id div 2) with event_type — exact-integer po/pe/κ."""
    from schema_validata_spark.operators.statqa import cohens_kappa
    df = (_t(spark, sf_dir, "events")
          .select(F.floor(F.col("event_id") / 2).cast("bigint")
                   .alias("item"),
                  (F.col("event_id") % 2).cast("int").alias("rater"),
                  F.col("event_type").alias("label")))
    return cohens_kappa(df, "item", "rater", "label", 0, 1)


def q_fleiss_kappa(spark, sf_dir):
    """Panel agreement (statqa.fleiss_kappa): κ over 4-rating items
    derived from events (item = event_id div 4), labels =
    event_type; exact bigint moments, fixed-expression doubles."""
    from schema_validata_spark.operators.statqa import fleiss_kappa
    df = (_t(spark, sf_dir, "events")
          .select(F.floor(F.col("event_id") / 4).cast("bigint")
                   .alias("item"),
                  (F.col("event_id") % 4).cast("int").alias("rater"),
                  F.col("event_type").alias("label")))
    return fleiss_kappa(df, "item", "rater", "label", 4)


def q_simpsons_flips(spark, sf_dir):
    """Simpson's-paradox screen (statqa.simpsons_flips): per-returnflag
    OLS slope of extendedprice on quantity vs the pooled slope, exact
    decimal moments, flip = strict sign reversal."""
    from schema_validata_spark.operators.statqa import simpsons_flips
    return (simpsons_flips(_t(spark, sf_dir, "lineitem"),
                           "l_quantity", "l_extendedprice",
                           "l_returnflag")
            .orderBy("group"))


def q_rate_significance(spark, sf_dir):
    """Two-proportion z-test per slice (statqa.rate_significance):
    which sources have a statistically different short-document rate
    (n_chars < 500) than the rest of the corpus."""
    from schema_validata_spark.operators.statqa import rate_significance
    return (rate_significance(_t(spark, sf_dir, "documents"),
                              F.col("n_chars") < 500, "source")
            .orderBy("group"))


def q_volume_changepoint(spark, sf_dir):
    """CUSUM mean-shift on daily event volume
    (expectations.volume_changepoint): when did the feed's level
    change — exact bigint bucket moments, micro-quantized argmax."""
    from schema_validata_spark.operators.expectations import \
        volume_changepoint
    return volume_changepoint(_t(spark, sf_dir, "events"), "ts")


def q_weighted_k_sample(spark, sf_dir):
    """Exact-k weighted sampling without replacement
    (functions/sampling.py:weighted_k_sample, Efraimidis–Spirakis):
    100 documents, length-proportional, deterministic across engines
    and partitionings via the md5-derived uniform draw."""
    from schema_validata_spark.functions.sampling import weighted_k_sample
    return (weighted_k_sample(_t(spark, sf_dir, "documents"),
                              "doc_id", "n_chars", 100)
            .orderBy("doc_id"))


def q_null_rate_by_slice(spark, sf_dir):
    """Per-(slice, column) null-rate significance screen
    (statqa.null_rate_by_slice): derived nullable columns over events
    (value gated at > 50, props gated at length > 120), scored per
    event_type against the rest of the corpus."""
    from schema_validata_spark.operators.statqa import null_rate_by_slice
    df = _t(spark, sf_dir, "events").select(
        "event_type",
        F.when(F.col("value") > 50, F.col("value")).alias("v_hi"),
        F.when(F.length("props") > 120, F.col("props"))
         .alias("props_long"))
    return (null_rate_by_slice(df, ["v_hi", "props_long"], "event_type")
            .orderBy("group", "column_name"))


def q_last_digit_uniformity(spark, sf_dir):
    """Last-digit uniformity screen (statqa.last_digit_uniformity)
    over order totals — hand-rounded or binned values light up here
    while passing Benford/range/null checks."""
    from schema_validata_spark.operators.statqa import last_digit_uniformity
    return (last_digit_uniformity(_t(spark, sf_dir, "orders"),
                                  "o_totalprice")
            .orderBy("digit"))


def q_mann_whitney(spark, sf_dir):
    """Mann–Whitney U rank-sum two-sample screen
    (statqa.mann_whitney): does the `value` distribution differ
    between click and purchase events? Tie-corrected normal
    approximation; rank sums in the exact integer domain
    (2·R_a as DECIMAL) so the z replays bit-identically."""
    from schema_validata_spark.operators.statqa import mann_whitney
    return mann_whitney(_t(spark, sf_dir, "events"), "value",
                        "event_type", "click", "purchase")


def q_rater_confusion(spark, sf_dir):
    """Per-class confusion matrix between two raters
    (statqa.rater_confusion): rater a = order status as labeled,
    rater b = a re-label that flips every 7th order to 'F' and skips
    every 3rd order entirely — exact-count shares per cell."""
    from schema_validata_spark.operators.statqa import rater_confusion
    o = _t(spark, sf_dir, "orders")
    a = o.select(F.col("o_orderkey").alias("item"),
                 F.lit("a").alias("rater"),
                 F.col("o_orderstatus").alias("lab"))
    b = (o.where(F.col("o_orderkey") % 3 != 0)
          .select(F.col("o_orderkey").alias("item"),
                  F.lit("b").alias("rater"),
                  F.when(F.col("o_orderkey") % 7 == 0, F.lit("F"))
                   .otherwise(F.col("o_orderstatus")).alias("lab")))
    return (rater_confusion(a.unionByName(b), "item", "rater", "lab",
                            "a", "b")
            .orderBy("label_a", "label_b"))


def q_volume_autocorrelation(spark, sf_dir):
    """Lag-k autocorrelation of daily event volume
    (expectations.volume_autocorrelation): the periodicity detector
    behind the volume screens — missing days count as zero volume;
    moments are exact DECIMAL sums over one scan."""
    from schema_validata_spark.operators.expectations import \
        volume_autocorrelation
    return (volume_autocorrelation(_t(spark, sf_dir, "events"), "ts",
                                   granularity="day", max_lag=7)
            .orderBy("lag"))


def q_histogram_movers(spark, sf_dir):
    """WHICH buckets drove the drift (drift.histogram_movers): top-3
    share movers per event type between the month's first and second
    half — the where behind chi²/PSI; all frames histogram-sized."""
    from schema_validata_spark.operators.drift import histogram_movers
    ev = _t(spark, sf_dir, "events")
    obs = numeric_histogram(ev.where(F.dayofmonth("ts") <= 15),
                            "value", "event_type", 0.0, 500.0, 10)
    base = numeric_histogram(ev.where(F.dayofmonth("ts") > 15),
                             "value", "event_type", 0.0, 500.0, 10)
    return (histogram_movers(obs, base, top_k=3)
            .orderBy("partition_key", "column_name", "rank"))


def q_extrema_exemplars(spark, sf_dir):
    """The rows behind the range stats (statqa.extrema_exemplars):
    top/bottom-5 order totals with their keys — two
    TakeOrderedAndProject heaps, no global sort."""
    from schema_validata_spark.operators.statqa import extrema_exemplars
    return (extrema_exemplars(_t(spark, sf_dir, "orders"),
                              "o_totalprice", ["o_orderkey"], k=5)
            .orderBy("end", "rank"))


def q_hourly_profile(spark, sf_dir):
    """Hour-of-day activity profile per event type
    (statqa.hourly_profile): intra-day seasonality + deterministic
    peak hour; one ≤24·|groups| hash aggregate."""
    from schema_validata_spark.operators.statqa import hourly_profile
    return (hourly_profile(_t(spark, sf_dir, "events"), "ts",
                           "event_type")
            .orderBy("group", "hour"))


def q_sample_bias_check(spark, sf_dir):
    """Selection-bias audit (sampling.sample_bias_check): the 20%
    deterministic doc sample's lang composition vs the corpus — a
    hash sampler should pass; a flagged slice means upstream bias;
    two group-sized aggregates + a join."""
    from schema_validata_spark.functions.sampling import \
        sample_bias_check
    docs = _t(spark, sf_dir, "documents")
    samp = deterministic_sample(docs, "doc_id", 0.2)
    return (sample_bias_check(samp, docs, "lang")
            .orderBy("group"))


def q_record_linkage(spark, sf_dir):
    """Blocking-based record linkage (dedup.record_linkage_pairs):
    customers blocked by nation, scored on (segment, balance band) —
    pairs agreeing on every comparable field; per-block quadratic by
    contract, only ids+fields shuffle."""
    from schema_validata_spark.operators.dedup import \
        record_linkage_pairs
    c = (_t(spark, sf_dir, "customer")
         .select(F.col("c_custkey").alias("cid"),
                 F.col("c_nationkey").cast("string").alias("blk"),
                 F.col("c_mktsegment").alias("seg"),
                 F.floor(F.col("c_acctbal") / 1000).cast("bigint")
                  .cast("string").alias("band")))
    return (record_linkage_pairs(c, "cid", "blk",
                                 {"seg": 1.0, "band": 1.0},
                                 threshold=1.0)
            .orderBy("id_a", "id_b"))


def q_pairwise_psi(spark, sf_dir):
    """Slice-vs-slice PSI matrix (drift.pairwise_psi) over the
    per-event-type value histograms: which slices differ from EACH
    OTHER, not from one baseline — all frames histogram-sized."""
    from schema_validata_spark.operators.drift import pairwise_psi
    h = numeric_histogram(_t(spark, sf_dir, "events"), "value",
                          "event_type", 0.0, 500.0, 10)
    return (pairwise_psi(h)
            .orderBy("column_name", "part_a", "part_b"))


def q_null_runs(spark, sf_dir):
    """NULL-island runs (sequence.null_runs): longest consecutive-NULL
    run per (event_type, derived column) along event_id order — the
    producer-died-mid-stream signature completeness_trend's rates
    can't separate from scattered optionals."""
    from schema_validata_spark.operators.sequence import null_runs
    ev = _t(spark, sf_dir, "events")
    df = ev.select("event_type", "event_id",
                   F.when(F.col("event_id") % 50 < 10,
                          F.lit(None).cast("long"))
                    .otherwise(F.col("user_id")).alias("uv"))
    return (null_runs(df, "event_type", ["event_id"], ["uv"],
                      min_run=2)
            .orderBy("partition", "column_name"))


def q_partition_profiles(spark, sf_dir):
    """Mergeable per-partition basic profile (operators/profile.py:
    partition_profile_stats) keyed by event_type: the partition-
    decomposable counts/extrema/lengths that make the column profile
    incremental next to the HLL + quantile-summary frames; one wide
    keyed aggregate."""
    from schema_validata_spark.operators.profile import \
        partition_profile_stats
    return (partition_profile_stats(_t(spark, sf_dir, "events"),
                                    "event_type",
                                    cols=["user_id", "value", "props"])
            .orderBy("partition_key", "column_name"))


def q_coercion_failures(spark, sf_dir):
    """What the casting lattice will eat (functions/typing.py:
    coercion_failures): per ruled string column, non-null values that
    fail to parse into the ruled type — derived fixture poisons every
    13th JSON k with a letter; one wide aggregate, unpivoted after."""
    from schema_validata_spark.functions.typing import coercion_failures
    from schema_validata_spark.rules import Rules
    ev = _t(spark, sf_dir, "events")
    kv = F.get_json_object("props", "$.k")
    df = ev.select(
        F.when(F.col("event_id") % 13 == 0, F.concat(F.lit("x"), kv))
         .otherwise(kv).alias("kv"),
        F.date_format("ts", "yyyy-MM-dd").alias("day_str"))
    rules = Rules.from_nested_dict("co", {
        "kv": {"data_type": "Integer"},
        "day_str": {"data_type": "Datetime"}})
    return coercion_failures(df, rules).orderBy("column_name")


def q_weighted_k_per_lang(spark, sf_dir):
    """Exact-20-per-language weighted sample (sampling.
    weighted_k_sample_per_group): per-slice token-budget slicing,
    deterministic A-ES draw, WindowGroupLimit map-side heaps."""
    from schema_validata_spark.functions.sampling import \
        weighted_k_sample_per_group
    return (weighted_k_sample_per_group(
                _t(spark, sf_dir, "documents"), "lang", "doc_id",
                "n_chars", 20)
            .orderBy("doc_id"))


def q_script_mix_stats(spark, sf_dir):
    """Unicode script composition per language slice
    (functions/text.py:script_mix_stats): the mislabeled-language /
    mojibake screen — per-class regex counting in the scan, one wide
    group aggregate."""
    from schema_validata_spark.functions.text import script_mix_stats
    return (script_mix_stats(_t(spark, sf_dir, "documents"), "text",
                             "lang")
            .orderBy("group", "script"))


def q_crosstab_residuals(spark, sf_dir):
    """Contingency-cell drill-down for lang × source
    (statqa.crosstab_residuals): adjusted standardized residuals name
    WHICH cells drive the association cramers_v compresses; one (a,b)
    hash agg + marginal windows over the cell frame."""
    from schema_validata_spark.operators.statqa import crosstab_residuals
    return (crosstab_residuals(_t(spark, sf_dir, "documents"), "lang",
                               "source")
            .orderBy("value_a", "value_b"))


def q_scd2_history(spark, sf_dir):
    """SCD2 validity intervals from the event log
    (selection.scd2_history): per-user event_type state history —
    NULL-safe change detection, one keyed window pair sharing a single
    exchange."""
    from schema_validata_spark.operators.selection import scd2_history
    return (scd2_history(_t(spark, sf_dir, "events"), ["user_id"],
                         "ts", ["event_type"])
            .orderBy("user_id", "valid_from"))


def q_monotone_trend(spark, sf_dir):
    """Counter-regression screen (expectations.monotone_trend_check):
    daily high-water mark of event_id flagged wherever a day falls
    below its predecessor — resets/backfills/clock skew; one bucket
    aggregate + a metadata-frame lag."""
    from schema_validata_spark.operators.expectations import \
        monotone_trend_check
    return (monotone_trend_check(_t(spark, sf_dir, "events"), "ts",
                                 "event_id")
            .orderBy("bucket"))


def q_value_novelty_trend(spark, sf_dir):
    """New-enum-value arrival trend (expectations.value_novelty_trend)
    over the JSON payload key k: WHEN unheard-of values first appear,
    with a sorted ≤10-value audit sample; distinct (value, day)
    reduction first."""
    from schema_validata_spark.operators.expectations import \
        value_novelty_trend
    df = (_t(spark, sf_dir, "events")
          .select("ts", F.get_json_object("props", "$.k").alias("kv")))
    return (value_novelty_trend(df, "kv", "ts")
            .orderBy("bucket"))


def q_json_flatten(spark, sf_dir):
    """Typed JSON flatten of events.props (semistructured.
    json_flatten): k as bigint + a deliberately-missing key — map-only
    scan-stage extraction, NULL-on-mismatch, json_ok channel."""
    from schema_validata_spark.operators.semistructured import \
        json_flatten
    return (json_flatten(_t(spark, sf_dir, "events"), "props",
                         {"k": ("$.k", "bigint"),
                          "missing": ("$.missing", "string")})
            .orderBy("event_id"))


def q_heavy_hitters(spark, sf_dir):
    """Two-scan exact heavy hitters over user_id
    (sketches.heavy_hitters, share > 0.008): per-partition pandas
    value_counts candidates (zero shuffle), isin-filtered exact
    recount — output is partition-layout independent by the final
    strict threshold."""
    from schema_validata_spark.operators.sketches import heavy_hitters
    return (heavy_hitters(_t(spark, sf_dir, "events"), "user_id",
                          threshold_share=0.008)
            .orderBy("value"))


def q_numeric_histogram2d(spark, sf_dir):
    """Joint (value × hour-of-day) histogram (drift.
    numeric_histogram2d): the dependence-structure drift input
    marginal histograms can't give; one (n_x+2)·(n_y+2)-key hash
    aggregate."""
    from schema_validata_spark.operators.drift import numeric_histogram2d
    df = (_t(spark, sf_dir, "events")
          .select("value", F.hour("ts").cast("double").alias("hh")))
    return (numeric_histogram2d(df, "value", "hh", 0.0, 500.0,
                                0.0, 24.0, 10, 12)
            .orderBy("x_bucket", "y_bucket"))


def q_value_grid_stats(spark, sf_dir):
    """Grid-snap profile of events.value (statqa.value_grid_stats):
    the quantized/binned-data detector — one wide global aggregate,
    exploded after."""
    from schema_validata_spark.operators.statqa import value_grid_stats
    return (value_grid_stats(_t(spark, sf_dir, "events"), "value")
            .orderBy("step"))


def q_transition_latency(spark, sf_dir):
    """Latency per role transition (sequence.transition_latency) over
    the derived-role transcript: WHICH hop is slow (tool-result
    processing vs user think-time); one lag window + one (role, role)
    hash agg, exact BIGINT micro sums, exact percentiles. (ts is
    unique per user in the fixture, so ts alone is a total order.)"""
    from schema_validata_spark.operators.sequence import \
        transition_latency
    return (transition_latency(_event_transcript(spark, sf_dir),
                               "user_id", ["ts"], "role", "ts")
            .orderBy("from_role", "to_role"))


def q_turn_count_histogram(spark, sf_dir):
    """Conversation-size histogram on power-of-two bands
    (sequence.turn_count_histogram): the length distribution and
    the skew summary at a glance; one count-per-key shuffle + a log2
    rollup of the key-counts frame."""
    from schema_validata_spark.operators.sequence import \
        turn_count_histogram
    return (turn_count_histogram(_t(spark, sf_dir, "events"),
                                 "user_id")
            .orderBy("bucket"))


def q_key_volume_outliers(spark, sf_dir):
    """Runaway-key list (uniqueness.key_volume_outliers): users whose
    event volume is a median/MAD outlier (fixture threshold 2.0 so
    the flag path is exercised); one count-per-key shuffle + two
    exact-percentile aggregates on the key-counts frame."""
    from schema_validata_spark.operators.uniqueness import \
        key_volume_outliers
    return (key_volume_outliers(_t(spark, sf_dir, "events"),
                                ["user_id"], z_threshold=2.0)
            .orderBy("user_id"))


def q_join_size_estimate(spark, sf_dir):
    """Pre-flight join size/skew estimate (uniqueness.
    join_size_estimate) for orders⋈customer on custkey: exact heavy
    head via TakeOrderedAndProject, containment tail; run BEFORE the
    shuffle to pick salting/AQE hints."""
    from schema_validata_spark.operators.uniqueness import \
        join_size_estimate
    return join_size_estimate(_t(spark, sf_dir, "orders"), "o_custkey",
                              _t(spark, sf_dir, "customer"),
                              "c_custkey", k=50)


def q_dup_trend(spark, sf_dir):
    """Within-day duplicate pressure on (user_id, event_type)
    (uniqueness.dup_trend): the double-ingest detector — one
    (bucket, key) hash agg + a bucket rollup of the key-counts
    frame."""
    from schema_validata_spark.operators.uniqueness import dup_trend
    return (dup_trend(_t(spark, sf_dir, "events"),
                      ["user_id", "event_type"], "ts")
            .orderBy("bucket"))


def q_concentration_stats(spark, sf_dir):
    """HHI / effective-n / top-k mass per categorical column
    (statqa.concentration_stats) over documents lang+source — the
    market-concentration view next to column_entropy; vocabulary-sized
    shuffle only."""
    from schema_validata_spark.operators.statqa import concentration_stats
    return (concentration_stats(_t(spark, sf_dir, "documents"),
                                ["lang", "source"])
            .orderBy("column_name"))


def q_welch_t(spark, sf_dir):
    """Per-event-type Welch's t vs the rest of the corpus
    (statqa.welch_t): mean-shift screen with exact quantized
    DECIMAL(38,0) (n, Σq, Σq²) per slice; the rest side is
    total − slice in the exact integer domain."""
    from schema_validata_spark.operators.statqa import welch_t
    return (welch_t(_t(spark, sf_dir, "events"), "value", "event_type")
            .orderBy("group"))


def q_mad_location(spark, sf_dir):
    """Robust per-source location screen over document lengths
    (statqa.mad_location): slice medians vs the global median in
    global-MAD units — one rollup percentile aggregate + the
    inherently-second MAD pass."""
    from schema_validata_spark.operators.statqa import mad_location
    return (mad_location(_t(spark, sf_dir, "documents"), "n_chars",
                         "source")
            .orderBy("group"))


def q_completeness_trend(spark, sf_dir):
    """Per-day column completeness z-screen
    (expectations.completeness_trend) over events.value/props/user_id
    — WHEN a column's null rate broke vs its overall rate; one wide
    bucket aggregate, totals via a window on the tiny long frame."""
    from schema_validata_spark.operators.expectations import \
        completeness_trend
    return (completeness_trend(_t(spark, sf_dir, "events"), "ts",
                               ["user_id", "value", "props"],
                               granularity="day", z_threshold=3.0)
            .orderBy("bucket", "column_name"))


def q_wilson_rates(spark, sf_dir):
    """Per-event-type incidence of value > 50 with Wilson 95% score
    intervals (statqa.wilson_rates) — the error-bar companion of
    rate_significance; exact bigint counts, pinned double formula."""
    from schema_validata_spark.operators.statqa import wilson_rates
    return (wilson_rates(_t(spark, sf_dir, "events"),
                         F.col("value") > 50, "event_type")
            .orderBy("group"))


def q_moment_stats(spark, sf_dir):
    """Per-event-type shape moments (statqa.moment_stats): skewness +
    excess kurtosis from exact DECIMAL(38,0) quantized power sums —
    the unit-mismatch / sentinel-tail screen; one hash aggregate."""
    from schema_validata_spark.operators.statqa import moment_stats
    return (moment_stats(_t(spark, sf_dir, "events"), "value",
                         "event_type")
            .orderBy("group"))


def q_zipf_fit(spark, sf_dir):
    """Full-vocabulary Zipf OLS per language slice (statqa.zipf_fit):
    micro-quantized exact-integer moments over the wordcount frame —
    the engine-portable counterpart of the top-300 `zipf_slope`."""
    from schema_validata_spark.operators.statqa import zipf_fit
    return (zipf_fit(_t(spark, sf_dir, "documents"), "text", "lang")
            .orderBy("group"))


def q_readability(spark, sf_dir):
    """Corpus readability profile per language (text.readability_stats):
    Flesch / FK-grade from three regexp_count sums inside one map-side
    combined aggregate — register-shift detector for a source mix."""
    from schema_validata_spark.functions.text import readability_stats
    return (readability_stats(_t(spark, sf_dir, "documents"), "text",
                              "lang")
            .orderBy("group"))


def q_theil_sen(spark, sf_dir):
    """Theil-Sen robust daily-volume trend per event type
    (statqa.theil_sen_trend): median of pairwise slopes on the
    #days-sized frame — outage-day-proof drift direction."""
    from schema_validata_spark.operators.statqa import theil_sen_trend
    return (theil_sen_trend(_t(spark, sf_dir, "events"), "ts",
                            "event_type")
            .orderBy("group"))


def q_ewma_volume(spark, sf_dir):
    """EWMA volume-anomaly screen (statqa.ewma_anomalies): each day
    vs the debiased exponential average of prior days, closed-form
    cumsum window on the #days frame — drift-tolerant spike/outage
    detector."""
    from schema_validata_spark.operators.statqa import ewma_anomalies
    return (ewma_anomalies(_t(spark, sf_dir, "events"), "ts",
                           alpha=0.3, threshold=0.5)
            .orderBy("day"))


def q_quality_calibration(spark, sf_dir):
    """Cross-source score calibration (statqa.quality_calibration):
    per-source KS distance between within-source and global quality
    percentiles — the is-0.8-the-same-everywhere audit behind global
    curation thresholds."""
    from schema_validata_spark.operators.statqa import quality_calibration
    docs = _t(spark, sf_dir, "documents")
    scored = docs.select("source", quality_score("text").alias("q"))
    return (quality_calibration(scored, "q", "source")
            .orderBy("group"))


def q_sampling_table(spark, sf_dir):
    """word2vec-style negative-sampling table over the vocab head
    (text.unigram_sampling_table): count^0.75-smoothed distribution +
    CDF, truncated to 30 tokens — the embedding-training artifact."""
    from schema_validata_spark.functions.text import unigram_sampling_table
    return (unigram_sampling_table(_t(spark, sf_dir, "documents"),
                                   "text", vocab_size=30)
            .orderBy("rank"))


def q_mixture_weights(spark, sf_dir):
    """Temperature-scaled source-mixing weights
    (sampling.mixture_weights): size^0.3-smoothed sampling weights per
    source with the implied up/down-sampling factor; one aggregate."""
    from schema_validata_spark.functions.sampling import mixture_weights
    return (mixture_weights(_t(spark, sf_dir, "documents"), "source",
                            F.length("text"), alpha=0.3)
            .orderBy("group"))


def q_reliability_bins(spark, sf_dir):
    """Calibration curve of value vs error-rate per fixed bin
    (statqa.reliability_bins): the reliability-diagram table behind
    threshold decisions; one <=n_bins hash aggregate."""
    from schema_validata_spark.operators.statqa import reliability_bins
    return (reliability_bins(_t(spark, sf_dir, "events"), "value",
                             F.col("event_type") == "error",
                             lo=0.0, hi=500.0, n_bins=10)
            .orderBy("bin"))


def q_template_distance(spark, sf_dir):
    """Per-user edit distance to the corpus modal event sequence
    (sequence.template_distance): whole-trajectory conformance via
    Levenshtein on the capped '>'-joined label string."""
    from schema_validata_spark.operators.sequence import template_distance
    return (template_distance(_t(spark, sf_dir, "events"), "user_id",
                              ["ts", "event_id"], "event_type",
                              max_len=10)
            .orderBy("part"))


def q_rule_suggestions(spark, sf_dir):
    """Auto-drafted data dictionary from observed data
    (rules.suggest_rules): one wide aggregate pass emits per-column
    type/null/range/length/allowed-value/uniqueness suggestions — the
    authoring aid for the reference's hand-written xlsx dictionary."""
    from schema_validata_spark.rules import suggest_rules
    return (suggest_rules(_t(spark, sf_dir, "events"), allowed_max=10)
            .orderBy("column_name"))


def q_golden_records(spark, sf_dir):
    """Field-level survivorship merge per near-dup cluster
    (dedup.golden_records): linkage pairs -> transitive clusters ->
    one golden row, each field from the highest-precedence member
    holding it non-NULL (longest text first, doc_id tiebreak)."""
    from schema_validata_spark.operators.dedup import golden_records
    docs = _t(spark, sf_dir, "documents")
    return (golden_records(docs, _ngram_pairs(spark, sf_dir), "doc_id",
                           [F.col("n_chars").desc_nulls_last(),
                            F.col("doc_id").asc()],
                           ["lang", "source", "n_chars"])
            .orderBy("cluster_id"))


def q_calibration_error(spark, sf_dir):
    """ECE/MCE roll-up of the reliability diagram
    (statqa.expected_calibration_error): the one-line calibration
    go/no-go over the value-vs-error-rate bins."""
    from schema_validata_spark.operators.statqa import \
        expected_calibration_error
    return expected_calibration_error(
        _t(spark, sf_dir, "events"), "value",
        F.col("event_type") == "error", lo=0.0, hi=500.0, n_bins=10)


def q_daily_percentiles(spark, sf_dir):
    """Per-day exact p50/p95/p99 of value
    (statqa.daily_value_percentiles): the tail-degradation trend view;
    one date-keyed aggregate."""
    from schema_validata_spark.operators.statqa import \
        daily_value_percentiles
    return (daily_value_percentiles(_t(spark, sf_dir, "events"), "ts",
                                    "value")
            .orderBy("day"))


def q_rolling_psi(spark, sf_dir):
    """Self-baselining drift monitor (drift.rolling_psi): per-day PSI
    of the trailing 7-day value distribution vs the 7 days before it,
    dense-grid zero-filled, Laplace-smoothed — flags WHEN the
    distribution moved without choosing a baseline snapshot."""
    from schema_validata_spark.operators.drift import rolling_psi
    return (rolling_psi(_t(spark, sf_dir, "events"), "ts", "value",
                        0.0, 500.0, n_buckets=10, window_days=7)
            .orderBy("day"))


def q_vocab_coverage(spark, sf_dir):
    """Vocabulary coverage curve (text.vocab_coverage): occurrence
    share covered by the top-k token types at k=10/25/1000 — the
    tokenizer-budget read-off; one vocab-sized window."""
    from schema_validata_spark.functions.text import vocab_coverage
    return (vocab_coverage(_t(spark, sf_dir, "documents"), "text",
                           ranks=(10, 25, 1000))
            .orderBy("rank_k"))


def q_quantile_normalize(spark, sf_dir):
    """Cross-source score calibration transform
    (selection.quantile_normalize): each doc's quality score mapped to
    the global distribution value at its within-source percentile —
    the fix for the bias quality_calibration measures."""
    from schema_validata_spark.operators.selection import \
        quantile_normalize
    docs = _t(spark, sf_dir, "documents")
    scored = docs.select("doc_id", "source",
                         quality_score("text").alias("q"))
    return (quantile_normalize(scored, "q", "source", "doc_id")
            .orderBy("id"))


def q_quantile_normalize_equidepth(spark, sf_dir):
    """quantile_normalize(method='equidepth') — the r5 at-scale swap
    (broadcast percentile_approx edge vector, NO global row_number
    sort). ORACLE CONTRACT (exact mode): with bins = N-1 and sketch
    accuracy >= 2N, every edge is an exact order statistic and the
    per-bin interpolation positions coincide with the exact method's
    rank positions, so the output EQUALS quantile_normalize exactly
    and the exact-SQL oracle applies verbatim; production calls use
    bins ~ 1000 with the accuracy priced by quantile_map_accuracy."""
    from schema_validata_spark.operators.selection import \
        quantile_normalize
    docs = _t(spark, sf_dir, "documents")
    scored = docs.select("doc_id", "source",
                         quality_score("text").alias("q"))
    n = scored.where("q IS NOT NULL AND source IS NOT NULL "
                     "AND doc_id IS NOT NULL").count()
    return (quantile_normalize(scored, "q", "source", "doc_id",
                               method="equidepth", bins=max(1, n - 1),
                               accuracy=max(10_000, 2 * n))
            .orderBy("id"))


def q_doc_keywords(spark, sf_dir):
    """Top-3 TF-IDF keywords per document (text.doc_keywords): the
    per-doc labeling pass next to distinctive_terms' per-slice one;
    wordcount-shaped aggregates + a WindowGroupLimit top-k."""
    from schema_validata_spark.functions.text import doc_keywords
    return (doc_keywords(_t(spark, sf_dir, "documents"), "text",
                         "doc_id", k=3)
            .orderBy("id", "rank"))


def q_jaccard_sweep(spark, sf_dir):
    """Near-dup threshold sweep (dedup.jaccard_threshold_sweep):
    surviving pair counts at each Jaccard cutoff over the exact
    all-pairs frame — the knob-picking table before committing a
    dedup threshold; one conditional-count aggregate."""
    from schema_validata_spark.operators.dedup import (
        jaccard_threshold_sweep, ngram_jaccard_pairs)
    pairs = ngram_jaccard_pairs(_t(spark, sf_dir, "documents"), "text",
                                "doc_id", threshold=0.0,
                                group_col="lang")
    return jaccard_threshold_sweep(pairs).orderBy("threshold")


def q_hash_uniformity(spark, sf_dir):
    """Sampler-fairness audit (sampling.hash_uniformity): chi-square
    of md5-prefix bucket counts vs uniform over all 256 buckets —
    guards every deterministic hash-cut sampler in the repo."""
    from schema_validata_spark.functions.sampling import hash_uniformity
    return hash_uniformity(_t(spark, sf_dir, "events"), "event_id",
                           prefix_len=2)


def q_quantile_map_accuracy(spark, sf_dir):
    """Sketch-accuracy audit (statqa.quantile_map_accuracy): exact
    percentiles vs the 8-bucket equi-depth-map estimates at
    p50/p90/p99 — validates (or prices) the documented at-scale
    swap of exact quantiles for the histogram quantile map."""
    from schema_validata_spark.operators.statqa import \
        quantile_map_accuracy
    return (quantile_map_accuracy(_t(spark, sf_dir, "events"), "value",
                                  bins=8, probes=(0.5, 0.9, 0.99))
            .orderBy("p"))


def q_dedup_impact(spark, sf_dir):
    """Dedup dry-run per source (dedup.dedup_impact): docs/tokens
    before vs after min-id exact dedup with duplicated shares — read
    BEFORE deduping, since dedup shifts the source mixture. Fixture
    seeds duplicates by re-adding every 9th doc under an offset id
    (the dup_share_by_source convention)."""
    from schema_validata_spark.operators.dedup import dedup_impact
    docs = _t(spark, sf_dir, "documents")
    dups = (docs.where(F.col("doc_id") % 9 == 0)
            .withColumn("doc_id", F.col("doc_id") + F.lit(1000000)))
    corpus = docs.unionByName(dups)
    return dedup_impact(corpus, "text", "doc_id", "source") \
        .orderBy("group")


def q_label_entropy(spark, sf_dir):
    """Per-user behavior-mix entropy (sequence.label_entropy_per_key):
    the scripted-bot screen — low-entropy keys in a diverse corpus;
    two-stage (key,label) aggregate."""
    from schema_validata_spark.operators.sequence import \
        label_entropy_per_key
    return (label_entropy_per_key(_t(spark, sf_dir, "events"),
                                  "user_id", "event_type")
            .orderBy("part"))


def q_lang_confusion(spark, sf_dir):
    """Declared-vs-detected language confusion matrix
    (text.lang_confusion): the metadata-label QA view — off-diagonal
    mass is mislabeled or code-switched data; one map-only detector
    projection + a |langs|^2 aggregate."""
    from schema_validata_spark.functions.text import lang_confusion
    return (lang_confusion(_t(spark, sf_dir, "documents"), "text",
                           "lang")
            .orderBy("declared", "detected"))


def q_pii_by_source(spark, sf_dir):
    """Per-source PII exposure (text.pii_by_group): the
    which-slice-to-quarantine table behind the corpus pii_summary;
    one wide scan-stage aggregate keyed by source, zeros kept."""
    from schema_validata_spark.functions.text import pii_by_group
    return (pii_by_group(_t(spark, sf_dir, "documents"), "text",
                         "source")
            .orderBy("group", "pii_type"))


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "profile_stats": q_profile_stats,
        "null_counts": q_null_counts,
        "composite_duplicates": q_composite_duplicates,
        "key_skew_stats": q_key_skew_stats,
        "duplicate_totals": q_duplicate_totals,
        "value_errors_range": q_value_errors_range,
        "value_errors_allowed": q_value_errors_allowed,
        "value_errors_regex": q_value_errors_regex,
        "value_errors_length": q_value_errors_length,
        "value_errors_nulls": q_value_errors_nulls,
        "referential_integrity": q_referential_integrity,
        "partition_verdicts": q_partition_verdicts,
        "validate_events": q_validate_events,
        "datetime_inference": q_datetime_inference,
        "na_discovery": q_na_discovery,
        "conditional_violations": q_conditional_violations,
        "expectation_checks": q_expectation_checks,
        "group_expectation_checks": q_group_expectation_checks,
        "freshness_daily": q_freshness_daily,
        "completeness_gaps": q_completeness_gaps,
        "iqr_outliers": q_iqr_outliers,
        "volume_anomalies": q_volume_anomalies,
        "stratified_sample": q_stratified_sample,
        "clean_text": q_clean_text,
        "quarantine": q_quarantine,
        "reconcile_keys": q_reconcile_keys,
        "dedup_exact": q_dedup_exact,
        "fingerprint_distinct": q_fingerprint_distinct,
        "token_counts": q_token_counts,
        "bpe_token_counts": q_bpe_token_counts,
        "lang_id_counts": q_lang_id_counts,
        "quality_scores": q_quality_scores,
        "length_percentiles": q_length_percentiles,
        "text_length_histogram": q_text_length_histogram,
        "drift_scores": q_drift_scores,
        "drift_scores_arrow": q_drift_scores_arrow,
        "ks_drift": q_ks_drift,
        "wasserstein_drift": q_wasserstein_drift,
        "jsd_drift": q_jsd_drift,
        "latest_per_key": q_latest_per_key,
        "pairwise_lift": q_pairwise_lift,
        "json_key_profile": q_json_key_profile,
        "key_locality": q_key_locality,
        "distinct_sketch_estimates": q_distinct_sketch_estimates,
        "quantile_sketch_merge": q_quantile_sketch_merge,
        "tool_arg_conformance": q_tool_arg_conformance,
        "benford_digits": q_benford_digits,
        "column_entropy": q_column_entropy,
        "schema_diff": q_schema_diff,
        "numeric_correlations": q_numeric_correlations,
        "value_masks": q_value_masks,
        "cramers_v": q_cramers_v,
        "null_patterns": q_null_patterns,
        "snapshot_diff": q_snapshot_diff,
        "snapshot_diff_summary": q_snapshot_diff_summary,
        "filter_funnel": q_filter_funnel,
        "turn_echo": q_turn_echo,
        "winsorized_stats": q_winsorized_stats,
        "equidepth_histogram": q_equidepth_histogram,
        "ngram_jaccard": q_ngram_jaccard,
        "near_dup_clusters": q_near_dup_clusters,
        "dedup_near": q_dedup_near,
        "near_dup_safe_split": q_near_dup_safe_split,
        "dedup_keep_best": q_dedup_keep_best,
        "per_group_sample": q_per_group_sample,
        "quality_topk_per_lang": q_quality_topk_per_lang,
        "deterministic_sample": q_deterministic_sample,
        "transcript_split": q_transcript_split,
        "pii_summary": q_pii_summary,
        "repetition_stats": q_repetition_stats,
        "consecutive_repeats": q_consecutive_repeats,
        "loop_runs": q_loop_runs,
        "conversation_outliers": q_conversation_outliers,
        "violation_budgets": q_violation_budgets,
        "partition_rate_verdicts": q_partition_rate_verdicts,
        "order_regressions": q_order_regressions,
        "topk_sample": q_topk_sample,
        "weighted_sample": q_weighted_sample,
        "turn_conformance": q_turn_conformance,
        "source_share_caps": q_source_share_caps,
        "top_tokens": q_top_tokens,
        "distinctive_terms": q_distinctive_terms,
        "length_gini": q_length_gini,
        "zipf_slope": q_zipf_slope,
        "turn_balance": q_turn_balance,
        "spearman_corr": q_spearman_corr,
        "lang_purity": q_lang_purity,
        "sketch_overlap": q_sketch_overlap,
        "summary_drift": q_summary_drift,
        "variance_explained": q_variance_explained,
        "k_anonymity": q_k_anonymity,
        "l_diversity": q_l_diversity,
        "terminal_turns": q_terminal_turns,
        "position_profile": q_position_profile,
        "uncertainty_coeff": q_uncertainty_coeff,
        "slice_similarity": q_slice_similarity,
        "relationship_audit": q_relationship_audit,
        "seasonal_volume": q_seasonal_volume,
        "gopher_rules": q_gopher_rules,
        "json_payload_stats": q_json_payload_stats,
        "json_payload_violations": q_json_payload_violations,
        "run_log_regressions": q_run_log_regressions,
        "tool_call_pairing": q_tool_call_pairing,
        "repair_cut_points": q_repair_cut_points,
        "minhash_near_duplicates": q_minhash_near_duplicates,
        "simhash_near_duplicates": q_simhash_near_duplicates,
        "fd_check": q_fd_check,
        "quality_percentiles": q_quality_percentiles,
        "mixture_sample": q_mixture_sample,
        "encoding_qa": q_encoding_qa,
        "markup_stats": q_markup_stats,
        "incremental_dedup": q_incremental_dedup,
        "line_dedup": q_line_dedup,
        "role_conformance": q_role_conformance,
        "sft_pairs": q_sft_pairs,
        "span_offsets": q_span_offsets,
        "assemble_conversations": q_assemble_conversations,
        "duplicate_conversations": q_duplicate_conversations,
        "conversation_forks": q_conversation_forks,
        "vocab_stats": q_vocab_stats,
        "incremental_near_dedup": q_incremental_near_dedup,
        "url_domains": q_url_domains,
        "fertility_stats": q_fertility,
        "turn_latency": q_turn_latency,
        "tool_transitions": q_tool_transitions,
        "tool_chain_ngrams": q_tool_chain_ngrams,
        "dup_share_by_source": q_dup_share_by_source,
        "ngram_diversity": q_ngram_diversity,
        "vocab_drift": q_vocab_drift,
        "derived_consistency": q_derived_consistency,
        "role_share": q_role_share,
        "unigram_scores": q_unigram_scores,
        "fd_violations": q_fd_violations,
        "candidate_keys": q_candidate_keys,
        "dup_cluster_sizes": q_dup_cluster_sizes,
        "quality_trend": q_quality_trend,
        "mask_stability": q_mask_stability,
        "fd_repair": q_fd_repair,
        "verdict_flips": q_verdict_flips,
        "whitespace_stats": q_whitespace_stats,
        "fuzzy_value_pairs": q_fuzzy_value_pairs,
        "cohens_kappa": q_cohens_kappa,
        "fleiss_kappa": q_fleiss_kappa,
        "simpsons_flips": q_simpsons_flips,
        "rate_significance": q_rate_significance,
        "volume_changepoint": q_volume_changepoint,
        "weighted_k_sample": q_weighted_k_sample,
        "null_rate_by_slice": q_null_rate_by_slice,
        "last_digit_uniformity": q_last_digit_uniformity,
        "mann_whitney": q_mann_whitney,
        "rater_confusion": q_rater_confusion,
        "volume_autocorrelation": q_volume_autocorrelation,
        "zipf_fit": q_zipf_fit,
        "wilson_rates": q_wilson_rates,
        "moment_stats": q_moment_stats,
        "completeness_trend": q_completeness_trend,
        "welch_t": q_welch_t,
        "mad_location": q_mad_location,
        "dup_trend": q_dup_trend,
        "concentration_stats": q_concentration_stats,
        "key_volume_outliers": q_key_volume_outliers,
        "join_size_estimate": q_join_size_estimate,
        "transition_latency": q_transition_latency,
        "turn_count_histogram": q_turn_count_histogram,
        "value_grid_stats": q_value_grid_stats,
        "heavy_hitters": q_heavy_hitters,
        "numeric_histogram2d": q_numeric_histogram2d,
        "json_flatten": q_json_flatten,
        "monotone_trend": q_monotone_trend,
        "value_novelty_trend": q_value_novelty_trend,
        "scd2_history": q_scd2_history,
        "crosstab_residuals": q_crosstab_residuals,
        "weighted_k_per_lang": q_weighted_k_per_lang,
        "script_mix_stats": q_script_mix_stats,
        "coercion_failures": q_coercion_failures,
        "partition_profiles": q_partition_profiles,
        "null_runs": q_null_runs,
        "pairwise_psi": q_pairwise_psi,
        "record_linkage": q_record_linkage,
        "sample_bias_check": q_sample_bias_check,
        "extrema_exemplars": q_extrema_exemplars,
        "hourly_profile": q_hourly_profile,
        "histogram_movers": q_histogram_movers,
        "readability": q_readability,
        "theil_sen": q_theil_sen,
        "ewma_volume": q_ewma_volume,
        "quality_calibration": q_quality_calibration,
        "sampling_table": q_sampling_table,
        "mixture_weights": q_mixture_weights,
        "reliability_bins": q_reliability_bins,
        "template_distance": q_template_distance,
        "rule_suggestions": q_rule_suggestions,
        "golden_records": q_golden_records,
        "calibration_error": q_calibration_error,
        "daily_percentiles": q_daily_percentiles,
        "rolling_psi": q_rolling_psi,
        "vocab_coverage": q_vocab_coverage,
        "quantile_normalize": q_quantile_normalize,
        "quantile_normalize_equidepth": q_quantile_normalize_equidepth,
        "doc_keywords": q_doc_keywords,
        "jaccard_sweep": q_jaccard_sweep,
        "hash_uniformity": q_hash_uniformity,
        "quantile_map_accuracy": q_quantile_map_accuracy,
        "dedup_impact": q_dedup_impact,
        "label_entropy": q_label_entropy,
        "lang_confusion": q_lang_confusion,
        "pii_by_source": q_pii_by_source,
    }


# ---------------------------------------------------------------------------
# oracle SQL (DuckDB dialect-compatible ANSI SQL)
# ---------------------------------------------------------------------------

def _profile_stats_sql() -> str:
    cols = [("c_custkey", "Integer"), ("c_name", "String"),
            ("c_nationkey", "Integer"), ("c_acctbal", "Float"),
            ("c_mktsegment", "String")]
    parts = []
    for c, dtype in cols:
        if dtype == "Integer":
            maxlen = f"max(length(cast(cast({c} as bigint) as varchar)))"
            rmin = f"round(min(cast({c} as double)), 4)"
            rmax = f"round(max(cast({c} as double)), 4)"
        elif dtype == "Float":
            maxlen = f"max(length(cast({c} as varchar)))"
            rmin = f"round(min(cast({c} as double)), 4)"
            rmax = f"round(max(cast({c} as double)), 4)"
        else:
            maxlen = f"max(length(cast({c} as varchar)))"
            rmin = "cast(NULL as double)"
            rmax = "cast(NULL as double)"
        parts.append(f"""
        SELECT '{c}' AS column_name, '{dtype}' AS data_type,
               (count(*) - count({c}))::bigint AS null_count,
               (SELECT coalesce(sum(n), 0)::bigint FROM
                 (SELECT count(*) AS n FROM customer WHERE {c} IS NOT NULL
                  GROUP BY {c} HAVING count(*) > 1) g) AS duplicate_count,
               {maxlen}::int AS max_length,
               {rmin} AS range_min, {rmax} AS range_max,
               CASE WHEN (SELECT coalesce(sum(n), 0) FROM
                 (SELECT count(*) AS n FROM customer WHERE {c} IS NOT NULL
                  GROUP BY {c} HAVING count(*) > 1) g2) = 0
                 THEN 'True' ELSE 'False' END AS unique_value
        FROM customer""")
    return " UNION ALL ".join(parts)


def _null_counts_sql() -> str:
    cols = ["event_id", "ts", "user_id", "event_type", "value", "props"]
    return " UNION ALL ".join(
        f"SELECT '{c}' AS column_name, "
        f"(count(*) - count({c}))::bigint AS null_count FROM events"
        for c in cols)


_NORM_TEXT = "lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))"
_TOKENS = "regexp_split_to_array(trim(lower(text)), '\\s+')"


def _lang_score(lang: str) -> str:
    arr = ", ".join(f"'{w}'" for w in LANG_MARKERS[lang])
    return f"len(list_intersect({_TOKENS}, [{arr}]))"


def _lang_case() -> str:
    langs = list(LANG_MARKERS)  # en, de, fr, es — earlier wins ties
    scores = {lg: _lang_score(lg) for lg in langs}
    best = "greatest(" + ", ".join(scores.values()) + ")"
    whens = " ".join(
        f"WHEN {scores[lg]} = __best AND __best > 0 THEN '{lg}'"
        for lg in langs)
    return f"""SELECT doc_id, (CASE {whens} ELSE 'und' END) AS lang_pred
               FROM (SELECT doc_id, text, {best} AS __best FROM documents)"""


# --- LSH near-dup family oracle generators (md5 mode, r4) ------------------
# These replay the ENTIRE banded-LSH pipelines in DuckDB — signatures,
# band/chunk buckets, the bucket-size cap, candidate self-join, and the
# exact verification — against the md5-mode Spark queries above. md5 is
# a primitive both engines compute byte-identically (same pattern as
# deterministic_sample); xxhash64 stays the scale default,
# pytest-covered.

def _mh_shingle_case(k: int, distinct: bool) -> str:
    """The Spark `shingles()` semantics in DuckDB: word k-grams over
    whitespace tokens; fewer than k tokens → ONE shingle of all tokens
    joined."""
    parts = ", ' ', ".join(f"w[i+{j}]" if j else "w[i]" for j in range(k))
    body = f"list_transform(range(1, len(w) - {k - 2}), i -> concat({parts}))"
    if distinct:
        body = f"list_distinct({body})"
    return (f"CASE WHEN len(w) < {k} THEN [array_to_string(w, ' ')] "
            f"ELSE {body} END")


def _mh_sig_cte(src: str, num_hashes: int, k: int) -> str:
    """CTE body: (doc_id, sig) md5-mode MinHash signatures of ``src``
    (which must expose doc_id, text) — min per seed of
    substr(md5('i:' || shingle), 1, 16) over distinct k-shingles."""
    mins = ",\n                 ".join(
        f"min(substr(md5(concat('{i}:', sg)), 1, 16))"
        for i in range(num_hashes))
    return f"""(
          SELECT doc_id, [{mins}] AS sig
          FROM (SELECT doc_id, unnest({_mh_shingle_case(k, True)}) AS sg
                FROM (SELECT doc_id,
                             regexp_split_to_array(lower(trim(text)),
                                                   '\\s+') AS w
                      FROM {src} WHERE text IS NOT NULL))
          GROUP BY doc_id)"""


def _mh_band_list(num_hashes: int, bands: int) -> str:
    """The md5-mode band-bucket expressions over a built sig array."""
    rpb = num_hashes // bands
    exprs = []
    for b in range(bands):
        els = ", ',', ".join(f"sig[{b * rpb + r + 1}]" for r in range(rpb))
        exprs.append(f"md5(concat('b{b}:', {els}))")
    return ",\n                 ".join(exprs)


def _minhash_near_dup_oracle() -> str:
    bands = _mh_band_list(32, 16)
    return f"""
        WITH shl AS (
          SELECT doc_id, {_mh_shingle_case(3, True)} AS s
          FROM (SELECT doc_id,
                       regexp_split_to_array(lower(trim(text)), '\\s+') AS w
                FROM documents WHERE text IS NOT NULL)),
        sig AS {_mh_sig_cte('documents', 32, 3)},
        bnd AS (
          SELECT doc_id, unnest([{bands}]) AS bucket
          FROM sig),
        cap AS (
          SELECT doc_id, bucket FROM (
            SELECT doc_id, bucket,
                   count(*) OVER (PARTITION BY bucket) AS bsz
            FROM bnd) WHERE bsz <= 2000),
        cand AS (
          SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
          FROM cap a JOIN cap b
            ON a.bucket = b.bucket AND a.doc_id < b.doc_id),
        ver AS (
          SELECT c.id_a, c.id_b,
                 round(cast(len(list_intersect(sa.s, sb.s)) as double)
                   / greatest(cast(len(list_distinct(
                                list_concat(sa.s, sb.s))) as double),
                              1.0), 6) AS jaccard
          FROM cand c JOIN shl sa ON sa.doc_id = c.id_a
                      JOIN shl sb ON sb.doc_id = c.id_b)
        SELECT id_a, id_b, jaccard FROM ver WHERE jaccard >= 0.12"""


def _simhash_near_dup_oracle() -> str:
    vparts = []
    for b in range(64):
        j, mask = b // 4 + 1, 1 << (b % 4)
        vparts.append(
            f"sum(CASE WHEN ((strpos('0123456789abcdef', "
            f"substr(h, {j}, 1)) - 1) & {mask}) != 0 "
            f"THEN 1 ELSE -1 END) AS v{b}")
    vsel = ",\n                 ".join(vparts)
    sig = "(CASE WHEN v0 > 0 THEN 1 ELSE 0 END)::bigint"
    for b in range(1, 64):
        m = (1 << b) if b < 63 else "(-9223372036854775807 - 1)"
        sig += (f"\n               + (CASE WHEN v{b} > 0 THEN 1 ELSE 0 END)"
                f"::bigint * {m}")
    chunk_list = ", ".join(
        f"{c} * 65536 + ((simhash >> {16 * c}) & 65535)" for c in range(4))
    return f"""
        WITH hx AS (
          SELECT doc_id, md5(sg) AS h
          FROM (SELECT doc_id, unnest({_mh_shingle_case(2, False)}) AS sg
                FROM (SELECT doc_id,
                             regexp_split_to_array(lower(trim(text)),
                                                   '\\s+') AS w
                      FROM documents WHERE text IS NOT NULL))),
        vs AS (
          SELECT doc_id,
                 {vsel}
          FROM hx GROUP BY doc_id),
        sig AS (
          SELECT doc_id,
                 {sig} AS simhash
          FROM vs),
        chk AS (
          SELECT doc_id, simhash, unnest([{chunk_list}]) AS ck
          FROM sig),
        cap AS (
          SELECT doc_id, simhash, ck FROM (
            SELECT doc_id, simhash, ck,
                   count(*) OVER (PARTITION BY ck) AS bsz
            FROM chk) WHERE bsz <= 2000),
        prs AS (
          SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
                 bit_count(xor(a.simhash, b.simhash)) AS hamming
          FROM cap a JOIN cap b ON a.ck = b.ck AND a.doc_id < b.doc_id)
        SELECT id_a, id_b, hamming FROM prs WHERE hamming <= 3"""


def _incremental_near_dedup_oracle() -> str:
    bands = _mh_band_list(32, 8)
    return f"""
        WITH prior AS (
          SELECT * FROM documents WHERE doc_id % 5 = 0),
        newb AS (
          SELECT doc_id, source, text FROM documents WHERE doc_id % 5 != 0
          UNION ALL
          SELECT doc_id + 2000001 AS doc_id, source,
                 text || ' retrieved' AS text
          FROM prior),
        nsig AS {_mh_sig_cte('newb', 32, 3)},
        psig AS {_mh_sig_cte('prior', 32, 3)},
        nb AS (
          SELECT doc_id AS new_id, unnest([{bands}]) AS bucket
          FROM nsig),
        pb0 AS (
          SELECT doc_id AS seen_id, unnest([{bands}]) AS bucket
          FROM psig),
        pb AS (
          SELECT seen_id, bucket FROM (
            SELECT seen_id, bucket,
                   count(*) OVER (PARTITION BY bucket) AS bsz
            FROM pb0) WHERE bsz <= 2000),
        cand AS (
          SELECT DISTINCT nb.new_id, pb.seen_id
          FROM nb JOIN pb USING (bucket)),
        est AS (
          SELECT c.new_id,
                 len(list_filter(range(1, 33),
                                 i -> ns.sig[i] = ps.sig[i]))::double AS m
          FROM cand c JOIN nsig ns ON ns.doc_id = c.new_id
                      JOIN psig ps ON ps.doc_id = c.seen_id),
        dup AS (SELECT DISTINCT new_id FROM est WHERE m / 32.0 >= 0.5)
        SELECT doc_id, source FROM newb
        WHERE doc_id NOT IN (SELECT new_id FROM dup)
        ORDER BY doc_id"""


def oracle_sql() -> dict[str, str]:
    stop = ", ".join(f"'{w}'" for w in STOPWORDS_EN)
    sql: dict[str, str] = {}

    sql["profile_stats"] = _profile_stats_sql()
    sql["null_counts"] = _null_counts_sql()

    sql["composite_duplicates"] = """
        SELECT user_id, event_type, count(*)::bigint AS dup_count
        FROM events GROUP BY user_id, event_type HAVING count(*) > 1"""

    sql["key_skew_stats"] = """
        WITH c AS (
          SELECT user_id, count(*)::bigint AS n_rows
          FROM events GROUP BY user_id),
        s AS (SELECT sum(n_rows) AS total, count(*) AS n_keys FROM c)
        SELECT user_id, n_rows,
               round(n_rows / total, 6) AS share,
               round(n_rows * n_keys / total, 4) AS skew_ratio
        FROM c, s
        ORDER BY n_rows DESC, user_id ASC
        LIMIT 15"""

    sql["duplicate_totals"] = """
        SELECT count(*)::bigint AS duplicate_keys,
               coalesce(sum(cnt), 0)::bigint AS duplicate_rows
        FROM (SELECT count(*) AS cnt FROM events
              GROUP BY user_id, event_type HAVING count(*) > 1) d"""

    sql["value_errors_range"] = f"""
        SELECT l_orderkey, l_linenumber,
               'Exceeds Maximum Allowed Value ({_QTY_MAX})' AS error_type,
               'l_quantity' AS column_name,
               CASE WHEN l_quantity = floor(l_quantity)
                    THEN cast(cast(l_quantity as bigint) as varchar)
                    ELSE cast(l_quantity as varchar) END AS error_value,
               cast(NULL as varchar) AS lookup_column,
               cast(NULL as varchar) AS lookup_value
        FROM lineitem WHERE l_quantity > {_QTY_MAX}"""

    allowed = ", ".join(f"'{v}'" for v in _PRIO_ALLOWED)
    sql["value_errors_allowed"] = f"""
        SELECT o_orderkey, 'Unallowed Value' AS error_type,
               'o_orderpriority' AS column_name,
               o_orderpriority AS error_value,
               cast(NULL as varchar) AS lookup_column,
               cast(NULL as varchar) AS lookup_value
        FROM orders
        WHERE o_orderpriority IS NOT NULL
          AND trim(o_orderpriority) NOT IN ({allowed})"""

    sql["value_errors_regex"] = f"""
        SELECT doc_id, 'Invalid Value Formatting' AS error_type,
               'lang' AS column_name, lang AS error_value,
               cast(NULL as varchar) AS lookup_column,
               cast(NULL as varchar) AS lookup_value
        FROM documents
        WHERE lang IS NOT NULL AND NOT regexp_matches(lang, '{_LANG_RE}')"""

    sql["value_errors_length"] = f"""
        SELECT doc_id,
               'Value Exceeds Max Length ({_DOC_LEN_MAX})' AS error_type,
               'text' AS column_name,
               length(text)::bigint AS error_length
        FROM documents
        WHERE text IS NOT NULL AND length(text) > {_DOC_LEN_MAX}"""

    sql["value_errors_nulls"] = """
        SELECT event_id, 'Null Value' AS error_type,
               'props' AS column_name
        FROM events
        WHERE props IS NULL OR trim(props) = ''
           OR trim(props) IN ('#N/A', '#N/A N/A', '#NA', '-1.#IND',
                              '-1.#QNAN', '-NaN', '-nan', '1.#IND',
                              '1.#QNAN', '<NA>', 'N/A', 'NA', 'NULL', 'NaN',
                              'n/a', 'nan', 'null', 'Null', 'None')
           OR regexp_matches(props,
                '(?i)^\\s*NOT\\s{0,1}(?:\\s|_|-|/|\\\\|/){1}\\s{0,1}AVAILABLE\\s*$')
           OR regexp_matches(props,
                '(?i)^\\s*N\\s{0,1}(?:\\s|_|-|/|\\\\|/){1}\\s{0,1}A\\s*$')
           OR regexp_matches(props, '(?i)^\\s*(?:\\s|_|-|/|\\\\|/){1}\\s*$')
           OR regexp_matches(props, '^\\s+$')"""

    sql["referential_integrity"] = """
        SELECT user_id, count(*)::bigint AS n_orphan_events
        FROM events
        WHERE user_id IS NOT NULL
          AND user_id NOT IN (SELECT c_custkey FROM customer
                              WHERE c_custkey % 97 != 0)
        GROUP BY user_id"""

    sql["partition_verdicts"] = f"""
        WITH checks AS (
          SELECT l_returnflag AS partition_key,
                 count(*) FILTER (WHERE l_quantity > {_QTY_MAX})
                   AS c_qty,
                 count(*) FILTER (WHERE l_discount > 0.05) AS c_disc,
                 count(*) FILTER (WHERE l_tax < 0.02) AS c_tax
          FROM lineitem GROUP BY l_returnflag)
        SELECT partition_key, 'l_quantity' AS column_name,
               'range_max' AS "check", c_qty::bigint AS violation_count,
               CASE WHEN c_qty > 0 THEN 'fail' ELSE 'pass' END AS status
        FROM checks
        UNION ALL
        SELECT partition_key, 'l_discount', 'range_max', c_disc::bigint,
               CASE WHEN c_disc > 0 THEN 'fail' ELSE 'pass' END
        FROM checks
        UNION ALL
        SELECT partition_key, 'l_tax', 'range_min', c_tax::bigint,
               CASE WHEN c_tax > 0 THEN 'fail' ELSE 'pass' END
        FROM checks"""

    sql["partition_rate_verdicts"] = f"""
        WITH checks AS (
          SELECT l_returnflag AS partition_key,
                 count(*)::bigint AS n_rows,
                 count(*) FILTER (WHERE l_quantity > {_QTY_MAX})::bigint
                   AS c_qty,
                 count(*) FILTER (WHERE l_discount > 0.05)::bigint
                   AS c_disc,
                 count(*) FILTER (WHERE l_tax < 0.02)::bigint AS c_tax
          FROM lineitem GROUP BY l_returnflag),
        u AS (
          SELECT partition_key, 'l_quantity' AS column_name,
                 'range_max' AS "check", c_qty AS violation_count,
                 n_rows, 0.5::double AS budget FROM checks
          UNION ALL
          SELECT partition_key, 'l_discount', 'range_max', c_disc,
                 n_rows, 0.0001::double FROM checks
          UNION ALL
          SELECT partition_key, 'l_tax', 'range_min', c_tax,
                 n_rows, 0.30::double FROM checks)
        SELECT partition_key, column_name, "check", violation_count,
               n_rows,
               round(violation_count::double / n_rows, 6) AS rate,
               budget,
               CASE WHEN violation_count::double / n_rows <= budget
                    THEN 'pass' ELSE 'fail' END AS status
        FROM u"""

    sql["validate_events"] = """
        SELECT 'event_type' AS column_name, 'Unallowed Value' AS error_type,
               count(*)::bigint AS n_violations
        FROM events
        WHERE event_type IS NOT NULL
          AND trim(event_type) NOT IN ('click', 'view', 'purchase', 'signup')
        HAVING count(*) > 0
        UNION ALL
        SELECT 'value', 'Exceeds Maximum Allowed Value (400)',
               count(*)::bigint
        FROM events WHERE value > 400.0
        HAVING count(*) > 0"""

    sql["violation_budgets"] = """
        -- replay the two observed events checks (the only combos the
        -- engine emits on this fixture — proven by validate_events'
        -- exact row match), full-outer the budget list so clean listed
        -- checks zero-fill, then gate rate <= budget
        WITH total AS (SELECT count(*)::bigint AS n_rows FROM events),
        counts AS (
          SELECT 'event_type' AS column_name,
                 'Unallowed Value' AS error_type,
                 count(*)::bigint AS n FROM events
          WHERE event_type IS NOT NULL
            AND trim(event_type) NOT IN
                ('click', 'view', 'purchase', 'signup')
          UNION ALL
          SELECT 'value', 'Exceeds Maximum Allowed Value (400)',
                 count(*)::bigint
          FROM events WHERE value > 400.0),
        b(column_name, error_type, budget) AS (
          -- DOUBLE casts: bare VALUES would infer DECIMAL and render
          -- budgets as '0.050' vs Spark's double '0.05'
          SELECT * FROM (VALUES
            ('event_type', 'Unallowed Value', 0.05::double),
            ('value', 'Exceeds Maximum Allowed Value (400)',
             0.001::double),
            ('event_id', 'Null Value', 0.0::double)) v),
        m AS (
          SELECT coalesce(c.column_name, b.column_name) AS column_name,
                 coalesce(c.error_type, b.error_type) AS error_type,
                 coalesce(c.n, 0)::bigint AS n_violations,
                 coalesce(b.budget, 0.0) AS budget
          FROM counts c FULL OUTER JOIN b
            ON c.column_name = b.column_name
           AND c.error_type = b.error_type)
        SELECT column_name, error_type, n_violations, t.n_rows,
               round(n_violations::double / t.n_rows, 6) AS rate, budget,
               n_violations::double / t.n_rows <= budget AS passed
        FROM m, total t"""

    sql["datetime_inference"] = """
        WITH r AS (
          SELECT o_orderkey % 5 AS fmt_id,
                 CASE o_orderkey % 5
                   WHEN 0 THEN strftime(o_orderdate, '%m/%d/%Y')
                   WHEN 1 THEN strftime(o_orderdate, '%Y-%m-%d')
                   WHEN 2 THEN strftime(o_orderdate, '%b-%d-%Y')
                   WHEN 3 THEN strftime(o_orderdate, '%B %d, %Y')
                   ELSE strftime(o_orderdate, '%d-%m-%Y') END AS s
          FROM orders),
        p AS (
          SELECT fmt_id,
                 CASE fmt_id
                   WHEN 0 THEN try_strptime(s, '%m/%d/%Y')
                   WHEN 1 THEN try_strptime(s, '%Y-%m-%d')
                   WHEN 2 THEN try_strptime(s, '%b-%d-%Y')
                   WHEN 3 THEN try_strptime(s, '%B %d, %Y')
                   ELSE try_strptime(s, '%d-%m-%Y') END AS d
          FROM r)
        SELECT fmt_id::bigint AS fmt_id, count(d)::bigint AS n_parsed,
               strftime(min(d), '%Y-%m-%d') AS min_d,
               strftime(max(d), '%Y-%m-%d') AS max_d
        FROM p GROUP BY fmt_id"""

    sql["na_discovery"] = """
        WITH s AS (
          SELECT CASE c_custkey % 7
                   WHEN 0 THEN 'N/A'
                   WHEN 1 THEN ' - '
                   WHEN 2 THEN 'not available'
                   WHEN 3 THEN '  '
                   ELSE c_mktsegment END AS v
          FROM customer)
        SELECT DISTINCT 'status' AS column_name, v AS na_value
        FROM s
        WHERE v IS NOT NULL
          AND v NOT IN ('', ' ', '#N/A', '#N/A N/A', '#NA', '-1.#IND',
                        '-1.#QNAN', '-NaN', '-nan', '1.#IND', '1.#QNAN',
                        '<NA>', 'N/A', 'NA', 'NULL', 'NaN', 'n/a', 'nan',
                        'null', 'Null', 'None')
          AND (trim(v) = ''
               OR regexp_matches(v,
                 '(?i)^\\s*NOT\\s{0,1}(?:\\s|_|-|/|\\\\|/){1}\\s{0,1}AVAILABLE\\s*$')
               OR regexp_matches(v,
                 '(?i)^\\s*N\\s{0,1}(?:\\s|_|-|/|\\\\|/){1}\\s{0,1}A\\s*$')
               OR regexp_matches(v, '(?i)^\\s*(?:\\s|_|-|/|\\\\|/){1}\\s*$')
               OR regexp_matches(v, '^\\s+$'))"""

    sql["dedup_exact"] = f"""
        SELECT doc_id FROM (
          SELECT doc_id, row_number() OVER
                 (PARTITION BY {_NORM_TEXT} ORDER BY doc_id) AS rn
          FROM documents) t
        WHERE rn = 1"""

    sql["fingerprint_distinct"] = f"""
        SELECT count(*)::bigint AS n_docs,
               count(DISTINCT {_NORM_TEXT})::bigint
                 AS n_distinct_fingerprints
        FROM documents"""

    sql["token_counts"] = f"""
        SELECT doc_id,
               (CASE WHEN length(trim(text)) = 0 THEN 0
                     ELSE len(regexp_split_to_array(trim(text), '\\s+'))
                END)::bigint AS n_tokens
        FROM documents"""

    sql["bpe_token_counts"] = r"""
        SELECT doc_id,
               len(regexp_extract_all(text,
                   '[A-Za-z]{1,4}|\d|[^\sA-Za-z\d]'))::bigint
                 AS n_bpe_tokens
        FROM documents"""

    sql["lang_id_counts"] = (
        f"SELECT lang_pred, count(*)::bigint AS n_docs FROM ({_lang_case()}) "
        f"GROUP BY lang_pred")

    sql["quality_scores"] = f"""
        WITH m AS (
          SELECT doc_id, text,
                 cast(length(text) as double) AS n_chars,
                 cast(CASE WHEN length(trim(text)) = 0 THEN 0
                      ELSE len(regexp_split_to_array(trim(text), '\\s+'))
                      END as double) AS n_tokens,
                 cast(length(text) - length(regexp_replace(text,
                      '[^\\w\\s]', '', 'g')) as double) AS n_punct,
                 cast(len(list_intersect(
                      regexp_split_to_array(lower(trim(text)), '\\s+'),
                      [{stop}])) as double) AS n_stop
          FROM documents)
        SELECT doc_id,
               CASE WHEN text IS NULL OR length(trim(text)) = 0 THEN 0.0
               ELSE round((least(n_chars / 500.0, 1.0)
                 + (1.0 - least(n_punct / greatest(n_chars, 1.0) * 5.0, 1.0))
                 + least(n_stop / greatest(n_tokens, 1.0) * 10.0, 1.0))
                 / 3.0, 6) END AS q
        FROM m"""

    # width_bucket(x, lo, hi, n): 0 below lo, n+1 at/above hi, else
    # floor((x-lo)/((hi-lo)/n)) + 1 — mirrored manually for DuckDB
    sql["text_length_histogram"] = """
        SELECT lang AS partition_key, 'text_length' AS column_name,
               cast(cast(CASE WHEN length(text) < 0 THEN 0
                         WHEN length(text) >= 2000 THEN 21
                         ELSE floor(length(text) / 100.0) + 1
                    END as int) as varchar) AS bucket,
               count(*)::bigint AS count
        FROM documents WHERE text IS NOT NULL
        GROUP BY lang, bucket"""

    # Mirrors drift_scores' join semantics exactly: per-partition buckets
    # joined to the global baseline bucket counts (buckets a partition
    # never observed contribute no term, and n_base sums only the buckets
    # present in that partition — same as the Spark full-outer join, where
    # every baseline bucket matches at least one partition row).
    _drift_sql = """
        WITH obs AS (
          SELECT event_type AS partition_key,
                 CASE WHEN value < 0 THEN 0
                      WHEN value >= 500 THEN 21
                      ELSE floor(value / 25.0) + 1 END AS bucket,
                 count(*) AS o
          FROM events WHERE value IS NOT NULL
          GROUP BY 1, 2),
        base AS (SELECT bucket, sum(o) AS b FROM obs GROUP BY bucket),
        j AS (SELECT o.partition_key, o.bucket, o.o, b.b
              FROM obs o JOIN base b USING (bucket)),
        tot AS (SELECT partition_key, sum(o) AS t_o, sum(b) AS t_b
                FROM j GROUP BY partition_key),
        terms AS (
          SELECT j.partition_key,
                 j.o / greatest(t.t_o, 1) AS po,
                 j.b / greatest(t.t_b, 1) AS pb,
                 (j.b / greatest(t.t_b, 1)) * t.t_o AS e,
                 j.o, t.t_o, t.t_b
          FROM j JOIN tot t USING (partition_key))
        SELECT partition_key, 'value' AS column_name,
               round(sum(CASE WHEN e > 0 THEN (o - e) * (o - e) / e
                              ELSE 0 END), 4) AS chi2,
               round(sum((po - pb) * ln((po + 1e-6) / (pb + 1e-6))), 6)
                 AS psi,
               max(t_o)::bigint AS n_obs, max(t_b)::bigint AS n_base
        FROM terms GROUP BY partition_key"""
    sql["drift_scores"] = _drift_sql
    sql["drift_scores_arrow"] = _drift_sql

    # Struct-max ordering replay: ts DESC with NULLs losing (struct
    # comparison sorts NULL fields first, so max prefers non-NULL),
    # then greatest event_id on ties.
    sql["latest_per_key"] = """
        SELECT user_id, ts, event_id, event_type, value, props
        FROM events
        QUALIFY row_number() OVER (
            PARTITION BY user_id
            ORDER BY ts DESC NULLS LAST, event_id DESC) = 1"""

    sql["pairwise_lift"] = """
        WITH pres AS (
          SELECT DISTINCT user_id AS g, event_type AS v
          FROM events
          WHERE user_id IS NOT NULL AND event_type IS NOT NULL),
        n AS (SELECT count(DISTINCT g) AS ng FROM pres),
        s AS (SELECT v, count(*) AS c FROM pres GROUP BY v),
        p AS (SELECT a.v AS va, b.v AS vb, count(*) AS nab
              FROM pres a JOIN pres b ON a.g = b.g AND a.v < b.v
              GROUP BY 1, 2)
        SELECT p.va AS value_a, p.vb AS value_b,
               sa.c::bigint AS n_a, sb.c::bigint AS n_b,
               p.nab::bigint AS n_ab, n.ng::bigint AS n_groups,
               round(p.nab / n.ng::double, 6) AS support,
               round(p.nab * n.ng / (sa.c::double * sb.c), 6) AS lift,
               round(log2(p.nab * n.ng / (sa.c::double * sb.c)), 6)
                 AS pmi
        FROM p, n
        JOIN s sa ON sa.v = p.va
        JOIN s sb ON sb.v = p.vb
        WHERE p.nab >= 1"""

    # JSD with the same restricted-baseline join semantics as
    # drift_scores: baseline mass is summed over buckets present in the
    # partition (base is built from obs, so every obs bucket has a base
    # row and the Spark full-outer join degenerates to this inner join).
    sql["jsd_drift"] = """
        WITH obs AS (
          SELECT event_type AS partition_key,
                 CASE WHEN value < 0 THEN 0
                      WHEN value >= 500 THEN 21
                      ELSE floor(value / 25.0) + 1 END AS bucket,
                 count(*) AS o
          FROM events WHERE value IS NOT NULL
          GROUP BY 1, 2),
        base AS (SELECT bucket, sum(o) AS b FROM obs GROUP BY bucket),
        j AS (SELECT o.partition_key, o.bucket, o.o, b.b
              FROM obs o JOIN base b USING (bucket)),
        tot AS (SELECT partition_key, sum(o) AS t_o, sum(b) AS t_b
                FROM j GROUP BY partition_key),
        terms AS (
          SELECT j.partition_key,
                 j.o / t.t_o::double AS p,
                 j.b / t.t_b::double AS q,
                 t.t_o, t.t_b
          FROM j JOIN tot t USING (partition_key))
        SELECT partition_key, 'value' AS column_name,
               round(sum(CASE WHEN p > 0 THEN p / 2.0 * log2(p / ((p + q) / 2.0))
                              ELSE 0 END
                       + CASE WHEN q > 0 THEN q / 2.0 * log2(q / ((p + q) / 2.0))
                              ELSE 0 END), 6) AS jsd,
               max(t_o)::bigint AS n_obs, max(t_b)::bigint AS n_base
        FROM terms GROUP BY partition_key"""

    _ks_les = ",\n               ".join(
        f"sum(CASE WHEN value <= {e} THEN 1 ELSE 0 END)::bigint AS le_{i}"
        for i, e in enumerate(_KS_EDGES))
    _ks_diffs = ", ".join(
        f"abs(c.le_{i} / c.n_rows::double - b.le_{i} / b.n_rows::double)"
        for i in range(len(_KS_EDGES)))
    sql["ks_drift"] = f"""
        WITH c AS (
          SELECT strftime(ts, '%Y-%m-%d') AS partition_key,
               count(*)::bigint AS n_rows,
               {_ks_les}
          FROM events WHERE value IS NOT NULL GROUP BY 1),
        b AS (SELECT * FROM c WHERE partition_key = '2024-01-01')
        SELECT c.partition_key, c.n_rows,
               round(greatest({_ks_diffs}), 6) AS ks_stat
        FROM c, b ORDER BY c.partition_key"""

    _w1_terms = "\n               + ".join(
        f"abs(c.le_{i} / c.n_rows::double - b.le_{i} / b.n_rows::double)"
        f" * {_KS_EDGES[i + 1] - _KS_EDGES[i]}"
        for i in range(len(_KS_EDGES) - 1))
    sql["wasserstein_drift"] = f"""
        WITH c AS (
          SELECT strftime(ts, '%Y-%m-%d') AS partition_key,
               count(*)::bigint AS n_rows,
               {_ks_les}
          FROM events WHERE value IS NOT NULL GROUP BY 1),
        b AS (SELECT * FROM c WHERE partition_key = '2024-01-01')
        SELECT c.partition_key, c.n_rows,
               round({_w1_terms}, 6) AS w1
        FROM c, b ORDER BY c.partition_key"""

    sql["json_key_profile"] = """
        -- object-only universe: scalars/arrays/malformed/NULL excluded
        -- from numerator AND denominator, matching Spark's
        -- json_object_keys NULL-for-non-object contract; json_valid
        -- guards json_type, which RAISES on malformed input
        WITH o AS (
          SELECT CASE WHEN json_valid(props)
                       AND json_type(props::JSON) = 'OBJECT'
                      THEN json_keys(props) END AS ks
          FROM events),
        obj AS (SELECT ks FROM o WHERE ks IS NOT NULL),
        t AS (SELECT count(*)::double AS n_obj FROM obj),
        e AS (SELECT unnest(ks) AS key FROM obj),
        g AS (SELECT key, count(*)::bigint AS n_rows FROM e GROUP BY 1)
        SELECT key, n_rows, round(n_rows / t.n_obj, 6) AS share
        FROM g, t ORDER BY n_rows DESC, key"""

    sql["tool_arg_conformance"] = """
        -- per-tool contracts: click requires k; purchase requires
        -- k AND amount (absent in fixture payloads -> all missing);
        -- other tools are uncontracted (NULL contract columns).
        -- json_valid guards extraction, which RAISES on malformed
        WITH f AS (
          SELECT event_type AS tool,
                 CASE WHEN props IS NOT NULL AND NOT json_valid(props)
                      THEN 1 ELSE 0 END AS pf,
                 CASE event_type
                   WHEN 'click' THEN
                     CASE WHEN (props IS NULL OR json_valid(props))
                           AND (CASE WHEN props IS NOT NULL
                                      AND json_valid(props)
                                 THEN json_extract_string(props, '$.k')
                                 END IS NULL)
                          THEN 1 ELSE 0 END
                   WHEN 'purchase' THEN
                     CASE WHEN (props IS NULL OR json_valid(props))
                           AND ((CASE WHEN props IS NOT NULL
                                       AND json_valid(props)
                                  THEN json_extract_string(props, '$.k')
                                  END IS NULL)
                             OR (CASE WHEN props IS NOT NULL
                                       AND json_valid(props)
                                  THEN json_extract_string(props,
                                                           '$.amount')
                                  END IS NULL))
                          THEN 1 ELSE 0 END
                   ELSE NULL END AS miss
          FROM events)
        SELECT tool, count(*)::bigint AS n_calls,
               CASE WHEN tool IN ('click', 'purchase')
                    THEN sum(pf) END::bigint AS n_parse_fail,
               sum(miss)::bigint AS n_missing,
               round(sum(miss) / count(*)::double, 6) AS missing_share
        FROM f GROUP BY tool ORDER BY tool"""

    sql["distinct_sketch_estimates"] = """
        -- exact replay is legitimate: both columns are in the HLL
        -- coupon (exact) regime at gate cardinalities (<= 150
        -- distinct; lg_k=12 sketches are exact through ~384)
        SELECT column_name, n_distinct_est, n_rows FROM (
          SELECT 'event_type' AS column_name,
                 count(DISTINCT event_type)::bigint AS n_distinct_est,
                 count(*)::bigint AS n_rows
          FROM events
          UNION ALL
          SELECT 'user_id',
                 count(DISTINCT user_id)::bigint,
                 count(*)::bigint
          FROM events)
        ORDER BY column_name"""

    _qfracs = ", ".join(f"{(i + 0.5) / 32!r}" for i in range(32))
    sql["quantile_sketch_merge"] = f"""
        -- independent replay of the mergeable-quantile-summary
        -- algorithm (operators/sketches.py): per-day exact order
        -- statistics at (i+0.5)/32 pinned to 6dp, each carrying
        -- weight n_day/32, merged by cumulative-weight pick
        WITH summ AS (
          SELECT strftime(ts, '%Y-%m-%d') AS pk,
                 count(value)::bigint AS n_vals,
                 quantile_cont(value, [{_qfracs}]) AS qs
          FROM events GROUP BY 1 HAVING count(value) > 0),
        expl AS (
          SELECT round(u.q, 6) AS value,
                 n_vals::double / len(qs) AS w
          FROM summ, unnest(qs) AS u(q)),
        cum AS (
          SELECT value,
                 sum(w) OVER (ORDER BY value
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND CURRENT ROW) AS cumw,
                 sum(w) OVER () AS total
          FROM expl)
        SELECT 'value' AS column_name,
               min(CASE WHEN cumw >= 0.25 * total - 1e-9
                        THEN value END) AS q_25,
               min(CASE WHEN cumw >= 0.50 * total - 1e-9
                        THEN value END) AS q_50,
               min(CASE WHEN cumw >= 0.75 * total - 1e-9
                        THEN value END) AS q_75,
               min(CASE WHEN cumw >= 0.95 * total - 1e-9
                        THEN value END) AS q_95
        FROM cum"""

    sql["summary_drift"] = f"""
        -- replay of summary_drift (operators/sketches.py): per-day
        -- k=32 summaries of each event half, cumulative-weight probe
        -- picks at 8 fractions, mean/max |gap|
        WITH fr AS (SELECT * FROM (VALUES (0, 0.0625), (1, 0.1875), (2, 0.3125), (3, 0.4375), (4, 0.5625), (5, 0.6875), (6, 0.8125), (7, 0.9375)) AS t(fidx, f)),
        summa AS (
          SELECT strftime(ts, '%Y-%m-%d') AS pk,
                 count(value)::bigint AS n_vals,
                 quantile_cont(value, [{_qfracs}]) AS qs
          FROM events WHERE event_id % 2 = 0
          GROUP BY 1 HAVING count(value) > 0),
        summb AS (
          SELECT strftime(ts, '%Y-%m-%d') AS pk,
                 count(value)::bigint AS n_vals,
                 quantile_cont(value, [{_qfracs}]) AS qs
          FROM events WHERE event_id % 2 = 1
          GROUP BY 1 HAVING count(value) > 0),
        expla AS (
          SELECT round(u.q, 6) AS value, n_vals::double / len(qs) AS w
          FROM summa, unnest(qs) AS u(q)),
        explb AS (
          SELECT round(u.q, 6) AS value, n_vals::double / len(qs) AS w
          FROM summb, unnest(qs) AS u(q)),
        cuma AS (
          SELECT value,
                 sum(w) OVER (ORDER BY value
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND CURRENT ROW) AS cumw,
                 sum(w) OVER () AS total
          FROM expla),
        cumb AS (
          SELECT value,
                 sum(w) OVER (ORDER BY value
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND CURRENT ROW) AS cumw,
                 sum(w) OVER () AS total
          FROM explb),
        qa AS (
          SELECT fidx, min(CASE WHEN cumw >= f * total - 1e-9
                                THEN value END) AS q
          FROM cuma, fr GROUP BY fidx, f),
        qb AS (
          SELECT fidx, min(CASE WHEN cumw >= f * total - 1e-9
                                THEN value END) AS q
          FROM cumb, fr GROUP BY fidx, f)
        SELECT 'value' AS column_name,
               (SELECT sum(n_vals) FROM summa)::bigint AS n_a,
               (SELECT sum(n_vals) FROM summb)::bigint AS n_b,
               round(avg(abs(qa.q - qb.q)), 6) AS w1_est,
               round(max(abs(qa.q - qb.q)), 6) AS max_q_gap
        FROM qa JOIN qb USING (fidx)"""

    sql["variance_explained"] = """
        WITH per AS (
          SELECT event_type AS g, count(*)::double AS n,
                 sum(value) AS s, sum(value * value) AS ss
          FROM events WHERE value IS NOT NULL GROUP BY event_type),
        tot AS (
          SELECT sum(n) AS nn, sum(s) AS stot, sum(ss) AS sstot,
                 sum(s * s / n) AS sb,
                 count(*)::bigint AS n_groups
          FROM per),
        c AS (
          SELECT nn, n_groups,
                 sstot - stot * stot / nn AS sst,
                 sb - stot * stot / nn AS ssb
          FROM tot)
        SELECT nn::bigint AS n, n_groups,
               round(sst, 2) AS ss_total,
               round(ssb, 2) AS ss_between,
               CASE WHEN sst > 0 THEN round(ssb / sst, 6) END AS eta_sq,
               CASE WHEN n_groups > 1 AND nn > n_groups
                         AND (sst - ssb) > 0 THEN
                 round((ssb / (n_groups - 1))
                       / ((sst - ssb) / (nn - n_groups)), 6)
               END AS f_stat
        FROM c"""

    sql["k_anonymity"] = """
        WITH classes AS (
          SELECT source, lang, count(*)::bigint AS n
          FROM documents GROUP BY source, lang)
        SELECT coalesce(sum(n), 0)::bigint AS n_rows,
               count(*)::bigint AS n_classes,
               min(n)::bigint AS min_class_size,
               count(CASE WHEN n < 20 THEN 1 END)::bigint
                 AS n_violating_classes,
               coalesce(sum(CASE WHEN n < 20 THEN n ELSE 0 END), 0)::bigint
                 AS n_violating_rows,
               CASE WHEN sum(n) > 0 THEN
                 round(sum(CASE WHEN n < 20 THEN n ELSE 0 END)::double
                       / sum(n), 6) END AS violating_row_share,
               20::bigint AS k
        FROM classes"""

    sql["l_diversity"] = """
        WITH pairs AS (
          SELECT event_type, strftime(ts, '%Y-%m-%d') AS day, user_id,
                 count(*)::bigint AS n
          FROM events GROUP BY event_type, day, user_id),
        classes AS (
          SELECT event_type, day, sum(n)::bigint AS rows_,
                 count(CASE WHEN user_id IS NOT NULL THEN 1 END)::bigint
                   AS div
          FROM pairs GROUP BY event_type, day)
        SELECT count(*)::bigint AS n_classes,
               count(CASE WHEN div < 3 THEN 1 END)::bigint
                 AS n_violating_classes,
               coalesce(sum(CASE WHEN div < 3 THEN rows_ ELSE 0 END),
                        0)::bigint AS n_violating_rows,
               CASE WHEN sum(rows_) > 0 THEN
                 round(sum(CASE WHEN div < 3 THEN rows_ ELSE 0 END)::double
                       / sum(rows_), 6) END AS violating_row_share,
               min(div)::bigint AS min_diversity,
               3::bigint AS l
        FROM classes"""

    sql["terminal_turns"] = """
        WITH r AS (
          SELECT user_id, ts,
                 CASE WHEN event_id % 97 = 0 THEN NULL
                      WHEN event_type = 'signup' THEN 'system'
                      WHEN event_type IN ('click', 'view') THEN 'user'
                      ELSE 'assistant' END AS role
          FROM events),
        l AS (
          SELECT user_id, ts, role,
                 row_number() OVER (PARTITION BY user_id
                                    ORDER BY ts DESC) AS rn,
                 count(*) OVER (PARTITION BY user_id) AS n_turns
          FROM r)
        SELECT user_id, n_turns::bigint AS n_turns,
               role AS last_role, ts AS last_ts
        FROM l
        WHERE rn = 1 AND (role IS NULL OR role <> 'assistant')"""

    sql["position_profile"] = """
        WITH r AS (
          SELECT user_id, ts,
                 CASE WHEN event_id % 89 != 0 THEN props END AS text
          FROM events),
        p AS (
          SELECT least(row_number() OVER (PARTITION BY user_id
                                          ORDER BY ts), 10) AS position,
                 length(text) AS c,
                 CASE WHEN text IS NULL OR length(trim(text)) = 0
                      THEN 1 ELSE 0 END AS e
          FROM r)
        SELECT position::int AS position, count(*)::bigint AS n_turns,
               sum(e)::bigint AS n_empty,
               round(avg(c), 6) AS mean_chars,
               max(c)::bigint AS max_chars,
               (position = 10)::int AS position_capped
        FROM p GROUP BY position ORDER BY position"""

    sql["uncertainty_coeff"] = """
        WITH joint AS (
          SELECT coalesce(source, '__null__') AS x,
                 coalesce(lang, '__null__') AS y,
                 count(*)::double AS c
          FROM documents GROUP BY 1, 2),
        mx AS (SELECT x, sum(c) AS cx FROM joint GROUP BY x),
        my AS (SELECT y, sum(c) AS cy FROM joint GROUP BY y),
        tot AS (SELECT sum(c) AS n FROM joint),
        j AS (
          SELECT joint.c, mx.cx, my.cy, tot.n
          FROM joint JOIN mx USING (x) JOIN my USING (y) CROSS JOIN tot),
        e AS (
          SELECT max(n) AS nn,
                 -sum((c / n) * log2(cx / n)) AS hx,
                 -sum((c / n) * log2(cy / n)) AS hy,
                 -sum((c / n) * log2(c / cx)) AS hyx,
                 -sum((c / n) * log2(c / cy)) AS hxy
          FROM j)
        SELECT nn::bigint AS n,
               round(hx, 6) AS h_x, round(hy, 6) AS h_y,
               round(hyx, 6) AS h_y_given_x,
               round(hxy, 6) AS h_x_given_y,
               CASE WHEN hy > 1e-12 THEN round((hy - hyx) / hy, 6) END
                 AS u_y_given_x,
               CASE WHEN hx > 1e-12 THEN round((hx - hxy) / hx, 6) END
                 AS u_x_given_y
        FROM e"""

    sql["slice_similarity"] = """
        WITH toks AS (
          SELECT lang AS g,
                 regexp_split_to_array(lower(trim(text)), '\\s+') AS w
          FROM documents
          WHERE text IS NOT NULL AND length(trim(text)) > 0
            AND lang IS NOT NULL),
        sh AS (
          SELECT g, unnest(
                   CASE WHEN len(w) < 3 THEN [array_to_string(w, ' ')]
                   ELSE list_transform(range(1, len(w) - 1),
                        i -> concat(w[i], ' ', w[i+1], ' ', w[i+2]))
                   END) AS s
          FROM toks),
        sig AS (
          SELECT g,
                 [min(substr(md5(concat('0:', s)), 1, 16)),
                 min(substr(md5(concat('1:', s)), 1, 16)),
                 min(substr(md5(concat('2:', s)), 1, 16)),
                 min(substr(md5(concat('3:', s)), 1, 16)),
                 min(substr(md5(concat('4:', s)), 1, 16)),
                 min(substr(md5(concat('5:', s)), 1, 16)),
                 min(substr(md5(concat('6:', s)), 1, 16)),
                 min(substr(md5(concat('7:', s)), 1, 16)),
                 min(substr(md5(concat('8:', s)), 1, 16)),
                 min(substr(md5(concat('9:', s)), 1, 16)),
                 min(substr(md5(concat('10:', s)), 1, 16)),
                 min(substr(md5(concat('11:', s)), 1, 16)),
                 min(substr(md5(concat('12:', s)), 1, 16)),
                 min(substr(md5(concat('13:', s)), 1, 16)),
                 min(substr(md5(concat('14:', s)), 1, 16)),
                 min(substr(md5(concat('15:', s)), 1, 16)),
                 min(substr(md5(concat('16:', s)), 1, 16)),
                 min(substr(md5(concat('17:', s)), 1, 16)),
                 min(substr(md5(concat('18:', s)), 1, 16)),
                 min(substr(md5(concat('19:', s)), 1, 16)),
                 min(substr(md5(concat('20:', s)), 1, 16)),
                 min(substr(md5(concat('21:', s)), 1, 16)),
                 min(substr(md5(concat('22:', s)), 1, 16)),
                 min(substr(md5(concat('23:', s)), 1, 16))] AS sig
          FROM sh GROUP BY g)
        SELECT a.g AS group_a, b.g AS group_b,
               len(list_filter(range(1, 25), i -> a.sig[i] = b.sig[i]))
                 ::bigint AS n_matches,
               round(len(list_filter(range(1, 25),
                                     i -> a.sig[i] = b.sig[i]))::double
                     / 24.0, 6) AS est_jaccard
        FROM sig a JOIN sig b ON a.g < b.g"""

    sql["relationship_audit"] = """
        WITH ca AS (
          SELECT c_custkey AS k, count(*)::bigint AS na
          FROM customer WHERE c_custkey IS NOT NULL GROUP BY 1),
        cb AS (
          SELECT o_custkey AS k, count(*)::bigint AS nb
          FROM orders WHERE o_custkey IS NOT NULL GROUP BY 1),
        j AS (SELECT ca.na, cb.nb
              FROM ca FULL OUTER JOIN cb ON ca.k = cb.k),
        agg AS (
          SELECT count(CASE WHEN na IS NOT NULL THEN 1 END)::bigint
                   AS n_keys_a,
                 count(CASE WHEN nb IS NOT NULL THEN 1 END)::bigint
                   AS n_keys_b,
                 count(CASE WHEN na IS NOT NULL AND nb IS NOT NULL
                            THEN 1 END)::bigint AS n_matched_keys,
                 count(CASE WHEN nb IS NULL THEN 1 END)::bigint
                   AS orphan_keys_a,
                 count(CASE WHEN na IS NULL THEN 1 END)::bigint
                   AS orphan_keys_b,
                 coalesce(max(CASE WHEN na IS NOT NULL AND nb IS NOT NULL
                                   THEN na END), 0)::bigint
                   AS max_rows_per_key_a,
                 coalesce(max(CASE WHEN na IS NOT NULL AND nb IS NOT NULL
                                   THEN nb END), 0)::bigint
                   AS max_rows_per_key_b,
                 coalesce(max(CASE WHEN na IS NOT NULL AND nb IS NOT NULL
                                   THEN na * nb END), 0)::bigint
                   AS worst_fanout
          FROM j)
        SELECT n_keys_a, n_keys_b, n_matched_keys,
               orphan_keys_a, orphan_keys_b,
               max_rows_per_key_a, max_rows_per_key_b,
               (SELECT count(*) FROM customer
                WHERE c_custkey IS NULL)::bigint AS null_rows_a,
               (SELECT count(*) FROM orders
                WHERE o_custkey IS NULL)::bigint AS null_rows_b,
               CASE WHEN n_matched_keys = 0 THEN 'disjoint'
                    WHEN max_rows_per_key_a <= 1
                         AND max_rows_per_key_b <= 1 THEN 'one_to_one'
                    WHEN max_rows_per_key_a <= 1 THEN 'one_to_many'
                    WHEN max_rows_per_key_b <= 1 THEN 'many_to_one'
                    ELSE 'many_to_many' END AS relationship,
               worst_fanout
        FROM agg"""

    sql["seasonal_volume"] = """
        WITH per AS (
          SELECT date_trunc('day', ts) AS b,
                 (isodow(date_trunc('day', ts)) - 1)::int AS dow,
                 count(*)::bigint AS row_count
          FROM events WHERE ts IS NOT NULL GROUP BY 1, 2),
        med AS (
          SELECT dow, quantile_cont(row_count, 0.5) AS dow_median
          FROM per GROUP BY dow),
        j AS (SELECT per.*, med.dow_median
              FROM per JOIN med USING (dow)),
        mad AS (
          SELECT dow, quantile_cont(abs(row_count - dow_median), 0.5)
                   AS dow_mad
          FROM j GROUP BY dow)
        SELECT strftime(j.b, '%Y-%m-%d') AS day, j.dow, j.row_count,
               round(j.dow_median, 6) AS dow_median,
               round(mad.dow_mad, 6) AS dow_mad,
               round(abs(j.row_count - j.dow_median)
                     / greatest(mad.dow_mad, 1.0), 6) AS deviation,
               (abs(j.row_count - j.dow_median)
                / greatest(mad.dow_mad, 1.0) > 3.0)::int AS is_anomaly
        FROM j JOIN mad USING (dow)"""

    sql["key_locality"] = """
        WITH pairs AS (
          SELECT DISTINCT user_id AS k,
                 strftime(ts, '%Y-%m-%d') AS p
          FROM events),
        pk AS (SELECT k, count(*)::bigint AS nparts
               FROM pairs GROUP BY 1)
        SELECT count(*)::bigint AS n_keys,
               round(avg(nparts), 6) AS avg_parts_per_key,
               max(nparts)::bigint AS max_parts_per_key,
               round(avg(CASE WHEN nparts = 1 THEN 1.0 ELSE 0.0 END), 6)
                 AS pct_single_part
        FROM pk"""

    sql["benford_digits"] = """
        WITH c AS (
          SELECT floor(abs(value) / power(10, floor(log10(abs(value)))))::int
                   AS digit,
                 count(*)::bigint AS n
          FROM events WHERE value IS NOT NULL AND abs(value) > 0
          GROUP BY 1),
        t AS (SELECT coalesce(sum(n), 0)::double AS total FROM c)
        SELECT digit, n,
               round(n / total, 6) AS share,
               round(log10(1.0 + 1.0 / digit), 6) AS benford_share,
               round(CASE WHEN log10(1.0 + 1.0 / digit) * total > 0
                          THEN pow(n - log10(1.0 + 1.0 / digit) * total, 2)
                               / (log10(1.0 + 1.0 / digit) * total)
                          ELSE 0.0 END, 6) AS chi2_term
        FROM c, t ORDER BY digit"""

    sql["column_entropy"] = """
        WITH pairs AS (
          SELECT 'lang' AS column_name,
                 coalesce(lang, '__null__') AS value FROM documents
          UNION ALL
          SELECT 'source', coalesce(source, '__null__') FROM documents),
        c AS (SELECT column_name, value, count(*)::bigint AS n
              FROM pairs GROUP BY 1, 2),
        t AS (SELECT column_name, sum(n)::bigint AS n_rows,
                     count(*)::bigint AS n_distinct,
                     max(n) AS top FROM c GROUP BY 1)
        SELECT c.column_name, t.n_rows, t.n_distinct,
               round(sum(-(c.n / t.n_rows::double)
                         * log2(c.n / t.n_rows::double)), 6) AS entropy_bits,
               round(CASE WHEN t.n_distinct > 1
                          THEN sum(-(c.n / t.n_rows::double)
                                   * log2(c.n / t.n_rows::double))
                               / log2(t.n_distinct)
                          ELSE 0.0 END, 6) AS norm_entropy,
               round(t.top / t.n_rows::double, 6) AS top_share
        FROM c JOIN t USING (column_name)
        GROUP BY c.column_name, t.n_rows, t.n_distinct, t.top"""

    sql["schema_diff"] = """
        WITH a AS (SELECT column_name, lower(column_type) AS type_a
                   FROM (DESCRIBE SELECT * FROM events)),
             b AS (SELECT column_name, lower(column_type) AS type_b
                   FROM (DESCRIBE SELECT * FROM orders))
        SELECT coalesce(a.column_name, b.column_name) AS column_name,
               type_a, type_b,
               CASE WHEN a.column_name IS NULL THEN 'added'
                    WHEN b.column_name IS NULL THEN 'removed'
                    WHEN type_a <> type_b THEN 'type_changed'
                    ELSE 'unchanged' END AS status
        FROM a FULL JOIN b ON a.column_name = b.column_name
        ORDER BY 1"""

    _corr_pairs = [("value", "user_id"), ("value", "event_id"),
                   ("user_id", "event_id")]
    sql["numeric_correlations"] = """
        WITH w AS (SELECT
            """ + ",\n            ".join(
        f"corr({a}, {b}) AS r_{i}, "
        f"count(CASE WHEN {a} IS NOT NULL AND {b} IS NOT NULL THEN 1 END)"
        f"::bigint AS n_{i}"
        for i, (a, b) in enumerate(_corr_pairs)) + """
          FROM events)
        """ + "\n        UNION ALL\n        ".join(
        f"SELECT '{a}' AS col_a, '{b}' AS col_b, "
        f"round(r_{i}, 6) AS pearson_r, n_{i} AS n_pairs FROM w"
        for i, (a, b) in enumerate(_corr_pairs))

    _mask = ("regexp_replace(regexp_replace(regexp_replace("
             "substr({c}, 1, 24), '[A-Z]', 'A', 'g'), "
             "'[a-z]', 'a', 'g'), '[0-9]', '9', 'g')")
    sql["value_masks"] = f"""
        WITH u AS (
          SELECT 'event_type' AS column_name,
                 {_mask.format(c='event_type')} AS mask
          FROM events WHERE event_type IS NOT NULL
          UNION ALL
          SELECT 'props', {_mask.format(c='props')}
          FROM events WHERE props IS NOT NULL),
        c AS (SELECT column_name, mask, count(*)::bigint AS n
              FROM u GROUP BY 1, 2),
        r AS (SELECT *, row_number() OVER (PARTITION BY column_name
                        ORDER BY n DESC, mask ASC) AS rk FROM c)
        SELECT column_name, mask, n FROM r WHERE rk <= 8
        ORDER BY column_name, n DESC, mask"""

    sql["cramers_v"] = """
        WITH cells AS (
          SELECT coalesce(o_orderstatus, '__null__') AS a,
                 coalesce(o_orderpriority, '__null__') AS b,
                 count(*)::bigint AS n_ij
          FROM orders GROUP BY 1, 2),
        rm AS (SELECT a, sum(n_ij) AS n_a FROM cells GROUP BY 1),
        cm AS (SELECT b, sum(n_ij) AS n_b FROM cells GROUP BY 1),
        tot AS (SELECT sum(n_ij)::double AS n,
                       count(DISTINCT a)::bigint AS r_levels,
                       count(DISTINCT b)::bigint AS c_levels FROM cells)
        SELECT 'o_orderstatus' AS col_a, 'o_orderpriority' AS col_b,
               tot.n::bigint AS n_rows, tot.r_levels, tot.c_levels,
               -- observed cells only: zero cells contribute e each and
               -- sum(e) over the full grid is n, so fold them in as
               -- chi2 = sum_obs[(n_ij-e)^2/e] - sum_obs(e) + n
               round(greatest(sum(pow(n_ij - n_a * n_b / tot.n, 2)
                                  / (n_a * n_b / tot.n))
                              - sum(n_a * n_b / tot.n) + tot.n,
                              0.0), 4) AS chi2,
               round(CASE WHEN least(tot.r_levels, tot.c_levels) > 1
                     THEN sqrt(greatest(
                               sum(pow(n_ij - n_a * n_b / tot.n, 2)
                                   / (n_a * n_b / tot.n))
                               - sum(n_a * n_b / tot.n) + tot.n, 0.0)
                               / (tot.n
                                  * (least(tot.r_levels,
                                           tot.c_levels) - 1)))
                     ELSE 0.0 END, 6) AS cramers_v
        FROM cells JOIN rm USING (a) JOIN cm USING (b), tot
        GROUP BY tot.n, tot.r_levels, tot.c_levels"""

    sql["null_patterns"] = """
        WITH d AS (
          SELECT nullif(event_type, 'click') AS et,
                 CASE WHEN value <= 100 THEN value END AS val,
                 props
          FROM events),
        c AS (
          SELECT concat(CASE WHEN et IS NULL THEN '1' ELSE '0' END,
                        CASE WHEN val IS NULL THEN '1' ELSE '0' END,
                        CASE WHEN props IS NULL THEN '1' ELSE '0' END)
                   AS pattern,
                 concat_ws(',', CASE WHEN et IS NULL THEN 'et' END,
                                CASE WHEN val IS NULL THEN 'val' END,
                                CASE WHEN props IS NULL THEN 'props' END)
                   AS null_cols,
                 count(*)::bigint AS n
          FROM d GROUP BY 1, 2),
        t AS (SELECT sum(n)::double AS tt FROM c)
        SELECT pattern, null_cols, n, round(n / tt, 6) AS share
        FROM c, t ORDER BY n DESC, pattern ASC LIMIT 10"""

    _SNAPSHOT_CTE = """
        old AS (SELECT doc_id, text, lang, source FROM documents),
        new AS (
          SELECT doc_id,
                 CASE WHEN doc_id % 37 = 7 THEN text || ' v2'
                      ELSE text END AS text,
                 lang, source
          FROM documents WHERE doc_id % 41 <> 3
          UNION ALL
          SELECT doc_id + 1000001, text, lang, source
          FROM documents WHERE doc_id % 43 = 5),
        j AS (
          SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
                 CASE WHEN o.doc_id IS NULL THEN 'added'
                      WHEN n.doc_id IS NULL THEN 'removed'
                      WHEN (o.text IS DISTINCT FROM n.text)
                        OR (o.lang IS DISTINCT FROM n.lang)
                        OR (o.source IS DISTINCT FROM n.source)
                      THEN 'changed' END AS change,
                 CASE WHEN o.doc_id IS NOT NULL AND n.doc_id IS NOT NULL
                       AND ((o.text IS DISTINCT FROM n.text)
                         OR (o.lang IS DISTINCT FROM n.lang)
                         OR (o.source IS DISTINCT FROM n.source))
                 THEN concat_ws(',',
                   CASE WHEN o.text IS DISTINCT FROM n.text
                        THEN 'text' END,
                   CASE WHEN o.lang IS DISTINCT FROM n.lang
                        THEN 'lang' END,
                   CASE WHEN o.source IS DISTINCT FROM n.source
                        THEN 'source' END) END AS changed_cols
          FROM old o FULL OUTER JOIN new n ON o.doc_id = n.doc_id)"""

    sql["snapshot_diff"] = f"""
        WITH {_SNAPSHOT_CTE}
        SELECT doc_id, change, changed_cols FROM j
        WHERE change IS NOT NULL
        ORDER BY doc_id, change"""

    sql["snapshot_diff_summary"] = f"""
        WITH {_SNAPSHOT_CTE}
        SELECT coalesce(change, 'unchanged') AS change,
               count(*)::bigint AS n
        FROM j GROUP BY 1 ORDER BY change"""

    sql["filter_funnel"] = """
        WITH a AS (
          SELECT count(*)::double AS total,
                 count(*) FILTER (length(text) >= 200)::bigint AS p0,
                 count(*) FILTER (lang = 'en')::bigint AS p1,
                 count(*) FILTER (doc_id % 2 = 0)::bigint AS p2,
                 count(*) FILTER (length(text) >= 200)::bigint AS c0,
                 count(*) FILTER (length(text) >= 200
                                  AND lang = 'en')::bigint AS c1,
                 count(*) FILTER (length(text) >= 200 AND lang = 'en'
                                  AND doc_id % 2 = 0)::bigint AS c2
          FROM documents)
        SELECT * FROM (
          SELECT 1::int AS stage_idx, 'long_enough' AS stage,
                 p0 AS n_pass, c0 AS n_cum,
                 CASE WHEN total > 0 THEN round(c0 / total, 6) END
                   AS share_cum FROM a
          UNION ALL
          SELECT 2, 'english', p1, c1,
                 CASE WHEN total > 0 THEN round(c1 / total, 6) END FROM a
          UNION ALL
          SELECT 3, 'id_even', p2, c2,
                 CASE WHEN total > 0 THEN round(c2 / total, 6) END FROM a)
        ORDER BY stage_idx"""

    sql["turn_echo"] = """
        WITH t AS (
          SELECT user_id, event_id,
                 concat_ws(' ', event_type, props) AS turn_text
          FROM events WHERE user_id IS NOT NULL),
        lagged AS (
          SELECT user_id, event_id,
                 list_distinct(list_filter(
                   string_split_regex(lower(turn_text), '[^a-z0-9]+'),
                   x -> x <> '')) AS cur,
                 lag(turn_text) OVER (PARTITION BY user_id
                                      ORDER BY event_id) AS prev_text
          FROM t),
        sets AS (
          SELECT user_id, event_id, cur,
                 list_distinct(list_filter(
                   string_split_regex(lower(prev_text), '[^a-z0-9]+'),
                   x -> x <> '')) AS prev
          FROM lagged WHERE prev_text IS NOT NULL)
        SELECT user_id, event_id,
               round(CASE WHEN len(cur) + len(prev)
                               - len(list_intersect(cur, prev)) > 0
                     THEN len(list_intersect(cur, prev))::double
                          / (len(cur) + len(prev)
                             - len(list_intersect(cur, prev)))
                     ELSE 0.0 END, 6) AS echo_jaccard
        FROM sets WHERE len(cur) >= 1
        ORDER BY user_id, event_id"""

    sql["winsorized_stats"] = """
        WITH b AS (
          SELECT quantile_cont(value, 0.01) AS lo,
                 quantile_cont(value, 0.99) AS hi
          FROM events)
        SELECT count(value)::bigint AS n,
               round(max(lo), 6) AS p_lo, round(max(hi), 6) AS p_hi,
               round(avg(value), 6) AS mean_raw,
               round(stddev_pop(value), 6) AS std_raw,
               round(avg(least(greatest(value, lo), hi)), 6)
                 AS mean_wins,
               round(stddev_pop(least(greatest(value, lo), hi)), 6)
                 AS std_wins
        FROM events, b"""

    sql["equidepth_histogram"] = """
        WITH e AS (
          -- edges rounded to 6dp before bucketing, matching the Spark
          -- operator: exact interpolation differs in the last ulp
          -- across engines, which flips ties at value==edge
          SELECT list_transform(quantile_cont(value,
                   [0.0, 0.125, 0.25, 0.375, 0.5,
                    0.625, 0.75, 0.875, 1.0]),
                 t -> round(t, 6)) AS edges
          FROM events),
        b AS (
          SELECT greatest(least(
                   len(list_filter(e.edges[1:8], t -> t < value)),
                   8), 1) AS bin
          FROM events, e WHERE value IS NOT NULL),
        c AS (
          SELECT bin, count(*)::bigint AS n FROM b GROUP BY 1),
        t AS (SELECT sum(n)::double AS tt FROM c)
        SELECT bin::int AS bin,
               round(e.edges[bin], 6) AS lo,
               round(e.edges[bin + 1], 6) AS hi,
               n, round(n / tt, 6) AS share
        FROM c, e, t ORDER BY bin"""

    sql["length_percentiles"] = """
        SELECT lang,
               round(quantile_cont(length(text), 0.5), 4) AS p_5,
               round(quantile_cont(length(text), 0.9), 4) AS p_9,
               round(quantile_cont(length(text), 0.99), 4) AS p_99
        FROM documents GROUP BY lang"""

    sql["ngram_jaccard"] = f"""
        WITH toks AS (
          SELECT doc_id, lang,
                 regexp_split_to_array(lower(trim(text)), '\\s+') AS w
          FROM documents),
        sh AS (
          SELECT doc_id, lang,
                 CASE WHEN len(w) < 3 THEN [array_to_string(w, ' ')]
                 ELSE list_distinct(list_transform(
                      range(1, len(w) - 1),
                      i -> concat(w[i], ' ', w[i+1], ' ', w[i+2])))
                 END AS s
          FROM toks),
        pairs AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                 cast(len(list_intersect(a.s, b.s)) as double) AS i,
                 cast(len(list_distinct(list_concat(a.s, b.s))) as double)
                   AS u
          FROM sh a JOIN sh b
            ON a.lang = b.lang AND a.doc_id < b.doc_id)
        SELECT id_a, id_b,
               round(i / greatest(u, 1.0), 6) AS jaccard
        FROM pairs WHERE round(i / greatest(u, 1.0), 6) >= 0.12"""

    # connected components over the same exact ngram-Jaccard pairs,
    # via a recursive transitive-closure CTE: min reachable id ==
    # min id in component == the Spark operator's cluster_id.
    _cc_ctes = """
        toks AS (
          SELECT doc_id, lang,
                 regexp_split_to_array(lower(trim(text)), '\\s+') AS w
          FROM documents),
        sh AS (
          SELECT doc_id, lang,
                 CASE WHEN len(w) < 3 THEN [array_to_string(w, ' ')]
                 ELSE list_distinct(list_transform(
                      range(1, len(w) - 1),
                      i -> concat(w[i], ' ', w[i+1], ' ', w[i+2])))
                 END AS s
          FROM toks),
        prs AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                 cast(len(list_intersect(a.s, b.s)) as double) AS i,
                 cast(len(list_distinct(list_concat(a.s, b.s))) as double)
                   AS u
          FROM sh a JOIN sh b
            ON a.lang = b.lang AND a.doc_id < b.doc_id),
        p AS (
          SELECT id_a, id_b FROM prs
          WHERE round(i / greatest(u, 1.0), 6) >= 0.12),
        edges AS (
          SELECT id_a AS src, id_b AS dst FROM p
          UNION SELECT id_b, id_a FROM p),
        reach(src, lbl) AS (
          SELECT src, src FROM edges
          UNION
          SELECT e.src, r.lbl FROM edges e JOIN reach r ON e.dst = r.src),
        cl AS (
          SELECT src AS id, min(lbl) AS cluster_id FROM reach
          GROUP BY src)"""

    sql["near_dup_clusters"] = (
        f"WITH RECURSIVE {_cc_ctes} SELECT id, cluster_id FROM cl")

    sql["dedup_near"] = f"""
        WITH RECURSIVE {_cc_ctes}
        SELECT doc_id FROM documents
        WHERE doc_id NOT IN (SELECT id FROM cl WHERE id <> cluster_id)"""

    sql["dedup_keep_best"] = f"""
        WITH RECURSIVE {_cc_ctes},
        ranked AS (
          SELECT cl.id,
                 row_number() OVER (
                   PARTITION BY cl.cluster_id
                   ORDER BY d.n_chars DESC NULLS LAST, cl.id ASC) AS rn
          FROM cl JOIN documents d ON d.doc_id = cl.id)
        SELECT doc_id FROM documents
        WHERE doc_id NOT IN (SELECT id FROM ranked WHERE rn > 1)"""

    sql["near_dup_safe_split"] = f"""
        WITH RECURSIVE {_cc_ctes},
        ks AS (
          SELECT d.doc_id,
                 substr(md5(cast(coalesce(cl.cluster_id, d.doc_id)
                                 as varchar)), 1, 8) AS h
          FROM documents d LEFT JOIN cl ON cl.id = d.doc_id)
        SELECT doc_id,
               CASE WHEN h < 'cccccccd' THEN 'train'
                    WHEN h < 'e6666666' THEN 'val'
                    ELSE 'test' END AS split
        FROM ks ORDER BY doc_id"""

    sql["per_group_sample"] = """
        SELECT doc_id, source FROM (
          SELECT doc_id, source,
                 row_number() OVER (
                   PARTITION BY source
                   ORDER BY substr(md5(cast(doc_id as varchar)), 1, 8)
                            ASC, doc_id ASC) AS rn
          FROM documents)
        WHERE rn <= 10"""

    sql["quality_topk_per_lang"] = f"""
        WITH m AS (
          SELECT doc_id, lang, text,
                 cast(length(text) as double) AS n_chars,
                 cast(CASE WHEN length(trim(text)) = 0 THEN 0
                      ELSE len(regexp_split_to_array(trim(text), '\\s+'))
                      END as double) AS n_tokens,
                 cast(length(text) - length(regexp_replace(text,
                      '[^\\w\\s]', '', 'g')) as double) AS n_punct,
                 cast(len(list_intersect(
                      regexp_split_to_array(lower(trim(text)), '\\s+'),
                      [{stop}])) as double) AS n_stop
          FROM documents),
        qs AS (
          SELECT doc_id, lang,
                 CASE WHEN text IS NULL OR length(trim(text)) = 0 THEN 0.0
                 ELSE round((least(n_chars / 500.0, 1.0)
                   + (1.0 - least(n_punct / greatest(n_chars, 1.0) * 5.0,
                                  1.0))
                   + least(n_stop / greatest(n_tokens, 1.0) * 10.0, 1.0))
                   / 3.0, 6) END AS q
          FROM m)
        SELECT doc_id, lang, q, rank FROM (
          SELECT doc_id, lang, q,
                 cast(row_number() OVER (
                   PARTITION BY lang ORDER BY q DESC, doc_id) as int)
                   AS rank
          FROM qs) r
        WHERE rank <= 3"""

    # md5-hex hash sampling: both engines hash the key's UTF-8 bytes,
    # so the SAME threshold strings drive both predicates.
    c30 = _hex_threshold(0.3)
    sql["deterministic_sample"] = f"""
        SELECT doc_id FROM documents
        WHERE substr(md5(cast(doc_id as varchar)), 1, 8) < '{c30}'"""

    c80, c90 = _hex_threshold(0.8), _hex_threshold(0.9)
    sql["transcript_split"] = f"""
        SELECT split, count(*)::bigint AS n_rows FROM (
          SELECT CASE
            WHEN substr(md5(cast(user_id as varchar)), 1, 8) < '{c80}'
              THEN 'train'
            WHEN substr(md5(cast(user_id as varchar)), 1, 8) < '{c90}'
              THEN 'val'
            ELSE 'test' END AS split
          FROM events) s
        GROUP BY split"""

    pii_parts = []
    for name, pat in PII_PATTERNS.items():
        pii_parts.append(f"""
        SELECT '{name}' AS pii_type,
               coalesce(sum(len(regexp_extract_all(text, '{pat}'))), 0)::bigint
                 AS total_matches,
               count(CASE WHEN len(regexp_extract_all(text, '{pat}')) > 0
                          THEN 1 END)::bigint AS docs_affected
        FROM documents""")
    sql["pii_summary"] = " UNION ALL ".join(pii_parts)

    sql["repetition_stats"] = """
        WITH toks AS (
          SELECT doc_id,
                 regexp_split_to_array(lower(trim(text)), '\\s+') AS w
          FROM documents
          WHERE text IS NOT NULL AND length(trim(text)) > 0),
        tc AS (
          SELECT doc_id, tok, count(*) AS c
          FROM (SELECT doc_id, unnest(w) AS tok FROM toks) u
          GROUP BY doc_id, tok),
        mode AS (
          SELECT doc_id,
                 max(c) * 1.0 / sum(c) AS top_token_frac
          FROM tc GROUP BY doc_id),
        tri AS (
          SELECT doc_id,
                 CASE WHEN len(w) < 3 THEN [array_to_string(w, ' ')]
                 ELSE list_transform(
                      range(1, len(w) - 1),
                      i -> concat(w[i], ' ', w[i+1], ' ', w[i+2]))
                 END AS s
          FROM toks),
        trif AS (
          SELECT doc_id,
                 1.0 - len(list_distinct(s)) * 1.0
                       / greatest(len(s), 1) AS dup_trigram_frac
          FROM tri)
        SELECT m.doc_id, round(m.top_token_frac, 6) AS top_token_frac,
               round(t.dup_trigram_frac, 6) AS dup_trigram_frac
        FROM mode m JOIN trif t ON m.doc_id = t.doc_id"""

    sql["consecutive_repeats"] = """
        SELECT event_id, user_id, event_type, prev_value FROM (
          SELECT event_id, user_id, event_type,
                 lag(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id)
                   AS prev_value
          FROM events) t
        WHERE event_type = prev_value"""

    sql["loop_runs"] = """
        -- gaps-and-islands replay of the period-p cycle detector:
        -- per period, runs of rows equal to the value p back
        WITH base AS (
          SELECT user_id, event_type AS v,
                 row_number() OVER (
                   PARTITION BY user_id ORDER BY ts, event_id) AS rn
          FROM events WHERE user_id IS NOT NULL),
        m AS (
          SELECT user_id, rn, 1 AS period,
                 v = lag(v, 1) OVER (PARTITION BY user_id ORDER BY rn)
                   AS ok FROM base
          UNION ALL
          SELECT user_id, rn, 2,
                 v = lag(v, 2) OVER (PARTITION BY user_id ORDER BY rn)
            FROM base
          UNION ALL
          SELECT user_id, rn, 3,
                 v = lag(v, 3) OVER (PARTITION BY user_id ORDER BY rn)
            FROM base),
        mm AS (SELECT user_id, rn, period FROM m WHERE ok),
        isl AS (
          SELECT user_id, period,
                 rn - row_number() OVER (
                   PARTITION BY user_id, period ORDER BY rn) AS grp
          FROM mm),
        runs AS (
          SELECT user_id, period, count(*)::bigint AS run_len
          FROM isl GROUP BY user_id, period, grp),
        agg AS (
          SELECT user_id, period,
                 max(run_len) AS max_run,
                 count(CASE WHEN run_len // period + 1 >= 3
                            THEN 1 END)::bigint AS n_loops
          FROM runs GROUP BY user_id, period)
        SELECT user_id, period::int AS period,
               max_run::bigint AS max_run,
               (max_run // period + 1)::bigint AS n_repeats, n_loops
        FROM agg WHERE max_run // period + 1 >= 3"""

    sql["conversation_outliers"] = """
        WITH feats AS (
          SELECT user_id AS id,
                 count(*)::double AS n_events,
                 count(DISTINCT event_type)::double AS n_types,
                 round(avg(value), 6) AS avg_value
          FROM events WHERE user_id IS NOT NULL GROUP BY user_id),
        melted AS (
          SELECT id, 'n_events' AS feature, n_events AS value FROM feats
          UNION ALL
          SELECT id, 'n_types', n_types FROM feats
          UNION ALL
          SELECT id, 'avg_value', avg_value FROM feats),
        nn AS (SELECT * FROM melted WHERE value IS NOT NULL),
        med AS (SELECT feature, median(value) AS median_val
                FROM nn GROUP BY feature),
        j AS (SELECT nn.*, med.median_val FROM nn
              JOIN med USING (feature)),
        md AS (SELECT feature, median(abs(value - median_val)) AS mad
               FROM j GROUP BY feature)
        SELECT id, feature, round(value, 6) AS value,
               round(median_val, 6) AS median_val,
               round(md.mad, 6) AS mad,
               round(abs(value - median_val)
                     / greatest(md.mad, 1e-9), 6) AS deviation
        FROM j JOIN md USING (feature)
        WHERE round(abs(value - median_val)
                    / greatest(md.mad, 1e-9), 6) > 3.0"""

    sql["order_regressions"] = """
        SELECT event_id, user_id, ts, prev_max_ts FROM (
          SELECT event_id, user_id, ts,
                 max(ts) OVER (
                   PARTITION BY user_id ORDER BY event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   AS prev_max_ts
          FROM events) t
        WHERE ts < prev_max_ts"""

    sql["conditional_violations"] = """
        SELECT event_id, 'error_value_cap' AS rule_name
        FROM events
        WHERE coalesce(event_type = 'error', false)
          AND NOT coalesce(value <= 5, false)
        UNION ALL
        SELECT event_id, 'purchase_value_positive'
        FROM events
        WHERE coalesce(event_type = 'purchase', false)
          AND NOT coalesce(value > 0, false)"""

    sql["expectation_checks"] = """
        WITH a AS (
          SELECT cast(count(*) as double) AS row_cnt,
                 avg(CASE WHEN value IS NULL THEN 1.0 ELSE 0.0 END) AS nf,
                 cast(count(DISTINCT event_type) as double) AS card,
                 cast(max(value) as double) AS mx
          FROM events)
        SELECT 'row_count_min' AS expectation, round(row_cnt, 6) AS observed,
               '>=' AS op, cast(1000 as double) AS threshold,
               CASE WHEN row_cnt >= 1000 THEN 'pass' ELSE 'fail' END AS status
        FROM a
        UNION ALL
        SELECT 'value_null_frac_max', round(nf, 6), '<=',
               cast(0.01 as double),
               CASE WHEN nf <= 0.01 THEN 'pass' ELSE 'fail' END FROM a
        UNION ALL
        SELECT 'event_type_card_max', round(card, 6), '<=',
               cast(10 as double),
               CASE WHEN card <= 10 THEN 'pass' ELSE 'fail' END FROM a
        UNION ALL
        SELECT 'value_max_cap', round(mx, 6), '<=', cast(400 as double),
               CASE WHEN coalesce(mx <= 400, false)
                    THEN 'pass' ELSE 'fail' END FROM a"""

    sql["group_expectation_checks"] = """
        WITH a AS (
          SELECT user_id,
                 cast(count(*) as double) AS n_turns,
                 cast(sum(value) as double) AS vsum,
                 cast(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0
                          END) as double) AS n_err
          FROM events GROUP BY user_id),
        u AS (
          SELECT user_id, 'turns_per_user_max' AS expectation,
                 round(n_turns, 6) AS observed, '<=' AS op,
                 cast(40 as double) AS threshold,
                 CASE WHEN coalesce(n_turns <= 40, false)
                      THEN 'pass' ELSE 'fail' END AS status
          FROM a
          UNION ALL
          SELECT user_id, 'value_sum_cap', round(vsum, 6), '<=',
                 cast(900.0 as double),
                 CASE WHEN coalesce(vsum <= 900.0, false)
                      THEN 'pass' ELSE 'fail' END FROM a
          UNION ALL
          SELECT user_id, 'error_free', round(n_err, 6), '==',
                 cast(0 as double),
                 CASE WHEN coalesce(n_err = 0, false)
                      THEN 'pass' ELSE 'fail' END FROM a)
        SELECT * FROM u WHERE status = 'fail'"""

    sql["freshness_daily"] = """
        WITH per AS (
          SELECT date_trunc('day', ts) AS bucket,
                 count(*)::bigint AS row_count,
                 max(ts) AS bucket_max_ts
          FROM events WHERE ts IS NOT NULL GROUP BY 1),
        g AS (SELECT max(bucket_max_ts) AS gmax FROM per)
        SELECT strftime(bucket, '%Y-%m-%d') AS day, row_count,
               strftime(bucket_max_ts, '%Y-%m-%d %H:%M:%S') AS bucket_max_ts,
               (floor(epoch(gmax))::bigint
                - floor(epoch(bucket_max_ts))::bigint) AS lag_seconds
        FROM per, g"""

    sql["completeness_gaps"] = """
        WITH obs AS (
          SELECT date_trunc('hour', ts) AS b
          FROM events WHERE event_type = 'purchase' AND ts IS NOT NULL
          GROUP BY 1),
        rng AS (
          SELECT unnest(generate_series((SELECT min(b) FROM obs),
                                        (SELECT max(b) FROM obs),
                                        INTERVAL 1 HOUR)) AS b)
        SELECT strftime(b, '%Y-%m-%d %H:00') AS gap_hour
        FROM rng WHERE b NOT IN (SELECT b FROM obs)"""

    sql["iqr_outliers"] = """
        WITH q AS (
          SELECT quantile_cont(cast(value as double), 0.25) AS q1,
                 quantile_cont(cast(value as double), 0.75) AS q3
          FROM events),
        f AS (SELECT q1, q3, q1 - 1.5 * (q3 - q1) AS lo,
                     q3 + 1.5 * (q3 - q1) AS hi FROM q)
        SELECT 'value' AS column_name,
               round(q1, 6) AS q1, round(q3, 6) AS q3,
               round(lo, 6) AS fence_lo, round(hi, 6) AS fence_hi,
               (SELECT count(*) FROM events, f
                WHERE value < f.lo OR value > f.hi)::bigint AS n_outliers
        FROM f"""

    sql["reconcile_keys"] = """
        WITH a AS (SELECT DISTINCT user_id AS k FROM events
                   WHERE user_id IS NOT NULL),
             b AS (SELECT DISTINCT c_custkey AS k FROM customer
                   WHERE c_custkey IS NOT NULL),
        m AS (
          SELECT coalesce(a.k, b.k) AS k,
                 CASE WHEN a.k IS NOT NULL AND b.k IS NOT NULL THEN 'both'
                      WHEN a.k IS NOT NULL THEN 'only_a'
                      ELSE 'only_b' END AS status
          FROM a FULL OUTER JOIN b ON a.k = b.k)
        SELECT status, count(*)::bigint AS n_keys FROM m GROUP BY status"""

    ev_allowed = ", ".join(f"'{v}'" for v in _EVENT_ALLOWED)
    sql["quarantine"] = f"""
        WITH r AS (
          SELECT event_id,
                 concat_ws(',',
                   CASE WHEN event_type IS NOT NULL
                             AND trim(event_type) NOT IN ({ev_allowed})
                        THEN 'Unallowed Value' END,
                   CASE WHEN value > 400.0
                        THEN 'Exceeds Maximum Allowed Value (400)' END)
                   AS reasons
          FROM events)
        SELECT event_id, reasons FROM r WHERE reasons <> ''"""

    c50, c10 = _hex_threshold(0.5), _hex_threshold(0.1)
    sql["stratified_sample"] = f"""
        SELECT event_type, count(*)::bigint AS n_kept
        FROM events
        WHERE substr(md5(cast(event_id as varchar)), 1, 8) <
              CASE event_type WHEN 'error' THEN '{c50}'
                              WHEN 'purchase' THEN 'g'
                              ELSE '{c10}' END
        GROUP BY event_type"""

    # messy = curly-quoted text + NBSP + em dash + tab + 'x' BEL 'y';
    # cleaning: control strip -> typographic translate -> \s+ collapse
    sql["clean_text"] = r"""
        WITH m AS (
          SELECT doc_id,
                 chr(8220) || text || chr(8221) || chr(160) || chr(8212)
                 || chr(9) || 'x' || chr(7) || 'y' AS messy
          FROM documents),
        s1 AS (
          SELECT doc_id, regexp_replace(messy,
                 '[\x00-\x08\x0B\x0C\x0E-\x1F\x7F\x80-\x9F]', '', 'g') AS t
          FROM m),
        s2 AS (
          SELECT doc_id, translate(t,
                 chr(8216) || chr(8217) || chr(8218) || chr(8220)
                 || chr(8221) || chr(8222) || chr(8211) || chr(8212)
                 || chr(8213) || chr(160) || chr(8201) || chr(8239),
                 repeat(chr(39), 3) || repeat(chr(34), 3) || '---'
                 || '   ') AS t
          FROM s1),
        s3 AS (
          SELECT doc_id, regexp_replace(t, chr(8230), '...', 'g') AS t
          FROM s2)
        SELECT doc_id,
               trim(regexp_replace(t, '\s+', ' ', 'g')) AS cleaned
        FROM s3"""

    sql["volume_anomalies"] = """
        WITH per AS (
          SELECT date_trunc('hour', ts) AS b, count(*)::bigint AS n
          FROM events WHERE ts IS NOT NULL GROUP BY 1),
        m AS (SELECT quantile_cont(n, 0.5) AS med FROM per),
        d AS (SELECT quantile_cont(abs(n - med), 0.5) AS mad FROM per, m)
        SELECT strftime(b, '%Y-%m-%d %H:00') AS hour, n AS row_count,
               round(abs(n - med) / greatest(mad, 1.0), 6) AS deviation
        FROM per, m, d
        WHERE abs(n - med) / greatest(mad, 1.0) > 3.0"""

    sql["distinctive_terms"] = r"""
        WITH toks AS (
          SELECT source AS "group",
                 unnest(regexp_split_to_array(lower(trim(text)),
                                              '\s+')) AS token
          FROM documents
          WHERE text IS NOT NULL AND length(trim(text)) > 0
            AND source IS NOT NULL),
        tf AS (
          SELECT "group", token, count(*)::bigint AS tf
          FROM toks GROUP BY "group", token),
        dfreq AS (
          SELECT token, count(*)::bigint AS n_groups_with_token
          FROM tf GROUP BY token),
        n AS (SELECT count(DISTINCT "group")::double AS nn FROM tf),
        scored AS (
          SELECT tf."group", tf.token, tf.tf, dfreq.n_groups_with_token,
                 round(tf.tf * ln(n.nn / dfreq.n_groups_with_token), 6)
                   AS score
          FROM tf JOIN dfreq USING (token) CROSS JOIN n),
        ranked AS (
          SELECT *, row_number() OVER (PARTITION BY "group"
                      ORDER BY score DESC, token ASC) AS rank
          FROM scored)
        SELECT "group", token, tf, n_groups_with_token, score,
               rank::int AS rank
        FROM ranked WHERE rank <= 10"""

    sql["length_gini"] = r"""
        WITH base AS (
          SELECT source AS "group", n_chars::double AS v
          FROM documents),
        neg AS (
          SELECT "group",
                 count(CASE WHEN v < 0 THEN 1 END)::bigint AS n_negative
          FROM base GROUP BY "group"),
        vals AS (
          SELECT "group" AS g, v,
                 row_number() OVER (PARTITION BY "group"
                                    ORDER BY v ASC)::double AS i
          FROM base WHERE v IS NOT NULL AND v >= 0),
        agg AS (
          SELECT g, count(*)::bigint AS n, sum(v) AS t, sum(i * v) AS iw
          FROM vals GROUP BY g)
        SELECT neg."group", COALESCE(agg.n, 0)::bigint AS n,
               neg.n_negative, round(agg.t, 6) AS total,
               CASE WHEN agg.t > 0 THEN
                 round((2.0 * agg.iw - (agg.n + 1) * agg.t)
                       / (agg.n * agg.t), 6) END AS gini
        FROM neg LEFT JOIN agg ON neg."group" IS NOT DISTINCT FROM agg.g"""

    sql["zipf_slope"] = r"""
        WITH toks AS (
          SELECT lang AS "group",
                 unnest(regexp_split_to_array(lower(trim(text)),
                                              '\s+')) AS token
          FROM documents
          WHERE text IS NOT NULL AND length(trim(text)) > 0
            AND lang IS NOT NULL),
        tf AS (
          SELECT "group", token, count(*)::bigint AS tf
          FROM toks GROUP BY "group", token),
        ranked AS (
          SELECT "group", tf,
                 row_number() OVER (PARTITION BY "group"
                     ORDER BY tf DESC, token ASC) AS r
          FROM tf),
        pts AS (
          SELECT "group", ln(r::double) AS x, ln(tf::double) AS y
          FROM ranked WHERE r <= 300),
        agg AS (
          SELECT "group", count(*)::bigint AS n_tokens,
                 covar_pop(x, y) AS cxy, var_pop(x) AS vx,
                 var_pop(y) AS vy, avg(x) AS mx, avg(y) AS my
          FROM pts GROUP BY "group")
        SELECT "group", n_tokens,
               CASE WHEN vx > 0 THEN round(cxy / vx, 6) END AS slope,
               CASE WHEN vx > 0 THEN
                 round(my - (cxy / vx) * mx, 6) END AS intercept,
               CASE WHEN vx > 0 AND vy > 0 THEN
                 round(cxy * cxy / (vx * vy), 6) END AS r2
        FROM agg"""

    sql["turn_balance"] = """
        WITH r AS (
          SELECT user_id,
                 CASE WHEN event_id % 97 = 0 THEN NULL
                      WHEN event_type = 'signup' THEN 'system'
                      WHEN event_type IN ('click', 'view') THEN 'user'
                      ELSE 'assistant' END AS role,
                 CASE WHEN event_id % 89 != 0 THEN props END AS text
          FROM events),
        agg AS (
          SELECT user_id,
                 count(CASE WHEN role = 'user' THEN 1 END)::bigint
                   AS n_prompt_turns,
                 count(CASE WHEN role = 'assistant' THEN 1 END)::bigint
                   AS n_response_turns,
                 sum(CASE WHEN role = 'user'
                          THEN coalesce(length(text), 0) ELSE 0 END)::bigint
                   AS prompt_chars,
                 sum(CASE WHEN role = 'assistant'
                          THEN coalesce(length(text), 0) ELSE 0 END)::bigint
                   AS response_chars
          FROM r GROUP BY user_id)
        SELECT user_id, n_prompt_turns, n_response_turns,
               prompt_chars, response_chars,
               CASE WHEN prompt_chars > 0 THEN
                 round(response_chars::double / prompt_chars, 6)
               END AS response_ratio
        FROM agg"""

    sql["spearman_corr"] = """
        SELECT 'value' AS col_a, 'user_id' AS col_b,
               CASE WHEN stddev_pop(ra) > 0 AND stddev_pop(rb) > 0 THEN
                 round(covar_pop(ra, rb)
                       / (stddev_pop(ra) * stddev_pop(rb)), 6) END
                 AS spearman_rho,
               count(*)::bigint AS n_pairs
        FROM (
          SELECT rank() OVER (ORDER BY value) +
                   (count(*) OVER (PARTITION BY value) - 1) / 2.0 AS ra,
                 rank() OVER (ORDER BY user_id) +
                   (count(*) OVER (PARTITION BY user_id) - 1) / 2.0 AS rb
          FROM events
          WHERE value IS NOT NULL AND user_id IS NOT NULL)
        UNION ALL
        SELECT 'value' AS col_a, 'event_id' AS col_b,
               CASE WHEN stddev_pop(ra) > 0 AND stddev_pop(rb) > 0 THEN
                 round(covar_pop(ra, rb)
                       / (stddev_pop(ra) * stddev_pop(rb)), 6) END
                 AS spearman_rho,
               count(*)::bigint AS n_pairs
        FROM (
          SELECT rank() OVER (ORDER BY value) +
                   (count(*) OVER (PARTITION BY value) - 1) / 2.0 AS ra,
                 rank() OVER (ORDER BY event_id) +
                   (count(*) OVER (PARTITION BY event_id) - 1) / 2.0 AS rb
          FROM events
          WHERE value IS NOT NULL AND event_id IS NOT NULL)
        UNION ALL
        SELECT 'user_id' AS col_a, 'event_id' AS col_b,
               CASE WHEN stddev_pop(ra) > 0 AND stddev_pop(rb) > 0 THEN
                 round(covar_pop(ra, rb)
                       / (stddev_pop(ra) * stddev_pop(rb)), 6) END
                 AS spearman_rho,
               count(*)::bigint AS n_pairs
        FROM (
          SELECT rank() OVER (ORDER BY user_id) +
                   (count(*) OVER (PARTITION BY user_id) - 1) / 2.0 AS ra,
                 rank() OVER (ORDER BY event_id) +
                   (count(*) OVER (PARTITION BY event_id) - 1) / 2.0 AS rb
          FROM events
          WHERE user_id IS NOT NULL AND event_id IS NOT NULL)"""

    sql["lang_purity"] = """
        WITH counts AS (
          SELECT source AS "group", lang AS v, count(*)::bigint AS c
          FROM documents GROUP BY source, lang),
        nn AS (
          SELECT "group",
                 sum(CASE WHEN v IS NOT NULL THEN c ELSE 0 END)::bigint
                   AS n_values,
                 sum(CASE WHEN v IS NULL THEN c ELSE 0 END)::bigint
                   AS n_null,
                 count(CASE WHEN v IS NOT NULL THEN 1 END)::bigint
                   AS n_distinct
          FROM counts GROUP BY "group"),
        top AS (
          SELECT "group", v AS top_value, c AS top_count,
                 row_number() OVER (PARTITION BY "group"
                     ORDER BY c DESC, v ASC) AS rk
          FROM counts WHERE v IS NOT NULL)
        SELECT nn."group", nn.n_values, nn.n_null, nn.n_distinct,
               t.top_value, t.top_count,
               CASE WHEN nn.n_values > 0 THEN
                 round(t.top_count::double / nn.n_values, 6)
               END AS top_share
        FROM nn LEFT JOIN (SELECT * FROM top WHERE rk = 1) t
          ON nn."group" IS NOT DISTINCT FROM t."group\""""

    sql["sketch_overlap"] = """
        WITH per AS (
          SELECT 'event_type' AS column_name,
                 count(DISTINCT CASE WHEN event_id % 2 = 0
                                     THEN event_type END)::bigint AS est_a,
                 count(DISTINCT CASE WHEN event_id % 2 = 1
                                     THEN event_type END)::bigint AS est_b,
                 count(DISTINCT event_type)::bigint AS est_union
          FROM events
          UNION ALL
          SELECT 'user_id',
                 count(DISTINCT CASE WHEN event_id % 2 = 0
                                     THEN user_id END)::bigint,
                 count(DISTINCT CASE WHEN event_id % 2 = 1
                                     THEN user_id END)::bigint,
                 count(DISTINCT user_id)::bigint
          FROM events),
        w AS (
          SELECT *, greatest(est_a + est_b - est_union, 0)::bigint AS inter
          FROM per)
        SELECT column_name, est_a, est_b, est_union,
               inter AS est_intersection,
               CASE WHEN est_union > 0 THEN
                 round(inter::double / est_union, 6) END AS jaccard,
               CASE WHEN est_a > 0 THEN
                 round(inter::double / est_a, 6) END AS containment_a
        FROM w ORDER BY column_name"""

    sql["top_tokens"] = r"""
        SELECT token, count(*)::bigint AS n
        FROM (SELECT unnest(regexp_split_to_array(lower(trim(text)),
                                                  '\s+')) AS token
              FROM documents
              WHERE text IS NOT NULL AND length(trim(text)) > 0)
        GROUP BY token ORDER BY n DESC, token ASC LIMIT 20"""

    stop_list = ", ".join(f"'{w}'" for w in STOPWORDS_EN)
    sql["gopher_rules"] = rf"""
        WITH base AS (
          SELECT doc_id, text,
                 CASE WHEN text IS NULL OR length(trim(text)) = 0
                      THEN NULL
                      ELSE regexp_split_to_array(lower(trim(text)), '\s+')
                 END AS w
          FROM documents),
        stats AS (
          SELECT doc_id,
                 COALESCE(len(w), 0)::bigint AS n_words,
                 CASE WHEN len(w) > 0 THEN
                   length(regexp_replace(trim(text), '\s+', '', 'g'))::double
                     / len(w) END AS mwl,
                 CASE WHEN len(w) > 0 THEN
                   len(list_filter(w, x -> regexp_matches(x, '[a-z]')))::double
                     / len(w) END AS af,
                 CASE WHEN w IS NULL THEN 0
                      ELSE len(list_distinct(list_filter(
                               w, x -> x IN ({stop_list})))) END::bigint
                   AS sh
          FROM base)
        SELECT doc_id, n_words,
               round(mwl, 6) AS mean_word_len,
               round(af, 6) AS alpha_frac,
               sh AS stop_hits,
               (n_words BETWEEN 5 AND 100000)::int AS ok_word_count,
               COALESCE(mwl BETWEEN 3.0 AND 10.0, FALSE)::int
                 AS ok_mean_word_len,
               COALESCE(af >= 0.8, FALSE)::int AS ok_alpha,
               (sh >= 2)::int AS ok_stop,
               ((n_words BETWEEN 5 AND 100000)
                AND COALESCE(mwl BETWEEN 3.0 AND 10.0, FALSE)
                AND COALESCE(af >= 0.8, FALSE)
                AND sh >= 2)::int AS passes
        FROM stats"""

    sql["json_payload_stats"] = """
        WITH ev AS (
          SELECT event_type,
                 CASE WHEN event_id % 7 = 0 THEN '{broken' ELSE props END
                   AS props
          FROM events),
        vals AS (
          SELECT event_type, props,
                 -- json_valid guard: DuckDB's json_extract_string RAISES
                 -- on malformed JSON even inside TRY_CAST; the CASE keeps
                 -- the oracle alive on seeded poison payloads
                 CASE WHEN json_valid(props)
                      THEN json_extract_string(props, '$.k') END AS v
          FROM ev)
        SELECT event_type,
               count(*)::bigint AS n_rows,
               sum(CASE WHEN props IS NOT NULL AND json_valid(props)
                        THEN 1 ELSE 0 END)::bigint AS n_valid_json,
               count(v)::bigint AS n_with_key,
               count(TRY_CAST(v AS DOUBLE))::bigint AS n_numeric,
               round(avg(TRY_CAST(v AS DOUBLE)), 6) AS avg_value
        FROM vals GROUP BY event_type ORDER BY event_type"""

    sql["json_payload_violations"] = """
        WITH ev AS (
          SELECT event_id,
                 CASE WHEN event_id % 7 = 0 THEN '{broken'
                      WHEN event_id % 11 = 0 THEN '{"j": 1}'
                      WHEN event_id % 13 = 0 THEN '{"k": "oops"}'
                      ELSE props END AS props
          FROM events),
        vals AS (
          SELECT event_id, props,
                 CASE WHEN json_valid(props)
                      THEN json_extract_string(props, '$.k') END AS v
          FROM ev)
        SELECT event_id, 'invalid_json' AS reason FROM vals
        WHERE props IS NOT NULL AND NOT json_valid(props)
        UNION ALL
        SELECT event_id, 'missing:k' AS reason FROM vals
        WHERE v IS NULL
        UNION ALL
        SELECT event_id, 'non_numeric:k' AS reason FROM vals
        WHERE v IS NOT NULL AND TRY_CAST(v AS DOUBLE) IS NULL"""

    sql["topk_sample"] = """
        SELECT doc_id FROM (
          SELECT doc_id,
                 substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS h
          FROM documents)
        ORDER BY h ASC, doc_id ASC LIMIT 50"""

    sql["weighted_sample"] = """
        SELECT doc_id FROM (
          SELECT doc_id,
                 least(1.0, greatest(n_chars * 0.002, 0.0)) AS r
          FROM documents)
        WHERE r >= 1.0
           OR substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)
              < printf('%08x', least(CAST(round(r * 4294967296.0) AS BIGINT),
                                     4294967295))"""

    sql["turn_conformance"] = """
        WITH agg AS (
          SELECT l_orderkey,
                 count(*)::bigint AS n_turns,
                 (count(*) - count(l_linenumber))::bigint AS n_null_idx,
                 (count(l_linenumber)
                  - count(DISTINCT l_linenumber))::bigint AS n_dup_rows,
                 min(l_linenumber) AS min_idx,
                 max(l_linenumber) AS max_idx
          FROM lineitem GROUP BY l_orderkey)
        SELECT * FROM agg
        WHERE NOT (n_null_idx = 0 AND n_dup_rows = 0 AND min_idx = 1
                   AND max_idx = 1 + n_turns - 1)"""

    sql["source_share_caps"] = """
        WITH docs AS (
          SELECT doc_id, nullif(source, 'src7') AS source FROM documents),
        counts AS (
          SELECT source, count(*)::double AS n
          FROM docs GROUP BY source),
        tot AS (SELECT sum(n) AS t FROM counts),
        rates AS (
          SELECT source, least(1.0, 0.03 * t / n) AS r FROM counts, tot)
        SELECT d.source, count(*)::bigint AS n_kept
        FROM docs d JOIN rates r ON d.source IS NOT DISTINCT FROM r.source
        WHERE r.r >= 1.0
           OR substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8)
              < printf('%08x', least(CAST(round(r.r * 4294967296.0) AS BIGINT),
                                     4294967295))
        GROUP BY d.source ORDER BY d.source NULLS FIRST"""

    def _fd_sql(name: str, det: str, dep: str) -> str:
        return f"""
          SELECT '{name}' AS fd,
                 count(*)::bigint AS n_keys,
                 sum(CASE WHEN d > 1 THEN 1 ELSE 0 END)::bigint
                   AS n_violating_keys,
                 sum(CASE WHEN d > 1 THEN n ELSE 0 END)::bigint
                   AS n_rows_in_violating_keys
          FROM (SELECT {det}, count(*) AS n,
                       count(DISTINCT {dep}) AS d
                FROM lineitem GROUP BY {det})"""

    sql["fd_check"] = (
        "SELECT * FROM ("
        + _fd_sql("orderkey_to_returnflag", "l_orderkey", "l_returnflag")
        + " UNION ALL "
        + _fd_sql("orderkey_to_linestatus", "l_orderkey", "l_linestatus")
        + " UNION ALL "
        + _fd_sql("partkey_to_suppkey", "l_partkey", "l_suppkey")
        + ") ORDER BY fd")

    sql["quality_percentiles"] = """
        SELECT doc_id, source, n_chars,
               round(percent_rank() OVER (
                       PARTITION BY source
                       ORDER BY n_chars ASC NULLS FIRST, doc_id ASC), 6)
                 AS pct_rank
        FROM documents ORDER BY doc_id"""

    sql["mixture_sample"] = """
        WITH counts AS (
          SELECT source, count(*)::double AS n
          FROM documents GROUP BY source),
        tg AS (
          SELECT source, n,
                 CASE WHEN source = 'src0' THEN 0.5
                      WHEN source = 'src1' THEN 0.3
                      WHEN source = 'src2' THEN 0.2 END AS tgt
          FROM counts),
        feas AS (
          SELECT min(n / tgt) FILTER (WHERE tgt > 0) AS t FROM tg),
        rates AS (
          SELECT source,
                 CASE WHEN tgt > 0 THEN least(1.0, tgt * t / n)
                      ELSE 0.0 END AS r
          FROM tg, feas)
        SELECT d.source, count(*)::bigint AS n_kept
        FROM documents d
        JOIN rates r ON d.source IS NOT DISTINCT FROM r.source
        WHERE r.r >= 1.0
           OR (r.r > 0.0
               AND substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8)
                   < printf('%08x',
                            least(CAST(round(r.r * 4294967296.0) AS BIGINT),
                                  4294967295)))
        GROUP BY d.source ORDER BY d.source"""

    # The SAME pattern strings the Spark operators compile (verified
    # count-identical under Java regex and RE2) — imported, not copied,
    # so the oracle can never drift from the engine.
    from schema_validata_spark.functions.text import (
        ENCODING_PATTERNS, MARKUP_PATTERNS)
    _enc = {k: p.replace("'", "''") for k, p in ENCODING_PATTERNS.items()}
    _mk = {k: p.replace("'", "''") for k, p in MARKUP_PATTERNS.items()}

    _enc_cnt = "\n".join(
        f", coalesce(len(regexp_extract_all(t, '{p}')), 0) AS c_{k}"
        for k, p in _enc.items())
    _enc_aggs = "\n".join(
        f", sum(c_{k})::bigint AS {k}_total,"
        f" sum(CASE WHEN c_{k} > 0 THEN 1 ELSE 0 END)::bigint AS {k}_docs"
        for k in _enc)
    _enc_dirty = " OR ".join(f"c_{k} > 0" for k in _enc)
    sql["encoding_qa"] = f"""
        WITH m AS (
          SELECT source,
                 CASE WHEN doc_id % 31 = 0
                        THEN text || chr(65533) || chr(195) || chr(169)
                      WHEN doc_id % 41 = 0
                        THEN chr(1) || chr(226) || chr(8364) || chr(8482)
                             || text
                      ELSE text END AS t
          FROM documents),
        c AS (SELECT source {_enc_cnt} FROM m)
        SELECT source, count(*)::bigint AS n_docs {_enc_aggs},
               sum(CASE WHEN {_enc_dirty} THEN 1 ELSE 0 END)::bigint
                 AS dirty_docs
        FROM c GROUP BY source ORDER BY source"""

    _mk_cnt = "\n".join(
        f", coalesce(len(regexp_extract_all(t, '{p}')), 0) AS {k}"
        for k, p in _mk.items())
    _mk_strip = "t"
    for p in _mk.values():
        _mk_strip = f"regexp_replace({_mk_strip}, '{p}', '', 'g')"
    sql["markup_stats"] = f"""
        WITH m AS (
          SELECT doc_id,
                 CASE WHEN doc_id % 13 = 0
                        THEN '<p>' || text
                             || '</p> see https://example.com/a?b=1'
                      WHEN doc_id % 17 = 0
                        THEN text || ' &amp;&#39;'
                      ELSE text END AS t
          FROM documents)
        SELECT doc_id {_mk_cnt},
               CASE WHEN length(t) > 0
                    THEN round((length(t) - length({_mk_strip}))
                               / length(t)::double, 6)
               END AS markup_char_ratio
        FROM m ORDER BY doc_id"""

    def _norm(q: str) -> str:
        return (f"regexp_replace(lower(trim({q}.text)),"
                r" '\s+', ' ', 'g')")

    sql["incremental_dedup"] = f"""
        WITH nb AS (
          SELECT doc_id, text, source FROM documents
          UNION ALL
          SELECT doc_id + 1000001, text, source FROM documents
          WHERE doc_id % 5 = 0)
        SELECT nb.doc_id, nb.source FROM nb
        WHERE NOT EXISTS (
          SELECT 1 FROM documents s WHERE s.doc_id % 5 = 0
            AND {_norm('s')} IS NOT DISTINCT FROM {_norm('nb')})
        ORDER BY nb.doc_id"""

    sql["line_dedup"] = r"""
        WITH m AS (
          SELECT doc_id,
                 'HEADER NAV' || chr(10) || text || chr(10) ||
                 CASE WHEN doc_id % 2 = 0 THEN 'SHARED FOOTER'
                      ELSE 'unique-' || CAST(doc_id AS VARCHAR) END AS t
          FROM documents WHERE text IS NOT NULL),
        w AS (SELECT doc_id, string_split(t, chr(10)) AS ws FROM m),
        l AS (SELECT doc_id, u.z[1] AS line,
                     CAST(u.z[2] AS BIGINT) AS pos
              FROM w, unnest(list_zip(ws, range(1, len(ws) + 1)))
                       AS u(z)),
        freq AS (
          SELECT line FROM (SELECT DISTINCT doc_id, line FROM l
                            WHERE length(trim(line)) > 0)
          GROUP BY line HAVING count(*) >= 50),
        kept AS (
          SELECT doc_id, pos, line FROM l
          WHERE length(trim(line)) = 0
             OR line NOT IN (SELECT line FROM freq)),
        rebuilt AS (
          SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS t2
          FROM kept GROUP BY doc_id)
        SELECT m.doc_id, coalesce(r.t2, '') AS text
        FROM m LEFT JOIN rebuilt r USING (doc_id)
        ORDER BY m.doc_id"""

    sql["sft_pairs"] = """
        WITH r AS (
          SELECT user_id, ts,
                 CASE WHEN event_id % 97 = 0 THEN NULL
                      WHEN event_type = 'signup' THEN 'system'
                      WHEN event_type IN ('click', 'view') THEN 'user'
                      ELSE 'assistant' END AS role,
                 CASE WHEN event_id % 89 != 0 THEN props END AS text
          FROM events),
        l AS (
          SELECT user_id, ts, role, text AS response_text,
                 lag(role) OVER w AS prev_role,
                 lag(text) OVER w AS prompt_text
          FROM r WINDOW w AS (PARTITION BY user_id ORDER BY ts))
        SELECT user_id, ts, prompt_text, response_text
        FROM l WHERE role = 'assistant' AND prev_role = 'user'"""

    sql["span_offsets"] = """
        WITH r AS (
          SELECT user_id, ts,
                 CASE WHEN event_id % 97 = 0 THEN NULL
                      WHEN event_type = 'signup' THEN 'system'
                      WHEN event_type IN ('click', 'view') THEN 'user'
                      ELSE 'assistant' END AS role,
                 length(coalesce(
                   CASE WHEN event_id % 89 != 0 THEN props END,
                   ''))::bigint AS len
          FROM events),
        o AS (
          SELECT user_id, ts, role,
                 coalesce(sum(len + 1) OVER (
                   PARTITION BY user_id ORDER BY ts
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                   0)::bigint AS start_char,
                 len
          FROM r)
        SELECT user_id, ts, role, start_char,
               (start_char + len)::bigint AS end_char
        FROM o WHERE role = 'assistant'"""

    sql["assemble_conversations"] = """
        WITH r AS (
          SELECT user_id, ts,
                 coalesce(CASE WHEN event_id % 89 != 0 THEN props END,
                          '') AS text
          FROM events)
        SELECT user_id,
               string_agg(text, chr(31) ORDER BY ts, text) AS doc,
               count(*)::bigint AS n_turns,
               length(string_agg(text, chr(31) ORDER BY ts, text))::bigint
                 AS n_chars
        FROM r GROUP BY user_id"""

    sql["role_conformance"] = """
        WITH r AS (
          SELECT user_id, ts,
                 CASE WHEN event_id % 97 = 0 THEN NULL
                      WHEN event_type = 'signup' THEN 'system'
                      WHEN event_type IN ('click', 'view') THEN 'user'
                      ELSE 'assistant' END AS role
          FROM events),
        l AS (
          SELECT user_id, ts, role,
                 coalesce(role, chr(1)) AS cur,
                 lag(coalesce(role, chr(1)))
                   OVER (PARTITION BY user_id ORDER BY ts) AS prev
          FROM r),
        f AS (
          SELECT user_id, ts, role, prev IS NULL AS is_first,
                 CASE WHEN prev IS NULL
                      THEN CASE WHEN cur IN ('system', 'user')
                                THEN 0 ELSE 1 END
                      ELSE CASE WHEN (prev = 'system' AND cur = 'user')
                                  OR (prev = 'user' AND cur = 'assistant')
                                  OR (prev = 'assistant' AND cur = 'user')
                                THEN 0 ELSE 1 END END AS bad
          FROM l)
        SELECT user_id, count(*)::bigint AS n_turns,
               max(CASE WHEN is_first AND bad = 1 THEN 1 ELSE 0
                   END)::bigint AS bad_first,
               sum(CASE WHEN NOT is_first AND bad = 1 THEN 1 ELSE 0
                   END)::bigint AS n_bad_transitions,
               sum(CASE WHEN role IS NULL THEN 1 ELSE 0 END)::bigint
                 AS n_null_roles,
               min(CASE WHEN bad = 1 THEN ts END) AS first_bad_order
        FROM f GROUP BY user_id
        HAVING max(CASE WHEN is_first AND bad = 1 THEN 1 ELSE 0 END) = 1
            OR sum(CASE WHEN NOT is_first AND bad = 1 THEN 1 ELSE 0
                   END) > 0
        ORDER BY user_id"""

    sql["conversation_forks"] = """
        WITH ev AS (
          SELECT user_id, ts, event_id, props FROM events
          WHERE user_id IS NOT NULL),
        rn0 AS (
          SELECT *, row_number() OVER (
                   PARTITION BY user_id ORDER BY ts, event_id) AS rn
          FROM ev),
        corpus AS (
          SELECT user_id, ts, event_id, props FROM ev
          UNION ALL
          SELECT user_id + 200000, ts, event_id, props FROM rn0
          WHERE user_id % 5 = 0 AND rn <= 3),
        t AS (
          SELECT user_id,
                 md5(coalesce(props, chr(30))) AS th,
                 row_number() OVER (
                   PARTITION BY user_id ORDER BY ts, event_id) AS rn,
                 count(*) OVER (PARTITION BY user_id) AS n
          FROM corpus),
        pre AS (
          SELECT user_id,
                 md5(string_agg(th, chr(31) ORDER BY rn)) AS prefix_key,
                 max(n)::bigint AS n_turns
          FROM t WHERE rn <= 3 GROUP BY user_id)
        SELECT prefix_key, count(*)::bigint AS n_conversations,
               min(user_id) AS example_conv,
               min(n_turns)::bigint AS min_turns,
               max(n_turns)::bigint AS max_turns
        FROM pre GROUP BY prefix_key HAVING count(*) >= 2"""

    sql["duplicate_conversations"] = """
        WITH corpus AS (
          SELECT user_id, ts, props FROM events
          UNION ALL
          SELECT user_id + 100000, ts, props FROM events
          WHERE user_id % 7 = 0),
        per_conv AS (
          SELECT user_id, list(props ORDER BY ts) AS seq,
                 count(*) AS n_turns
          FROM corpus GROUP BY user_id)
        SELECT min(user_id) AS example_conv,
               count(*)::bigint AS n_convs,
               min(n_turns)::bigint AS n_turns
        FROM per_conv GROUP BY seq HAVING count(*) > 1
        ORDER BY example_conv"""

    sql["vocab_stats"] = r"""
        WITH counts AS (
          SELECT token, count(*)::bigint AS n
          FROM (SELECT unnest(regexp_split_to_array(lower(trim(text)),
                                                    '\s+')) AS token
                FROM documents
                WHERE text IS NOT NULL AND length(trim(text)) > 0)
          GROUP BY token)
        SELECT sum(n)::bigint AS n_tokens,
               count(*)::bigint AS n_types,
               round(count(*) / sum(n)::double, 6) AS type_token_ratio,
               sum(CASE WHEN n = 1 THEN 1 ELSE 0 END)::bigint AS n_hapax,
               round(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END)
                     / count(*)::double, 6) AS hapax_share,
               round(max(n) / sum(n)::double, 6) AS top_share
        FROM counts"""

    sql["url_domains"] = f"""
        WITH m AS (
          SELECT doc_id,
                 CASE WHEN doc_id % 3 = 0
                      THEN text || ' see https://site'
                           || CAST(doc_id % 7 AS VARCHAR)
                           || '.example.com/p?id='
                           || CAST(doc_id AS VARCHAR)
                           || CASE WHEN doc_id % 2 = 0
                                   THEN ' and https://site'
                                        || CAST(doc_id % 7 AS VARCHAR)
                                        || '.example.com/q'
                                   ELSE '' END
                      ELSE text END AS t
          FROM documents WHERE text IS NOT NULL),
        u AS (
          SELECT doc_id,
                 unnest(regexp_extract_all(t, '{_mk["urls"]}')) AS url
          FROM m),
        d AS (
          SELECT doc_id,
                 lower(regexp_extract(url, '^https?://([^/:?#]+)', 1))
                   AS domain
          FROM u
          WHERE length(regexp_extract(url, '^https?://([^/:?#]+)', 1))
                > 0)
        SELECT domain, count(*)::bigint AS n_occurrences,
               count(DISTINCT doc_id)::bigint AS n_docs
        FROM d GROUP BY domain
        ORDER BY n_occurrences DESC, domain ASC LIMIT 10"""

    sql["fertility_stats"] = r"""
        WITH base AS (
          SELECT lang,
                 (CASE WHEN text IS NULL OR length(trim(text)) = 0
                       THEN 0
                       ELSE len(regexp_split_to_array(trim(text),
                                                      '\s+'))
                  END)::bigint AS w,
                 coalesce(len(regexp_extract_all(text,
                     '[A-Za-z]{1,4}|\d|[^\sA-Za-z\d]')), 0)::bigint AS t,
                 coalesce(length(text), 0)::bigint AS c
          FROM documents)
        SELECT lang, count(*)::bigint AS n_docs,
               sum(w)::bigint AS n_words,
               sum(t)::bigint AS n_bpe_tokens,
               sum(c)::bigint AS n_chars,
               CASE WHEN sum(w) > 0
                    THEN round(sum(t) / sum(w)::double, 6) END
                 AS fertility,
               CASE WHEN sum(t) > 0
                    THEN round(sum(c) / sum(t)::double, 6) END
                 AS chars_per_token
        FROM base GROUP BY lang ORDER BY lang"""

    sql["turn_latency"] = """
        WITH g AS (
          SELECT user_id,
                 epoch(ts) - epoch(lag(ts) OVER (
                   PARTITION BY user_id ORDER BY ts)) AS gap
          FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL)
        SELECT user_id, count(*)::bigint AS n_events,
               count(gap)::bigint AS n_gaps,
               round(avg(gap), 3) AS mean_gap_s,
               round(quantile_cont(gap, 0.5), 3) AS median_gap_s,
               round(quantile_cont(gap, 0.95), 3) AS p95_gap_s,
               round(max(gap), 3) AS max_gap_s
        FROM g GROUP BY user_id ORDER BY user_id"""

    sql["tool_chain_ngrams"] = """
        WITH seq AS (
          SELECT event_type,
                 lag(event_type, 2) OVER w AS g0,
                 lag(event_type, 1) OVER w AS g1,
                 row_number() OVER w AS rn
          FROM events WHERE user_id IS NOT NULL
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
        SELECT [g0, g1, event_type] AS gram,
               count(*)::bigint AS n_occurrences
        FROM seq WHERE rn >= 3 GROUP BY 1"""

    sql["tool_transitions"] = """
        WITH t AS (
          SELECT event_type AS value,
                 lag(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id)
                   AS prev_value
          FROM events WHERE user_id IS NOT NULL)
        SELECT prev_value, value, count(*)::bigint AS n
        FROM t GROUP BY prev_value, value
        ORDER BY n DESC, prev_value ASC NULLS FIRST, value ASC"""

    sql["dup_share_by_source"] = r"""
        WITH corpus AS (
          SELECT text, source FROM documents
          UNION ALL
          SELECT text, source FROM documents WHERE doc_id % 9 = 0),
        c AS (
          SELECT source, count(*) OVER (
                   PARTITION BY regexp_replace(lower(trim(text)),
                                               '\s+', ' ', 'g'))
                   AS copies
          FROM corpus)
        SELECT source, count(*)::bigint AS n_docs,
               sum(CASE WHEN copies > 1 THEN 1 ELSE 0 END)::bigint
                 AS n_dup_rows,
               CASE WHEN count(*) > 0 THEN
                 round(sum(CASE WHEN copies > 1 THEN 1 ELSE 0 END)
                       / count(*)::double, 6) END AS dup_share
        FROM c GROUP BY source ORDER BY source"""

    sql["ngram_diversity"] = r"""
        WITH toks AS (
          SELECT source,
                 regexp_split_to_array(lower(trim(text)), '\s+') AS ws
          FROM documents
          WHERE text IS NOT NULL AND length(trim(text)) > 0),
        g AS (
          SELECT source, ws[u] || ' ' || ws[u + 1] AS gram
          FROM toks, unnest(range(1, len(ws))) AS t(u)
          WHERE len(ws) >= 2)
        SELECT source, count(*)::bigint AS n_ngrams,
               count(DISTINCT gram)::bigint AS n_distinct,
               CASE WHEN count(*) > 0 THEN
                 round(count(DISTINCT gram) / count(*)::double, 6) END
                 AS distinct_ratio
        FROM g GROUP BY source ORDER BY source"""

    sql["vocab_drift"] = r"""
        WITH a AS (
          SELECT text FROM documents WHERE doc_id % 2 = 0),
        b AS (
          SELECT CASE WHEN doc_id % 5 = 1
                      THEN text || ' driftmarker driftmarker'
                      ELSE text END AS text
          FROM documents WHERE doc_id % 2 = 1),
        ca AS (
          SELECT t AS token, count(*)::bigint AS n_a
          FROM (SELECT unnest(regexp_split_to_array(
                    lower(trim(text)), '\s+')) AS t
                FROM a WHERE text IS NOT NULL
                  AND length(trim(text)) > 0)
          GROUP BY t),
        cb AS (
          SELECT t AS token, count(*)::bigint AS n_b
          FROM (SELECT unnest(regexp_split_to_array(
                    lower(trim(text)), '\s+')) AS t
                FROM b WHERE text IS NOT NULL
                  AND length(trim(text)) > 0)
          GROUP BY t),
        j AS (
          SELECT coalesce(ca.token, cb.token) AS token,
                 coalesce(n_a, 0)::bigint AS n_a,
                 coalesce(n_b, 0)::bigint AS n_b
          FROM ca FULL OUTER JOIN cb ON ca.token = cb.token),
        tot AS (SELECT sum(n_a) AS ta, sum(n_b) AS tb FROM j)
        SELECT token, n_a, n_b,
               round(CASE WHEN ta > 0 THEN n_a / ta::double
                          ELSE 0.0 END, 6) AS share_a,
               round(CASE WHEN tb > 0 THEN n_b / tb::double
                          ELSE 0.0 END, 6) AS share_b,
               round(CASE WHEN tb > 0 THEN n_b / tb::double
                          ELSE 0.0 END
                     - CASE WHEN ta > 0 THEN n_a / ta::double
                            ELSE 0.0 END, 6) AS delta
        FROM j, tot
        ORDER BY abs(round(CASE WHEN tb > 0 THEN n_b / tb::double
                                ELSE 0.0 END
                           - CASE WHEN ta > 0 THEN n_a / ta::double
                                  ELSE 0.0 END, 6)) DESC, token ASC
        LIMIT 25"""

    sql["derived_consistency"] = """
        WITH m AS (
          SELECT doc_id,
                 CASE WHEN doc_id % 97 = 0 THEN NULL
                      WHEN doc_id % 23 = 0 THEN n_chars + 7
                      ELSE n_chars END AS stored,
                 length(text)::bigint AS recomputed
          FROM documents)
        SELECT doc_id, stored, recomputed FROM m
        WHERE stored IS DISTINCT FROM recomputed
        ORDER BY doc_id"""

    sql["role_share"] = """
        WITH r AS (
          SELECT user_id,
                 CASE WHEN event_id % 97 = 0 THEN NULL
                      WHEN event_type = 'signup' THEN 'system'
                      WHEN event_type IN ('click', 'view') THEN 'user'
                      ELSE 'assistant' END AS role
          FROM events)
        SELECT user_id, count(*)::bigint AS n_turns,
               round(count(*)::double, 6) AS total_weight,
               round(sum(CASE WHEN role = 'assistant' THEN 1.0
                              ELSE 0.0 END)::double, 6)
                 AS focus_weight,
               CASE WHEN count(*) > 0 THEN
                 round(sum(CASE WHEN role = 'assistant' THEN 1.0
                                ELSE 0.0 END)::double
                       / count(*)::double, 6) END AS focus_share
        FROM r GROUP BY user_id ORDER BY user_id"""

    sql["unigram_scores"] = r"""
        WITH toks AS (
          SELECT doc_id,
                 unnest(regexp_split_to_array(lower(trim(text)),
                                              '\s+')) AS token
          FROM documents
          WHERE text IS NOT NULL AND length(trim(text)) > 0),
        counts AS (
          SELECT token, count(*)::BIGINT AS n FROM toks GROUP BY token),
        tot AS (SELECT sum(n) AS N, count(*) AS D FROM counts),
        prm AS (SELECT (N + least(200, D) + 1)::DOUBLE AS denom FROM tot),
        vocab AS (
          SELECT token, n FROM counts
          ORDER BY n DESC, token ASC LIMIT 200),
        lm AS (
          SELECT token, round(ln((n + 1)::DOUBLE / denom), 8) AS logp
          FROM vocab, prm),
        oov AS (SELECT round(ln(1.0 / denom), 8) AS logp FROM prm)
        SELECT t.doc_id AS id, count(*)::BIGINT AS n_tokens,
               round(-sum(coalesce(lm.logp, oov.logp))
                     / count(*)::DOUBLE, 4) AS avg_neg_logp
        FROM toks t LEFT JOIN lm USING (token), oov
        GROUP BY 1"""

    sql["fd_violations"] = """
        WITH per AS (
          SELECT l_orderkey, CAST(l_returnflag AS VARCHAR) AS dep_value,
                 count(*)::bigint AS n_rows
          FROM lineitem WHERE l_returnflag IS NOT NULL
          GROUP BY l_orderkey, l_returnflag),
        w AS (
          SELECT *,
                 count(*) OVER (PARTITION BY l_orderkey)::bigint
                   AS n_distinct_vals,
                 -- struct max = lexicographic (n_rows, dep_value):
                 -- greatest count wins, ties by greatest value —
                 -- identical to Spark's max(struct(n_rows, dep_value))
                 max(struct_pack(n := n_rows, d := dep_value))
                   OVER (PARTITION BY l_orderkey) AS best
          FROM per)
        SELECT l_orderkey, dep_value, n_rows, n_distinct_vals,
               (n_rows = best.n AND dep_value = best.d) AS is_majority
        FROM w WHERE n_distinct_vals > 1
        ORDER BY l_orderkey, dep_value"""

    def _ck_sql(name: str, cols: list[str]) -> str:
        nn = " AND ".join(f"{c} IS NOT NULL" for c in cols)
        keys = ", ".join(cols)
        return f"""
          SELECT '{name}' AS key_name,
                 (SELECT count(*) FROM lineitem)::bigint AS n_rows,
                 (SELECT count(*) FROM lineitem
                   WHERE NOT ({nn}))::bigint AS n_null_rows,
                 count(*)::bigint AS n_distinct,
                 sum(n - 1)::bigint AS n_extra_rows,
                 (sum(n - 1) = 0 AND (SELECT count(*) FROM lineitem
                                       WHERE NOT ({nn})) = 0) AS is_unique
          FROM (SELECT {keys}, count(*) AS n FROM lineitem
                WHERE {nn} GROUP BY {keys})"""

    sql["candidate_keys"] = (
        "SELECT * FROM ("
        + _ck_sql("line_pk", ["l_orderkey", "l_linenumber"])
        + " UNION ALL "
        + _ck_sql("orderkey_only", ["l_orderkey"])
        + " UNION ALL "
        + _ck_sql("shipdate_only", ["l_shipdate"])
        + ") ORDER BY key_name")

    sql["dup_cluster_sizes"] = (
        f"WITH RECURSIVE {_cc_ctes}, "
        "sizes AS (SELECT cluster_id, count(*)::bigint AS cluster_size "
        "FROM cl GROUP BY cluster_id) "
        "SELECT cluster_size, count(*)::bigint AS n_clusters, "
        "sum(cluster_size)::bigint AS n_docs "
        "FROM sizes GROUP BY cluster_size ORDER BY cluster_size")

    # Exact-integer OLS replay (statqa.quality_trend): micro-unit
    # bigint moment sums, one double division, integer micro rounding
    # — regr_slope's float accumulation order flips the 6th decimal
    # between engines (observed in the round-3 driver battery).
    sql["quality_trend"] = """
        WITH per AS (
          SELECT CAST(event_type AS VARCHAR) AS "group",
                 date_trunc('week', ts) AS wk,
                 round(round(avg(value), 6) * 1000000.0)::bigint AS y,
                 floor(epoch(date_trunc('week', ts)) / 604800)::bigint
                   AS x
          FROM events WHERE ts IS NOT NULL
          GROUP BY 1, 2
          HAVING round(avg(value), 6) IS NOT NULL),
        g AS (
          SELECT "group", count(*)::bigint AS n_buckets,
                 min(CAST(wk AS DATE)) AS first_week,
                 max(CAST(wk AS DATE)) AS last_week,
                 sum(x)::bigint AS sx, sum(x * x)::bigint AS sxx,
                 sum(y)::bigint AS sy, sum(x * y)::bigint AS sxy
          FROM per GROUP BY "group")
        SELECT "group", n_buckets, first_week, last_week,
               round(sy::double / n_buckets::double) / 1000000.0
                 AS overall_avg,
               CASE WHEN n_buckets >= 2
                         AND n_buckets * sxx - sx * sx <> 0
                 THEN round((n_buckets * sxy - sx * sy)::double
                            / (n_buckets * sxx - sx * sx)::double)
                      / 1000000.0
               END AS slope_per_week
        FROM g ORDER BY "group" """

    _msk = ("regexp_replace(regexp_replace(regexp_replace("
            "substr({c}, 1, 24), '[A-Z]', 'A', 'g'), "
            "'[a-z]', 'a', 'g'), '[0-9]', '9', 'g')")
    sql["mask_stability"] = f"""
        WITH u AS (
          SELECT CAST(ts AS DATE) AS p, 'event_type' AS column_name,
                 {_msk.format(c='event_type')} AS mask
          FROM events WHERE event_type IS NOT NULL
          UNION ALL
          SELECT CAST(ts AS DATE), 'props', {_msk.format(c='props')}
          FROM events WHERE props IS NOT NULL),
        c AS (SELECT p, column_name, mask, count(*)::bigint AS n
              FROM u GROUP BY 1, 2, 3),
        -- struct max = lexicographic (n, mask): greatest count wins,
        -- ties by greatest mask — same as Spark's max(struct(n, mask))
        d AS (SELECT p, column_name,
                     max(struct_pack(n := n, m := mask)) AS best
              FROM c GROUP BY 1, 2),
        pd AS (SELECT column_name, best.m AS dom, count(*)::bigint AS np
               FROM d GROUP BY 1, 2),
        s AS (SELECT column_name, sum(np)::bigint AS n_partitions,
                     count(*)::bigint AS n_dominant_masks,
                     max(struct_pack(np := np, m := dom)) AS top
              FROM pd GROUP BY 1)
        SELECT column_name, n_partitions, n_dominant_masks,
               top.m AS top_mask, top.np AS n_conforming,
               (n_dominant_masks = 1) AS stable
        FROM s ORDER BY column_name"""

    sql["fd_repair"] = """
        WITH per AS (
          SELECT l_orderkey, l_returnflag AS v, count(*)::bigint AS n
          FROM lineitem WHERE l_returnflag IS NOT NULL
          GROUP BY 1, 2),
        m AS (
          -- struct max = (count, value) lexicographic: majority wins,
          -- ties by greatest value — Spark's max(struct(n, dep))
          SELECT l_orderkey, max(struct_pack(n := n, v := v)) AS best
          FROM per GROUP BY 1)
        SELECT l.l_orderkey, l.l_linenumber,
               CASE WHEN l.l_returnflag IS NULL THEN NULL
                    ELSE coalesce(m.best.v, l.l_returnflag)
               END AS l_returnflag,
               (l.l_returnflag IS NOT NULL AND m.best.v IS NOT NULL
                AND l.l_returnflag <> m.best.v) AS was_repaired
        FROM lineitem l LEFT JOIN m
          ON l.l_orderkey IS NOT DISTINCT FROM m.l_orderkey
        ORDER BY l.l_orderkey, l.l_linenumber"""

    sql["verdict_flips"] = f"""
        WITH checks AS (
          SELECT l_returnflag AS pk, count(*)::bigint AS n_rows,
                 count(*) FILTER (WHERE l_quantity > {_QTY_MAX})::bigint
                   AS c_qty,
                 count(*) FILTER (WHERE l_discount > 0.05)::bigint
                   AS c_disc,
                 count(*) FILTER (WHERE l_tax < 0.02)::bigint AS c_tax
          FROM lineitem GROUP BY l_returnflag),
        u AS (
          SELECT pk, 'l_quantity' AS column_name, 'range_max' AS chk,
                 c_qty AS vc, n_rows, 0.5::double AS budget FROM checks
          UNION ALL
          SELECT pk, 'l_discount', 'range_max', c_disc, n_rows,
                 0.0001::double FROM checks
          UNION ALL
          SELECT pk, 'l_tax', 'range_min', c_tax, n_rows,
                 0.30::double FROM checks),
        j AS (
          SELECT pk, column_name, chk, vc,
                 CASE WHEN vc > 0 THEN 'fail' ELSE 'pass' END
                   AS status_before,
                 CASE WHEN vc::double / n_rows <= budget
                      THEN 'pass' ELSE 'fail' END AS status_after
          FROM u)
        SELECT pk AS partition_key, column_name, chk AS "check",
               status_before, status_after,
               vc AS count_before, vc AS count_after,
               CASE WHEN status_before = 'pass' AND status_after = 'fail'
                      THEN 'regressed'
                    WHEN status_before = 'fail' AND status_after = 'pass'
                      THEN 'fixed' END AS flip
        FROM j WHERE status_before <> status_after
        ORDER BY partition_key, column_name, chk"""

    def _ws_sql(col: str) -> str:
        return f"""
          SELECT '{col}' AS column_name,
                 count(v)::bigint AS n_values,
                 count(*) FILTER (WHERE regexp_matches(v,
                   '^[ \t\n\r\f]'))::bigint AS n_leading_ws,
                 count(*) FILTER (WHERE regexp_matches(v,
                   '[ \t\n\r\f]$'))::bigint AS n_trailing_ws,
                 count(*) FILTER (WHERE regexp_matches(v,
                   '[\n\r]'))::bigint AS n_embedded_newlines,
                 count(*) FILTER (WHERE v LIKE '%  %')::bigint
                   AS n_multi_spaces,
                 count(*) FILTER (WHERE contains(v, chr(9)))::bigint
                   AS n_tabs,
                 count(*) FILTER (WHERE trim(v, ' ') <> v)::bigint
                   AS n_trim_changed
          FROM (SELECT CAST({col} AS VARCHAR) AS v FROM documents)"""

    sql["whitespace_stats"] = (
        "SELECT * FROM (" + _ws_sql("text") + " UNION ALL "
        + _ws_sql("lang") + " UNION ALL " + _ws_sql("source")
        + ") ORDER BY column_name")

    sql["fuzzy_value_pairs"] = """
        WITH vals AS (
          SELECT lower(trim(c_name)) AS v, count(*)::bigint AS n
          FROM customer
          WHERE c_name IS NOT NULL AND length(lower(trim(c_name))) > 0
          GROUP BY 1),
        blocked AS (SELECT v, n, substr(v, 1, 15) AS blk FROM vals),
        ok AS (SELECT blk FROM blocked
               GROUP BY blk HAVING count(*) <= 5000),
        b2 AS (SELECT blocked.* FROM blocked JOIN ok USING (blk))
        SELECT a.v AS value_a, b.v AS value_b,
               a.n AS n_rows_a, b.n AS n_rows_b,
               levenshtein(a.v, b.v)::int AS dist
        FROM b2 a JOIN b2 b USING (blk)
        WHERE a.v < b.v AND abs(length(a.v) - length(b.v)) <= 1
          AND levenshtein(a.v, b.v) <= 1
        ORDER BY value_a, value_b"""

    # cohens_kappa / fleiss_kappa: exact-integer agreement replay —
    # every ratio is bigint/bigint with one double division, micro-
    # rounded (the quality_trend portability scheme)
    sql["cohens_kappa"] = """
        WITH base AS (
          SELECT (event_id // 2)::bigint AS item,
                 (event_id % 2)::int AS rater, event_type AS label
          FROM events WHERE event_type IS NOT NULL),
        a AS (SELECT item, max(label) AS la FROM base
              WHERE rater = 0 GROUP BY item),
        b AS (SELECT item, max(label) AS lb FROM base
              WHERE rater = 1 GROUP BY item),
        j AS (SELECT la, lb FROM a JOIN b USING (item)),
        tot AS (SELECT count(*)::bigint AS n_items,
                       coalesce(sum(CASE WHEN la = lb THEN 1 ELSE 0
                                    END), 0)::bigint AS n_agree
                FROM j),
        ma AS (SELECT la AS k, count(*)::bigint AS na FROM j GROUP BY 1),
        mb AS (SELECT lb AS k, count(*)::bigint AS nb FROM j GROUP BY 1),
        prod AS (SELECT coalesce(sum(na * nb), 0)::bigint AS s
                 FROM ma JOIN mb USING (k))
        SELECT n_items, n_agree,
          CASE WHEN n_items > 0 THEN
            round(1000000.0 * n_agree::double / n_items::double)
            / 1000000.0 END AS po,
          CASE WHEN n_items > 0 THEN
            round(1000000.0 * s::double / (n_items * n_items)::double)
            / 1000000.0 END AS pe,
          CASE WHEN n_items > 0
                    AND n_items * n_items - s <> 0 THEN
            round(1000000.0 * (n_items * n_agree - s)::double
                  / (n_items * n_items - s)::double)
            / 1000000.0 END AS kappa
        FROM tot, prod"""

    sql["fleiss_kappa"] = """
        WITH base AS (
          SELECT (event_id // 4)::bigint AS item, event_type AS label
          FROM events WHERE event_type IS NOT NULL),
        cell AS (SELECT item, label, count(*)::bigint AS c
                 FROM base GROUP BY 1, 2),
        per AS (SELECT item, sum(c)::bigint AS nr,
                       sum(c * (c - 1))::bigint AS s1
                FROM cell GROUP BY item),
        kept AS (SELECT item, s1 FROM per WHERE nr = 4),
        excl AS (SELECT count(*)::bigint AS n_items_excluded
                 FROM per WHERE nr <> 4),
        tot AS (SELECT count(*)::bigint AS n_items,
                       coalesce(sum(s1), 0)::bigint AS bigs
                FROM kept),
        tj AS (SELECT label, sum(c)::double AS t
               FROM cell JOIN kept USING (item) GROUP BY label),
        sq AS (SELECT coalesce(sum(t * t), 0.0) AS t2 FROM tj)
        -- fixed-expression doubles over exact integers; operation
        -- order mirrors the Spark build exactly
        SELECT n_items, n_items_excluded,
          CASE WHEN n_items > 0 THEN
            round(1000000.0 * (bigs::double
                  / (n_items::double * 4.0 * (4.0 - 1.0))))
            / 1000000.0 END AS p_bar,
          CASE WHEN n_items > 0 THEN
            round(1000000.0 * (t2
                  / (n_items::double * 4.0 * n_items::double * 4.0)))
            / 1000000.0 END AS p_e,
          CASE WHEN n_items > 0 AND
                    t2 / (n_items::double * 4.0 * n_items::double * 4.0)
                      <> 1.0 THEN
            round(1000000.0 *
              ((bigs::double / (n_items::double * 4.0 * (4.0 - 1.0))
                - t2 / (n_items::double * 4.0 * n_items::double * 4.0))
               / (1.0 - t2 / (n_items::double * 4.0
                              * n_items::double * 4.0))))
            / 1000000.0 END AS kappa
        FROM tot, excl, sq"""

    # simpsons_flips: DECIMAL(18,6) moments are exact in both engines
    # (the cross-product fits precision 38 without rounding)
    sql["simpsons_flips"] = """
        WITH src AS (
          SELECT CAST(l_returnflag AS VARCHAR) AS "group",
                 -- DECIMAL(19,6): INT128-backed in DuckDB so the
                 -- cross-product multiplies without int64 overflow;
                 -- the VALUES are identical to Spark's (18,6) build
                 CASE WHEN l_quantity IS NOT NULL
                           AND l_extendedprice IS NOT NULL
                   THEN CAST(l_quantity AS DECIMAL(19,6)) END AS x,
                 CASE WHEN l_quantity IS NOT NULL
                           AND l_extendedprice IS NOT NULL
                   THEN CAST(l_extendedprice AS DECIMAL(19,6)) END AS y
          FROM lineitem),
        per AS (
          SELECT "group", count(x)::bigint AS n_pairs,
                 sum(x) AS sx, sum(y) AS sy,
                 sum(x * y) AS sxy, sum(x * x) AS sxx
          FROM src GROUP BY "group"),
        tot AS (
          SELECT coalesce(sum(n_pairs), 0)::bigint AS tn,
                 sum(sx) AS tsx, sum(sy) AS tsy,
                 sum(sxy) AS tsxy, sum(sxx) AS tsxx
          FROM per),
        pooled AS (
          SELECT CASE WHEN tn >= 2 AND
                   tn::double * tsxx::double - tsx::double * tsx::double
                     <> 0 THEN
              round(1000000.0 *
                (tn::double * tsxy::double - tsx::double * tsy::double)
                / (tn::double * tsxx::double - tsx::double * tsx::double)
                ) / 1000000.0 END AS pooled_slope
          FROM tot),
        scored AS (
          SELECT "group", n_pairs,
            CASE WHEN n_pairs >= 2 AND
              n_pairs::double * sxx::double - sx::double * sx::double
                <> 0 THEN
              round(1000000.0 *
                (n_pairs::double * sxy::double - sx::double * sy::double)
                / (n_pairs::double * sxx::double - sx::double
                   * sx::double)) / 1000000.0 END AS slope
          FROM per)
        SELECT "group", n_pairs, slope, pooled_slope,
               (slope IS NOT NULL AND pooled_slope IS NOT NULL
                AND sign(slope) * sign(pooled_slope) < 0) AS flipped
        FROM scored, pooled ORDER BY "group" """

    sql["rate_significance"] = """
        WITH per AS (
          SELECT CAST(source AS VARCHAR) AS "group",
                 count(*)::bigint AS n,
                 sum(CASE WHEN n_chars < 500 THEN 1 ELSE 0
                     END)::bigint AS k
          FROM documents WHERE (n_chars < 500) IS NOT NULL
          GROUP BY 1),
        tot AS (SELECT coalesce(sum(n), 0)::bigint AS tn,
                       coalesce(sum(k), 0)::bigint AS tk FROM per),
        sc AS (
          SELECT "group", n, k, tn, tk,
                 k::double / n::double AS p1,
                 (tk - k)::double / (tn - n)::double AS p2,
                 tk::double / tn::double AS pool,
                 (tn - n)::double AS n2
          FROM per, tot)
        SELECT "group", n, k,
          round(1000000.0 * p1) / 1000000.0 AS rate,
          CASE WHEN n2 > 0 THEN round(1000000.0 * p2) / 1000000.0
            END AS rest_rate,
          CASE WHEN n2 > 0 AND pool > 0 AND pool < 1 THEN
            round(1000000.0 * ((p1 - p2)
              / sqrt(pool * (1.0 - pool)
                     * (1.0 / n::double + 1.0 / n2))))
            / 1000000.0 END AS z,
          CASE WHEN n2 > 0 AND pool > 0 AND pool < 1 THEN
            abs((p1 - p2) / sqrt(pool * (1.0 - pool)
                * (1.0 / n::double + 1.0 / n2))) >= 3.0
            END AS significant
        FROM sc ORDER BY "group" """

    sql["volume_changepoint"] = """
        WITH per AS (
          -- DuckDB's date_trunc('day') yields DATE; Spark keeps
          -- TIMESTAMP - align the bucket type
          SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS bucket,
                 count(*)::bigint AS c
          FROM events WHERE ts IS NOT NULL GROUP BY 1),
        tot AS (SELECT count(*)::bigint AS n_buckets,
                       coalesce(sum(c), 0)::bigint AS sy,
                       coalesce(sum(c * c), 0)::bigint AS syy
                FROM per),
        w AS (SELECT bucket, c,
                     sum(c) OVER (ORDER BY bucket
                                  ROWS UNBOUNDED PRECEDING)::bigint
                       AS cum,
                     row_number() OVER (ORDER BY bucket)::bigint AS t
              FROM per),
        cand AS (
          SELECT w.bucket, w.cum, w.t,
                 round(1000000.0 * abs(w.cum::double
                   - w.t::double * (tot.sy::double
                                    / tot.n_buckets::double)))::bigint
                   AS am
          FROM w, tot WHERE w.t < tot.n_buckets),
        best AS (SELECT * FROM cand
                 ORDER BY am DESC, epoch(bucket) ASC LIMIT 1)
        SELECT tot.n_buckets,
          CASE WHEN ok THEN best.bucket END AS change_point,
          CASE WHEN ok THEN round(1000000.0 *
            (best.cum::double / best.t::double)) / 1000000.0
            END AS pre_mean,
          CASE WHEN ok THEN round(1000000.0 *
            ((tot.sy - best.cum)::double
             / (tot.n_buckets - best.t)::double)) / 1000000.0
            END AS post_mean,
          CASE WHEN ok THEN round(1000000.0 * stat) / 1000000.0
            END AS cusum_stat,
          CASE WHEN ok THEN
            round(1000000.0 * stat) / 1000000.0 >= 1.5
            END AS shifted
        FROM tot LEFT JOIN best ON true,
        LATERAL (SELECT
          sqrt((tot.syy::double - tot.sy::double * tot.sy::double
                / tot.n_buckets::double) / tot.n_buckets::double)
            AS sd) s1,
        LATERAL (SELECT (best.am::double / 1000000.0)
                 / (s1.sd * sqrt(tot.n_buckets::double)) AS stat) s2,
        LATERAL (SELECT (best.am IS NOT NULL AND s1.sd > 0) AS ok) s3"""

    # weighted_k_sample: Efraimidis–Spirakis replay — same md5 draw,
    # same 9dp-quantized ln(u)/w score, same key tiebreak
    sql["weighted_k_sample"] = """
        SELECT doc_id, text, lang, source, n_chars FROM (
          SELECT d.*,
                 round(1000000000.0 * ln(
                   ((('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT
                     )::DOUBLE + 0.5) / 4294967296.0)
                   / n_chars::DOUBLE) / 1000000000.0 AS score
          FROM documents d
          WHERE n_chars IS NOT NULL AND n_chars > 0)
        ORDER BY score DESC, doc_id ASC LIMIT 100"""

    sql["null_rate_by_slice"] = """
        WITH src AS (
          SELECT event_type,
                 CASE WHEN value > 50 THEN value END AS v_hi,
                 CASE WHEN length(props) > 120 THEN props
                   END AS props_long
          FROM events),
        per AS (
          SELECT CAST(event_type AS VARCHAR) AS "group",
                 'v_hi' AS column_name, count(*)::bigint AS n,
                 sum(CASE WHEN v_hi IS NULL THEN 1 ELSE 0
                     END)::bigint AS n_null
          FROM src GROUP BY 1
          UNION ALL
          SELECT CAST(event_type AS VARCHAR), 'props_long',
                 count(*)::bigint,
                 sum(CASE WHEN props_long IS NULL THEN 1 ELSE 0
                     END)::bigint
          FROM src GROUP BY 1),
        tot AS (SELECT column_name, sum(n)::bigint AS tn,
                       sum(n_null)::bigint AS tk
                FROM per GROUP BY column_name),
        sc AS (
          SELECT "group", per.column_name, n, n_null,
                 n_null::double / n::double AS p1,
                 (tk - n_null)::double / (tn - n)::double AS p2,
                 tk::double / tn::double AS pool,
                 (tn - n)::double AS n2
          FROM per JOIN tot ON per.column_name = tot.column_name)
        SELECT "group", column_name, n, n_null,
          round(1000000.0 * p1) / 1000000.0 AS rate,
          CASE WHEN n2 > 0 THEN round(1000000.0 * p2) / 1000000.0
            END AS rest_rate,
          CASE WHEN n2 > 0 AND pool > 0 AND pool < 1 THEN
            round(1000000.0 * ((p1 - p2)
              / sqrt(pool * (1.0 - pool)
                     * (1.0 / n::double + 1.0 / n2))))
            / 1000000.0 END AS z,
          CASE WHEN n2 > 0 AND pool > 0 AND pool < 1 THEN
            abs((p1 - p2) / sqrt(pool * (1.0 - pool)
                * (1.0 / n::double + 1.0 / n2))) >= 3.0
            END AS significant
        FROM sc ORDER BY "group", column_name"""

    sql["last_digit_uniformity"] = """
        WITH counts AS (
          SELECT (CAST(floor(abs(o_totalprice)) AS BIGINT) % 10)::int
                   AS digit,
                 count(*)::bigint AS n
          FROM orders
          WHERE o_totalprice IS NOT NULL
            AND abs(o_totalprice) >= 10.0
          GROUP BY 1),
        tot AS (SELECT coalesce(sum(n), 0)::bigint AS t FROM counts)
        SELECT digit, n,
          round(1000000.0 * (n::double / t::double)) / 1000000.0
            AS share,
          0.1 AS uniform_share,
          round(1000000.0 * ((n::double - t::double / 10.0)
                             * (n::double - t::double / 10.0)
                             / (t::double / 10.0))) / 1000000.0
            AS chi2_term
        FROM counts, tot ORDER BY digit"""

    sql["mann_whitney"] = """
        WITH base AS (
          SELECT CAST(value AS DOUBLE) AS v,
                 CAST(event_type AS VARCHAR) AS s
          FROM events
          WHERE value IS NOT NULL
            AND NOT isnan(CAST(value AS DOUBLE))
            AND CAST(event_type AS VARCHAR) IN ('click', 'purchase')),
        cnt AS (
          SELECT v,
                 sum(CASE WHEN s = 'click' THEN 1 ELSE 0 END)::bigint
                   AS ca,
                 sum(CASE WHEN s = 'purchase' THEN 1 ELSE 0 END)::bigint
                   AS cb
          FROM base GROUP BY v),
        rk AS (
          SELECT ca, cb, (ca + cb) AS c,
                 (sum(ca + cb) OVER (ORDER BY v
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  - (ca + cb)) AS cum
          FROM cnt),
        agg AS (
          SELECT coalesce(sum(ca), 0)::bigint AS n_a,
                 coalesce(sum(cb), 0)::bigint AS n_b,
                 coalesce(sum(ca * (2 * cum + c + 1)), 0) AS r2a,
                 coalesce(sum(c * c * c - c), 0) AS ties
          FROM rk),
        d AS (
          SELECT n_a, n_b,
                 n_a::double AS na, n_b::double AS nb,
                 (n_a + n_b)::double AS n,
                 r2a::double AS r2ad, ties::double AS tiesd
          FROM agg),
        u AS (
          SELECT *,
                 (r2ad - na * (na + 1.0)) / 2.0 AS ua,
                 na * nb / 2.0 AS mu,
                 (na * nb / 12.0)
                   * ((n + 1.0) - tiesd / (n * (n - 1.0))) AS var
          FROM d)
        SELECT n_a, n_b,
          CASE WHEN n_a > 0 AND n_b > 0
            THEN round(1000000.0 * ua) / 1000000.0 END AS u_a,
          CASE WHEN n_a > 0 AND n_b > 0
            THEN round(1000000.0 * (na * nb - ua)) / 1000000.0
            END AS u_b,
          CASE WHEN n_a > 0
            THEN round(1000000.0 * ((r2ad / 2.0) / na)) / 1000000.0
            END AS mean_rank_a,
          CASE WHEN n_b > 0
            THEN round(1000000.0 * ((n * (n + 1.0) / 2.0 - r2ad / 2.0)
                                    / nb)) / 1000000.0
            END AS mean_rank_b,
          CASE WHEN n_a > 0 AND n_b > 0 AND var > 0
            THEN round(1000000.0 * ((ua - mu) / sqrt(var))) / 1000000.0
            END AS z,
          CASE WHEN n_a > 0 AND n_b > 0 AND var > 0
            THEN abs((ua - mu) / sqrt(var)) >= 3.0 END AS significant
        FROM u"""

    sql["rater_confusion"] = """
        WITH a AS (
          SELECT o_orderkey AS item,
                 max(CAST(o_orderstatus AS VARCHAR)) AS label_a
          FROM orders GROUP BY 1),
        b AS (
          SELECT o_orderkey AS item,
                 max(CASE WHEN o_orderkey % 7 = 0 THEN 'F'
                     ELSE CAST(o_orderstatus AS VARCHAR) END) AS label_b
          FROM orders WHERE o_orderkey % 3 <> 0 GROUP BY 1),
        j AS (SELECT label_a, label_b FROM a JOIN b USING (item)),
        cells AS (SELECT label_a, label_b, count(*)::bigint AS n
                  FROM j GROUP BY 1, 2),
        rt AS (SELECT label_a, sum(n)::bigint AS rt
               FROM cells GROUP BY 1),
        ct AS (SELECT label_b, sum(n)::bigint AS ct
               FROM cells GROUP BY 1),
        g AS (SELECT coalesce(sum(n), 0)::bigint AS gt FROM cells)
        SELECT label_a, label_b, n,
          round(1000000.0 * n::double / gt::double) / 1000000.0
            AS share,
          round(1000000.0 * n::double / rt::double) / 1000000.0
            AS row_share,
          round(1000000.0 * n::double / ct::double) / 1000000.0
            AS col_share,
          label_a = label_b AS agree
        FROM cells JOIN rt USING (label_a) JOIN ct USING (label_b), g
        ORDER BY label_a, label_b"""

    sql["volume_autocorrelation"] = """
        WITH obs AS (
          SELECT date_trunc('day', ts) AS bucket, count(*)::bigint AS n
          FROM events WHERE ts IS NOT NULL GROUP BY 1),
        bounds AS (SELECT min(bucket) AS lo, max(bucket) AS hi FROM obs),
        rng AS (
          SELECT unnest(generate_series(lo, hi, INTERVAL 1 DAY))
            AS bucket
          FROM bounds WHERE lo IS NOT NULL),
        filled AS (
          SELECT rng.bucket, coalesce(obs.n, 0)::bigint AS n
          FROM rng LEFT JOIN obs ON rng.bucket = obs.bucket),
        lags AS (SELECT unnest(range(1, 8))::int AS lag),
        pairs AS (
          SELECT l.lag, a.n AS x, b.n AS y
          FROM lags l
          JOIN filled a ON TRUE
          JOIN filled b
            ON b.bucket = a.bucket + to_days(l.lag)),
        stats AS (
          SELECT lag, count(*)::bigint AS np,
                 sum(x) AS sx, sum(y) AS sy, sum(x * y) AS sxy,
                 sum(x * x) AS sxx, sum(y * y) AS syy
          FROM pairs GROUP BY lag)
        SELECT l.lag, coalesce(np, 0)::bigint AS n_pairs,
          CASE WHEN np >= 2
                AND (np::double * sxx::double - sx::double * sx::double)
                    > 0
                AND (np::double * syy::double - sy::double * sy::double)
                    > 0
            THEN round(1000000.0
              * ((np::double * sxy::double - sx::double * sy::double)
                 / sqrt((np::double * sxx::double
                         - sx::double * sx::double)
                        * (np::double * syy::double
                           - sy::double * sy::double)))) / 1000000.0
            END AS acf
        FROM lags l LEFT JOIN stats ON l.lag = stats.lag
        ORDER BY l.lag"""

    # Micro-quantized OLS replay of statqa.zipf_fit: ln(rank)/ln(count)
    # pinned to integer micro-units, moments exact (hugeint products
    # summed as DECIMAL(38,0)), doubles only in the final combination.
    sql["zipf_fit"] = """
        WITH toks AS (
          SELECT lang AS grp,
                 unnest(regexp_split_to_array(lower(trim(text)),
                                              '\\s+')) AS tok
          FROM documents
          WHERE lang IS NOT NULL AND text IS NOT NULL
            AND length(trim(text)) > 0),
        counts AS (SELECT grp, tok, count(*)::bigint AS n
                   FROM toks GROUP BY 1, 2),
        ranked AS (SELECT grp, n, tok,
                     row_number() OVER (PARTITION BY grp
                                        ORDER BY n DESC, tok ASC) AS r
                   FROM counts),
        mu AS (SELECT grp, n,
                 CAST(round(ln(r::double) * 1000000.0) AS HUGEINT) AS x,
                 CAST(round(ln(n::double) * 1000000.0) AS HUGEINT) AS y
               FROM ranked),
        m AS (SELECT grp, count(*)::bigint AS n_tokens,
                     sum(n)::bigint AS total_tokens,
                     sum(CAST(x AS DECIMAL(38,0))) AS sx,
                     sum(CAST(y AS DECIMAL(38,0))) AS sy,
                     sum(CAST(x * x AS DECIMAL(38,0))) AS sxx,
                     sum(CAST(x * y AS DECIMAL(38,0))) AS sxy,
                     sum(CAST(y * y AS DECIMAL(38,0))) AS syy
              FROM mu GROUP BY grp),
        dd AS (SELECT *,
                 n_tokens::double * sxy::double
                   - sx::double * sy::double AS num,
                 n_tokens::double * sxx::double
                   - sx::double * sx::double AS den_x,
                 n_tokens::double * syy::double
                   - sy::double * sy::double AS den_y
               FROM m)
        SELECT grp AS "group", n_tokens, total_tokens,
          CASE WHEN n_tokens >= 2 AND den_x <> 0
            THEN round(num / den_x, 6) END AS zipf_slope,
          CASE WHEN n_tokens >= 2 AND den_x <> 0 AND den_y <> 0
            THEN round(num * num / (den_x * den_y), 6) END AS r2
        FROM dd ORDER BY "group" """

    # Pinned-op-order Wilson replay: p, denom, center, half computed
    # exactly as the Spark expression tree evaluates them.
    sql["wilson_rates"] = """
        WITH a AS (
          SELECT event_type AS grp, count(*)::bigint AS n,
                 sum(CASE WHEN value > 50 THEN 1 ELSE 0 END)::bigint
                   AS k
          FROM events
          WHERE event_type IS NOT NULL AND value IS NOT NULL
          GROUP BY 1),
        d AS (SELECT grp, n, k,
                k::double / n::double AS p,
                1.0 + 1.959964 * 1.959964 / n::double AS denom
              FROM a),
        e AS (SELECT *,
                (p + 1.959964 * 1.959964 / (2.0 * n::double)) / denom
                  AS center,
                (1.959964 * sqrt(p * (1.0 - p) / n::double
                   + 1.959964 * 1.959964
                     / (4.0 * n::double * n::double))) / denom AS half
              FROM d)
        SELECT grp AS "group", n, k, round(p, 6) AS rate,
               round(center - half, 6) AS wilson_lo,
               round(center + half, 6) AS wilson_hi
        FROM e ORDER BY "group" """

    # Quantized power sums exact via HUGEINT products -> DECIMAL(38,0),
    # then the same binomial central-moment expansion in doubles.
    sql["moment_stats"] = """
        WITH q AS (
          SELECT event_type AS grp,
                 CAST(round(value / 0.001) AS HUGEINT) AS qv
          FROM events
          WHERE event_type IS NOT NULL AND value IS NOT NULL),
        a AS (SELECT grp, count(*)::bigint AS n,
                sum(CAST(qv AS DECIMAL(38,0))) AS s1,
                sum(CAST(qv * qv AS DECIMAL(38,0))) AS s2,
                sum(CAST(qv * qv * qv AS DECIMAL(38,0))) AS s3,
                sum(CAST(qv * qv * qv * qv AS DECIMAL(38,0))) AS s4
              FROM q GROUP BY grp),
        d AS (SELECT grp, n, s1::double / n::double AS m,
                s2::double AS s2d, s3::double AS s3d,
                s4::double AS s4d, n::double AS nd
              FROM a),
        e AS (SELECT *,
                s2d / nd - m * m AS m2,
                s3d / nd - 3.0 * m * s2d / nd + 2.0 * m * m * m AS m3,
                s4d / nd - 4.0 * m * s3d / nd
                  + 6.0 * m * m * s2d / nd - 3.0 * m * m * m * m AS m4
              FROM d)
        SELECT grp AS "group", n,
               round(m * 0.001, 6) AS mean,
               round(sqrt(greatest(m2, 0.0)) * 0.001, 6) AS std,
               CASE WHEN n >= 2 AND m2 > 0
                 THEN round(m3 / pow(m2, 1.5), 6) END AS skewness,
               CASE WHEN n >= 2 AND m2 > 0
                 THEN round(m4 / (m2 * m2) - 3.0, 6) END
                 AS ex_kurtosis
        FROM e ORDER BY "group" """

    sql["completeness_trend"] = """
        WITH per AS (
          SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS bucket,
                 count(*)::bigint AS n,
                 sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END)
                   ::bigint AS n0,
                 sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END)
                   ::bigint AS n1,
                 sum(CASE WHEN props IS NULL THEN 1 ELSE 0 END)
                   ::bigint AS n2
          FROM events WHERE ts IS NOT NULL GROUP BY 1),
        lng AS (
          SELECT bucket, n, 'user_id' AS column_name, n0 AS n_null
          FROM per
          UNION ALL SELECT bucket, n, 'value', n1 FROM per
          UNION ALL SELECT bucket, n, 'props', n2 FROM per),
        j AS (SELECT *,
                sum(n) OVER (PARTITION BY column_name) AS tn,
                sum(n_null) OVER (PARTITION BY column_name) AS tk
              FROM lng),
        d AS (SELECT *, n_null::double / n::double AS rate,
                tk::double / tn::double AS p0
              FROM j),
        e AS (SELECT *,
                sqrt(p0 * (1.0 - p0) / n::double) AS den
              FROM d)
        SELECT bucket, column_name, n, n_null,
               round(rate, 6) AS null_rate,
               round(p0, 6) AS overall_rate,
               CASE WHEN den > 0
                 THEN round((rate - p0) / den, 6) END AS z,
               coalesce(abs(CASE WHEN den > 0
                   THEN round((rate - p0) / den, 6) END) >= 3.0,
                 FALSE) AS flagged
        FROM e ORDER BY bucket, column_name"""

    # Exact quantized Welch replay: per-slice (n, Σq, Σq²) as
    # DECIMAL(38,0); the rest side = totals − slice, still exact.
    sql["welch_t"] = """
        WITH per AS (
          SELECT event_type AS grp, count(*)::bigint AS n,
                 sum(CAST(CAST(round(value / 0.001) AS HUGEINT)
                          AS DECIMAL(38,0))) AS s,
                 sum(CAST(CAST(round(value / 0.001) AS HUGEINT)
                          * CAST(round(value / 0.001) AS HUGEINT)
                          AS DECIMAL(38,0))) AS ss
          FROM events
          WHERE event_type IS NOT NULL AND value IS NOT NULL
          GROUP BY 1),
        tot AS (SELECT sum(n)::bigint AS tn, sum(s) AS ts_,
                       sum(ss) AS tss FROM per),
        d AS (SELECT grp, n, (tn - n)::bigint AS n_out,
                n::double AS na, (tn - n)::double AS nb,
                s::double AS sa, (ts_ - s)::double AS sb,
                ss::double AS ssa, (tss - ss)::double AS ssb
              FROM per, tot),
        e AS (SELECT *, sa / na AS ma, sb / nb AS mb,
                (na * ssa - sa * sa) / (na * (na - 1.0)) AS va,
                (nb * ssb - sb * sb) / (nb * (nb - 1.0)) AS vb
              FROM d),
        f AS (SELECT *, va / na + vb / nb AS se2 FROM e),
        g2 AS (SELECT *, (ma - mb) / sqrt(se2) AS t,
                (se2 * se2)
                  / (va * va / (na * na * (na - 1.0))
                     + vb * vb / (nb * nb * (nb - 1.0))) AS dof,
                (n >= 2 AND n_out >= 2 AND se2 > 0) AS ok
               FROM f)
        SELECT grp AS "group", n AS n_in, n_out,
          round(ma * 0.001, 6) AS mean_in,
          CASE WHEN nb > 0 THEN round(mb * 0.001, 6) END AS mean_out,
          CASE WHEN ok THEN round(t, 6) END AS t,
          CASE WHEN ok THEN round(dof, 6) END AS dof,
          coalesce(abs(CASE WHEN ok THEN round(t, 6) END)
                   >= 1.959964, FALSE) AS significant
        FROM g2 ORDER BY "group" """

    sql["mad_location"] = """
        WITH base AS (
          SELECT source AS grp, n_chars::double AS v FROM documents
          WHERE source IS NOT NULL AND n_chars IS NOT NULL),
        med AS (SELECT grp, count(*)::bigint AS n,
                       quantile_cont(v, 0.5) AS m
                FROM base GROUP BY grp),
        gm AS (SELECT quantile_cont(v, 0.5) AS gmed FROM base),
        mad AS (SELECT quantile_cont(abs(v - gmed), 0.5) AS gmad
                FROM base, gm)
        SELECT grp AS "group", n, round(m, 6) AS median,
               round(gmed, 6) AS global_median,
               round(gmad, 6) AS global_mad,
               CASE WHEN gmad > 0
                 THEN round((m - gmed) / (1.4826 * gmad), 6) END
                 AS robust_z,
               coalesce(abs(CASE WHEN gmad > 0
                   THEN round((m - gmed) / (1.4826 * gmad), 6) END)
                 >= 3.5, FALSE) AS flagged
        FROM med, gm, mad ORDER BY "group" """

    sql["dup_trend"] = """
        WITH pk AS (
          SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS bucket,
                 user_id, event_type, count(*)::bigint AS c
          FROM events WHERE ts IS NOT NULL GROUP BY 1, 2, 3)
        SELECT bucket, sum(c)::bigint AS n_rows,
               count(*)::bigint AS n_keys,
               sum(CASE WHEN c > 1 THEN 1 ELSE 0 END)::bigint
                 AS dup_keys,
               sum(CASE WHEN c > 1 THEN c ELSE 0 END)::bigint
                 AS dup_rows,
               round(sum(CASE WHEN c > 1 THEN c ELSE 0 END)::double
                     / sum(c)::double, 6) AS dup_rate
        FROM pk GROUP BY bucket ORDER BY bucket"""

    sql["concentration_stats"] = """
        WITH pairs AS (
          SELECT 'lang' AS column_name,
                 coalesce(CAST(lang AS VARCHAR), '__null__') AS value
          FROM documents
          UNION ALL
          SELECT 'source',
                 coalesce(CAST(source AS VARCHAR), '__null__')
          FROM documents),
        counts AS (SELECT column_name, value, count(*)::bigint AS n
                   FROM pairs GROUP BY 1, 2),
        ranked AS (SELECT *,
                     row_number() OVER (PARTITION BY column_name
                       ORDER BY n DESC, value ASC) AS r
                   FROM counts),
        agg AS (SELECT column_name, sum(n)::bigint AS n_rows,
                  count(*)::bigint AS n_distinct,
                  max(CASE WHEN r = 1 THEN n END)::bigint AS top_,
                  sum(CASE WHEN r <= 5 THEN n ELSE 0 END)::bigint
                    AS topk,
                  sum(CAST(n AS DECIMAL(38,0))
                      * CAST(n AS DECIMAL(38,0))) AS ss
                FROM ranked GROUP BY column_name),
        h AS (SELECT *,
                ss::double / (n_rows::double * n_rows::double) AS hhi
              FROM agg)
        SELECT column_name, n_rows, n_distinct,
               round(top_::double / n_rows::double, 6) AS top_share,
               round(topk::double / n_rows::double, 6) AS topk_share,
               round(hhi, 6) AS hhi,
               round(1.0 / hhi, 6) AS effective_n
        FROM h ORDER BY column_name"""

    # NULL keys form their own group on BOTH engines (GROUP BY
    # semantics); the flag filter uses the 6dp-ROUNDED z, as Spark does.
    sql["key_volume_outliers"] = """
        WITH c AS (SELECT user_id AS k, count(*)::bigint AS n_rows
                   FROM events GROUP BY 1),
        m AS (SELECT quantile_cont(n_rows::double, 0.5) AS med FROM c),
        d AS (SELECT quantile_cont(abs(c.n_rows::double - m.med), 0.5)
                AS mad FROM c, m)
        SELECT c.k AS user_id, c.n_rows,
               round(m.med, 6) AS median_rows,
               round(d.mad, 6) AS mad_rows,
               round((c.n_rows::double - m.med) / (1.4826 * d.mad), 6)
                 AS robust_z
        FROM c, m, d
        WHERE d.mad > 0
          AND abs(round((c.n_rows::double - m.med)
                        / (1.4826 * d.mad), 6)) >= 2.0
        ORDER BY user_id"""

    sql["join_size_estimate"] = """
        WITH cl AS (SELECT CAST(o_custkey AS VARCHAR) AS key,
                           count(*)::bigint AS c
                    FROM orders WHERE o_custkey IS NOT NULL GROUP BY 1),
        cr AS (SELECT CAST(c_custkey AS VARCHAR) AS key,
                      count(*)::bigint AS c
               FROM customer WHERE c_custkey IS NOT NULL GROUP BY 1),
        hl AS (SELECT key FROM cl ORDER BY c DESC, key ASC LIMIT 50),
        hr AS (SELECT key FROM cr ORDER BY c DESC, key ASC LIMIT 50),
        heads AS (SELECT DISTINCT key FROM
                    (SELECT key FROM hl UNION ALL SELECT key FROM hr)),
        heavy AS (SELECT coalesce(count(*), 0)::bigint AS n_heavy_keys,
                    coalesce(sum(CAST(cl.c AS DECIMAL(38,0))
                                 * CAST(cr.c AS DECIMAL(38,0))),
                             0) AS heavy_pairs
                  FROM heads JOIN cl USING (key) JOIN cr USING (key)),
        hlt AS (SELECT coalesce(sum(c), 0)::bigint AS l_head_rows,
                       coalesce(count(*), 0)::bigint AS l_head_keys
                FROM heads JOIN cl USING (key)),
        hrt AS (SELECT coalesce(sum(c), 0)::bigint AS r_head_rows,
                       coalesce(count(*), 0)::bigint AS r_head_keys
                FROM heads JOIN cr USING (key)),
        lt AS (SELECT coalesce(sum(c), 0)::bigint AS left_rows,
                      coalesce(count(*), 0)::bigint AS left_keys
               FROM cl),
        rt AS (SELECT coalesce(sum(c), 0)::bigint AS right_rows,
                      coalesce(count(*), 0)::bigint AS right_keys
               FROM cr),
        x AS (SELECT *,
                (left_rows - l_head_rows)::double AS tl,
                (right_rows - r_head_rows)::double AS tr,
                greatest((left_keys - l_head_keys)::double,
                         (right_keys - r_head_keys)::double) AS tk
              FROM lt, rt, heavy, hlt, hrt),
        y AS (SELECT *,
                CASE WHEN tk > 0 THEN tl * tr / tk ELSE 0.0 END
                  AS tail_est
              FROM x)
        SELECT left_rows, right_rows, left_keys, right_keys,
               n_heavy_keys, heavy_pairs::double AS heavy_pairs,
               round(tail_est, 2) AS tail_pairs_est,
               round(heavy_pairs::double + tail_est, 2) AS est_rows,
               CASE WHEN (heavy_pairs::double + tail_est) > 0
                 THEN round(heavy_pairs::double
                            / (heavy_pairs::double + tail_est), 6)
                 END AS heavy_share
        FROM y"""

    sql["transition_latency"] = """
        WITH base AS (
          SELECT user_id AS g, ts,
                 CASE WHEN event_id % 97 = 0 THEN NULL
                      WHEN event_type = 'signup' THEN 'system'
                      WHEN event_type IN ('click', 'view')
                        THEN 'user'
                      ELSE 'assistant' END AS role,
                 epoch_us(ts) AS m
          FROM events
          WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        lat AS (SELECT lag(role) OVER w AS from_role,
                       role AS to_role,
                       m - lag(m) OVER w AS gap
                FROM base
                WINDOW w AS (PARTITION BY g ORDER BY ts))
        SELECT from_role, to_role, count(*)::bigint AS n,
               round(sum(gap)::double / count(*)::double
                     / 1000000.0, 6) AS mean_s,
               round(quantile_cont(gap, 0.5) / 1000000.0, 6) AS p50_s,
               round(quantile_cont(gap, 0.95) / 1000000.0, 6)
                 AS p95_s,
               round(max(gap)::double / 1000000.0, 6) AS max_s
        FROM lat WHERE gap IS NOT NULL
        GROUP BY 1, 2 ORDER BY 1, 2"""

    sql["turn_count_histogram"] = """
        WITH c AS (SELECT user_id, count(*)::bigint AS n FROM events
                   WHERE user_id IS NOT NULL GROUP BY 1),
        bands AS (SELECT CAST(floor(log2(n::double)) AS INT)
                    AS bucket,
                    count(*)::bigint AS n_groups,
                    sum(n)::bigint AS n_rows
                  FROM c GROUP BY 1),
        tot AS (SELECT sum(n_groups)::bigint AS tg,
                       sum(n_rows)::bigint AS tr FROM bands)
        SELECT bucket,
               CAST(pow(2.0, bucket) AS BIGINT) AS min_turns,
               CAST(pow(2.0, bucket + 1) AS BIGINT) - 1 AS max_turns,
               n_groups, n_rows,
               round(n_groups::double / tg::double, 6)
                 AS share_groups,
               round(n_rows::double / tr::double, 6) AS share_rows
        FROM bands, tot ORDER BY bucket"""

    _grid_steps = (0.01, 0.25, 0.5, 1.0, 5.0, 10.0, 100.0)
    _grid_rows = " UNION ALL ".join(
        f"SELECT CAST({s} AS DOUBLE) AS step, n, g{i} AS n_on_grid, "
        f"CASE WHEN n > 0 THEN round(g{i}::double / n::double, 6) END "
        f"AS share FROM w"
        for i, s in enumerate(_grid_steps))
    sql["value_grid_stats"] = f"""
        WITH w AS (
          SELECT count(value)::bigint AS n,
                 {', '.join(
                     f"sum(CASE WHEN value IS NOT NULL AND "
                     f"abs(value / {s} - round(value / {s})) < 1e-9 "
                     f"THEN 1 ELSE 0 END)::bigint AS g{i}"
                     for i, s in enumerate(_grid_steps))}
          FROM events)
        {_grid_rows} ORDER BY step"""

    sql["heavy_hitters"] = """
        WITH t AS (SELECT count(user_id)::bigint AS n FROM events)
        SELECT CAST(user_id AS VARCHAR) AS value,
               count(*)::bigint AS count,
               round(count(*)::double / (SELECT n FROM t), 6) AS share
        FROM events WHERE user_id IS NOT NULL
        GROUP BY 1
        HAVING count(*) > 0.008 * (SELECT n FROM t)
        ORDER BY value"""

    # width_bucket mirrored manually (same emulation as the 1-D
    # histogram oracles): 0 below lo, n+1 at/above hi.
    sql["numeric_histogram2d"] = """
        WITH base AS (
          SELECT value AS x, CAST(hour(ts) AS DOUBLE) AS y FROM events
          WHERE value IS NOT NULL AND ts IS NOT NULL),
        cells AS (
          SELECT CAST(CASE WHEN x < 0 THEN 0 WHEN x >= 500 THEN 11
                   ELSE floor(x / 50.0) + 1 END AS INT) AS x_bucket,
                 CAST(CASE WHEN y < 0 THEN 0 WHEN y >= 24 THEN 13
                   ELSE floor(y / 2.0) + 1 END AS INT) AS y_bucket,
                 count(*)::bigint AS count
          FROM base GROUP BY 1, 2),
        t AS (SELECT sum(count)::bigint AS n FROM cells)
        SELECT x_bucket, y_bucket, count,
               round(count::double / (SELECT n FROM t), 6) AS share
        FROM cells ORDER BY x_bucket, y_bucket"""

    sql["json_flatten"] = """
        SELECT event_id, ts, user_id, event_type, value, props,
               CASE WHEN props IS NOT NULL
                 THEN json_valid(props) END AS json_ok,
               TRY_CAST(CASE WHEN json_valid(props)
                   THEN json_extract_string(props, '$.k') END
                 AS BIGINT) AS k,
               CASE WHEN json_valid(props)
                 THEN json_extract_string(props, '$.missing') END
                 AS missing
        FROM events ORDER BY event_id"""

    sql["monotone_trend"] = """
        WITH per AS (
          SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS bucket,
                 round(max(CAST(event_id AS DOUBLE)), 6) AS value
          FROM events
          WHERE ts IS NOT NULL AND event_id IS NOT NULL
          GROUP BY 1),
        w AS (SELECT *, lag(value) OVER (ORDER BY bucket)
                AS prev_value FROM per)
        SELECT bucket, value, prev_value,
               round(value - prev_value, 6) AS delta,
               coalesce(value < prev_value, FALSE) AS regressed
        FROM w ORDER BY bucket"""

    # collect_set-of-new-values replay: DuckDB list() FILTER yields
    # NULL on empty, Spark collect_set yields [] — coalesce closes it.
    sql["value_novelty_trend"] = """
        WITH act AS (
          SELECT DISTINCT
            CASE WHEN json_valid(props)
              THEN json_extract_string(props, '$.k') END AS v,
            strftime(date_trunc('day', ts), '%Y-%m-%d') AS b
          FROM events
          WHERE ts IS NOT NULL AND props IS NOT NULL
            AND (CASE WHEN json_valid(props)
                 THEN json_extract_string(props, '$.k') END)
                IS NOT NULL),
        f AS (SELECT v, min(b) AS fb FROM act GROUP BY v),
        mix AS (
          SELECT act.b, count(*)::bigint AS n_values,
                 sum(CASE WHEN act.b = f.fb THEN 1 ELSE 0 END)::bigint
                   AS n_new,
                 coalesce(list_slice(list_sort(
                     list(act.v) FILTER (act.b = f.fb)), 1, 10),
                   []) AS first_values
          FROM act JOIN f ON act.v = f.v GROUP BY act.b)
        SELECT b AS bucket, n_values, n_new,
               round(n_new::double / n_values::double, 6) AS share_new,
               first_values
        FROM mix ORDER BY bucket"""

    # first-row detection via lag(ts) (a prev event_type can be a
    # legitimate NULL value); change = IS DISTINCT FROM (null-safe).
    sql["scd2_history"] = """
        WITH base AS (
          SELECT user_id AS k, ts, event_type FROM events
          WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        m AS (SELECT *, lag(event_type) OVER w AS prev,
                     lag(ts) OVER w AS prev_ts
              FROM base WINDOW w AS (PARTITION BY k ORDER BY ts)),
        chg AS (SELECT k, ts, event_type FROM m
                WHERE prev_ts IS NULL
                   OR event_type IS DISTINCT FROM prev),
        out AS (SELECT k, ts AS valid_from,
                  lead(ts) OVER (PARTITION BY k ORDER BY ts)
                    AS valid_to,
                  event_type
                FROM chg)
        SELECT k AS user_id, valid_from, valid_to, event_type
        FROM out ORDER BY user_id, valid_from"""

    sql["crosstab_residuals"] = """
        WITH cells AS (
          SELECT CAST(lang AS VARCHAR) AS value_a,
                 CAST(source AS VARCHAR) AS value_b,
                 count(*)::bigint AS n
          FROM documents
          WHERE lang IS NOT NULL AND source IS NOT NULL
          GROUP BY 1, 2),
        m AS (SELECT *,
                sum(n) OVER (PARTITION BY value_a) AS ra_,
                sum(n) OVER (PARTITION BY value_b) AS cb_,
                sum(n) OVER () AS t_
              FROM cells),
        d AS (SELECT *,
                ra_::double * cb_::double / t_::double AS e
              FROM m),
        d2 AS (SELECT *,
                 sqrt(e * (1.0 - ra_::double / t_::double)
                        * (1.0 - cb_::double / t_::double)) AS den
               FROM d)
        SELECT value_a, value_b, n, round(e, 6) AS expected,
               CASE WHEN den > 0
                 THEN round((n::double - e) / den, 6) END AS residual,
               coalesce(abs(CASE WHEN den > 0
                   THEN round((n::double - e) / den, 6) END) >= 2.0,
                 FALSE) AS flagged
        FROM d2 ORDER BY value_a, value_b"""

    sql["weighted_k_per_lang"] = """
        SELECT doc_id, text, lang, source, n_chars FROM (
          SELECT d.*,
                 row_number() OVER (
                   PARTITION BY lang
                   ORDER BY round(1000000000.0 * ln(
                       ((('0x' || substr(md5(doc_id::VARCHAR), 1, 8))
                         ::BIGINT)::DOUBLE + 0.5) / 4294967296.0)
                     / n_chars::DOUBLE) / 1000000000.0 DESC,
                     doc_id ASC) AS rk
          FROM documents d
          WHERE lang IS NOT NULL AND n_chars IS NOT NULL
            AND n_chars > 0)
        WHERE rk <= 20 ORDER BY doc_id"""

    # RE2 script spellings (\\p{Latin}) — same character sets as the
    # Java \\p{IsLatin} classes the Spark side counts with.
    sql["script_mix_stats"] = """
        WITH per AS (
          SELECT CAST(lang AS VARCHAR) AS grp,
                 sum(length(text))::bigint AS total,
                 sum(length(text) - length(regexp_replace(
                     text, '\\p{Latin}', '', 'g')))::bigint AS latin,
                 sum(length(text) - length(regexp_replace(
                     text, '\\p{Cyrillic}', '', 'g')))::bigint
                   AS cyrillic,
                 sum(length(text) - length(regexp_replace(
                     text, '\\p{Han}', '', 'g')))::bigint AS han,
                 sum(length(text) - length(regexp_replace(
                     text, '\\p{Arabic}', '', 'g')))::bigint AS arabic,
                 sum(length(text) - length(regexp_replace(
                     text, '[0-9]', '', 'g')))::bigint AS digit,
                 sum(length(text) - length(regexp_replace(
                     text, '\\s', '', 'g')))::bigint AS space
          FROM documents
          WHERE lang IS NOT NULL AND text IS NOT NULL
          GROUP BY 1),
        lng AS (
          SELECT grp, 'latin' AS script, latin AS n_chars, total
          FROM per
          UNION ALL SELECT grp, 'cyrillic', cyrillic, total FROM per
          UNION ALL SELECT grp, 'han', han, total FROM per
          UNION ALL SELECT grp, 'arabic', arabic, total FROM per
          UNION ALL SELECT grp, 'digit', digit, total FROM per
          UNION ALL SELECT grp, 'space', space, total FROM per
          UNION ALL SELECT grp, 'other',
            (total - latin - cyrillic - han - arabic - digit - space),
            total FROM per)
        SELECT grp AS "group", script, n_chars,
               CASE WHEN total > 0
                 THEN round(n_chars::double / total::double, 6) END
                 AS share
        FROM lng ORDER BY "group", script"""

    sql["coercion_failures"] = """
        WITH src AS (
          SELECT CASE WHEN event_id % 13 = 0
                   THEN 'x' || json_extract_string(props, '$.k')
                   ELSE json_extract_string(props, '$.k') END AS kv,
                 strftime(ts, '%Y-%m-%d') AS day_str
          FROM events)
        SELECT 'day_str' AS column_name, 'Datetime' AS data_type,
               count(day_str)::bigint AS n_values,
               (count(day_str)
                - count(try_strptime(day_str, '%Y-%m-%d')))::bigint
                 AS n_failed,
               CASE WHEN count(day_str) > 0 THEN round(
                 (count(day_str)
                  - count(try_strptime(day_str, '%Y-%m-%d')))::double
                 / count(day_str)::double, 6) END AS fail_rate
        FROM src
        UNION ALL
        SELECT 'kv', 'Integer', count(kv)::bigint,
               (count(kv) - count(CASE WHEN regexp_matches(
                   kv, '^\\s*[+-]?\\d+\\s*$') THEN 1 END))::bigint,
               CASE WHEN count(kv) > 0 THEN round(
                 (count(kv) - count(CASE WHEN regexp_matches(
                     kv, '^\\s*[+-]?\\d+\\s*$') THEN 1 END))::double
                 / count(kv)::double, 6) END
        FROM src
        ORDER BY column_name"""

    sql["partition_profiles"] = """
        WITH per AS (
          SELECT CAST(event_type AS VARCHAR) AS partition_key,
                 count(*)::bigint AS n_rows,
                 (count(*) - count(user_id))::bigint AS n0,
                 min(TRY_CAST(user_id AS DOUBLE)) AS mn0,
                 max(TRY_CAST(user_id AS DOUBLE)) AS mx0,
                 max(length(CAST(user_id AS VARCHAR)))::int AS ln0,
                 (count(*) - count(value))::bigint AS n1,
                 min(TRY_CAST(value AS DOUBLE)) AS mn1,
                 max(TRY_CAST(value AS DOUBLE)) AS mx1,
                 max(length(CAST(value AS VARCHAR)))::int AS ln1,
                 (count(*) - count(props))::bigint AS n2,
                 min(TRY_CAST(props AS DOUBLE)) AS mn2,
                 max(TRY_CAST(props AS DOUBLE)) AS mx2,
                 max(length(props))::int AS ln2
          FROM events GROUP BY 1)
        SELECT partition_key, 'user_id' AS column_name, n_rows,
               n0 AS n_null, mn0 AS min_value, mx0 AS max_value,
               ln0 AS max_length
        FROM per
        UNION ALL
        SELECT partition_key, 'value', n_rows, n1, mn1, mx1, ln1
        FROM per
        UNION ALL
        SELECT partition_key, 'props', n_rows, n2, mn2, mx2, ln2
        FROM per
        ORDER BY partition_key, column_name"""

    sql["null_runs"] = """
        WITH base AS (
          SELECT event_type AS p, event_id AS i,
                 CASE WHEN event_id % 50 < 10 THEN NULL
                   ELSE user_id END AS uv
          FROM events WHERE event_type IS NOT NULL),
        f1 AS (SELECT *, CASE WHEN uv IS NULL THEN 1 ELSE 0 END AS f
               FROM base),
        f2 AS (SELECT *, lag(f) OVER (PARTITION BY p ORDER BY i)
                 AS pf FROM f1),
        f3 AS (SELECT *,
                 sum(CASE WHEN pf IS NULL OR f <> pf THEN 1 ELSE 0
                     END) OVER (PARTITION BY p ORDER BY i
                       ROWS BETWEEN UNBOUNDED PRECEDING
                       AND CURRENT ROW) AS run_id
               FROM f2),
        runs AS (SELECT p, run_id, count(*)::bigint AS len
                 FROM f3 WHERE f = 1 GROUP BY p, run_id)
        SELECT p AS partition, 'uv' AS column_name,
               sum(CASE WHEN len >= 2 THEN 1 ELSE 0 END)::bigint
                 AS n_runs,
               max(len) AS max_run,
               sum(len)::bigint AS n_null_total
        FROM runs GROUP BY p
        HAVING sum(CASE WHEN len >= 2 THEN 1 ELSE 0 END) > 0
        ORDER BY partition, column_name"""

    sql["pairwise_psi"] = """
        WITH hist AS (
          SELECT CAST(event_type AS VARCHAR) AS pk,
                 'value' AS column_name,
                 CAST(CAST(CASE WHEN value < 0 THEN 0
                      WHEN value >= 500 THEN 11
                      ELSE floor(value / 50.0) + 1 END AS INT)
                   AS VARCHAR) AS bucket,
                 count(*)::bigint AS cnt
          FROM events WHERE value IS NOT NULL
          GROUP BY 1, 3),
        parts AS (SELECT DISTINCT column_name, pk FROM hist),
        buckets AS (SELECT DISTINCT column_name, bucket FROM hist),
        totals AS (SELECT column_name, pk, sum(cnt)::bigint AS t
                   FROM hist GROUP BY 1, 2),
        dense AS (
          SELECT p.column_name, p.pk, bu.bucket,
                 coalesce(h.cnt, 0)::double / t.t::double AS prob,
                 t.t
          FROM parts p
          JOIN buckets bu USING (column_name)
          LEFT JOIN hist h ON h.column_name = p.column_name
                          AND h.pk = p.pk AND h.bucket = bu.bucket
          JOIN totals t ON t.column_name = p.column_name
                       AND t.pk = p.pk)
        SELECT a.column_name, a.pk AS part_a, b.pk AS part_b,
               round(sum((a.prob - b.prob)
                         * ln((a.prob + 1e-6) / (b.prob + 1e-6))), 6)
                 AS psi,
               max(a.t)::bigint AS n_a, max(b.t)::bigint AS n_b
        FROM dense a
        JOIN dense b ON a.column_name = b.column_name
                    AND a.bucket = b.bucket AND a.pk < b.pk
        GROUP BY 1, 2, 3 ORDER BY 1, 2, 3"""

    sql["record_linkage"] = """
        WITH side AS (
          SELECT c_custkey AS cid,
                 CAST(c_nationkey AS VARCHAR) AS blk,
                 c_mktsegment AS seg,
                 CAST(CAST(floor(c_acctbal / 1000) AS BIGINT)
                   AS VARCHAR) AS band
          FROM customer WHERE c_nationkey IS NOT NULL),
        pairs AS (
          SELECT a.cid AS id_a, b.cid AS id_b,
                 (CASE WHEN a.seg IS NOT NULL AND b.seg IS NOT NULL
                   THEN 1 ELSE 0 END
                  + CASE WHEN a.band IS NOT NULL
                      AND b.band IS NOT NULL THEN 1 ELSE 0 END)::int
                   AS n_compared,
                 (CASE WHEN a.seg IS NOT NULL AND b.seg IS NOT NULL
                   AND a.seg = b.seg THEN 1 ELSE 0 END
                  + CASE WHEN a.band IS NOT NULL
                      AND b.band IS NOT NULL AND a.band = b.band
                    THEN 1 ELSE 0 END)::int AS n_matched,
                 (CASE WHEN a.seg IS NOT NULL AND b.seg IS NOT NULL
                   THEN 1.0 ELSE 0.0 END
                  + CASE WHEN a.band IS NOT NULL
                      AND b.band IS NOT NULL THEN 1.0 ELSE 0.0 END)
                   AS cw,
                 (CASE WHEN a.seg IS NOT NULL AND b.seg IS NOT NULL
                   AND a.seg = b.seg THEN 1.0 ELSE 0.0 END
                  + CASE WHEN a.band IS NOT NULL
                      AND b.band IS NOT NULL AND a.band = b.band
                    THEN 1.0 ELSE 0.0 END) AS mw
          FROM side a JOIN side b
            ON a.blk = b.blk AND a.cid < b.cid)
        SELECT id_a, id_b, n_compared, n_matched,
               round(mw / cw, 6) AS score
        FROM pairs
        WHERE cw > 0 AND round(mw / cw, 6) >= 1.0
        ORDER BY id_a, id_b"""

    c20 = _hex_threshold(0.2)
    sql["sample_bias_check"] = f"""
        WITH corpus AS (
          SELECT CAST(lang AS VARCHAR) AS g FROM documents
          WHERE lang IS NOT NULL),
        samp AS (
          SELECT CAST(lang AS VARCHAR) AS g FROM documents
          WHERE lang IS NOT NULL
            AND substr(md5(cast(doc_id as varchar)), 1, 8) < '{c20}'),
        cs AS (SELECT g, count(*)::bigint AS n_corpus FROM corpus
               GROUP BY g),
        ss AS (SELECT g, count(*)::bigint AS n_sample FROM samp
               GROUP BY g),
        j AS (SELECT cs.g,
                coalesce(ss.n_sample, 0)::bigint AS n_sample,
                cs.n_corpus
              FROM cs LEFT JOIN ss ON cs.g = ss.g),
        t AS (SELECT sum(n_sample)::bigint AS ts_,
                     sum(n_corpus)::bigint AS tc_ FROM j),
        d AS (SELECT *, n_sample::double / ts_::double AS ps,
                n_corpus::double / tc_::double AS pc
              FROM j, t),
        e AS (SELECT *,
                sqrt(pc * (1.0 - pc) / ts_::double) AS den FROM d)
        SELECT g AS "group", n_sample, n_corpus,
               CASE WHEN ts_ > 0 THEN round(ps, 6) END
                 AS share_sample,
               round(pc, 6) AS share_corpus,
               CASE WHEN den > 0 AND ts_ > 0
                 THEN round((ps - pc) / den, 6) END AS z,
               coalesce(abs(CASE WHEN den > 0 AND ts_ > 0
                   THEN round((ps - pc) / den, 6) END) >= 3.0,
                 FALSE) AS flagged
        FROM e ORDER BY "group" """

    sql["extrema_exemplars"] = """
        WITH base AS (
          SELECT o_orderkey, CAST(o_totalprice AS DOUBLE) AS value
          FROM orders WHERE o_totalprice IS NOT NULL),
        mx AS (SELECT o_orderkey, value, 'max' AS "end",
                 row_number() OVER (
                   ORDER BY value DESC, o_orderkey ASC)::int AS rank
               FROM base
               ORDER BY value DESC, o_orderkey ASC LIMIT 5),
        mn AS (SELECT o_orderkey, value, 'min' AS "end",
                 row_number() OVER (
                   ORDER BY value ASC, o_orderkey ASC)::int AS rank
               FROM base
               ORDER BY value ASC, o_orderkey ASC LIMIT 5)
        SELECT * FROM mx UNION ALL SELECT * FROM mn
        ORDER BY "end", rank"""

    sql["hourly_profile"] = """
        WITH per AS (
          SELECT CAST(event_type AS VARCHAR) AS grp,
                 CAST(hour(ts) AS INT) AS hour,
                 count(*)::bigint AS n
          FROM events
          WHERE ts IS NOT NULL AND event_type IS NOT NULL
          GROUP BY 1, 2),
        w AS (SELECT *, sum(n) OVER (PARTITION BY grp) AS t,
                row_number() OVER (PARTITION BY grp
                  ORDER BY n DESC, hour ASC) AS r
              FROM per)
        SELECT grp AS "group", hour, n,
               round(n::double / t::double, 6) AS share,
               r = 1 AS is_peak
        FROM w ORDER BY "group", hour"""

    sql["histogram_movers"] = """
        WITH o AS (
          SELECT CAST(event_type AS VARCHAR) AS pk, 'value' AS cn,
                 CAST(CAST(CASE WHEN value < 0 THEN 0
                      WHEN value >= 500 THEN 11
                      ELSE floor(value / 50.0) + 1 END AS INT)
                   AS VARCHAR) AS bucket,
                 count(*)::bigint AS oc
          FROM events WHERE value IS NOT NULL AND day(ts) <= 15
          GROUP BY 1, 3),
        b AS (
          SELECT CAST(event_type AS VARCHAR) AS pk, 'value' AS cn,
                 CAST(CAST(CASE WHEN value < 0 THEN 0
                      WHEN value >= 500 THEN 11
                      ELSE floor(value / 50.0) + 1 END AS INT)
                   AS VARCHAR) AS bucket,
                 count(*)::bigint AS bc
          FROM events WHERE value IS NOT NULL AND day(ts) > 15
          GROUP BY 1, 3),
        j AS (SELECT coalesce(o.pk, b.pk) AS pk,
                     coalesce(o.cn, b.cn) AS cn,
                     coalesce(o.bucket, b.bucket) AS bucket,
                     coalesce(oc, 0)::bigint AS oc,
                     coalesce(bc, 0)::bigint AS bc
              FROM o FULL OUTER JOIN b
                ON o.pk = b.pk AND o.cn = b.cn
               AND o.bucket = b.bucket),
        t AS (SELECT *, sum(oc) OVER (PARTITION BY pk, cn) AS to_,
                     sum(bc) OVER (PARTITION BY pk, cn) AS tb_
              FROM j),
        d AS (SELECT *,
                CASE WHEN to_ > 0 THEN oc::double / to_::double
                  ELSE 0.0 END AS so,
                CASE WHEN tb_ > 0 THEN bc::double / tb_::double
                  ELSE 0.0 END AS sb
              FROM t),
        r AS (SELECT pk, cn, bucket,
                round(so, 6) AS share_obs, round(sb, 6) AS share_base,
                round(so - sb, 6) AS delta,
                row_number() OVER (PARTITION BY pk, cn
                  ORDER BY abs(round(so - sb, 6)) DESC, bucket ASC)
                  ::int AS rank
              FROM d)
        SELECT pk AS partition_key, cn AS column_name, bucket,
               share_obs, share_base, delta, rank
        FROM r WHERE rank <= 3
        ORDER BY partition_key, column_name, rank"""

    sql["readability"] = r"""
        WITH per AS (
          SELECT lang AS g, count(*)::bigint AS n_docs,
                 sum(len(regexp_extract_all(text, '\S+')))::bigint
                   AS words,
                 sum(len(regexp_extract_all(text, '[.!?]+')))::bigint
                   AS sentences,
                 sum(len(regexp_extract_all(text,
                     '[aeiouyAEIOUY]+')))::bigint AS syllables
          FROM documents
          WHERE text IS NOT NULL AND lang IS NOT NULL
          GROUP BY 1)
        SELECT g AS "group", n_docs, words, sentences, syllables,
               round(greatest(words, 1)::double
                     / greatest(sentences, 1)::double, 6)
                 AS words_per_sentence,
               round(syllables::double
                     / greatest(words, 1)::double, 6)
                 AS syllables_per_word,
               round(206.835
                     - 1.015 * (greatest(words, 1)::double
                                / greatest(sentences, 1)::double)
                     - 84.6 * (syllables::double
                               / greatest(words, 1)::double), 6)
                 AS flesch,
               round(0.39 * (greatest(words, 1)::double
                             / greatest(sentences, 1)::double)
                     + 11.8 * (syllables::double
                               / greatest(words, 1)::double)
                     - 15.59, 6) AS fk_grade
        FROM per ORDER BY "group" """

    sql["theil_sen"] = """
        WITH daily AS (
          SELECT event_type AS g,
                 date_diff('day', DATE '1970-01-01',
                           CAST(ts AS DATE))::bigint AS d,
                 count(*)::double AS y
          FROM events
          WHERE ts IS NOT NULL AND event_type IS NOT NULL
          GROUP BY 1, 2),
        pairs AS (
          SELECT a.g AS g, (b.y - a.y) / (b.d - a.d)::double AS slope
          FROM daily a JOIN daily b ON a.g = b.g AND a.d < b.d),
        med AS (
          SELECT g, quantile_cont(slope, 0.5) AS s,
                 count(*)::bigint AS n_pairs
          FROM pairs GROUP BY 1)
        SELECT daily.g AS "group", count(*)::bigint AS n_days,
               any_value(n_pairs) AS n_pairs,
               round(any_value(s), 6) AS slope,
               round(quantile_cont(y - s * d, 0.5), 6) AS intercept
        FROM daily JOIN med ON daily.g = med.g
        GROUP BY 1 ORDER BY "group" """

    sql["ewma_volume"] = """
        WITH daily AS (
          SELECT CAST(ts AS DATE) AS day, count(*)::bigint AS n
          FROM events WHERE ts IS NOT NULL GROUP BY 1),
        idx AS (
          SELECT day, n,
                 (row_number() OVER (ORDER BY day) - 1)::bigint AS t
          FROM daily),
        c AS (
          SELECT day, n, t,
                 sum(n::double * pow(0.7, -t)) OVER (
                   ORDER BY t
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   AS cum
          FROM idx),
        sp AS (
          SELECT day, n, t,
                 pow(0.7, t - 1) * cum
                   / ((1.0 - pow(0.7, t)) / 0.3) AS s
          FROM c)
        SELECT day, n, round(s, 6) AS smoothed_prev,
               round(abs(n - s) / greatest(s, 1.0), 6) AS deviation,
               coalesce(abs(n - s) / greatest(s, 1.0) > 0.5, false)
                 AS flag
        FROM sp ORDER BY day"""

    sql["quality_calibration"] = f"""
        WITH m AS (
          SELECT source, text,
                 cast(length(text) as double) AS n_chars,
                 cast(CASE WHEN length(trim(text)) = 0 THEN 0
                      ELSE len(regexp_split_to_array(trim(text), '\\s+'))
                      END as double) AS n_tokens,
                 cast(length(text) - length(regexp_replace(text,
                      '[^\\w\\s]', '', 'g')) as double) AS n_punct,
                 cast(len(list_intersect(
                      regexp_split_to_array(lower(trim(text)), '\\s+'),
                      [{stop}])) as double) AS n_stop
          FROM documents),
        scored AS (
          SELECT source,
                 CASE WHEN text IS NULL OR length(trim(text)) = 0
                 THEN 0.0
                 ELSE round((least(n_chars / 500.0, 1.0)
                   + (1.0 - least(n_punct / greatest(n_chars, 1.0)
                                  * 5.0, 1.0))
                   + least(n_stop / greatest(n_tokens, 1.0) * 10.0,
                           1.0)) / 3.0, 6) END AS q
          FROM m WHERE source IS NOT NULL),
        ranked AS (
          SELECT source, q,
                 percent_rank() OVER (PARTITION BY source ORDER BY q)
                   AS sp,
                 percent_rank() OVER (ORDER BY q) AS gp
          FROM scored)
        SELECT source AS "group", count(*)::bigint AS n,
               round(avg(q), 6) AS mean_score,
               round(avg(gp), 6) AS mean_global_pctl,
               round(avg(gp) - 0.5, 6) AS calibration_gap,
               round(max(abs(sp - gp)), 6) AS ks_stat
        FROM ranked GROUP BY 1 ORDER BY "group" """

    sql["sampling_table"] = r"""
        WITH counts AS (
          SELECT token, count(*)::bigint AS n
          FROM (SELECT unnest(regexp_split_to_array(lower(trim(text)),
                                                    '\s+')) AS token
                FROM documents
                WHERE text IS NOT NULL AND length(trim(text)) > 0)
          GROUP BY token ORDER BY n DESC, token ASC LIMIT 30),
        v AS (SELECT token, n, pow(n::double, 0.75) AS s FROM counts),
        t AS (SELECT sum(s) AS ts FROM v)
        SELECT row_number() OVER (ORDER BY n DESC, token ASC)::bigint
                 AS rank,
               token, n, round(s / ts, 6) AS p,
               round(sum(s / ts) OVER (ORDER BY n DESC, token ASC
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                     6) AS cum_p
        FROM v, t ORDER BY rank"""

    sql["mixture_weights"] = """
        WITH per AS (
          SELECT source AS g, count(*)::bigint AS n_rows,
                 sum(coalesce(length(text), 0))::bigint AS size
          FROM documents WHERE source IS NOT NULL GROUP BY 1),
        b AS (SELECT g, n_rows, size,
                     pow(size::double, 0.3) AS w FROM per),
        t AS (SELECT sum(size::double) AS ts, sum(w) AS tw FROM b)
        SELECT g AS "group", n_rows, size,
               round(size::double / ts, 6) AS raw_share,
               round(w / tw, 6) AS weight,
               round(CASE WHEN size::double / ts > 0
                     THEN (w / tw) / (size::double / ts) END, 6)
                 AS sampling_factor
        FROM b, t ORDER BY "group" """

    sql["reliability_bins"] = """
        WITH b AS (
          SELECT least(greatest(floor(value / 50.0)::int, 0), 9) AS bin,
                 value, (event_type = 'error') AS fl
          FROM events
          WHERE value IS NOT NULL AND event_type IS NOT NULL)
        SELECT bin, round(bin * 50.0::double, 6) AS bin_lo,
               round((bin + 1) * 50.0::double, 6) AS bin_hi,
               count(*)::bigint AS n,
               round(avg(value), 6) AS mean_score,
               round(avg(CASE WHEN fl THEN 1.0 ELSE 0.0 END), 6)
                 AS positive_rate,
               round(avg(CASE WHEN fl THEN 1.0 ELSE 0.0 END)
                     - avg(value), 6) AS calibration_gap
        FROM b GROUP BY bin ORDER BY bin"""

    sql["template_distance"] = """
        WITH base AS (
          SELECT user_id::varchar AS part, event_type,
                 row_number() OVER (
                   PARTITION BY user_id ORDER BY ts, event_id) AS rn
          FROM events WHERE user_id IS NOT NULL),
        seqs AS (
          SELECT part, count(*)::bigint AS seq_len,
                 string_agg(coalesce(event_type, ''), '>' ORDER BY rn)
                   AS seq
          FROM base WHERE rn <= 10 GROUP BY part),
        modal AS (
          SELECT seq AS template FROM seqs GROUP BY seq
          ORDER BY count(*) DESC, seq ASC LIMIT 1)
        SELECT part, seq_len, levenshtein(seq, template)::bigint
                 AS distance
        FROM seqs, modal ORDER BY part"""

    sql["rule_suggestions"] = """
        SELECT 'event_id' AS column_name, 'Integer' AS suggested_type,
               (count(*) - count(event_id)) > 0 AS allow_null,
               round(min(event_id)::double, 6) AS range_min, round(max(event_id)::double, 6) AS range_max,
               NULL::bigint AS length_max,
               count(DISTINCT event_id)::bigint AS n_distinct,
               NULL::varchar AS allowed_values,
               (count(DISTINCT event_id) = count(event_id)
                AND count(event_id) > 0) AS suggest_unique
        FROM events
        UNION ALL
        SELECT 'ts' AS column_name, 'Datetime' AS suggested_type,
               (count(*) - count(ts)) > 0 AS allow_null,
               NULL::double AS range_min, NULL::double AS range_max,
               NULL::bigint AS length_max,
               count(DISTINCT ts)::bigint AS n_distinct,
               NULL::varchar AS allowed_values,
               (count(DISTINCT ts) = count(ts)
                AND count(ts) > 0) AS suggest_unique
        FROM events
        UNION ALL
        SELECT 'user_id' AS column_name, 'Integer' AS suggested_type,
               (count(*) - count(user_id)) > 0 AS allow_null,
               round(min(user_id)::double, 6) AS range_min, round(max(user_id)::double, 6) AS range_max,
               NULL::bigint AS length_max,
               count(DISTINCT user_id)::bigint AS n_distinct,
               NULL::varchar AS allowed_values,
               (count(DISTINCT user_id) = count(user_id)
                AND count(user_id) > 0) AS suggest_unique
        FROM events
        UNION ALL
        SELECT 'event_type' AS column_name, 'String' AS suggested_type,
               (count(*) - count(event_type)) > 0 AS allow_null,
               NULL::double AS range_min, NULL::double AS range_max,
               max(length(event_type))::bigint AS length_max,
               count(DISTINCT event_type)::bigint AS n_distinct,
               CASE WHEN count(DISTINCT event_type) <= 10 THEN string_agg(DISTINCT event_type, ',' ORDER BY event_type) END AS allowed_values,
               (count(DISTINCT event_type) = count(event_type)
                AND count(event_type) > 0) AS suggest_unique
        FROM events
        UNION ALL
        SELECT 'value' AS column_name, 'Numeric' AS suggested_type,
               (count(*) - count(value)) > 0 AS allow_null,
               round(min(value)::double, 6) AS range_min, round(max(value)::double, 6) AS range_max,
               NULL::bigint AS length_max,
               count(DISTINCT value)::bigint AS n_distinct,
               NULL::varchar AS allowed_values,
               (count(DISTINCT value) = count(value)
                AND count(value) > 0) AS suggest_unique
        FROM events
        UNION ALL
        SELECT 'props' AS column_name, 'String' AS suggested_type,
               (count(*) - count(props)) > 0 AS allow_null,
               NULL::double AS range_min, NULL::double AS range_max,
               max(length(props))::bigint AS length_max,
               count(DISTINCT props)::bigint AS n_distinct,
               CASE WHEN count(DISTINCT props) <= 10 THEN string_agg(DISTINCT props, ',' ORDER BY props) END AS allowed_values,
               (count(DISTINCT props) = count(props)
                AND count(props) > 0) AS suggest_unique
        FROM events
        ORDER BY column_name"""

    sql["golden_records"] = f"""
        WITH RECURSIVE {_cc_ctes},
        m AS (
          SELECT cl.cluster_id, d.doc_id, d.lang, d.source, d.n_chars
          FROM cl JOIN documents d ON d.doc_id = cl.id),
        r AS (
          SELECT *, row_number() OVER (
                   PARTITION BY cluster_id
                   ORDER BY n_chars DESC NULLS LAST, doc_id ASC) AS rn
          FROM m)
        SELECT cluster_id, count(*)::bigint AS n_members,
               arg_min(lang, rn) FILTER (WHERE lang IS NOT NULL)
                 AS lang,
               arg_min(source, rn) FILTER (WHERE source IS NOT NULL)
                 AS source,
               arg_min(n_chars, rn) FILTER (WHERE n_chars IS NOT NULL)
                 AS n_chars
        FROM r GROUP BY cluster_id ORDER BY cluster_id"""

    sql["calibration_error"] = """
        WITH b AS (
          SELECT least(greatest(floor(value / 50.0)::int, 0), 9) AS bin,
                 value, (event_type = 'error') AS fl
          FROM events
          WHERE value IS NOT NULL AND event_type IS NOT NULL),
        r AS (
          SELECT bin, count(*)::bigint AS n,
                 round(avg(value), 6) AS ms,
                 round(avg(CASE WHEN fl THEN 1.0 ELSE 0.0 END), 6)
                   AS pr
          FROM b GROUP BY bin)
        SELECT sum(n)::bigint AS n,
               count(*)::bigint AS n_bins_used,
               round(sum(abs(pr - ms) * n) / sum(n), 6) AS ece,
               round(max(abs(pr - ms)), 6) AS mce,
               round(sum(CASE WHEN abs(pr - ms) > 0.1 THEN n
                         ELSE 0 END) / sum(n), 6) AS share_in_bad_bins
        FROM r"""

    sql["daily_percentiles"] = """
        SELECT CAST(ts AS DATE) AS day, count(*)::bigint AS n,
               round(quantile_cont(value, 0.5), 6) AS p50,
               round(quantile_cont(value, 0.95), 6) AS p95,
               round(quantile_cont(value, 0.99), 6) AS p99
        FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
        GROUP BY 1 ORDER BY day"""

    sql["rolling_psi"] = """
        WITH daily AS (
          SELECT date_diff('day', DATE '1970-01-01',
                           CAST(ts AS DATE))::bigint AS d,
                 CASE WHEN value < 0 THEN 0
                      WHEN value >= 500 THEN 11
                      ELSE floor(value / 50.0)::int + 1 END AS bucket,
                 count(*)::bigint AS c
          FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
          GROUP BY 1, 2),
        grid AS (
          SELECT dd.d, bb.bucket, coalesce(daily.c, 0)::bigint AS c
          FROM (SELECT DISTINCT d FROM daily) dd
          CROSS JOIN (SELECT DISTINCT bucket FROM daily) bb
          LEFT JOIN daily ON daily.d = dd.d
                         AND daily.bucket = bb.bucket),
        g AS (
          SELECT d, bucket,
                 sum(c) OVER (PARTITION BY bucket ORDER BY d
                   RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS o,
                 coalesce(sum(c) OVER (PARTITION BY bucket ORDER BY d
                   RANGE BETWEEN 13 PRECEDING AND 7 PRECEDING), 0)
                   AS b
          FROM grid),
        tot AS (
          SELECT d, sum(o)::bigint AS t_o, sum(b)::bigint AS t_b,
                 count(*)::bigint AS k
          FROM g GROUP BY 1),
        terms AS (
          SELECT g.d, tot.t_o, tot.t_b,
                 (g.o::double + 0.5)
                   / (tot.t_o::double + 0.5 * tot.k::double) AS po,
                 (g.b::double + 0.5)
                   / (tot.t_b::double + 0.5 * tot.k::double) AS pb
          FROM g JOIN tot ON tot.d = g.d)
        SELECT DATE '1970-01-01' + d::int AS day,
               any_value(t_o) AS n_obs, any_value(t_b) AS n_base,
               CASE WHEN any_value(t_b) > 0
                    THEN round(sum((po - pb) * ln(po / pb)), 6) END
                 AS psi
        FROM terms GROUP BY d ORDER BY day"""

    sql["vocab_coverage"] = r"""
        WITH counts AS (
          SELECT token, count(*)::bigint AS n
          FROM (SELECT unnest(regexp_split_to_array(lower(trim(text)),
                                                    '\s+')) AS token
                FROM documents
                WHERE text IS NOT NULL AND length(trim(text)) > 0)
          GROUP BY token),
        ranked AS (
          SELECT n,
                 row_number() OVER (ORDER BY n DESC, token ASC) AS r,
                 sum(n) OVER (ORDER BY n DESC, token ASC
                   ROWS UNBOUNDED PRECEDING) AS cum
          FROM counts),
        wide AS (
          SELECT sum(n)::bigint AS t, count(*)::bigint AS types,
                 coalesce(max(CASE WHEN r <= 10 THEN cum END), 0)
                   ::bigint AS c10,
                 coalesce(max(CASE WHEN r <= 25 THEN cum END), 0)
                   ::bigint AS c25,
                 coalesce(max(CASE WHEN r <= 1000 THEN cum END), 0)
                   ::bigint AS c1000
          FROM ranked)
        SELECT 10::bigint AS rank_k, c10 AS covered, t AS total,
               round(c10::double / t::double, 6) AS coverage,
               types AS n_types FROM wide
        UNION ALL
        SELECT 25, c25, t, round(c25::double / t::double, 6), types
        FROM wide
        UNION ALL
        SELECT 1000, c1000, t, round(c1000::double / t::double, 6),
               types FROM wide
        ORDER BY rank_k"""

    sql["quantile_normalize"] = f"""
        WITH m AS (
          SELECT doc_id, source, text,
                 cast(length(text) as double) AS n_chars,
                 cast(CASE WHEN length(trim(text)) = 0 THEN 0
                      ELSE len(regexp_split_to_array(trim(text), '\\s+'))
                      END as double) AS n_tokens,
                 cast(length(text) - length(regexp_replace(text,
                      '[^\\w\\s]', '', 'g')) as double) AS n_punct,
                 cast(len(list_intersect(
                      regexp_split_to_array(lower(trim(text)), '\\s+'),
                      [{stop}])) as double) AS n_stop
          FROM documents),
        scored AS (
          SELECT doc_id, source,
                 CASE WHEN text IS NULL OR length(trim(text)) = 0
                 THEN 0.0
                 ELSE round((least(n_chars / 500.0, 1.0)
                   + (1.0 - least(n_punct / greatest(n_chars, 1.0)
                                  * 5.0, 1.0))
                   + least(n_stop / greatest(n_tokens, 1.0) * 10.0,
                           1.0)) / 3.0, 6) END AS q
          FROM m),
        base AS (
          SELECT doc_id AS id, source AS grp, q AS score
          FROM scored
          WHERE source IS NOT NULL AND doc_id IS NOT NULL
            AND q IS NOT NULL),
        nt AS (SELECT count(*)::bigint AS n FROM base),
        gq AS (
          SELECT score AS v,
                 (row_number() OVER (ORDER BY score) - 1)::bigint AS rn
          FROM base),
        r AS (
          SELECT id, grp, score,
                 percent_rank() OVER (PARTITION BY grp ORDER BY score)
                   AS sp
          FROM base),
        idx AS (
          SELECT id, grp, score, sp,
                 floor(sp * (nt.n - 1)::double)::bigint AS lo,
                 least(floor(sp * (nt.n - 1)::double)::bigint + 1,
                       nt.n - 1) AS hi,
                 sp * (nt.n - 1)::double
                   - floor(sp * (nt.n - 1)::double) AS f
          FROM r, nt)
        SELECT idx.id, idx.grp AS "group", idx.score,
               round(idx.sp, 6) AS src_pctl,
               round(vlo.v * (1.0 - idx.f) + vhi.v * idx.f, 6)
                 AS normalized
        FROM idx JOIN gq vlo ON vlo.rn = idx.lo
                 JOIN gq vhi ON vhi.rn = idx.hi
        ORDER BY idx.id"""

    sql["doc_keywords"] = r"""
        WITH base AS (
          SELECT doc_id, lower(trim(text)) AS t FROM documents
          WHERE text IS NOT NULL AND length(trim(text)) > 0),
        toks AS (
          SELECT doc_id AS id,
                 unnest(regexp_split_to_array(t, '\s+')) AS token
          FROM base),
        tf AS (
          SELECT id, token, count(*)::double AS tf
          FROM toks GROUP BY 1, 2),
        nd AS (SELECT count(*)::double AS n FROM base),
        dfq AS (SELECT token, count(*)::double AS df FROM tf
                GROUP BY 1),
        scored AS (
          SELECT tf.id, tf.token, tf.tf * ln(nd.n / dfq.df) AS s
          FROM tf JOIN dfq ON dfq.token = tf.token, nd),
        r AS (
          SELECT id, token, s,
                 row_number() OVER (PARTITION BY id
                   ORDER BY s DESC, token ASC) AS rank
          FROM scored)
        SELECT id, rank::bigint AS rank, token, round(s, 6) AS score
        FROM r WHERE rank <= 3 ORDER BY id, rank"""

    sql["jaccard_sweep"] = """
        WITH toks AS (
          SELECT doc_id, lang,
                 regexp_split_to_array(lower(trim(text)), '\\s+') AS w
          FROM documents),
        sh AS (
          SELECT doc_id, lang,
                 CASE WHEN len(w) < 3 THEN [array_to_string(w, ' ')]
                 ELSE list_distinct(list_transform(
                      range(1, len(w) - 1),
                      i -> concat(w[i], ' ', w[i+1], ' ', w[i+2])))
                 END AS s
          FROM toks),
        pairs AS (
          SELECT cast(len(list_intersect(a.s, b.s)) as double) AS i,
                 cast(len(list_distinct(list_concat(a.s, b.s)))
                      as double) AS u
          FROM sh a JOIN sh b
            ON a.lang = b.lang AND a.doc_id < b.doc_id),
        j AS (SELECT round(i / greatest(u, 1.0), 6) AS jac FROM pairs),
        wide AS (
          SELECT count(*)::bigint AS tot,
                 count(*) FILTER (jac >= 0.05::double)::bigint AS c50,
                 count(*) FILTER (jac >= 0.1::double)::bigint AS c100,
                 count(*) FILTER (jac >= 0.15::double)::bigint AS c150,
                 count(*) FILTER (jac >= 0.2::double)::bigint AS c200,
                 count(*) FILTER (jac >= 0.3::double)::bigint AS c300,
                 count(*) FILTER (jac >= 0.5::double)::bigint AS c500
          FROM j)
        SELECT 0.05::double AS threshold, c50 AS n_pairs,
               round(c50::double / greatest(tot, 1)::double, 6)
                 AS share FROM wide
        UNION ALL
        SELECT 0.1::double AS threshold, c100 AS n_pairs,
               round(c100::double / greatest(tot, 1)::double, 6)
                 AS share FROM wide
        UNION ALL
        SELECT 0.15::double AS threshold, c150 AS n_pairs,
               round(c150::double / greatest(tot, 1)::double, 6)
                 AS share FROM wide
        UNION ALL
        SELECT 0.2::double AS threshold, c200 AS n_pairs,
               round(c200::double / greatest(tot, 1)::double, 6)
                 AS share FROM wide
        UNION ALL
        SELECT 0.3::double AS threshold, c300 AS n_pairs,
               round(c300::double / greatest(tot, 1)::double, 6)
                 AS share FROM wide
        UNION ALL
        SELECT 0.5::double AS threshold, c500 AS n_pairs,
               round(c500::double / greatest(tot, 1)::double, 6)
                 AS share FROM wide
        ORDER BY threshold"""

    sql["hash_uniformity"] = """
        WITH c AS (
          SELECT substring(md5(event_id::varchar), 1, 2) AS b,
                 count(*)::double AS c
          FROM events WHERE event_id IS NOT NULL GROUP BY 1),
        t AS (SELECT sum(c) AS t, count(*)::double AS hit FROM c)
        SELECT t.t::bigint AS n, 256::bigint AS k,
               t.hit::bigint AS buckets_hit,
               round(sum(pow(c.c - t.t / cast(256 as double), 2)
                         / (t.t / cast(256 as double)))
                     + (cast(256 as double) - t.hit)
                       * t.t / cast(256 as double), 6) AS chi2,
               255::bigint AS dof,
               round(max(c.c) / t.t, 6) AS max_share
        FROM c, t GROUP BY t.t, t.hit"""

    sql["quantile_map_accuracy"] = """
        WITH e AS (
          SELECT list_transform(quantile_cont(value,
                   [0.0, 0.125, 0.25, 0.375, 0.5,
                    0.625, 0.75, 0.875, 1.0]),
                 t -> round(t, 6)) AS edges
          FROM events),
        b AS (
          SELECT greatest(least(
                   len(list_filter(e.edges[1:8], t -> t < value)),
                   8), 1) AS bin
          FROM events, e WHERE value IS NOT NULL),
        c AS (SELECT bin, count(*)::bigint AS n FROM b GROUP BY 1),
        t AS (SELECT sum(n)::double AS tt FROM c),
        h AS (
          SELECT bin::int AS bin,
                 round(e.edges[bin], 6) AS lo,
                 round(e.edges[bin + 1], 6) AS hi,
                 round(n / tt, 6) AS share
          FROM c, e, t),
        hc AS (
          SELECT bin, lo, hi, share,
                 sum(share) OVER (ORDER BY bin
                   ROWS UNBOUNDED PRECEDING) AS cum,
                 sum(share) OVER (ORDER BY bin
                   ROWS UNBOUNDED PRECEDING) - share AS before
          FROM h),
        pr AS (SELECT unnest([0.5, 0.9, 0.99]::double[]) AS p),
        cand AS (
          SELECT pr.p, hc.bin, hc.lo, hc.hi, hc.share, hc.before,
                 row_number() OVER (PARTITION BY pr.p
                   ORDER BY hc.bin) AS rn
          FROM pr JOIN hc
            ON hc.cum >= pr.p - 1e-12 AND hc.share > 0),
        est AS (
          SELECT p,
                 least(greatest(
                   lo + (hi - lo) * (p - before) / share, lo), hi)
                   AS est
          FROM cand WHERE rn = 1),
        ex AS (
          SELECT unnest([0.5, 0.9, 0.99]::double[]) AS p,
                 unnest(quantile_cont(value,
                        [0.5, 0.9, 0.99]::double[])) AS exv
          FROM events)
        SELECT est.p, round(ex.exv, 6) AS exact,
               round(est.est, 6) AS estimated,
               round(abs(est.est - ex.exv), 6) AS abs_err,
               round(CASE WHEN ex.exv <> 0
                     THEN abs(est.est - ex.exv) / abs(ex.exv) END, 6)
                 AS rel_err
        FROM est JOIN ex ON ex.p = est.p ORDER BY est.p"""

    sql["dedup_impact"] = f"""
        WITH corpus AS (
          SELECT doc_id, text, source FROM documents
          UNION ALL
          SELECT doc_id + 1000000, text, source FROM documents
          WHERE doc_id % 9 = 0),
        r AS (
          SELECT source, doc_id,
                 CASE WHEN text IS NULL THEN NULL
                      WHEN length(trim(text)) = 0 THEN 0
                      ELSE len(regexp_split_to_array(trim(text),
                                                     '\\s+'))
                 END AS tok,
                 row_number() OVER (
                   PARTITION BY {_NORM_TEXT} ORDER BY doc_id) AS rn
          FROM corpus)
        SELECT source AS "group", count(*)::bigint AS n_docs,
               count(*) FILTER (rn = 1)::bigint AS n_docs_kept,
               round(1.0 - count(*) FILTER (rn = 1)::double
                     / count(*)::double, 6) AS doc_dup_share,
               coalesce(sum(tok), 0)::bigint AS tokens,
               coalesce(sum(tok) FILTER (rn = 1), 0)::bigint
                 AS tokens_kept,
               round(CASE WHEN coalesce(sum(tok), 0) > 0
                     THEN 1.0 - coalesce(sum(tok) FILTER (rn = 1), 0)
                          ::double / sum(tok)::double END, 6)
                 AS token_dup_share
        FROM r GROUP BY source ORDER BY "group" """

    sql["label_entropy"] = """
        WITH c AS (
          SELECT user_id::varchar AS part, event_type AS v,
                 count(*)::double AS c
          FROM events WHERE user_id IS NOT NULL GROUP BY 1, 2),
        t AS (
          SELECT part, v, c, c / sum(c) OVER (PARTITION BY part) AS p
          FROM c)
        SELECT part, sum(c)::bigint AS n,
               count(*)::bigint AS n_labels,
               round(sum(-p * log2(p)), 6) AS entropy
        FROM t GROUP BY part ORDER BY part"""

    sql["lang_confusion"] = (
        "WITH pred AS (" + _lang_case() + """),
        j AS (
          SELECT d.lang AS declared, p.lang_pred AS detected
          FROM documents d JOIN pred p ON p.doc_id = d.doc_id
          WHERE d.lang IS NOT NULL),
        c AS (
          SELECT declared, detected, count(*)::bigint AS n
          FROM j GROUP BY 1, 2)
        SELECT declared, detected, n,
               round(n::double
                     / sum(n) OVER (PARTITION BY declared), 6)
                 AS share_of_declared,
               (declared <> detected) AS mismatch
        FROM c ORDER BY declared, detected""")

    pii_grp_parts = []
    for name, pat in PII_PATTERNS.items():
        pii_grp_parts.append(f"""
        SELECT source AS "group", '{name}' AS pii_type,
               coalesce(sum(len(regexp_extract_all(text, '{pat}'))),
                        0)::bigint AS total_matches,
               count(CASE WHEN len(regexp_extract_all(text, '{pat}'))
                          > 0 THEN 1 END)::bigint AS docs_affected,
               round(count(CASE WHEN len(regexp_extract_all(text,
                            '{pat}')) > 0 THEN 1 END)::double
                     / count(*)::double, 6) AS doc_rate
        FROM documents WHERE source IS NOT NULL GROUP BY source""")
    sql["pii_by_source"] = (" UNION ALL ".join(pii_grp_parts)
                            + ' ORDER BY "group", pii_type')

    # LSH near-dup family: full-pipeline replays of the md5-hashed
    # queries (generators above) — previously rows-only (VERDICT r3 #1).
    sql["minhash_near_duplicates"] = _minhash_near_dup_oracle()
    sql["simhash_near_duplicates"] = _simhash_near_dup_oracle()
    sql["incremental_near_dedup"] = _incremental_near_dedup_oracle()

    sql["tool_call_pairing"] = """
        WITH t AS (
          SELECT user_id, ts, event_id,
                 CASE event_type WHEN 'click' THEN 'user'
                      WHEN 'view' THEN 'assistant'
                      WHEN 'purchase' THEN 'tool'
                      WHEN 'signup' THEN 'system'
                      ELSE 'assistant' END AS role,
                 CASE WHEN (CASE event_type WHEN 'click' THEN 'user'
                                 WHEN 'view' THEN 'assistant'
                                 WHEN 'purchase' THEN 'tool'
                                 WHEN 'signup' THEN 'system'
                                 ELSE 'assistant' END) = 'assistant'
                           AND event_id % 3 = 0
                      THEN 'api' END AS tool
          FROM events),
        wnd AS (
          SELECT user_id, ts, event_id, role, tool,
                 lag(role) OVER w AS prev_role,
                 lag(tool) OVER w AS prev_tool,
                 lead(role) OVER w AS next_role
          FROM t
          WINDOW w AS (PARTITION BY user_id
                       ORDER BY ts ASC NULLS FIRST,
                                event_id ASC NULLS FIRST))
        SELECT user_id, ts, event_id,
               'tool_result_without_call' AS issue
        FROM wnd
        WHERE role = 'tool'
          AND NOT (prev_role IS NOT DISTINCT FROM 'assistant'
                   AND prev_tool IS NOT NULL)
        UNION ALL
        SELECT user_id, ts, event_id, 'unanswered_tool_call' AS issue
        FROM wnd
        WHERE role = 'assistant' AND tool IS NOT NULL
          AND next_role IS DISTINCT FROM 'tool'
        ORDER BY user_id, ts, event_id, issue"""

    sql["repair_cut_points"] = """
        WITH t AS (
          SELECT user_id, ts, event_id,
                 CASE event_type WHEN 'click' THEN 'user'
                      WHEN 'view' THEN 'assistant'
                      WHEN 'purchase' THEN 'tool'
                      WHEN 'signup' THEN 'system'
                      ELSE 'assistant' END AS role,
                 CASE WHEN (CASE event_type WHEN 'click' THEN 'user'
                                 WHEN 'view' THEN 'assistant'
                                 WHEN 'purchase' THEN 'tool'
                                 WHEN 'signup' THEN 'system'
                                 ELSE 'assistant' END) = 'assistant'
                           AND event_id % 3 = 0
                      THEN 'api' END AS tool
          FROM events),
        wnd AS (
          SELECT user_id, ts, role, tool,
                 lag(role) OVER w AS prev_role,
                 lag(tool) OVER w AS prev_tool,
                 lead(role) OVER w AS next_role
          FROM t
          WINDOW w AS (PARTITION BY user_id
                       ORDER BY ts ASC NULLS FIRST,
                                event_id ASC NULLS FIRST)),
        iss AS (
          SELECT user_id, ts, 'tool_result_without_call' AS issue
          FROM wnd
          WHERE role = 'tool'
            AND NOT (prev_role IS NOT DISTINCT FROM 'assistant'
                     AND prev_tool IS NOT NULL)
          UNION ALL
          SELECT user_id, ts, 'unanswered_tool_call' AS issue
          FROM wnd
          WHERE role = 'assistant' AND tool IS NOT NULL
            AND next_role IS DISTINCT FROM 'tool')
        SELECT user_id,
               count(*)::bigint AS n_issues,
               count(DISTINCT issue)::bigint AS n_issue_kinds,
               min(ts) AS cut_at,
               first(issue ORDER BY ts ASC, issue ASC) AS first_issue
        FROM iss GROUP BY user_id ORDER BY user_id"""

    sql["run_log_regressions"] = """
        WITH el AS (
          SELECT 'r1' AS run_uid, event_type AS "column",
                 'b' || (floor(value / 10)::int)::varchar AS error_type
          FROM events WHERE value < 30
          UNION ALL
          SELECT 'r2', event_type,
                 'b' || (floor(value / 10)::int)::varchar
          FROM events WHERE value >= 15 AND value < 45
          UNION ALL
          SELECT 'r3', event_type,
                 'b' || (floor(value / 10)::int)::varchar
          FROM events WHERE value >= 40 AND value < 120),
        rl AS (
          SELECT 'r1' AS run_uid, count(*)::bigint AS error_count,
                 TIMESTAMP '2024-01-01' AS ts
          FROM events WHERE value < 30
          UNION ALL
          SELECT 'r2', count(*)::bigint, TIMESTAMP '2024-01-02'
          FROM events WHERE value >= 15 AND value < 45
          UNION ALL
          SELECT 'r3', count(*)::bigint, TIMESTAMP '2024-01-03'
          FROM events WHERE value >= 40 AND value < 120),
        runs AS (
          SELECT 'events' AS dataset, run_uid, ts, error_count,
                 lag(run_uid) OVER
                   (ORDER BY ts ASC NULLS FIRST, run_uid ASC)
                   AS prev_uid,
                 lag(error_count) OVER
                   (ORDER BY ts ASC NULLS FIRST, run_uid ASC)
                   AS prev_error_count
          FROM rl),
        kinds AS (SELECT DISTINCT run_uid, "column", error_type FROM el),
        newk AS (
          SELECT r.run_uid, count(*)::bigint AS n_new_kinds
          FROM runs r JOIN kinds c ON c.run_uid = r.run_uid
          WHERE NOT EXISTS (
            SELECT 1 FROM kinds p
            WHERE p.run_uid = r.prev_uid
              AND p."column" = c."column"
              AND p.error_type = c.error_type)
          GROUP BY r.run_uid),
        resk AS (
          SELECT r.run_uid, count(*)::bigint AS n_resolved_kinds
          FROM runs r JOIN kinds p ON p.run_uid = r.prev_uid
          WHERE r.prev_uid IS NOT NULL
            AND NOT EXISTS (
              SELECT 1 FROM kinds c
              WHERE c.run_uid = r.run_uid
                AND c."column" = p."column"
                AND c.error_type = p.error_type)
          GROUP BY r.run_uid)
        SELECT runs.dataset, runs.run_uid, runs.ts,
               runs.error_count,
               runs.prev_error_count::bigint AS prev_error_count,
               (runs.error_count - runs.prev_error_count)::bigint
                 AS delta,
               coalesce(newk.n_new_kinds, 0)::bigint AS n_new_kinds,
               coalesce(resk.n_resolved_kinds, 0)::bigint
                 AS n_resolved_kinds
        FROM runs LEFT JOIN newk USING (run_uid)
                  LEFT JOIN resk USING (run_uid)
        ORDER BY dataset, run_uid"""

    # r5 at-scale swap twin (quantile_normalize equidepth): it runs in
    # its documented exact-mode regime at oracle scale (bins = N-1
    # edge vector), where the op's output EQUALS the exact method — so
    # the exact oracle SQL applies verbatim (see the q_* docstring for
    # the contract).
    sql["quantile_normalize_equidepth"] = sql["quantile_normalize"]

    return sql
