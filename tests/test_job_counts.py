"""Spark job budget of validate(), profile(), validate_partitioned() and
its partition_verdicts() batches, and the Observation path, single
manifest read and shared verdict scan that keep it small.

Global scalar aggregates (the wide profile aggregate, duplicate totals,
the RI count, the datetime confirmation) land through one unnamed
``Observation`` on a ``noop`` write, the allowed-value capture rides the
value aggregate, and the RI anti-join no longer deduplicates its
dimension. The counts below pin that plan: each extra single-partition
reduce or input pass shows up as a job.

Jobs are counted the way ``perfbench`` counts them: the application's
jobs that carry no job group, after the listener bus has delivered
every event. validate() runs its phases on pool threads, which do not
inherit a caller's job group, so a group-scoped count would miss them.
"""

import importlib
import os
from urllib.parse import urlparse

import pytest
from pyspark.sql import functions as F

from schema_validata_spark import validate, validate_datasets
from schema_validata_spark.datagen import (gen_conversations,
                                           gen_transcripts, transcript_rules)
from schema_validata_spark.functions.scalars import collect_scalars
from schema_validata_spark.operators.profile import profile

# the package re-exports profile(), which shadows the module name
profile_mod = importlib.import_module(
    "schema_validata_spark.operators.profile")

N_ROWS = 2000


def _jobs(spark) -> set:
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return set(sc.statusTracker().getJobIdsForGroup())


def _count_jobs(spark, fn):
    before = _jobs(spark)
    out = fn()
    return out, len(_jobs(spark) - before)


@pytest.fixture(scope="module")
def tables(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("job_counts")
    gen_transcripts(spark, N_ROWS, seed=7).drop("ts_date") \
        .write.parquet(str(d / "t"))
    gen_conversations(spark, N_ROWS, seed=7).write.parquet(str(d / "c"))
    return spark.read.parquet(str(d / "t")), spark.read.parquet(str(d / "c"))


def _validate(spark, t, c, rules=None):
    return validate(spark, t, rules or transcript_rules(),
                    dataset_name="transcripts", dims={"conversations": c},
                    key_cols=["conv_id", "turn_idx"], ignore_errors=[])


def test_validate_lap_runs_14_jobs(spark, tables):
    """validate() + violations.count() + report(): profile 4 (wide
    aggregate 1, value aggregate 3), duplicate_stats 3, RI count 2
    (dim broadcast, anti-join scan), violations count 3, report 2.
    The plan before the Observation path ran 20."""
    t, c = tables

    def lap():
        res = _validate(spark, t, c)
        res.violations.count()
        res.report()
        res.unpersist()
        return res

    res, n = _count_jobs(spark, lap)
    assert n == 14
    assert res.composite_uniqueness["conv_id+turn_idx"]["duplicate_rows"] > 0
    assert res.referential["conv_id->conversations.conv_id"] > 0


def test_parity_profile_runs_4_jobs(spark, tables):
    """Parity-mode profile(df) (exact counts for every column): one
    observed wide aggregate plus the three-job value aggregate, which
    also carries the allowed values (the separate pass C took 2)."""
    t, _ = tables
    prof, n = _count_jobs(spark, lambda: profile(t))
    assert n == 4
    assert {"assistant", "system", "tool", "user"} <= \
        set(prof["role"]["allowed_value_list"])


def test_collect_scalars_is_one_job_and_matches_agg(spark, tables):
    t, _ = tables
    aggs = [F.count(F.lit(1)).alias("n"),
            F.approx_count_distinct("role").alias("roles"),
            F.max(F.length("text")).alias("maxlen")]
    got, n = _count_jobs(spark, lambda: collect_scalars(t, *aggs))
    assert n == 1
    assert got == t.agg(*aggs).collect()[0].asDict()


def test_collect_scalars_concurrent_callers_read_their_own_metrics(spark):
    """More threads than cores, each observing a different frame at
    once: every caller gets its own frame's aggregates."""
    from concurrent.futures import ThreadPoolExecutor

    def one(i):
        n = 1000 + 37 * i
        return i, collect_scalars(spark.range(0, n, 1, 3),
                                  F.count(F.lit(1)).alias("n"),
                                  F.sum("id").alias("s"))

    with ThreadPoolExecutor(max_workers=12) as pool:
        futures = [pool.submit(one, i) for i in range(24)]
        results = [f.result(timeout=300) for f in futures]
    for i, got in results:
        n = 1000 + 37 * i
        assert got == {"n": n, "s": n * (n - 1) // 2}


def test_pass_c_fallback_keeps_observed_schema(spark, tables, monkeypatch):
    """With no values captured by the value aggregate (what an HLL
    underestimate would cause), the pass-C fallback fills every
    allowed-value list and the observed schema is unchanged."""
    t, c = tables
    want = _validate(spark, t, c)
    want.unpersist()
    real = profile_mod._melt_stats

    def no_capture(*a, **k):
        a_, b_, nulls, total, _values = real(*a, **k)
        return a_, b_, nulls, total, {}

    monkeypatch.setattr(profile_mod, "_melt_stats", no_capture)
    got = _validate(spark, t, c)
    got.unpersist()
    assert got.observed_schema == want.observed_schema
    assert got.uid == want.uid
    assert got.observed_schema["role"]["allowed_value_list"] not in (None,
                                                                     [])
    _, n = _count_jobs(spark, lambda: profile(t))
    assert n == 5      # the fallback adds exactly one observed pass


# uids of the same empty inputs before the Observation path: the
# content token of an empty frame ('fp:0:None:None') is unchanged
EMPTY_UID = ("f6860214d9d2a3e06cacbc9b0f717d8a"
             "_5a023a8a14b66e90dc77025b3445451e")


@pytest.mark.parametrize("kind", ["where_false", "empty_rdd"])
def test_empty_inputs_count_zero(spark, tables, kind):
    t, c = tables
    if kind == "where_false":
        e = t.where("1=0")
    else:
        e = spark.createDataFrame(spark.sparkContext.emptyRDD(), t.schema)
        assert e.rdd.getNumPartitions() == 0
    res = _validate(spark, e, c)
    try:
        assert res.composite_uniqueness == {
            "conv_id+turn_idx": {"duplicate_keys": 0, "duplicate_rows": 0}}
        assert res.referential == {"conv_id->conversations.conv_id": 0}
        assert res.violations.count() == 0
        assert res.uid == EMPTY_UID
    finally:
        res.unpersist()


def test_validate_datasets_concurrent_counts_stay_apart(spark, tables):
    """Two datasets validated concurrently: each result carries its own
    duplicate and RI counts (unique Observation names, no cross-talk)."""
    t, c = tables
    half = t.where(F.col("turn_idx") % 2 == 0)
    rules = transcript_rules()
    multi = validate_datasets(
        spark, {"all": t, "half": half}, {"TRANSCRIPTS_SCHEMA": rules},
        [{"dataset": "all", "data_dict": "TRANSCRIPTS_SCHEMA"},
         {"dataset": "half", "data_dict": "TRANSCRIPTS_SCHEMA"}],
        dims={"conversations": c},
        key_cols={"all": ["conv_id", "turn_idx"],
                  "half": ["conv_id", "turn_idx"]})
    try:
        for name, frame in (("all", t), ("half", half)):
            res = multi.results[name]
            dup = (frame.groupBy("conv_id", "turn_idx").count()
                        .where("count > 1"))
            want_rows = dup.agg(F.sum("count")).collect()[0][0] or 0
            orphans = frame.where(F.col("conv_id").isNotNull()).join(
                c, "conv_id", "left_anti").count()
            assert res.composite_uniqueness["conv_id+turn_idx"] == {
                "duplicate_keys": dup.count(), "duplicate_rows": want_rows}
            assert res.referential["conv_id->conversations.conv_id"] \
                == orphans
        counts = {n: r.referential["conv_id->conversations.conv_id"]
                  for n, r in multi.results.items()}
        assert counts["all"] > counts["half"] > 0
    finally:
        multi.unpersist()


# --- validate_partitioned: one shuffle-free manifest read per run ------

RUN_ID = "jobs"


@pytest.fixture(scope="module")
def partitioned(spark, tmp_path_factory):
    """A ts_date-partitioned transcripts table and the manifest of a
    cold validate_partitioned run over it."""
    import shutil

    from schema_validata_spark.validate import validate_partitioned
    d = tmp_path_factory.mktemp("job_counts_partitioned")
    gen_transcripts(spark, N_ROWS, seed=7).write.parquet(str(d / "t"))
    gen_conversations(spark, N_ROWS, seed=7).write.parquet(str(d / "c"))
    t, c = spark.read.parquet(str(d / "t")), spark.read.parquet(str(d / "c"))

    def run(df, manifest):
        return validate_partitioned(
            spark, df, transcript_rules(), "ts_date", manifest,
            run_id=RUN_ID, dims={"conversations": c}).collect()

    cold = str(d / "cold")
    run(t, cold)

    def fresh_copy(name):
        m = str(d / name)
        shutil.copytree(cold, m)
        return m

    return t, run, cold, fresh_copy, c


def test_manifest_reads_are_one_job_each(spark, partitioned):
    """done_identities, metrics, completed and latest each read the
    manifest in one job: the latest-row window runs on one partition,
    so no shuffle is planned."""
    from schema_validata_spark.manifest import Manifest
    _, _, cold, _, _ = partitioned
    m = Manifest(spark, cold)
    for name in ("done_identities", "metrics", "completed", "latest"):
        got, n = _count_jobs(spark, lambda: getattr(m, name)(RUN_ID))
        assert n == 1, name
        assert len(got) > 1


def test_manifest_read_plans_no_exchange(spark, partitioned):
    from schema_validata_spark.manifest import Manifest
    _, _, cold, _, _ = partitioned
    latest = Manifest(spark, cold)._latest_done(RUN_ID)
    assert len(latest.collect()) > 1
    plan = latest._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan


def test_noop_rerun_runs_4_jobs(spark, partitioned):
    """Nothing changed: manifest read 1, content fingerprints 2, result
    collect 1."""
    t, run, _, fresh_copy, _ = partitioned
    m = fresh_copy("noop")
    rows_before = spark.read.parquet(m).count()
    _, n = _count_jobs(spark, lambda: run(t, m))
    assert n == 4
    assert spark.read.parquet(m).count() == rows_before


def test_resume_one_changed_partition_runs_11_jobs(spark, partitioned):
    """One partition's content changed, so one batch: manifest read 1,
    fingerprints 2, partition_verdicts 6, commit 1, result collect 1.
    The batch ran 7 while RI had its own anti-join scan."""
    t, run, _, fresh_copy, _ = partitioned
    key = F.col("ts_date").cast("string")
    victim = sorted(str(r[0]) for r in t.select(key).distinct().collect())[0]
    changed = t.withColumn("text", F.when(key == victim,
                                          F.concat("text", F.lit("!")))
                           .otherwise(F.col("text")))
    m = fresh_copy("resume")
    rows_before = spark.read.parquet(m).count()
    _, n = _count_jobs(spark, lambda: run(changed, m))
    assert n == 11
    assert spark.read.parquet(m).count() == rows_before + 1


# --- partition_verdicts: RI rides the per-partition check scan --------

def _batch(t):
    key = F.col("ts_date").cast("string")
    parts = sorted(str(r[0]) for r in t.select(key).distinct().collect())
    return t.where(key.isin(parts[:64]))


def test_partition_verdicts_batch_runs_6_jobs(spark, partitioned):
    """Dimension broadcast 1, the per-partition aggregate (per-row
    checks, RI orphans and n_rows) 1, the salted duplicate chain's 3
    exchanges, result 1. RI's own anti-join scan made it 7."""
    from schema_validata_spark.validate import partition_verdicts
    t, _, _, _, c = partitioned
    batch = _batch(t)
    rows, n = _count_jobs(spark, lambda: partition_verdicts(
        batch, transcript_rules(), "ts_date",
        dims={"conversations": c}).collect())
    assert n == 6
    assert any(r["check"] == "referential" for r in rows)


def test_partition_rate_verdicts_runs_6_jobs(spark, partitioned):
    """n_rows comes from the shared aggregates: no totals scan and no
    join, so the same 6 jobs as partition_verdicts (was 9)."""
    from schema_validata_spark.validate import partition_rate_verdicts
    t, _, _, _, c = partitioned
    batch = _batch(t)
    rows, n = _count_jobs(spark, lambda: partition_rate_verdicts(
        batch, transcript_rules(), "ts_date",
        {("conv_id", "referential"): 0.5},
        dims={"conversations": c}).collect())
    assert n == 6
    assert all(r["n_rows"] > 0 for r in rows)


def test_partition_verdicts_plan_broadcasts_existence_join(spark,
                                                           partitioned):
    """With automatic broadcasts off, the dimension hint still plans
    RI as a BroadcastHashJoin ExistenceJoin on the check scan: the fact
    table is scanned twice (check aggregate, duplicate chain), with no
    anti-join and no sort-merge or nested-loop join. Without the hint
    the existence join plans as a SortMergeJoin that shuffles full-width
    fact rows."""
    from schema_validata_spark.validate import partition_verdicts
    t, _, _, _, c = partitioned
    fact_root = os.path.dirname(urlparse(t.inputFiles()[0]).path) + "]"
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        pv = partition_verdicts(_batch(t), transcript_rules(), "ts_date",
                                dims={"conversations": c})
        plan = pv._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set(key, old)
    assert "BroadcastHashJoin" in plan and "ExistenceJoin" in plan, plan
    scans = [ln for ln in plan.splitlines() if "FileScan" in ln]
    assert len(scans) == 3, plan        # the dimension's is the third
    assert sum(fact_root in ln for ln in scans) == 2, plan
    for bad in ("LeftAnti", "SortMergeJoin", "BroadcastNestedLoopJoin"):
        assert bad not in plan, plan
