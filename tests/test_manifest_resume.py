"""Resume semantics: interrupted runs skip completed partitions and the
final verdicts equal an uninterrupted run (SURVEY §5.2.4)."""

from schema_validata_spark.datagen import gen_transcripts, transcript_rules
from schema_validata_spark.manifest import Manifest
from schema_validata_spark.validate import validate_partitioned


def _key(rows):
    return sorted((r["partition_key"], r["column_name"], r["check"],
                   r["violation_count"]) for r in rows)


def test_resume_skips_done_and_matches_full_run(spark, tmp_path):
    t = gen_transcripts(spark, 8_000, seed=42).cache()
    rules = transcript_rules()

    # uninterrupted run
    full = validate_partitioned(spark, t, rules, "ts_date",
                                str(tmp_path / "m_full"), run_id="r1")
    full_rows = _key(full.collect())

    # interrupted run: process only the first batch by marking the rest...
    # simulate by running with batch_size=2 and killing after first batch:
    # we emulate the kill by pre-marking NOTHING and running twice with
    # a manifest shared between runs.
    mpath = str(tmp_path / "m_resume")
    parts = [r[0] for r in t.select(t.ts_date.cast("string"))
             .distinct().orderBy("ts_date").collect()]
    # first "partial" run: restrict input to a prefix of partitions
    prefix = parts[: max(1, len(parts) // 2)]
    sub = t.where(t.ts_date.cast("string").isin(prefix))
    validate_partitioned(spark, sub, rules, "ts_date", mpath, run_id="r2")

    m = Manifest(spark, mpath)
    assert m.completed("r2") == set(prefix)

    # resumed run over the full input: completed partitions are skipped
    # (their verdicts come back from manifest metrics) and the combined
    # output equals the uninterrupted run
    resumed = validate_partitioned(spark, t, rules, "ts_date", mpath,
                                   run_id="r2")
    assert _key(resumed.collect()) == full_rows
    t.unpersist()


def test_changed_partition_recomputed_unchanged_skipped(spark, tmp_path):
    """Stale-resume guard: after one partition's DATA changes, a rerun
    with the same run_id recomputes exactly that partition (fresh
    verdicts) while unchanged partitions still skip (VERDICT r1 #1)."""
    from pyspark.sql import functions as F
    src = str(tmp_path / "src")
    gen_transcripts(spark, 6_000, seed=3).write.mode("overwrite").parquet(src)
    t = spark.read.parquet(src)
    rules = transcript_rules()
    mpath = str(tmp_path / "m_stale")

    first = validate_partitioned(spark, t, rules, "ts_date", mpath,
                                 run_id="r")
    first_rows = _key(first.collect())
    parts = sorted({r["partition_key"] for r in first.collect()})
    victim = parts[0]

    m = Manifest(spark, mpath)
    ids_before = m.done_identities("r")

    # mutate ONE partition: blank out `role` there (adds null violations)
    mutated = t.withColumn(
        "role", F.when(t.ts_date.cast("string") == victim,
                       F.lit(None).cast("string")).otherwise(t.role))
    mdir = str(tmp_path / "src2")
    mutated.write.mode("overwrite").parquet(mdir)
    t2 = spark.read.parquet(mdir)

    second = validate_partitioned(spark, t2, rules, "ts_date", mpath,
                                  run_id="r")
    ids_after = m.done_identities("r")
    # only the victim's identity moved; others were skipped (identity
    # rows unchanged — a recompute would have rewritten them)
    assert ids_after[victim] != ids_before[victim]
    for p in parts[1:]:
        assert ids_after[p] == ids_before[p]
    # and the victim's verdicts are FRESH, not the stale manifest copy
    snd = {(r["partition_key"], r["column_name"], r["check"]):
           r["violation_count"] for r in second.collect()}
    n_victim_rows = t2.where(
        t2.ts_date.cast("string") == victim).count()
    assert snd[(victim, "role", "allow_null")] == n_victim_rows
    fst = dict(((p, c, k), v) for p, c, k, v in first_rows)
    assert fst[(victim, "role", "allow_null")] < n_victim_rows

    # third run, nothing changed: everything skips, output identical
    third = validate_partitioned(spark, t2, rules, "ts_date", mpath,
                                 run_id="r")
    assert _key(third.collect()) == _key(second.collect())


def test_rerun_is_idempotent(spark, tmp_path):
    t = gen_transcripts(spark, 4_000, seed=1)
    rules = transcript_rules()
    mpath = str(tmp_path / "m_idem")
    a = validate_partitioned(spark, t, rules, "ts_date", mpath, run_id="x")
    b = validate_partitioned(spark, t, rules, "ts_date", mpath, run_id="x")
    assert _key(a.collect()) == _key(b.collect())
    # second run recomputed nothing: every partition already marked done
    m = Manifest(spark, mpath)
    parts = {r[0] for r in t.select(t.ts_date.cast("string")).distinct().collect()}
    assert m.completed("x") == parts


def test_null_partition_resume_and_processing(spark, tmp_path):
    """A NULL partition key must get a stable identity in every mode
    AND actually be selected for processing (NULL.isin never
    matches)."""
    from schema_validata_spark.datagen import transcript_rules
    from schema_validata_spark.validate import validate_partitioned
    from pyspark.sql import functions as F
    from schema_validata_spark.datagen import gen_transcripts
    t = gen_transcripts(spark, 2000, seed=42)
    t = t.withColumn("ts_date", F.when(F.col("turn_idx") % 7 == 0, None)
                     .otherwise(F.col("ts_date")))
    mpath = str(tmp_path / "m1")
    pv = validate_partitioned(spark, t, transcript_rules(), "ts_date",
                              mpath, run_id="nulls1")
    keys = {r["partition_key"] for r in pv.select("partition_key")
            .distinct().collect()}
    assert None in keys or "None" in keys     # null partition processed
    # rerun: nothing recomputes, no crash sorting identities
    pv2 = validate_partitioned(spark, t, transcript_rules(), "ts_date",
                               mpath, run_id="nulls1")
    assert pv2.count() == pv.count()



def test_null_and_none_string_partitions_stay_distinct(spark, tmp_path):
    """The NULL partition and a real 'None' partition are two
    partitions: two fingerprints, two manifest keys, two verdict rows
    per check, and changing one recomputes only that one."""
    from schema_validata_spark.rules import Rules
    from schema_validata_spark.validate import (partition_fingerprints,
                                                validate_partitioned)
    rules = Rules.from_nested_dict("R", {
        "x": {"data_type": "String", "allow_null": False}})
    rows = [(None, "v1"), (None, "v2"), ("None", None), ("None", "v3"),
            ("a", "v4")]
    t = spark.createDataFrame(rows, "p string, x string")
    assert set(partition_fingerprints(t, "p")) == {None, "None", "a"}
    mpath = str(tmp_path / "m")

    def manifest_rows():
        return sorted(((r["partition_key"] is None, r["partition_key"])
                       for r in spark.read.parquet(mpath).collect()),
                      key=str)

    pv = validate_partitioned(spark, t, rules, "p", mpath, run_id="nn")
    verdicts = sorted(((r["partition_key"], r["status"])
                       for r in pv.where("check = 'allow_null'").collect()),
                      key=str)
    assert verdicts == [("None", "fail"), ("a", "pass"), (None, "pass")]
    cold = manifest_rows()
    assert cold == sorted([(False, "None"), (False, "a"), (True, None)],
                          key=str)
    # no-op rerun: nothing recomputes, no manifest row is added
    again = validate_partitioned(spark, t, rules, "p", mpath, run_id="nn")
    assert sorted(map(tuple, again.collect()), key=str) == \
        sorted(map(tuple, pv.collect()), key=str)
    assert manifest_rows() == cold
    # change only the 'None' partition: only it recomputes
    t2 = spark.createDataFrame(rows[:2] + [("None", "v5"), ("None", "v3")]
                               + rows[4:], "p string, x string")
    pv2 = validate_partitioned(spark, t2, rules, "p", mpath, run_id="nn")
    assert manifest_rows() == sorted(cold + [(False, "None")], key=str)
    verdicts2 = sorted(((r["partition_key"], r["status"])
                        for r in pv2.where("check = 'allow_null'")
                        .collect()), key=str)
    assert verdicts2 == [("None", "pass"), ("a", "pass"), (None, "pass")]

def test_snapshot_move_heals_fast_path(spark, tmp_path):
    """Snapshot moved: unchanged partitions are skipped via fingerprint
    AND re-recorded under the new snapshot, so the NEXT run under that
    snapshot takes the metadata-only fast path again."""
    from schema_validata_spark.datagen import gen_transcripts, transcript_rules
    from schema_validata_spark.manifest import Manifest
    from schema_validata_spark.validate import validate_partitioned
    t = gen_transcripts(spark, 2000, seed=42)
    mpath = str(tmp_path / "m2")
    validate_partitioned(spark, t, transcript_rules(), "ts_date", mpath,
                         run_id="snap1", snapshot_id="S1")
    m = Manifest(spark, mpath)
    assert all(v == "snap:S1"
               for v in m.done_identities("snap1").values())
    # snapshot moves, data unchanged → fingerprints match, partitions
    # skipped, identities re-recorded as snap:S2;fp:…
    validate_partitioned(spark, t, transcript_rules(), "ts_date", mpath,
                         run_id="snap1", snapshot_id="S2")
    ids = m.done_identities("snap1")
    assert all(v.startswith("snap:S2;fp:") for v in ids.values()), ids


def test_trust_manifest_rerun_skips_without_identity(spark, tmp_path,
                                                     monkeypatch):
    """verify_content=False, no snapshot: identities are None on both
    runs and None==None must MATCH — the rerun recomputes nothing."""
    import importlib
    V = importlib.import_module("schema_validata_spark.validate")
    from schema_validata_spark.datagen import gen_transcripts, transcript_rules
    t = gen_transcripts(spark, 2000, seed=42)
    mpath = str(tmp_path / "m3")
    pv = V.validate_partitioned(spark, t, transcript_rules(), "ts_date",
                                mpath, run_id="trust1",
                                verify_content=False)
    n = pv.count()
    calls = []
    real = V.partition_verdicts
    monkeypatch.setattr(V, "partition_verdicts",
                        lambda *a, **k: calls.append(1) or real(*a, **k))
    pv2 = V.validate_partitioned(spark, t, transcript_rules(), "ts_date",
                                 mpath, run_id="trust1",
                                 verify_content=False)
    assert calls == []            # nothing recomputed
    assert pv2.count() == n       # verdicts reconstructed from manifest


def test_fast_path_after_heal_keeps_skipping(spark, tmp_path, monkeypatch):
    """Run 3 under the SAME snapshot as a healed run 2: the fast path's
    bare 'snap:S2' token must match the healed 'snap:S2;fp:…' (same
    snapshot ⇒ unchanged) — no re-validation, and the stored fingerprint
    is NOT downgraded to the bare form (it's needed at the next
    snapshot move)."""
    import importlib
    V = importlib.import_module("schema_validata_spark.validate")
    from schema_validata_spark.datagen import gen_transcripts, transcript_rules
    from schema_validata_spark.manifest import Manifest
    t = gen_transcripts(spark, 2000, seed=42)
    mpath = str(tmp_path / "m4")
    V.validate_partitioned(spark, t, transcript_rules(), "ts_date", mpath,
                           run_id="snapheal", snapshot_id="S1")
    V.validate_partitioned(spark, t, transcript_rules(), "ts_date", mpath,
                           run_id="snapheal", snapshot_id="S2")
    m = Manifest(spark, mpath)
    assert all(v.startswith("snap:S2;fp:")
               for v in m.done_identities("snapheal").values())
    calls = []
    real = V.partition_verdicts
    monkeypatch.setattr(V, "partition_verdicts",
                        lambda *a, **k: calls.append(1) or real(*a, **k))
    pv3 = V.validate_partitioned(spark, t, transcript_rules(), "ts_date",
                                 mpath, run_id="snapheal",
                                 snapshot_id="S2")
    assert calls == []                       # run 3: all skipped
    assert pv3.count() > 0
    ids = m.done_identities("snapheal")
    assert all(v.startswith("snap:S2;fp:") for v in ids.values()), ids


def test_fp_contradiction_beats_same_snapshot(spark, tmp_path):
    """When the fingerprint fallback runs (mixed stored snapshots) and a
    stored token's fp CONTRADICTS the freshly computed one, the partition
    must recompute even though both tokens carry the same 'snap:S'
    prefix — a reused snapshot id must not revive stale verdicts."""
    from pyspark.sql import functions as F
    src = str(tmp_path / "src_fp")
    gen_transcripts(spark, 6_000, seed=7).write.mode("overwrite").parquet(src)
    t = spark.read.parquet(src)
    rules = transcript_rules()
    mpath = str(tmp_path / "m_fp")

    validate_partitioned(spark, t, rules, "ts_date", mpath,
                         run_id="fpwin", snapshot_id="S1")
    # snapshot move → fingerprint fallback + heal: all 'snap:S2;fp:…'
    validate_partitioned(spark, t, rules, "ts_date", mpath,
                         run_id="fpwin", snapshot_id="S2")
    m = Manifest(spark, mpath)
    ids_before = m.done_identities("fpwin")
    parts = sorted(ids_before)
    assert len(parts) >= 2 and all(
        v.startswith("snap:S2;fp:") for v in ids_before.values())
    changed, aged = parts[0], parts[1]

    # age ONE unchanged partition's token back to the S1 prefix (fp kept)
    # so the metadata-only fast path is refused and fingerprints compute
    aged_tok = "snap:S1" + ids_before[aged][len("snap:S2"):]
    m.mark_done_many("fpwin", [
        (aged, m.metrics("fpwin").get(aged, {}), None, 0.0, aged_tok)])

    # mutate the data of `changed` (role → NULL there) and rerun while
    # (mis)claiming the SAME snapshot S2
    mutated = t.withColumn(
        "role", F.when(t.ts_date.cast("string") == changed,
                       F.lit(None).cast("string")).otherwise(t.role))
    mdir = str(tmp_path / "src_fp2")
    mutated.write.mode("overwrite").parquet(mdir)
    t2 = spark.read.parquet(mdir)
    second = validate_partitioned(spark, t2, rules, "ts_date", mpath,
                                  run_id="fpwin", snapshot_id="S2")

    ids_after = m.done_identities("fpwin")
    # the changed partition recomputed under its NEW fingerprint…
    assert ids_after[changed] != ids_before[changed]
    assert ids_after[changed].startswith("snap:S2;fp:")
    # …with FRESH verdicts, not the stale manifest copy
    snd = {(r["partition_key"], r["column_name"], r["check"]):
           r["violation_count"] for r in second.collect()}
    n_changed = t2.where(t2.ts_date.cast("string") == changed).count()
    assert snd[(changed, "role", "allow_null")] == n_changed
    # the aged-but-unchanged partition skipped (fp matched) and healed
    # back up to the current snapshot prefix without losing its fp
    assert ids_after[aged] == ids_before[aged]
    # remaining partitions untouched
    for p in parts[2:]:
        assert ids_after[p] == ids_before[p]


def test_snapshotless_rerun_keeps_snapshot_prefix(spark, tmp_path,
                                                  monkeypatch):
    """A snapshot-less verify_content rerun over a manifest written with
    snapshot ids must not heal 'snap:S;fp:X' down to bare 'fp:X' — the
    prefix is what lets the next same-snapshot run take the
    metadata-only fast path."""
    import importlib
    V = importlib.import_module("schema_validata_spark.validate")
    t = gen_transcripts(spark, 2000, seed=42)
    mpath = str(tmp_path / "m_keep")
    V.validate_partitioned(spark, t, transcript_rules(), "ts_date", mpath,
                           run_id="keep", snapshot_id="S1")
    V.validate_partitioned(spark, t, transcript_rules(), "ts_date", mpath,
                           run_id="keep", snapshot_id="S2")
    m = Manifest(spark, mpath)
    before = m.done_identities("keep")
    assert all(v.startswith("snap:S2;fp:") for v in before.values())
    # snapshot-less rerun: fps match → all skipped, tokens untouched
    V.validate_partitioned(spark, t, transcript_rules(), "ts_date", mpath,
                           run_id="keep")
    assert m.done_identities("keep") == before
    # next run under the SAME snapshot still gets the metadata-only
    # fast path (no partition_verdicts recompute)
    calls = []
    real = V.partition_verdicts
    monkeypatch.setattr(V, "partition_verdicts",
                        lambda *a, **k: calls.append(1) or real(*a, **k))
    pv = V.validate_partitioned(spark, t, transcript_rules(), "ts_date",
                                mpath, run_id="keep", snapshot_id="S2")
    assert calls == [] and pv.count() > 0
