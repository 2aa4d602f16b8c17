"""Resume under failure: a run that dies mid-way resumes with exactly the
remaining partitions, the one manifest read resolves superseded rows
latest-wins, and a bad ``batch_size`` is rejected up front."""

import importlib
import json
import os

import pytest
from pyspark.sql import functions as F

from schema_validata_spark.datagen import gen_transcripts, transcript_rules
from schema_validata_spark.manifest import MANIFEST_SCHEMA, Manifest

# the package re-exports validate(), which shadows the module name
V = importlib.import_module("schema_validata_spark.validate")


def _key(rows):
    return sorted((r["partition_key"], r["column_name"], r["check"],
                   r["violation_count"], r["status"]) for r in rows)


def _partitions(df):
    return sorted(str(r[0]) for r in
                  df.select(F.col("ts_date").cast("string"))
                    .distinct().collect())


def test_failed_batch_resumes_only_the_remainder(spark, tmp_path,
                                                 monkeypatch):
    src = str(tmp_path / "src")
    gen_transcripts(spark, 3_000, seed=11).write.parquet(src)
    t = spark.read.parquet(src)
    rules = transcript_rules()
    parts = _partitions(t)
    assert len(parts) > 4

    want = _key(V.validate_partitioned(
        spark, t, rules, "ts_date", str(tmp_path / "m_full"),
        run_id="fault", batch_size=2).collect())

    real = V.partition_verdicts
    seen: list[list[str]] = []

    def failing_second_batch(sub, *a, **k):
        seen.append(_partitions(sub))
        if len(seen) == 2:
            raise RuntimeError("injected failure in batch 2")
        return real(sub, *a, **k)

    mpath = str(tmp_path / "m_fault")
    monkeypatch.setattr(V, "partition_verdicts", failing_second_batch)
    with pytest.raises(RuntimeError, match="injected failure"):
        V.validate_partitioned(spark, t, rules, "ts_date", mpath,
                               run_id="fault", batch_size=2)
    # only the first batch committed
    assert Manifest(spark, mpath).completed("fault") == set(parts[:2])

    def recording(sub, *a, **k):
        seen.append(_partitions(sub))
        return real(sub, *a, **k)

    seen.clear()
    monkeypatch.setattr(V, "partition_verdicts", recording)
    resumed = V.validate_partitioned(spark, t, rules, "ts_date", mpath,
                                     run_id="fault", batch_size=2)
    # the rerun computes only the partitions the failed run did not
    # commit, in batches of two
    assert sorted(p for batch in seen for p in batch) == parts[2:]
    assert all(len(batch) <= 2 for batch in seen)
    assert _key(resumed.collect()) == want


def test_single_read_resolves_history_latest_wins(spark, tmp_path):
    """A manifest of several commits with superseded rows, another run's
    rows, a non-'done' row and a NULL ``committed_at``: the read keeps
    the latest row per partition with NULL timestamps last, and every
    projection agrees with it."""
    path = str(tmp_path / "m_hist")
    m = Manifest(spark, path)
    m.mark_done_many("r", [(p, {"v": 1}, None, 0.0, f"fp:{p}1")
                           for p in ("a", "b", "c")])
    m.mark_done_many("r", [("a", {"v": 2}, None, 0.0, "fp:a2")])
    m.mark_done_many("r", [("b", {"v": 2}, None, 0.0, "fp:b2"),
                           ("a", {"v": 3}, None, 0.0, "fp:a3")])
    m.mark_done_many("other", [("a", {"v": 9}, None, 0.0, "fp:x")])
    (spark.createDataFrame([
        # undated: loses to any dated row of its partition ...
        ("r", "a", "done", json.dumps({"v": 99}), None, None, "fp:a?", None),
        # ... and stands when it is the only row
        ("r", "d", "done", json.dumps({"v": 4}), None, None, "fp:d", None),
        # newest of all, but not 'done'
        ("r", "c", "failed", json.dumps({"v": 7}), None, None, "fp:c7",
         9e18),
    ], MANIFEST_SCHEMA).coalesce(1).write.mode("append").parquet(path))
    assert sum(f.endswith(".parquet") for f in os.listdir(path)) == 5

    # desc_nulls_last(committed_at) per partition, on the driver
    stored = [r for r in spark.read.schema(MANIFEST_SCHEMA).parquet(path)
              .collect() if r["run_id"] == "r" and r["status"] == "done"]
    best = {}
    for r in stored:
        rank = (r["committed_at"] is not None, r["committed_at"] or 0.0)
        if r["partition_key"] not in best or rank > best[r["partition_key"]][0]:
            best[r["partition_key"]] = (rank, r)
    want = {p: (r["snapshot_id"], json.loads(r["metrics"]))
            for p, (_, r) in best.items()}
    assert want == {"a": ("fp:a3", {"v": 3}), "b": ("fp:b2", {"v": 2}),
                    "c": ("fp:c1", {"v": 1}), "d": ("fp:d", {"v": 4})}

    assert m.latest("r") == want
    assert m.done_identities("r") == {p: i for p, (i, _) in want.items()}
    assert m.metrics("r") == {p: x for p, (_, x) in want.items()}
    assert m.completed("r") == set(want)
    assert m.latest("absent") == {} and m.completed("absent") == set()
    assert Manifest(spark, str(tmp_path / "none")).latest("r") == {}


@pytest.mark.parametrize("batch_size", [0, -1])
def test_batch_size_below_one_is_rejected(spark, tmp_path, batch_size):
    sc = spark.sparkContext

    def jobs():
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return set(sc.statusTracker().getJobIdsForGroup())

    t = gen_transcripts(spark, 200, seed=5)
    mpath = str(tmp_path / "m_bad")
    before = jobs()
    with pytest.raises(ValueError, match="batch_size"):
        V.validate_partitioned(spark, t, transcript_rules(), "ts_date",
                               mpath, run_id="bad", batch_size=batch_size)
    assert jobs() == before
    assert not os.path.exists(mpath)
