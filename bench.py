"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS], plus the north-star
metric — validated transcript turns/sec for the FULL constraint suite
(profile + verdicts + composite uniqueness + referential integrity +
row-level violation listing) over a deterministic synthetic transcripts
table read from parquet.

Prints ONE JSON line:
  {"metric": ..., "value": <total sec>, "unit": "sec",
   "queries": {name: sec, ...}, "sf": ...,
   "transcript_turns": N, "validated_turns_per_sec": X}

Env knobs:
  SPARK_GRAFT_SF_DIR   sf dir for the driver-table queries
  SPARK_GRAFT_CPUS     local[] parallelism (default 32)
  BENCH_TURNS          transcripts row count (default 4_000_000)
  BENCH_ONLY           comma-separated subset of query names
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F  # noqa: E402

import __spark_entry__ as entrymod  # noqa: E402
from schema_validata_spark.datagen import (gen_conversations, gen_transcripts,
                                           transcript_rules)
from schema_validata_spark.session import get_spark  # noqa: E402
from schema_validata_spark.validate import partition_verdicts, validate

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
N_TURNS = int(os.environ.get("BENCH_TURNS", "4000000"))
CACHE = os.environ.get("BENCH_CACHE_DIR", "/tmp/spark_graft_bench")


WARMUP_TURNS = int(os.environ.get("BENCH_WARMUP_TURNS", "100000"))


def materialize_transcripts(spark, n_turns: int) -> tuple[str, str, str]:
    """Write the deterministic transcripts + conversations fixture to
    parquet ONCE (not timed); benchmark runs then read from storage like
    a real job. 64 files → enough splits for any local[] width. A small
    warm-up table with the identical schema is written alongside."""
    tdir = f"{CACHE}/transcripts_{n_turns}"
    cdir = f"{CACHE}/conversations_{n_turns}"
    wdir = f"{CACHE}/transcripts_warmup_{WARMUP_TURNS}"
    if not os.path.exists(f"{tdir}/_SUCCESS"):
        shutil.rmtree(tdir, ignore_errors=True)
        shutil.rmtree(cdir, ignore_errors=True)
        gen_transcripts(spark, n_turns, seed=42).repartition(64) \
            .write.mode("overwrite").parquet(tdir)
        gen_conversations(spark, n_turns, seed=42) \
            .write.mode("overwrite").parquet(cdir)
    if not os.path.exists(f"{wdir}/_SUCCESS"):
        gen_transcripts(spark, WARMUP_TURNS, seed=7).repartition(8) \
            .write.mode("overwrite").parquet(wdir)
    return tdir, cdir, wdir


def _run_validate(spark, tdir, cdir):
    t = spark.read.parquet(tdir)
    c = spark.read.parquet(cdir)
    res = validate(spark, t.drop("ts_date"), transcript_rules(),
                   dataset_name="transcripts",
                   dims={"conversations": c},
                   key_cols=["conv_id", "turn_idx"], ignore_errors=[])
    n = res.violations.count()
    res.unpersist()          # don't accumulate lap caches
    return n


def bench_validate_transcripts(spark):
    tdir, cdir, wdir = materialize_transcripts(spark, N_TURNS)
    # warm-up lap on an identically-shaped small table: compiles the
    # generated classes + JIT once, so the timed laps measure steady-state
    # throughput (what a long-running cluster job actually sees), not
    # first-query compilation tax. Two timed laps, best kept — in-process
    # laps are stable, process starts are not.
    _run_validate(spark, wdir, cdir)
    walls = []
    for _ in range(int(os.environ.get("BENCH_LAPS", "2"))):
        t0 = time.time()
        n_viol = _run_validate(spark, tdir, cdir)
        walls.append(time.time() - t0)
    wall = min(walls)
    return wall, {"n_violations": n_viol,
                  "turns_per_sec": round(N_TURNS / wall, 1)}


def bench_partition_verdicts_transcripts(spark):
    tdir, _, wdir = materialize_transcripts(spark, N_TURNS)
    t = spark.read.parquet(tdir)
    # same steady-state methodology as the other heavy benches: one
    # untimed lap on the identically-shaped warm-up table compiles the
    # generated predicate battery before the timed lap
    partition_verdicts(spark.read.parquet(wdir), transcript_rules(),
                       "ts_date").count()
    t0 = time.time()
    pv = partition_verdicts(t, transcript_rules(), "ts_date")
    n = pv.count()
    return time.time() - t0, {"verdict_rows": n}


_DRIVER_TABLE_QUERIES = [
    "profile_stats", "partition_verdicts", "validate_events",
    "drift_scores", "dedup_exact", "token_counts",
    "quality_scores", "composite_duplicates",
]


def main():
    only = set(filter(None, os.environ.get("BENCH_ONLY", "").split(",")))
    spark = get_spark(app_name="bench", master=f"local[{CPUS}]",
                      shuffle_partitions=CPUS)
    spark.sparkContext.setLogLevel("ERROR")

    timings: dict[str, float] = {}
    extras: dict[str, object] = {}

    heavy = {
        "validate_transcripts": bench_validate_transcripts,
        "partition_verdicts_transcripts": bench_partition_verdicts_transcripts,
    }
    for name, fn in heavy.items():
        if only and name not in only:
            continue
        wall, extra = fn(spark)
        timings[name] = round(wall, 3)
        extras.update({f"{name}.{k}": v for k, v in extra.items()})

    qs = entrymod.queries()
    # steady-state methodology (same as the transcripts bench): one
    # warm-up execution per query against the sf0.001 copy of the SAME
    # schemas compiles the generated classes + JIT once, so the timed
    # lap measures data-scaling cost rather than first-compile tax —
    # what a long-running cluster job actually sees. (sf0.1 customer is
    # ~15k rows; untimed-warm-up vs cold changes profile_stats ~4×.)
    warm_dir = os.environ.get("BENCH_WARM_DIR", "/root/testdata/sf0.001")
    for name in _DRIVER_TABLE_QUERIES:
        if only and name not in only:
            continue
        if os.path.isdir(warm_dir):
            qs[name](spark, warm_dir).count()
        t0 = time.time()
        df = qs[name](spark, SF_DIR)
        df.count()
        timings[name] = round(time.time() - t0, 3)

    total = round(sum(timings.values()), 3)
    out = {
        "metric": "validated turns/sec (full constraint suite) + headline ops",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": SF_DIR.rstrip("/").rsplit("sf", 1)[-1],
        "cpus": CPUS,
        "transcript_turns": N_TURNS,
        "validated_turns_per_sec":
            extras.get("validate_transcripts.turns_per_sec"),
    }
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
