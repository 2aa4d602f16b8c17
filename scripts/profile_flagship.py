"""Per-phase timing of the flagship validate lap (VERDICT r2 #8):
run each constituent job of validate() SEQUENTIALLY on the bench
transcripts table so the 'where does the cold lap go' question has
measurements instead of suspects. Not part of the bench contract —
a profiling tool.

Usage: python scripts/profile_flagship.py [n_turns]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from bench import CPUS, materialize_transcripts  # noqa: E402
from schema_validata_spark.datagen import transcript_rules  # noqa: E402
from schema_validata_spark.operators.integrity import (  # noqa: E402
    referential_violations)
from schema_validata_spark.operators.profile import profile  # noqa: E402
from schema_validata_spark.operators.uniqueness import (  # noqa: E402
    duplicate_stats)
from schema_validata_spark.session import get_spark  # noqa: E402
from schema_validata_spark.validate import validate  # noqa: E402

N = int(sys.argv[1]) if len(sys.argv) > 1 else 4_000_000


def lap(label, fn):
    t0 = time.time()
    out = fn()
    dt = time.time() - t0
    print(f"{label:38s} {dt:7.2f}s   {out}")
    return dt


def main():
    spark = get_spark(app_name="profile_flagship",
                      master=f"local[{CPUS}]", shuffle_partitions=CPUS)
    spark.sparkContext.setLogLevel("ERROR")
    tdir, cdir, wdir = materialize_transcripts(spark, N)
    rules = transcript_rules()

    # warm-up: identical to bench (compile + JIT on the small table)
    t_w = spark.read.parquet(wdir)
    c = spark.read.parquet(cdir)
    res = validate(spark, t_w.drop("ts_date"), rules,
                   dataset_name="transcripts", dims={"conversations": c},
                   key_cols=["conv_id", "turn_idx"], ignore_errors=[])
    res.violations.count()
    res.unpersist()

    t = spark.read.parquet(tdir).drop("ts_date")

    print(f"--- sequential phases, {N} turns, local[{CPUS}] ---")
    distincts: dict = {}
    content: dict = {}
    lap("profile (wide agg + value agg)",
        lambda: len(profile(t, out_distincts=distincts,
                            exact_unique_cols=[], out_content=content)))
    lap("duplicate_stats (conv_id,turn_idx)",
        lambda: duplicate_stats(t, ["conv_id", "turn_idx"]))
    lap("referential integrity (conv_id)",
        lambda: referential_violations(t, ["conv_id"], c, ["conv_id"],
                                       broadcast_dim=True).count())

    from schema_validata_spark.operators.violations import (rule_specs,
                                                            value_errors_df)
    specs = rule_specs(t.columns, rules, [])
    v = value_errors_df(t, specs, ["conv_id", "turn_idx"])
    lap("violations scan (no persist)", lambda: v.count())
    from pyspark import StorageLevel
    vp = value_errors_df(t, specs, ["conv_id", "turn_idx"]) \
        .persist(StorageLevel.MEMORY_AND_DISK)
    lap("violations scan (persist write)", lambda: vp.count())
    lap("violations re-count (cached)", lambda: vp.count())
    vp.unpersist()

    print("--- full concurrent lap (bench shape) ---")

    def full():
        res = validate(spark, t, rules, dataset_name="transcripts",
                       dims={"conversations": c},
                       key_cols=["conv_id", "turn_idx"], ignore_errors=[])
        n = res.violations.count()
        res.unpersist()
        return n
    lap("validate + violations.count lap 1", full)
    lap("validate + violations.count lap 2", full)
    spark.stop()


if __name__ == "__main__":
    main()
