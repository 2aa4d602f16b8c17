"""Local stand-in for the driver's correctness gate: run every
``queries()`` entry on Spark and its ``oracle_sql()`` twin on DuckDB at
the same sf dir, compare row count, sorted column names, and an
order-insensitive multiset of row values.

Usage: python scripts/check_oracle.py [sf_dir] [query ...]
A query name that is not in ``queries()`` exits 1 before anything runs.
"""

from __future__ import annotations

import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402

import __spark_entry__ as entrymod  # noqa: E402

TABLES = ["customer", "orders", "lineitem", "events", "documents"]


def norm_val(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # collapse float repr noise below the decimals our queries round to
        return f"{v:.9g}"
    if isinstance(v, bool):
        return str(v)
    return str(v)


def rows_to_multiset(colnames, rows):
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    out = [tuple(norm_val(r[i]) for i in order) for r in rows]
    return sorted(out)


# sf0.1 STRESS SUBSET (VERDICT r4 #6): the heaviest oracle queries —
# the text near-dup families (MinHash, SimHash) and their
# cluster/split consumers, conversation forks, snapshot/sketch merges
# and the validation core — promoted from the sf0.01 battery to a
# 10x-input run. `python scripts/check_oracle.py --stress` runs
# exactly these at /root/testdata/sf0.1; runtimes are recorded in
# BENCH/BASELINE.md. Every name must be a queries() entry (pinned by
# tests/test_tooling_lists.py).
STRESS_QUERIES = [
    "dedup_near",
    "minhash_near_duplicates", "simhash_near_duplicates",
    "near_dup_clusters",
    "dedup_keep_best", "near_dup_safe_split", "conversation_forks",
    "snapshot_diff", "quantile_sketch_merge", "validate_events",
    "composite_duplicates", "profile_stats",
]


def main():
    argv = list(sys.argv[1:])
    if argv and argv[0] == "--stress":
        sf_dir = argv[1] if len(argv) > 1 else "/root/testdata/sf0.1"
        only = set(STRESS_QUERIES)
    else:
        sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
        only = set(argv[1:])
    qs = entrymod.queries()
    unknown = sorted(only - set(qs))
    if unknown:
        sys.exit(f"unknown query names: {', '.join(unknown)}")

    from pyspark.sql import SparkSession
    spark = (SparkSession.builder.master("local[8]")
             .appName("oracle-check")
             .config("spark.sql.shuffle.partitions", "8")
             .config("spark.driver.memory", "8g")
             .config("spark.ui.enabled", "false")
             .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                f"'{sf_dir}/{t}.parquet'")

    oracles = entrymod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            df = fn(spark, sf_dir)
            scols = df.columns
            srows = df.collect()
        except Exception as e:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL  {name}: spark error {type(e).__name__}: {e}")
            continue
        if name not in oracles:
            print(f"rows-only  {name}: {len(srows)} rows, "
                  f"cols={sorted(scols)} [{time.time()-t0:.1f}s]")
            continue
        try:
            rel = con.sql(oracles[name])
            ocols = rel.columns
            orows = rel.fetchall()
        except Exception as e:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL  {name}: duckdb error {type(e).__name__}: {e}")
            continue
        ok = True
        if sorted(scols) != sorted(ocols):
            ok = False
            print(f"FAIL  {name}: columns spark={sorted(scols)} "
                  f"oracle={sorted(ocols)}")
        if len(srows) != len(orows):
            ok = False
            print(f"FAIL  {name}: rowcount spark={len(srows)} "
                  f"oracle={len(orows)}")
        if ok:
            sm = rows_to_multiset(scols, [tuple(r) for r in srows])
            om = rows_to_multiset(ocols, orows)
            if sm != om:
                ok = False
                diff_s = [r for r in sm if r not in set(om)][:5]
                diff_o = [r for r in om if r not in set(sm)][:5]
                print(f"FAIL  {name}: value mismatch; "
                      f"spark-only={diff_s} oracle-only={diff_o}")
        if ok:
            print(f"OK    {name}: {len(srows)} rows [{time.time()-t0:.1f}s]")
        else:
            failures.append(name)

    if not only:
        try:
            edf = entrymod.entry(spark)
            n = edf.count()
            print(f"entry: {n} rows, schema={edf.schema.simpleString()}")
        except Exception as e:  # noqa: BLE001
            failures.append("entry")
            print(f"FAIL  entry: {type(e).__name__}: {e}")

    print(f"\n{'ALL OK' if not failures else 'FAILURES: ' + str(failures)}")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
