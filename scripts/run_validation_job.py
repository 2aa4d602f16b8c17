"""spark-submit job entrypoint (north_rule: `spark-submit --py-files`
on a multi-executor cluster).

    zip -r /tmp/schema_validata_spark.zip schema_validata_spark
    spark-submit --master <cluster> \
        --py-files /tmp/schema_validata_spark.zip \
        scripts/run_validation_job.py \
        --transcripts <path> --conversations <path> \
        --out <dir> [--rules <rules.json>] [--partition-col ts_date] \
        [--manifest <dir>]

Reads the transcripts (+ optional conversations dim), validates against
the rules (default: the FIXTURES.md transcript rule table), writes the
report artifacts and per-partition verdicts, and exits non-zero when
validation failed — the shape of a production scheduled run. With
--manifest the run is resumable: completed partitions are skipped.

Exit codes, in both table and file mode: 0 = validation passed,
2 = usage error (bad flags, an unreadable data dictionary, a column
the table lacks), 3 = validation failed. Every check that needs only
the arguments, and the rules / data dictionary load, run before the
SparkSession starts; checks that need the table run right after it is
read, before validation.
"""

from __future__ import annotations

import argparse
import json
import os
import sys


def _first_dict_sheet(ap, flag: str, path: str, sheets: dict):
    """The first qualifying sheet of ``Rules.from_xlsx(path)``; a
    usage exit when the workbook has none."""
    if not sheets:
        from schema_validata_spark.config import DATA_DICT_SCHEMA
        ap.error(f"{flag}: {path} has no data-dictionary sheet (none has "
                 f"a field row under all of the DATA_DICT_SCHEMA columns "
                 f"{list(DATA_DICT_SCHEMA)})")
    return next(iter(sheets))


def _load_rules(ap, args):
    """Table-mode rules from --rules-xlsx, --rules or the default
    transcript table (stdlib file reads; no Spark)."""
    from schema_validata_spark.rules import Rules
    if args.rules_xlsx:
        # 'SHEET:path' — treat the prefix as a sheet name only when the
        # whole argument isn't itself a path: an existing file wins
        # outright; otherwise a multi-char prefix whose remainder is not
        # a URL ('s3://…', rest starts '//') or Windows drive path
        # ('C:\dicts\dd.xlsx' — single-char prefix, rest starts '\') is
        # a sheet. Dots are allowed (Excel permits 'My.Sheet'); a
        # single-character sheet name needs the path to not exist and is
        # otherwise read as a drive letter.
        arg = args.rules_xlsx
        sheet, path = "", arg
        if not os.path.exists(arg):
            head, sep, rest = arg.partition(":")
            # Excel forbids '/', '\\' (and ':') in sheet names, so a
            # prefix containing them is a path component, not a sheet
            # ('data/v:2/dd.xlsx' must stay a plain path)
            if sep and len(head) > 1 and not rest.startswith("//") \
                    and not rest.startswith("\\") \
                    and not any(ch in head for ch in "\\/"):
                sheet, path = head, rest
        try:
            rules = Rules.from_xlsx(path, sheet=sheet or None)
        except ValueError as e:
            ap.error(f"--rules-xlsx: {e}")
        if isinstance(rules, dict):  # no sheet given: take the first
            rules = rules[_first_dict_sheet(ap, "--rules-xlsx", path, rules)]
        return rules
    if args.rules:
        with open(args.rules) as f:
            data = json.load(f)
        # config shape ({"fields": {...}, "composite_unique": [...],
        # "foreign_keys": [...], "conditional": [...]}) carries the
        # engine extensions; a bare nested dict is per-field rules only
        return (Rules.from_config(data) if "fields" in data
                else Rules.from_nested_dict("JOB_RULES", data))
    from schema_validata_spark.datagen import transcript_rules
    return transcript_rules()


def _load_budgets(ap, arg: str):
    """``--budgets`` as ({(column, check): rate}, default rate)."""
    try:
        if os.path.exists(arg):
            with open(arg) as f:
                spec = json.load(f)
        else:
            spec = json.loads(arg)
        if not isinstance(spec, dict):
            raise ValueError("not a JSON object")
        default = float(spec.pop("default", 0.0))
        budgets = {}
        for key, rate in spec.items():
            col, sep, chk = key.partition(":")
            if not sep:
                raise ValueError(
                    f"budget key {key!r} must be 'column:check'")
            budgets[(col, chk)] = float(rate)
    except (TypeError, ValueError) as e:
        ap.error(f"--budgets: {e}")
    return budgets, default


def main(argv=None):
    ap = argparse.ArgumentParser()
    ap.add_argument("--transcripts",
                    help="transcripts parquet path (table mode; "
                         "required unless --dataset-file)")
    ap.add_argument("--conversations")
    ap.add_argument("--out", required=True)
    ap.add_argument("--rules", help="rules as nested-dict JSON")
    ap.add_argument("--rules-xlsx",
                    help="rules as an XLSX data dictionary (the reference "
                         "authoring format); use SHEET:path to pick a sheet")
    ap.add_argument("--partition-col")
    ap.add_argument("--manifest")
    ap.add_argument("--snapshot-id",
                    help="input snapshot identity (e.g. Iceberg snapshot); "
                         "metadata-only resume skip when unchanged")
    ap.add_argument("--no-verify-content", action="store_true",
                    help="trust the manifest without per-partition content "
                         "fingerprints (immutable inputs)")
    ap.add_argument("--sketch-cols",
                    help="comma-separated columns to maintain mergeable "
                         "HLL distinct sketches for (persisted at "
                         "<manifest>_sketches, reused on resume)")
    ap.add_argument("--mask-cols",
                    help="comma-separated string columns: also write "
                         "<name>_mask_stability.parquet — per-partition "
                         "dominant value-mask stability (format-drift "
                         "screen; requires --partition-col)")
    ap.add_argument("--budgets",
                    help="error budgets as inline JSON or a JSON file: "
                         '{"column:check": max_rate, "default": rate}. '
                         "Requires --partition-col. Writes "
                         "<name>_partition_rate_verdicts.parquet and the "
                         "job exit gate becomes the budgeted verdicts "
                         "(all pass -> 0) instead of the strict "
                         "any-violation fail.")
    ap.add_argument("--trend-screens", action="store_true",
                    help="also write the time-bucketed incident screens "
                         "over the event-time column ('ts'): "
                         "<name>_completeness_trend.parquet (per-day "
                         "per-column null-rate z), "
                         "<name>_dup_trend.parquet (within-day "
                         "key-duplicate pressure on the key columns), "
                         "<name>_monotone_trend.parquet (daily "
                         "high-water mark of turn_idx). Diagnostic "
                         "artifacts only — the exit gate is unchanged.")
    ap.add_argument("--run-log-dir",
                    help="append this run to the ROLLING error/metadata "
                         "log tables (report.append_run_log): "
                         "<dir>/error_log and <dir>/run_log parquet, "
                         "run_uid-partitioned with dynamic-partition-"
                         "overwrite upserts — re-running the same "
                         "content replaces exactly its own rows. The "
                         "reference example's accumulating log "
                         "workflow, production-wired.")
    ap.add_argument("--name", default="transcripts")
    ap.add_argument("--dataset-file",
                    help="FILE MODE (the reference user's CLI shape): "
                         "validate a CSV/XLSX dataset file against an "
                         "XLSX data dictionary via validate_files — "
                         "writes the reference-shaped "
                         "<name>_({uid}).json report to --out and "
                         "exits 3 on any schema violation. Requires "
                         "--data-dict; --transcripts is ignored.")
    ap.add_argument("--data-dict",
                    help="XLSX data dictionary path (file mode)")
    ap.add_argument("--schema-mapping",
                    help='file mode mapping as JSON, e.g. '
                         '[{"dataset": "movies", "data_dict": '
                         '"MOVIES_SCHEMA"}]; default maps the dataset '
                         "file's base name (a workbook's first sheet) "
                         "to the dictionary's first qualifying sheet")
    args = ap.parse_args(argv)

    if args.dataset_file:
        if not args.data_dict:
            ap.error("--dataset-file requires --data-dict")
    elif not args.transcripts:
        ap.error("--transcripts is required (table mode), or "
                 "pass --dataset-file/--data-dict (file mode)")
    if args.mask_cols and not args.partition_col:
        ap.error("--mask-cols requires --partition-col")
    if args.budgets and not args.partition_col:
        ap.error("--budgets requires --partition-col")
    budgets = _load_budgets(ap, args.budgets) if args.budgets else None

    if args.dataset_file:
        from schema_validata_spark.rules import Rules
        if args.schema_mapping:
            try:
                mapping = json.loads(args.schema_mapping)
            except ValueError as e:
                ap.error(f"--schema-mapping: {e}")
        else:
            # validate_files keys datasets like the file metadata: a
            # CSV by its base name, a workbook by its sheet names — so
            # the default maps the first of those keys
            from schema_validata_spark.sources.tableio import \
                get_spreadsheet_metadata
            base = next(iter(get_spreadsheet_metadata(args.dataset_file)))
            sheets = Rules.from_xlsx(args.data_dict)
            mapping = [{"dataset": base,
                        "data_dict": _first_dict_sheet(
                            ap, "--data-dict", args.data_dict, sheets)}]
    else:
        rules = _load_rules(ap, args)

    from pyspark.sql import SparkSession
    # When invoked programmatically (tests, notebooks) an active
    # session may already exist — getOrCreate() returns it, and
    # stopping it on exit would tear down the CALLER's session. Only
    # stop what this job itself created (the spark-submit case).
    owns_session = SparkSession.getActiveSession() is None
    spark = SparkSession.builder.appName("schema-validata-job").getOrCreate()

    def _stop():
        if owns_session:
            spark.stop()

    if args.dataset_file:
        from schema_validata_spark.validate import validate_files
        report = validate_files(spark, args.dataset_file,
                                args.data_dict, mapping,
                                out_dir=args.out, out_name=args.name)
        uid = next(iter(report))
        failed = any(
            bool(sec.get("schema_violations"))
            for sec in report[uid]["results"].values())
        print(f"file-mode report written for uid {uid}; "
              f"{'FAIL' if failed else 'PASS'}")
        _stop()
        sys.exit(3 if failed else 0)

    from schema_validata_spark.report import write_report
    from schema_validata_spark.validate import (validate,
                                                validate_partitioned)

    df = spark.read.parquet(args.transcripts)
    problem = None
    if args.partition_col and args.partition_col not in df.columns:
        problem = f"partition col {args.partition_col} not in table"
    elif args.trend_screens and "ts" not in df.columns:
        problem = "--trend-screens requires a 'ts' column"
    if problem:
        _stop()
        ap.error(problem)
    dims = {}
    if args.conversations:
        dims["conversations"] = spark.read.parquet(args.conversations)

    work = df.drop("ts_date") if (args.partition_col != "ts_date"
                                  and "ts_date" in df.columns) else df
    result = validate(spark, work, rules, dataset_name=args.name,
                      dims=dims, key_cols=["conv_id", "turn_idx"],
                      ignore_errors=[])
    paths = write_report(result, args.out, out_name=args.name)
    if args.run_log_dir:
        from schema_validata_spark.report import append_run_log
        paths.update(append_run_log(result, args.run_log_dir,
                                    spark=spark,
                                    extra={"job_name": args.name}))

    if args.partition_col and args.manifest:
        sketch_cols = ([c.strip() for c in args.sketch_cols.split(",")
                        if c.strip()] if args.sketch_cols else None)
        pv = validate_partitioned(spark, df, rules, args.partition_col,
                                  args.manifest, dims=dims,
                                  snapshot_id=args.snapshot_id,
                                  verify_content=not args.no_verify_content,
                                  sketch_cols=sketch_cols)
        pv.write.mode("overwrite").parquet(
            f"{args.out}/{args.name}_partition_verdicts.parquet")

    if args.mask_cols:
        from schema_validata_spark.operators.expectations import \
            mask_stability
        mcols = [c.strip() for c in args.mask_cols.split(",") if c.strip()]
        ms = mask_stability(df, mcols, args.partition_col)
        ms.write.mode("overwrite").parquet(
            f"{args.out}/{args.name}_mask_stability.parquet")

    if args.trend_screens:
        from schema_validata_spark.operators.expectations import (
            completeness_trend, monotone_trend_check)
        from schema_validata_spark.operators.uniqueness import dup_trend
        watch = [c for c in ("role", "text", "tool") if c in df.columns]
        if watch:
            completeness_trend(df, "ts", watch).write.mode(
                "overwrite").parquet(
                f"{args.out}/{args.name}_completeness_trend.parquet")
        dup_trend(df, ["conv_id", "turn_idx"], "ts").write.mode(
            "overwrite").parquet(
            f"{args.out}/{args.name}_dup_trend.parquet")
        if "turn_idx" in df.columns:
            monotone_trend_check(df, "ts", "turn_idx").write.mode(
                "overwrite").parquet(
                f"{args.out}/{args.name}_monotone_trend.parquet")

    budget_gate = None
    if budgets is not None:
        from pyspark.sql import functions as F
        from schema_validata_spark.validate import partition_rate_verdicts
        rates, default = budgets
        prv = partition_rate_verdicts(df, rules, args.partition_col,
                                      rates, dims=dims,
                                      default_budget=default)
        prv_path = f"{args.out}/{args.name}_partition_rate_verdicts.parquet"
        prv.write.mode("overwrite").parquet(prv_path)
        budget_gate = (spark.read.parquet(prv_path)
                       .where(F.col("status") == "fail").count() == 0)

    ok = budget_gate if budget_gate is not None else result.passed()
    print(json.dumps({"passed": ok, "uid": result.uid,
                      "strict_passed": result.passed(),
                      "budget_gate": budget_gate,
                      "artifacts": paths}))
    _stop()
    sys.exit(0 if ok else 3)


if __name__ == "__main__":
    main()
