"""Round-5: the production job's FILE MODE — the reference user's CLI
shape (`--dataset-file csv --data-dict template.xlsx`) routed through
validate_files, writing the reference-shaped JSON artifact — and the
job's exit-code contract in both modes: 0 = passed, 2 = usage error
(reported before any Spark job runs), 3 = validation failed. Runs the
job's main() in-process (the fresh-JVM --py-files drive lives in
test_spark_submit_job.py)."""

import csv
import json
import os
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(REPO, "scripts"))

TEMPLATE = "/root/reference/data_dictionary_template.xlsx"


def _write_movies(path, clean: bool):
    rows = [
        (1, "Heat", 1995, "Mann", "Action", 170, "Heist", "True"),
        (2, "Alien", 1979, "Scott", "Sci-Fi", 117, "x", "False"),
    ]
    if not clean:
        rows.append((3, "Bad", 2300, "Dir", "Romance", 6000, "y",
                     "True"))
    with open(path, "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(["id", "title", "release_year", "director", "genre",
                    "runtime_minutes", "synopsis", "available"])
        w.writerows(rows)


def _run(argv):
    import run_validation_job
    with pytest.raises(SystemExit) as ei:
        run_validation_job.main(argv)
    return ei.value.code


def test_file_mode_fail_and_artifact(spark, tmp_path):
    ds = str(tmp_path / "movies.csv")
    _write_movies(ds, clean=False)
    out = str(tmp_path / "out")
    code = _run(["--dataset-file", ds, "--data-dict", TEMPLATE,
                 "--out", out, "--name", "movies",
                 "--schema-mapping",
                 '[{"dataset": "movies", "data_dict": '
                 '"MOVIES_SCHEMA"}]'])
    assert code == 3
    arts = os.listdir(out)
    assert len(arts) == 1 and arts[0].startswith("movies_(")
    with open(os.path.join(out, arts[0])) as f:
        rep = json.load(f)
    uid = next(iter(rep))
    sv = rep[uid]["results"]["movies"]["schema_violations"]
    assert {"release_year", "genre", "runtime_minutes"} <= set(sv)


def test_file_mode_clean_passes_default_mapping(spark, tmp_path):
    """No --schema-mapping: the dataset base name maps to the
    dictionary's first qualifying sheet (MOVIES_SCHEMA)."""
    ds = str(tmp_path / "movies.csv")
    _write_movies(ds, clean=True)
    out = str(tmp_path / "out")
    code = _run(["--dataset-file", ds, "--data-dict", TEMPLATE,
                 "--out", out, "--name", "movies"])
    assert code == 0


def test_file_mode_requires_data_dict(spark, tmp_path):
    code = _run(["--dataset-file", "x.csv",
                 "--out", str(tmp_path / "o")])
    assert code == 2


def test_table_mode_still_requires_transcripts(spark, tmp_path):
    code = _run(["--out", str(tmp_path / "o")])
    assert code == 2


def _write_movie_dictionary(path):
    """A one-sheet XLSX data dictionary (MOVIES_SCHEMA) in the
    reference template's column layout."""
    from schema_validata_spark.config import DATA_DICT_SCHEMA
    from schema_validata_spark.sources.xlsx import write_xlsx
    header = list(DATA_DICT_SCHEMA)
    spec = [
        {"field_name": "id", "required": "True", "data_type": "Integer",
         "allow_null": "False", "unique_value": "True"},
        {"field_name": "title", "required": "True", "data_type": "String",
         "allow_null": "False", "length": 40},
        {"field_name": "release_year", "required": "True",
         "data_type": "Integer", "range_min": 1900, "range_max": 2030},
    ]
    write_xlsx(path, {"MOVIES_SCHEMA": [header] + [
        [row.get(h) for h in header] for row in spec]})


def test_file_mode_workbook_default_mapping_uses_first_sheet(spark,
                                                             tmp_path):
    """No --schema-mapping on an XLSX workbook: the dataset key is the
    workbook's first sheet name (how validate_files keys workbook
    datasets), not the file's base name, which used to end in a bare
    KeyError."""
    from schema_validata_spark.sources.xlsx import write_xlsx
    dd = str(tmp_path / "dictionary.xlsx")
    _write_movie_dictionary(dd)
    ds = str(tmp_path / "catalog.xlsx")
    write_xlsx(ds, {
        "movies": [["id", "title", "release_year"],
                   [1, "Heat", 1995], [2, "Late", 2300]],
        "extra": [["a"], [1]],
    })
    out = str(tmp_path / "out")
    code = _run(["--dataset-file", ds, "--data-dict", dd,
                 "--out", out, "--name", "catalog"])
    assert code == 3                    # release_year 2300 > range_max
    arts = os.listdir(out)
    with open(os.path.join(out, arts[0])) as f:
        rep = json.load(f)
    res = rep[next(iter(rep))]["results"]
    assert set(res) == {"movies"}
    assert "release_year" in res["movies"]["schema_violations"]


def test_csv_record_qty_skips_blank_lines_like_pandas(tmp_path):
    """record_qty counts records as pandas read_csv does: empty and
    whitespace-only interior lines are skipped; a row of empty fields
    (',,') and a quoted empty field are records."""
    pd = pytest.importorskip("pandas")
    from schema_validata_spark.sources.tableio import get_spreadsheet_metadata
    path = str(tmp_path / "blanky.csv")
    with open(path, "w", newline="") as f:
        f.write("a,b,c\n1,2,3\n\n4,5,6\n   \n,,\n\t\n\"\"\n7,8,9\n\n")
    meta = get_spreadsheet_metadata(path)["blanky"]
    assert meta["record_qty"] == "5"
    assert int(meta["record_qty"]) == len(pd.read_csv(path))
    assert meta["column_qty"] == "3"


def _jobs(spark) -> set:
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return set(sc.statusTracker().getJobIdsForGroup())


def test_file_mode_violating_csv_exits_3(spark, tmp_path):
    """A failed validation exits 3 in file mode, as in table mode."""
    dd = str(tmp_path / "dictionary.xlsx")
    _write_movie_dictionary(dd)
    ds = str(tmp_path / "movies.csv")
    with open(ds, "w", newline="") as f:
        csv.writer(f).writerows([["id", "title", "release_year"],
                                 [1, "Heat", 1995], [2, "Late", 2300]])
    code = _run(["--dataset-file", ds, "--data-dict", dd,
                 "--out", str(tmp_path / "out"), "--name", "movies"])
    assert code == 3


def test_mask_cols_without_partition_col_exits_2_before_spark(spark,
                                                              tmp_path):
    """A flag combination that is wrong on its face is a usage error,
    reported before the table is read or validated."""
    tdir = str(tmp_path / "t")
    spark.range(3).write.parquet(tdir)
    before = _jobs(spark)
    code = _run(["--transcripts", tdir, "--out", str(tmp_path / "out"),
                 "--mask-cols", "role"])
    assert code == 2
    assert _jobs(spark) - before == set()
    assert not os.path.exists(tmp_path / "out")


def test_rules_xlsx_without_dictionary_sheet_exits_2_before_spark(
        spark, tmp_path):
    """The dictionary loads before the table is read: a workbook with no
    qualifying sheet is a usage error that costs no Spark job."""
    from schema_validata_spark.sources.xlsx import write_xlsx
    dd = str(tmp_path / "notes.xlsx")
    write_xlsx(dd, {"notes": [["a", "b"], [1, 2]]})
    tdir = str(tmp_path / "t")
    spark.range(3).write.parquet(tdir)
    before = _jobs(spark)
    code = _run(["--transcripts", tdir, "--out", str(tmp_path / "out"),
                 "--rules-xlsx", dd])
    assert code == 2
    assert _jobs(spark) - before == set()
