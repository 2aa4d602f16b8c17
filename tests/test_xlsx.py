"""XLSX ingest + report parity (VERDICT r1 #5 / missing #2, #4): the
stdlib OOXML reader/writer, Rules.from_xlsx against the reference's REAL
template file, and the schema_validation_to_xlsx report shape."""

from __future__ import annotations

import os
import zipfile

import pytest

from schema_validata_spark import report as report_mod
from schema_validata_spark.config import DATA_DICT_SCHEMA
from schema_validata_spark.report import (schema_validation_to_xlsx,
                                          write_dataframes_to_xlsx)
from schema_validata_spark.rules import Rules, data_dict_xlsx_to_json
from schema_validata_spark.sources.xlsx import (read_xlsx, read_xlsx_records,
                                                write_xlsx)

TEMPLATE = "/root/reference/data_dictionary_template.xlsx"


def test_read_reference_template():
    """The reader handles a real-world workbook (shared strings, typed
    cells, multiple sheets)."""
    recs = read_xlsx_records(TEMPLATE)
    assert set(recs) == {"MOVIES_SCHEMA", "THEATERS_SCHEMA", "Lists",
                         "Column Descriptions"}
    movies = {r["field_name"]: r for r in recs["MOVIES_SCHEMA"]}
    # raw cell: quoted, newline-wrapped literal — revival happens later
    raw = movies["genre"]["allowed_value_list"]
    assert raw.startswith('"[') and "'Drama'" in raw
    assert movies["id"]["length"] == 7 and movies["id"]["range_max"] == 9999999


def test_data_dict_xlsx_to_json_reference_semantics():
    """Sheet filter (:827), field_name drop/index (:831-839), literal
    revival (:842): non-rule sheets (Lists / Column Descriptions) are
    excluded, list cells become Python lists."""
    dd = data_dict_xlsx_to_json(TEMPLATE)
    assert set(dd) == {"MOVIES_SCHEMA", "THEATERS_SCHEMA"}
    g = dd["MOVIES_SCHEMA"]["genre"]
    assert g["allowed_value_list"] == ["Drama", "Action", "Comedy", "Sci-Fi"]
    assert g["field_name"] == "genre"
    st = dd["THEATERS_SCHEMA"]["state"]
    assert st["allowed_value_list"] == ["US", "CA", "UK", "AU", "NZ"]


def test_rules_from_xlsx_matches_json_path(spark):
    """Round-trip done-criterion: template-xlsx → Rules → verdicts equal
    the dict-loaded path's verdicts."""
    import pandas as pd

    from schema_validata_spark.operators.profile import profile
    from schema_validata_spark.operators.verdicts import verdicts_for

    rx = Rules.from_xlsx(TEMPLATE, sheet="MOVIES_SCHEMA")
    assert rx["genre"].allowed_value_list == ["Drama", "Action", "Comedy",
                                              "Sci-Fi"]
    assert rx["id"].unique_value is True and rx["id"].allow_null is False
    # same rules via the nested-dict path
    rj = Rules.from_nested_dict("MOVIES_SCHEMA",
                                data_dict_xlsx_to_json(TEMPLATE)
                                ["MOVIES_SCHEMA"])
    pdf = pd.DataFrame({
        "id": [1, 1, 3], "title": ["Heat", "Alien", "Up"],
        "genre": ["Drama", "Horror", "Comedy"],
    })
    obs = profile(spark.createDataFrame(pdf))
    vx = verdicts_for(rx, obs, "movies")
    vj = verdicts_for(rj, obs, "movies")
    assert vx == vj
    assert "unique_value" in vx["id"]
    assert "allowed_value_list" in vx["genre"]


def test_write_read_roundtrip(tmp_path):
    sheets = {
        "S1": [["a", "b", "c"],
               [1, "x", True],
               [2.5, "hello <&> \"world\"", False],
               [None, "multi\nline", 7]],
        "S2": [["only"], ["row"]],
    }
    p = str(tmp_path / "t.xlsx")
    write_xlsx(p, sheets)
    back = read_xlsx(p)
    assert list(back) == ["S1", "S2"]
    assert back["S1"][0] == ["a", "b", "c"]
    assert back["S1"][1] == [1, "x", True]
    assert back["S1"][2] == [2.5, 'hello <&> "world"', False]
    assert back["S1"][3] == [None, "multi\nline", 7]
    # a well-formed OOXML package (zip with the required parts)
    with zipfile.ZipFile(p) as z:
        assert "[Content_Types].xml" in z.namelist()
        assert "xl/workbook.xml" in z.namelist()


def test_sheet_chunking(tmp_path, monkeypatch):
    """Reference :1574-1620: sheets beyond the Excel row limit split into
    numbered chunks."""
    monkeypatch.setattr(report_mod, "MAX_ROWS_EXCEL", 10)
    recs = [{"i": i, "v": f"r{i}"} for i in range(25)]
    p = write_dataframes_to_xlsx({"big": recs, "small": recs[:3]},
                                 str(tmp_path), "chunked")
    back = read_xlsx_records(p)
    assert set(back) == {"1_big", "2_big", "3_big", "small"}
    assert len(back["1_big"]) == 10 and len(back["3_big"]) == 5
    assert [r["i"] for r in back["2_big"]][0] == 10
    assert len(back["small"]) == 3


def test_schema_validation_to_xlsx_shape(spark, tmp_path):
    """End-to-end: validate → report dict → xlsx with Metadata, Errors
    Overview, and a per-dataset value-errors sheet."""
    from schema_validata_spark.datagen import (gen_transcripts,
                                               transcript_rules)
    from schema_validata_spark.validate import validate

    t = gen_transcripts(spark, 3000, seed=5)
    res = validate(spark, t.drop("ts_date"), transcript_rules(),
                   dataset_name="transcripts",
                   key_cols=["conv_id", "turn_idx"], ignore_errors=[])
    rpt = res.report(max_value_errors=50)
    path = schema_validation_to_xlsx(rpt, str(tmp_path), "validation")
    assert os.path.basename(path) == f"validation_({res.uid}).xlsx"
    back = read_xlsx_records(path)
    assert "Metadata" in back and "Errors Overview" in back
    assert "transcripts" in back
    ov = back["Errors Overview"]
    assert {"Dataset", "Column", "Status", "Required", "Error Type",
            "Error"} <= set(ov[0].keys())
    assert all(r["Status"] == "Fail" for r in ov)
    ve = back["transcripts"]
    assert {"error_type", "column_name"} <= set(ve[0].keys())
    assert 0 < len(ve) <= 50


def test_read_xlsx_validated_and_dispatch(spark, tmp_path):
    """XLSX dataset ingest: all-string sheet rows through the same
    cleanup + inference pipeline as CSV (typed columns out)."""
    from schema_validata_spark.sources.readers import read_spreadsheet
    p = str(tmp_path / "ds.xlsx")
    write_xlsx(p, {"DATA": [
        [" id ", "amount", "note"],
        ["1", "10.5", "ok"],
        ["2", "N/A", "line\nbreak"],
        ["3", "7", None],
    ]})
    df = read_spreadsheet(spark, p, sheet_name="DATA")
    assert df.columns == ["id", "amount", "note"]     # header trimmed
    d = dict(df.dtypes)
    assert d["id"] == "bigint" and d["amount"] == "double"
    rows = {r["id"]: r for r in df.collect()}
    assert rows[2]["amount"] is None                   # NA canonicalized
    assert rows[2]["note"] == "linebreak"              # newline stripped


def test_dataset_schema_to_xlsx_roundtrip(spark, tmp_path):
    """Profile → starter dictionary xlsx → Rules round-trip (reference
    :1632-1685 bootstrap flow)."""
    from schema_validata_spark.operators.profile import profile
    from schema_validata_spark.report import dataset_schema_to_xlsx
    df = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "a")], "k: bigint, cat: string")
    obs = profile(df)
    p = dataset_schema_to_xlsx(obs, str(tmp_path), "starter",
                               sheet_name="T_SCHEMA")
    rules = Rules.from_xlsx(p, sheet="T_SCHEMA")
    assert rules["k"].data_type == "Integer"
    assert rules["k"].unique_value is True
    assert rules["cat"].allowed_value_list == ["a", "b"]


def test_sheet_name_with_quotes_roundtrips(spark, tmp_path):
    """A '"' in a dataset/sheet name must not corrupt workbook.xml
    (attribute context needs quote escaping)."""
    from schema_validata_spark.sources.xlsx import read_xlsx, write_xlsx
    p = str(tmp_path / "q.xlsx")
    write_xlsx(p, {'q3 "final" load': [["a", "b"], [1, 2]]})
    got = read_xlsx(p)
    assert list(got) == ['q3 "final" load']
    assert got['q3 "final" load'][1] == [1, 2]


def test_writer_handles_nan_inf_controls_and_huge_numbers(tmp_path):
    """Cells a real report can contain — NaN/±inf PSI scores, transcript
    text with stray control bytes — must produce a workbook our own
    reader (and Excel) can open; huge numeric strings must not crash
    the reader."""
    p = str(tmp_path / "edge.xlsx")
    nan, inf = float("nan"), float("inf")
    write_xlsx(p, {"S": [["a", "b", "c"],
                         [nan, inf, -inf],
                         ["ctrl\x01\x02 kept\ttab\nnl", 1.5, 2]]})
    rows = read_xlsx(p)["S"]
    assert rows[0] == ["a", "b", "c"]
    # NaN/inf render as text, not corrupt numeric cells
    assert rows[1] == ["nan", "inf", "-inf"]
    # C0 controls dropped, \t and \n preserved
    assert rows[2][0] == "ctrl kept\ttab\nnl"
    assert rows[2][1:] == [1.5, 2]

    # reader: a numeric cell overflowing float→int must not raise
    import zipfile as zf
    with zf.ZipFile(p) as z:
        sheet = z.read("xl/worksheets/sheet1.xml").decode()
    sheet = sheet.replace("<v>1.5</v>", "<v>1e400</v>")
    p2 = str(tmp_path / "edge2.xlsx")
    with zf.ZipFile(p) as zin, zf.ZipFile(p2, "w") as zout:
        for item in zin.namelist():
            data = sheet.encode() if item == "xl/worksheets/sheet1.xml" \
                else zin.read(item)
            zout.writestr(item, data)
    assert read_xlsx(p2)["S"][2][1] == float("inf")


def test_reader_skips_phonetic_runs(tmp_path):
    """Shared strings with <rPh> furigana hints must not duplicate text
    into the cell value (openpyxl semantics)."""
    p = str(tmp_path / "ph.xlsx")
    write_xlsx(p, {"S": [["placeholder"]]})
    import zipfile as zf
    ns = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"
    ss = (f'<?xml version="1.0"?><sst xmlns="{ns}" count="1" uniqueCount="1">'
          '<si><r><t>東京</t></r><rPh sb="0" eb="2"><t>トウキョウ</t></rPh>'
          '<phoneticPr fontId="1"/></si></sst>')
    sheet = (f'<?xml version="1.0"?><worksheet xmlns="{ns}"><sheetData>'
             '<row r="1"><c r="A1" t="s"><v>0</v></c></row>'
             '</sheetData></worksheet>')
    p2 = str(tmp_path / "ph2.xlsx")
    with zf.ZipFile(p) as zin, zf.ZipFile(p2, "w") as zout:
        for item in zin.namelist():
            data = sheet.encode() if item == "xl/worksheets/sheet1.xml" \
                else zin.read(item)
            zout.writestr(item, data)
        zout.writestr("xl/sharedStrings.xml", ss)
    assert read_xlsx(p2)["S"] == [["東京"]]


def test_roundtrip_property(tmp_path):
    """Hypothesis: write→read is identity for clean scalar grids."""
    from hypothesis import given, settings, strategies as st

    clean_text = st.text(
        alphabet=st.characters(blacklist_categories=("Cs", "Cc")),
        max_size=40).filter(lambda s: s == s and "\x00" not in s)
    cell = st.one_of(
        st.none(), st.booleans(),
        st.integers(min_value=-2**53, max_value=2**53),
        st.floats(allow_nan=False, allow_infinity=False, width=64)
        .filter(lambda f: f != int(f)),   # whole floats read back as int
        clean_text)
    grid = st.lists(st.lists(cell, min_size=1, max_size=5),
                    min_size=1, max_size=6)

    @settings(max_examples=40, deadline=None)
    @given(grid=grid)
    def check(grid):
        # trailing all-None rows are dropped by contract; normalize
        width = max(len(r) for r in grid)
        norm = [r + [None] * (width - len(r)) for r in grid]
        while norm and all(v is None for v in norm[-1]):
            norm.pop()
        p = str(tmp_path / "prop.xlsx")
        write_xlsx(p, {"S": norm})
        got = read_xlsx(p)["S"]
        # Cell PRESENCE and read-back VALUE differ: None cells are never
        # written (absent), while '' IS written but reads back as None.
        # Sheet width = rightmost written cell; trailing rows whose
        # read-back values are all None are dropped by the reader.
        mapped = [[(None if v == "" else v) for v in r] for r in norm]
        w = 0
        for r in norm:
            for i, v in enumerate(r):
                if v is not None:          # '' counts: cell is written
                    w = max(w, i + 1)
        want = [r[:w] + [None] * (w - len(r[:w])) for r in mapped]
        while want and all(v is None for v in want[-1]):
            want.pop()
        assert got == want, (got, want)

    check()


def test_ingest_messy_headers_and_quoted_newlines(spark, tmp_path):
    """Real-world spreadsheet ingest: dotted / duplicated / blank
    header cells, a blank first row, and CSV quoted fields containing
    newlines (the reference's pandas reader handles all of these)."""
    from schema_validata_spark.sources.readers import (read_csv_validated,
                                                       read_spreadsheet)

    # XLSX: blank first row + messy header cells
    p = str(tmp_path / "messy.xlsx")
    write_xlsx(p, {"Data": [
        [None, None, None],                       # blank leading row
        ["No.", "amount", "amount"],              # dot + duplicate
        ["1", "10", "x"],
        ["2", "20", "y"],
    ]})
    df = read_spreadsheet(spark, p, sheet_name="Data")
    assert df.columns == ["No.", "amount", "amount.1"]
    rows = df.orderBy("`No.`").collect()
    assert [r["No."] for r in rows] == [1, 2]        # inferred integer
    assert [r["amount"] for r in rows] == [10, 20]
    assert [r["amount.1"] for r in rows] == ["x", "y"]

    # missing sheet: clear error, not KeyError
    import pytest as _pytest
    with _pytest.raises(ValueError, match="not found"):
        read_spreadsheet(spark, p, sheet_name="Nope")

    # CSV: quoted field with embedded newline survives as ONE row and
    # rm_newlines strips it
    csv = str(tmp_path / "nl.csv")
    with open(csv, "w") as f:
        f.write('id,text\n1,"hello\nworld"\n2,plain\n')
    out = read_csv_validated(spark, csv).orderBy("id").collect()
    assert len(out) == 2
    assert out[0]["text"] == "helloworld"
    assert out[1]["text"] == "plain"


def test_unparseable_allowed_value_list_stays_string():
    """Reference parity (src/schema_validata.py:426-429): a cell like
    '[red, blue]' that literal_eval rejects stays a raw string instead
    of aborting the whole dictionary load."""
    r = Rules.from_nested_dict("d", {
        "col": {"data_type": "String", "allowed_value_list": "[red, blue]"},
        "ok": {"data_type": "String", "allowed_value_list": "['a', 'b']"},
    })
    by_name = {f.field_name: f for f in r.fields}
    assert by_name["col"].allowed_value_list == "[red, blue]"
    assert by_name["ok"].allowed_value_list == ["a", "b"]


def test_from_xlsx_names_what_a_bad_sheet_lacks(tmp_path):
    """An absent or non-qualifying ``sheet`` raises a ValueError that
    names the path, the sheet, the qualifying sheets and the missing
    DATA_DICT_SCHEMA columns, not a bare KeyError; without ``sheet`` a
    workbook with no qualifying sheet still loads as ``{}``."""
    hdr = list(DATA_DICT_SCHEMA)
    row = ["id", "True", "Integer", "False", 7, 0, 99, None, "True", None]
    p = str(tmp_path / "dd.xlsx")
    write_xlsx(p, {"GOOD": [hdr, row],
                   "PARTIAL": [hdr[:3], row[:3]]})
    with pytest.raises(ValueError) as absent:
        Rules.from_xlsx(p, sheet="MISSING")
    msg = str(absent.value)
    assert p in msg and "'MISSING'" in msg and "no such sheet" in msg
    assert "['GOOD']" in msg
    with pytest.raises(ValueError) as partial:
        Rules.from_xlsx(p, sheet="PARTIAL")
    msg = str(partial.value)
    assert "'PARTIAL'" in msg and "['GOOD']" in msg
    assert str(hdr[3:]) in msg
    assert Rules.from_xlsx(p, sheet="GOOD").field_names() == ["id"]
    bare = str(tmp_path / "bare.xlsx")
    write_xlsx(bare, {"PARTIAL": [hdr[:3], row[:3]]})
    assert Rules.from_xlsx(bare) == {}


def test_dataset_named_metadata_keeps_report_sheets(spark, tmp_path):
    """A dataset literally named 'Metadata' must not overwrite the
    report's Metadata sheet."""
    from schema_validata_spark.datagen import (gen_transcripts,
                                               transcript_rules)
    from schema_validata_spark.validate import validate

    t = gen_transcripts(spark, 2000, seed=5)
    res = validate(spark, t.drop("ts_date"), transcript_rules(),
                   dataset_name="Metadata",
                   key_cols=["conv_id", "turn_idx"], ignore_errors=[])
    path = schema_validation_to_xlsx(res.report(max_value_errors=20),
                                     str(tmp_path), "clash")
    back = read_xlsx_records(path)
    md = back["Metadata"]
    assert md and {"Item", "Attribute", "Value"} <= set(md[0].keys())
    assert "Metadata_data" in back      # the dataset's value errors
    assert back["Metadata_data"] and "error_type" in back["Metadata_data"][0]


def test_detect_file_encoding(spark, tmp_path):
    """BOM sniff, BOM-less UTF-16 NUL probe, strict-UTF-8 try-decode,
    ISO-8859-1 fallback — reference detect_file_encoding
    (src/schema_validata.py:583-626) without chardet; and the
    encoding='auto' CSV path round-trips non-ASCII text."""
    from schema_validata_spark.sources.readers import (detect_file_encoding,
                                                       read_csv_validated)

    def w(name: str, data: bytes) -> str:
        p = str(tmp_path / name)
        with open(p, "wb") as f:
            f.write(data)
        return p

    text = "id,name\n1,café\n2,straße\n"
    assert detect_file_encoding(w("u8.csv", text.encode("utf-8"))) == "UTF-8"
    assert detect_file_encoding(
        w("u8b.csv", b"\xef\xbb\xbf" + text.encode("utf-8"))) == "UTF-8"
    # BOM'd files report the BOM-consuming charset (decoder eats U+FEFF)
    assert detect_file_encoding(w("u16.csv", text.encode("utf-16"))) == "UTF-16"
    assert detect_file_encoding(w("u32.csv", text.encode("utf-32"))) == "UTF-32"
    # BOM-less needs explicit endianness
    assert detect_file_encoding(
        w("u16nb.csv", text.encode("utf-16-le"))) == "UTF-16LE"
    # BOM-less UTF-16 of NON-Latin text: no NUL-interleave signal — the
    # newline discriminator catches it
    cjk = "id,text\n1,你好世界\n2,日本語のテキスト\n"
    assert detect_file_encoding(
        w("cjk16.csv", cjk.encode("utf-16-le"))) == "UTF-16LE"
    assert detect_file_encoding(
        w("cjk16be.csv", cjk.encode("utf-16-be"))) == "UTF-16BE"
    assert detect_file_encoding(
        w("latin.csv", text.encode("latin-1"))) == "ISO-8859-1"
    assert detect_file_encoding(w("empty.csv", b"")) == "UTF-8"

    # auto-encoding ingest: latin-1 bytes decode to the same rows
    p = w("auto.csv", text.encode("latin-1"))
    rows = read_csv_validated(spark, p, encoding="auto").orderBy("id").collect()
    assert [r["name"] for r in rows] == ["café", "straße"]

    # auto on a glob pattern and on a (nested) directory — inputs
    # Spark's .csv() accepts must not crash the sniffer
    d = tmp_path / "parts" / "date=2024-01-01"
    d.mkdir(parents=True)
    with open(d / "part-0.csv", "wb") as f:
        f.write(text.encode("latin-1"))
    for src in (str(tmp_path / "parts" / "*" / "*.csv"),
                str(tmp_path / "parts")):
        got = (read_csv_validated(spark, src, encoding="auto")
               .orderBy("id").collect())
        assert [r["name"] for r in got] == ["café", "straße"], src


def test_validate_dotted_headers_end_to_end(spark, tmp_path):
    """Spreadsheet headers with dots ('No.', 'price.usd') must survive
    the WHOLE pipeline — ingest, profile, verdicts, row-level
    violations, composite duplicates — not just the reader (every
    operator refs columns via dot-safe qcol, not F.col)."""
    from schema_validata_spark import validate
    from schema_validata_spark.rules import Rules
    from schema_validata_spark.sources.readers import read_csv_validated

    p = str(tmp_path / "dotted.csv")
    with open(p, "w") as f:
        f.write("No.,price.usd,conv.id\n")
        for i in range(50):
            f.write(f"{i},{i * 1.5},c{i % 10}\n")
        f.write("3,999.0,c3\n")          # duplicate No. + out-of-range
    df = read_csv_validated(spark, p)
    assert set(df.columns) == {"No.", "price.usd", "conv.id"}

    rules = Rules.from_nested_dict("dotted", {
        "No.": {"data_type": "Integer", "unique_value": True,
                "allow_null": False},
        "price.usd": {"data_type": "Float", "range_min": 0,
                      "range_max": 100},
        "conv.id": {"data_type": "String", "length": 3},
    })
    res = validate(spark, df, rules, dataset_name="dotted",
                   key_cols=["No."], ignore_errors=[])
    errs = {(r["error_type"], r["column_name"])
            for r in res.violations.collect()}
    assert any(c == "No." for _, c in errs)          # dup flagged
    assert any(c == "price.usd" for _, c in errs)    # 999 > 100


def test_corrupt_xls_rejected_with_clear_error(spark, tmp_path):
    """Legacy .xls now reads for real (sources/xls.py, see
    tests/test_xls.py) — but garbage with the OLE2 magic must still be
    a clear ValueError, never a CSV mis-parse or opaque struct error."""
    from schema_validata_spark.sources.readers import read_spreadsheet
    p = tmp_path / "old_book.xls"
    p.write_bytes(b"\xd0\xcf\x11\xe0\xa1\xb1\x1a\xe1" + b"\0" * 64)
    with pytest.raises(ValueError, match="truncated OLE2"):
        read_spreadsheet(spark, str(p))
    # magic-byte detection routes an OLE2 workbook mis-named .xlsx to
    # the BIFF reader too — same clear failure
    p2 = tmp_path / "renamed.xlsx"
    p2.write_bytes(b"\xd0\xcf\x11\xe0\xa1\xb1\x1a\xe1" + b"\0" * 64)
    with pytest.raises(ValueError, match="truncated OLE2"):
        read_xlsx(str(p2))
