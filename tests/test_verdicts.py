"""Verdict-layer parity with the reference's comparison semantics
(src/schema_validata.py:1689-2154): coercion quirks, casting lattice,
rng_logic, message templates."""

from schema_validata_spark.config import SCHEMA_ERROR_TEMPLATES
from schema_validata_spark.operators.verdicts import (
    downcast_ints, get_dict_diffs, schema_validate_attribute,
    validate_schema, verdicts_for)
from schema_validata_spark.rules import FieldRule, Rules


def test_downcast_ints():
    assert downcast_ints(12.0) == 12 and isinstance(downcast_ints(12.0), int)
    assert downcast_ints(12.5) == 12.5
    assert downcast_ints("x") == "x"
    # ±inf and NaN stay floats (int() raises on them; the profile's
    # num_min/max stats can carry them)
    assert downcast_ints(float("inf")) == float("inf")
    assert downcast_ints(float("-inf")) == float("-inf")
    nan = downcast_ints(float("nan"))
    assert isinstance(nan, float) and nan != nan


def test_dict_diffs_sorted_list_compare():
    d = get_dict_diffs({"allowed_value_list": ["b", "a"]},
                       {"allowed_value_list": ["a", "b"]})
    assert d == {}  # lists compared sorted (reference :1724-1728)


def test_dict_diffs_int_downcast_compare():
    assert get_dict_diffs({"length": 10}, {"length": 10.0}) == {}
    assert "length" in get_dict_diffs({"length": 10}, {"length": 11})


def test_dict_diffs_cast_failure_is_mismatch():
    assert "range_min" in get_dict_diffs({"range_min": 5.0}, {"range_min": "N/A"})


def test_casting_lattice():
    # Integer observed satisfies Float expectation (reference :1782-1790)
    p = {"data_type": {"expected": "Float", "observed": "Integer"}}
    assert schema_validate_attribute("data_type", p, "c", {}) is None
    p = {"data_type": {"expected": "Integer", "observed": "Float"}}
    assert schema_validate_attribute("data_type", p, "c", {}) == "data_type"
    # anything satisfies String? No — only per-lattice: String-observed
    # accepts only String-expected
    p = {"data_type": {"expected": "Integer", "observed": "String"}}
    assert schema_validate_attribute("data_type", p, "c", {}) == "data_type"
    # Null-Unknown observed accepts anything
    p = {"data_type": {"expected": "Datetime", "observed": "Null-Unknown"}}
    assert schema_validate_attribute("data_type", p, "c", {}) is None


def test_range_quirks():
    # non-numeric observed: silently ignored (reference :1913 inner guard)
    p = {"range_min": {"expected": 5.0, "observed": "N/A"}}
    assert schema_validate_attribute("range_min", p, "c", {}) is None
    assert "errors" not in p["range_min"]
    # both numeric but range NOT violated (mismatch came from elsewhere):
    # records 'Data Type Error' text + status Fail but returns None
    # (reference :1929-1934 quirk)
    p = {"range_min": {"expected": 5.0, "observed": 7.0}}
    assert schema_validate_attribute("range_min", p, "c", {}) is None
    assert p["range_min"]["errors"].startswith("Data Type Error")
    assert p["range_min"]["status"] == "Fail"


def _mk(rules_fields, observed):
    rules = Rules(name="S", fields=rules_fields)
    return verdicts_for(rules, observed)


def _obs(**over):
    base = {
        "field_name": "c", "data_type": "String", "allow_null": "False",
        "null_count": 0, "duplicate_count": 0, "length": 5,
        "range_min": None, "range_max": None, "regex_pattern": None,
        "unique_value": "True", "allowed_value_list": None, "required": "True",
    }
    base.update(over)
    return base


def test_allow_null_violation_message():
    v = _mk([FieldRule("c", required=True, data_type="String", allow_null=False)],
            {"c": _obs(allow_null="True", null_count=7)})
    assert v["c"]["status"] == "fail"
    assert v["c"]["allow_null"]["errors"] == \
        SCHEMA_ERROR_TEMPLATES["allow_null"].format(col="c", count=7)


def test_unique_violation_message():
    v = _mk([FieldRule("c", data_type="String", required=True, unique_value=True)],
            {"c": _obs(unique_value="False", duplicate_count=4)})
    assert v["c"]["unique_value"]["errors"] == \
        SCHEMA_ERROR_TEMPLATES["unique_value"].format(col="c", count=4)


def test_length_violation_message():
    v = _mk([FieldRule("c", data_type="String", required=True, length=3)],
            {"c": _obs(length=9)})
    assert v["c"]["length"]["errors"] == (
        "Column 'c' max string  of: 9 exceeds the max allowed  of: 3 .")


def test_range_violation_messages_int_downcast():
    v = _mk([FieldRule("c", data_type="Integer", required=True,
                       range_min=0.0, range_max=10.0)],
            {"c": _obs(data_type="Integer", range_min=-3, range_max=22,
                       length=2)})
    assert v["c"]["range_min"]["errors"] == (
        "Column 'c' min value of: -3 is less than the minimum allowed value of: 0 .")
    assert v["c"]["range_max"]["errors"] == (
        "Column 'c' max value of: 22 exceeds the maximum allowed value of: 10 .")


def test_allowed_values_int_recast_in_message():
    v = _mk([FieldRule("c", data_type="Integer", required=True,
                       allowed_value_list=[1, 2, 3])],
            {"c": _obs(data_type="Integer", allowed_value_list=[1, 2, 3, 9])})
    msg = v["c"]["allowed_value_list"]["errors"]
    assert "[9]" in msg  # re-cast to int (reference :1978-1983)


def test_required_and_optional_missing_columns():
    v = _mk([FieldRule("req", required=True, data_type="String"),
             FieldRule("opt", required=False, data_type="String")],
            {"other": _obs(field_name="other")})
    assert v["req"]["required_column"]["errors"] == \
        "Column by name 'req' is required, but missing in dataset."
    assert v["opt"]["optional_column"]["errors"] == \
        "Column by name 'opt' is missing in the dataset, but is optional."


def test_undocumented_columns_silently_ignored():
    v = _mk([FieldRule("a", required=True, data_type="String")],
            {"a": _obs(field_name="a"), "extra": _obs(field_name="extra")})
    assert "extra" not in v


def test_pass_produces_no_entry():
    v = _mk([FieldRule("c", required=True, data_type="String",
                       allow_null=True, length=10)],
            {"c": _obs(allow_null="False", length=5)})
    assert v == {}


def test_validate_schema_multi_mapping_shape():
    rules = {"S": {"c": {"required": True, "data_type": "String"}}}
    obs = {"ds": {"c": _obs()}}
    out = validate_schema(obs, rules, [{"dataset": "ds", "data_dict": "S"}])
    assert set(out.keys()) == {"ds"}
    assert "schema_violations" in out["ds"]
