"""Verdict layer: expected-vs-observed schema comparison.

This is the reference's validate_schema pipeline
(src/schema_validata.py:1689-2154) re-implemented as driver-side pure
functions. It runs over two SMALL dicts — the rule table and the
collected profiling stats (operators/profile.py) — so it is deliberately
not distributed: at 10^12 rows the data never comes near this code, only
~10 numbers per column do.

Byte-identical behaviors preserved:
* mismatch detection with coercion — lists compared sorted, scalars
  int-downcast then observed cast to the expected value's type, cast
  failure ⇒ mismatch (get_dict_diffs, :1689-1747);
* the allowed-casting lattice (:1782-1790);
* 'length' dispatched to the max-length comparator (:1802-1831), NOT the
  range comparator, mirroring the dispatcher order (:1993-2041);
* rng_logic and its int-downcast message formatting (:1917-1921), incl.
  the quirk that a non-numeric observed value records a "Data Type
  Error" text on the potential-error entry but does NOT flag the check
  (:1929-1934);
* allowed-values subset check on stringified sets, offending values
  re-cast to int when all integer-like (:1969-1983);
* required_column / optional_column handling for fields missing from the
  data (:2132-2145); columns present in the data but absent from the
  rules are silently ignored (loop over auth schema only, :2101);
* message templates byte-identical, incl. null/duplicate count injection
  (:2121-2128).
"""

from __future__ import annotations

import re
from typing import Any

from ..config import ALLOWED_CASTING, SCHEMA_ERROR_TEMPLATES
from ..rules import Rules


def downcast_ints(value):
    """12.0 → 12 (reference src/schema_validata.py:304-324). ±inf and
    NaN, which a profile's num_min/max can carry, stay floats."""
    try:
        if isinstance(value, float) and value == int(value):
            return int(value)
    except (ValueError, OverflowError):
        pass
    return value


def is_numeric_type(value) -> bool:
    """Reference src/schema_validata.py:281-300 — int/float/complex are
    numeric (and, via isinstance, so is bool: the reference inherits
    Python's bool⊂int)."""
    return isinstance(value, (int, float, complex))


def get_dict_diffs(expected: dict, observed: dict) -> dict:
    """Attribute-level mismatches with the reference's coercion semantics
    (src/schema_validata.py:1689-1747). ``observed`` may be mutated
    (int-downcast), as in the reference."""
    mismatches: dict[str, dict[str, Any]] = {}
    for key, value in expected.items():
        if key not in observed:
            mismatches[key] = {"expected": value, "observed": None}
        elif isinstance(value, list) and isinstance(observed[key], list):
            try:
                if sorted(value) != sorted(observed[key]):
                    mismatches[key] = {"expected": value, "observed": observed[key]}
            except TypeError:
                mismatches[key] = {"expected": value, "observed": observed[key]}
        elif isinstance(value, bool):
            # Deliberate deviation from the reference: its generic cast
            # maps the observed string 'False' to bool True
            # (bool('False') is True, src/schema_validata.py:1738), which
            # silently MISSES unique/allow_null mismatches when rules are
            # bool-typed. Booleans are compared by parsed value instead.
            obs = observed[key]
            if isinstance(obs, str):
                # the reference's observed dict arrives with its
                # 'True'/'False' strings already revived to bools by
                # the dataset_schema_to_json literal round-trip
                # (eval_nested_string_literals, :330-370) — mirror
                # that here so the recorded observed value matches the
                # reference's report byte-for-byte, not just the
                # verdict
                obs = observed[key] = obs == "True"
            if bool(obs) != value:
                mismatches[key] = {"expected": value, "observed": observed[key]}
        else:
            try:
                value = downcast_ints(value)
                observed[key] = downcast_ints(observed[key])
                if type(value)(observed[key]) != value:
                    mismatches[key] = {"expected": value, "observed": observed[key]}
            except (ValueError, TypeError):
                mismatches[key] = {"expected": value, "observed": observed[key]}
    return mismatches


def schema_validate_column_types(attribute, p_errors):
    """Allowed-casting lattice check (reference :1751-1798)."""
    observed_type = p_errors[attribute]["observed"]
    expected_type = p_errors[attribute]["expected"]
    if observed_type not in ALLOWED_CASTING:
        return attribute
    if (expected_type != observed_type
            and expected_type not in ALLOWED_CASTING[observed_type]):
        return attribute
    return None


def schema_validate_column_length(attribute, p_errors):
    """Max-length comparison (reference :1802-1831)."""
    obs_len = p_errors[attribute]["observed"]
    exp_len = p_errors[attribute]["expected"]
    is_obs_valid = isinstance(obs_len, (str, int, float))
    is_exp_valid = isinstance(exp_len, (str, int, float))
    if is_exp_valid and (not is_obs_valid or int(obs_len) > int(exp_len)):
        return attribute
    return None


def schema_validate_allow_null(attribute, p_errors):
    """Reference :1835-1855 — fail iff nulls not allowed but observed."""
    expected = p_errors[attribute]["expected"]
    observed = p_errors[attribute]["observed"]
    if isinstance(observed, str):
        observed = observed == "True"
    if not expected and observed:
        return attribute
    return None


def schema_validate_unique(attribute, p_errors):
    """Reference :1859-1881 — fail iff uniqueness expected but not observed."""
    expected = p_errors[attribute]["expected"]
    observed = p_errors[attribute]["observed"]
    if isinstance(observed, str):
        observed = observed == "True"
    if expected and not observed:
        return attribute
    return None


def schema_validate_range(attribute, p_errors, msg_vals):
    """Range comparison with int-downcast message values (reference
    :1885-1936) incl. the non-numeric 'Data Type Error' quirk."""
    if is_numeric_type(p_errors[attribute]["expected"]):
        if is_numeric_type(p_errors[attribute]["observed"]):
            exp_val = p_errors[attribute]["expected"]
            obs_val = p_errors[attribute]["observed"]
            rng_logic = {
                "length": lambda expected, observed: expected < observed,
                "range_max": lambda expected, observed: expected < observed,
                "range_min": lambda expected, observed: expected > observed,
            }
            if rng_logic[attribute](exp_val, obs_val):
                msg_vals["expected"] = int(exp_val) if int(exp_val) == exp_val else exp_val
                msg_vals["observed"] = int(obs_val) if int(obs_val) == obs_val else obs_val
                return attribute
            else:
                p_errors[attribute]["status"] = "Fail"
                p_errors[attribute]["errors"] = (
                    f"Data Type Error: Unable to validate {attribute}, check data types"
                )
    return None


def schema_validate_allowed_values(attribute, p_errors, msg_vals):
    """Subset check on stringified sets (reference :1940-1989)."""
    if isinstance(p_errors[attribute]["expected"], list) and isinstance(
            p_errors[attribute]["observed"], list):
        allowed_vals = set(map(str, p_errors[attribute]["expected"]))
        observed_vals = set(map(str, p_errors[attribute]["observed"]))
        if not observed_vals.issubset(allowed_vals):
            err_vals = list(observed_vals - allowed_vals)
            pattern = r"^-?\d+$"
            int_vals = [int(v) for v in err_vals if re.match(pattern, str(v))]
            if len(int_vals) == len(err_vals):
                err_vals = int_vals
            msg_vals["err_vals"] = err_vals
            return attribute
    return None


def schema_validate_attribute(attribute, p_errors, col, msg_vals):
    """Dispatcher (reference :1993-2041). Note 'length' routes to the
    length comparator before the range family is consulted."""
    range_checks = ["length", "range_max", "range_min"]
    if attribute == "data_type":
        return schema_validate_column_types(attribute, p_errors)
    elif attribute == "allow_null":
        return schema_validate_allow_null(attribute, p_errors)
    elif attribute == "length":
        return schema_validate_column_length(attribute, p_errors)
    elif attribute == "unique_value":
        return schema_validate_unique(attribute, p_errors)
    elif attribute == "allowed_value_list":
        return schema_validate_allowed_values(attribute, p_errors, msg_vals)
    elif attribute in range_checks:
        return schema_validate_range(attribute, p_errors, msg_vals)
    return None


def validate_schema(observed_schema: dict, data_dictionary: dict,
                    schema_mapping: list[dict]) -> dict:
    """Reference validate_schema (:2045-2154): per mapping, diff each rule
    column's attrs against observed stats and emit
    ``{dataset: {'schema_violations': {col: {status, required, <attr>:
    {expected, observed, errors}}}}}``."""
    schema_violations: dict[str, Any] = {}
    _SET = SCHEMA_ERROR_TEMPLATES

    mappings = [m for m in schema_mapping
                if data_dictionary.get(m["data_dict"])]

    for mapping in mappings:
        observed_dataset = mapping["dataset"]
        data_dict_section = mapping["data_dict"]
        auth_schema = data_dictionary[data_dict_section]
        v_results: dict[str, Any] = {}

        for col, col_props in auth_schema.items():
            errors: dict[str, Any] = {}
            msg_vals: dict[str, Any] = {"col": col}

            if col in observed_schema[observed_dataset]:
                obs_vals = observed_schema[observed_dataset][col]
                p_errors = get_dict_diffs(col_props, obs_vals)
                for attr in p_errors:
                    msg_vals["expected"] = p_errors[attr]["expected"]
                    msg_vals["observed"] = p_errors[attr]["observed"]
                    error_type = schema_validate_attribute(attr, p_errors, col, msg_vals)
                    if error_type:
                        errors[attr] = p_errors[attr]
                        # The reference only injects truthy counts
                        # (:2121-2128) and would KeyError on a zero count;
                        # we default to 0 so the formatter never crashes.
                        if error_type == "allow_null":
                            msg_vals["count"] = obs_vals.get("null_count") or 0
                        if error_type == "unique_value":
                            msg_vals["count"] = obs_vals.get("duplicate_count") or 0
                        errors[attr]["errors"] = _SET[attr].format(**msg_vals)
            elif col_props.get("required"):
                errors = {"required_column": {
                    "expected": True, "observed": False,
                    "errors": _SET["required_column"].format(**msg_vals)}}
            else:
                errors = {"optional_column": {
                    "expected": True, "observed": False,
                    "errors": _SET["optional_column"].format(**msg_vals)}}

            if errors:
                v_results[col] = {"status": "fail",
                                  "required": col_props.get("required")} | errors

        schema_violations[observed_dataset] = {"schema_violations": v_results}
    return schema_violations


def verdicts_for(rules: Rules, observed: dict[str, dict[str, Any]],
                 dataset_name: str = "dataset") -> dict:
    """Convenience: validate one profiled table against one Rules object."""
    return validate_schema(
        {dataset_name: observed},
        {rules.name: rules.to_nested_dict()},
        [{"dataset": dataset_name, "data_dict": rules.name}],
    )[dataset_name]["schema_violations"]
