"""Rule-table model: the authoritative schema ("data dictionary").

The reference stores rules as an XLSX sheet parsed into a nested dict
``{field: {attr: value}}`` (reference src/schema_validata.py:780-858,
data_dict_to_json). Here the rule table is a first-class small object:
a list of :class:`FieldRule` convertible to/from plain dicts, JSON and a
Spark DataFrame (broadcastable). Rules are tiny metadata — they live on
the driver and drive Column-expression codegen; they are never joined
against the fact table row-by-row.
"""

from __future__ import annotations

import ast
import json
from dataclasses import dataclass, field, fields as dc_fields
from typing import Any, Iterable

from .config import DATA_DICT_PRIMARY_KEY, DATA_DICT_SCHEMA, LOGICAL_TYPES

_RULE_ATTRS = [
    "required", "data_type", "allow_null", "length", "range_min",
    "range_max", "regex_pattern", "unique_value", "allowed_value_list",
]


def eval_nested_string_literals(data):
    """Revive string-encoded Python literals anywhere in a nested dict —
    the reference's eval_nested_string_literals (src/schema_validata.py:
    388-434) faithfully: surrounding quote characters are stripped
    (:421-424 — template cells carry ``"['a','b']"``), then EVERY scalar
    gets one ``ast.literal_eval`` attempt (:426-430) — so ``'True'`` →
    True and ``'7'`` → 7, exactly as the reference's rules dicts end up
    typed. Recurses into dicts only, like the reference (:418-419)."""
    if isinstance(data, str):
        data = json.loads(data)
    for key, value in data.items():
        if isinstance(value, dict):
            eval_nested_string_literals(value)
        else:
            try:
                value = value.strip("\"'")
            except AttributeError:
                pass
            try:
                evaluated = ast.literal_eval(value)
            except (SyntaxError, ValueError):
                evaluated = value
            if value != evaluated:  # replace only when evaluation changed
                data[key] = evaluated
    return data


def _cell_na(v):
    """Driver-side scalar NA classifier for rule cells (reference
    check_na_value, :1216-1263, applied during dictionary parsing)."""
    import re as _re

    from .config import NA_PATTERNS, NA_VALUES
    if v is None:
        return None
    if isinstance(v, str):
        s = v.strip()
        if s in NA_VALUES or not s:
            return None
        for p in NA_PATTERNS:
            if _re.search(p, v):
                return None
    return v


def data_dict_xlsx_to_json(path: str) -> dict[str, dict[str, dict]]:
    """The reference's ``data_dict_to_json`` (src/schema_validata.py:
    780-858) over the stdlib xlsx reader: keep only sheets whose columns
    cover DATA_DICT_SCHEMA (:827-829), drop rows without field_name
    (:831-834), key by field_name with the name echoed back into each
    record (:835-839), revive string-encoded list literals (:842).
    Driver-side metadata parsing — never the distributed path."""
    from .sources.xlsx import read_xlsx_records

    data_dict: dict[str, dict[str, dict]] = {}
    for sheet, rows in read_xlsx_records(path).items():
        if not rows:
            continue
        if not set(DATA_DICT_SCHEMA).issubset(set(rows[0].keys())):
            continue
        sheet_schema: dict[str, dict] = {}
        for r in rows:
            # rm_newlines=True, replace_char='' — the reference strips
            # newlines from every cell at read time (:438-460, :816-820)
            rec = {k: _cell_na(v.replace("\n", "").replace("\r", "")
                               if isinstance(v, str) else v)
                   for k, v in r.items()}
            fname = rec.get(DATA_DICT_PRIMARY_KEY)
            if fname is None:
                continue
            rec[DATA_DICT_PRIMARY_KEY] = str(fname)
            sheet_schema[str(fname)] = rec
        if sheet_schema:
            data_dict[sheet] = sheet_schema
    return eval_nested_string_literals(data_dict)


def _unqualified_sheet_message(path: str, sheet: str,
                               qualifying: list[str]) -> str:
    from .sources.xlsx import read_xlsx_records

    rows = read_xlsx_records(path).get(sheet)
    if rows is None:
        why = "no such sheet"
    elif not rows:
        why = "the sheet has no rows"
    else:
        missing = [c for c in DATA_DICT_SCHEMA if c not in rows[0]]
        why = (f"it lacks the DATA_DICT_SCHEMA columns {missing}"
               if missing else f"no row has a {DATA_DICT_PRIMARY_KEY}")
    return (f"{path}: sheet {sheet!r} is not a data-dictionary sheet "
            f"({why}); qualifying sheets: {qualifying}")


def _parse_bool(v):
    if isinstance(v, str):
        s = v.strip().lower()
        if s in ("true", "false"):
            return s == "true"
        return None
    return v if isinstance(v, bool) else None


def _num(v):
    try:
        return float(v) if v is not None and not isinstance(v, str) else None
    except (TypeError, ValueError):
        return None


@dataclass
class FieldRule:
    """One row of the data dictionary (reference DATA_DICT_SCHEMA,
    src/schema_validata.py:51-62)."""

    field_name: str
    required: bool | None = None
    data_type: str | None = None          # one of LOGICAL_TYPES
    allow_null: bool | None = None
    length: int | None = None
    range_min: float | None = None
    range_max: float | None = None
    regex_pattern: str | None = None
    unique_value: bool | None = None
    allowed_value_list: list | None = None

    def __post_init__(self):
        if self.data_type is not None and self.data_type not in LOGICAL_TYPES:
            raise ValueError(
                f"data_type {self.data_type!r} not in {LOGICAL_TYPES}"
            )

    def attrs(self) -> dict[str, Any]:
        """Non-null rule attributes as a dict (excludes field_name), matching
        the reference's per-field rules dict shape."""
        out = {}
        for name in _RULE_ATTRS:
            v = getattr(self, name)
            if v is not None:
                out[name] = v
        return out


@dataclass
class Rules:
    """A named rule table (one reference 'data dictionary sheet')."""

    name: str
    fields: list[FieldRule] = field(default_factory=list)
    # Engine-level composite uniqueness keys (north_rule addition — e.g.
    # (conv_id, turn_idx)); no reference counterpart.
    composite_unique: list[tuple[str, ...]] = field(default_factory=list)
    # Referential-integrity constraints: (fk_column, dim_table, dim_column).
    foreign_keys: list[tuple[str, str, str]] = field(default_factory=list)
    # Cross-column conditional rules (engine-level addition; items are
    # operators.expectations.ConditionalRule — kept untyped here so the
    # metadata model stays import-cycle-free).
    conditional: list = field(default_factory=list)

    def __iter__(self) -> Iterable[FieldRule]:
        return iter(self.fields)

    def __getitem__(self, field_name: str) -> FieldRule:
        for f in self.fields:
            if f.field_name == field_name:
                return f
        raise KeyError(field_name)

    def field_names(self) -> list[str]:
        return [f.field_name for f in self.fields]

    # -- conversions ---------------------------------------------------------

    def to_nested_dict(self) -> dict[str, dict[str, Any]]:
        """``{field: {attr: value}}`` — shape of the reference's parsed data
        dictionary (src/schema_validata.py:835-842)."""
        return {f.field_name: f.attrs() for f in self.fields}

    @classmethod
    def from_nested_dict(cls, name: str, d: dict[str, dict[str, Any]]) -> "Rules":
        out = []
        for fname, attrs in d.items():
            attrs = dict(attrs)
            avl = attrs.get("allowed_value_list")
            if isinstance(avl, str):
                # Revive string-encoded python list literals, as the reference
                # does via ast.literal_eval (src/schema_validata.py:388-434).
                # An unparseable cell ('[red, blue]' with unquoted items)
                # stays a string — the reference swallows the error
                # (:426-429) rather than failing the whole dictionary load.
                try:
                    attrs["allowed_value_list"] = ast.literal_eval(avl)
                except (SyntaxError, ValueError):
                    pass
            # XLSX dictionaries carry booleans as 'True'/'False' strings
            # (reference keeps them as object dtype, :51-62) — parse them
            for battr in ("required", "allow_null", "unique_value"):
                if isinstance(attrs.get(battr), str):
                    attrs[battr] = _parse_bool(attrs[battr])
            # length/range may arrive as floats from spreadsheet cells
            if isinstance(attrs.get("length"), float):
                attrs["length"] = int(attrs["length"])
            known = {f.name for f in dc_fields(FieldRule)} - {"field_name"}
            out.append(FieldRule(field_name=fname,
                                 **{k: v for k, v in attrs.items() if k in known}))
        return cls(name=name, fields=out)

    @classmethod
    def from_xlsx(cls, path: str,
                  sheet: str | None = None) -> "dict[str, Rules] | Rules":
        """Load rule tables from an XLSX data dictionary (the reference
        user's authoring format — data_dictionary_template.xlsx). One
        Rules per qualifying sheet; pass ``sheet`` to get exactly one.
        A ``sheet`` that is absent or does not qualify raises
        ``ValueError`` naming the qualifying sheets and what it lacks."""
        dd = data_dict_xlsx_to_json(path)
        all_rules = {s: cls.from_nested_dict(s, flds)
                     for s, flds in dd.items()}
        if sheet is None:
            return all_rules
        if sheet not in all_rules:
            raise ValueError(_unqualified_sheet_message(path, sheet,
                                                        sorted(all_rules)))
        return all_rules[sheet]

    @classmethod
    def from_json(cls, name: str, text: str) -> "Rules":
        return cls.from_nested_dict(name, json.loads(text))

    def to_config(self) -> dict[str, Any]:
        """FULL rule-table serialization, engine extensions included —
        the shape a production job config carries (the reference's
        nested dict covers per-field rules only). Round-trips through
        :meth:`from_config`."""
        cfg: dict[str, Any] = {"name": self.name,
                               "fields": self.to_nested_dict()}
        if self.composite_unique:
            cfg["composite_unique"] = [list(k) for k in self.composite_unique]
        if self.foreign_keys:
            cfg["foreign_keys"] = [list(t) for t in self.foreign_keys]
        if self.conditional:
            cfg["conditional"] = [
                {"name": r.name, "when_sql": r.when_sql,
                 "then_sql": r.then_sql} for r in self.conditional]
        return cfg

    @classmethod
    def from_config(cls, cfg: dict[str, Any] | str) -> "Rules":
        """Inverse of :meth:`to_config`; also accepts the JSON text."""
        if isinstance(cfg, str):
            cfg = json.loads(cfg)
        rules = cls.from_nested_dict(cfg.get("name", "RULES"),
                                     cfg.get("fields", {}))
        rules.composite_unique = [tuple(k) for k in
                                  cfg.get("composite_unique", [])]
        rules.foreign_keys = [tuple(t) for t in cfg.get("foreign_keys", [])]
        if cfg.get("conditional"):
            # runtime import: operators package imports rules at module
            # load; this lazy import keeps the metadata model cycle-free
            from .operators.expectations import ConditionalRule
            rules.conditional = [
                ConditionalRule(d["name"], d["when_sql"], d["then_sql"])
                for d in cfg["conditional"]]
        return rules

    @classmethod
    def from_profile(cls, name: str,
                     observed: dict[str, dict[str, Any]]) -> "Rules":
        """Data-dictionary bootstrap from a profiled table — the analog
        of the reference's dataset_schema_to_xlsx/json starter-dictionary
        flow (src/schema_validata.py:1477-1542, 1632-1685): each observed
        stat becomes the authoritative rule for future runs."""
        fields = []
        for col, info in observed.items():
            def _b(v):
                if isinstance(v, str):
                    return v == "True"
                return v if isinstance(v, bool) else None
            length = info.get("length")
            fields.append(FieldRule(
                field_name=col,
                required=_b(info.get("required")),
                data_type=info.get("data_type")
                if info.get("data_type") in LOGICAL_TYPES else None,
                allow_null=_b(info.get("allow_null")),
                length=int(length) if isinstance(length, (int, float)) else None,
                range_min=_num(info.get("range_min")),
                range_max=_num(info.get("range_max")),
                unique_value=_b(info.get("unique_value")),
                allowed_value_list=info.get("allowed_value_list")
                if isinstance(info.get("allowed_value_list"), list) else None,
            ))
        return cls(name=name, fields=fields)

    def to_spark_df(self, spark):
        """Rules as a small Spark DataFrame (broadcast-sized by construction:
        one row per column of the validated table)."""
        from pyspark.sql import types as T

        schema = T.StructType([
            T.StructField("field_name", T.StringType(), False),
            T.StructField("required", T.BooleanType(), True),
            T.StructField("data_type", T.StringType(), True),
            T.StructField("allow_null", T.BooleanType(), True),
            T.StructField("length", T.IntegerType(), True),
            T.StructField("range_min", T.DoubleType(), True),
            T.StructField("range_max", T.DoubleType(), True),
            T.StructField("regex_pattern", T.StringType(), True),
            T.StructField("unique_value", T.BooleanType(), True),
            T.StructField("allowed_value_list", T.ArrayType(T.StringType()), True),
        ])
        rows = []
        for f in self.fields:
            avl = f.allowed_value_list
            rows.append((
                f.field_name, f.required, f.data_type, f.allow_null,
                f.length,
                float(f.range_min) if f.range_min is not None else None,
                float(f.range_max) if f.range_max is not None else None,
                f.regex_pattern, f.unique_value,
                [str(v) for v in avl] if avl is not None else None,
            ))
        return spark.createDataFrame(rows, schema)

    @classmethod
    def from_spark_df(cls, name: str, df) -> "Rules":
        """Parse a rules table already loaded as a (tiny) DataFrame — the
        Spark analog of the reference's XLSX-sheet parsing
        (src/schema_validata.py:816-842): rows without the primary key are
        dropped; list cells are revived."""
        out = []
        for row in df.collect():
            d = row.asDict()
            fname = d.pop(DATA_DICT_PRIMARY_KEY, None)
            if fname is None:  # reference drops rows w/o field_name (:831)
                continue
            avl = d.get("allowed_value_list")
            if isinstance(avl, str):
                d["allowed_value_list"] = ast.literal_eval(avl)
            known = {f.name for f in dc_fields(FieldRule)} - {"field_name"}
            out.append(FieldRule(field_name=fname,
                                 **{k: v for k, v in d.items() if k in known}))
        return cls(name=name, fields=out)


def _rule_change_direction(attr: str, old, new):
    """'tightened' / 'loosened' / 'changed' for one rule attribute.

    Monotone attributes have an obvious order (allow_null False is
    stricter, a higher range_min is stricter, a shorter max length is
    stricter, unique_value True is stricter, required True is
    stricter); allowed_value_list compares by set containment; anything
    else (data_type, regex_pattern, incomparable lists) is 'changed'.
    A rule appearing (None -> value) tightens; disappearing loosens."""
    if old is None:
        return "tightened"
    if new is None:
        return "loosened"
    stricter_true = {"required", "unique_value"}
    if attr in stricter_true:
        return "tightened" if new and not old else \
            "loosened" if old and not new else "changed"
    if attr == "allow_null":
        return "tightened" if old and not new else \
            "loosened" if new and not old else "changed"
    if attr in ("range_min",):
        return "tightened" if new > old else "loosened"
    if attr in ("range_max", "length"):
        return "tightened" if new < old else "loosened"
    if attr == "allowed_value_list":
        o, n = set(map(str, old)), set(map(str, new))
        if n < o:
            return "tightened"
        if n > o:
            return "loosened"
        return "changed"
    return "changed"


def rules_diff(old: Rules, new: Rules) -> dict:
    """Dictionary-governance diff between two rule-table versions: what
    a reviewer must sign off before the new dictionary ships. The
    rules twin of ``operators.profile.profile_diff`` (which diffs
    OBSERVED schemas) — this diffs the CONTRACTS, and labels every
    attribute change as tightened (may newly fail existing data),
    loosened (may newly admit bad data), or changed (semantics moved
    sideways: type/regex swaps).

    Returns::

        {"added_fields": [...], "removed_fields": [...],
         "changed": {field: {attr: {"old": v, "new": v,
                                    "direction": ...}}},
         "composite_unique": {"added": [...], "removed": [...]},
         "foreign_keys": {"added": [...], "removed": [...]},
         "tightened": [...], "loosened": [...]}   # field:attr flags

    Pure metadata — nothing touches a DataFrame."""
    o = {f.field_name: f for f in old.fields}
    n = {f.field_name: f for f in new.fields}
    out = {
        "added_fields": sorted(set(n) - set(o)),
        "removed_fields": sorted(set(o) - set(n)),
        "changed": {},
        "composite_unique": {
            "added": sorted(map(list, set(new.composite_unique)
                                 - set(old.composite_unique))),
            "removed": sorted(map(list, set(old.composite_unique)
                                   - set(new.composite_unique)))},
        "foreign_keys": {
            "added": sorted(map(list, set(new.foreign_keys)
                                 - set(old.foreign_keys))),
            "removed": sorted(map(list, set(old.foreign_keys)
                                   - set(new.foreign_keys)))},
        "tightened": [], "loosened": [],
    }
    for name in sorted(set(o) & set(n)):
        fo, fn = o[name], n[name]
        for attr in _RULE_ATTRS:
            vo, vn = getattr(fo, attr), getattr(fn, attr)
            if vo == vn:
                continue
            d = _rule_change_direction(attr, vo, vn)
            out["changed"].setdefault(name, {})[attr] = {
                "old": vo, "new": vn, "direction": d}
            if d in ("tightened", "loosened"):
                out[d].append(f"{name}:{attr}")
    return out


def rules_coverage(columns: list[str], rules: Rules) -> dict:
    """Governance coverage report: how much of a table the dictionary
    actually governs. Per column: the list of active rule attributes;
    summary: covered/uncovered columns, rules with no matching column
    (dictionary rot), total active checks, coverage share. Pure
    metadata — pair with ``rules_diff`` for the review workflow.

    ``columns`` is the table's column list (``df.columns``); the
    function deliberately does not take a DataFrame so reports can run
    against stored schemas without a session."""
    by_name = {f.field_name: f for f in rules.fields}
    per: dict[str, list[str]] = {}
    n_checks = 0
    for c in columns:
        fr = by_name.get(c)
        active = sorted(fr.attrs()) if fr is not None else []
        per[c] = active
        n_checks += len(active)
    covered = [c for c, a in per.items() if a]
    orphans = sorted(set(by_name) - set(columns))
    return {
        "per_column": per,
        "covered": sorted(covered),
        "uncovered": sorted(set(columns) - set(covered)),
        "orphan_rules": orphans,
        "n_checks": n_checks,
        "coverage_share": (round(len(covered) / len(columns), 6)
                           if columns else 0.0),
    }


def suggest_rules(df, allowed_max: int = 10):
    """Draft a data dictionary FROM the data: one suggestion row per
    column, derived in a single wide aggregate pass — the authoring
    aid for the reference's biggest onboarding cost (hand-writing the
    xlsx data dictionary; reference consumes but never helps author
    one, src/schema_validata.py:650-860). The output is a REVIEW
    ARTIFACT: a human promotes suggestions into a ``Rules`` object;
    nothing here feeds validation unreviewed.

    Heuristics (deliberately transparent, all visible in the output):
    suggested_type maps the physical Spark type (int->Integer,
    fractional->Numeric, timestamp->Datetime, else String);
    allow_null = any NULL observed; range_min/max only for numerics
    (6dp); length_max only for strings; allowed_values only for
    STRING columns with <= ``allowed_max`` distinct values (sorted,
    comma-joined); suggest_unique when every non-null value is
    distinct and the column is non-empty.

    Output per column: column_name, suggested_type, allow_null,
    range_min, range_max, length_max, n_distinct (bigint),
    allowed_values, suggest_unique.

    SCALE: ONE aggregate scan; the exact per-column distincts expand
    the plan (Spark rewrites multi-distinct aggregates), and
    ``collect_set`` holds a column's distinct set in executor memory —
    acceptable for authoring runs on samples/partitions; for full
    10^12-row tables, draft from ``profile_stats_df`` (HLL-screened)
    instead and treat this as the small-sample authoring path."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    aggs = []
    cols = df.schema.fields
    for f in cols:
        c = F.col(f.name)
        name = f.name
        is_num = isinstance(f.dataType, T.NumericType)
        is_str = isinstance(f.dataType, T.StringType)
        aggs.append(F.count(c).alias(f"__n_{name}"))
        aggs.append(F.count(F.when(c.isNull(), 1)).alias(f"__z_{name}"))
        aggs.append(F.countDistinct(c).alias(f"__d_{name}"))
        if is_num:
            aggs.append(F.round(F.min(c).cast("double"), 6)
                         .alias(f"__mn_{name}"))
            aggs.append(F.round(F.max(c).cast("double"), 6)
                         .alias(f"__mx_{name}"))
        if is_str:
            aggs.append(F.max(F.length(c)).cast("bigint")
                         .alias(f"__len_{name}"))
            aggs.append(F.array_join(F.slice(
                F.sort_array(F.collect_set(c)), 1, allowed_max + 1), ",")
                .alias(f"__av_{name}"))
    wide = df.agg(*aggs)

    rows = []
    for f in cols:
        name = f.name
        if isinstance(f.dataType, (T.IntegerType, T.LongType,
                                   T.ShortType, T.ByteType)):
            stype = "Integer"
        elif isinstance(f.dataType, T.NumericType):
            stype = "Numeric"
        elif isinstance(f.dataType, (T.TimestampType,
                                     getattr(T, "TimestampNTZType",
                                             T.TimestampType),
                                     T.DateType)):
            stype = "Datetime"
        else:
            stype = "String"
        is_num = isinstance(f.dataType, T.NumericType)
        is_str = isinstance(f.dataType, T.StringType)
        n = F.col(f"__n_{name}")
        d = F.col(f"__d_{name}")
        rows.append(F.struct(
            F.lit(name).alias("column_name"),
            F.lit(stype).alias("suggested_type"),
            (F.col(f"__z_{name}") > 0).alias("allow_null"),
            (F.col(f"__mn_{name}") if is_num
             else F.lit(None).cast("double")).alias("range_min"),
            (F.col(f"__mx_{name}") if is_num
             else F.lit(None).cast("double")).alias("range_max"),
            (F.col(f"__len_{name}") if is_str
             else F.lit(None).cast("bigint")).alias("length_max"),
            d.cast("bigint").alias("n_distinct"),
            (F.when(d <= allowed_max, F.col(f"__av_{name}")) if is_str
             else F.lit(None).cast("string")).alias("allowed_values"),
            ((d == n) & (n > 0)).alias("suggest_unique")))
    return (wide.select(F.explode(F.array(*rows)).alias("s"))
            .select("s.*"))
