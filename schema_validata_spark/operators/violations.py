"""Row-level violation listing: the reference's ``value_errors_*`` family
(src/schema_validata.py:2158-2604) as ONE combined distributed scan.

The reference re-reads the whole file and runs a Python ``iterrows()``
loop per flagged column (:2504-2506, :2184/2228/2280/2335/2404/2456).
Here the plan of flagged (column, check) pairs is built on the driver
from the verdicts, then:

* every per-row predicate (null / unallowed / length / range / regex)
  becomes a Column expression contributing one ``struct`` to an array in
  a SINGLE projection over a SINGLE column-pruned scan — ``filter
  (size>0) → explode`` yields the violations DataFrame. Whole-stage
  codegen end to end, no Python in the row path.
* duplicate checks (not per-row-expressible) run as a two-phase
  aggregate per flagged column: ``groupBy(col).count().filter(>1)``
  (map-side partial aggregation collapses skewed values) followed by a
  join back — broadcast when the duplicate key set is small (the common
  case), shuffle-hash with AQE skew handling otherwise.

One compiler turns rules into checks: ``rule_specs`` is the only code
that maps ``FieldRule`` attributes to ``CheckSpec``s. It int-downcasts
length and range params as the verdict diff does (``50.0`` labels
``(50)`` on every path) and keeps a regex only when it is a ``str``
outside ``NA_VALUES`` (an NA-token cell is no pattern, :2584-2593).
``violation_plan_for`` is the verdict gate over it (``validate``);
``row_specs`` drops ``unique_value`` for the paths that never join
(quarantine, partition and streaming verdict counts, the streaming
listing). Every path therefore gives one answer per rule.

Check semantics preserved from the reference:
* nulls:      extended NA vocabulary (:2158-2195)
* duplicates: every member of every duplicate group, nulls excluded
              (``duplicated(keep=False)``, :2198-2240)
* unallowed:  ``~isin`` with nulls excluded (:2243-2292)
* length:     ``len(str(v)) > max_length`` (:2295-2347); nulls excluded
              by default (the reference's ``astype(str)`` turns NaN into
              the 3-char string 'nan' — parity_nulls=True reproduces it)
* range:      ``to_numeric``-coerced compare; non-numeric values
              produce no errors (:2350-2417)
* regex:      Python ``re.match`` anchoring ⇒ ``rlike('^(?:' p ')')``
              (:2420-2468); regex checks run for EVERY rule column with
              a pattern, independent of verdict flags (:2584-2593)
"""

from __future__ import annotations

from collections.abc import Sequence
from dataclasses import dataclass
from typing import Any

from pyspark.sql import Column, DataFrame, functions as F

from ..config import (DEFAULT_IGNORE_ERRORS, ERROR_TYPE_LABELS, NA_VALUES,
                      length_error_type, range_error_type)
from ..functions.colref import qcol
from ..functions.nulls import is_na_expr
from ..functions.typing import safe_double
from ..rules import Rules
from .expectations import (CONDITIONAL_ERROR_PREFIX,
                           conditional_violation_expr)
from .verdicts import downcast_ints

VIOLATION_FIELDS = ["error_type", "column_name", "error_value"]


@dataclass
class CheckSpec:
    column: str
    check: str           # one of config.ROW_LEVEL_CHECKS
    param: Any = None    # max_length / range bound / allowed list / pattern


def rule_specs(columns: list[str], rules: Rules,
               ignore_errors: Sequence[str] = ()) -> list[CheckSpec]:
    """The one rules→checks compiler: every row-level check the rules
    declare on one of ``columns``, ungated by verdicts, minus the checks
    named in ``ignore_errors``. Length and range params are int-downcast
    as the verdict diff records its ``expected`` (so labels read
    ``(50)``, never ``(50.0)``); an allowed list counts only as a list,
    and a regex only as a ``str`` outside ``NA_VALUES`` (:2584-2593)."""
    specs: list[CheckSpec] = []
    for fr in rules:
        c = fr.field_name
        if c not in columns:
            continue
        declared = [
            ("allow_null", fr.allow_null is False, None),
            ("unique_value", bool(fr.unique_value), None),
            ("length", fr.length is not None, fr.length),
            ("range_min", fr.range_min is not None, fr.range_min),
            ("range_max", fr.range_max is not None, fr.range_max),
            ("allowed_value_list", isinstance(fr.allowed_value_list, list),
             fr.allowed_value_list),
            ("regex_pattern", isinstance(fr.regex_pattern, str)
             and fr.regex_pattern not in NA_VALUES, fr.regex_pattern),
        ]
        specs += [CheckSpec(c, chk, downcast_ints(param))
                  for chk, on, param in declared
                  if on and chk not in ignore_errors]
    return specs


def row_specs(columns: list[str], rules: Rules,
              ignore_errors: Sequence[str] = ()) -> list[CheckSpec]:
    """``rule_specs`` without ``unique_value``: the checks a single row
    can fail, for the paths that never join (quarantine, verdict counts,
    streaming)."""
    return [sp for sp in rule_specs(columns, rules, ignore_errors)
            if sp.check != "unique_value"]


def violation_plan_for(rules: Rules, schema_violations: dict,
                       data_columns: list[str],
                       ignore_errors: list[str] | None = None) -> list[CheckSpec]:
    """The flagged-check plan of the reference's get_value_errors
    (:2534-2593): the ``rule_specs`` checks the column's verdict flags,
    plus every regex, which runs independent of verdicts."""
    ignore = DEFAULT_IGNORE_ERRORS if ignore_errors is None else ignore_errors
    flagged = schema_violations or {}
    return [sp for sp in rule_specs(data_columns, rules, ignore)
            if sp.check == "regex_pattern"
            or sp.check in flagged.get(sp.column, {})]


def _check_condition(df: DataFrame, spec: CheckSpec,
                     parity_nulls: bool = False) -> tuple[Column, str]:
    """(predicate Column, error_type label) for a per-row check.

    Predicates are TYPE-SPECIALIZED: a numeric physical column compares
    natively (``c.cast('double') > lit(v)`` — pure arithmetic inside
    whole-stage codegen); only string-typed input pays the shape-gated
    string→double battery. ``parity_nulls`` reproduces the reference's
    ``astype(str)`` quirk for length checks (src/schema_validata.py:2328):
    NULLs render as the 3-char string 'nan' and are length-checked."""
    c = qcol(spec.column)
    s = c.cast("string")
    numeric = _is_numericish(df, spec.column)
    if spec.check == "allow_null":
        return is_na_expr(c) if _is_string(df, spec.column) else c.isNull(), \
            ERROR_TYPE_LABELS["allow_null"]
    if spec.check == "allowed_value_list":
        vals = [str(v) for v in spec.param]
        if numeric:
            fvals = []
            ok = True
            for v in spec.param:
                try:
                    fvals.append(float(v))
                except (TypeError, ValueError):
                    ok = False
                    break
            if ok:
                # mask NaN for pandas parity, same as the range checks:
                # the reference's isin on a float column never flags NaN
                # (NaN compares unequal but pandas drops it via dropna)
                d = c.cast("double")
                return d.isNotNull() & ~F.isnan(d) & ~d.isin(fvals), \
                    ERROR_TYPE_LABELS["allowed_value_list"]
        return c.isNotNull() & ~F.trim(s).isin(vals), \
            ERROR_TYPE_LABELS["allowed_value_list"]
    if spec.check == "length":
        if parity_nulls:
            # raw ``astype(str)`` rendering: floats keep their '.0'
            # (the reference length-checks the unconverted frame), NaN
            # renders as the 3-char 'nan' (src/schema_validata.py:2328)
            disp = F.coalesce(s, F.lit("nan"))
            return F.length(disp) > int(spec.param), \
                length_error_type(spec.param)
        cond = F.length(_display_str(df, spec.column)) > int(spec.param)
        return c.isNotNull() & cond, length_error_type(spec.param)
    # Spark orders NaN above every value (so NaN > max would flag);
    # pandas comparisons with NaN are False — mask NaN for parity.
    if spec.check == "range_min":
        d = c.cast("double") if numeric else safe_double(s)
        return ~F.isnan(d) & (d < float(spec.param)), \
            range_error_type("min", spec.param)
    if spec.check == "range_max":
        d = c.cast("double") if numeric else safe_double(s)
        return ~F.isnan(d) & (d > float(spec.param)), \
            range_error_type("max", spec.param)
    if spec.check == "regex_pattern":
        # Python re.match anchors at the start only → rlike('^(?:…)');
        # patterns using Python-only constructs route through the
        # pandas-UDF parity fallback (functions/regex_parity.py)
        from ..functions.regex_parity import re_match_expr
        return c.isNotNull() & ~re_match_expr(s, spec.param), \
            ERROR_TYPE_LABELS["regex_pattern"]
    raise ValueError(f"not a per-row check: {spec.check}")


def verdict_count_aggs(df: DataFrame, rules: Rules
                       ) -> tuple[list[Column], list[tuple[str, str, str]]]:
    """Violation-count aggregates for a grouped verdict frame: one
    ``count(when(violation))`` per ``row_specs`` check and per
    conditional rule, aliased ``v{i}``/``cv{j}``. Returns the aggregate
    Columns and ``(alias, column_name, check)`` triples for
    ``verdict_stack``."""
    aggs, names = [], []
    for i, sp in enumerate(row_specs(df.columns, rules)):
        cond, _ = _check_condition(df, sp)
        aggs.append(F.count(F.when(cond, 1)).alias(f"v{i}"))
        names.append((f"v{i}", sp.column, sp.check))
    for j, cr in enumerate(getattr(rules, "conditional", None) or []):
        aggs.append(F.count(F.when(conditional_violation_expr(cr), 1))
                    .alias(f"cv{j}"))
        names.append((f"cv{j}", cr.name, "conditional"))
    return aggs, names


def verdict_stack(names: list[tuple[str, str, str]]) -> str:
    """SQL unpivoting a ``verdict_count_aggs`` row into
    ``(column_name, check, violation_count)`` rows. Names become SQL
    string literals with any quote doubled, so a column or rule named
    ``it's`` parses. ``names`` must be non-empty (``stack(0)`` is a
    parse error)."""
    def lit(s: str) -> str:
        return "'" + s.replace("'", "''") + "'"
    body = ", ".join(f"{lit(col)}, {lit(chk)}, cast(`{alias}` as bigint)"
                     for alias, col, chk in names)
    return (f"stack({len(names)}, {body})"
            " as (column_name, check, violation_count)")


def rate_status(verdicts: DataFrame, budgets: dict[tuple[str, str], float],
                default_budget: float = 0.0) -> DataFrame:
    """Judge ``(column_name, check, violation_count, n_rows)`` verdict
    rows against error budgets: adds ``budget`` (the ``budgets`` entry
    for the row's (column, check), else ``default_budget``), ``rate``
    (6dp, display only) and ``status`` (pass iff the unrounded rate is
    within budget). One ``when`` chain, no budget frame or join — the
    shared gate of the batch and streaming rate verdicts."""
    budget = F.lit(float(default_budget))
    for (c, k), b in budgets.items():
        budget = F.when((F.col("column_name") == c) & (F.col("check") == k),
                        F.lit(float(b))).otherwise(budget)
    rate = F.col("violation_count") / F.col("n_rows")
    return (verdicts.withColumn("budget", budget)
                    .withColumn("rate", F.round(rate, 6))
                    .withColumn("status",
                                F.when(rate <= F.col("budget"), "pass")
                                 .otherwise("fail")))


def _is_string(df: DataFrame, col: str) -> bool:
    return dict(df.dtypes)[col] == "string"


def _is_numericish(df: DataFrame, col: str) -> bool:
    return dict(df.dtypes)[col] in (
        "tinyint", "smallint", "int", "bigint", "float", "double") or \
        dict(df.dtypes)[col].startswith("decimal")


def _display_str(df: DataFrame, col: str) -> Column:
    """String rendering of a value for length checks / error values:
    whole-number floats render like ints (pandas Int64 read parity)."""
    c = qcol(col)
    if _is_numericish(df, col):
        d = c.cast("double")
        return F.when(d == F.floor(d), (d).try_cast("bigint").cast("string")) \
                .otherwise(c.cast("string"))
    return c.cast("string")


def row_check_hits(df: DataFrame, specs: list[CheckSpec],
                   keep: list[Column], conditional=(),
                   parity_nulls: bool = False) -> DataFrame:
    """One row per (row, failed check): ``[*keep, error_type,
    column_name, error_value]``. Every per-row ``specs`` check and every
    ``conditional`` rule contributes one ``when(cond, struct)`` to an
    array in a SINGLE projection; ``filter(size > 0) → explode`` lists
    the hits. The shared listing shape of the batch violations, the
    conditional-rule listing and the streaming twin, so all three render
    ``error_value`` the same way (``_display_str``)."""
    structs = []
    for sp in specs:
        cond, label = _check_condition(df, sp, parity_nulls)
        val = _display_str(df, sp.column)
        if parity_nulls and sp.check == "length":
            val = F.coalesce(qcol(sp.column).cast("string"), F.lit("nan"))
        structs.append(F.when(cond, F.struct(
            F.lit(label).alias("error_type"),
            F.lit(sp.column).alias("column_name"),
            val.alias("error_value"))))
    for cr in conditional:
        structs.append(F.when(conditional_violation_expr(cr), F.struct(
            F.lit(f"{CONDITIONAL_ERROR_PREFIX} {cr.name}")
             .alias("error_type"),
            F.lit(cr.name).alias("column_name"),
            F.lit(cr.then_sql).alias("error_value"))))
    if not structs:
        # F.array() of nothing is array<null>, which "v.*" cannot expand
        return df.select(*keep, *[F.lit(None).cast("string").alias(f)
                                  for f in VIOLATION_FIELDS]) \
                 .where(F.lit(False))
    arr = F.filter(F.array(*structs), lambda x: x.isNotNull())
    hits = (df.withColumn("__v", arr)
              .where(F.size("__v") > 0)
              .select(*keep, F.explode("__v").alias("v")))
    return hits.select(*[qcol(c) for c in hits.columns[:-1]], "v.*")


def value_errors_df(df: DataFrame, specs: list[CheckSpec],
                    key_cols: list[str],
                    lookup_col: str | None = None,
                    parity_nulls: bool = False) -> DataFrame | None:
    """All violation rows for ``specs`` with schema
    ``[*key_cols, error_type, column_name, error_value, lookup_column,
    lookup_value]``. Returns None when specs is empty.

    One column-pruned scan covers every per-row check; each duplicate
    check adds one aggregate + join job over just (key_cols, column).
    ``parity_nulls=True`` reproduces the reference's ``astype(str)``
    null-as-'nan' rendering in length checks (src/schema_validata.py:
    2328): NULL values length-check as the 3-char string 'nan' and list
    'nan' as the error value.
    """
    if not specs:
        return None
    row_specs = [sp for sp in specs if sp.check != "unique_value"]
    dup_specs = [sp for sp in specs if sp.check == "unique_value"]

    needed = sorted({c for sp in specs for c in (sp.column,)}
                    | set(key_cols) | ({lookup_col} if lookup_col else set()))
    from ..plans.parallelism import ensure_min_parallelism
    base = ensure_min_parallelism(
        df.select(*[qcol(c) for c in df.columns if c in needed]))

    out_frames = []
    if row_specs:
        lk = (qcol(lookup_col).cast("string") if lookup_col
              else F.lit(None).cast("string"))
        hits = row_check_hits(base, row_specs,
                              [*[qcol(k) for k in key_cols],
                               lk.alias("__lk")],
                              parity_nulls=parity_nulls)
        out_frames.append(hits.select(
            *[qcol(k) for k in key_cols],
            "error_type", "column_name", "error_value",
            F.lit(lookup_col).cast("string").alias("lookup_column"),
            F.col("__lk").alias("lookup_value")))

    for sp in dup_specs:
        c = qcol(sp.column)
        dup_keys = (base.where(c.isNotNull())
                    .groupBy(c)
                    .agg(F.count(F.lit(1)).alias("__cnt"))
                    .where(F.col("__cnt") > 1)
                    .select(qcol(sp.column)))
        # NO broadcast hint: a hint is honored regardless of size, and a
        # pervasively-duplicated column (worst case n/2 distinct keys)
        # would broadcast an unbounded key set. Unhinted, AQE measures the
        # aggregate's actual output at runtime and picks broadcast exactly
        # when the duplicate key set really is small (the common case).
        hits = base.join(dup_keys, sp.column, "inner")
        out_frames.append(hits.select(
            *[qcol(k) for k in key_cols],
            F.lit(ERROR_TYPE_LABELS["unique_value"]).alias("error_type"),
            F.lit(sp.column).alias("column_name"),
            _display_str(base, sp.column).alias("error_value"),
            F.lit(lookup_col).cast("string").alias("lookup_column"),
            (qcol(lookup_col).cast("string") if lookup_col
             else F.lit(None).cast("string")).alias("lookup_value")))

    result = out_frames[0]
    for f in out_frames[1:]:
        result = result.unionByName(f)
    return result


def quarantine(df: DataFrame, rules: Rules,
               ignore_errors: list[str] | None = None,
               reasons_col: str = "violation_reasons"
               ) -> tuple[DataFrame, DataFrame]:
    """Split ``df`` into ``(clean, quarantined)`` on the per-row checks:
    a row is quarantined iff it violates ANY per-row rule predicate
    (null / allowed / length / range / regex, plus ``rules.conditional``
    cross-column rules). Both outputs derive from ONE projection over
    the same scan — the reason array is computed once; Spark caches or
    recomputes the shared subplan, and either way no extra shuffle
    exists. The quarantined frame carries ``reasons_col``
    (array<string> of error-type labels, spec order).

    Per-ROW checks only by design: uniqueness/duplicate violations are a
    property of the key group, not the row — routing them here would
    need the duplicate join; keep using ``value_errors_df`` for those.

    The standard write-path pattern at scale: ``clean`` flows to the
    production sink, ``quarantined`` to a review table, one input scan
    each (or persist the projected frame for a single scan total).
    """
    ignore = DEFAULT_IGNORE_ERRORS if ignore_errors is None else ignore_errors
    specs = row_specs(df.columns, rules, ignore)

    reasons = []
    for sp in specs:
        cond, label = _check_condition(df, sp)
        reasons.append(F.when(cond, F.lit(label)))
    for cr in getattr(rules, "conditional", None) or []:
        reasons.append(F.when(conditional_violation_expr(cr),
                              F.lit(f"{CONDITIONAL_ERROR_PREFIX} {cr.name}")))
    if not reasons:
        empty = F.array().cast("array<string>")
        return df, df.withColumn(reasons_col, empty).where(F.lit(False))
    arr = F.filter(F.array(*reasons), lambda x: x.isNotNull())
    tagged = df.withColumn(reasons_col, arr)
    clean = tagged.where(F.size(reasons_col) == 0).drop(reasons_col)
    bad = tagged.where(F.size(reasons_col) > 0)
    return clean, bad


def get_best_uid_column(df: DataFrame, preferred_column: str | None = None,
                        distinct_counts: dict[str, int] | None = None) -> str | None:
    """Most-unique Integer/String column, preferring ``preferred_column``
    on ties (reference get_best_uid_column, src/schema_validata.py:
    328-384). Distinct counts come from one approx (HLL) aggregate —
    explicitly sanctioned for distinct stats at scale — or can be passed
    in from an existing profile."""
    cand = [f.name for f in df.schema.fields
            if dict(df.dtypes)[f.name] in
            ("string", "tinyint", "smallint", "int", "bigint")]
    if not cand:
        return preferred_column
    if distinct_counts is None:
        row = df.agg(*[F.approx_count_distinct(c).alias(c) for c in cand]) \
                .collect()[0].asDict()
        distinct_counts = {c: row[c] for c in cand}
    uniq_cnts = {c: int(v) for c, v in distinct_counts.items() if c in cand}
    if not uniq_cnts:
        return preferred_column
    max_value = max(uniq_cnts.values())
    uid_cols = [c for c, uc in uniq_cnts.items() if uc > 0 and uc == max_value]
    if uid_cols:
        if preferred_column and preferred_column in uniq_cnts:
            better = [c for c in uid_cols
                      if uniq_cnts[c] > uniq_cnts[preferred_column]]
            return preferred_column if not better else better[0]
        return uid_cols[0]
    return preferred_column


def with_sheet_row(violations: DataFrame, base: DataFrame,
                   key_cols: list[str]) -> DataFrame:
    """Attach the reference's 1-based-plus-header 'Sheet Row' ordinal
    (pandas idx+2, src/schema_validata.py:2186) under stable
    ``key_cols`` ordering. Costs a global sort — parity/report mode
    only, not part of the scale path."""
    from pyspark.sql import Window
    w = Window.orderBy(*[qcol(c) for c in key_cols])
    ordinals = base.select(*[qcol(c) for c in key_cols]).withColumn(
        "sheet_row", F.row_number().over(w) + 1)
    return violations.join(ordinals, key_cols, "left")
