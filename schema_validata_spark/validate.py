"""End-to-end validation orchestrator — the Spark-native equivalent of
the reference's ``validate_dataset`` (src/schema_validata.py:2607-2712).

Where the reference reads the file four times and loops rows in Python,
this entry runs a fixed small number of distributed jobs regardless of
table width or row count. Global scalar aggregates land through an
``Observation`` on a ``noop`` write (``functions.scalars``), so none
ends in a single-partition reduce. Jobs for the transcripts fixture
(one composite key, one foreign key, narrow table):

  1. profile         — 4 jobs: observed wide feature aggregate (1) +
                       two-stage value aggregate (3) that also captures
                       allowed values; conditional-rule counts ride the
                       wide aggregate (operators/profile.py)
  2. verdicts        — dict comparison over the collected stats, no
                       job (operators/verdicts.py)
  3. uniqueness      — 3 jobs per composite key: salted two-phase
                       aggregate, totals observed on its output
                       (operators/uniqueness.py)
  4. referential     — 2 jobs per foreign key: dimension broadcast +
                       observed left_anti count; the dimension is not
                       deduplicated (operators/integrity.py)
  5. violations      — ONE combined column-pruned scan for all flagged
                       per-row checks (+ one agg+join per duplicate
                       check), persisted: ``violations.count()`` 3 jobs,
                       ``report()`` 2 (operators/violations.py)

Profile, uniqueness and referential run concurrently; a whole lap
(validate, count, report) is 14 jobs.

``validate_partitioned`` judges each resume batch with
``partition_verdicts``: 6 jobs plus 1 manifest commit per batch, where
RI is an existence flag on the per-row check scan rather than a scan of
its own. A resume with one changed batch is 11 jobs, a no-op rerun 4.

The result dict mirrors the reference's structure:
``{uid: {run_metadata, dataset_metadata, data_dict_metadata,
results: {dataset: {schema_violations, value_errors}}}}`` with
``value_errors`` in the same columnar ``DataFrame.to_json()`` shape
(:2595-2602). ``uid = {dataset_md5}_{dict_md5}`` (:2678-2687) maps to
hashes of the input identity and rules content — deterministic, no
wall-clock in the identity.
"""

from __future__ import annotations

import hashlib
import json
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from .functions.colref import qcol
from .functions.scalars import collect_scalars

from .config import DEFAULT_IGNORE_ERRORS
from .manifest import Manifest, timed
from .operators.integrity import (referential_exists,
                                  referential_violations)
from .operators.profile import profile
from .operators.uniqueness import duplicate_stats
from .operators.verdicts import verdicts_for
from .operators.violations import (CheckSpec, _check_condition,
                                   get_best_uid_column, rate_status,
                                   rule_specs, value_errors_df,
                                   violation_plan_for)
from .rules import Rules

# Default-on scale gate for validate() and the package's one plan
# budget: assert_scalable's own defaults, which forbid global sorts,
# nested-loop joins (BroadcastNestedLoopJoin included) and row-at-a-time
# Python. Pass a dict of assert_scalable kwargs to tighten or relax, or
# None to opt out entirely.
PLAN_BUDGET_DEFAULT: dict = {}


def _rules_md5(rules: Rules) -> str:
    blob = json.dumps(rules.to_nested_dict(), sort_keys=True, default=str)
    return hashlib.md5(blob.encode()).hexdigest()


def _dataset_md5(df: DataFrame, dataset_name: str,
                 content_token: str | None = None) -> str:
    """Deterministic input identity: name + schema + a content token.

    The reference's uid is a content md5 of the input file
    (src/schema_validata.py:190-219, get_md5_hash; uid at :2681) — a
    schema-only hash would let two different datasets (or the same table
    after a data change) share an identity. ``content_token`` carries the
    content-sensitive part: an Iceberg snapshot id when the source
    exposes one, else a fingerprint derived from the data (see
    ``partition_fingerprints`` / the observed-stats hash in ``validate``).
    """
    blob = dataset_name + "|" + df.schema.simpleString() \
        + "|" + (content_token or "")
    return hashlib.md5(blob.encode()).hexdigest()


# Bounded per-row hash summaries: xxhash64 over the full row struct,
# combined per partition as (count, bit_xor, bounded sum). XOR alone
# cancels identical row pairs; the count and the pmod-bounded sum (< 2^20
# per row, so < 2^63 even at 10^12 rows/partition — no ANSI overflow)
# break that symmetry. Order-independent by construction.
def partition_fingerprints(df: DataFrame, partition_col: str
                           ) -> dict[str | None, str]:
    """{partition_key: content fingerprint} in ONE aggregate scan. Keys
    are the partition values cast to string; the NULL partition's key
    is ``None``, distinct from a real ``'None'`` value.
    The scan reads every column (it hashes full rows); at scale prefer
    passing an Iceberg ``snapshot_id`` to ``validate_partitioned`` —
    metadata-only — and fall back to this when the snapshot moved."""
    h = F.xxhash64(F.struct(*[qcol(c) for c in df.columns]))
    rows = (df.select(qcol(partition_col).cast("string").alias("__p"),
                      h.alias("__h"))
              .groupBy("__p")
              .agg(F.count(F.lit(1)).alias("n"),
                   F.expr("bit_xor(__h)").alias("hx"),
                   F.sum(F.pmod(F.col("__h"), F.lit(1 << 20))).alias("hs"))
              .collect())
    return {r["__p"]: f"fp:{r['n']}:{r['hx']}:{r['hs']}" for r in rows}


def _partition_keys(df: DataFrame, partition_col: str) -> list[str | None]:
    """Distinct partition keys, keyed like ``partition_fingerprints``."""
    return [r[0] for r in df.select(qcol(partition_col).cast("string"))
                              .distinct().collect()]


def _in_partitions(partition_col: str, keys) -> Column:
    """Row filter selecting the partitions named by ``keys`` (a ``None``
    key selects the NULL partition, which ``isin`` never matches)."""
    c = qcol(partition_col)
    cond = c.cast("string").isin([k for k in keys if k is not None])
    return cond | c.isNull() if None in keys else cond


@dataclass
class ValidationResult:
    uid: str
    dataset_name: str
    observed_schema: dict[str, dict[str, Any]]
    schema_violations: dict[str, Any]
    violations: DataFrame | None            # row-level violations (lazy)
    composite_uniqueness: dict[str, dict]   # {key_repr: {duplicate_keys, duplicate_rows}}
    referential: dict[str, int]             # {fk_repr: violation_count}
    conditional: dict[str, int] = field(default_factory=dict)  # {rule_name: count}
    partition_verdicts: DataFrame | None = None
    run_metadata: dict[str, Any] = field(default_factory=dict)
    # handle to the persist()ed base of the violations plan: the
    # reconcile step may wrap `violations` in where()/union() layers,
    # and DataFrame.unpersist() only releases a plan that IS a cache
    # entry — unpersisting the derived plan would silently leak
    persisted_base: DataFrame | None = None

    def passed(self) -> bool:
        return (not self.schema_violations
                and all(v["duplicate_rows"] == 0
                        for v in self.composite_uniqueness.values())
                and all(c == 0 for c in self.referential.values())
                and all(c == 0 for c in self.conditional.values()))

    def unpersist(self) -> None:
        """Release the cached speculative violations scan (validate()
        persists it so consuming actions don't re-scan the input)."""
        target = self.persisted_base if self.persisted_base is not None \
            else self.violations
        if target is not None:
            try:
                target.unpersist()
            except Exception:  # noqa: BLE001 — uncached lineage is fine
                pass

    def report(self, max_value_errors: int | None = 100_000) -> dict:
        """Reference-shaped nested result dict
        (src/schema_validata.py:2678-2700). Row-level errors are
        materialized through the same columnar ``to_json`` round-trip as
        the reference (:2595-2602), capped for driver safety.

        WARNING: ``max_value_errors=None`` collects EVERY violation row
        to the driver — on a corpus-scale run that is an unbounded
        driver-OOM footgun. Keep the cap and page with
        ``self.violations`` (a DataFrame) if you need the full set."""
        value_errors: dict[str, dict] = {}
        if self.violations is not None:
            rows = (self.violations.limit(max_value_errors).collect()
                    if max_value_errors is not None
                    else self.violations.collect())
            cols: dict[str, dict[str, Any]] = {}
            for i, r in enumerate(rows):
                for k, v in r.asDict().items():
                    cols.setdefault(k, {})[str(i)] = v
            value_errors = cols
        results = {
            self.dataset_name: {
                "schema_violations": self.schema_violations,
                "value_errors": value_errors,
            }
        }
        # engine-level additions (north_rule): composite uniqueness + RI
        results[self.dataset_name]["composite_uniqueness"] = self.composite_uniqueness
        results[self.dataset_name]["referential_integrity"] = self.referential
        if self.conditional:
            results[self.dataset_name]["conditional_rules"] = self.conditional
        return {self.uid: {
            "run_metadata": self.run_metadata,
            "dataset_metadata": {"dataset_name": self.dataset_name},
            "data_dict_metadata": {"rules_md5": self.uid.split("_")[1]},
            "results": results,
        }}


def validate(spark: SparkSession, df: DataFrame, rules: Rules,
             dataset_name: str = "dataset",
             dims: dict[str, DataFrame] | None = None,
             list_errors: bool = True,
             ignore_errors: list[str] | None = None,
             key_cols: list[str] | None = None,
             partition_col: str | None = None,
             snapshot_id: str | None = None,
             plan_budget: dict | None = PLAN_BUDGET_DEFAULT
             ) -> ValidationResult:
    """Validate ``df`` against ``rules``; see module docstring for the
    job plan. ``dims`` supplies dimension tables for rules.foreign_keys.

    ``plan_budget`` (VERDICT r3 #6, DEFAULT-ON): before returning, the
    composed row-level plans (violations; partition verdicts when
    built) are audited with ``plans.audit.assert_scalable(**budget)``
    — so a user-composed pipeline inherits the CI-grade scale gates
    (no global sorts, no nested-loop joins, no row-Python; plus any
    ``max_exchanges``/``max_scan_width`` caps in the dict) BEFORE the
    caller's first action executes the scan. A budget violation raises
    ``ValueError`` with the audit numbers. Pass ``None`` to opt out,
    or a dict of ``assert_scalable`` kwargs to tighten/relax. The
    audit is static (plan strings — no job runs).

    The speculative violations scan is persisted (MEMORY_AND_DISK) so
    every consuming action — count, report, sink — reads the (≪ input)
    violation rows instead of re-scanning the full table: at 100 TB
    that is 1 input scan instead of k. ``ValidationResult.unpersist()``
    releases the cache. Resumable runs take their manifest path
    through :func:`validate_partitioned`.
    ``key_cols`` are the stable row-address columns carried on violation
    rows (defaults to the first composite_unique key or the uid column).
    ``snapshot_id`` (Iceberg) feeds the run uid's content token; without
    one the uid derives from a hash of the observed profile stats — any
    data change that moves any stat changes the uid (reference analog:
    content-md5 uid, src/schema_validata.py:2681).
    """
    ignore_errors = DEFAULT_IGNORE_ERRORS if ignore_errors is None \
        else ignore_errors

    # Independent jobs run CONCURRENTLY (Spark schedules them together,
    # filling cores a single job's tail stages would leave idle): the
    # profiling scans, the composite-key duplicate aggregate and the RI
    # anti-joins share no dependency. Verdicts + the violation scan need
    # the profile, so they run after it.
    from concurrent.futures import ThreadPoolExecutor

    composite: dict[str, dict] = {}
    referential: dict[str, int] = {}
    conditional: dict[str, int] = {}
    cond_rules = list(getattr(rules, "conditional", None) or [])

    def _composites():
        for key in rules.composite_unique:
            if all(k in df.columns for k in key):
                composite["+".join(key)] = duplicate_stats(df, list(key))

    # conditional-rule counts RIDE the profile's wide aggregate (one
    # count(when(...)) expression each — VERDICT r4 #4: this used to be
    # a separate full input scan per run); the profile fills cond_raw
    # and the rule names map back positionally below.
    cond_extras = None
    cond_raw: dict = {}
    if cond_rules:
        from .operators.expectations import conditional_violation_expr
        cond_extras = [
            (f"__cond_{j}",
             F.count(F.when(conditional_violation_expr(r), 1))
              .cast("bigint"))
            for j, r in enumerate(cond_rules)]

    def _referentials():
        for fk_col, dim_name, dim_col in rules.foreign_keys:
            dim = (dims or {}).get(dim_name)
            if dim is not None and fk_col in df.columns:
                orphans = referential_violations(df, [fk_col], dim,
                                                 [dim_col],
                                                 broadcast_dim=True)
                referential[f"{fk_col}->{dim_name}.{dim_col}"] = \
                    collect_scalars(orphans,
                                    F.count(F.lit(1)).alias("n"))["n"]

    preferred = next((f.field_name for f in rules if f.unique_value), None)
    if key_cols is None:
        key_cols = list(rules.composite_unique[0]) \
            if rules.composite_unique else []
    # The violations DataFrame can be BUILT speculatively from the rules
    # alone when no lookup column must be chosen from profile stats: a
    # row-level check emits rows iff its verdict would flag (a range /
    # length / allowed / null / unique check is flagged exactly when ≥1
    # row violates it), so gating the plan on verdicts changes which
    # scans run, never which rows come out. Building it here keeps the
    # whole job DAG free of a profile → violations serial chain.
    speculative = bool(key_cols) and not preferred and list_errors

    violations = None
    persisted_base = None
    spec_specs: list[CheckSpec] = []
    distincts: dict[str, int] = {}
    # Exact distinct/duplicate stats only where a unique_value rule needs
    # them (plus HLL-screened low-cardinality columns, handled inside
    # profile): a mostly-unique text column must not shuffle one row per
    # distinct value for a stat no verdict consumes (VERDICT r1 #3).
    exact_cols = [fr.field_name for fr in rules
                  if fr.unique_value and fr.field_name in df.columns]
    # content fingerprint rides the profile scan (VERDICT r2 #3): only
    # needed when no Iceberg snapshot id supplies the content identity
    content: dict = {}
    with ThreadPoolExecutor(max_workers=5) as pool:
        f_prof = pool.submit(profile, df, out_distincts=distincts,
                             exact_unique_cols=exact_cols,
                             out_content=None if snapshot_id else content,
                             extra_aggs=cond_extras, out_extras=cond_raw)
        f_comp = pool.submit(_composites)
        f_ri = pool.submit(_referentials)
        if speculative:
            spec_specs = rule_specs(df.columns, rules, ignore_errors)
            violations = value_errors_df(df, spec_specs, key_cols)
            if violations is not None:
                # the overshoot filters and the conditional union below
                # only stack ON TOP of the persisted base, so the cache
                # stays valid;
                # MEMORY_AND_DISK spills rather than OOMs if violations
                # are pathologically numerous
                from pyspark import StorageLevel
                violations = violations.persist(StorageLevel.MEMORY_AND_DISK)
                persisted_base = violations
        observed = f_prof.result()
        f_comp.result()
        f_ri.result()
    for j, r in enumerate(cond_rules):
        conditional[r.name] = int(cond_raw.get(f"__cond_{j}") or 0)

    # content token: Iceberg snapshot when given, else the row-hash
    # fingerprint that rode the profile scan (zero extra jobs; a value
    # swap between rows that moves no column stat still changes it —
    # reference semantics: content md5, src/schema_validata.py:190-219).
    # Stats-hash only as a last-resort fallback.
    content_token = snapshot_id or content.get("token") or hashlib.md5(
        json.dumps(observed, sort_keys=True, default=str).encode()
    ).hexdigest()
    uid = f"{_dataset_md5(df, dataset_name, content_token)}_{_rules_md5(rules)}"

    schema_violations = verdicts_for(rules, observed, dataset_name)

    if list_errors and speculative:
        # the verdict-gated plan is a subset of the speculative one
        # (both come from rule_specs), so reconciling only drops rows of
        # checks the verdicts do not flag (reference quirks: allowed
        # values list only on String/Integer-like columns under 100
        # distinct values; range checks skip non-all-numeric columns)
        want = {(sp.column, sp.check) for sp in violation_plan_for(
            rules, schema_violations, df.columns, ignore_errors)}
        for sp in spec_specs:
            if (sp.column, sp.check) not in want:
                label = _check_condition(df, sp)[1]
                violations = violations.where(
                    ~((F.col("column_name") == sp.column)
                      & (F.col("error_type") == label)))

    if list_errors and not speculative:
        # exact distinct counts already measured by the profile — the uid
        # pick costs no extra scan
        lookup = get_best_uid_column(df, preferred_column=preferred,
                                     distinct_counts=distincts) \
            if (preferred or not key_cols) else None
        if not key_cols:
            key_cols = [lookup] if lookup else [df.columns[0]]
            lookup = None
        specs = violation_plan_for(rules, schema_violations, df.columns,
                                   ignore_errors)
        violations = value_errors_df(df, specs, key_cols, lookup_col=lookup)

    if list_errors and cond_rules and key_cols:
        # cross-column conditional rules ride the same violations frame
        # (identical schema); they are never verdict-gated — a triggered
        # rule always lists its rows
        from .operators.expectations import conditional_violations
        cond_df = conditional_violations(df, cond_rules, key_cols)
        if cond_df is not None:
            violations = (cond_df if violations is None
                          else violations.unionByName(cond_df))

    result = ValidationResult(
        uid=uid, dataset_name=dataset_name, observed_schema=observed,
        schema_violations=schema_violations, violations=violations,
        composite_uniqueness=composite, referential=referential,
        conditional=conditional,
        run_metadata={"schema_mapping": [
            {"dataset": dataset_name, "data_dict": rules.name}]},
        persisted_base=persisted_base,
    )
    if partition_col:
        result.partition_verdicts = partition_verdicts(
            df, rules, partition_col, dims=dims)
    if plan_budget is not None:
        from .plans.audit import assert_scalable
        for frame in (result.violations, result.partition_verdicts):
            if frame is not None:
                assert_scalable(frame, **plan_budget)
    return result


@dataclass
class MultiValidationResult:
    """Results of a multi-dataset run (reference: one validate_dataset
    call covering every sheet in the schema_mapping)."""

    uid: str
    results: dict[str, ValidationResult]
    schema_mapping: list[dict[str, str]]
    dropped_mappings: list[dict[str, str]] = field(default_factory=list)

    def passed(self) -> bool:
        return all(r.passed() for r in self.results.values())

    def unpersist(self) -> None:
        for r in self.results.values():
            r.unpersist()

    def report(self, max_value_errors: int | None = 100_000) -> dict:
        """ONE reference-shaped dict for the whole run: a single uid
        keyed entry whose ``results`` holds every dataset's section
        (reference assembles exactly this, src/schema_validata.py:
        2678-2700, with value_errors merged per sheet :2691-2700)."""
        merged: dict[str, Any] = {}
        for name, r in self.results.items():
            inner = r.report(max_value_errors)[r.uid]
            merged[name] = inner["results"][name]
        return {self.uid: {
            "run_metadata": {"schema_mapping": self.schema_mapping},
            "dataset_metadata": {n: {"dataset_name": n}
                                 for n in self.results},
            "data_dict_metadata": {
                n: {"rules_md5": r.uid.split("_")[1]}
                for n, r in self.results.items()},
            "results": merged,
        }}


def validate_datasets(spark: SparkSession,
                      datasets: dict[str, DataFrame],
                      data_dictionary: dict[str, Rules],
                      schema_mapping: list[dict[str, str]],
                      dims: dict[str, DataFrame] | None = None,
                      list_errors: bool = True,
                      ignore_errors: list[str] | None = None,
                      key_cols: dict[str, list[str]] | None = None,
                      ) -> MultiValidationResult:
    """Validate several datasets against their mapped data-dictionary
    sections in ONE run — the Spark analog of the reference's
    ``validate_dataset`` over a multi-sheet workbook + schema_mapping
    (src/schema_validata.py:2607-2712).

    Reference semantics preserved:

    * ``schema_mapping`` entries are ``{'dataset': name, 'data_dict':
      section}`` (:2086-2088);
    * mappings whose data-dictionary section does not exist are DROPPED
      with a warning, not an error (:2076-2082) — reported in
      ``dropped_mappings``;
    * the merged report carries one uid for the whole run and one
      results section per dataset (:2678-2700).

    Each mapped pair runs through :func:`validate`; the pairs run
    CONCURRENTLY (independent job DAGs — Spark's scheduler interleaves
    their stages, which matters when datasets are many and small).
    """
    import warnings
    from concurrent.futures import ThreadPoolExecutor

    active: list[dict[str, str]] = []
    dropped: list[dict[str, str]] = []
    for m in schema_mapping:
        if data_dictionary.get(m["data_dict"]) is None:
            warnings.warn(
                f'Authoritative schema not found for "{m["data_dict"]}". '
                f"Please check schema_mapping and update the data "
                f"dictionary if needed.")
            dropped.append(m)
        elif m["dataset"] not in datasets:
            raise KeyError(f'dataset "{m["dataset"]}" not supplied')
        else:
            active.append(m)

    def _one(m: dict[str, str]) -> tuple[str, ValidationResult]:
        name = m["dataset"]
        return name, validate(
            spark, datasets[name], data_dictionary[m["data_dict"]],
            dataset_name=name, dims=dims, list_errors=list_errors,
            ignore_errors=ignore_errors,
            key_cols=(key_cols or {}).get(name))

    results: dict[str, ValidationResult] = {}
    if active:
        with ThreadPoolExecutor(max_workers=min(4, len(active))) as pool:
            for name, res in pool.map(_one, active):
                results[name] = res

    ds_md5 = hashlib.md5("|".join(
        results[n].uid.split("_")[0] for n in sorted(results)).encode()
    ).hexdigest()
    dict_md5 = hashlib.md5("|".join(
        results[n].uid.split("_")[1] for n in sorted(results)).encode()
    ).hexdigest()
    return MultiValidationResult(
        uid=f"{ds_md5}_{dict_md5}", results=results,
        schema_mapping=active, dropped_mappings=dropped)


_REF_META_KEYS = {"created", "file_md5_hash", "file_name", "file_path",
                  "file_type", "modified"}


def validate_files(spark: SparkSession, dataset_path: str,
                   data_dict_path: str,
                   schema_mapping: list[dict[str, str]],
                   list_errors: bool = True,
                   out_dir: str | None = None,
                   out_name: str | None = None,
                   ignore_errors: list[str] | None = None,
                   max_value_errors: int | None = 100_000) -> dict:
    """DROP-IN file-path twin of the reference's ``validate_dataset``
    (src/schema_validata.py:2607-2712): same signature shape, same
    returned dict — ``{uid: {run_metadata, dataset_metadata,
    data_dict_metadata, results: {sheet: {schema_violations,
    value_errors}}}}`` with

    * ``uid = f"{dataset file_md5}_{data dict file_md5}"`` (:2680),
      reproduced byte-identically via the file-metadata twin;
    * dataset/data-dict metadata dicts with the reference's exact keys
      and string formatting (:253-266, filtered :2655-2659);
    * ``value_errors`` in the reference's columnar ``to_json`` shape
      (:2595-2602) with its exact column names — 'Sheet Row'
      (1-based + header, :2186), 'Error Type', 'Column Name',
      'Error Value' (native-typed per the source column), 'Lookup
      Column'/'Lookup Value' (best-uid, :2530-2532);
    * ``ignore_errors`` defaults to ``['allow_null']`` (:2615).

    DOCUMENTED DIVERGENCES (each deliberate): (1) value-error rows are
    emitted in deterministic (Sheet Row, Column Name, Error Type)
    order — the reference's order is its per-check append order;
    compare as multisets. (2) the two reference bugs fixed in
    ``operators/verdicts.py`` (bool-cast diff, zero-count KeyError)
    apply here too. (3) ``max_value_errors`` caps the driver collect
    (the reference has no cap).

    This is the authoring-scale entry (a CSV/workbook + an XLSX data
    dictionary); the 100-TB table path is :func:`validate` /
    ``validate_datasets`` over DataFrames."""
    import os
    from datetime import datetime, timezone
    from pyspark.sql import Window

    from .sources.readers import read_spreadsheet
    from .sources.tableio import get_spreadsheet_metadata

    ignore_errors = DEFAULT_IGNORE_ERRORS if ignore_errors is None \
        else ignore_errors
    cur_ts = datetime.now(timezone.utc).replace(tzinfo=None).isoformat()
    ds_meta = get_spreadsheet_metadata(dataset_path)
    dd_meta_all = get_spreadsheet_metadata(data_dict_path)
    dd_meta = {k: v for k, v in
               dd_meta_all[next(iter(dd_meta_all))].items()
               if k in _REF_META_KEYS}

    rules_all = Rules.from_xlsx(data_dict_path)

    # reference sheet keying: csv key = file base name (:774)
    datasets: dict[str, DataFrame] = {}
    types_by_ds: dict[str, dict[str, str]] = {}
    ext = os.path.splitext(dataset_path)[1].lower()
    for sheet in ds_meta:
        df = read_spreadsheet(spark, dataset_path,
                              sheet_name=None if ext == ".csv" else sheet)
        # 'Sheet Row' = data row ordinal + 2 (pandas idx+2, :2186).
        # File order: both the multiLine CSV read (one task) and the
        # workbook reader (driver rows) preserve it, so the partition-
        # ordered monotonic id ranks rows in file order. Authoring-
        # scale files only — the single-partition window is fine here.
        w = Window.orderBy(F.monotonically_increasing_id())
        datasets[sheet] = df.withColumn(
            "__sheet_row", F.row_number().over(w) + 1)
        types_by_ds[sheet] = {f.name: f.dataType.simpleString()
                              for f in df.schema.fields}

    multi = validate_datasets(
        spark, datasets, rules_all, schema_mapping,
        list_errors=list_errors, ignore_errors=ignore_errors,
        key_cols={name: ["__sheet_row"] for name in datasets})

    uid = (f"{ds_meta[next(iter(ds_meta))]['file_md5_hash']}"
           f"_{dd_meta['file_md5_hash']}")
    results: dict[str, dict] = {}
    for name, res in multi.results.items():
        section: dict = {"schema_violations": res.schema_violations}
        if list_errors and res.violations is not None:
            rows = (res.violations.limit(max_value_errors)
                    if max_value_errors is not None
                    else res.violations).collect()
            recs = []
            for r in rows:
                d = r.asDict()
                col = d.get("column_name")
                recs.append({
                    "Sheet Row": d.get("__sheet_row"),
                    "Error Type": d.get("error_type"),
                    "Column Name": col,
                    "Error Value": _native_value(
                        d.get("error_value"),
                        types_by_ds[name].get(col)),
                    "Lookup Column": d.get("lookup_column"),
                    "Lookup Value": _native_value(
                        d.get("lookup_value"),
                        types_by_ds[name].get(d.get("lookup_column"))),
                })
            recs.sort(key=lambda x: (x["Sheet Row"] is None,
                                     x["Sheet Row"],
                                     str(x["Column Name"]),
                                     str(x["Error Type"]),
                                     str(x["Error Value"])))
            cols = ["Sheet Row", "Error Type", "Column Name",
                    "Error Value", "Lookup Column", "Lookup Value"]
            section["value_errors"] = (
                {c: {str(i): rec[c] for i, rec in enumerate(recs)}
                 for c in cols} if recs else [])
        elif list_errors:
            section["value_errors"] = []
        results[name] = section
        res.unpersist()

    out = {uid: {
        "run_metadata": {"start_time": cur_ts,
                         "schema_mapping": schema_mapping},
        "dataset_metadata": ds_meta[next(iter(ds_meta))],
        "data_dict_metadata": dd_meta,
        "results": results,
    }}
    if bool(out_dir) and bool(out_name):
        os.makedirs(out_dir, exist_ok=True)
        path = os.path.join(out_dir, f"{out_name}_({uid}).json")
        with open(path, "w") as fh:
            fh.write(json.dumps(out, indent=4, sort_keys=True,
                                default=str))
    return out


def _native_value(v, dtype: str | None):
    """Reference value errors carry NATIVE cell values (row[col],
    src/schema_validata.py:2189); the engine's columnar union frame
    carries display strings. Restore by source-column dtype."""
    if v is None or dtype is None:
        return v
    try:
        if dtype in ("tinyint", "smallint", "int", "bigint"):
            return int(v)
        if dtype in ("float", "double") or dtype.startswith("decimal"):
            return float(v)
        if dtype == "boolean":
            return v if isinstance(v, bool) else v == "True"
    except (TypeError, ValueError):
        return v
    return v


def _partition_counts(df: DataFrame, rules: Rules, partition_col: str,
                      dims: dict[str, DataFrame] | None) -> DataFrame:
    """``(partition_key, n_rows, column_name, check, violation_count)``
    rows behind both partition verdicts; empty (typed) when no check
    applies.

    ONE ``groupBy(partition)`` aggregate carries ``count(*)``, every
    per-row check and conditional rule, and each foreign key's orphan
    count over a broadcast existence flag
    (``integrity.referential_exists``). Each composite key adds its
    salted duplicate chain, whose last aggregate also sums the
    partition's rows."""
    from .operators.violations import verdict_count_aggs, verdict_stack

    pkey = qcol(partition_col).cast("string").alias("partition_key")
    # every per-row check and conditional rule: one count expression
    # each in ONE per-partition aggregate
    aggs, names = verdict_count_aggs(df, rules)
    fact = df.alias("__fact")
    flags = []
    for fk_col, dim_name, dim_col in rules.foreign_keys:
        dim = (dims or {}).get(dim_name)
        if dim is None or fk_col not in df.columns:
            continue
        j = len(flags)
        flags.append(referential_exists("__fact", fk_col, dim, dim_col)
                     .alias(f"__ri{j}"))
        aggs.append(F.count(F.when(qcol(fk_col).isNotNull()
                                   & ~F.col(f"__ri{j}"), 1)).alias(f"ri{j}"))
        names.append((f"ri{j}", fk_col, "referential"))
    frames = []
    if names:   # zero aggs is an agg() error and stack(0,) is a parse error
        per_part = (fact.select("*", *flags).groupBy(pkey)
                        .agg(F.count(F.lit(1)).alias("n_rows"), *aggs)
                        .selectExpr("partition_key", "n_rows",
                                    verdict_stack(names)))
        # RI rows, like duplicate rows, exist only where the count is > 0
        frames.append(per_part.where((F.col("check") != "referential")
                                     | (F.col("violation_count") > 0)))
    for key in rules.composite_unique:
        if not all(k in df.columns for k in key):
            continue
        from .operators.uniqueness import adaptive_salt_width, _salt_col
        salt = _salt_col(adaptive_salt_width(df))
        # a composite key CONTAINING the partition column must not select
        # it twice (ambiguous reference)
        pk = [partition_col] + [k for k in key if k != partition_col]
        dup = (df.select(*[qcol(c) for c in pk], salt.alias("__s"))
                 .groupBy(*[qcol(c) for c in pk], "__s")
                 .agg(F.count(F.lit(1)).alias("__c"))
                 .groupBy(*[qcol(c) for c in pk])
                 .agg(F.sum("__c").alias("cnt"))
                 .groupBy(pkey)
                 .agg(F.sum("cnt").alias("n_rows"),
                      F.sum(F.when(F.col("cnt") > 1, F.col("cnt"))
                             .otherwise(0)).alias("violation_count"))
                 .where(F.col("violation_count") > 0)
                 .select("partition_key", "n_rows",
                         F.lit("+".join(key)).alias("column_name"),
                         F.lit("unique_value").alias("check"),
                         F.col("violation_count").cast("bigint")))
        frames.append(dup)
    if not frames:
        # rules with NO per-row, uniqueness, or RI checks applicable to
        # this frame: a well-typed empty verdict set, not a crash
        return df.sparkSession.createDataFrame(
            [], "partition_key string, n_rows bigint, column_name string,"
                " check string, violation_count bigint")
    out = frames[0]
    for f2 in frames[1:]:
        out = out.unionByName(f2)
    return out


def partition_verdicts(df: DataFrame, rules: Rules, partition_col: str,
                       dims: dict[str, DataFrame] | None = None) -> DataFrame:
    """Per-partition pass/fail verdicts. Output:
    ``(partition_key, column_name, check, violation_count, status)``.

    Every per-row check and conditional rule has a row for every
    partition, passing or not. ``unique_value`` and ``referential`` rows
    appear only for partitions whose count is above 0, so a missing row
    means pass. The NULL partition is a NULL ``partition_key``.

    SCALE: ONE ``groupBy(partition)`` aggregate counts every per-row
    check and each foreign key's orphans (a broadcast ``ExistenceJoin``
    flag on the same scan, no anti-join); each composite key adds one
    salted duplicate chain, a second scan. For the transcripts fixture
    a batch is 6 jobs: dimension broadcast 1, per-partition aggregate 1,
    duplicate chain 3, result 1.
    """
    counts = _partition_counts(df, rules, partition_col, dims)
    return counts.drop("n_rows").withColumn(
        "status", F.when(F.col("violation_count") > 0, F.lit("fail"))
                   .otherwise(F.lit("pass")))


def partition_rate_verdicts(df: DataFrame, rules: Rules, partition_col: str,
                            budgets: dict[tuple[str, str], float], *,
                            dims: dict[str, DataFrame] | None = None,
                            default_budget: float = 0.0) -> DataFrame:
    """Per-partition verdicts with ERROR BUDGETS: ``partition_verdicts``'
    counts re-judged as violation RATES against per-(column, check)
    budgets — the north-rule per-partition gate with production
    tolerance semantics ('a partition may carry ≤0.1% bad values before
    it fails') instead of the reference's any-violation-fails. A huge
    partition no longer fails on the same absolute count a tiny one
    shrugs off.

    ``budgets`` maps (column_name, check) → max tolerated fraction of
    the PARTITION's rows; checks not listed get ``default_budget``
    (0.0 = strict, identical verdicts to ``partition_verdicts``).
    Output adds (n_rows, rate, budget) and ``status`` becomes the
    budget comparison (rate 6dp-pinned for display, compared unrounded).

    SCALE: the same scans and jobs as ``partition_verdicts``: ``n_rows``
    rides its per-partition aggregate (and the duplicate chain's last
    aggregate), so there is no totals scan or join; budgets are one
    ``when`` chain (``rate_status``).
    """
    counts = _partition_counts(df, rules, partition_col, dims)
    return rate_status(counts, budgets, default_budget).select(
        "partition_key", "column_name", "check", "violation_count",
        "n_rows", "rate", "budget", "status")


def validate_partitioned(spark: SparkSession, df: DataFrame, rules: Rules,
                         partition_col: str, manifest_path: str,
                         run_id: str | None = None,
                         dims: dict[str, DataFrame] | None = None,
                         batch_size: int = 64,
                         snapshot_id: str | None = None,
                         verify_content: bool = True,
                         sketch_cols: list[str] | None = None,
                         sketch_path: str | None = None) -> DataFrame:
    """Resumable partition-granular validation (north_rule): partitions
    whose manifest row is 'done' AND whose recorded input identity still
    matches the current input are skipped; each processed batch commits
    per-partition metrics + identity. Returns the combined
    partition-verdicts DataFrame for THIS run's newly processed
    partitions plus previously completed ones re-read from the manifest
    metrics.

    Input identity (stale-resume guard — reference analog: content-md5
    uid, src/schema_validata.py:190-219, :2681):

    * ``snapshot_id`` given (Iceberg): metadata-only — a partition is
      current iff it completed under the SAME table snapshot. The
      snapshot moved → fall back to content fingerprints (below) so only
      actually-changed partitions recompute.
    * otherwise, ``verify_content=True`` (default): one aggregate scan
      computes a per-partition content fingerprint (xxhash64 row-struct
      summaries); a done partition with a different fingerprint — the
      data changed since it was validated — is recomputed, never reused.
    * ``verify_content=False``: trust the manifest (round-1 behavior;
      for immutable inputs where the extra scan is unwanted).

    Partition pruning: each batch filters ``partition_col isin(batch)``,
    which prunes at the Parquet/Iceberg scan level.

    ``sketch_cols``: columns whose table-LEVEL distinct counts should
    stay incrementally maintainable across resumes. Per-partition
    verdicts resume for free (they are partition-local), but distinct
    values straddle partitions — so for each named column this run
    keeps a per-partition HLL sketch table at ``sketch_path`` (default
    ``manifest_path + "_sketches"``): partitions this run skipped reuse
    their CACHED sketch rows byte-for-byte (their data is never
    rescanned), recomputed/never-sketched partitions are sketched from
    the pruned scan, and ``operators.sketches.union_estimates`` over
    the saved frame yields current table-level distinct estimates at
    metadata cost. See operators/sketches.py for the accuracy contract
    (exact in the sparse regime, ~1–2% above).

    Jobs for the transcripts fixture with content verification (no
    sketches):

      1. manifest read  — 1 job: one shuffle-free read of the latest
                          done row per partition (``Manifest.latest``)
      2. fingerprints   — 2 jobs: per-partition content aggregate
      3. per batch      — 6 jobs (``partition_verdicts``) + 1 commit
      4. result         — 1 job when the caller collects the frame

    A no-op rerun is 4 jobs; a resume with one changed batch is 11.
    ``batch_size`` below 1 raises ``ValueError`` before any job runs.
    """
    if batch_size < 1:
        raise ValueError(f"batch_size must be at least 1, got {batch_size}")
    run_id = run_id or f"{_dataset_md5(df, 'partitioned')}_{_rules_md5(rules)}"
    manifest = Manifest(spark, manifest_path)
    # the run's only manifest read: the skip test, the heal and the
    # reconstruct loop below all consult pre-run rows (the batch loop's
    # new rows are for todo partitions, which the reconstruct loop skips)
    prior = manifest.latest(run_id)
    done_ids = {p: ident for p, (ident, _) in prior.items()}

    # identity tokens: 'snap:S' (fast path, metadata only),
    # 'fp:n:hx:hs' (content fingerprint), or 'snap:S;fp:...' (both —
    # written on the snapshot-moved fallback so the NEXT run under the
    # same snapshot regains the metadata-only fast path)
    def _fp_part(v: str | None) -> str | None:
        if v and "fp:" in v:
            return v[v.index("fp:"):]
        return None

    def _snap_part(v: str | None) -> str | None:
        return v.split(";", 1)[0] if v and v.startswith("snap:") else None

    def _matches(old: str | None, new: str | None) -> bool:
        # callers guard "never completed" with `p not in done_ids`, so
        # old may legitimately be None here (trust-the-manifest mode
        # stores None identities) and None == None IS a match
        if old == new:
            return True
        if old is None or new is None:
            return False
        # when BOTH sides carry a fingerprint it is authoritative — a
        # contradicting fp means the content changed no matter what the
        # snapshot prefix claims (same-id misuse must not reuse stale
        # verdicts)
        of, nf = _fp_part(old), _fp_part(new)
        if of is not None and nf is not None:
            return of == nf
        # otherwise same snapshot id ⇒ unchanged content, whatever
        # extra parts one token carries ('snap:S;fp:X' vs bare
        # 'snap:S' — the fast path emits the bare form right after a
        # heal wrote the combined one)
        so, sn = _snap_part(old), _snap_part(new)
        return so is not None and so == sn

    snap_token = f"snap:{snapshot_id}" if snapshot_id is not None else None
    if snap_token is not None and (not done_ids or
                                   all(_snap_part(v) == snap_token
                                       for v in done_ids.values())):
        # same snapshot (or fresh run): partition list only, no data read
        current = {p: snap_token
                   for p in _partition_keys(df, partition_col)}
    elif verify_content or snap_token is not None:
        fps = partition_fingerprints(df, partition_col)
        current = {p: (f"{snap_token};{fp}" if snap_token else fp)
                   for p, fp in fps.items()}
    else:
        current = {p: done_ids.get(p)  # always "matches"
                   for p in _partition_keys(df, partition_col)}
    parts = list(current)
    # the NULL partition (key None) sorts first
    todo = sorted((p for p in parts
                   if p not in done_ids
                   or not _matches(done_ids[p], current[p])),
                  key=lambda p: (p is not None, p or ""))

    # heal identities of SKIPPED partitions whose stored token is less
    # current than the computed one (bare fp / old snapshot prefix /
    # bare snap when a fingerprint is now known): re-record under the
    # current token, reusing stored metrics, so the metadata-only fast
    # path works again on the next run instead of re-scanning forever.
    # Never heal DOWN — overwriting 'snap:S;fp:X' with the fast path's
    # bare 'snap:S' would discard the fingerprint that lets the NEXT
    # snapshot move skip unchanged partitions, and overwriting it with
    # a snapshot-less run's bare 'fp:X' would discard the snapshot
    # prefix that lets the next SAME-snapshot run take the
    # metadata-only fast path.
    todo_set = set(todo)
    stale_form = [p for p in parts
                  if p not in todo_set and p in done_ids
                  and current.get(p) is not None
                  and current[p] != done_ids[p]
                  and not (_fp_part(done_ids[p]) is not None
                           and _fp_part(current[p]) is None)
                  and not (_snap_part(done_ids[p]) is not None
                           and _snap_part(current[p]) is None)]
    if stale_form:
        manifest.mark_done_many(run_id, [
            (p, prior[p][1], None, 0.0, current[p])
            for p in stale_form])

    all_rows: list[tuple] = []
    for i in range(0, len(todo), batch_size):
        batch = todo[i:i + batch_size]
        t0 = timed()
        sub = df.where(_in_partitions(partition_col, batch))
        pv = partition_verdicts(sub, rules, partition_col, dims=dims)
        rows = pv.collect()
        wall = timed() - t0
        by_part: dict[str | None, list] = {p: [] for p in batch}
        for r in rows:
            by_part.setdefault(r["partition_key"], []).append(
                (r["column_name"], r["check"], r["violation_count"], r["status"]))
        manifest.mark_done_many(run_id, [
            (p, {"checks": by_part.get(p, [])}, None,
             wall / max(1, len(batch)), current.get(p))
            for p in batch])
        # the NULL partition is NULL everywhere (output rows, manifest,
        # reconstructed resume rows), never the string 'None'
        all_rows.extend(
            (r["partition_key"], r["column_name"], r["check"],
             r["violation_count"], r["status"]) for r in rows)

    # previously completed, still-current partitions: reconstruct verdict
    # rows from the pre-run manifest read (todo partitions — the only
    # rows written since — are skipped here)
    for p, (_, m) in prior.items():
        if p in todo_set or p not in current:
            continue
        for col, chk, cnt, status in m.get("checks", []):
            all_rows.append((p, col, chk, int(cnt), status))

    if sketch_cols:
        _maintain_sketches(
            spark, df, partition_col, sketch_cols,
            sketch_path or manifest_path.rstrip("/") + "_sketches",
            todo_set, set(parts))

    from pyspark.sql import types as T
    schema = T.StructType([
        T.StructField("partition_key", T.StringType()),
        T.StructField("column_name", T.StringType()),
        T.StructField("check", T.StringType()),
        T.StructField("violation_count", T.LongType()),
        T.StructField("status", T.StringType()),
    ])
    return spark.createDataFrame(all_rows, schema)


def _maintain_sketches(spark: SparkSession, df: DataFrame,
                       partition_col: str, sketch_cols: list[str],
                       path: str, todo_set: set[str | None],
                       all_parts: set[str | None]) -> None:
    """Refresh the per-partition HLL sketch table beside the manifest:
    cached rows are REUSED byte-for-byte for partitions this run
    skipped (no data rescan), and a single pruned scan re-sketches the
    union of (a) recomputed partitions and (b) kept partitions with no
    complete cached cover (first sketched run, or ``sketch_cols``
    grew). Rows for partitions no longer in the input are dropped
    (latest-wins, like the manifest heal).

    The frame is metadata-sized ((#partitions × #cols) rows of ≤ ~2^lg_k
    bytes), so it round-trips through the driver — which is also what
    makes the overwrite safe: the old file is fully read before the
    rewrite."""
    from .operators.sketches import SKETCH_SCHEMA, partition_sketches

    colset = set(sketch_cols)
    keep = all_parts - todo_set
    cached_rows: list = []
    covered: set[str | None] = set()
    if Manifest(spark, path)._exists():
        rows = [r for r in spark.read.parquet(path).collect()
                if r["partition_key"] in keep
                and r["column_name"] in colset]
        cover: dict[str | None, set] = {}
        for r in rows:
            cover.setdefault(r["partition_key"], set()).add(r["column_name"])
        covered = {p for p, cs in cover.items() if cs >= colset}
        cached_rows = [r for r in rows if r["partition_key"] in covered]
    recompute = all_parts - covered
    fresh_rows: list = []
    if recompute:
        sub = df.where(_in_partitions(partition_col, recompute))
        fresh_rows = partition_sketches(sub, sketch_cols,
                                        partition_col).collect()
    data = [(r["partition_key"], r["column_name"], r["sketch"],
             r["n_rows"]) for r in cached_rows + fresh_rows]
    (spark.createDataFrame(data, SKETCH_SCHEMA)
          .write.mode("overwrite").parquet(path))


def verdict_flips(before: DataFrame, after: DataFrame) -> DataFrame:
    """Which per-partition verdicts CHANGED between two runs? The
    release-diff over any two verdict frames (``partition_verdicts``,
    ``partition_rate_verdicts``, or a manifest replay): "did the new
    export regress a partition, did the budget change fix one, did a
    check appear or vanish" — the question an on-call reads before
    the row-level listings.

    Inputs need ``(partition_key, column_name, check, status,
    violation_count)``; extra columns are ignored. Output: one row
    per (partition, column, check) whose status DIFFERS —
    ``status_before/status_after, count_before/count_after`` and
    ``flip`` in {regressed (pass→fail), fixed (fail→pass),
    new_check (absent before), removed_check (absent after)}.
    Identical verdicts emit nothing (empty diff = clean release).

    NULL partition keys join null-safely (a NULL partition's verdict
    is diffable like any other).

    SCALE: both inputs are verdict frames — #partitions × #checks
    rows, already thousands of times smaller than the data — so the
    full-outer join is trivially AQE-broadcastable; nothing here ever
    touches raw rows."""
    def _side(df: DataFrame, tag: str) -> DataFrame:
        return df.select(
            F.col("partition_key").alias(f"__pk_{tag}"),
            F.col("column_name").alias(f"__c_{tag}"),
            F.col("check").alias(f"__k_{tag}"),
            F.col("status").alias(f"status_{tag}"),
            F.col("violation_count").cast("bigint").alias(f"count_{tag}"))

    b, a = _side(before, "before"), _side(after, "after")
    cond = (b["__pk_before"].eqNullSafe(a["__pk_after"])
            & b["__c_before"].eqNullSafe(a["__c_after"])
            & b["__k_before"].eqNullSafe(a["__k_after"]))
    j = b.join(a, cond, "full_outer")
    flip = (F.when(F.col("status_before").isNull(), F.lit("new_check"))
             .when(F.col("status_after").isNull(), F.lit("removed_check"))
             .when((F.col("status_before") == "pass")
                   & (F.col("status_after") == "fail"), F.lit("regressed"))
             .when((F.col("status_before") == "fail")
                   & (F.col("status_after") == "pass"), F.lit("fixed")))
    return (j.where(~F.col("status_before").eqNullSafe(
                        F.col("status_after")))
             .select(F.coalesce("__pk_before", "__pk_after")
                      .alias("partition_key"),
                     F.coalesce("__c_before", "__c_after")
                      .alias("column_name"),
                     F.coalesce("__k_before", "__k_after").alias("check"),
                     "status_before", "status_after",
                     "count_before", "count_after",
                     flip.alias("flip")))
