"""Data-quality expectations beyond per-column schema rules: cross-column
conditional rules, table-level aggregate expectations, freshness /
completeness checks, robust (IQR) outlier stats, trend screens and
cross-partition format (value-mask) stability.

The reference validates one column at a time against a data dictionary
(src/schema_validata.py:2045-2154); a production pipeline layer also
needs row predicates that SPAN columns ("when role='tool', tool must be
set"), dataset-level contracts ("at least N rows, null fraction below
x"), and arrival-completeness checks over the event-time column. These
have no reference counterpart — they are engine-level additions in the
same spirit as the north_rule's uniqueness/RI/drift checks.

Scale design:

* conditional rules are pure Column predicates compiled from SQL
  fragments — they ride the SAME single column-pruned scan pattern as
  ``value_errors_df`` (array-of-structs → explode), whole-stage codegen,
  no Python in the row path;
* expectation checks are ONE global aggregate (partial+final, no
  shuffle beyond the final combine) + a constant-width stack;
* freshness/completeness aggregate once per time bucket (map-side
  combine collapses each bucket's rows), then operate on the tiny
  bucket frame — the dense-range expansion and anti-join never touch
  row data;
* outlier fences use ``percentile_approx`` by default (single pass,
  mergeable sketch); ``exact=True`` switches to exact ``percentile``
  for oracle parity at test scale.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, functions as F

from ..functions.colref import qcol

# error-type label prefix for conditional-rule violations, following the
# reference's human-readable label style (config.ERROR_TYPE_LABELS)
CONDITIONAL_ERROR_PREFIX = "Conditional Rule Failed:"


@dataclass(frozen=True)
class ConditionalRule:
    """IF ``when_sql`` holds for a row THEN ``then_sql`` must hold.

    Both are boolean SQL fragments over the row's columns (compiled via
    ``F.expr`` — rules are authored configuration, like the reference's
    regex_pattern cells). A NULL ``when`` never triggers the rule; a
    NULL ``then`` on a triggered row is a violation (the guarantee is
    "then holds", and NULL is not 'holds').
    """

    name: str
    when_sql: str
    then_sql: str


@dataclass(frozen=True)
class Expectation:
    """A dataset-level contract: ``agg_sql`` (an aggregate SQL
    expression producing one number) compared against ``threshold``
    with ``op`` (one of <=, >=, <, >, ==, !=)."""

    name: str
    agg_sql: str
    op: str
    threshold: float

    def __post_init__(self):
        if self.op not in ("<=", ">=", "<", ">", "==", "!="):
            raise ValueError(f"bad op {self.op!r}")
        import math
        if not math.isfinite(float(self.threshold)):
            # a non-finite literal would render as an unquoted 'inf'/
            # 'nan' identifier in the generated stack() SQL
            raise ValueError(f"threshold must be finite, got {self.threshold}")


def conditional_violation_expr(rule: ConditionalRule) -> Column:
    """Boolean Column: row triggers ``when`` but fails ``then``."""
    when_c = F.coalesce(F.expr(rule.when_sql), F.lit(False))
    then_c = F.coalesce(F.expr(rule.then_sql), F.lit(False))
    return when_c & ~then_c


def _referenced_columns(df: DataFrame,
                        rules: list[ConditionalRule]) -> list[str] | None:
    """Columns of ``df`` referenced by the rules' SQL fragments, via a
    conservative whole-word text match (a false positive only widens the
    projection; a parse-level reference can never be missed because any
    identifier must appear verbatim or backtick-quoted in the text).
    Returns None when a fragment uses ``*`` (keep every column)."""
    import re
    blob = " ".join(f"{r.when_sql} {r.then_sql}" for r in rules)
    if "*" in blob:
        return None
    out = []
    for c in df.columns:
        if re.search(r"(?<![\w`])" + re.escape(c) + r"(?![\w`])", blob) \
                or f"`{c}`" in blob:
            out.append(c)
    return out


def conditional_violations(df: DataFrame, rules: list[ConditionalRule],
                           key_cols: list[str]) -> DataFrame | None:
    """Row-level violation listing for conditional rules — ONE scan for
    all rules via the array-of-structs → explode pattern (same shape as
    operators.violations.value_errors_df so the frames union cleanly):
    ``[*key_cols, error_type, column_name, error_value, lookup_column,
    lookup_value]`` with column_name = rule name.

    The scan is COLUMN-PRUNED to the rule-referenced columns + keys (a
    transcript table's ``text`` column must not be read to check a
    role/tool implication)."""
    if not rules:
        return None
    refd = _referenced_columns(df, rules)
    if refd is not None:
        needed = set(refd) | set(key_cols)
        df = df.select(*[qcol(c) for c in df.columns if c in needed])
    from .violations import row_check_hits
    hits = row_check_hits(df, [], [qcol(k) for k in key_cols], rules)
    return hits.select(
        *[qcol(k) for k in key_cols],
        "error_type", "column_name", "error_value",
        F.lit(None).cast("string").alias("lookup_column"),
        F.lit(None).cast("string").alias("lookup_value"))


def conditional_counts(df: DataFrame, rules: list[ConditionalRule],
                       partition_col: str | None = None) -> DataFrame:
    """(rule_name, violation_count, status) — optionally per partition.
    One aggregate for ALL rules (each rule is one conditional count
    expression; map-side partial aggregation collapses everything)."""
    aggs = [F.count(F.when(conditional_violation_expr(r), 1))
            .alias(f"c{i}") for i, r in enumerate(rules)]
    names = [(f"c{i}", r.name) for i, r in enumerate(rules)]
    if partition_col is not None:
        agged = df.groupBy(qcol(partition_col).cast("string")
                           .alias("partition_key")).agg(*aggs)
        lead = ["partition_key"]
    else:
        agged = df.agg(*aggs)
        lead = []
    stack = ", ".join(
        "'{}', cast(`{}` as bigint)".format(nm.replace("'", "''"), a)
        for a, nm in names)
    out = agged.selectExpr(
        *lead, f"stack({len(names)}, {stack}) as (rule_name, violation_count)")
    return out.withColumn(
        "status", F.when(F.col("violation_count") > 0, F.lit("fail"))
                   .otherwise(F.lit("pass")))


def check_expectations(df: DataFrame,
                       exps: list[Expectation]) -> DataFrame:
    """Evaluate dataset-level expectations in ONE aggregate job.
    Returns ``(expectation, observed, op, threshold, status)``; a NULL
    observed value (e.g. max() of an empty set) fails the expectation.
    """
    if not exps:
        raise ValueError("no expectations given")
    aggs = [F.expr(e.agg_sql).cast("double").alias(f"e{i}")
            for i, e in enumerate(exps)]
    agged = df.agg(*aggs)
    stack = ", ".join(
        "'{}', `e{}`, '{}', cast({} as double)".format(
            e.name.replace("'", "''"), i, e.op, repr(float(e.threshold)))
        for i, e in enumerate(exps))
    out = agged.selectExpr(
        f"stack({len(exps)}, {stack})"
        " as (expectation, observed, op, threshold)")
    passed = (F.when(F.col("op") == "<=", F.col("observed") <= F.col("threshold"))
               .when(F.col("op") == ">=", F.col("observed") >= F.col("threshold"))
               .when(F.col("op") == "<", F.col("observed") < F.col("threshold"))
               .when(F.col("op") == ">", F.col("observed") > F.col("threshold"))
               .when(F.col("op") == "==", F.col("observed") == F.col("threshold"))
               .otherwise(F.col("observed") != F.col("threshold")))
    return out.withColumn(
        "status", F.when(F.coalesce(passed, F.lit(False)), F.lit("pass"))
                   .otherwise(F.lit("fail")))


def check_group_expectations(df: DataFrame, group_cols: list[str],
                             exps: list[Expectation],
                             failures_only: bool = True) -> DataFrame:
    """Per-GROUP expectations — the conversation-level contract check
    (max turns per conversation, bounded tool-call share, time-span
    caps) as ONE ``groupBy`` aggregate evaluating every expectation for
    every group simultaneously. Returns ``(*group_cols, expectation,
    observed, op, threshold, status)``; by default only failing rows
    (violations-sized output — at 10^12 turns the pass rows are the
    corpus, the failures are the report). NULL observed (empty/all-NULL
    aggregate input) fails, same contract as ``check_expectations``.

    SCALE: one hash aggregate on the group key (partial aggs collapse
    map-side; skewed groups ride on AQE) + a stack pivot of the tiny
    expectation alphabet. No window, no join, no second scan."""
    if not exps:
        raise ValueError("no expectations given")
    aggs = [F.expr(e.agg_sql).cast("double").alias(f"e{i}")
            for i, e in enumerate(exps)]
    agged = df.groupBy(*[F.col(c) for c in group_cols]).agg(*aggs)
    stack = ", ".join(
        "'{}', `e{}`, '{}', cast({} as double)".format(
            e.name.replace("'", "''"), i, e.op, repr(float(e.threshold)))
        for i, e in enumerate(exps))
    out = agged.selectExpr(
        *[f"`{c}`" for c in group_cols],
        f"stack({len(exps)}, {stack})"
        " as (expectation, observed, op, threshold)")
    passed = (F.when(F.col("op") == "<=", F.col("observed") <= F.col("threshold"))
               .when(F.col("op") == ">=", F.col("observed") >= F.col("threshold"))
               .when(F.col("op") == "<", F.col("observed") < F.col("threshold"))
               .when(F.col("op") == ">", F.col("observed") > F.col("threshold"))
               .when(F.col("op") == "==", F.col("observed") == F.col("threshold"))
               .otherwise(F.col("observed") != F.col("threshold")))
    out = out.withColumn(
        "status", F.when(F.coalesce(passed, F.lit(False)), F.lit("pass"))
                   .otherwise(F.lit("fail")))
    return out.where(F.col("status") == "fail") if failures_only else out


def derived_mismatches(df: DataFrame, id_col: str, stored_col: str,
                       derived: Column,
                       derived_name: str = "recomputed") -> DataFrame:
    """Rows whose STORED derived column disagrees with the value
    recomputed from its source columns (e.g. an ingest-time
    ``n_chars`` vs ``length(text)``, a cached token count vs the
    tokenizer) — the cross-field consistency check that catches stale
    materialized columns after a backfill or a tokenizer change.

    Comparison is null-safe: a NULL stored value against a non-NULL
    recomputation (or vice versa) IS a mismatch; NULL vs NULL is
    consistent. Output: id, stored value, recomputed value — the
    violating rows only.

    SCALE: map-only — the recomputation and the null-safe compare both
    evaluate inside the scan projection; no shuffle, no UDF, output is
    violation-sized."""
    stored = F.col(stored_col)
    return (df.withColumn(derived_name, derived)
              .where(~stored.eqNullSafe(F.col(derived_name)))
              .select(F.col(id_col), stored.alias("stored"),
                      F.col(derived_name).alias(derived_name)))


_GRAN_INTERVAL = {"hour": "interval 1 hour", "day": "interval 1 day",
                  "week": "interval 7 days", "month": "interval 1 month",
                  "minute": "interval 1 minute"}


def freshness_stats(df: DataFrame, ts_col: str,
                    granularity: str = "day") -> DataFrame:
    """Per-time-bucket arrival stats: ``(bucket, row_count, bucket_max_ts,
    lag_seconds)`` where lag is measured against the GLOBAL max event
    time. ONE scan of the data (the global max re-aggregates the tiny
    bucket frame, which is then broadcast back onto it)."""
    if granularity not in _GRAN_INTERVAL:
        raise ValueError(f"granularity {granularity!r} not supported")
    bucket = F.date_trunc(granularity, qcol(ts_col))
    per = (df.where(qcol(ts_col).isNotNull())
             .groupBy(bucket.alias("bucket"))
             .agg(F.count(F.lit(1)).alias("row_count"),
                  F.max(qcol(ts_col)).alias("bucket_max_ts")))
    glob = per.agg(F.max("bucket_max_ts").alias("__gmax"))
    return (per.crossJoin(F.broadcast(glob))
               .select("bucket", "row_count", "bucket_max_ts",
                       (F.unix_timestamp("__gmax")
                        - F.unix_timestamp("bucket_max_ts"))
                       .cast("bigint").alias("lag_seconds")))


def completeness_gaps(df: DataFrame, ts_col: str,
                      granularity: str = "hour") -> DataFrame:
    """Time buckets with ZERO rows between the observed min and max
    bucket — arrival-completeness holes. The dense range expands from a
    1-row aggregate (``sequence`` + ``explode``), then a left-anti join
    against the (small) observed-bucket frame; row data is scanned
    exactly once for the bucket aggregate."""
    if granularity not in _GRAN_INTERVAL:
        raise ValueError(f"granularity {granularity!r} not supported")
    bucket = F.date_trunc(granularity, qcol(ts_col))
    # explicit bucket.isNotNull() + an __n-referencing min/max keep the
    # two consumers' scan→partial-agg→Exchange subtrees byte-identical,
    # so the row data is scanned ONCE (ReusedExchange) — same shape as
    # volume_autocorrelation
    obs = (df.where(qcol(ts_col).isNotNull() & bucket.isNotNull())
             .groupBy(bucket.alias("bucket"))
             .agg(F.count(F.lit(1)).alias("n")))
    guard = F.when(F.col("n") > 0, F.col("bucket"))
    rng = (obs.agg(F.min(guard).alias("lo"), F.max(guard).alias("hi"))
              .where(F.col("lo").isNotNull())
              .select(F.explode(F.expr(
                  f"sequence(lo, hi, {_GRAN_INTERVAL[granularity]})"))
                  .alias("bucket")))
    # the always-true n >= 1 conjunct keeps `n` alive on the anti-join
    # side so its aggregate stays identical to rng's (exchange reuse)
    o = obs.select(F.col("bucket").alias("__ob"), "n")
    return (rng.join(o, (F.col("bucket") == F.col("__ob"))
                     & (F.col("n") >= 1), "left_anti")
               .select("bucket"))


def iqr_outlier_stats(df: DataFrame, cols: list[str], k: float = 1.5,
                      exact: bool = False) -> DataFrame:
    """Tukey-fence outlier stats per numeric column:
    ``(column_name, q1, q3, fence_lo, fence_hi, n_outliers)``.

    Two aggregate scans: quantiles, then fence counts (fences are four
    scalars per column — computed on the driver between the jobs).
    Default ``exact=False`` uses ``percentile_approx`` (single-pass
    mergeable sketch — the 100 TB path); ``exact=True`` uses exact
    ``percentile`` for oracle-parity testing (global sort per column —
    test-scale only)."""
    if not cols:
        raise ValueError("no columns given")
    fn = "percentile" if exact else "percentile_approx"
    q_aggs = []
    for i, c in enumerate(cols):
        expr = f"cast({_q(c)} as double)"
        q_aggs.append(F.expr(f"{fn}({expr}, 0.25)").alias(f"q1_{i}"))
        q_aggs.append(F.expr(f"{fn}({expr}, 0.75)").alias(f"q3_{i}"))
    qrow = df.agg(*q_aggs).first()
    c_aggs, meta = [], []
    import math
    for i, c in enumerate(cols):
        q1, q3 = qrow[f"q1_{i}"], qrow[f"q3_{i}"]
        # a NaN quantile (≥25% NaN values — NaN sorts above every
        # double) would render as an unquoted 'nan' identifier in the
        # stack() SQL; report the column as unmeasurable instead
        if q1 is not None and not math.isfinite(q1):
            q1 = None
        if q3 is not None and not math.isfinite(q3):
            q3 = None
        if q1 is None or q3 is None:
            meta.append((c, None, None, None, None))
            c_aggs.append(F.lit(0).alias(f"n_{i}"))
            continue
        lo, hi = q1 - k * (q3 - q1), q3 + k * (q3 - q1)
        d = qcol(c).cast("double")
        c_aggs.append(F.count(F.when(
            ~F.isnan(d) & ((d < F.lit(lo)) | (d > F.lit(hi))), 1))
            .alias(f"n_{i}"))
        meta.append((c, float(q1), float(q3), float(lo), float(hi)))
    counted = df.agg(*c_aggs)
    stack = ", ".join(
        "'{}', cast({} as double), cast({} as double), cast({} as double),"
        " cast({} as double), cast(`n_{}` as bigint)".format(
            c.replace("'", "''"),
            "NULL" if q1 is None else repr(q1),
            "NULL" if q3 is None else repr(q3),
            "NULL" if lo is None else repr(lo),
            "NULL" if hi is None else repr(hi), i)
        for i, (c, q1, q3, lo, hi) in enumerate(meta))
    return counted.selectExpr(
        f"stack({len(meta)}, {stack})"
        " as (column_name, q1, q3, fence_lo, fence_hi, n_outliers)")


def volume_anomalies(df: DataFrame, ts_col: str,
                     granularity: str = "day", k: float = 5.0) -> DataFrame:
    """Per-time-bucket row-volume anomaly detection via the robust
    median + MAD screen: ``(bucket, row_count, median_count, mad,
    deviation, is_anomaly)`` where deviation = |n − median| / max(MAD, 1)
    and is_anomaly ⇔ deviation > k.

    One scan of the data produces the bucket-count frame; the median and
    MAD re-aggregate that TINY frame (one row per bucket) and broadcast
    back onto it — no second pass over row data, no driver collect.
    MAD (not stddev) so a single huge spike does not inflate the scale
    estimate and mask itself."""
    if granularity not in _GRAN_INTERVAL:
        raise ValueError(f"granularity {granularity!r} not supported")
    bucket = F.date_trunc(granularity, qcol(ts_col))
    per = (df.where(qcol(ts_col).isNotNull())
             .groupBy(bucket.alias("bucket"))
             .agg(F.count(F.lit(1)).alias("row_count")))
    med = per.agg(F.expr(
        "percentile(row_count, 0.5)").alias("median_count"))
    j = per.crossJoin(F.broadcast(med))
    mad = j.agg(F.expr(
        "percentile(abs(row_count - median_count), 0.5)").alias("mad"))
    dev = (F.abs(F.col("row_count") - F.col("median_count"))
           / F.greatest(F.col("mad"), F.lit(1.0)))
    return (j.crossJoin(F.broadcast(mad))
             .select("bucket", "row_count", "median_count", "mad",
                     dev.alias("deviation"),
                     (dev > F.lit(float(k))).alias("is_anomaly")))


def _q(c: str) -> str:
    """Backtick-quote a column name for embedding in a SQL fragment."""
    return "`" + c.replace("`", "``") + "`"


def seasonal_volume_anomalies(df: DataFrame, ts_col: str,
                              granularity: str = "day",
                              k: float = 3.0) -> DataFrame:
    """Seasonality-aware volume anomaly screen: ``volume_anomalies``
    compares every bucket against ONE global median, so a weekly
    corpus (quiet weekends, busy Mondays) flags every Sunday forever
    and a genuinely broken Monday hides inside the global spread.
    This variant groups buckets by day-of-week and scores each bucket
    against ITS weekday's median + MAD — 'is this Monday normal for a
    Monday'.

    Output per bucket: bucket, dow (0 = Monday … 6 = Sunday),
    row_count, dow_median, dow_mad, deviation
    (|n − median| / max(MAD, 1), 6dp), is_anomaly (deviation > k).
    Weekdays observed once have MAD 0 — the max(MAD, 1) floor keeps
    them sane rather than division-by-zero dramatic.

    SCALE: one scan produces the bucket-count frame; every later step
    (two per-dow percentile aggregates, the joins back) runs on that
    TINY frame — buckets per dow, never row data."""
    if granularity not in _GRAN_INTERVAL:
        raise ValueError(f"granularity {granularity!r} not supported")
    bucket = F.date_trunc(granularity, qcol(ts_col))
    per = (df.where(qcol(ts_col).isNotNull())
             .groupBy(bucket.alias("bucket"))
             .agg(F.count(F.lit(1)).cast("bigint").alias("row_count"))
             .withColumn("dow", F.weekday(F.col("bucket")).cast("int")))
    med = per.groupBy("dow").agg(
        F.expr("percentile(row_count, 0.5)").alias("dow_median"))
    j = per.join(med, "dow")
    mad = j.groupBy("dow").agg(
        F.expr("percentile(abs(row_count - dow_median), 0.5)")
         .alias("dow_mad"))
    dev = (F.abs(F.col("row_count") - F.col("dow_median"))
           / F.greatest(F.col("dow_mad"), F.lit(1.0)))
    return (j.join(mad, "dow")
             .select("bucket", "dow", "row_count",
                     F.round("dow_median", 6).alias("dow_median"),
                     F.round("dow_mad", 6).alias("dow_mad"),
                     F.round(dev, 6).alias("deviation"),
                     (dev > F.lit(float(k))).alias("is_anomaly")))


def violation_rate_gate(violations: DataFrame, total_rows: int,
                        budgets: dict[tuple[str, str], float], *,
                        default_budget: float = 0.0,
                        column_col: str = "column_name",
                        type_col: str = "error_type") -> DataFrame:
    """Rate-tolerant verdicts over a violations frame — the error-budget
    layer between 'list every bad row' (``value_errors``) and 'fail the
    dataset on any of them' (the reference's all-or-nothing verdict,
    src/schema_validata.py:2045-2154): each (column, error_type) check
    passes while its violation RATE stays within its budget ('≤0.1%
    nulls tolerated, ≤5% unknown event types'). This is how production
    DQ gates actually run — a 10^12-turn corpus always has SOME dirty
    rows; the decision is whether the rate regressed.

    ``budgets`` maps (column, error_type) → max tolerated violation
    fraction. Listed checks are ALWAYS reported, zero-filled when
    clean — a gate must show its passing checks ran, not just its
    failures. Observed combos not listed get ``default_budget`` (0.0 =
    strict: any violation fails, the reference's semantics). ``passed``
    compares the unrounded rate; the reported rate is 6dp-pinned.

    SCALE: the violations frame is already ≪ corpus (the engine's
    listing output); this adds one hash agg on it + a full-outer join
    against a #budgets-row literal frame. ``total_rows`` is a scalar
    the caller already has (``validate()`` counts rows in its profile
    pass) — no new scan of row data."""
    if total_rows <= 0:
        raise ValueError("total_rows must be positive")
    spark = violations.sparkSession
    counts = (violations.groupBy(column_col, type_col)
                        .agg(F.count(F.lit(1)).cast("bigint")
                              .alias("n_violations")))
    listed = spark.createDataFrame(
        [(c, t, float(b)) for (c, t), b in budgets.items()],
        schema=f"`{column_col}` string, `{type_col}` string, budget double")
    merged = (counts.join(listed, [column_col, type_col], "full_outer")
                    .select(column_col, type_col,
                            F.coalesce("n_violations", F.lit(0))
                             .cast("bigint").alias("n_violations"),
                            F.coalesce("budget",
                                       F.lit(float(default_budget)))
                             .alias("budget")))
    rate = F.col("n_violations") / F.lit(float(total_rows))
    return merged.select(
        column_col, type_col, "n_violations",
        F.lit(int(total_rows)).cast("bigint").alias("n_rows"),
        F.round(rate, 6).alias("rate"), "budget",
        (rate <= F.col("budget")).alias("passed"))


def volume_changepoint(df: DataFrame, ts_col: str,
                       granularity: str = "day",
                       threshold: float = 1.5) -> DataFrame:
    """CUSUM mean-shift detection on time-bucket row volume: WHEN did
    the feed's level change? ``volume_anomalies`` flags individual
    outlier buckets; a pipeline that silently halved its intake emits
    no single outlier — every post-change day is "normal" for the new
    level. The classic CUSUM statistic finds exactly that step.

    S_t = Σ_{i≤t}(c_i − mean) peaks at the step boundary; the reported
    statistic is max|S_t| / (sd·√n) (Brownian-bridge scaled — under a
    stable level it concentrates below ~1.36 at 5% / 1.63 at 1%;
    default threshold 1.5 sits between). Output (one row):
    ``n_buckets, change_point`` (the LAST bucket of the pre-shift
    segment, earliest on ties), ``pre_mean, post_mean, cusum_stat,
    shifted``. NULLs when fewer than 2 buckets (no interior split) or
    sd = 0 (constant counts — nothing can have shifted).

    ENGINE-PORTABLE: bucket counts and their moment sums are exact
    BIGINTs; S_t, sd, and the statistic are fixed-expression doubles
    over them, quantized in integer micro-space before the argmax so
    tie-breaking (earliest bucket) is deterministic and replayable.

    SCALE: ONE scan reduces rows to the bucket-count frame; the
    cumulative window and argmax run on that TINY frame (one row per
    day/hour — a deliberate single-partition window over metadata,
    same contract as the drift/summary layers; row data never enters
    a window)."""
    if granularity not in _GRAN_INTERVAL:
        raise ValueError(f"granularity {granularity!r} not supported")
    from pyspark.sql import Window
    bucket = F.date_trunc(granularity, qcol(ts_col))
    per = (df.where(qcol(ts_col).isNotNull())
             .groupBy(bucket.alias("bucket"))
             .agg(F.count(F.lit(1)).cast("bigint").alias("__c")))
    tot = per.agg(F.count(F.lit(1)).cast("bigint").alias("n_buckets"),
                  F.coalesce(F.sum("__c"), F.lit(0)).alias("__sy"),
                  F.coalesce(F.sum(F.col("__c") * F.col("__c")),
                             F.lit(0)).alias("__syy"))
    ww = Window.orderBy("bucket")
    cum = F.sum("__c").over(ww.rowsBetween(Window.unboundedPreceding, 0))
    t = F.row_number().over(ww)
    j = (per.crossJoin(F.broadcast(tot))
            .select("bucket", "n_buckets", "__sy", "__syy",
                    cum.alias("__cum"), t.alias("__t")))
    n = F.col("n_buckets").cast("double")
    mean = F.col("__sy").cast("double") / n
    s_t = F.col("__cum").cast("double") - F.col("__t").cast("double") * mean
    abs_micro = F.round(F.lit(1000000.0) * F.abs(s_t), 0).cast("bigint")
    # interior split points only (t = n has an empty post segment)
    cand = j.where(F.col("__t") < F.col("n_buckets"))
    best = cand.agg(F.max(F.struct(
        abs_micro.alias("am"),
        (-F.unix_timestamp(F.col("bucket"))).alias("negep"),
        F.col("bucket").alias("bucket"),
        F.col("__cum").alias("cum"),
        F.col("__t").alias("t"))).alias("__best"))
    out = tot.crossJoin(best)
    b = F.col("__best")
    var = (F.col("__syy").cast("double")
           - F.col("__sy").cast("double") * F.col("__sy").cast("double") / n) / n
    sd = F.sqrt(var)
    micro = F.lit(1000000.0)

    def _r6(xpr):
        return F.round(micro * xpr, 0) / micro

    stat = (b["am"].cast("double") / micro) / (sd * F.sqrt(n))
    ok = b.isNotNull() & (sd > 0)
    pre = b["cum"].cast("double") / b["t"].cast("double")
    post = ((F.col("__sy") - b["cum"]).cast("double")
            / (F.col("n_buckets") - b["t"]).cast("double"))
    return out.select(
        "n_buckets",
        F.when(ok, b["bucket"]).alias("change_point"),
        F.when(ok, _r6(pre)).alias("pre_mean"),
        F.when(ok, _r6(post)).alias("post_mean"),
        F.when(ok, _r6(stat)).alias("cusum_stat"),
        F.when(ok, _r6(stat) >= F.lit(float(threshold))).alias("shifted"))


def volume_autocorrelation(df: DataFrame, ts_col: str,
                           granularity: str = "day",
                           max_lag: int = 7) -> DataFrame:
    """Lag-k autocorrelation of the per-bucket row-volume series — the
    periodicity detector behind the volume screens: a strong lag-7
    spike on daily buckets says the feed is weekly-seasonal (so use
    ``seasonal_volume_anomalies``, not the flat ``volume_anomalies``);
    a strong lag-1 says volume shocks persist and yesterday predicts
    today (so a level CUSUM beats per-bucket outlier checks). Missing
    buckets between the observed min and max COUNT AS ZERO volume —
    an empty day is a real value of the series, not a hole to skip.

    Output per lag 1..``max_lag``: ``lag``, ``n_pairs`` (bucket pairs
    (t, t+lag) inside the range), ``acf`` (Pearson r of the two
    shifted copies; NULL when fewer than 2 pairs or either side is
    constant). Empty input yields n_pairs = 0 rows.

    ENGINE-PORTABLE: volumes are exact BIGINTs; per-lag moments are
    exact DECIMAL(38,0) sums (Σx, Σy, Σxy, Σx², Σy²) and the r is one
    fixed expression over them, micro-rounded (6dp) — no incremental
    covar/stddev whose float order could differ between engines.

    SCALE: row data is scanned ONCE into the bucket aggregate; the
    gap-fill (sequence + left join), the lead window, and the 1-row
    moment aggregate all run on the BUCKET frame (metadata-sized:
    days/hours of corpus span, never rows). The single-partition
    window is over that tiny frame only."""
    from pyspark.sql import Window

    if granularity not in _GRAN_INTERVAL:
        raise ValueError(f"granularity {granularity!r} not supported")
    if max_lag < 1:
        raise ValueError("max_lag must be >= 1")
    bucket = F.date_trunc(granularity, qcol(ts_col))
    # the explicit bucket.isNotNull() matches the null-filter the left
    # join infers on its build side, keeping both consumers' scan
    # subtrees byte-identical (a prerequisite for exchange reuse)
    obs = (df.where(qcol(ts_col).isNotNull() & bucket.isNotNull())
             .groupBy(bucket.alias("bucket"))
             .agg(F.count(F.lit(1)).cast("bigint").alias("__n")))
    # the min/max references __n (always > 0) so Catalyst cannot prune
    # the count and collapse this branch into a second direct scan —
    # both consumers of `obs` then share ONE scan via ReusedExchange
    guard = F.when(F.col("__n") > 0, F.col("bucket"))
    rng = (obs.agg(F.min(guard).alias("lo"), F.max(guard).alias("hi"))
              .where(F.col("lo").isNotNull())
              .select(F.explode(F.expr(
                  f"sequence(lo, hi, {_GRAN_INTERVAL[granularity]})"))
                  .alias("bucket")))
    filled = (rng.join(obs, "bucket", "left")
                 .select("bucket",
                         F.coalesce(F.col("__n"), F.lit(0))
                          .cast("bigint").alias("__n")))
    w = Window.orderBy("bucket")
    lags = list(range(1, int(max_lag) + 1))
    wide = filled.select(
        "__n", *[F.lead("__n", L).over(w).alias(f"__y{L}") for L in lags])
    dec = "decimal(38,0)"
    aggs = []
    for L in lags:
        y = F.col(f"__y{L}")
        x = F.when(y.isNotNull(), F.col("__n"))
        aggs += [
            F.coalesce(F.count(y), F.lit(0)).cast("bigint").alias(f"n_{L}"),
            F.coalesce(F.sum(x.cast(dec)), F.lit(0)).cast(dec)
             .alias(f"sx_{L}"),
            F.coalesce(F.sum(y.cast(dec)), F.lit(0)).cast(dec)
             .alias(f"sy_{L}"),
            F.coalesce(F.sum(x.cast(dec) * y.cast(dec)), F.lit(0)).cast(dec)
             .alias(f"sxy_{L}"),
            F.coalesce(F.sum(x.cast(dec) * x.cast(dec)), F.lit(0)).cast(dec)
             .alias(f"sxx_{L}"),
            F.coalesce(F.sum(y.cast(dec) * y.cast(dec)), F.lit(0)).cast(dec)
             .alias(f"syy_{L}"),
        ]
    one = wide.agg(*aggs)
    micro = F.lit(1000000.0)
    cols = []
    for L in lags:
        n = F.col(f"n_{L}").cast("double")
        sx = F.col(f"sx_{L}").cast("double")
        sy = F.col(f"sy_{L}").cast("double")
        sxy = F.col(f"sxy_{L}").cast("double")
        sxx = F.col(f"sxx_{L}").cast("double")
        syy = F.col(f"syy_{L}").cast("double")
        vx = n * sxx - sx * sx
        vy = n * syy - sy * sy
        r = F.when((F.col(f"n_{L}") >= 2) & (vx > 0) & (vy > 0),
                   F.round(micro * ((n * sxy - sx * sy)
                                    / F.sqrt(vx * vy)), 0) / micro)
        cols += [F.col(f"n_{L}").alias(f"np_{L}"), r.alias(f"r_{L}")]
    # one stack over the single aggregate row — the whole lineage
    # (scan → bucket agg → fill → window → moments) runs exactly once
    row = one.select(*cols)
    parts = ", ".join(
        f"cast({L} as int), `np_{L}`, `r_{L}`" for L in lags)
    return row.selectExpr(
        f"stack({len(lags)}, {parts}) as (lag, n_pairs, acf)")


def completeness_trend(df: DataFrame, ts_col: str, cols: list[str],
                       granularity: str = "day",
                       z_threshold: float = 3.0) -> DataFrame:
    """Per-time-bucket column completeness: the null rate of each
    column in each arrival bucket, z-scored against the column's
    overall rate — the "source stopped sending a field on day X"
    screen. ``null_rate_by_slice`` finds WHICH slice differs;
    this finds WHEN a column's completeness broke, which is usually a
    deploy or upstream schema change, not a data property.

    Per (bucket, column): n (bucket rows), n_null, null_rate,
    overall_rate (6dp), z (one-proportion z of the bucket against the
    column's overall rate; NULL when the overall rate is degenerate
    0/1), flagged (|z| >= z_threshold). NULL-ts rows are excluded
    everywhere (they have no bucket; their nulls show up in the plain
    null-count profile instead).

    SCALE: row data is scanned and shuffled ONCE — a wide hash
    aggregate keyed by bucket (shuffle rows = one (bucket,
    1+len(cols) counters) partial per map task), exploded to long form
    AFTER aggregation; the per-column totals are an unbounded window
    over the (buckets × cols)-sized long frame, so no second scan and
    no join. Exact BIGINT counts, pinned-order double z."""
    if granularity not in _GRAN_INTERVAL:
        raise ValueError(f"granularity {granularity!r} not supported")
    if not cols:
        raise ValueError("cols must be non-empty")
    fmt = {"day": "yyyy-MM-dd", "hour": "yyyy-MM-dd HH"}.get(granularity)
    if fmt is None:
        raise ValueError("completeness_trend supports day/hour buckets")
    t = qcol(ts_col)
    bucket = F.date_format(F.date_trunc(granularity, t), fmt)
    aggs = [F.count(F.lit(1)).cast("bigint").alias("__n")]
    for i, c in enumerate(cols):
        aggs.append(F.sum(F.when(qcol(c).isNull(), 1).otherwise(0))
                     .cast("bigint").alias(f"__null_{i}"))
    per = (df.where(t.isNotNull())
             .groupBy(bucket.alias("bucket")).agg(*aggs))
    arr = F.array(*[
        F.struct(F.lit(c).alias("column_name"),
                 F.col(f"__null_{i}").alias("n_null"))
        for i, c in enumerate(cols)])
    long = (per.select("bucket", F.col("__n").alias("n"),
                       F.explode(arr).alias("e"))
               .select("bucket", "n", "e.column_name", "e.n_null"))
    from pyspark.sql import Window
    w = Window.partitionBy("column_name")
    j = (long.withColumn("__tn", F.sum("n").over(w))
             .withColumn("__tk", F.sum("n_null").over(w)))
    nd = F.col("n").cast("double")
    rate = F.col("n_null").cast("double") / nd
    p0 = F.col("__tk").cast("double") / F.col("__tn").cast("double")
    den = F.sqrt(p0 * (F.lit(1.0) - p0) / nd)
    z = F.when(den > 0, F.round((rate - p0) / den, 6))
    return j.select(
        "bucket", "column_name", "n", "n_null",
        F.round(rate, 6).alias("null_rate"),
        F.round(p0, 6).alias("overall_rate"),
        z.alias("z"),
        F.coalesce(F.abs(z) >= F.lit(float(z_threshold)), F.lit(False))
         .alias("flagged"))


def monotone_trend_check(df: DataFrame, ts_col: str, value_col: str,
                         granularity: str = "day",
                         agg: str = "max") -> DataFrame:
    """Counter-regression screen: per arrival bucket, the aggregated
    value of a SHOULD-BE-MONOTONE metric (lifetime totals, cumulative
    counters, high-water marks), flagged wherever a bucket falls below
    its predecessor — a counter that moves backwards means a reset,
    a partial backfill, or clock skew, none of which range/null checks
    can see.

    ``agg``: 'max' (high-water-mark semantics, default) or 'sum'
    (per-bucket volume of an always-positive delta column). Output per
    bucket: bucket, value, prev_value (NULL on the first bucket),
    delta, regressed (value < prev_value). NULL ts/value rows are
    excluded.

    SCALE: ONE bucket-keyed hash aggregate over row data; the lag
    window runs on the bucket-count-sized frame (single partition of
    metadata — same class as the other bucket screens)."""
    if agg not in ("max", "sum"):
        raise ValueError("agg must be 'max' or 'sum'")
    from pyspark.sql import Window

    t, v = qcol(ts_col), qcol(value_col).cast("double")
    fmt = {"day": "yyyy-MM-dd", "hour": "yyyy-MM-dd HH"}.get(granularity)
    if fmt is None:
        raise ValueError("monotone_trend_check supports day/hour buckets")
    bucket = F.date_format(F.date_trunc(granularity, t), fmt)
    fn = F.max if agg == "max" else F.sum
    per = (df.where(t.isNotNull() & v.isNotNull())
             .groupBy(bucket.alias("bucket"))
             .agg(F.round(fn(v), 6).alias("value")))
    w = Window.orderBy("bucket")
    out = per.withColumn("prev_value", F.lag("value").over(w))
    return out.select(
        "bucket", "value", "prev_value",
        F.round(F.col("value") - F.col("prev_value"), 6).alias("delta"),
        F.coalesce(F.col("value") < F.col("prev_value"), F.lit(False))
         .alias("regressed"))


def value_novelty_trend(df: DataFrame, value_col: str, ts_col: str,
                        granularity: str = "day") -> DataFrame:
    """NEW-VALUE arrival trend for a categorical column: per bucket,
    how many distinct values were active and how many had NEVER been
    seen before — the new-enum-value / upstream-schema-change alarm
    (allowed-value rules reject what a dictionary forbids; this
    surfaces what a dictionary hasn't HEARD OF yet, with the day it
    appeared).

    Per bucket: bucket, n_values (distinct active), n_new
    (first-seen), share_new (6dp), first_values (≤10 of the new
    values, sorted — the audit sample a human acts on). NULL
    value/ts rows are excluded.

    SCALE: DISTINCT (value, bucket) reduction FIRST (the only
    full-data shuffle), value-keyed first-bucket aggregate on the
    reduced frame, bucket-sized rollup; the sample is a sorted
    slice(collect_set) capped at 10 per bucket."""
    fmt = {"day": "yyyy-MM-dd", "hour": "yyyy-MM-dd HH"}.get(granularity)
    if fmt is None:
        raise ValueError("value_novelty_trend supports day/hour buckets")
    v, t = qcol(value_col), qcol(ts_col)
    act = (df.where(v.isNotNull() & t.isNotNull())
             .select(v.cast("string").alias("__v"),
                     F.date_format(F.date_trunc(granularity, t), fmt)
                      .alias("__b"))
             .distinct())
    first = act.groupBy("__v").agg(F.min("__b").alias("__f"))
    is_new = F.col("__b") == F.col("__f")
    mix = (act.join(first, "__v")
              .groupBy("__b")
              .agg(F.count(F.lit(1)).cast("bigint").alias("n_values"),
                   F.sum(F.when(is_new, 1).otherwise(0)).cast("bigint")
                    .alias("n_new"),
                   F.slice(F.array_sort(F.collect_set(
                       F.when(is_new, F.col("__v")))), 1, 10)
                    .alias("first_values")))
    return mix.select(
        F.col("__b").alias("bucket"), "n_values", "n_new",
        F.round(F.col("n_new").cast("double")
                / F.col("n_values").cast("double"), 6)
         .alias("share_new"),
        "first_values")


MASK_CLASSES = [("[A-Z]", "A"), ("[a-z]", "a"), ("[0-9]", "9")]


def mask_stability(df: DataFrame, cols: list[str], partition_col: str,
                   max_chars: int = 24) -> DataFrame:
    """Cross-partition FORMAT stability: does each column's dominant
    value mask stay the same across partitions? A value's mask maps
    every uppercase ASCII letter to ``A``, lowercase to ``a`` and digit
    to ``9`` (other characters pass through), so '555-0100' reads
    '999-9999'. The screen that catches an upstream exporter
    switching date formats, zero-padding, or ID schemes in one
    partition — a shape change that null/range checks never see.

    Per (partition, column): the dominant mask = the most frequent
    mask, ties broken by GREATEST mask (max of the (n, mask) struct —
    deterministic across shuffles and engines). Per column:

    ``column_name, n_partitions, n_dominant_masks (distinct dominants),
    top_mask (the dominant mask carried by the most partitions, ties
    by greatest mask), n_conforming (partitions whose dominant ==
    top_mask), stable (n_dominant_masks == 1)``.

    NULL values have no format (excluded); a NULL partition is a real
    partition. Masks clip to ``max_chars`` (bounded keys).

    SCALE: masks compute in the scan projection (regexp chain,
    whole-stage codegen); ONE hash aggregate keyed by (partition,
    column, clipped mask) — map-side combined, raw values never
    shuffle — then two aggregates over the mask-vocabulary-sized
    frame. Output is one row per column."""
    def _mask(c):
        m = qcol(c).cast("string").substr(1, max_chars)
        for pat, rep in MASK_CLASSES:
            m = F.regexp_replace(m, pat, rep)
        return m

    frames = [df.where(qcol(c).isNotNull())
                .select(qcol(partition_col).alias("__p"),
                        F.lit(c).alias("column_name"),
                        _mask(c).alias("__mask"))
              for c in cols]
    u = frames[0]
    for f in frames[1:]:
        u = u.unionByName(f)
    counts = (u.groupBy("__p", "column_name", "__mask")
               .agg(F.count(F.lit(1)).cast("bigint").alias("__n")))
    dom = (counts.groupBy("__p", "column_name")
                 .agg(F.max(F.struct(F.col("__n"), F.col("__mask")))
                       .alias("__best"))
                 .select("__p", "column_name",
                         F.col("__best.__mask").alias("__dom")))
    per_dom = (dom.groupBy("column_name", "__dom")
                  .agg(F.count(F.lit(1)).cast("bigint").alias("__np")))
    summary = (per_dom.groupBy("column_name")
               .agg(F.sum("__np").cast("bigint").alias("n_partitions"),
                    F.count(F.lit(1)).cast("bigint")
                     .alias("n_dominant_masks"),
                    F.max(F.struct(F.col("__np"), F.col("__dom")))
                     .alias("__top")))
    return summary.select(
        "column_name", "n_partitions", "n_dominant_masks",
        F.col("__top.__dom").alias("top_mask"),
        F.col("__top.__np").alias("n_conforming"),
        (F.col("n_dominant_masks") == 1).alias("stable"))
