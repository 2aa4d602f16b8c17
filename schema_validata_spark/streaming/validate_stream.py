"""Structured-Streaming validation: continuous constraint checking over
a transcript stream.

The reference is batch-only (whole files); the batch engine's resume
manifest covers its semantics. This module extends the same check
expressions to ``readStream`` sources two ways:

* ``stream_validate`` — stateless per-row violation tagging: the SAME
  combined Column-expression scan as the batch violations layer, applied
  to a streaming DataFrame (append mode). Because the predicates are
  pure expressions, batch/stream parity is by construction.
* ``stream_partition_verdicts`` — windowed violation counts with a
  watermark for late data: tumbling event-time windows stand in for the
  batch engine's partition keys.

Duplicate detection in a stream needs state; ``stream_dedup`` uses
``dropDuplicatesWithinWatermark`` so per-key state is EVICTED once the
watermark passes — bounded state by construction. (Cross-history
uniqueness remains a batch concern — unbounded state otherwise.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..functions.colref import qcol
from ..operators.integrity import referential_violations
from ..operators.violations import (rate_status, row_check_hits,
                                    row_specs, verdict_count_aggs,
                                    verdict_stack)
from ..rules import Rules


def stream_validate(stream_df: DataFrame, rules: Rules,
                    key_cols: list[str]) -> DataFrame:
    """Streaming violations DataFrame (append-mode friendly): same
    single-projection array-of-structs → explode shape as the batch
    layer, so each micro-batch does one pass. ``rules.conditional``
    (cross-column IF/THEN rules) ride the same projection — their
    predicates are pure Column expressions too."""
    return row_check_hits(stream_df, row_specs(stream_df.columns, rules),
                          [qcol(k) for k in key_cols],
                          getattr(rules, "conditional", None) or [])


MONO_OUT_SCHEMA = ("conv_id string, turn_idx int, ts timestamp, "
                   "error_type string")
MONO_STATE_SCHEMA = "last_ts double"


def stream_monotonic_ts_violations(stream_df: DataFrame,
                                   conv_col: str = "conv_id",
                                   idx_col: str = "turn_idx",
                                   ts_col: str = "ts") -> DataFrame:
    """Custom STATEFUL streaming operator (``applyInPandasWithState``):
    per-conversation timestamp monotonicity across micro-batches.

    State per conversation = the running max event time (one double).
    Each micro-batch sorts its group's rows by turn order and flags rows
    whose timestamp precedes the running max — including regressions
    relative to turns seen in EARLIER batches, which a stateless scan
    cannot catch. Group math is vectorized numpy over Arrow batches; no
    per-row Python.

    No reference counterpart (batch-only engine); this is the
    'applyInPandasWithState for custom stateful operators' extension
    point the build brief names.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    def fn(key, pdfs, state):
        last = state.get[0] if state.exists else None
        rows = pd.concat(list(pdfs), ignore_index=True)
        rows = rows.sort_values(idx_col, kind="mergesort")
        ts = rows[ts_col].to_numpy(dtype="datetime64[us]").astype("int64") \
            / 1e6
        seed = -np.inf if last is None else float(last)
        prev_max = np.maximum.accumulate(
            np.concatenate(([seed], ts)))[:-1]
        bad = ts < prev_max
        state.update((float(max(seed, ts.max())) if len(ts) else seed,))
        if bad.any():
            flagged = rows[bad]
            yield pd.DataFrame({
                "conv_id": flagged[conv_col].astype(str),
                "turn_idx": flagged[idx_col].astype("int32"),
                "ts": flagged[ts_col],
                "error_type": "Non-Monotonic Timestamp",
            })

    return (stream_df.groupBy(conv_col)
            .applyInPandasWithState(fn, MONO_OUT_SCHEMA, MONO_STATE_SCHEMA,
                                    "append", GroupStateTimeout.NoTimeout))


def stream_partition_verdicts(stream_df: DataFrame, rules: Rules,
                              ts_col: str = "ts",
                              window: str = "1 hour",
                              watermark: str = "2 hours") -> DataFrame:
    """Windowed per-check violation counts with late-data watermark —
    the streaming analog of batch partition_verdicts. Complete rows per
    (window, column, check) emit once the watermark passes."""
    aggs, names = verdict_count_aggs(stream_df, rules)
    wdf = (stream_df.withWatermark(ts_col, watermark)
           .groupBy(F.window(F.col(ts_col), window).alias("w"))
           .agg(*aggs))
    return wdf.selectExpr(
        "w.start as window_start", "w.end as window_end",
        verdict_stack(names)
    ).withColumn("status",
                 F.when(F.col("violation_count") > 0, "fail").otherwise("pass"))


def stream_rate_verdicts(stream_df: DataFrame, rules: Rules,
                         budgets: dict[tuple[str, str], float],
                         ts_col: str = "ts",
                         window: str = "1 hour",
                         watermark: str = "2 hours",
                         default_budget: float = 0.0) -> DataFrame:
    """``stream_partition_verdicts`` with ERROR BUDGETS — the streaming
    twin of ``validate.partition_rate_verdicts``: each window's checks
    pass while their violation RATE (violations / window rows) stays
    within the per-(column, check) budget, so a high-traffic window is
    not failed by the absolute count a quiet one tolerates. The window
    row count rides the SAME watermarked aggregate (one extra count
    expression — no second stateful operator, state stays bounded by
    the watermark horizon exactly as before).

    ``budgets`` and ``default_budget`` behave as in the batch gate
    (0.0 default = strict, identical verdicts to
    ``stream_partition_verdicts``)."""
    aggs, names = verdict_count_aggs(stream_df, rules)
    aggs.append(F.count(F.lit(1)).cast("bigint").alias("__n_rows"))
    wdf = (stream_df.withWatermark(ts_col, watermark)
           .groupBy(F.window(F.col(ts_col), window).alias("w"))
           .agg(*aggs))
    long = wdf.selectExpr(
        "w.start as window_start", "w.end as window_end",
        "__n_rows as n_rows", verdict_stack(names))
    return rate_status(long, budgets, default_budget).select(
        "window_start", "window_end", "column_name", "check",
        "violation_count", "n_rows", "rate", "budget", "status")


def stream_dedup(stream_df: DataFrame, key_cols: list[str] | None = None,
                 text_col: str | None = None, ts_col: str = "ts",
                 watermark: str = "1 hour") -> DataFrame:
    """Streaming deduplication with BOUNDED state.

    Two uses: (a) at-least-once sources (Kafka, file redelivery)
    re-emitting the same (conv_id, turn_idx) row — pass ``key_cols``;
    (b) near-realtime content dedup — pass ``text_col`` and rows
    dedupe on the 64-bit content ``fingerprint`` (the same normalized
    hash as batch ``dedup_exact``, so batch/stream decisions agree).

    ``dropDuplicatesWithinWatermark`` (Spark 3.5+) evicts a key's
    state once the watermark moves past the first sighting — unlike
    plain ``dropDuplicates`` on a stream, whose state grows without
    bound. The horizon is the contract: a duplicate arriving later
    than ``watermark`` after its first copy is NOT suppressed; full-
    history dedup stays a batch concern (``dedup_exact``)."""
    from ..functions.text import fingerprint
    df = stream_df.withWatermark(ts_col, watermark)
    if (key_cols is None) == (text_col is None):
        raise ValueError("pass exactly one of key_cols / text_col")
    if text_col is not None:
        # NULL text must pass through untouched: fingerprint() is
        # xxhash64, and xxhash64(NULL) is the constant SEED, not NULL —
        # an ungated fingerprint would collapse every text-less row in
        # the horizon into one (and dropDuplicates also treats NULL
        # keys as equal). Dedup only rows with real text.
        fp = F.when(F.col(text_col).isNotNull(), fingerprint(text_col))
        with_fp = df.withColumn("__fp", fp)
        deduped = (with_fp.where(F.col("__fp").isNotNull())
                          .dropDuplicatesWithinWatermark(["__fp"])
                          .drop("__fp"))
        passthrough = with_fp.where(F.col("__fp").isNull()).drop("__fp")
        return deduped.unionByName(passthrough)
    return df.dropDuplicatesWithinWatermark(key_cols)


ROLE_OUT_SCHEMA = ("conv_id string, turn_idx int, prev_role string, "
                   "role string, error_type string")
# carried speaker context: the last seen role (sentinel-coded NULL)
ROLE_STATE_SCHEMA = "last_role string"
_ROLE_NULL = "\x00"


def stream_role_conformance(stream_df: DataFrame,
                            transitions: set[tuple[str, str]],
                            first_roles: set[str],
                            conv_col: str = "conv_id",
                            idx_col: str = "turn_idx",
                            role_col: str = "role") -> DataFrame:
    """STATEFUL streaming twin of ``operators.sequence.
    role_conformance``: per-conversation speaker-automaton checking
    across micro-batches. State per conversation = the last seen role
    (one string), so a transition that straddles a batch boundary —
    batch 1 ends user, batch 2 opens user — is caught, which no
    stateless scan can do. Emits one row per violating turn
    (conv, turn, prev_role, role, error_type ∈ {'Bad Opening Role',
    'Bad Role Transition'}); NULL roles are coded to a sentinel that
    can never match an allowed role, mirroring the batch contract.

    Rows are evaluated in ``idx_col`` order WITHIN each batch and in
    arrival order across batches (same caveat as
    ``stream_monotonic_ts_violations``: late cross-batch reordering is
    the monotonicity op's job to flag)."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    allowed = {a + "\x1f" + b for a, b in transitions}
    openers = set(first_roles)

    def fn(key, pdfs, state):
        rows = pd.concat(list(pdfs), ignore_index=True)
        rows = rows.sort_values(idx_col, kind="mergesort")
        cur = rows[role_col].fillna(_ROLE_NULL).astype(str)
        prev = cur.shift(1)
        if state.exists:
            prev.iloc[0] = state.get[0]
        trans_bad = ~(prev + "\x1f" + cur).isin(allowed)
        opener_bad = ~cur.isin(openers)
        bad = trans_bad.where(prev.notna(), opener_bad)
        state.update((cur.iloc[-1],))
        if bad.any():
            flagged = rows[bad.to_numpy(dtype=bool)]
            pv = prev[bad.to_numpy(dtype=bool)]
            yield pd.DataFrame({
                "conv_id": flagged[conv_col].astype(str),
                "turn_idx": flagged[idx_col].astype("int32"),
                "prev_role": pv.replace(_ROLE_NULL, None),
                "role": flagged[role_col],
                "error_type": [
                    "Bad Opening Role" if pd.isna(p)
                    else "Bad Role Transition" for p in pv],
            })

    return (stream_df.groupBy(conv_col)
            .applyInPandasWithState(fn, ROLE_OUT_SCHEMA,
                                    ROLE_STATE_SCHEMA, "append",
                                    GroupStateTimeout.NoTimeout))


def stream_drift_scores(stream_df: DataFrame, col: str,
                        baseline_hist: DataFrame,
                        lo: float, hi: float, n_buckets: int = 20,
                        ts_col: str = "ts",
                        window: str = "1 hour",
                        watermark: str = "2 hours") -> DataFrame:
    """Streaming distribution drift: chi-square + PSI of ``col``
    against a BASELINE histogram, per tumbling event-time window —
    the continuous twin of batch ``drift_scores`` (an encoder/source
    regression shows up in the window it happens, not at the next
    batch audit).

    Structured Streaming allows ONE stateful aggregation per query, so
    the batch shape (histogram agg → join → totals agg → score agg)
    cannot run as-is. Restructured: the bucket ids are a FIXED domain
    (width_bucket → 0..n_buckets+1), so the windowed histogram is one
    WIDE aggregate (one conditional count per bucket) and the
    chi²/PSI arithmetic against the baseline becomes a map-only
    projection with the baseline proportions baked in as literals
    (the baseline frame is histogram-sized; collapsing it driver-side
    is a manifest-scale collect, same class as the ANN model load).
    Late rows are handled by the watermark; complete windows emit once
    in append mode.

    ``baseline_hist`` is any (bucket, count) frame — e.g. the batch
    ``numeric_histogram`` output of a reference snapshot (its
    ``partition_key`` collapses here). Scores match the batch
    ``drift_scores`` formula term-for-term (EPS-guarded PSI, baseline
    scaled to the observed window total)."""
    from ..operators.drift import EPS
    base_rows = (baseline_hist.groupBy(F.col("bucket").cast("int")
                                        .alias("b"))
                              .agg(F.sum("count").alias("n")).collect())
    base = {int(r["b"]): int(r["n"]) for r in base_rows}
    tb = float(sum(base.values()))
    if tb <= 0:
        raise ValueError("stream_drift_scores: empty baseline histogram")
    buckets = list(range(0, n_buckets + 2))   # width_bucket range incl.
    pb = {i: base.get(i, 0) / tb for i in buckets}

    b = F.width_bucket(F.col(col).cast("double"), F.lit(float(lo)),
                       F.lit(float(hi)), F.lit(n_buckets))
    wdf = (stream_df.where(F.col(col).isNotNull())
           .withWatermark(ts_col, watermark)
           .groupBy(F.window(F.col(ts_col), window).alias("w"))
           .agg(*[F.count(F.when(b == i, 1)).alias(f"o{i}")
                  for i in buckets]))

    total = sum((F.col(f"o{i}") for i in buckets), F.lit(0)) \
        .cast("double")
    chi2 = F.lit(0.0)
    psi = F.lit(0.0)
    for i in buckets:
        o = F.col(f"o{i}").cast("double")
        e = F.lit(pb[i]) * total
        if pb[i] > 0:
            chi2 = chi2 + F.pow(o - e, 2) / e
        po = o / F.greatest(total, F.lit(1.0))
        psi = psi + (po - F.lit(pb[i])) * F.log(
            (po + F.lit(EPS)) / F.lit(pb[i] + EPS))
    return wdf.select(
        F.col("w.start").alias("window_start"),
        F.col("w.end").alias("window_end"),
        F.lit(col).alias("column_name"),
        F.round(chi2, 6).alias("chi2"),
        F.round(psi, 6).alias("psi"),
        total.cast("bigint").alias("n_obs"))


def stream_distinct_estimates(stream_df: DataFrame, col: str,
                              ts_col: str = "ts",
                              window: str = "1 hour",
                              watermark: str = "2 hours",
                              lg_k: int = 12) -> DataFrame:
    """Per-window distinct-count sketching: how many distinct values of
    ``col`` (conv_ids, users, tool names) arrived in each event-time
    window — the continuous twin of operators/sketches.py, and the
    live tripwire for key-space anomalies (a window whose distinct
    conv_id count collapses while n_rows holds is a stuck producer
    replaying one conversation; a distinct explosion is an id-format
    regression).

    Emits the BINARY sketch alongside the estimate, so downstream
    batch jobs can ``hll_union_agg`` completed windows into any larger
    horizon (hourly → daily → table-level) without touching the
    stream's raw data — the same merge-invariance contract as the
    batch sketch frame. Accuracy: exact through the coupon regime
    (~384 at lg_k=12), ~1–2% beyond.

    Output (append mode, one row per complete window): window_start,
    window_end, n_rows, n_distinct_est, sketch.

    SCALE: ONE stateful windowed aggregate whose state per window is a
    single bounded sketch (≤ ~2^lg_k bytes) + a counter, merged
    incrementally as microbatches arrive; the watermark bounds the
    number of live windows, so state is (live windows × sketch size)
    regardless of row rate. NULLs are not coupons (not distinct
    values) but DO count in n_rows."""
    sk = F.hll_sketch_agg(F.col(col), F.lit(lg_k))
    return (stream_df
            .withWatermark(ts_col, watermark)
            .groupBy(F.window(F.col(ts_col), window).alias("w"))
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_rows"),
                 sk.alias("sketch"))
            .select(F.col("w.start").alias("window_start"),
                    F.col("w.end").alias("window_end"),
                    "n_rows",
                    F.hll_sketch_estimate(F.col("sketch"))
                     .cast("bigint").alias("n_distinct_est"),
                    "sketch"))


def stream_quantile_summaries(stream_df: DataFrame, cols: list[str],
                              ts_col: str = "ts",
                              window: str = "1 hour",
                              watermark: str = "2 hours",
                              k: int = 32,
                              accuracy: int = 10000) -> DataFrame:
    """Per-window mergeable quantile summaries — the streaming twin of
    ``operators/sketches.py:quantile_summaries``: each completed
    event-time window emits k order statistics at (i+0.5)/k (6dp-
    pinned) plus the non-null count, in EXACTLY the frame shape the
    batch merge layer consumes. Completed windows therefore feed
    ``merge_quantile_estimates`` (hourly → daily → table quantiles)
    and ``summary_drift`` (did this hour's latency distribution move
    against yesterday's baseline) without re-reading the stream.

    Approximation contract: streaming cannot sort a window exactly at
    bounded state, so this uses ``percentile_approx`` (Greenwald-
    Khanna, rank error ≤ n/accuracy per window — EXACT while a
    window holds ≤ accuracy rows); that error simply adds to the merge
    layer's n/(2k) bound. Unlike the batch layer's interpolated
    ``percentile``, GK returns actual data elements.

    Output (append mode, one row per complete window per column):
    window_start, window_end, partition_key (the window start as a
    string — the merge layer's partition identity), column_name, qs,
    n_vals. Windows where a column is all-NULL emit no row for it
    (matching the batch layer's n_vals > 0 filter).

    SCALE: ONE stateful windowed aggregate; per-window state is the
    GK summary (O(accuracy · log n) compressed tuples) + counters,
    bounded regardless of row rate; the watermark bounds live
    windows. The post-aggregation melt is a projection."""
    if not cols:
        raise ValueError("stream_quantile_summaries needs >= 1 column")
    if k < 2:
        raise ValueError("k must be >= 2")
    fracs = F.array(*[F.lit((i + 0.5) / k) for i in range(k)])
    aggs = []
    for i, c in enumerate(cols):
        v = F.col(c).cast("double")
        aggs.append(F.transform(
            F.percentile_approx(v, fracs, F.lit(accuracy)),
            lambda x: F.round(x, 6)).alias(f"__q_{i}"))
        aggs.append(F.count(v).cast("bigint").alias(f"__n_{i}"))
    grouped = (stream_df
               .withWatermark(ts_col, watermark)
               .groupBy(F.window(F.col(ts_col), window).alias("w"))
               .agg(*aggs))
    pairs = [F.struct(F.lit(c).alias("column_name"),
                      F.col(f"__q_{i}").alias("qs"),
                      F.col(f"__n_{i}").alias("n_vals"))
             for i, c in enumerate(cols)]
    return (grouped.select(F.col("w.start").alias("window_start"),
                           F.col("w.end").alias("window_end"),
                           F.explode(F.array(*pairs)).alias("__p"))
                   .select("window_start", "window_end",
                           F.col("window_start").cast("string")
                            .alias("partition_key"),
                           F.col("__p.column_name").alias("column_name"),
                           F.col("__p.qs").alias("qs"),
                           F.col("__p.n_vals").alias("n_vals"))
                   .where(F.col("n_vals") > 0))


def stream_completeness(stream_df: DataFrame, cols: list[str],
                        ts_col: str = "ts",
                        window: str = "1 hour",
                        watermark: str = "2 hours") -> DataFrame:
    """Streaming per-window column completeness: the null rate of each
    watched column per tumbling event-time window — the continuous
    twin of batch ``expectations.completeness_trend`` (a producer that
    stops sending a field alarms in the window it breaks, not at the
    next batch audit).

    One WIDE windowed aggregate (a count + one conditional null
    counter per column — the single stateful agg Structured Streaming
    allows), exploded to long form AFTER aggregation exactly like the
    batch op. No baseline needed: the emitted (window, column,
    null_rate) frame is what the batch z-screen or an alert rule
    consumes downstream.

    Output per (window, column): window_start, window_end,
    column_name, n, n_null, null_rate (6dp). Late rows handled by the
    watermark; complete windows emit once in append mode."""
    if not cols:
        raise ValueError("cols must be non-empty")
    aggs = [F.count(F.lit(1)).cast("bigint").alias("__n")]
    for i, c in enumerate(cols):
        aggs.append(F.sum(F.when(F.col(c).isNull(), 1).otherwise(0))
                     .cast("bigint").alias(f"__null_{i}"))
    wdf = (stream_df
           .withWatermark(ts_col, watermark)
           .groupBy(F.window(F.col(ts_col), window).alias("w"))
           .agg(*aggs))
    arr = F.array(*[
        F.struct(F.lit(c).alias("column_name"),
                 F.col(f"__null_{i}").alias("n_null"))
        for i, c in enumerate(cols)])
    return (wdf.select(F.col("w.start").alias("window_start"),
                       F.col("w.end").alias("window_end"),
                       F.col("__n").alias("n"),
                       F.explode(arr).alias("e"))
               .select("window_start", "window_end", "e.column_name",
                       "n", "e.n_null",
                       F.round(F.col("e.n_null").cast("double")
                               / F.col("n").cast("double"), 6)
                        .alias("null_rate")))


def stream_ri_violations(stream_df: DataFrame, dim_df: DataFrame,
                         fk_col: str, dim_col: str) -> DataFrame:
    """Streaming referential integrity: stream rows whose non-NULL
    foreign key has no match in a STATIC dimension table. This is the
    batch op ``integrity.referential_violations`` itself, so the
    contract is the same: NULL foreign keys are not violations, and the
    dimension is not deduplicated (an anti-join only tests key
    existence).

    A stream-static LEFT ANTI join is one of the stateless stream joins
    Structured Streaming supports natively: NO state store and no
    watermark requirement. The dimension is read fresh per micro-batch
    under the default parquet source, so slowly-changing dims are
    picked up on file refresh."""
    return referential_violations(stream_df, [fk_col], dim_df, [dim_col])

