"""Statistical data-quality screens that go beyond the reference's
per-column profile (src/schema_validata.py:955-1147 computes counts /
ranges / lengths only): first-digit (Benford) conformance for numeric
columns and Shannon-entropy cardinality profiles for categorical ones.
Both are north_rule additions — single-aggregate screens a validation
engine runs next to the column profile to catch fabricated or collapsed
data that passes range/null/dtype checks.

Design: everything is built-in Column expressions (log10/log2, floor,
pow) over one or two hash aggregates whose output is digit- or
cardinality-sized — never row-sized. No UDFs, no collects.
"""

from __future__ import annotations

from itertools import combinations

from pyspark.sql import DataFrame, Window, functions as F

from ..functions.colref import qcol
from .expectations import MASK_CLASSES


def benford_digits(df: DataFrame, value_col: str) -> DataFrame:
    """Leading-significant-digit distribution of a numeric column versus
    Benford's law (P(d) = log10(1 + 1/d)).

    Naturally-occurring multiplicative data (transaction amounts, file
    sizes, latencies) follows Benford closely; uniform or hand-typed
    data does not — a large per-digit deviation is a cheap fraud /
    synthetic-data tripwire that the range+null profile cannot see.

    The leading digit of |v| is ``floor(|v| / 10^floor(log10 |v|))``,
    exact for every representable double whose log10 is not on an exact
    power-of-ten boundary (and exact there too on platforms with a
    correctly-rounded log10, which both the JVM and DuckDB provide for
    powers of ten). Zero and NULL values are excluded (they have no
    leading significant digit); the share denominator is the non-zero
    count.

    Output (≤9 rows): digit, n, share, benford_share, chi2_term —
    chi2_term = (n − E)²/E with E = total·P(d); sum over rows is the
    chi-square statistic against Benford with 8 dof.

    SCALE: one hash aggregate keyed by a 1-of-9 int (map-side combined;
    the shuffle carries ≤9 rows per task) plus a broadcast of the
    single-row total back over the 9-row frame."""
    v = F.abs(qcol(value_col).cast("double"))
    digit = F.floor(v / F.pow(F.lit(10.0), F.floor(F.log10(v)))).cast("int")
    counts = (df.where(qcol(value_col).isNotNull() & (v > 0))
                .groupBy(digit.alias("digit"))
                .agg(F.count(F.lit(1)).cast("bigint").alias("n")))
    total = counts.agg(F.coalesce(F.sum("n"), F.lit(0)).alias("__total"))
    j = counts.crossJoin(F.broadcast(total))
    benford = F.log10(F.lit(1.0) + F.lit(1.0) / F.col("digit"))
    expected = benford * F.col("__total")
    chi2_term = F.when(expected > 0,
                       F.pow(F.col("n") - expected, 2) / expected) \
                 .otherwise(F.lit(0.0))
    return (j.select("digit", "n",
                     F.round(F.col("n") / F.col("__total"), 6).alias("share"),
                     F.round(benford, 6).alias("benford_share"),
                     F.round(chi2_term, 6).alias("chi2_term"))
             .orderBy("digit"))


def column_entropy(df: DataFrame, cols: list[str],
                   null_token: str = "__null__") -> DataFrame:
    """Shannon entropy + cardinality profile per categorical column:
    how much information a column actually carries. A column whose
    entropy collapsed between snapshots (all rows suddenly one value)
    passes every null/allowed-value rule yet is broken — this is the
    aggregate that catches it. NULL is counted as its own category
    (``null_token``) so a null-flood moves the number too.

    Output (one row per requested column): column_name, n_rows,
    n_distinct, entropy_bits (−Σ p·log2 p, rounded 6dp), norm_entropy
    (entropy / log2(n_distinct), 0 for single-valued columns — a
    0-to-1 evenness score comparable across columns), top_share
    (modal value's share).

    SCALE: the input is melted to (column_name, value) pairs via one
    generated-column explode (no Python), then ONE hash aggregate per
    level: (column, value) counts — shuffle is vocabulary-sized, rows
    never shuffle — followed by a (column)-keyed rollup of the count
    frame. len(cols) multiplies map-side work, not shuffle width."""
    pairs = F.explode(F.array(*[
        F.struct(F.lit(c).alias("column_name"),
                 F.coalesce(qcol(c).cast("string"), F.lit(null_token))
                  .alias("value"))
        for c in cols])).alias("p")
    counts = (df.select(pairs)
                .select("p.column_name", "p.value")
                .groupBy("column_name", "value")
                .agg(F.count(F.lit(1)).cast("bigint").alias("n")))
    totals = counts.groupBy("column_name").agg(
        F.sum("n").alias("__total"),
        F.count(F.lit(1)).cast("bigint").alias("n_distinct"),
        F.max("n").alias("__top"))
    p = F.col("n") / F.col("__total")
    term = -p * F.log2(p)
    return (counts.join(totals, "column_name")
                  .groupBy("column_name")
                  .agg(F.max("__total").alias("n_rows"),
                       F.max("n_distinct").alias("n_distinct"),
                       F.round(F.sum(term), 6).alias("entropy_bits"),
                       F.round(F.when(F.max("n_distinct") > 1,
                                      F.sum(term)
                                      / F.log2(F.max("n_distinct")))
                                .otherwise(F.lit(0.0)), 6)
                        .alias("norm_entropy"),
                       F.round(F.max("__top") / F.max("__total"), 6)
                        .alias("top_share")))


def numeric_correlations(df: DataFrame, cols: list[str]) -> DataFrame:
    """Pairwise Pearson correlation of numeric columns — the
    relationship profile next to the per-column stats: a correlation
    that jumps (two columns suddenly identical after an upstream bug)
    or collapses (a derived column decoupled from its source) is
    invisible to every single-column rule.

    NULL handling matches SQL ``corr``: a row is skipped for a pair
    when EITHER side is NULL (pairwise deletion), which is what both
    Spark and DuckDB implement natively.

    Output: one row per unordered pair (col_a < col_b in the given
    list order): col_a, col_b, pearson_r (6dp; NULL when a side is
    constant — zero variance has no defined correlation), n_pairs.

    SCALE: ONE single-row aggregate computes every pair's co-moments
    in one scan (k·(k−1)/2 corr + count expressions, all map-side
    partial); the row is then unpivoted driver-free via explode of a
    literal-sized array. Raw rows never shuffle; cost is one scan
    regardless of pair count."""
    pairs = list(combinations(cols, 2))
    if not pairs:
        raise ValueError("numeric_correlations needs at least two columns")
    # Pearson from covar/stddev over the PAIRWISE-complete subset rather
    # than F.corr: under ANSI mode corr raises DIVIDE_BY_ZERO on a
    # zero-variance side, where the defined answer is NULL (and the
    # per-column stddev would be the wrong denominator when the other
    # side has NULLs).
    aggs = []
    for i, (a, b) in enumerate(pairs):
        ca, cb = qcol(a).cast("double"), qcol(b).cast("double")
        both = ca.isNotNull() & cb.isNotNull()
        pa, pb = F.when(both, ca), F.when(both, cb)
        aggs += [F.covar_pop(pa, pb).alias(f"__cov_{i}"),
                 F.stddev_pop(pa).alias(f"__sa_{i}"),
                 F.stddev_pop(pb).alias(f"__sb_{i}"),
                 F.count(F.when(both, 1)).cast("bigint").alias(f"__n_{i}")]
    wide = df.agg(*aggs)

    def _r(i):
        sa, sb = F.col(f"__sa_{i}"), F.col(f"__sb_{i}")
        return F.when((sa > 0) & (sb > 0),
                      F.col(f"__cov_{i}") / (sa * sb))

    rows = F.explode(F.array(*[
        F.struct(F.lit(a).alias("col_a"), F.lit(b).alias("col_b"),
                 F.round(_r(i), 6).alias("pearson_r"),
                 F.col(f"__n_{i}").alias("n_pairs"))
        for i, (a, b) in enumerate(pairs)])).alias("p")
    return wide.select(rows).select("p.col_a", "p.col_b", "p.pearson_r",
                                    "p.n_pairs")




def value_masks(df: DataFrame, cols: list[str], k: int = 10,
                max_chars: int = 24) -> DataFrame:
    """Top-``k`` value-format masks per column: every uppercase letter
    maps to ``A``, lowercase to ``a``, digit to ``9`` (other
    characters pass through), and the column's values collapse to
    their format signatures — the classic profiling move that shows
    '999-999-9999 (98%), 9999999999 (2%)' for a phone column, i.e.
    WHICH formats a free-text rule is actually facing. ASCII classes
    by contract (matches the reference's regex dialect); masks clip
    to ``max_chars`` so a long-text column cannot blow up the key.
    NULLs are excluded (they have no format).

    Output: column_name, mask, n — the k most frequent masks per
    column, count-desc with mask-asc tiebreak (engine-portable).

    SCALE: masks compute in the scan projection (regexp_replace
    chain, whole-stage codegen); ONE hash aggregate keyed by
    (column, clipped-mask) — bounded-width keys, map-side combined —
    then the per-column top-k is a WindowGroupLimit (map-side partial
    top-k) over the mask-vocabulary-sized count frame. Raw values
    never shuffle."""
    from .selection import top_k_per_group

    def mask(c):
        m = qcol(c).cast("string").substr(1, max_chars)
        for pat, rep in MASK_CLASSES:
            m = F.regexp_replace(m, pat, rep)
        return m

    frames = []
    for c in cols:
        frames.append(df.where(qcol(c).isNotNull())
                        .select(F.lit(c).alias("column_name"),
                                mask(c).alias("mask")))
    u = frames[0]
    for f in frames[1:]:
        u = u.unionByName(f)
    counts = (u.groupBy("column_name", "mask")
               .agg(F.count(F.lit(1)).cast("bigint").alias("n")))
    top = top_k_per_group(counts, ["column_name"], "n", k,
                          tiebreak_cols=["mask"])
    return top.select("column_name", "mask", "n")


def cramers_v(df: DataFrame, col_a: str, col_b: str,
              null_token: str = "__null__") -> DataFrame:
    """Cramér's V association between two categorical columns — the
    categorical twin of ``numeric_correlations``: V = sqrt(chi² /
    (n·(min(R,C)−1))) over the contingency table, 0 (independent) to 1
    (one column determines the other). A pair whose V jumps to 1.0
    (a join key accidentally copied into another column) or collapses
    to 0 (a derived label decoupled from its source) passes every
    single-column rule. NULL is a first-class category.

    Output (one row): col_a, col_b, n_rows, r_levels, c_levels,
    chi2 (4dp), cramers_v (6dp; 0.0 when either side has one level —
    association is undefined, reported as none).

    SCALE: ONE (a,b)-keyed hash aggregate builds the contingency table
    (shuffle is contingency-sized, map-side combined; raw rows never
    shuffle); marginals/totals are aggregates OF that small frame,
    joined back category-sized (AQE broadcasts them), and the final
    reduce is over contingency cells."""
    a = F.coalesce(qcol(col_a).cast("string"), F.lit(null_token))
    b = F.coalesce(qcol(col_b).cast("string"), F.lit(null_token))
    cells = (df.groupBy(a.alias("a"), b.alias("b"))
               .agg(F.count(F.lit(1)).cast("bigint").alias("n_ij")))
    rm = cells.groupBy("a").agg(F.sum("n_ij").alias("n_a"))
    cm = cells.groupBy("b").agg(F.sum("n_ij").alias("n_b"))
    tot = cells.agg(F.sum("n_ij").cast("double").alias("__n"),
                    F.count_distinct(F.col("a")).cast("bigint")
                     .alias("r_levels"),
                    F.count_distinct(F.col("b")).cast("bigint")
                     .alias("c_levels"))
    j = (cells.join(rm, "a").join(cm, "b").crossJoin(F.broadcast(tot)))
    e = F.col("n_a") * F.col("n_b") / F.col("__n")
    chi_term = F.pow(F.col("n_ij") - e, 2) / e
    # the contingency frame holds only OBSERVED cells; a structural
    # zero cell contributes (0−e)²/e = e, and Σe over the full R×C
    # grid is n — so the zero-cell mass folds in without materializing
    # the grid: chi² = Σ_obs[(n_ij−e)²/e] − Σ_obs e + n
    agg = j.agg((F.sum(chi_term) - F.sum(e) + F.max("__n")).alias("chi2"),
                F.max("__n").alias("__n"),
                F.max("r_levels").alias("r_levels"),
                F.max("c_levels").alias("c_levels"))
    mindim = F.least(F.col("r_levels"), F.col("c_levels")) - F.lit(1)
    # clamp at 0: under exact independence the folded sum is 0 up to
    # float error, and a −1e-12 residue must not become sqrt(NaN)
    chi2 = F.greatest(F.col("chi2"), F.lit(0.0))
    v = F.when(mindim > 0,
               F.sqrt(chi2 / (F.col("__n") * mindim))) \
         .otherwise(F.lit(0.0))
    return agg.select(F.lit(col_a).alias("col_a"),
                      F.lit(col_b).alias("col_b"),
                      F.col("__n").cast("bigint").alias("n_rows"),
                      "r_levels", "c_levels",
                      F.round(chi2, 4).alias("chi2"),
                      F.round(v, 6).alias("cramers_v"))


def null_patterns(df: DataFrame, cols: list[str], k: int = 20) -> DataFrame:
    """Top-``k`` row-level NULL co-occurrence patterns: which columns
    are missing TOGETHER. Per-column null counts (the profile stat)
    can't distinguish 'two columns each 10% null independently' from
    'the same 10% of rows lost both' — the pattern distribution can,
    and a new pattern appearing between snapshots points at the
    specific upstream writer that broke.

    Output: pattern ('1' = NULL, '0' = present, one char per column in
    the given order), null_cols (comma-joined names, '' for complete
    rows), n, share (of all rows, 6dp) — top-k by n desc, pattern asc.

    SCALE: the pattern assembles in the scan projection (a concat of
    per-column null flags — bounded width len(cols)); ONE hash
    aggregate keyed by it (≤2^len(cols) keys in theory, few in
    practice, map-side combined), a single-row total broadcast back,
    and a heap top-k. Raw rows never shuffle."""
    pat = F.concat(*[F.when(qcol(c).isNull(), F.lit("1"))
                      .otherwise(F.lit("0")) for c in cols])
    names = F.concat_ws(",", *[
        F.when(qcol(c).isNull(), F.lit(c)) for c in cols])
    counts = (df.groupBy(pat.alias("pattern"), names.alias("null_cols"))
                .agg(F.count(F.lit(1)).cast("bigint").alias("n")))
    total = counts.agg(F.coalesce(F.sum("n"), F.lit(0)).cast("double")
                        .alias("__t"))
    out = (counts.crossJoin(F.broadcast(total))
                 .select("pattern", "null_cols", "n",
                         F.round(F.col("n") / F.col("__t"), 6)
                          .alias("share")))
    return out.orderBy(F.desc("n"), F.asc("pattern")).limit(k)


def winsorized_stats(df: DataFrame, value_col: str,
                     lower_p: float = 0.01,
                     upper_p: float = 0.99) -> DataFrame:
    """Outlier-robust location/scale of a numeric column: mean and
    population-σ AFTER clamping values to the exact [p_lower, p_upper]
    percentile band, alongside the raw moments — the gap between the
    two pairs quantifies how much of the column's apparent variance is
    tail mass (a handful of sentinel 9999s can double a raw σ while
    the winsorized σ doesn't move; the IQR rule flags the rows, this
    summarizes the damage).

    Output (one row): n (non-null count), p_lo, p_hi (the clamp bounds,
    6dp), mean_raw, std_raw, mean_wins, std_wins (6dp; std is the
    POPULATION σ — stddev_pop — matching the oracle's replay).

    SCALE: two aggregates over the same scan subtree — the percentile
    pair, then the moments with the clamp folded in as expressions.
    Exact interpolated ``percentile`` keeps it oracle-checkable; at
    extreme cardinality swap in percentile_approx (sketch, one pass).
    Both shuffles move single-row aggregate frames, never row data."""
    v = qcol(value_col).cast("double")
    bounds = df.agg(
        F.percentile(v, F.lit(float(lower_p))).alias("__lo"),
        F.percentile(v, F.lit(float(upper_p))).alias("__hi"))
    # guard NULLs explicitly: greatest()/least() SKIP NULL arguments in
    # Spark, so an unguarded clamp would turn NULL into p_lo and pull
    # it into the winsorized moments
    w = F.when(v.isNotNull(),
               F.least(F.greatest(v, F.col("__lo")), F.col("__hi")))
    return (df.crossJoin(F.broadcast(bounds))
              .agg(F.count(v).cast("bigint").alias("n"),
                   F.round(F.max("__lo"), 6).alias("p_lo"),
                   F.round(F.max("__hi"), 6).alias("p_hi"),
                   F.round(F.avg(v), 6).alias("mean_raw"),
                   F.round(F.stddev_pop(v), 6).alias("std_raw"),
                   F.round(F.avg(w), 6).alias("mean_wins"),
                   F.round(F.stddev_pop(w), 6).alias("std_wins")))


def equidepth_histogram(df: DataFrame, value_col: str,
                        bins: int = 10) -> DataFrame:
    """Equi-DEPTH (quantile) histogram: ``bins`` buckets holding ~equal
    row counts, with exact interpolated percentile edges — where the
    equi-WIDTH histogram (drift.py:numeric_histogram) wastes 90% of its
    buckets on a heavy tail, the equi-depth one puts resolution where
    the mass is, and its edge VECTOR is itself the compact distribution
    fingerprint two snapshots can be compared on.

    Buckets: bin i ∈ [1, bins] covers (edge_{i-1}, edge_i], the first
    bin closed below (exactly-minimum values land in bin 1). Duplicate
    edges from heavy point masses yield empty interior bins (their mass
    sits in the FIRST bin sharing the edge value — strictly-below edge
    counting) — reported, not
    hidden, since vanishing interior bins are exactly how a collapsed
    distribution looks. NULLs are excluded; empty input → empty output.

    Output: bin (1-based int), lo, hi (6dp), n, share (6dp).

    Edges are rounded to 6dp BEFORE bucketing: exact linear
    interpolation is arithmetic-order-sensitive in floating point
    (lower + (upper-lower)*frac vs lower*(1-frac) + upper*frac differ
    in the last ulp), so two engines' "exact" percentiles can disagree
    by 1 ulp at an edge that coincides with a data value and silently
    move its ties between bins. Rounding pins the edge vector to a
    representation both this operator and any replay (the DuckDB
    oracle, a baseline snapshot from another engine) compute
    identically.

    SCALE: one exact-percentile aggregate produces the (bins+1)-row
    edge frame (swap percentile_approx in for sketch-grade speed); the
    bucket id is a broadcast-joined CASE expression evaluated in the
    scan, then ONE hash aggregate on ≤ ``bins`` keys. Raw rows never
    shuffle."""
    if bins < 1:
        raise ValueError("bins must be >= 1")
    v = qcol(value_col).cast("double")
    qs = [i / bins for i in range(bins + 1)]
    edges = df.agg(F.transform(
        F.percentile(v, F.array(*[F.lit(q) for q in qs])),
        lambda e: F.round(e, 6)).alias("__e"))
    # bucket = count of edges strictly below v, clamped to [1, bins]:
    # upper-inclusive bins with the first bin absorbing the minimum
    idx = F.aggregate(
        F.slice(F.col("__e"), 1, bins),           # edges 0..bins-1
        F.lit(0),
        lambda acc, e: acc + F.when(v > e, 1).otherwise(0))
    bucket = F.greatest(F.least(idx, F.lit(bins)), F.lit(1))
    counts = (df.where(v.isNotNull())
                .crossJoin(F.broadcast(edges))
                .groupBy(bucket.alias("bin"),
                         F.element_at("__e", bucket)
                          .alias("__lo"),
                         F.element_at("__e", bucket + 1)
                          .alias("__hi"))
                .agg(F.count(F.lit(1)).cast("bigint").alias("n")))
    total = counts.agg(F.sum("n").cast("double").alias("__t"))
    return (counts.crossJoin(F.broadcast(total))
                  .select(F.col("bin").cast("int"),
                          F.round("__lo", 6).alias("lo"),
                          F.round("__hi", 6).alias("hi"),
                          "n",
                          F.round(F.col("n") / F.col("__t"), 6)
                           .alias("share"))
                  .orderBy("bin"))


def gini_coefficient(df: DataFrame, value_col: str,
                     group_col: str | None = None) -> DataFrame:
    """Contribution-inequality screen: the Gini coefficient of a
    non-negative numeric column per group — 0 when every row
    contributes equally, →1 when one row carries everything. The
    corpus-curation use: doc-length Gini per source finds slices where
    a handful of mega-documents dominate the token mass (a dedup or
    share-cap pass will behave very differently there than the doc
    COUNT suggests).

    Uses the rank identity G = (2·Σ i·x_(i) − (n+1)·Σ x) / (n·Σ x)
    over values sorted ascending. Tied values make Σ i·x_(i) invariant
    to the tiebreak (equal x across the tied block), so any consistent
    row_number is exact — no tie pinning needed. NULLs are excluded;
    negative values raise the formula's preconditions, so they are
    excluded too and counted in the output for audit. A group whose
    total is 0 yields NULL gini.

    Output per group: group, n, n_negative, total, gini (6dp). Every
    group present in the input appears — a NULL group is a group (the
    audit frame is the join spine, left-joined NULL-SAFELY to the
    eligible-row aggregate, so neither a NULL group key nor an
    all-excluded group can silently vanish); a group with no eligible
    rows reports n = 0 and NULL total/gini.

    SCALE: the rank window shuffles ONLY (group, value) pairs — never
    row payloads — and sorts per group; the follow-up is one hash
    aggregate. At extreme per-group cardinality swap the exact rank
    for a bucketed approximation; exact keeps this oracle-checkable."""
    from pyspark.sql import Window

    v = qcol(value_col).cast("double")
    g = (F.lit("__all__") if group_col is None else
         qcol(group_col).cast("string")).alias("group")
    neg = (df.select(g, v.alias("__v"))
             .groupBy("group")
             .agg(F.count(F.when(F.col("__v") < 0, 1))
                   .cast("bigint").alias("n_negative")))
    vals = (df.select(g.alias("__g"), v.alias("__v"))
              .where(F.col("__v").isNotNull() & (F.col("__v") >= 0)))
    w = Window.partitionBy("__g").orderBy(F.col("__v").asc())
    ranked = vals.withColumn("__i", F.row_number().over(w).cast("double"))
    agg = (ranked.groupBy("__g")
                 .agg(F.count(F.lit(1)).cast("bigint").alias("__n"),
                      F.sum("__v").alias("__t"),
                      F.sum(F.col("__i") * F.col("__v")).alias("__iw")))
    return (neg.join(agg, F.col("group").eqNullSafe(F.col("__g")), "left")
               .select("group",
                       F.coalesce(F.col("__n"), F.lit(0).cast("bigint"))
                        .alias("n"),
                       "n_negative",
                       F.round(F.col("__t"), 6).alias("total"),
                       F.when(F.col("__t") > 0, F.round(
                           (2.0 * F.col("__iw")
                            - (F.col("__n") + 1) * F.col("__t"))
                           / (F.col("__n") * F.col("__t")), 6))
                        .alias("gini")))


def spearman_correlations(df: DataFrame, cols: list[str]) -> DataFrame:
    """Pairwise Spearman rank correlation — the robust twin of
    ``numeric_correlations``: Pearson on AVERAGE ranks, so it sees
    monotone-nonlinear coupling Pearson underreports and is immune to
    the heavy tails that dominate raw co-moments (one sentinel 9999
    can fake or hide a Pearson relationship; it moves a rank by one).

    Ranks are fractional (tied values share the mean of their rank
    block — the textbook definition), which makes the statistic
    tiebreak-free and engine-portable by construction. Each pair uses
    its PAIRWISE-complete subset (rows where both sides are non-null),
    matching SQL corr semantics and ``numeric_correlations``.

    Output: one row per unordered pair: col_a, col_b, spearman_rho
    (6dp; NULL when a side is constant), n_pairs.

    SCALE: ranks come from a DISTINCT-VALUE frame, not a row sort —
    per side: one (value → count) hash agg, a window over the
    distinct-value frame (vocab-sized) turning cumulative counts into
    average ranks, and a hash join back on the value. Raw rows shuffle
    once per pair side as join probes; nothing row-sized is ever
    globally sorted. Cost is per pair — keep ``cols`` to the QA set."""
    from functools import reduce
    from pyspark.sql import Window

    pairs = list(combinations(cols, 2))
    if not pairs:
        raise ValueError("spearman_correlations needs at least two columns")

    def _ranks(frame, side):
        cnt = (frame.groupBy(side)
                    .agg(F.count(F.lit(1)).cast("double").alias("__c")))
        w = (Window.orderBy(F.col(side).asc())
                   .rowsBetween(Window.unboundedPreceding, 0))
        return cnt.select(side,
                          (F.sum("__c").over(w) - F.col("__c")
                           + (F.col("__c") + 1.0) / 2.0).alias(f"__r{side}"))

    outs = []
    for a, b in pairs:
        ca, cb = qcol(a).cast("double"), qcol(b).cast("double")
        both = (df.where(ca.isNotNull() & cb.isNotNull())
                  .select(ca.alias("__a"), cb.alias("__b")))
        ranked = (both.join(_ranks(both, "__a"), "__a")
                      .join(_ranks(both, "__b"), "__b"))
        agg = ranked.agg(
            F.covar_pop("__r__a", "__r__b").alias("__cov"),
            F.stddev_pop("__r__a").alias("__sa"),
            F.stddev_pop("__r__b").alias("__sb"),
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"))
        rho = F.when((F.col("__sa") > 0) & (F.col("__sb") > 0),
                     F.round(F.col("__cov")
                             / (F.col("__sa") * F.col("__sb")), 6))
        outs.append(agg.select(F.lit(a).alias("col_a"),
                               F.lit(b).alias("col_b"),
                               rho.alias("spearman_rho"), "n_pairs"))
    return reduce(DataFrame.unionByName, outs)


def majority_share(df: DataFrame, group_col: str,
                   value_col: str) -> DataFrame:
    """Slice-purity screen: per group, the most common value of a
    categorical column and its share — the 'is this source really one
    language / one format' check (a source whose majority-lang share
    is 0.55 is a mixed crawl, whatever its label says). Ties pin
    deterministically to the lexicographically smallest value.

    Output per group: group, n_values (non-null), n_null, n_distinct,
    top_value, top_count, top_share (6dp; NULL when n_values = 0).
    Groups whose values are all NULL still appear (NULL top_value).

    SCALE: one (group, value) hash agg, then a rank window + rollup
    over that vocabulary-sized frame — raw rows never shuffle beyond
    the first map-side-combined aggregate; NULL group keys survive
    (groupBy keeps them and no equi-join sits behind them)."""
    from pyspark.sql import Window

    g = qcol(group_col).alias("group")
    v = qcol(value_col)
    counts = (df.groupBy(g, v.alias("__v"))
                .agg(F.count(F.lit(1)).cast("bigint").alias("__c")))
    w = Window.partitionBy("group").orderBy(
        F.col("__v").isNull().asc(),  # NULL value block ranks last
        F.col("__c").desc(), F.col("__v").asc())
    ranked = counts.withColumn("__rk", F.row_number().over(w))
    return (ranked.groupBy("group")
                  .agg(F.sum(F.when(F.col("__v").isNotNull(), F.col("__c"))
                              .otherwise(F.lit(0))).cast("bigint")
                        .alias("n_values"),
                       F.sum(F.when(F.col("__v").isNull(), F.col("__c"))
                              .otherwise(F.lit(0))).cast("bigint")
                        .alias("n_null"),
                       F.count(F.when(F.col("__v").isNotNull(), 1))
                        .cast("bigint").alias("n_distinct"),
                       F.max(F.when((F.col("__rk") == 1)
                                    & F.col("__v").isNotNull(),
                                    F.col("__v"))).alias("top_value"),
                       F.max(F.when((F.col("__rk") == 1)
                                    & F.col("__v").isNotNull(),
                                    F.col("__c"))).cast("bigint")
                        .alias("top_count"))
                  .select("group", "n_values", "n_null", "n_distinct",
                          "top_value", "top_count",
                          F.when(F.col("n_values") > 0,
                                 F.round(F.col("top_count").cast("double")
                                         / F.col("n_values"), 6))
                           .alias("top_share")))


def variance_explained(df: DataFrame, value_col: str,
                       group_col: str) -> DataFrame:
    """One-way variance decomposition (eta² + ANOVA F): how much of a
    numeric column's variance a categorical column explains — the
    cross-type companion to ``cramers_v`` (cat↔cat) and
    ``numeric_correlations`` (num↔num). The QA reading: latency
    variance suddenly 90% explained by `source` means one slice broke;
    a derived metric whose eta² against its driving dimension drops to
    0 has decoupled.

    eta² = SS_between / SS_total; F = (SS_b/(k−1)) / (SS_w/(n−k)).
    NULL values are excluded; a NULL group key is a group. eta² is
    NULL when SS_total = 0 (constant column), F additionally NULL
    when the within-group dof or SS is 0.

    Output (one row): n, n_groups, ss_total, ss_between (2dp — they
    are differences of large sums, pinned below float noise), eta_sq,
    f_stat (6dp).

    SCALE: ONE map-side-combined hash agg keyed by the group produces
    (n, Σx, Σx²) per group; everything else is arithmetic over the
    #groups-sized frame collapsed to a single row. Rows never shuffle."""
    v = qcol(value_col).cast("double")
    per = (df.where(v.isNotNull())
             .groupBy(qcol(group_col).alias("__g"))
             .agg(F.count(F.lit(1)).cast("double").alias("__n"),
                  F.sum(v).alias("__s"),
                  F.sum(v * v).alias("__ss")))
    tot = per.agg(F.sum("__n").alias("__N"),
                  F.sum("__s").alias("__S"),
                  F.sum("__ss").alias("__SS"),
                  F.sum(F.col("__s") * F.col("__s") / F.col("__n"))
                   .alias("__SB"),
                  F.count(F.lit(1)).cast("bigint").alias("n_groups"))
    sst = F.col("__SS") - F.col("__S") * F.col("__S") / F.col("__N")
    ssb = F.col("__SB") - F.col("__S") * F.col("__S") / F.col("__N")
    ssw = sst - ssb
    k = F.col("n_groups").cast("double")
    f_stat = F.when((k > 1) & (F.col("__N") > k) & (ssw > 0),
                    (ssb / (k - 1)) / (ssw / (F.col("__N") - k)))
    return tot.select(
        F.col("__N").cast("bigint").alias("n"), "n_groups",
        F.round(sst, 2).alias("ss_total"),
        F.round(ssb, 2).alias("ss_between"),
        F.when(sst > 0, F.round(ssb / sst, 6)).alias("eta_sq"),
        F.round(f_stat, 6).alias("f_stat"))


def uncertainty_coefficient(df: DataFrame, x_col: str, y_col: str,
                            null_token: str = "__null__") -> DataFrame:
    """Theil's uncertainty coefficient between two categorical columns
    — the ASYMMETRIC association ``cramers_v`` can't express:
    U(Y|X) = (H(Y) − H(Y|X)) / H(Y) is the fraction of Y's entropy
    that knowing X removes. Direction matters in data QA: source may
    fully determine lang (U(lang|source)=1) while lang barely narrows
    source — a derived column's U against its driver dropping from 1
    is the decoupling tripwire, and the reverse direction staying low
    is what proves it's a derivation, not a 1:1 alias.

    NULL is a category (``null_token``), matching ``column_entropy``
    — a null-flood is association-relevant. Output (one row): n,
    h_x, h_y, h_y_given_x, h_x_given_y, u_y_given_x, u_x_given_y
    (bits, 6dp; U is NULL when the conditioned entropy is 0 —
    a constant column has nothing to explain).

    SCALE: ONE map-side-combined hash agg builds the (x, y) joint
    count frame; marginals and entropies are joins/aggregates over
    that vocabulary²-sized frame. Rows shuffle once."""
    x = F.coalesce(qcol(x_col).cast("string"), F.lit(null_token))
    y = F.coalesce(qcol(y_col).cast("string"), F.lit(null_token))
    joint = (df.groupBy(x.alias("__x"), y.alias("__y"))
               .agg(F.count(F.lit(1)).cast("double").alias("__c")))
    mx = joint.groupBy("__x").agg(F.sum("__c").alias("__cx"))
    my = joint.groupBy("__y").agg(F.sum("__c").alias("__cy"))
    tot = joint.agg(F.sum("__c").alias("__n"))
    j = (joint.join(mx, "__x").join(my, "__y")
              .crossJoin(F.broadcast(tot)))
    p = F.col("__c") / F.col("__n")
    agg = j.agg(
        F.max("__n").alias("__N"),
        (-F.sum(p * F.log2(F.col("__cx") / F.col("__n")))).alias("__hx"),
        (-F.sum(p * F.log2(F.col("__cy") / F.col("__n")))).alias("__hy"),
        (-F.sum(p * F.log2(F.col("__c") / F.col("__cx"))))
         .alias("__hy_x"),
        (-F.sum(p * F.log2(F.col("__c") / F.col("__cy"))))
         .alias("__hx_y"))
    return agg.select(
        F.col("__N").cast("bigint").alias("n"),
        F.round("__hx", 6).alias("h_x"),
        F.round("__hy", 6).alias("h_y"),
        F.round("__hy_x", 6).alias("h_y_given_x"),
        F.round("__hx_y", 6).alias("h_x_given_y"),
        F.when(F.col("__hy") > 1e-12,
               F.round((F.col("__hy") - F.col("__hy_x")) / F.col("__hy"),
                       6)).alias("u_y_given_x"),
        F.when(F.col("__hx") > 1e-12,
               F.round((F.col("__hx") - F.col("__hx_y")) / F.col("__hx"),
                       6)).alias("u_x_given_y"))


def robust_outliers(df: DataFrame, id_col: str, feature_cols: list[str],
                    *, k: float = 5.0, mad_floor: float = 1e-9,
                    exact: bool = False) -> DataFrame:
    """Multivariate robust outlier screen: every feature of every
    entity scored against that FEATURE's own median + MAD, emitting the
    (entity, feature) pairs whose deviation exceeds ``k`` — the
    conversation-level generalization of ``volume_anomalies``'s
    single-series screen ('which conversations are abnormal, and in
    which dimension': a 40k-turn conversation flags on n_turns, a
    wall-of-text one on char mass — each with the feature named, not a
    single opaque score). Input is an ALREADY-AGGREGATED per-entity
    feature frame (one row per entity), so the screen composes with any
    upstream hash agg.

    Output: (id, feature, value, median_val, mad, deviation) where
    deviation = |value − median| / max(MAD, ``mad_floor``), 6dp-pinned,
    sorted-free. NULL feature values are skipped (no row). A
    zero-MAD feature (most entities identical) flags ANY differing
    entity — the desired behavior for 'this column should be constant',
    tune ``mad_floor`` up to damp it.

    SCALE: the melt is a scan-side stack (#entities × #features narrow
    rows); per-feature median/MAD default to ``percentile_approx``
    sketches (single-pass, mergeable, no per-group value buffering) —
    ``exact=True`` switches to exact percentiles for oracle replay at
    test scale. The stats frame is #features-sized and broadcast back;
    no window, no collect. The melted frame appears in four plan
    branches, but its exchange subtree is identical in each, so AQE
    exchange reuse computes the upstream input ONCE at runtime
    (ReusedExchange — plan-guard tested); callers may still persist a
    costly upstream feature frame themselves for explicitness."""
    if not feature_cols:
        raise ValueError("feature_cols must be non-empty")
    pfun = "percentile" if exact else "percentile_approx"
    pairs = ", ".join(f"'{c}', cast(`{c}` as double)"
                      for c in feature_cols)
    melted = (df.select(qcol(id_col).alias("id"),
                        F.expr(f"stack({len(feature_cols)}, {pairs})")
                         .alias("feature", "value"))
                .where(F.col("value").isNotNull()))
    med = (melted.groupBy("feature")
                 .agg(F.expr(f"{pfun}(value, 0.5)").alias("median_val")))
    j = melted.join(F.broadcast(med), "feature")
    mad = (j.groupBy("feature")
            .agg(F.expr(f"{pfun}(abs(value - median_val), 0.5)")
                  .alias("mad")))
    dev = (F.abs(F.col("value") - F.col("median_val"))
           / F.greatest(F.col("mad"), F.lit(float(mad_floor))))
    return (j.join(F.broadcast(mad), "feature")
             .withColumn("deviation", F.round(dev, 6))
             .where(F.col("deviation") > F.lit(float(k)))
             .select("id", "feature", F.round("value", 6).alias("value"),
                     F.round("median_val", 6).alias("median_val"),
                     F.round("mad", 6).alias("mad"), "deviation"))


def quality_trend(df: DataFrame, group_col: str, ts_col: str,
                  value_col: str) -> DataFrame:
    """Per-slice metric TREND over weekly buckets: is a source's
    quality signal (score, length, rating, latency) drifting over
    time, and how fast? The longitudinal companion to the snapshot
    drift checks — drift says "this week differs from baseline",
    trend says "it has been sliding 0.4/week for a month".

    Per group: weekly bucket averages (date_trunc to Monday, UTC
    session timezone), then an OLS slope of bucket-average vs
    bucket-index (units: value per week) via ``regr_slope`` — each
    bucket weighs equally, so one huge week cannot masquerade as a
    trend. Buckets with only NULL values drop (no average exists);
    NULL group keeps its own trend row; NULL ts rows are excluded
    (no bucket).

    Output: ``group (string), n_buckets, first_week (date),
    last_week (date), overall_avg, slope_per_week`` — slope is NULL
    when fewer than 2 buckets exist (regression undefined).

    SCALE: two-stage — raw rows collapse map-side into (group, week)
    partial sums (one shuffle keyed by a LOW-cardinality composite,
    weeks × groups rows), then a per-group regression over the tiny
    bucket frame.

    ENGINE-PORTABLE ARITHMETIC: bucket averages are rounded to 6dp,
    converted to exact integer micro-units, and the OLS moments
    (Σx, Σx², Σy, Σxy with x = integer week index) are summed as
    BIGINTs — exact, order-independent, overflow-safe to ~10-year
    spans (|Σxy| ≤ weeks·weekidx·|y|µ ≈ 5e13 « 2^63). Only the final
    num/den division happens in doubles (one IEEE-exact operation on
    identical inputs), then rounds in integer micro-space — so any
    engine replaying the formula produces the bit-identical slope.
    ``regr_slope`` was abandoned here deliberately: its float
    accumulation order differs per engine and flips the 6th decimal
    (observed in round-3 driver runs)."""
    wk = F.date_trunc("week", qcol(ts_col))
    per = (df.where(qcol(ts_col).isNotNull())
             .groupBy(qcol(group_col).cast("string").alias("group"),
                      wk.alias("__wk"))
             .agg(F.round(F.avg(qcol(value_col)), 6).alias("__avg"))
             .where(F.col("__avg").isNotNull())
             .select("group", "__wk",
                     F.round(F.col("__avg") * F.lit(1000000.0), 0)
                      .cast("bigint").alias("__y"),
                     # Monday-truncated epochs are a constant offset
                     # from week multiples, so floor(epoch/604800) is
                     # a clean integer index (slope is shift-invariant)
                     F.floor(F.unix_timestamp(F.col("__wk"))
                             / F.lit(604800)).cast("bigint").alias("__x")))
    g = (per.groupBy("group")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_buckets"),
                 F.min(F.col("__wk").cast("date")).alias("first_week"),
                 F.max(F.col("__wk").cast("date")).alias("last_week"),
                 F.sum("__x").alias("__sx"),
                 F.sum(F.col("__x") * F.col("__x")).alias("__sxx"),
                 F.sum("__y").alias("__sy"),
                 F.sum(F.col("__x") * F.col("__y")).alias("__sxy")))
    n = F.col("n_buckets")
    num = n * F.col("__sxy") - F.col("__sx") * F.col("__sy")
    den = n * F.col("__sxx") - F.col("__sx") * F.col("__sx")
    slope = F.when(
        (n >= 2) & (den != 0),
        F.round(num.cast("double") / den.cast("double"), 0)
        / F.lit(1000000.0))
    overall = (F.round(F.col("__sy").cast("double") / n.cast("double"), 0)
               / F.lit(1000000.0))
    return g.select("group", "n_buckets", "first_week", "last_week",
                    overall.alias("overall_avg"),
                    slope.alias("slope_per_week"))


def cohens_kappa(df: DataFrame, item_col: str, rater_col: str,
                 label_col: str, rater_a, rater_b) -> DataFrame:
    """Inter-rater agreement (Cohen's κ) between two named raters over
    the items BOTH rated — the labeled-data QA stat raw agreement
    can't replace: two raters who both answer "ok" 95% of the time
    agree 90%+ by chance alone; κ discounts exactly that.

    Input shape: one row per (item, rater) with a label; rows with a
    NULL label are unrated (excluded). If a rater labeled the same
    item more than once, the GREATEST label wins (deterministic under
    shuffle retries). Items rated by only one of the two raters drop
    (no agreement is defined there).

    Output (one row): ``n_items, n_agree, po, pe, kappa`` — observed
    agreement, chance agreement from the two raters' marginal label
    distributions, and κ = (po − pe)/(1 − pe); κ is NULL when pe = 1
    (both raters constant — agreement is all chance, κ undefined).

    ENGINE-PORTABLE ARITHMETIC: po, pe, κ are ratios of exact BIGINT
    counts — κ = (n·agree − Σ_k na_k·nb_k) / (n² − Σ_k na_k·nb_k) —
    rounded in integer micro-space after one double division each, so
    any engine replaying the formula agrees bit-identically (same
    scheme as ``quality_trend``).

    SCALE: two per-rater hash aggregates keyed by item, one item-keyed
    equi-join, then ONE count aggregate; the marginal product Σna·nb
    runs on label-vocabulary-sized frames. Labels shuffle as strings
    once; no windows, no collects beyond the 1-row result."""
    base = df.where(qcol(label_col).isNotNull())

    def _side(rater, out):
        return (base.where(qcol(rater_col) == F.lit(rater))
                    .groupBy(qcol(item_col).alias("__i"))
                    .agg(F.max(qcol(label_col).cast("string")).alias(out)))

    j = _side(rater_a, "__la").join(_side(rater_b, "__lb"), "__i")
    tot = j.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_items"),
        F.sum(F.when(F.col("__la") == F.col("__lb"), 1).otherwise(0))
         .cast("bigint").alias("n_agree"))
    # marginal product Σ_k na_k · nb_k from the SAME joined frame
    ma = j.groupBy(F.col("__la").alias("__k")) \
          .agg(F.count(F.lit(1)).cast("bigint").alias("__na"))
    mb = j.groupBy(F.col("__lb").alias("__k")) \
          .agg(F.count(F.lit(1)).cast("bigint").alias("__nb"))
    prod = (ma.join(mb, "__k")
              .agg(F.coalesce(F.sum(F.col("__na") * F.col("__nb")),
                              F.lit(0)).cast("bigint").alias("__s")))
    n = F.col("n_items")
    s = F.col("__s")
    micro = F.lit(1000000.0)

    def _r6(num, den):
        return F.round(micro * num.cast("double") / den.cast("double"), 0) \
               / micro

    num_k = n * F.col("n_agree") - s
    den_k = n * n - s
    return (tot.crossJoin(prod)  # two 1-row frames
               .select("n_items", "n_agree",
                       F.when(n > 0, _r6(F.col("n_agree"), n)).alias("po"),
                       F.when(n > 0, _r6(s, n * n)).alias("pe"),
                       F.when((n > 0) & (den_k != 0), _r6(num_k, den_k))
                        .alias("kappa")))


def fleiss_kappa(df: DataFrame, item_col: str, rater_col: str,
                 label_col: str, n_raters: int) -> DataFrame:
    """Multi-rater agreement (Fleiss' κ) over items with EXACTLY
    ``n_raters`` ratings — the panel generalization of Cohen's κ for
    consensus-labeled data (e.g. 5 annotators per document). Items
    with a different rating count are excluded (Fleiss assumes a
    constant panel size) and reported in ``n_items_excluded``; one
    rating per (item, rater) row, NULL labels unrated.

    Output (one row): ``n_items, n_items_excluded, p_bar (mean
    per-item agreement), p_e (chance agreement from pooled label
    shares), kappa``; κ is NULL when p_e = 1.

    ARITHMETIC: P̄ = S1 / (N·n·(n−1)) with S1 = Σ_ij n_ij(n_ij−1) and
    P_e = Σ_j T_j² / (N·n)² — all moments are exact BIGINT sums, then
    a FIXED-expression double formula (identical operand values +
    operation order ⇒ bit-identical across engines; the hazard is
    order-varying float accumulation, which exact integer sums
    remove). Overflow: T_j ≤ N·n, T_j² ≤ (N·n)² — N·n beyond ~3×10⁹
    would overflow the square's int64, so T_j is summed as DOUBLE of
    exact integers after the per-label aggregate (exact to 2^53).

    SCALE: one (item, label) hash aggregate (map-side combined), one
    item-sized agg for panel filtering, label-vocab-sized marginals;
    1-row output."""
    base = df.where(qcol(label_col).isNotNull())
    cell = (base.groupBy(qcol(item_col).alias("__i"),
                         qcol(label_col).cast("string").alias("__k"))
                .agg(F.count(F.lit(1)).cast("bigint").alias("__c")))
    per_item = (cell.groupBy("__i")
                    .agg(F.sum("__c").alias("__nr"),
                         F.sum(F.col("__c") * (F.col("__c") - 1))
                          .alias("__s1")))
    kept = per_item.where(F.col("__nr") == n_raters)
    excl = per_item.where(F.col("__nr") != n_raters) \
                   .agg(F.count(F.lit(1)).cast("bigint")
                         .alias("n_items_excluded"))
    tot = kept.agg(F.count(F.lit(1)).cast("bigint").alias("n_items"),
                   F.coalesce(F.sum("__s1"), F.lit(0)).cast("bigint")
                    .alias("__S1"))
    tj = (cell.join(kept.select("__i"), "__i")
              .groupBy("__k")
              .agg(F.sum("__c").cast("double").alias("__t")))
    sq = tj.agg(F.coalesce(F.sum(F.col("__t") * F.col("__t")),
                           F.lit(0.0)).alias("__T2"))
    n_i = F.col("n_items").cast("double")
    nr = F.lit(float(n_raters))
    p_bar = F.col("__S1").cast("double") / (n_i * nr * (nr - 1))
    p_e = F.col("__T2") / (n_i * nr * n_i * nr)
    micro = F.lit(1000000.0)

    def _r6(x):
        return F.round(micro * x, 0) / micro

    kappa = F.when(p_e != 1.0, _r6((p_bar - p_e) / (1.0 - p_e)))
    ok = (F.col("n_items") > 0) & (F.lit(n_raters) >= 2)
    return (tot.crossJoin(excl).crossJoin(sq)  # three 1-row frames
               .select("n_items", "n_items_excluded",
                       F.when(ok, _r6(p_bar)).alias("p_bar"),
                       F.when(ok, _r6(p_e)).alias("p_e"),
                       F.when(ok, kappa).alias("kappa")))


def simpsons_flips(df: DataFrame, x_col: str, y_col: str,
                   group_col: str) -> DataFrame:
    """Simpson's-paradox screen: does the x→y relationship REVERSE
    inside any slice of ``group_col`` relative to the pooled data?
    The aggregation hazard every per-slice quality report walks into —
    "discount raises spend overall" can be "discount lowers spend in
    every segment" when segment sizes confound; a report that never
    checks will ship the wrong sign.

    Per group: n, the OLS slope of y on x, the pooled slope, and
    ``flipped`` (both slopes defined and of strictly opposite sign —
    zero slopes never flip). NULL x or y rows drop pairwise; a NULL
    group is a real slice.

    ENGINE-PORTABLE ARITHMETIC: x/y are quantized to DECIMAL(18,6), so
    the moment sums Σx, Σy, Σxy, Σx² are EXACT and order-independent
    (decimal addition is exact; double summation order is the
    cross-engine hazard); each slope divides the exact moments as
    doubles (fixed expression), rounding in integer micro-space.
    DECIMAL(18,6) — not wider — because the cross-product must fit
    precision 38 WITHOUT rounding in every engine (18+18+1 = 37;
    (28,10)² would silently round in Spark and overflow DuckDB).
    Value contract: |x|, |y| < 10^12 and 6dp input resolution.

    SCALE: ONE hash aggregate over the row data produces the
    groups-sized moment frame; the POOLED moments re-aggregate that
    tiny frame (sums of exact decimal sums — still exact, no second
    scan, no rollup double-shuffle) and broadcast back. Row data moves
    exactly once."""
    x = qcol(x_col).cast("double")
    y = qcol(y_col).cast("double")
    both = x.isNotNull() & y.isNotNull()
    xd = F.when(both, x).cast("decimal(18,6)")
    yd = F.when(both, y).cast("decimal(18,6)")
    per = (df.select(qcol(group_col).cast("string").alias("group"),
                     xd.alias("__xd"), yd.alias("__yd"))
             .groupBy("group")
             .agg(F.count(F.col("__xd")).cast("bigint").alias("n_pairs"),
                  F.sum("__xd").alias("__sx"), F.sum("__yd").alias("__sy"),
                  F.sum(F.col("__xd") * F.col("__yd")).alias("__sxy"),
                  F.sum(F.col("__xd") * F.col("__xd")).alias("__sxx")))

    def _slope(n_c, sx, sy, sxy, sxx):
        n = n_c.cast("double")
        num = n * sxy.cast("double") - sx.cast("double") * sy.cast("double")
        den = n * sxx.cast("double") - sx.cast("double") * sx.cast("double")
        return F.when((n_c >= 2) & (den != 0),
                      F.round(F.lit(1000000.0) * num / den, 0)
                      / F.lit(1000000.0))

    tot = per.agg(F.coalesce(F.sum("n_pairs"), F.lit(0)).alias("__tn"),
                  F.sum("__sx").alias("__tsx"), F.sum("__sy").alias("__tsy"),
                  F.sum("__sxy").alias("__tsxy"),
                  F.sum("__sxx").alias("__tsxx"))
    pooled = tot.select(
        _slope(F.col("__tn"), F.col("__tsx"), F.col("__tsy"),
               F.col("__tsxy"), F.col("__tsxx")).alias("pooled_slope"))
    slope = _slope(F.col("n_pairs"), F.col("__sx"), F.col("__sy"),
                   F.col("__sxy"), F.col("__sxx"))
    flipped = (F.col("slope").isNotNull()
               & F.col("pooled_slope").isNotNull()
               & (F.signum(F.col("slope"))
                  * F.signum(F.col("pooled_slope")) < 0))
    return (per.select("group", "n_pairs", slope.alias("slope"))
               .crossJoin(F.broadcast(pooled))
               .select("group", "n_pairs", "slope", "pooled_slope",
                       flipped.alias("flipped")))


def rate_significance(df: DataFrame, flag: "F.Column", group_col: str,
                      z_crit: float = 3.0) -> DataFrame:
    """Which slices have a STATISTICALLY different incidence of a
    predicate (violation, low-quality, PII hit) than the rest of the
    corpus? Raw per-slice rates mislead twice: a tiny slice's extreme
    rate is noise, and a huge slice's 0.2% excess is real. The
    two-proportion pooled z-test scores both correctly.

    Per group: n (predicate-evaluable rows), k (predicate-true), the
    slice rate, the COMPLEMENT'S rate (everything outside the slice),
    z = (p₁ − p₂)/√(p̂(1−p̂)(1/n₁ + 1/n₂)) with p̂ the pooled rate, and
    ``significant`` (|z| ≥ z_crit; default 3.0 ≈ α 0.0027 two-sided —
    multiple-comparison headroom across many slices). z is NULL when
    the complement is empty or the pooled rate is degenerate (0 or 1:
    no variance, nothing to test). Rows where the predicate is NULL
    are excluded from n; a NULL group is a real slice.

    ENGINE-PORTABLE: n, k are exact BIGINTs; every rate and z is a
    fixed-expression double over those integers, rounded in integer
    micro-space — bit-replayable in any SQL engine.

    SCALE: ONE hash aggregate to the groups-sized frame; totals come
    from re-aggregating THAT frame (no second scan) and broadcast
    back. Row data shuffles once, as (group, two ints) partials."""
    evaluable = flag.isNotNull()
    per = (df.where(evaluable)
             .groupBy(qcol(group_col).cast("string").alias("group"))
             .agg(F.count(F.lit(1)).cast("bigint").alias("n"),
                  F.sum(F.when(flag, 1).otherwise(0)).cast("bigint")
                   .alias("k")))
    tot = per.agg(F.coalesce(F.sum("n"), F.lit(0)).alias("__N"),
                  F.coalesce(F.sum("k"), F.lit(0)).alias("__K"))
    j = per.crossJoin(F.broadcast(tot))
    micro = F.lit(1000000.0)

    def _r6(xpr):
        return F.round(micro * xpr, 0) / micro

    n1 = F.col("n").cast("double")
    k1 = F.col("k").cast("double")
    n2 = (F.col("__N") - F.col("n")).cast("double")
    k2 = (F.col("__K") - F.col("k")).cast("double")
    p1, p2 = k1 / n1, k2 / n2
    pool = (F.col("__K").cast("double")) / (F.col("__N").cast("double"))
    se = F.sqrt(pool * (1.0 - pool) * (1.0 / n1 + 1.0 / n2))
    z = F.when((n2 > 0) & (pool > 0) & (pool < 1), (p1 - p2) / se)
    return j.select(
        "group", "n", "k", _r6(p1).alias("rate"),
        F.when(n2 > 0, _r6(p2)).alias("rest_rate"),
        _r6(z).alias("z"),
        F.when(z.isNotNull(), F.abs(z) >= F.lit(float(z_crit)))
         .alias("significant"))


def null_rate_by_slice(df: DataFrame, cols: list[str], group_col: str,
                       z_crit: float = 3.0) -> DataFrame:
    """Per-(slice, column) COMPLETENESS screen: which slice's null
    rate for which column is statistically different from the rest of
    the corpus? The one-crawl-source-stopped-sending-a-field bug —
    the corpus null rate barely moves (profile passes), the slice is
    100% null. Scored with the same pooled two-proportion z-test as
    ``rate_significance``, per column, in ONE pass.

    Output per (group, column_name): n, n_null, rate, rest_rate, z,
    significant (|unrounded z| ≥ z_crit; NULL when the complement is
    empty or the pooled rate is 0/1). A NULL group is a real slice.

    ENGINE-PORTABLE: counts are exact BIGINTs, rates/z fixed-
    expression doubles, micro-rounded.

    SCALE: the row is melted scan-side to (column_name, is_null) —
    len(cols)× map-side rows but the shuffle keys are only
    (#groups × #cols) after the map-side combine; column totals
    re-aggregate THAT frame (no second scan) and join back
    vocab-sized. Raw values never shuffle (only null bits)."""
    pairs = F.explode(F.array(*[
        F.struct(F.lit(c).alias("column_name"),
                 qcol(c).isNull().cast("int").alias("isn"))
        for c in cols])).alias("p")
    per = (df.select(qcol(group_col).cast("string").alias("group"), pairs)
             .select("group", "p.column_name", "p.isn")
             .groupBy("group", "column_name")
             .agg(F.count(F.lit(1)).cast("bigint").alias("n"),
                  F.sum("isn").cast("bigint").alias("n_null")))
    tot = (per.groupBy("column_name")
              .agg(F.sum("n").cast("bigint").alias("__N"),
                   F.sum("n_null").cast("bigint").alias("__K")))
    j = per.join(tot, "column_name")
    micro = F.lit(1000000.0)

    def _r6(xpr):
        return F.round(micro * xpr, 0) / micro

    n1 = F.col("n").cast("double")
    k1 = F.col("n_null").cast("double")
    n2 = (F.col("__N") - F.col("n")).cast("double")
    k2 = (F.col("__K") - F.col("n_null")).cast("double")
    p1, p2 = k1 / n1, k2 / n2
    pool = F.col("__K").cast("double") / F.col("__N").cast("double")
    se = F.sqrt(pool * (1.0 - pool) * (1.0 / n1 + 1.0 / n2))
    z = F.when((n2 > 0) & (pool > 0) & (pool < 1), (p1 - p2) / se)
    return j.select(
        "group", "column_name", "n", "n_null", _r6(p1).alias("rate"),
        F.when(n2 > 0, _r6(p2)).alias("rest_rate"),
        _r6(z).alias("z"),
        F.when(z.isNotNull(), F.abs(z) >= F.lit(float(z_crit)))
         .alias("significant"))


def last_digit_uniformity(df: DataFrame, value_col: str,
                          min_magnitude: float = 10.0) -> DataFrame:
    """LAST-digit distribution of a numeric column's integer part vs
    uniform — the complement of ``benford_digits``: first digits of
    natural data follow Benford, last digits should be NOISE (uniform
    1/10). Hand-rounded prices, binned synthetic values, or a
    generator that only emits .0/.5 endings light up here while
    passing Benford, range, and null checks.

    Values with |v| < ``min_magnitude`` are excluded (a 1-digit
    value's last digit IS its first digit — Benford-skewed by
    nature, not evidence of tampering); NULLs excluded. Output
    (≤10 rows): digit, n, share, uniform_share (0.1), chi2_term
    ((n−E)²/E, E = total/10; the 9-dof chi-square sums over rows).

    ENGINE-PORTABLE: counts exact BIGINTs; share and chi2 are fixed-
    expression doubles micro-rounded. SCALE: one hash aggregate on a
    1-of-10 int key, map-side combined; a 1-row total broadcast back
    over the ≤10-row frame."""
    v = F.abs(qcol(value_col).cast("double"))
    digit = F.pmod(F.floor(v), F.lit(10)).cast("int")
    counts = (df.where(qcol(value_col).isNotNull()
                       & (v >= float(min_magnitude)))
                .groupBy(digit.alias("digit"))
                .agg(F.count(F.lit(1)).cast("bigint").alias("n")))
    total = counts.agg(F.coalesce(F.sum("n"), F.lit(0))
                        .cast("bigint").alias("__total"))
    j = counts.crossJoin(F.broadcast(total))
    micro = F.lit(1000000.0)

    def _r6(xpr):
        return F.round(micro * xpr, 0) / micro

    tot_d = F.col("__total").cast("double")
    exp = tot_d / 10.0
    dev = F.col("n").cast("double") - exp
    return (j.select("digit", "n",
                     _r6(F.col("n").cast("double") / tot_d).alias("share"),
                     F.lit(0.1).alias("uniform_share"),
                     _r6(dev * dev / exp).alias("chi2_term")))


def mann_whitney(df: DataFrame, value_col: str, side_col: str,
                 side_a, side_b, z_crit: float = 3.0) -> DataFrame:
    """Mann–Whitney U (Wilcoxon rank-sum) two-sample screen: does a
    numeric column's DISTRIBUTION differ between two named slices?
    The nonparametric twin of a means test — a latency column whose
    median doubled for one tool, or a quality score one source
    systematically undercuts, lights up here even when heavy tails
    make the means (and any t-style statistic) meaningless. Unlike
    ``ks_drift`` this needs no caller-fixed edge grid and yields a
    calibrated z.

    Rows with a NULL/NaN value or a side other than ``side_a`` /
    ``side_b`` are excluded. Ties get textbook average ranks, and the
    normal approximation uses the tie-corrected variance
    Var = (n_a·n_b/12)·((n+1) − Σ(t³−t)/(n(n−1))).

    Output (one row): ``n_a, n_b, u_a, u_b, mean_rank_a,
    mean_rank_b, z, significant`` — z is NULL when either side is
    empty or every value is tied (zero variance); ``significant``
    compares the UNROUNDED |z| to ``z_crit``.

    ENGINE-PORTABLE: rank sums are computed in the EXACT integer
    domain — 2·R_a = Σ_v c_a(v)·(2·cum_less(v) + c(v) + 1) as
    DECIMAL(38,0) (average ranks are halves, so doubling makes every
    term an integer); the tie term Σ(c³−c) likewise. u/z are fixed-
    expression doubles over those integers, micro-rounded (6dp) —
    bit-replayable in any SQL engine.

    SCALE: row data shuffles ONCE as (value → two counts) hash-agg
    partials (map-side combined); the rank window runs over the
    DISTINCT-VALUE frame (vocab-sized — same contract as
    ``spearman_correlations``: quantize a continuous column first at
    extreme cardinality), then ONE 1-row aggregate. No row sort, no
    UDFs, no collects."""
    from pyspark.sql import Window

    v = qcol(value_col).cast("double")
    s = qcol(side_col).cast("string")
    sa, sb = str(side_a), str(side_b)
    base = (df.where(v.isNotNull() & ~F.isnan(v) & s.isin([sa, sb]))
              .select(v.alias("__v"), s.alias("__s")))
    cnt = (base.groupBy("__v")
               .agg(F.sum(F.when(F.col("__s") == sa, 1).otherwise(0))
                     .cast("bigint").alias("__ca"),
                    F.sum(F.when(F.col("__s") == sb, 1).otherwise(0))
                     .cast("bigint").alias("__cb")))
    c = (F.col("__ca") + F.col("__cb")).cast("bigint")
    w = (Window.orderBy(F.col("__v").asc())
               .rowsBetween(Window.unboundedPreceding, 0))
    ranked = cnt.select(
        "__ca", "__cb", c.alias("__c"),
        (F.sum(c).over(w) - c).cast("bigint").alias("__cum"))
    dec = "decimal(38,0)"
    agg = ranked.agg(
        F.coalesce(F.sum("__ca"), F.lit(0)).cast("bigint").alias("n_a"),
        F.coalesce(F.sum("__cb"), F.lit(0)).cast("bigint").alias("n_b"),
        F.coalesce(F.sum(F.col("__ca").cast(dec)
                         * (2 * F.col("__cum") + F.col("__c") + 1)
                          .cast(dec)),
                   F.lit(0)).cast(dec).alias("__r2a"),
        F.coalesce(F.sum(F.col("__c").cast(dec) * F.col("__c")
                         * F.col("__c") - F.col("__c")),
                   F.lit(0)).cast(dec).alias("__ties"))
    micro = F.lit(1000000.0)

    def _r6(xpr):
        return F.round(micro * xpr, 0) / micro

    na = F.col("n_a").cast("double")
    nb = F.col("n_b").cast("double")
    n = na + nb
    # 2·U_a = 2·R_a − n_a(n_a+1); U_b = n_a·n_b − U_a
    u_a = (F.col("__r2a").cast("double")
           - na * (na + 1.0)) / 2.0
    u_b = na * nb - u_a
    both = (F.col("n_a") > 0) & (F.col("n_b") > 0)
    mu = na * nb / 2.0
    var = (na * nb / 12.0) * ((n + 1.0)
                              - F.col("__ties").cast("double")
                              / (n * (n - 1.0)))
    z = F.when(both & (var > 0), (u_a - mu) / F.sqrt(var))
    return agg.select(
        "n_a", "n_b",
        F.when(both, _r6(u_a)).alias("u_a"),
        F.when(both, _r6(u_b)).alias("u_b"),
        F.when(F.col("n_a") > 0,
               _r6((F.col("__r2a").cast("double") / 2.0) / na))
         .alias("mean_rank_a"),
        F.when(F.col("n_b") > 0,
               _r6((n * (n + 1.0) / 2.0
                    - F.col("__r2a").cast("double") / 2.0) / nb))
         .alias("mean_rank_b"),
        _r6(z).alias("z"),
        F.when(z.isNotNull(), F.abs(z) >= F.lit(float(z_crit)))
         .alias("significant"))


def rater_confusion(df: DataFrame, item_col: str, rater_col: str,
                    label_col: str, rater_a, rater_b) -> DataFrame:
    """Per-class confusion matrix between two named raters — the
    drill-down behind ``cohens_kappa``: κ says agreement is poor,
    this says WHERE ('rater B calls 40% of A's `unsafe` items `ok`').
    Same input shape as the kappa family: one row per (item, rater,
    label); NULL labels are unrated; if a rater labeled an item more
    than once the GREATEST label wins (deterministic under retries);
    items only one rater touched drop.

    Output per observed (label_a, label_b) cell: ``n``, ``share``
    (of all co-rated items), ``row_share`` (of rater A's label_a
    items — P(B=y | A=x)), ``col_share``, ``agree``.

    ENGINE-PORTABLE: every share is one division of exact BIGINTs,
    micro-rounded. SCALE: two item-keyed per-rater aggregates, one
    item equi-join, ONE (label,label) hash aggregate; the marginal
    join-backs run on label-vocabulary-sized frames."""
    base = df.where(qcol(label_col).isNotNull())

    def _side(rater, out):
        return (base.where(qcol(rater_col) == F.lit(str(rater)))
                    .groupBy(qcol(item_col).alias("__i"))
                    .agg(F.max(qcol(label_col).cast("string")).alias(out)))

    j = _side(rater_a, "label_a").join(_side(rater_b, "label_b"), "__i")
    cells = (j.groupBy("label_a", "label_b")
              .agg(F.count(F.lit(1)).cast("bigint").alias("n")))
    rows_t = (cells.groupBy("label_a")
                   .agg(F.sum("n").cast("bigint").alias("__rt")))
    cols_t = (cells.groupBy("label_b")
                   .agg(F.sum("n").cast("bigint").alias("__ct")))
    grand = cells.agg(F.coalesce(F.sum("n"), F.lit(0))
                       .cast("bigint").alias("__g"))
    micro = F.lit(1000000.0)

    def _r6(num, den):
        return F.round(micro * num.cast("double") / den.cast("double"), 0) \
               / micro

    return (cells.join(rows_t, "label_a").join(cols_t, "label_b")
                 .crossJoin(F.broadcast(grand))
                 .select("label_a", "label_b", "n",
                         _r6(F.col("n"), F.col("__g")).alias("share"),
                         _r6(F.col("n"), F.col("__rt")).alias("row_share"),
                         _r6(F.col("n"), F.col("__ct")).alias("col_share"),
                         (F.col("label_a") == F.col("label_b"))
                          .alias("agree")))


def pairwise_lift(df: DataFrame, group_col: str, value_col: str,
                  min_pairs: int = 1) -> DataFrame:
    """Co-occurrence lift / PMI between categorical values that appear
    within the same group — "which tools show up together in a
    conversation", "which error codes co-fire in a session": the
    association screen behind market-basket QA and tool-use profiling.
    Presence-based (a value counted once per group, multiplicity
    ignored), symmetric pairs emitted once with value_a < value_b.

    Per pair: n_a / n_b (groups containing each), n_ab (groups
    containing both), n_groups (groups with any non-NULL value),
    support = n_ab/n_groups, lift = n_ab·n_groups/(n_a·n_b)
    (1 = independent), pmi = log2(lift) — all 6dp. NULL groups and
    NULL values are excluded from the universe.

    SCALE: raw rows reduce to DISTINCT (group, value) pairs in one
    map-side-combined aggregate FIRST, so the self-join runs over the
    presence frame (≤ groups × vocabulary), shuffled on the group key
    both sides — the pair blowup is Σ k·(k−1)/2 with k bounded by the
    VOCABULARY, not group row count. Totals ride tiny vocabulary-sized
    aggregates + a 1-row cross join; ``min_pairs`` prunes the long
    tail before the stats join."""
    g, v = qcol(group_col), qcol(value_col)
    pres = (df.where(g.isNotNull() & v.isNotNull())
              .select(g.alias("__g"), v.alias("__v"))
              .distinct())
    n_groups = pres.groupBy().agg(
        F.count_distinct(F.col("__g")).cast("bigint").alias("n_groups"))
    singles = pres.groupBy("__v").agg(
        F.count(F.lit(1)).cast("bigint").alias("__n"))
    a, b = pres.alias("a"), pres.alias("b")
    pairs = (a.join(b, (F.col("a.__g") == F.col("b.__g"))
                       & (F.col("a.__v") < F.col("b.__v")))
              .groupBy(F.col("a.__v").alias("value_a"),
                       F.col("b.__v").alias("value_b"))
              .agg(F.count(F.lit(1)).cast("bigint").alias("n_ab"))
              .where(F.col("n_ab") >= int(min_pairs)))
    out = (pairs
           .join(singles.withColumnRenamed("__n", "n_a"),
                 pairs["value_a"] == singles["__v"]).drop("__v")
           .join(singles.withColumnRenamed("__n", "n_b"),
                 F.col("value_b") == singles["__v"]).drop("__v")
           .crossJoin(n_groups))
    lift = (F.col("n_ab").cast("double") * F.col("n_groups")
            / (F.col("n_a").cast("double") * F.col("n_b")))
    return out.select(
        "value_a", "value_b", "n_a", "n_b", "n_ab", "n_groups",
        F.round(F.col("n_ab").cast("double") / F.col("n_groups"), 6)
         .alias("support"),
        F.round(lift, 6).alias("lift"),
        F.round(F.log2(lift), 6).alias("pmi"))


def zipf_fit(df: DataFrame, text_col: str, group_col: str) -> DataFrame:
    """Zipf-law fit per corpus slice: OLS slope of log(token count) vs
    log(rank) over the slice's full vocabulary — natural text sits
    near −1 (Zipf 1949); template/boilerplate output flattens toward 0
    and hyper-repetitive machine text steepens past −1.5, so the slope
    is a cheap generated-vs-organic screen per source/lang slice, with
    r² saying how law-like the curve is at all.

    Tokenization matches ``top_tokens`` (case-folded whitespace split);
    NULL/empty texts and NULL groups are excluded. Output per group:
    ``group, n_tokens`` (vocabulary size), ``total_tokens``,
    ``zipf_slope``, ``r2`` (6dp) — slope/r² NULL when the vocabulary
    has < 2 tokens or all counts tie (zero x-variance: slope
    undefined... the degenerate all-ranks-distinct x still fits).

    SCALE: classic wordcount reduction FIRST (map-side combined
    (group, token) hash agg — the only full-data shuffle), then a
    rank window + ONE moments aggregate over the vocabulary-sized
    frame. ENGINE-PORTABLE ARITHMETIC: ln(rank)/ln(count) are pinned
    to exact integer micro-units (BIGINT) per vocabulary row, moments
    (Σx, Σy, Σxx, Σxy, Σyy) sum as DECIMAL(38,0) — exact and
    order-independent (Σxy ≤ V·4.3e14, inside 38 digits at V = 10^9)
    — and only the final num/den combination runs in doubles."""
    from pyspark.sql import Window

    t, g = qcol(text_col), qcol(group_col)
    counts = (df.where(g.isNotNull() & t.isNotNull()
                       & (F.length(F.trim(t)) > 0))
                .select(g.cast("string").alias("group"),
                        F.explode(F.split(F.lower(F.trim(t)), r"\s+"))
                         .alias("__tok"))
                .groupBy("group", "__tok")
                .agg(F.count(F.lit(1)).cast("bigint").alias("__n")))
    w = Window.partitionBy("group").orderBy(F.col("__n").desc(),
                                            F.col("__tok").asc())
    ranked = counts.withColumn("__r", F.row_number().over(w))
    xm = F.round(F.log(F.col("__r").cast("double")) * 1e6, 0) \
          .cast("decimal(38,0)")
    ym = F.round(F.log(F.col("__n").cast("double")) * 1e6, 0) \
          .cast("decimal(38,0)")
    m = (ranked.select("group", "__n", xm.alias("__x"), ym.alias("__y"))
               .groupBy("group")
               .agg(F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
                    F.sum("__n").cast("bigint").alias("total_tokens"),
                    F.sum("__x").alias("__sx"),
                    F.sum("__y").alias("__sy"),
                    F.sum(F.col("__x") * F.col("__x")).alias("__sxx"),
                    F.sum(F.col("__x") * F.col("__y")).alias("__sxy"),
                    F.sum(F.col("__y") * F.col("__y")).alias("__syy")))
    n = F.col("n_tokens").cast("double")
    sx, sy = F.col("__sx").cast("double"), F.col("__sy").cast("double")
    sxx = F.col("__sxx").cast("double")
    sxy = F.col("__sxy").cast("double")
    syy = F.col("__syy").cast("double")
    num = n * sxy - sx * sy
    den_x = n * sxx - sx * sx
    den_y = n * syy - sy * sy
    slope = F.when((F.col("n_tokens") >= 2) & (den_x != 0),
                   F.round(num / den_x, 6))
    r2 = F.when((F.col("n_tokens") >= 2) & (den_x != 0) & (den_y != 0),
                F.round(num * num / (den_x * den_y), 6))
    return m.select("group", "n_tokens", "total_tokens",
                    slope.alias("zipf_slope"), r2.alias("r2"))


def wilson_rates(df: DataFrame, flag: "F.Column", group_col: str,
                 z: float = 1.959964) -> DataFrame:
    """Per-slice incidence rate with a Wilson score interval — the
    error-bar companion of ``rate_significance``: instead of testing
    each slice against the rest, it reports how precisely each slice's
    own rate is known (a 50% error rate over 4 calls and over 40,000
    calls print the same point estimate; only the interval separates
    "noise" from "broken tool"). Wilson 1927 — the interval that stays
    inside [0, 1] and behaves at small n, unlike the normal approx.

    ``flag`` is a boolean Column (the "hit"); NULL flags and NULL
    groups are excluded. Output per group: n, k, rate, wilson_lo,
    wilson_hi (6dp).

    SCALE: ONE map-side-combined hash aggregate keyed by the slice —
    shuffle rows are (group, n, k) partials. The interval is a fixed
    double expression over exact BIGINT counts, evaluated in a pinned
    operation order both engines replay bit-identically."""
    g = qcol(group_col)
    flagged = df.where(g.isNotNull() & flag.isNotNull())
    agg = (flagged.groupBy(g.cast("string").alias("group"))
                  .agg(F.count(F.lit(1)).cast("bigint").alias("n"),
                       F.sum(F.when(flag, 1).otherwise(0))
                        .cast("bigint").alias("k")))
    zz = F.lit(float(z))
    n = F.col("n").cast("double")
    p = F.col("k").cast("double") / n
    denom = F.lit(1.0) + zz * zz / n
    center = (p + zz * zz / (F.lit(2.0) * n)) / denom
    half = (zz * F.sqrt(p * (F.lit(1.0) - p) / n
                        + zz * zz / (F.lit(4.0) * n * n))) / denom
    return agg.select(
        "group", "n", "k",
        F.round(p, 6).alias("rate"),
        F.round(center - half, 6).alias("wilson_lo"),
        F.round(center + half, 6).alias("wilson_hi"))


def moment_stats(df: DataFrame, value_col: str, group_col: str,
                 unit: float = 0.001) -> DataFrame:
    """Per-slice shape moments — skewness and excess kurtosis alongside
    mean/σ: the unit-mismatch / sentinel / generator-collapse screen
    that range+null+σ checks miss (a column whose tail is hand-rounded
     9999s shows kurtosis exploding while min/max look plausible; mixed
    cm-and-m units show bimodal negative kurtosis).

    Values are quantized to ``unit`` (default 1e-3) BEFORE any
    aggregation, and the four raw power sums accumulate as exact
    DECIMAL(38,0) — order-independent and engine-portable; doubles
    appear only in the fixed final expression (binomial expansion of
    the central moments), so a DuckDB replay matches bit-for-bit.
    OVERFLOW CONTRACT: Σq⁴ needs n·(|v|/unit)⁴ < 10³⁸ — at 10¹² rows
    and unit=1e-3 that bounds |v| ≤ ~3,000; pass a coarser ``unit``
    for wider-ranged columns (the quantization error is O(unit)).

    Output per group: n, mean, std (population σ, original units),
    skewness g1 = m3/m2^1.5, ex_kurtosis g2 = m4/m2²−3 (6dp);
    g1/g2 NULL when n < 2 or the slice is constant (m2 = 0).
    NULL values/groups are excluded.

    SCALE: ONE map-side-combined hash aggregate keyed by the slice —
    shuffle rows are (group, 4 decimal partials). Nothing else."""
    if unit <= 0:
        raise ValueError("unit must be > 0")
    g, v = qcol(group_col), qcol(value_col).cast("double")
    q = F.round(v / F.lit(float(unit)), 0).cast("decimal(38,0)")
    base = (df.where(g.isNotNull() & v.isNotNull())
              .select(g.cast("string").alias("group"), q.alias("__q")))
    agg = base.groupBy("group").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("__q").alias("__s1"),
        F.sum(F.col("__q") * F.col("__q")).alias("__s2"),
        F.sum(F.col("__q") * F.col("__q") * F.col("__q")).alias("__s3"),
        F.sum(F.col("__q") * F.col("__q") * F.col("__q")
              * F.col("__q")).alias("__s4"))
    n = F.col("n").cast("double")
    s1 = F.col("__s1").cast("double")
    s2 = F.col("__s2").cast("double")
    s3 = F.col("__s3").cast("double")
    s4 = F.col("__s4").cast("double")
    m = s1 / n
    m2 = s2 / n - m * m
    m3 = s3 / n - F.lit(3.0) * m * s2 / n + F.lit(2.0) * m * m * m
    m4 = (s4 / n - F.lit(4.0) * m * s3 / n
          + F.lit(6.0) * m * m * s2 / n
          - F.lit(3.0) * m * m * m * m)
    u = F.lit(float(unit))
    ok = (F.col("n") >= 2) & (m2 > 0)
    return agg.select(
        "group", "n",
        F.round(m * u, 6).alias("mean"),
        F.round(F.sqrt(F.greatest(m2, F.lit(0.0))) * u, 6).alias("std"),
        F.when(ok, F.round(m3 / F.pow(m2, F.lit(1.5)), 6))
         .alias("skewness"),
        F.when(ok, F.round(m4 / (m2 * m2) - F.lit(3.0), 6))
         .alias("ex_kurtosis"))


def welch_t(df: DataFrame, value_col: str, group_col: str,
            unit: float = 0.001, t_threshold: float = 1.959964
            ) -> DataFrame:
    """Per-slice Welch's t: does this slice's MEAN differ from the
    rest of the corpus? The location complement of ``mann_whitney``
    (which sees distribution shape) and ``rate_significance`` (which
    sees proportions) — unequal variances welcome, no pooled-σ
    assumption, so a small noisy slice against a huge stable rest is
    scored correctly.

    Per group: n_in, n_out, mean_in, mean_out (original units, 6dp),
    t (6dp), dof (Welch–Satterthwaite, 6dp), significant (|t| >=
    ``t_threshold``, the z≈1.96 normal proxy — at transcript-scale n
    the t and normal quantiles coincide). NULL when either side has
    < 2 values or both variances are zero. NULL values/groups are
    excluded.

    SCALE + EXACTNESS: values quantized to ``unit`` (same overflow
    contract as ``moment_stats``: n·(|v|/unit)² < 10³⁸); one hash
    aggregate keyed by the slice produces exact DECIMAL(38,0)
    (n, Σq, Σq²) per group; corpus totals re-aggregate THAT tiny frame
    through a single-row cross-broadcast, so the "rest" side is
    total − group in the exact integer domain. Doubles only in the
    pinned final expression."""
    if unit <= 0:
        raise ValueError("unit must be > 0")
    g, v = qcol(group_col), qcol(value_col).cast("double")
    q = F.round(v / F.lit(float(unit)), 0).cast("decimal(38,0)")
    per = (df.where(g.isNotNull() & v.isNotNull())
             .select(g.cast("string").alias("group"), q.alias("__q"))
             .groupBy("group")
             .agg(F.count(F.lit(1)).cast("bigint").alias("n_in"),
                  F.sum("__q").alias("__s"),
                  F.sum(F.col("__q") * F.col("__q")).alias("__ss")))
    tot = per.groupBy().agg(F.sum("n_in").cast("bigint").alias("__tn"),
                            F.sum("__s").alias("__ts"),
                            F.sum("__ss").alias("__tss"))
    j = per.crossJoin(F.broadcast(tot))
    na = F.col("n_in").cast("double")
    nb = (F.col("__tn") - F.col("n_in")).cast("double")
    sa, sb = F.col("__s").cast("double"), \
        (F.col("__ts") - F.col("__s")).cast("double")
    ssa, ssb = F.col("__ss").cast("double"), \
        (F.col("__tss") - F.col("__ss")).cast("double")
    ma, mb = sa / na, sb / nb
    # sample variances from exact sums: (n·Σq² − (Σq)²) / (n·(n−1))
    va = (na * ssa - sa * sa) / (na * (na - F.lit(1.0)))
    vb = (nb * ssb - sb * sb) / (nb * (nb - F.lit(1.0)))
    se2 = va / na + vb / nb
    t = (ma - mb) / F.sqrt(se2)
    dof = (se2 * se2) / (va * va / (na * na * (na - F.lit(1.0)))
                         + vb * vb / (nb * nb * (nb - F.lit(1.0))))
    u = F.lit(float(unit))
    ok = (F.col("n_in") >= 2) & ((F.col("__tn") - F.col("n_in")) >= 2) \
        & (se2 > 0)
    t6 = F.when(ok, F.round(t, 6))
    return j.select(
        "group", "n_in",
        (F.col("__tn") - F.col("n_in")).cast("bigint").alias("n_out"),
        F.round(ma * u, 6).alias("mean_in"),
        F.when(nb > 0, F.round(mb * u, 6)).alias("mean_out"),
        t6.alias("t"),
        F.when(ok, F.round(dof, 6)).alias("dof"),
        F.coalesce(F.abs(t6) >= F.lit(float(t_threshold)), F.lit(False))
         .alias("significant"))


def mad_location(df: DataFrame, value_col: str, group_col: str,
                 z_threshold: float = 3.5) -> DataFrame:
    """Robust per-slice location screen: each slice's MEDIAN scored
    against the global median in global-MAD units (z = (med_g −
    med)/(1.4826·MAD), Iglewicz–Hoaglin) — the mean-based ``welch_t``
    lights up on a handful of sentinel 9999s; this doesn't, so the
    PAIR separates "slice really sits elsewhere" from "slice has
    outliers".

    Per group: n, median (6dp), global_median, global_mad (6dp),
    robust_z (6dp; NULL when MAD = 0), flagged (|z| >=
    ``z_threshold``, default 3.5 per Iglewicz–Hoaglin). NULL
    values/groups excluded.

    SCALE: exact interpolated percentiles (oracle mode — swap
    percentile_approx at extreme scale). Pass 1: ONE rollup aggregate
    gives every slice median AND the global median in a single
    shuffle; pass 2 re-scans only |v − med| for the global MAD (an
    exact MAD is inherently two-pass). Both extra frames are
    group-count-sized and broadcast."""
    g, v = qcol(group_col), qcol(value_col).cast("double")
    base = (df.where(g.isNotNull() & v.isNotNull())
              .select(g.cast("string").alias("group"), v.alias("__v")))
    med = (base.rollup("group")
               .agg(F.count(F.lit(1)).cast("bigint").alias("n"),
                    F.percentile("__v", F.lit(0.5)).alias("__med")))
    gmed = (med.where(F.col("group").isNull())
               .select(F.col("__med").alias("__gmed")))
    mad = (base.crossJoin(F.broadcast(gmed))
               .agg(F.percentile(F.abs(F.col("__v") - F.col("__gmed")),
                                 F.lit(0.5)).alias("__mad"),
                    F.max("__gmed").alias("__gmed")))
    scale = F.lit(1.4826) * F.col("__mad")
    z = F.when(F.col("__mad") > 0,
               F.round((F.col("__med") - F.col("__gmed")) / scale, 6))
    return (med.where(F.col("group").isNotNull())
               .crossJoin(F.broadcast(mad))
               .select("group", "n",
                       F.round(F.col("__med"), 6).alias("median"),
                       F.round(F.col("__gmed"), 6).alias("global_median"),
                       F.round(F.col("__mad"), 6).alias("global_mad"),
                       z.alias("robust_z"),
                       F.coalesce(F.abs(z) >= F.lit(float(z_threshold)),
                                  F.lit(False)).alias("flagged")))


def concentration_stats(df: DataFrame, cols: list[str],
                        top_k: int = 5,
                        null_token: str = "__null__") -> DataFrame:
    """Value-concentration profile per categorical column: the
    Herfindahl–Hirschman index (Σ share²), its reciprocal (the
    EFFECTIVE number of values — "this source column is nominally
    200 domains but behaves like 3"), and the top-k mass. The
    market-concentration view ``column_entropy`` (bits) and
    ``majority_share`` (modal value only) don't give: HHI weighs the
    whole head, effective_n is directly comparable to n_distinct, and
    a top-5 share of 0.99 over a 10^6-value column is the classic
    scraped-corpus imbalance. NULL counts as its own category
    (``null_token``), same contract as column_entropy.

    Output per column: column_name, n_rows, n_distinct, top_share,
    topk_share, hhi, effective_n (= 1/HHI; 6dp). Counts are exact
    BIGINT; Σn² accumulates as DECIMAL(38,0) (exact to n_rows ≈ 10¹⁹);
    tie-break for the top-k window is (count DESC, value ASC) —
    deterministic under shuffle retries.

    SCALE: same melt shape as column_entropy — ONE (column, value)
    hash aggregate (vocabulary-sized shuffle, rows never shuffle),
    then a rank window + ONE rollup over the counts frame."""
    from pyspark.sql import Window

    if top_k < 1:
        raise ValueError("top_k must be >= 1")
    if not cols:
        raise ValueError("cols must be non-empty")
    pairs = F.explode(F.array(*[
        F.struct(F.lit(c).alias("column_name"),
                 F.coalesce(qcol(c).cast("string"), F.lit(null_token))
                  .alias("value"))
        for c in cols])).alias("p")
    counts = (df.select(pairs)
                .select("p.column_name", "p.value")
                .groupBy("column_name", "value")
                .agg(F.count(F.lit(1)).cast("bigint").alias("n")))
    w = Window.partitionBy("column_name").orderBy(
        F.col("n").desc(), F.col("value").asc())
    ranked = counts.withColumn("__r", F.row_number().over(w))
    agg = ranked.groupBy("column_name").agg(
        F.sum("n").cast("bigint").alias("n_rows"),
        F.count(F.lit(1)).cast("bigint").alias("n_distinct"),
        F.max(F.when(F.col("__r") == 1, F.col("n"))).alias("__top"),
        F.sum(F.when(F.col("__r") <= int(top_k), F.col("n"))
               .otherwise(0)).cast("bigint").alias("__topk"),
        F.sum(F.col("n").cast("decimal(38,0)")
              * F.col("n").cast("decimal(38,0)")).alias("__ss"))
    nd = F.col("n_rows").cast("double")
    hhi = F.col("__ss").cast("double") / (nd * nd)
    return agg.select(
        "column_name", "n_rows", "n_distinct",
        F.round(F.col("__top").cast("double") / nd, 6)
         .alias("top_share"),
        F.round(F.col("__topk").cast("double") / nd, 6)
         .alias("topk_share"),
        F.round(hhi, 6).alias("hhi"),
        F.round(F.lit(1.0) / hhi, 6).alias("effective_n"))


_GRID_EPS = 1e-9


def value_grid_stats(df: DataFrame, value_col: str,
                     steps: tuple = (0.01, 0.25, 0.5, 1.0, 5.0, 10.0,
                                     100.0)) -> DataFrame:
    """Grid-snap profile of a numeric column: for each candidate step,
    the share of values that are integer multiples of it — the
    quantized / binned / hand-rounded data detector (sensor data
    that's suddenly 100% on a 0.5 grid changed its ADC or got rounded
    in transit; prices 99% on a 0.01 grid are normal, on a 1.0 grid
    they were truncated). Complements ``last_digit_uniformity``
    (integer tails) and ``moment_stats`` (shape): the grid share sees
    sub-integer quantization both of those miss.

    Output per step: step, n (non-null values), n_on_grid, share
    (6dp). A value sits on the grid when |v/step − round(v/step)| <
    1e-9 — the same pinned double predicate in both engines.

    SCALE: ONE global aggregate with one conditional counter per step
    (map-side combined), exploded to rows AFTER aggregation. Steps are
    literals; nothing shuffles but a single partial row per task."""
    if not steps:
        raise ValueError("steps must be non-empty")
    if any(s <= 0 for s in steps):
        raise ValueError("steps must be positive")
    v = qcol(value_col).cast("double")
    aggs = [F.count(v).cast("bigint").alias("__n")]
    for i, s in enumerate(steps):
        r = v / F.lit(float(s))
        on = F.abs(r - F.round(r, 0)) < F.lit(_GRID_EPS)
        aggs.append(F.sum(F.when(v.isNotNull() & on, 1).otherwise(0))
                     .cast("bigint").alias(f"__g{i}"))
    wide = df.agg(*aggs)
    arr = F.array(*[
        F.struct(F.lit(float(s)).alias("step"),
                 F.col(f"__g{i}").alias("n_on_grid"))
        for i, s in enumerate(steps)])
    return (wide.select(F.col("__n").alias("n"),
                        F.explode(arr).alias("e"))
                .select("e.step", "n", "e.n_on_grid",
                        F.when(F.col("n") > 0,
                               F.round(F.col("e.n_on_grid")
                                       .cast("double")
                                       / F.col("n").cast("double"), 6))
                         .alias("share")))


def crosstab_residuals(df: DataFrame, col_a: str, col_b: str,
                       resid_threshold: float = 2.0) -> DataFrame:
    """WHICH cells drive a categorical association: the observed ×
    expected contingency table with adjusted standardized residuals
    (Agresti) — ``cramers_v`` compresses dependence to one number;
    this names the (a, b) combinations that are over/under-represented
    (lang×source skew, tool×error-type hotspots), the drill-down an
    investigation actually needs.

    Per cell: value_a, value_b, n (observed, exact BIGINT), expected
    (row·col/N, 6dp), residual (adjusted standardized, 6dp — ~N(0,1)
    under independence, |r| > 2 noteworthy), flagged (|residual| >=
    ``resid_threshold``, on the 6dp-rounded value). NULLs in either
    column are excluded (pairs carry no joint information).

    SCALE: ONE (a, b) hash aggregate (the only row-data shuffle);
    marginals via two unbounded windows over the cell frame
    (vocab²-sized metadata). Formula pinned: e = ra·cb/N,
    r = (n−e)/sqrt(e·(1−ra/N)·(1−cb/N))."""
    a, b = qcol(col_a), qcol(col_b)
    from pyspark.sql import Window

    cells = (df.where(a.isNotNull() & b.isNotNull())
               .groupBy(a.cast("string").alias("value_a"),
                        b.cast("string").alias("value_b"))
               .agg(F.count(F.lit(1)).cast("bigint").alias("n")))
    wa = Window.partitionBy("value_a")
    wb = Window.partitionBy("value_b")
    wt = Window.partitionBy()
    m = (cells.withColumn("__ra", F.sum("n").over(wa))
              .withColumn("__cb", F.sum("n").over(wb))
              .withColumn("__t", F.sum("n").over(wt)))
    ra = F.col("__ra").cast("double")
    cb = F.col("__cb").cast("double")
    t = F.col("__t").cast("double")
    e = ra * cb / t
    den = F.sqrt(e * (F.lit(1.0) - ra / t) * (F.lit(1.0) - cb / t))
    r = F.when(den > 0,
               F.round((F.col("n").cast("double") - e) / den, 6))
    return m.select(
        "value_a", "value_b", "n",
        F.round(e, 6).alias("expected"),
        r.alias("residual"),
        F.coalesce(F.abs(r) >= F.lit(float(resid_threshold)),
                   F.lit(False)).alias("flagged"))


def extrema_exemplars(df: DataFrame, value_col: str,
                      key_cols: list[str], k: int = 5) -> DataFrame:
    """The ROWS behind the range stats: the k largest and k smallest
    values of a column with their identifying keys — the audit sample
    a human opens after ``profile`` says max = 9999 or ``moment_stats``
    says the tail exploded ("WHICH row is the weird max"). Range stats
    compress; this names.

    Output: *key_cols, value (double), end ('min'|'max'), rank
    (1-based within its end, 1 = most extreme). Deterministic ties:
    (value, *key_cols) ordering. NULL values are excluded (the null
    profile owns them).

    SCALE: two TakeOrderedAndProject scans (per-task k-row heaps, no
    global sort, no full shuffle) unioned — the same plan contract as
    topk_sample, ±k rows total."""
    if k < 1:
        raise ValueError("k must be >= 1")
    if not key_cols:
        raise ValueError("key_cols must be non-empty")
    v = qcol(value_col).cast("double")
    base = df.where(v.isNotNull()).select(
        *[qcol(c) for c in key_cols], v.alias("value"))
    keys_asc = [F.col(c).asc() for c in key_cols]

    def _rank(side):
        from pyspark.sql import Window
        order = ([F.col("value").desc()] if side == "max"
                 else [F.col("value").asc()]) + keys_asc
        w = Window.orderBy(*order)
        return (base.orderBy(*order).limit(int(k))
                    .withColumn("end", F.lit(side))
                    .withColumn("rank",
                                F.row_number().over(w).cast("int")))

    return _rank("max").unionByName(_rank("min"))


def hourly_profile(df: DataFrame, ts_col: str,
                   group_col: str) -> DataFrame:
    """Hour-of-day activity profile per slice: each hour's share of
    the slice's events plus the slice's peak hour — the intra-day
    twin of the weekday seasonality screen (a 'user traffic' slice
    peaking at 03:00 is a bot or a mislabeled timezone; a flat
    profile on an interactive product is synthetic traffic).

    Per (group, hour 0–23, only observed hours): n, share (6dp),
    is_peak (ties broken toward the EARLIEST hour — deterministic).
    NULL ts/group rows are excluded.

    SCALE: ONE (group, hour) hash aggregate — ≤ 24·|groups| shuffle
    rows — then windows over that tiny frame for totals and peak."""
    from pyspark.sql import Window

    t, g = qcol(ts_col), qcol(group_col)
    per = (df.where(t.isNotNull() & g.isNotNull())
             .groupBy(g.cast("string").alias("group"),
                      F.hour(t).cast("int").alias("hour"))
             .agg(F.count(F.lit(1)).cast("bigint").alias("n")))
    wg = Window.partitionBy("group")
    wp = Window.partitionBy("group").orderBy(F.col("n").desc(),
                                             F.col("hour").asc())
    out = (per.withColumn("__t", F.sum("n").over(wg))
              .withColumn("__r", F.row_number().over(wp)))
    return out.select(
        "group", "hour", "n",
        F.round(F.col("n").cast("double")
                / F.col("__t").cast("double"), 6).alias("share"),
        (F.col("__r") == 1).alias("is_peak"))


def theil_sen_trend(df: DataFrame, ts_col: str,
                    group_col: str | None = None) -> DataFrame:
    """Theil–Sen robust trend of daily volume: the MEDIAN of all
    pairwise slopes between daily-count points (and the median-residual
    intercept), optionally per group. The OLS volume trend
    (``quality_trend``-style regression) is yanked around by a single
    outage day or backfill spike; the median-of-slopes estimator has a
    29% breakdown point and tells you the real drift direction of a
    feed. No reference counterpart (north-rule volume QA).

    Output one row (per group): [group,] n_days, n_pairs, slope (Δrows
    per day), intercept (rows at epoch day 0 — with slope, a
    deterministic forecast line), 6dp. Fewer than 2 days → no row
    (no pair to take a slope from).

    SCALE: ONE map-side-combined date hash aggregate reduces the
    corpus to #days rows; the O(days²) pairwise self-join and exact
    median run on that tiny frame — never on corpus rows. At 10^12
    turns over 3 years the daily frame is ~1,100 rows → ~600k pairs,
    trivially driver-adjacent work expressed declaratively."""
    g = [group_col] if group_col else []
    daily = (df.where(F.col(ts_col).isNotNull()
                      & (F.lit(group_col is None)
                         | F.col(group_col or ts_col).isNotNull()))
             .groupBy(*g, F.datediff(F.to_date(F.col(ts_col)),
                                     F.lit("1970-01-01")).alias("d"))
             .agg(F.count(F.lit(1)).cast("double").alias("y")))
    a = daily.select(*g, F.col("d").alias("d1"), F.col("y").alias("y1"))
    b = daily.select(*[F.col(c).alias(f"__{c}") for c in g],
                     F.col("d").alias("d2"), F.col("y").alias("y2"))
    cond = F.col("d1") < F.col("d2")
    for c in g:
        cond = cond & F.col(c).eqNullSafe(F.col(f"__{c}"))
    pairs = (a.join(b, cond)
             .select(*g, ((F.col("y2") - F.col("y1"))
                          / (F.col("d2") - F.col("d1")).cast("double"))
                     .alias("slope")))
    med = (pairs.groupBy(*g)
           .agg(F.expr("percentile(slope, 0.5)").alias("__slope"),
                F.count(F.lit(1)).cast("bigint").alias("n_pairs")))
    if group_col:
        j = daily.join(med.withColumnRenamed(group_col, "__g"),
                       F.col(group_col).eqNullSafe(F.col("__g"))) \
                 .drop("__g")
        gb = j.groupBy(group_col)
    else:
        j = daily.crossJoin(F.broadcast(med))
        gb = j.groupBy()
    out = gb.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.first("n_pairs").alias("n_pairs"),
        F.round(F.first("__slope"), 6).alias("slope"),
        F.round(F.expr("percentile(y - __slope * d, 0.5)"), 6)
         .alias("intercept"))
    if group_col:
        out = out.withColumnRenamed(group_col, "group") \
                 .withColumn("group", F.col("group").cast("string"))
    # the ungrouped med frame is a global aggregate, which emits a row
    # even over an empty pairs frame; the contract is "no pair to take
    # a slope from -> no row"
    return out.where(F.col("n_pairs") > 0)


def ewma_anomalies(df: DataFrame, ts_col: str, alpha: float = 0.3,
                   threshold: float = 0.5) -> DataFrame:
    """EWMA volume-anomaly screen: each day's event count versus the
    debiased exponentially-weighted moving average of all PRIOR days —
    the classic drift-tolerant change detector (a slow seasonal ramp
    moves the EWMA with it; a one-day spike or outage does not).
    Complements ``volume_changepoint`` (level shifts) and
    ``volume_anomalies`` (global z): EWMA localizes "recent normal".

    The recursion is expressed closed-form so it stays declarative:
    with r = 1−α and day index t (0-based over observed days),
    raw_t = Σ_{i≤t} x_i·r^(t−i) = r^t · Σ_{i≤t} x_i·r^(−i) — a
    cumulative-sum window — and the debiased mean divides by
    Σ r^(t−i) = (1−r^(t+1))/(1−r). Numerics: r^(−i) grows as the
    series lengthens; doubles overflow past ~2,900 days at α=0.3
    (documented bound — chunk by year beyond that). Early-day terms
    underflow out of the cumsum exactly when their EWMA weight is
    genuinely negligible (< 1e-16 relative), so precision loss tracks
    the estimator's own decay.

    Output per observed day: day (date), n (bigint), smoothed_prev
    (debiased EWMA of prior days; NULL on the first day), deviation
    (|n − smoothed_prev| / max(smoothed_prev, 1), 6dp), flag
    (deviation > threshold; false on day 0).

    SCALE: ONE map-side-combined date hash aggregate to #days rows,
    then one window over that tiny frame (single ordered partition of
    ~1k rows — explicitly NOT a corpus-sized window). Missing calendar
    days are skipped, not zero-filled (use volume screens for gap
    detection); day indices are positional."""
    r = 1.0 - alpha
    daily = (df.where(F.col(ts_col).isNotNull())
             .groupBy(F.to_date(F.col(ts_col)).alias("day"))
             .agg(F.count(F.lit(1)).cast("bigint").alias("n")))
    w = Window.orderBy("day")
    t = F.row_number().over(w) - F.lit(1)
    daily = daily.withColumn("__t", t)
    cum = F.sum(F.col("n").cast("double")
                * F.pow(F.lit(r), -F.col("__t"))).over(
        Window.orderBy("__t").rowsBetween(Window.unboundedPreceding, -1))
    raw_prev = F.pow(F.lit(r), F.col("__t") - 1) * cum
    wsum_prev = (F.lit(1.0) - F.pow(F.lit(r), F.col("__t"))) \
        / F.lit(1.0 - r)
    smoothed_prev = raw_prev / wsum_prev
    dev = F.abs(F.col("n") - smoothed_prev) \
        / F.greatest(smoothed_prev, F.lit(1.0))
    return (daily.select(
        "day", "n",
        F.round(smoothed_prev, 6).alias("smoothed_prev"),
        F.round(dev, 6).alias("deviation"),
        F.coalesce(dev > F.lit(threshold), F.lit(False)).alias("flag")))


def quality_calibration(df: DataFrame, score_col: str,
                        group_col: str) -> DataFrame:
    """Cross-source score-calibration audit: is a "0.8" from source A
    the same thing as a "0.8" from source B? For every row, compute its
    percentile WITHIN its source and its percentile in the GLOBAL score
    distribution; per source, report the mean global percentile (a
    well-calibrated source centers at 0.5) and the Kolmogorov–Smirnov
    distance between the two percentile columns (max |Δ|) — the
    canonical measure of how far the source's score distribution sits
    from the corpus's. Feeds threshold-based curation: a global
    quality cutoff silently over-prunes sources whose scores run low.
    No reference counterpart (north-rule corpus-mix QA).

    Output per source: group, n (bigint), mean_score, mean_global_pctl,
    calibration_gap (mean_global_pctl − 0.5), ks_stat — all 6dp.
    Percentiles are ``percent_rank`` (ties share a value; single-row
    groups get 0.0). NULL scores and NULL groups are excluded.

    SCALE: two rank windows (one keyed by source, one global) + one
    hash aggregate. The global percent_rank is a total sort at corpus
    scale — at 10^12 rows swap it for a two-pass equi-depth histogram
    lookup (the ``equidepth_histogram`` frame as the quantile map);
    this exact form is the oracle-checkable contract."""
    s, g = F.col(score_col), F.col(group_col)
    base = (df.where(s.isNotNull() & g.isNotNull())
            .select(g.cast("string").alias("group"), s.alias("__s")))
    src_p = F.percent_rank().over(
        Window.partitionBy("group").orderBy("__s"))
    glob_p = F.percent_rank().over(Window.orderBy("__s"))
    ranked = base.select("group", "__s",
                         src_p.alias("__sp"), glob_p.alias("__gp"))
    return (ranked.groupBy("group")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n"),
                 F.round(F.avg("__s"), 6).alias("mean_score"),
                 F.round(F.avg("__gp"), 6).alias("mean_global_pctl"),
                 F.round(F.avg("__gp") - F.lit(0.5), 6)
                  .alias("calibration_gap"),
                 F.round(F.max(F.abs(F.col("__sp") - F.col("__gp"))), 6)
                  .alias("ks_stat")))


def reliability_bins(df: DataFrame, score_col: str, flag,
                     lo: float = 0.0, hi: float = 1.0,
                     n_bins: int = 10) -> DataFrame:
    """Reliability diagram (calibration curve) as a table: scores
    bucketed on a fixed [lo, hi) grid, each bin reporting its mean
    score versus the observed positive rate. The standard audit for
    any probability-like score a pipeline thresholds on (quality
    classifiers, dedup confidences, toxicity filters): a bin whose
    observed rate sits far from its mean score means the threshold is
    lying about that region. ``calibration_gap`` = rate − mean_score.

    ``flag`` is a boolean Column; NULL scores and NULL flags are
    excluded. Scores below ``lo`` clamp into bin 0, at/above ``hi``
    into bin n_bins−1 (edge semantics match ``numeric_histogram``'s
    open top). Wilson bounds are deliberately not repeated here — join
    ``wilson_rates`` on the bin if uncertainty is needed.

    Output per non-empty bin: bin (int), bin_lo, bin_hi (6dp), n
    (bigint), mean_score, positive_rate, calibration_gap (6dp).

    SCALE: ONE map-side-combined hash aggregate keyed by the bin int
    — the shuffle is ≤ n_bins rows per task."""
    if n_bins < 1 or not hi > lo:
        raise ValueError("need n_bins >= 1 and hi > lo")
    s = F.col(score_col).cast("double")
    width = (hi - lo) / n_bins
    raw = F.floor((s - F.lit(lo)) / F.lit(width)).cast("int")
    b = F.least(F.greatest(raw, F.lit(0)), F.lit(n_bins - 1))
    return (df.where(s.isNotNull() & flag.isNotNull())
            .groupBy(b.alias("bin"))
            .agg(F.count(F.lit(1)).cast("bigint").alias("n"),
                 F.avg(s).alias("__ms"),
                 F.avg(flag.cast("double")).alias("__pr"))
            .select("bin",
                    F.round(F.lit(lo) + F.col("bin") * F.lit(width), 6)
                     .alias("bin_lo"),
                    F.round(F.lit(lo) + (F.col("bin") + 1) * F.lit(width),
                            6).alias("bin_hi"),
                    "n",
                    F.round("__ms", 6).alias("mean_score"),
                    F.round("__pr", 6).alias("positive_rate"),
                    F.round(F.col("__pr") - F.col("__ms"), 6)
                     .alias("calibration_gap")))


def expected_calibration_error(df: DataFrame, score_col: str, flag,
                               lo: float = 0.0, hi: float = 1.0,
                               n_bins: int = 10) -> DataFrame:
    """Scalar roll-up of ``reliability_bins``: Expected Calibration
    Error (Σ n_b/N · |rate_b − mean_score_b|), Maximum Calibration
    Error (max |gap|), and the share of rows sitting in bins whose gap
    exceeds 0.1 — the one-line go/no-go a pipeline gate wants, with
    the full bin table one call away for the drill-down.

    Output one row: n (bigint), n_bins_used, ece, mce,
    share_in_bad_bins (6dp each). Empty input → no row.

    SCALE: the ``reliability_bins`` aggregate plus one roll-up of the
    ≤ n_bins frame."""
    bins = reliability_bins(df, score_col, flag, lo=lo, hi=hi,
                            n_bins=n_bins)
    gap = F.abs(F.col("positive_rate") - F.col("mean_score"))
    return (bins.agg(
        F.sum("n").cast("bigint").alias("n"),
        F.count(F.lit(1)).cast("bigint").alias("n_bins_used"),
        F.round(F.sum(gap * F.col("n")) / F.sum("n"), 6).alias("ece"),
        F.round(F.max(gap), 6).alias("mce"),
        F.round(F.sum(F.when(gap > 0.1, F.col("n")).otherwise(0))
                / F.sum("n"), 6).alias("share_in_bad_bins"))
        .where(F.col("n").isNotNull()))


def daily_value_percentiles(df: DataFrame, ts_col: str,
                            value_col: str) -> DataFrame:
    """Per-day exact value percentiles (p50/p95/p99) with counts: the
    latency-dashboard trend view — a p95 that creeps while p50 holds is
    tail degradation no daily mean can show. Exact interpolated
    percentiles are the oracle-checkable contract; swap in
    ``percentile_approx`` at extreme scale (documented trade, same as
    the other percentile ops).

    NULL timestamps and NULL values are excluded. Output per day: day
    (date), n (bigint), p50, p95, p99 (6dp).

    SCALE: ONE hash aggregate keyed by date; the exact percentile
    keeps per-day value buffers — bounded by rows-per-day, which is
    the quantity the volume screens already monitor."""
    t, v = F.col(ts_col), F.col(value_col)
    return (df.where(t.isNotNull() & v.isNotNull())
            .groupBy(F.to_date(t).alias("day"))
            .agg(F.count(F.lit(1)).cast("bigint").alias("n"),
                 F.round(F.expr(f"percentile({value_col}, 0.5)"), 6)
                  .alias("p50"),
                 F.round(F.expr(f"percentile({value_col}, 0.95)"), 6)
                  .alias("p95"),
                 F.round(F.expr(f"percentile({value_col}, 0.99)"), 6)
                  .alias("p99")))


def quantile_map_accuracy(df: DataFrame, value_col: str, bins: int = 8,
                          probes=(0.5, 0.9, 0.99)) -> DataFrame:
    """Accuracy audit of the equi-depth-histogram quantile map — the
    structure this repo documents as the at-scale replacement for
    exact global percentiles (quality_calibration, quantile_normalize,
    daily_value_percentiles all carry that swap note). For each probe
    p: the EXACT interpolated percentile next to the ESTIMATE read off
    the ``bins``-bucket equi-depth histogram (linear interpolation
    within the bucket whose cumulative share crosses p), with absolute
    and relative error. Run it once per table profile: if the 8-bucket
    map already lands within tolerance, the swap is free; if not, it
    says how many buckets to buy.

    Estimation rule: first bucket (by bin) with share > 0 and
    cum_share >= p − 1e-12 (pinned epsilon, identical in the oracle);
    est = lo + (hi − lo)·(p − cum_before)/share, clamped to [lo, hi].

    Output per probe: p, exact, estimated, abs_err, rel_err (6dp;
    rel_err NULL when exact = 0). Empty input → no rows.

    SCALE: the equi-depth aggregate (one exact-percentile pass — at
    true scale, feed ``percentile_approx`` edges in) plus windows and
    joins on the ≤bins frame; the exact side is one more aggregate,
    present precisely because this is the audit of its replacement."""
    probes = [float(p) for p in probes]
    if not probes or any(not 0.0 <= p <= 1.0 for p in probes):
        raise ValueError("probes must be in [0, 1]")
    hist = equidepth_histogram(df, value_col, bins)
    w = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    h = hist.select(
        "bin", "lo", "hi", "share",
        F.sum("share").over(w).alias("__cum"),
        (F.sum("share").over(w) - F.col("share")).alias("__before"))
    spark = df.sparkSession
    pr = spark.createDataFrame([(p,) for p in probes], "p double")
    j = pr.join(h, (F.col("__cum") >= F.col("p") - F.lit(1e-12))
                & (F.col("share") > 0))
    wp = Window.partitionBy("p").orderBy("bin")
    first = (j.withColumn("__rn", F.row_number().over(wp))
             .where(F.col("__rn") == 1))
    est = F.col("lo") + (F.col("hi") - F.col("lo")) \
        * (F.col("p") - F.col("__before")) / F.col("share")
    est = F.least(F.greatest(est, F.col("lo")), F.col("hi"))
    v = qcol(value_col).cast("double")
    exact = df.agg(F.percentile(
        v, F.array(*[F.lit(p) for p in probes])).alias("__ex"))
    ex_map = exact.select(F.explode(F.arrays_zip(
        F.array(*[F.lit(p) for p in probes]).alias("p"),
        F.col("__ex").alias("ex"))).alias("z")) \
        .select(F.col("z.p").alias("__p"), F.col("z.ex").alias("__exv"))
    out = (first.join(F.broadcast(ex_map),
                      F.col("p") == F.col("__p"))
           .select("p",
                   F.round("__exv", 6).alias("exact"),
                   F.round(est, 6).alias("estimated"),
                   F.round(F.abs(est - F.col("__exv")), 6)
                    .alias("abs_err"),
                   F.round(F.when(F.col("__exv") != 0,
                                  F.abs(est - F.col("__exv"))
                                  / F.abs(F.col("__exv"))), 6)
                    .alias("rel_err")))
    return out
