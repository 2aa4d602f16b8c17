"""Uniqueness / duplicate detection at scale, including the salted
two-phase aggregate the north_rule mandates for (conv_id, turn_idx).

The reference's only duplicate op is pandas ``duplicated(keep=False)``
per column (src/schema_validata.py:1427, 2225). At 10^12 rows a plain
``groupBy(key)`` would hot-spot one reducer when a single mega
conversation holds a large share of turns, so the composite-key check
runs as:

  phase 1: groupBy(key..., salt) partial counts   (salt = shard of the
           row, so one hot key spreads over S reducers)
  phase 2: re-aggregate phase-1 counts by key      (input is ≤ S rows
           per surviving key — tiny)

Only keys whose total count > 1 survive, so the phase-2 exchange is
proportional to the number of DUPLICATE keys, not to the data.

Note: for pure counting, Spark's map-side partial hash aggregation
already collapses hot keys per task; the explicit salt additionally
bounds reducer-side state when the grouping spills (many distinct keys
per reducer) and is the contractually-required strategy here.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..functions.colref import qcol
from ..functions.scalars import collect_scalars


def adaptive_salt_width(df: DataFrame, skew_stats: DataFrame | None = None,
                        floor: int = 8, cap: int = 4096) -> int:
    """Salt modulus for a salted two-phase aggregate, derived instead
    of hard-coded (VERDICT r4 #5).

    Without ``skew_stats``: the session's ``spark.sql.shuffle.
    partitions`` (clamped to [floor, cap], rounded up to a power of
    two) — salting spreads a hot key across REDUCERS, so more salts
    than reducers buys nothing, and fewer under-uses a big cluster
    where shuffle partitions are thousands (the old constant 32 capped
    hot-key spread at 32 reducers regardless of cluster size).

    With ``skew_stats`` (a ``key_skew_stats`` output for the same
    key): the measured requirement — the heaviest key's skew_ratio IS
    the salt count that flattens it to a uniform key's share — clamped
    by the same reducer-count ceiling. A cheap screen over yesterday's
    stats beats guessing; pass it when the caller already has one.

    Cost note: a key with ``c`` rows occupies ``min(c, width)``
    phase-1 groups, so widening the salt never multiplies phase-2 input
    beyond the actual duplicate row count — the width only caps how
    thin a MEGA key is sliced."""
    try:
        sp = int(df.sparkSession.conf.get(
            "spark.sql.shuffle.partitions", "200") or 200)
    except Exception:
        sp = 200
    ceiling = max(floor, min(sp, cap))
    width = ceiling
    if skew_stats is not None:
        row = skew_stats.agg(F.max("skew_ratio").alias("__m")) \
                        .collect()[0]
        need = float(row["__m"] or 1.0)
        width = max(floor, min(int(need) + 1, ceiling))
    # power of two: pmod over a pow-2 modulus keeps the hash's low
    # bits uniform and makes the width a clean doubling series
    p = 1
    while p < width:
        p <<= 1
    return p


def _salt_col(n_salts: int) -> F.Column:
    return F.pmod(F.xxhash64(F.monotonically_increasing_id()),
                  F.lit(n_salts))


def duplicate_stats(df: DataFrame, key_cols: list[str],
                    n_salts: int | None = None) -> dict:
    """Exact duplicate stats for a composite key via salted two-phase
    aggregation: ``{'duplicate_keys': k, 'duplicate_rows': m}`` where
    ``duplicate_rows`` counts every member of every duplicate group
    (pandas keep=False semantics). ``n_salts=None`` derives the salt
    modulus from the session's parallelism (``adaptive_salt_width``)."""
    if n_salts is None:
        n_salts = adaptive_salt_width(df)
    keys = [qcol(c) for c in key_cols]
    salt = _salt_col(n_salts)
    phase1 = (df.select(*keys, salt.alias("__salt"))
                .groupBy(*[qcol(c) for c in key_cols], "__salt")
                .agg(F.count(F.lit(1)).alias("__c")))
    phase2 = (phase1.groupBy(*[qcol(c) for c in key_cols])
                    .agg(F.sum("__c").alias("cnt"))
                    .where(F.col("cnt") > 1))
    # the totals land through an Observation on the phase-2 output:
    # no single-partition exchange after the two keyed shuffles
    row = collect_scalars(
        phase2,
        F.coalesce(F.count(F.lit(1)), F.lit(0)).alias("duplicate_keys"),
        F.coalesce(F.sum("cnt"), F.lit(0)).alias("duplicate_rows"))
    return {"duplicate_keys": row["duplicate_keys"] or 0,
            "duplicate_rows": row["duplicate_rows"] or 0}


def composite_duplicates(df: DataFrame, key_cols: list[str],
                         n_salts: int | None = None) -> DataFrame:
    """All rows belonging to duplicated composite keys (keep=False), as a
    DataFrame ``[*key_cols, dup_count]`` joined back to the duplicate key
    set.

    The join-back carries NO broadcast hint: a hint is honored regardless
    of size, and a key where duplication is pervasive (worst case n/2
    distinct duplicated keys) would broadcast an unbounded set. Unhinted,
    AQE measures the aggregate's real output size at runtime and picks a
    broadcast join exactly when the duplicate key set is small."""
    if n_salts is None:
        n_salts = adaptive_salt_width(df)
    salt = _salt_col(n_salts)
    dup_keys = (df.select(*[qcol(c) for c in key_cols], salt.alias("__salt"))
                  .groupBy(*[qcol(c) for c in key_cols], "__salt")
                  .agg(F.count(F.lit(1)).alias("__c"))
                  .groupBy(*[qcol(c) for c in key_cols])
                  .agg(F.sum("__c").alias("dup_count"))
                  .where(F.col("dup_count") > 1))
    return df.join(dup_keys, key_cols, "inner")


def key_skew_stats(df: DataFrame, key_cols: list[str],
                   top_n: int = 20, persist: bool = True) -> DataFrame:
    """Heavy-hitter diagnosis for a prospective shuffle key: the
    ``top_n`` heaviest key values with row count, share of all rows,
    and the ratio to a perfectly-uniform key's share — the number that
    says whether a ``groupBy``/``join`` on this key needs salting or
    AQE skew handling BEFORE the job hot-spots a reducer at 10^12 rows
    (north_rule: "partitioning / shuffle / skew handled explicitly").

    skew_ratio = share × n_distinct_keys: 1.0 ⇒ uniform; ≥ the salt
    count you'd need to spread the key. NULL keys group as NULL (a
    common real hot key) and rank like any other value.

    SCALE: one hash aggregate on the key (partial counts collapse
    map-side — the aggregate itself cannot hot-spot), ONE single-row
    summary aggregate over the counts frame, and a
    TakeOrderedAndProject for the top-N (no global sort materializes).
    Ties break on the key columns for determinism. The counts frame
    feeds BOTH the top-N and the summary, so it is persisted
    MEMORY_AND_DISK by default — (key, count) rows, orders of
    magnitude under the raw data; ``persist=False`` trades a second
    full input scan for zero cache footprint."""
    keys = [qcol(c) for c in key_cols]
    counts = (df.groupBy(*keys)
                .agg(F.count(F.lit(1)).cast("bigint").alias("n_rows")))
    if persist:
        from pyspark import StorageLevel
        counts = counts.persist(StorageLevel.MEMORY_AND_DISK)
    summary = counts.agg(
        F.sum("n_rows").alias("__total"),
        F.count(F.lit(1)).alias("__n_keys"))
    top = counts.orderBy(F.desc("n_rows"),
                         *[qcol(c).asc_nulls_first() for c in key_cols]) \
                .limit(top_n)
    return (top.crossJoin(F.broadcast(summary))
               .select(*[qcol(c) for c in key_cols], "n_rows",
                       F.round(F.col("n_rows") / F.col("__total"), 6)
                        .alias("share"),
                       F.round(F.col("n_rows") * F.col("__n_keys")
                               / F.col("__total"), 4)
                        .alias("skew_ratio")))


def key_locality(df: DataFrame, key_col: str,
                 partition_col: str) -> DataFrame:
    """Physical-locality audit of an access key against the table's
    partition layout: how many partitions does each key's data
    straddle? The one-row answer to "will a point lookup / per-key job
    on ``key_col`` prune partitions, or scan the world?" — the
    complement of key_skew_stats (which asks if the key hot-spots a
    SHUFFLE; this asks if the key respects the SCAN layout). At 10^12
    turns the difference between conv_ids confined to one ts_date
    partition and conv_ids smeared across hundreds is the difference
    between a pruned read and a full-table scan per conversation —
    exactly what an Iceberg sort-order / partition-spec review needs a
    number for.

    Output (single row): n_keys, avg_parts_per_key (6dp),
    max_parts_per_key, pct_single_part (share of keys living entirely
    in one partition, 6dp). NULL keys and NULL partitions participate
    as ordinary values (a NULL partition IS a layout fact).

    SCALE: ONE distinct-pair aggregate — the shuffle carries only
    (key, partition) pairs, map-side pre-deduplicated, nothing from
    the row payload — then a per-key count and a single-row rollup
    over the #keys-sized frame. No raw-row shuffle, no window, no
    sort."""
    pairs = (df.select(qcol(key_col).alias("__k"),
                       qcol(partition_col).cast("string").alias("__p"))
               .distinct())
    per_key = pairs.groupBy("__k").agg(
        F.count(F.lit(1)).cast("bigint").alias("__nparts"))
    return per_key.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_keys"),
        F.round(F.avg("__nparts"), 6).alias("avg_parts_per_key"),
        F.max("__nparts").cast("bigint").alias("max_parts_per_key"),
        F.round(F.avg((F.col("__nparts") == 1).cast("double")), 6)
         .alias("pct_single_part"))


def k_anonymity(df: DataFrame, quasi_cols: list[str],
                k: int = 5) -> DataFrame:
    """k-anonymity screen over a quasi-identifier combination — the
    release-readiness check for transcript/corpus exports: a row whose
    (e.g. source, lang, date) combination is shared by fewer than k
    rows is re-identifiable by joining on those attributes alone, even
    after the PII scan scrubbed direct identifiers. NULL is a value
    here (NULL-lang rows group together — groupBy semantics), since an
    attacker sees the missing attribute too.

    Output (one row): n_rows, n_classes, min_class_size,
    n_violating_classes (size < k), n_violating_rows,
    violating_row_share (6dp; NULL on empty input), k.

    SCALE: ONE map-side-combined hash agg on the quasi-identifier
    combo, then a single-row rollup of the classes-sized count frame —
    the same shape as duplicate_stats; rows never shuffle. For the
    row-level listing join the class frame back with a plain equi-join
    on the combo (violations-sized output)."""
    if not quasi_cols:
        raise ValueError("k_anonymity needs at least one quasi column")
    classes = (df.groupBy(*[qcol(c) for c in quasi_cols])
                 .agg(F.count(F.lit(1)).cast("bigint").alias("__n")))
    bad = F.col("__n") < k
    return classes.agg(
        F.coalesce(F.sum("__n"), F.lit(0)).cast("bigint").alias("n_rows"),
        F.count(F.lit(1)).cast("bigint").alias("n_classes"),
        F.min("__n").alias("min_class_size"),
        F.count(F.when(bad, 1)).cast("bigint").alias("n_violating_classes"),
        F.coalesce(F.sum(F.when(bad, F.col("__n")).otherwise(F.lit(0))),
                   F.lit(0)).cast("bigint").alias("n_violating_rows"),
        F.when(F.sum("__n") > 0,
               F.round(F.sum(F.when(bad, F.col("__n")).otherwise(F.lit(0)))
                       .cast("double") / F.sum("__n"), 6))
         .alias("violating_row_share"),
        F.lit(int(k)).cast("bigint").alias("k"))


def k_anonymity_classes(df: DataFrame, quasi_cols: list[str],
                        k: int = 5) -> DataFrame:
    """The listing twin of ``k_anonymity``: every quasi-identifier
    class with fewer than k rows (the classes a suppression /
    generalization pass must treat before release), with its size.
    Violations-sized output; same single hash agg."""
    classes = (df.groupBy(*[qcol(c) for c in quasi_cols])
                 .agg(F.count(F.lit(1)).cast("bigint").alias("class_size")))
    return classes.where(F.col("class_size") < k)


def l_diversity(df: DataFrame, quasi_cols: list[str],
                sensitive_col: str, l: int = 2) -> DataFrame:
    """l-diversity companion to ``k_anonymity``: a quasi-identifier
    class can be large (k-anonymous) yet still leak — if every row in
    it shares ONE sensitive value, membership alone reveals the
    secret. Per class, count distinct non-NULL sensitive values;
    classes with fewer than l are violations.

    Output (one row): n_classes, n_violating_classes,
    n_violating_rows, violating_row_share (6dp; NULL on empty input),
    min_diversity, l. A class whose sensitive values are all NULL has
    diversity 0 (it reveals 'the secret is missing' — still uniform).

    SCALE: ONE hash agg on (quasi..., sensitive) pre-collapses
    duplicates map-side, then a classes-keyed rollup and a single-row
    summary — the distinct count never materializes per row."""
    if not quasi_cols:
        raise ValueError("l_diversity needs at least one quasi column")
    qs = [qcol(c) for c in quasi_cols]
    pairs = (df.groupBy(*qs, qcol(sensitive_col).alias("__s"))
               .agg(F.count(F.lit(1)).cast("bigint").alias("__n")))
    classes = (pairs.groupBy(*quasi_cols)
                    .agg(F.sum("__n").cast("bigint").alias("__rows"),
                         F.count(F.when(F.col("__s").isNotNull(), 1))
                          .cast("bigint").alias("__div")))
    bad = F.col("__div") < l
    return classes.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_classes"),
        F.count(F.when(bad, 1)).cast("bigint").alias("n_violating_classes"),
        F.coalesce(F.sum(F.when(bad, F.col("__rows")).otherwise(F.lit(0))),
                   F.lit(0)).cast("bigint").alias("n_violating_rows"),
        F.when(F.sum("__rows") > 0,
               F.round(F.sum(F.when(bad, F.col("__rows"))
                              .otherwise(F.lit(0))).cast("double")
                       / F.sum("__rows"), 6)).alias("violating_row_share"),
        F.min("__div").alias("min_diversity"),
        F.lit(int(l)).cast("bigint").alias("l"))


def dup_trend(df: DataFrame, key_cols: list[str], ts_col: str,
              granularity: str = "day") -> DataFrame:
    """Duplicate pressure over TIME: per arrival bucket, how many rows
    belong to a composite key that appears more than once WITHIN that
    bucket — the double-ingest / replayed-batch detector
    (``duplicate_stats`` says the corpus has dups; this says they all
    arrived on March 3rd, which is a pipeline incident, not a data
    property). Keys are scoped per bucket deliberately: a key that
    legitimately recurs across days is not a replay.

    Per bucket: n_rows, n_keys (distinct), dup_keys, dup_rows
    (keep=False count), dup_rate = dup_rows/n_rows (6dp). NULL-ts rows
    are excluded; NULL key parts group like values (SQL GROUP BY).

    SCALE: one (bucket, *key) salted-style hash aggregate — the
    map-side combine collapses within-partition repeats, so the
    shuffle carries (bucket, key, count) partials; the bucket rollup
    runs on the key-counts frame. Same two-phase shape as
    duplicate_stats, keyed one level wider."""
    fmt = {"day": "yyyy-MM-dd", "hour": "yyyy-MM-dd HH"}.get(granularity)
    if fmt is None:
        raise ValueError("dup_trend supports day/hour granularity")
    t = qcol(ts_col)
    bucket = F.date_format(F.date_trunc(granularity, t), fmt)
    per_key = (df.where(t.isNotNull())
                 .groupBy(bucket.alias("bucket"),
                          *[qcol(c) for c in key_cols])
                 .agg(F.count(F.lit(1)).alias("__c")))
    per_bucket = per_key.groupBy("bucket").agg(
        F.sum("__c").cast("bigint").alias("n_rows"),
        F.count(F.lit(1)).cast("bigint").alias("n_keys"),
        F.sum(F.when(F.col("__c") > 1, 1).otherwise(0)).cast("bigint")
         .alias("dup_keys"),
        F.sum(F.when(F.col("__c") > 1, F.col("__c")).otherwise(0))
         .cast("bigint").alias("dup_rows"))
    return per_bucket.select(
        "bucket", "n_rows", "n_keys", "dup_keys", "dup_rows",
        F.round(F.col("dup_rows").cast("double")
                / F.col("n_rows").cast("double"), 6).alias("dup_rate"))


def key_volume_outliers(df: DataFrame, key_cols: list[str],
                        z_threshold: float = 3.5) -> DataFrame:
    """Keys whose ROW VOLUME is a robust outlier among keys — the
    runaway-conversation / scraper-account / stuck-producer list
    (``key_skew_stats`` summarizes the distribution; this names the
    offenders). Scoring is median/MAD (Iglewicz–Hoaglin |z| >=
    ``z_threshold``, default 3.5) over the per-key counts, so a
    handful of mega-keys can't inflate the yardstick they're measured
    against.

    Output (flagged keys only): *key_cols, n_rows, median_rows,
    mad_rows, robust_z (6dp). When the counts MAD is 0 (e.g. almost
    every key appears once) the z is undefined and NO key flags —
    documented contract; use dup/skew screens for that regime.

    SCALE: one map-side-combined count per key (the only row-data
    shuffle); median and MAD are two exact-percentile aggregates over
    the key-counts frame (percentile_approx is the swap at extreme
    key cardinality), broadcast back onto it."""
    counts = (df.groupBy(*[qcol(c) for c in key_cols])
                .agg(F.count(F.lit(1)).cast("bigint").alias("n_rows")))
    med = counts.agg(F.percentile(F.col("n_rows").cast("double"),
                                  F.lit(0.5)).alias("__med"))
    mad = (counts.crossJoin(F.broadcast(med))
                 .agg(F.percentile(
                          F.abs(F.col("n_rows").cast("double")
                                - F.col("__med")), F.lit(0.5))
                       .alias("__mad"),
                      F.max("__med").alias("__med")))
    z = F.round((F.col("n_rows").cast("double") - F.col("__med"))
                / (F.lit(1.4826) * F.col("__mad")), 6)
    return (counts.crossJoin(F.broadcast(mad))
                  .where((F.col("__mad") > 0)
                         & (F.abs(z) >= F.lit(float(z_threshold))))
                  .select(*key_cols, "n_rows",
                          F.round(F.col("__med"), 6)
                           .alias("median_rows"),
                          F.round(F.col("__mad"), 6).alias("mad_rows"),
                          z.alias("robust_z")))


def join_size_estimate(left: DataFrame, left_key: str,
                       right: DataFrame, right_key: str,
                       k: int = 100) -> DataFrame:
    """Pre-flight JOIN SIZE + skew estimate — run this BEFORE a
    fact×fact equi-join at scale to know whether the output explodes
    and whether a handful of keys dominate it (→ salt or AQE skew
    hints). The heavy head is EXACT: the top-``k`` keys per side (by
    count, key tiebreak) contribute Σ c_l·c_r over the union of both
    heads; the tail uses the textbook containment estimate
    |A⋈B| ≈ rows_A·rows_B / max(keys_A, keys_B) on what's left.

    Output (one row): left_rows, right_rows, left_keys, right_keys
    (exact BIGINT), n_heavy_keys (|head_L ∪ head_R| with both-side
    presence), heavy_pairs (exact, DECIMAL-safe), tail_pairs_est,
    est_rows (heavy + tail, 2dp), heavy_share (heavy/est, 6dp; NULL
    when est is 0).

    SCALE: one count-per-key aggregate per side (the only row-data
    shuffles); heads are TakeOrderedAndProject over the key-counts
    frames (per-task heaps, no global sort of row data); the ≤2k-key
    head frame broadcasts onto both counts frames. NULL keys never
    join and are excluded."""
    if k < 1:
        raise ValueError("k must be >= 1")

    def _counts(df, key):
        return (df.where(qcol(key).isNotNull())
                  .groupBy(qcol(key).cast("string").alias("key"))
                  .agg(F.count(F.lit(1)).cast("bigint").alias("c")))

    cl, cr = _counts(left, left_key), _counts(right, right_key)
    hl = (cl.orderBy(F.col("c").desc(), F.col("key").asc()).limit(int(k))
            .select("key"))
    hr = (cr.orderBy(F.col("c").desc(), F.col("key").asc()).limit(int(k))
            .select("key"))
    heads = hl.union(hr).distinct()
    heavy = (heads.join(cl, "key", "inner")
                  .join(cr.withColumnRenamed("c", "cr"), "key", "inner")
                  .agg(F.coalesce(F.count(F.lit(1)), F.lit(0))
                        .cast("bigint").alias("n_heavy_keys"),
                       F.coalesce(
                           F.sum(F.col("c").cast("decimal(38,0)")
                                 * F.col("cr").cast("decimal(38,0)")),
                           F.lit(0).cast("decimal(38,0)"))
                        .alias("heavy_pairs"),
                       F.coalesce(F.sum("c"), F.lit(0)).cast("bigint")
                        .alias("__hl_rows"),
                       F.coalesce(F.sum("cr"), F.lit(0)).cast("bigint")
                        .alias("__hr_rows")))
    # heavy-key totals per side (rows under head∪head keys present on
    # that side, matched or not) for the tail subtraction
    hl_tot = (heads.join(cl, "key")
                   .agg(F.coalesce(F.sum("c"), F.lit(0)).cast("bigint")
                         .alias("__l_head_rows"),
                        F.coalesce(F.count(F.lit(1)), F.lit(0))
                         .cast("bigint").alias("__l_head_keys")))
    hr_tot = (heads.join(cr, "key")
                   .agg(F.coalesce(F.sum("c"), F.lit(0)).cast("bigint")
                         .alias("__r_head_rows"),
                        F.coalesce(F.count(F.lit(1)), F.lit(0))
                         .cast("bigint").alias("__r_head_keys")))
    lt = cl.agg(F.coalesce(F.sum("c"), F.lit(0)).cast("bigint")
                 .alias("left_rows"),
                F.coalesce(F.count(F.lit(1)), F.lit(0)).cast("bigint")
                 .alias("left_keys"))
    rt = cr.agg(F.coalesce(F.sum("c"), F.lit(0)).cast("bigint")
                 .alias("right_rows"),
                F.coalesce(F.count(F.lit(1)), F.lit(0)).cast("bigint")
                 .alias("right_keys"))
    row = (lt.crossJoin(rt).crossJoin(heavy)
             .crossJoin(hl_tot).crossJoin(hr_tot))
    tail_l_rows = (F.col("left_rows") - F.col("__l_head_rows")) \
        .cast("double")
    tail_r_rows = (F.col("right_rows") - F.col("__r_head_rows")) \
        .cast("double")
    tail_keys = F.greatest(
        (F.col("left_keys") - F.col("__l_head_keys")).cast("double"),
        (F.col("right_keys") - F.col("__r_head_keys")).cast("double"))
    tail_est = F.when(tail_keys > 0,
                      tail_l_rows * tail_r_rows / tail_keys) \
                .otherwise(F.lit(0.0))
    est = F.col("heavy_pairs").cast("double") + tail_est
    return row.select(
        "left_rows", "right_rows", "left_keys", "right_keys",
        "n_heavy_keys", F.col("heavy_pairs").cast("double")
         .alias("heavy_pairs"),
        F.round(tail_est, 2).alias("tail_pairs_est"),
        F.round(est, 2).alias("est_rows"),
        F.when(est > 0,
               F.round(F.col("heavy_pairs").cast("double") / est, 6))
         .alias("heavy_share"))
