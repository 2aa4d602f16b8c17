"""Referential integrity: fact foreign keys vs a dimension.

No reference counterpart (the reference validates one table at a time);
this is the north_rule addition: ``transcripts.conv_id`` must exist in
``conversations.conv_id``. Two shapes:

* ``referential_violations`` lists the orphan rows with a ``left_anti``
  join (``validate()``'s RI count and the row listing);
* ``referential_exists`` is a per-row existence flag: a correlated
  ``EXISTS`` that plans as a broadcast ``ExistenceJoin``, so it rides a
  scan the caller already runs (``partition_verdicts`` counts orphans in
  its per-partition check aggregate).

Every engine path broadcasts the dimension's key projection by hint;
none measures the dimension first, so a dimension too large to
broadcast needs a caller-built plan. ``referential_violations`` called
directly leaves the join strategy to the planner unless
``broadcast_dim=True``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from ..functions.colref import qcol


def referential_violations(fact: DataFrame, fk_cols: list[str],
                           dim: DataFrame, dim_cols: list[str],
                           broadcast_dim: bool | None = None) -> DataFrame:
    """Rows of ``fact`` whose (non-null) foreign key has no match in
    ``dim``. NULL foreign keys are excluded — they are the null check's
    business, not RI's.

    The dimension is NOT deduplicated: a left-anti join only asks
    whether a matching key exists, so duplicate dim keys cannot change
    the result, and a ``dropDuplicates`` would cost a shuffle of the
    dimension on every call."""
    d = dim.select(*[qcol(c).alias(f"__d_{i}")
                     for i, c in enumerate(dim_cols)])
    # no hint unless the caller asks: the planner (and AQE at runtime)
    # picks the join; sizing the dimension here would cost a count() job
    if broadcast_dim:
        d = F.broadcast(d)
    cond = None
    for i, fk in enumerate(fk_cols):
        c = qcol(fk) == F.col(f"__d_{i}")
        cond = c if cond is None else cond & c
    nn = None
    for fk in fk_cols:
        c = qcol(fk).isNotNull()
        nn = c if nn is None else nn & c
    return fact.where(nn).join(d, cond, "left_anti")


def referential_exists(fact_alias: str, fk_col: str,
                       dim: DataFrame, dim_col: str) -> Column:
    """Boolean Column, for a fact frame aliased ``fact_alias``: does the
    row's foreign key match some ``dim`` key? A correlated ``EXISTS``
    over the broadcast key projection, planned as a ``BroadcastHashJoin``
    ``ExistenceJoin``: every fact row stays exactly once whatever the
    dimension's duplicate or NULL keys. A NULL foreign key is False;
    callers that follow ``referential_violations`` exclude it.

    The outer reference is qualified through the alias: an unqualified
    ``.outer()`` column of the dimension key's name resolves to the
    dimension's own column (through the key projection) and silently
    decorrelates the subquery into "the dimension is non-empty"."""
    d = F.broadcast(dim.select(qcol(dim_col).alias("__d_0")))
    outer = F.col(f"{fact_alias}.`{fk_col.replace('`', '``')}`").outer()
    return d.where(F.col("__d_0") == outer).exists()


def reconcile_keys(df_a: DataFrame, keys_a: list[str],
                   df_b: DataFrame, keys_b: list[str]) -> DataFrame:
    """Two-sided key reconciliation: ``(status, n_keys)`` for status in
    {'only_a', 'only_b', 'both'} over the DISTINCT (non-null) key sets —
    the source-vs-sink audit after a copy/transform ("did every order
    land, and did anything appear from nowhere?").

    Scale shape: tag + union + ONE aggregate on the key — each side's
    duplicates collapse map-side in the same hash aggregate (no separate
    distinct pass, no join); the classification re-aggregates the
    distinct-key frame. Works for composite keys (positional match)."""
    if len(keys_a) != len(keys_b):
        raise ValueError("keys_a and keys_b must have the same arity")

    def _side(df: DataFrame, keys: list[str], bit: int) -> DataFrame:
        nn = None
        for k in keys:
            c = qcol(k).isNotNull()
            nn = c if nn is None else nn & c
        return (df.where(nn)
                  .select(*[qcol(k).alias(f"__k{i}")
                            for i, k in enumerate(keys)],
                          F.lit(bit).alias("__s")))

    tagged = _side(df_a, keys_a, 1).unionByName(_side(df_b, keys_b, 2))
    kcols = [f"__k{i}" for i in range(len(keys_a))]
    per_key = tagged.groupBy(*kcols).agg(F.bit_or("__s").alias("__m"))
    status = (F.when(F.col("__m") == 1, F.lit("only_a"))
               .when(F.col("__m") == 2, F.lit("only_b"))
               .otherwise(F.lit("both")))
    return (per_key.groupBy(status.alias("status"))
                   .agg(F.count(F.lit(1)).alias("n_keys")))


def referential_violation_count(fact: DataFrame, fk_cols: list[str],
                                dim: DataFrame, dim_cols: list[str],
                                broadcast_dim: bool | None = None) -> int:
    return referential_violations(fact, fk_cols, dim, dim_cols,
                                  broadcast_dim).count()


def fd_check(df: DataFrame,
             fds: list[tuple[str, list[str], str]]) -> DataFrame:
    """Functional-dependency audit: for each claimed dependency
    ``determinant → dependent``, how many determinant keys map to MORE
    than one distinct non-null dependent value (and how many rows live
    under those keys). The classic "is this column derivable from that
    key" data-quality probe — e.g. does every order carry one return
    flag, does every user keep one signup country.

    ``fds`` is ``[(name, [det_col, ...], dep_col), ...]``; output is
    one row per dependency:
    ``(fd, n_keys, n_violating_keys, n_rows_in_violating_keys)``.

    NULL dependent values are ignored (NULL asserts nothing about the
    dependency); rows whose determinant is entirely NULL are grouped
    under the NULL key like any other group.

    Scale shape: one hash aggregate per dependency on the determinant
    key (two-stage count-distinct — partial (key, dep) dedup map-side),
    then a one-row reduction; results union. Distinct dependencies
    cannot share a grouping, so the scans are per-FD by construction —
    at cluster scale callers persist ``df`` once across the list."""
    if not fds:
        raise ValueError("fds must be non-empty")
    out = None
    for name, det_cols, dep_col in fds:
        per_key = (df.groupBy(*[qcol(c) for c in det_cols])
                   .agg(F.count(F.lit(1)).alias("__n"),
                        F.count_distinct(qcol(dep_col)).alias("__d")))
        summ = per_key.agg(
            F.lit(name).alias("fd"),
            F.count(F.lit(1)).cast("bigint").alias("n_keys"),
            F.sum(F.when(F.col("__d") > 1, 1).otherwise(0))
             .cast("bigint").alias("n_violating_keys"),
            F.sum(F.when(F.col("__d") > 1, F.col("__n")).otherwise(0))
             .cast("bigint").alias("n_rows_in_violating_keys"))
        out = summ if out is None else out.unionByName(summ)
    return out


def relationship_audit(df_a: DataFrame, df_b: DataFrame,
                       key_a: str, key_b: str | None = None) -> DataFrame:
    """Join-cardinality audit between two tables on a key: BEFORE a
    pipeline joins them, classify the actual relationship the data
    exhibits (one_to_one / one_to_many / many_to_one / many_to_many)
    and count the orphans BOTH ways — ``referential_violations`` lists
    one direction's rows; this is the schema-level contract check that
    catches a fan-out join (N:M where the pipeline assumed 1:N
    silently multiplies rows) and dim/fact drift in one number.

    NULL keys never join (SQL semantics): they are excluded from the
    relationship and counted separately. Output (one row):
    n_keys_a, n_keys_b (distinct non-null), n_matched_keys,
    orphan_keys_a, orphan_keys_b, max_rows_per_key_a,
    max_rows_per_key_b, null_rows_a, null_rows_b, relationship,
    worst_fanout (max matched-pair multiplicity = max_a·max_b upper
    bound realized per key — the row-explosion factor a join can hit).

    SCALE: one hash agg per side collapses to (key, count) frames
    (map-side combined — rows never shuffle twice), then a full-outer
    join of the two KEY-sized frames and a single-row rollup. No raw
    cross join is ever built."""
    kb = key_b or key_a
    ca = (df_a.where(F.col(key_a).isNotNull())
              .groupBy(F.col(key_a).alias("__k"))
              .agg(F.count(F.lit(1)).cast("bigint").alias("__na")))
    cb = (df_b.where(F.col(kb).isNotNull())
              .groupBy(F.col(kb).alias("__k"))
              .agg(F.count(F.lit(1)).cast("bigint").alias("__nb")))
    nulls_a = df_a.where(F.col(key_a).isNull()) \
                  .agg(F.count(F.lit(1)).cast("bigint").alias("null_rows_a"))
    nulls_b = df_b.where(F.col(kb).isNull()) \
                  .agg(F.count(F.lit(1)).cast("bigint").alias("null_rows_b"))
    j = ca.join(cb, "__k", "full_outer")
    matched = F.col("__na").isNotNull() & F.col("__nb").isNotNull()
    agg = j.agg(
        F.count(F.when(F.col("__na").isNotNull(), 1)).cast("bigint")
         .alias("n_keys_a"),
        F.count(F.when(F.col("__nb").isNotNull(), 1)).cast("bigint")
         .alias("n_keys_b"),
        F.count(F.when(matched, 1)).cast("bigint").alias("n_matched_keys"),
        F.count(F.when(F.col("__nb").isNull(), 1)).cast("bigint")
         .alias("orphan_keys_a"),
        F.count(F.when(F.col("__na").isNull(), 1)).cast("bigint")
         .alias("orphan_keys_b"),
        F.coalesce(F.max(F.when(matched, F.col("__na"))), F.lit(0))
         .cast("bigint").alias("max_rows_per_key_a"),
        F.coalesce(F.max(F.when(matched, F.col("__nb"))), F.lit(0))
         .cast("bigint").alias("max_rows_per_key_b"),
        F.coalesce(F.max(F.when(matched, F.col("__na") * F.col("__nb"))),
                   F.lit(0)).cast("bigint").alias("worst_fanout"))
    rel = (F.when(F.col("n_matched_keys") == 0, F.lit("disjoint"))
            .when((F.col("max_rows_per_key_a") <= 1)
                  & (F.col("max_rows_per_key_b") <= 1),
                  F.lit("one_to_one"))
            .when(F.col("max_rows_per_key_a") <= 1, F.lit("one_to_many"))
            .when(F.col("max_rows_per_key_b") <= 1, F.lit("many_to_one"))
            .otherwise(F.lit("many_to_many")))
    return (agg.crossJoin(F.broadcast(nulls_a))
               .crossJoin(F.broadcast(nulls_b))
               .withColumn("relationship", rel)
               .select("n_keys_a", "n_keys_b", "n_matched_keys",
                       "orphan_keys_a", "orphan_keys_b",
                       "max_rows_per_key_a", "max_rows_per_key_b",
                       "null_rows_a", "null_rows_b",
                       "relationship", "worst_fanout"))


def fd_violations(df: DataFrame, det_cols: list[str], dep_col: str,
                  max_keys: int | None = None) -> DataFrame:
    """Row-level companion to ``fd_check``: LIST the determinant keys
    that break ``det_cols -> dep_col``, one output row per (key,
    dependent value) under a violating key — the drill-down a data
    owner needs after the summary says "173 orders carry two return
    flags" (reference analog: the value_errors sheets that accompany
    every pass/fail verdict, src/schema_validata.py get_rows_with_
    condition_issues style listing vs aggregate verdicts).

    Output: ``det_cols..., dep_value (string), n_rows, n_distinct_vals,
    is_majority`` — ``is_majority`` marks the value that would survive a
    majority-vote repair (ties broken by greatest value, deterministic
    across shuffles/retries).

    NULL dependent values assert nothing (ignored, as in ``fd_check``);
    an entirely-NULL determinant groups under the NULL key.

    SCALE: one two-stage hash aggregate on (det, dep) — raw rows
    collapse map-side, the dependent value travels as a string — then a
    key-level window over the AGGREGATED frame (bounded by distinct
    (det, dep) combos, not rows). ``max_keys`` bounds the listing the
    same way the report path caps value errors (greatest n_rows keys
    win; ties by key, deterministic)."""
    from pyspark.sql import Window

    dets = [qcol(c) for c in det_cols]
    per = (df.where(qcol(dep_col).isNotNull())
             .groupBy(*dets, qcol(dep_col).cast("string").alias("dep_value"))
             .agg(F.count(F.lit(1)).cast("bigint").alias("n_rows")))
    w = Window.partitionBy(*[qcol(c) for c in det_cols])
    per = (per.withColumn("n_distinct_vals",
                          F.count(F.lit(1)).over(w).cast("bigint"))
              .withColumn("__best",
                          F.max(F.struct(F.col("n_rows"),
                                         F.col("dep_value"))).over(w))
              .where(F.col("n_distinct_vals") > 1)
              .withColumn("is_majority",
                          (F.col("n_rows") == F.col("__best.n_rows"))
                          & (F.col("dep_value") == F.col("__best.dep_value")))
              .drop("__best"))
    if max_keys is not None:
        key_rows = (per.groupBy(*[qcol(c) for c in det_cols])
                       .agg(F.sum("n_rows").alias("__kn")))
        kw = Window.orderBy(F.col("__kn").desc(),
                            *[qcol(c).asc_nulls_first() for c in det_cols])
        keep = (key_rows.withColumn("__rk", F.row_number().over(kw))
                        .where(F.col("__rk") <= max_keys)
                        .drop("__kn", "__rk"))
        cond = None
        for c in det_cols:
            eq = per[f"`{c}`"].eqNullSafe(keep[f"`{c}`"])
            cond = eq if cond is None else cond & eq
        per = per.join(keep, cond, "left_semi")
    return per


def candidate_keys(df: DataFrame,
                   key_sets: list[tuple[str, list[str]]]) -> DataFrame:
    """Candidate-key discovery: for each named column set, does it
    uniquely identify rows? The rule-authoring probe that precedes a
    ``unique_value`` constraint (reference: the data dictionary's
    unique_value column, src/schema_validata.py:1344 area) — run it
    over plausible keys BEFORE writing the dictionary.

    Output one row per candidate: ``key_name, n_rows, n_null_rows
    (any key column NULL), n_distinct (non-null tuples), n_extra_rows
    (non-null rows minus distinct = rows a unique constraint would
    flag), is_unique (no duplicates AND no NULL keys)``.

    SCALE: the row total and EVERY candidate's null count ride ONE
    shared aggregate scan; each candidate then needs exactly one
    two-stage hash aggregate on its key tuple (map-side partial
    counts; only (key, count) shuffles) and a one-row rollup —
    1 + len(key_sets) scans total. At cluster scale callers persist
    ``df`` once across the list — same contract as ``fd_check``."""
    if not key_sets:
        raise ValueError("key_sets must be non-empty")

    def _nn(cols: list[str]):
        nn = None
        for c in cols:
            x = qcol(c).isNotNull()
            nn = x if nn is None else nn & x
        return nn

    totals = df.agg(
        F.count(F.lit(1)).cast("bigint").alias("__total"),
        *[F.sum(F.when(~_nn(cols), 1).otherwise(0)).cast("bigint")
           .alias(f"__nulls_{i}") for i, (_, cols) in enumerate(key_sets)])
    out = None
    for i, (name, cols) in enumerate(key_sets):
        per_key = (df.where(_nn(cols))
                     .groupBy(*[qcol(c) for c in cols])
                     .agg(F.count(F.lit(1)).alias("__n")))
        dk = per_key.agg(
            F.count(F.lit(1)).cast("bigint").alias("__distinct"),
            F.coalesce(F.sum(F.col("__n") - 1), F.lit(0)).cast("bigint")
             .alias("__extra"))
        row = (totals.crossJoin(F.broadcast(dk))
               .select(F.lit(name).alias("key_name"),
                       F.col("__total").alias("n_rows"),
                       F.col(f"__nulls_{i}").alias("n_null_rows"),
                       F.col("__distinct").alias("n_distinct"),
                       F.col("__extra").alias("n_extra_rows"),
                       ((F.col("__extra") == 0)
                        & (F.col(f"__nulls_{i}") == 0))
                       .alias("is_unique")))
        out = row if out is None else out.unionByName(row)
    return out


def fd_repair(df: DataFrame, det_cols: list[str], dep_col: str) -> DataFrame:
    """Majority-vote REPAIR for a broken functional dependency: every
    row's ``dep_col`` is coerced to its determinant key's majority
    value (ties by greatest value — the same deterministic winner
    ``fd_violations`` marks ``is_majority``), with a ``was_repaired``
    flag naming the rows that changed. The act-on-it companion to
    ``fd_violations``'s listing: "every order carries ONE return flag
    afterwards".

    NULL dependents assert nothing and are NEVER repaired (they stay
    NULL — they are the null check's business); keys whose dependents
    are all NULL have no majority and keep their rows untouched; NULL
    determinant keys repair within the NULL key like any other.

    SCALE: one (det, dep) two-stage hash aggregate builds the
    #keys-sized majority frame; the join back is keyed on the
    determinant (null-safe) and AQE chooses broadcast when the frame
    fits — raw rows shuffle at most once, the dependent column rides
    as its native type (no string round-trip)."""
    dets = [qcol(c) for c in det_cols]
    per = (df.where(qcol(dep_col).isNotNull())
             .groupBy(*dets, qcol(dep_col).alias("__dep"))
             .agg(F.count(F.lit(1)).alias("__n")))
    maj = (per.groupBy(*[qcol(c).alias(f"__mk{i}")
                         for i, c in enumerate(det_cols)])
              .agg(F.max(F.struct(F.col("__n"), F.col("__dep")))
                    .alias("__best"))
              .select(*[F.col(f"__mk{i}") for i in range(len(det_cols))],
                      F.col("__best.__dep").alias("__maj")))
    cond = None
    for i, c in enumerate(det_cols):
        eq = qcol(c).eqNullSafe(F.col(f"__mk{i}"))
        cond = eq if cond is None else cond & eq
    dep = qcol(dep_col)
    repaired = F.when(dep.isNull(), dep) \
                .otherwise(F.coalesce(F.col("__maj"), dep))
    was = dep.isNotNull() & F.col("__maj").isNotNull() \
        & ~dep.eqNullSafe(F.col("__maj"))
    out_cols = [repaired.alias(dep_col) if c == dep_col else qcol(c)
                for c in df.columns]
    return (df.join(maj, cond, "left")
              .select(*out_cols, was.alias("was_repaired")))
