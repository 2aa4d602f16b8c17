"""Column profiling: the reference's ``build_data_dictionary``
(src/schema_validata.py:1344-1473) re-expressed as O(1) Spark jobs.

The reference loops columns in pandas, calling ``duplicated()``,
``nunique()``, ``to_numeric()`` per column (O(cols) passes, single
node). Here two input scans produce every stat:

* **Feature aggregate** — per-column scalar stats (non-null count,
  lengths, numeric range, type-probe tallies, an HLL distinct
  estimate). Narrow tables (≤ ``WIDE_PROFILE_MAX_COLS``) take ONE wide
  global aggregate that lands through an ``Observation`` on a ``noop``
  write (``functions.scalars.collect_scalars``): one job, no
  single-partition reduce. Wider tables melt every cell into
  ``(column, na_flag, features)`` rows via an ``explode`` generator and
  group by column — a single ``df.agg`` with ~16 expressions × N
  columns generates code past the JVM JIT method limit (interpreted
  fallback, ~30× slower), so the melt keeps generated methods
  constant-size regardless of column count.

* **Value aggregate** — exact distinct and pandas
  ``duplicated(keep=False)`` duplicate-member counts, in two stages:
  stage 1 groups by ``(column, prefix32, xxhash64, v)`` — long text
  never travels, and map-side partial aggregation collapses hot values
  so a skewed value (one role in 10^11 rows) reaches the reducer as one
  partial row per map task — and stage 2 re-aggregates per column.
  ``v`` is the value itself only for columns whose HLL estimate is
  ≤ 2 × ``max_unique_vals`` (NULL elsewhere), so stage 2's
  ``sort_array(collect_list(v))`` is the allowed-value capture at no
  extra scan, while high-cardinality values never shuffle.

An HLL underestimate can leave an allowed-list candidate (exact
distinct ≤ ``max_unique_vals``) uncaptured; only then does the
``_pass_c`` fallback collect its values in one more observed pass.
String columns whose values all look date-like get the real datetime
parse battery in one small observed confirmation pass.

On a narrow table the profile is 4 Spark jobs (feature aggregate 1,
value aggregate 3), independent of row and column count.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame, functions as F

from ..config import MAX_UNIQUE_VALS
from ..functions.datetimes import dateish_shape_expr, datetime_probe_expr
from ..functions.colref import qcol
from ..functions.nulls import canonicalize_na, is_na_expr
from ..functions.scalars import collect_scalars
from ..functions.typing import (decide_logical_type, safe_bigint,
                                safe_double, spark_type_to_logical)
from .verdicts import downcast_ints

_PROBES = ["nonnull", "int_ok", "float_ok", "bool_ok", "ts_ok", "lead0"]


def _canonical_values(df: DataFrame, na_values=None, na_patterns=None):
    """(field, canonical-string-value Column) per column: NA-like strings
    → NULL, everything rendered as string."""
    out = []
    for f in df.schema.fields:
        c = qcol(f.name)
        if f.dataType.simpleString() == "string":
            vv = F.when(is_na_expr(c, na_values, na_patterns),
                        F.lit(None).cast("string")).otherwise(c)
        else:
            vv = c.cast("string")
        out.append((f, vv))
    return out


# Narrow tables take the wide-aggregate fast path: one global agg with
# ~16 expressions per column — no explode, no per-cell struct, no group
# hash table (a single-row aggregate). Measured 4× faster than the melt
# on the 6-column transcripts fixture (5.8s vs 23.4s warm at 4M rows).
# The melt exists because ~16·n_cols aggregate expressions blow
# generated-method limits on WIDE tables (commit 94cee04) — so the gate
# is a column count keeping the agg ≤ ~256 expressions.
WIDE_PROFILE_MAX_COLS = 16


# order must match every branch's `per` construction below
_WIDE_KEYS = ["nonnull", "na_like", "maxlen_raw", "maxlen_int", "num_min",
              "num_max", "allint", "bool_min", "bool_max", "int_ok",
              "float_ok", "bool_ok", "ts_ok", "lead0", "approx_distinct"]


def _wide_feat_rows(df: DataFrame, na_values, na_patterns,
                    content_out: dict | None = None,
                    extra_aggs: list[tuple] | None = None,
                    extra_out: dict | None = None) -> list[dict]:
    """Same per-column feature stats as the melt's grouped aggregate,
    computed as ONE wide global aggregate — field-by-field mirror of
    ``_feat`` + the ``per_col`` agg (same masking, same coalesces), so
    downstream assembly cannot tell which path ran.

    ``content_out``: when a dict is passed, a CONTENT fingerprint rides
    the same scan (VERDICT r2 #3) — ``token = fp:{rows}:{bit_xor of
    xxhash64(row)}:{bounded row-hash sum}``, the partition_fingerprints
    combiner over the whole frame. One extra hash per row, zero extra
    jobs; any value swap between rows changes the token (a stats-only
    hash cannot see a swap that moves no column-level stat).

    ``extra_aggs``: caller-supplied ``(name, aggregate Column)`` pairs
    that RIDE this same wide aggregate — the fold that lets
    ``validate()``'s conditional-rule counts share the profile scan
    instead of paying their own full input pass (VERDICT r4 #4). The
    expressions may reference any original column of ``df`` (the agg's
    projection keeps them all); results land in ``extra_out[name]``."""
    zero = F.lit(0)
    aggs: list[F.Column] = [F.count(F.lit(1)).alias("total")]
    names: list[str] = []
    # Pre-project the MULTI-USE per-row derivations (NA flag ~12 refs,
    # safe_double 5 refs, bool-word probe 3 refs) so the aggregate
    # consumes attribute references: HashAggregate codegen does not
    # subexpression-eliminate across aggregate functions, so restating
    # safe_double(c) in five aggregate expressions re-parses the cell
    # five times per row (measured ~2x on the flagship's 4-string-col
    # table). Single-use features (length, rlike, HLL, shape screens)
    # stay inline on the raw column.
    proj: list[F.Column] = [qcol(f.name) for f in df.schema.fields]
    for i, f in enumerate(df.schema.fields):
        if f.dataType.simpleString() != "string":
            continue
        c = qcol(f.name)
        # O(1) byte gate before the lower(trim()) allocation — an
        # ungated lower+trim copies every multi-KB document cell
        # twice per row; same documented ~150-byte padding bound as
        # is_na_expr/safe_double (a bool drowned in >145 bytes of
        # whitespace is not classified)
        lt = F.lower(F.trim(c))
        bw = (F.octet_length(c) <= 150) & lt.isin("true", "false")
        proj.extend([
            is_na_expr(c, na_values, na_patterns).alias(f"__na_{i}"),
            safe_double(c).alias(f"__d_{i}"),
            bw.alias(f"__bw_{i}"),
            F.when(bw, (lt == "true").cast("int")).alias(f"__b_{i}"),
        ])
    src = df.select(*proj)
    for i, f in enumerate(df.schema.fields):
        c = qcol(f.name)
        kind = f.dataType.simpleString()
        names.append(f.name)
        if kind == "string":
            na = F.col(f"__na_{i}")
            nn = ~na
            d = F.col(f"__d_{i}")
            bool_word = F.col(f"__bw_{i}")
            b = F.col(f"__b_{i}")

            def g(e):
                return F.when(nn, e)
            per = [
                F.coalesce(F.sum(nn.cast("int")), zero).alias("nonnull"),
                F.coalesce(F.max(F.when(na, 1)), zero).alias("na_like"),
                F.max(g(F.length(c))).alias("maxlen_raw"),
                F.max(g(F.length(
                    F.when(F.abs(d) < 9.2e18, d.try_cast("bigint"))
                     .cast("string")))).alias("maxlen_int"),
                F.min(g(d)).alias("num_min"),
                F.max(g(d)).alias("num_max"),
                F.min(g(F.when(d.isNotNull(),
                               (d == F.floor(d)).cast("int"))))
                 .alias("allint"),
                F.min(g(b)).alias("bool_min"),
                F.max(g(b)).alias("bool_max"),
                F.coalesce(F.sum(g(safe_bigint(c).isNotNull().cast("int"))),
                           zero).alias("int_ok"),
                F.coalesce(F.sum(g(d.isNotNull().cast("int"))), zero)
                 .alias("float_ok"),
                F.coalesce(F.sum(g(bool_word.cast("int"))), zero)
                 .alias("bool_ok"),
                F.coalesce(F.sum(g(dateish_shape_expr(c))), zero)
                 .alias("ts_ok"),
                # anchored prefix regex ≡ substring(trim(c),1,1)=='0' &
                # substring(trim(c),2,1) in 0-9 (Spark trim strips ASCII
                # spaces only) — the regex scans the prefix in place; the
                # substring(trim()) form copied every multi-KB text cell
                F.coalesce(F.max(g(c.rlike("^ *0[0-9]").cast("int"))),
                           zero).alias("lead0"),
            ]
        else:
            na = c.isNull()
            nn = ~na
            s = c.cast("string")

            def g(e):
                return F.when(nn, e)
            common = [
                F.coalesce(F.sum(nn.cast("int")), zero).alias("nonnull"),
                F.coalesce(F.max(F.when(na, 1)), zero).alias("na_like"),
                F.max(g(F.length(s))).alias("maxlen_raw"),
            ]
            if kind in ("tinyint", "smallint", "int", "bigint", "float",
                        "double") or kind.startswith("decimal"):
                d = c.cast("double")
                allint = (d == F.floor(d)).cast("int")
                per = common + [
                    F.max(g(F.length(
                        F.when(F.abs(d) < 9.2e18, d.try_cast("bigint"))
                         .cast("string")))).alias("maxlen_int"),
                    F.min(g(d)).alias("num_min"),
                    F.max(g(d)).alias("num_max"),
                    F.min(g(allint)).alias("allint"),
                    F.min(F.lit(None).cast("int")).alias("bool_min"),
                    F.max(F.lit(None).cast("int")).alias("bool_max"),
                    F.coalesce(F.sum(g(allint)), zero).alias("int_ok"),
                    F.coalesce(F.sum(g(F.lit(1))), zero).alias("float_ok"),
                    F.coalesce(F.sum(zero), zero).alias("bool_ok"),
                    F.coalesce(F.sum(zero), zero).alias("ts_ok"),
                    F.coalesce(F.max(zero), zero).alias("lead0"),
                ]
            elif kind == "boolean":
                b = c.cast("int")
                per = common + [
                    F.max(F.lit(None).cast("int")).alias("maxlen_int"),
                    F.min(F.lit(None).cast("double")).alias("num_min"),
                    F.max(F.lit(None).cast("double")).alias("num_max"),
                    F.min(F.lit(None).cast("int")).alias("allint"),
                    F.min(g(b)).alias("bool_min"),
                    F.max(g(b)).alias("bool_max"),
                    F.coalesce(F.sum(zero), zero).alias("int_ok"),
                    F.coalesce(F.sum(zero), zero).alias("float_ok"),
                    F.coalesce(F.sum(g(F.lit(1))), zero).alias("bool_ok"),
                    F.coalesce(F.sum(zero), zero).alias("ts_ok"),
                    F.coalesce(F.max(zero), zero).alias("lead0"),
                ]
            else:  # timestamp / date / other
                is_ts = kind in ("timestamp", "timestamp_ntz", "date")
                per = common + [
                    F.max(F.lit(None).cast("int")).alias("maxlen_int"),
                    F.min(F.lit(None).cast("double")).alias("num_min"),
                    F.max(F.lit(None).cast("double")).alias("num_max"),
                    F.min(F.lit(None).cast("int")).alias("allint"),
                    F.min(F.lit(None).cast("int")).alias("bool_min"),
                    F.max(F.lit(None).cast("int")).alias("bool_max"),
                    F.coalesce(F.sum(zero), zero).alias("int_ok"),
                    F.coalesce(F.sum(zero), zero).alias("float_ok"),
                    F.coalesce(F.sum(zero), zero).alias("bool_ok"),
                    F.coalesce(F.sum(g(F.lit(1) if is_ts else zero)), zero)
                     .alias("ts_ok"),
                    F.coalesce(F.max(zero), zero).alias("lead0"),
                ]
        per.append(F.approx_count_distinct(F.when(nn, c))
                    .alias("approx_distinct"))
        aggs.extend(col.alias(f"{i}__{k}") for k, col in zip(_WIDE_KEYS, per))
    if content_out is not None:
        src = src.withColumn("__rh", F.xxhash64(
            F.struct(*[qcol(f.name) for f in df.schema.fields])))
        aggs.append(F.expr("bit_xor(__rh)").alias("__rh_xor"))
        aggs.append(F.sum(F.pmod(F.col("__rh"), F.lit(1 << 20)))
                     .alias("__rh_sum"))
    if extra_aggs:
        aggs.extend(col.alias(f"__extra_{j}")
                    for j, (_, col) in enumerate(extra_aggs))
    row = collect_scalars(src, *aggs)
    if extra_aggs and extra_out is not None:
        for j, (nm, _) in enumerate(extra_aggs):
            extra_out[nm] = row[f"__extra_{j}"]
    total = row["total"]
    if content_out is not None:
        content_out["token"] = \
            f"fp:{total}:{row['__rh_xor']}:{row['__rh_sum']}"
    out = []
    for i, name in enumerate(names):
        rec = {"cname": name, "total": total}
        for k in _WIDE_KEYS:
            rec[k] = row[f"{i}__{k}"]
        out.append(rec)
    return out


def _melt_stats(df: DataFrame, na_values=None, na_patterns=None,
                exact_unique_cols: list[str] | None = None,
                max_unique_vals: int = MAX_UNIQUE_VALS,
                content_out: dict | None = None,
                extra_aggs: list[tuple] | None = None,
                extra_out: dict | None = None
                ) -> tuple[dict[str, Any], dict[str, dict[str, int]],
                           dict[str, int], int, dict[str, list[str]]]:
    """One-scan stats for all columns. Returns ``(a, b, nulls_row,
    total, values)`` where ``a`` holds per-column scalar stats keyed
    ``{col}__{stat}``, ``b`` holds distinct/duplicate counts,
    ``nulls_row`` the raw null-likeness flags and ``values`` the sorted
    distinct canonical values of every HLL-screened column.

    ``exact_unique_cols`` gates the EXACT value aggregate (the only part
    of profiling whose shuffle grows with distinct-value count — a
    mostly-unique string column ships ~1 row per value): ``None`` means
    exact everywhere (oracle/parity mode); a list means exact only for
    those columns plus any column whose HLL estimate (computed in the
    feature aggregate, SURVEY §2.3 'distinct-via-HLL') is within 2× of
    the allowed-list cap — low-cardinality by construction, so their
    exact pass collapses map-side and costs ~nothing. Other columns get
    ``distinct`` = HLL estimate and ``dup_members`` = None (unmeasured).
    The same HLL screen, in both modes, picks the columns whose values
    ride the value aggregate for the allowed-value capture.
    """
    from ..plans.parallelism import ensure_min_parallelism
    df = ensure_min_parallelism(df)

    if len(df.schema.fields) <= WIDE_PROFILE_MAX_COLS:
        feat_rows = _wide_feat_rows(df, na_values, na_patterns,
                                    content_out, extra_aggs=extra_aggs,
                                    extra_out=extra_out)
    else:
        feat_rows = _melt_feat_rows(df, na_values, na_patterns, content_out)
        if extra_aggs and extra_out is not None:
            # the melt explodes columns away, so rider expressions can't
            # share its scan — pay ONE compact agg job for all extras
            # (status quo for >WIDE_PROFILE_MAX_COLS tables; the narrow
            # fast path above is the zero-extra-scan case)
            row = collect_scalars(df, *[
                col.alias(f"__extra_{j}")
                for j, (_, col) in enumerate(extra_aggs)])
            for j, (nm, _) in enumerate(extra_aggs):
                extra_out[nm] = row[f"__extra_{j}"]

    # Which columns get the EXACT value aggregate (see docstring): all of
    # them in oracle/parity mode, else requested ∪ HLL-screened.
    approx_d = {r["cname"]: int(r["approx_distinct"] or 0)
                for r in feat_rows}
    screened = {c for c, est in approx_d.items()
                if est <= 2 * max_unique_vals}
    if exact_unique_cols is None:
        exact_set = {f.name for f in df.schema.fields}
    else:
        exact_set = set(exact_unique_cols) | screened
    return _value_agg_and_assemble(df, na_values, na_patterns, feat_rows,
                                   exact_set, approx_d, screened)


def _melt_feat_rows(df: DataFrame, na_values, na_patterns,
                    content_out: dict | None = None) -> list:
    """Melt path: explode to (cell, features) rows, group by column —
    column-count-independent generated code; the wide path above is the
    narrow-table fast lane (see WIDE_PROFILE_MAX_COLS).

    ``content_out``: same ride-along content fingerprint as
    ``_wide_feat_rows`` — the row hash is computed once per SOURCE row
    before the explode and carried into each melted cell; every cname
    group then holds exactly one melted row per source row, so any one
    group's bit_xor/sum equals the whole-frame combiner."""
    zero = F.lit(0)
    nullint = F.lit(None).cast("int")

    def _feat(f) -> F.Column:
        """Per-cell feature struct, type-specialized: only STRING columns
        pay the regex/parse battery (the logical-type probes are read for
        string columns only); typed columns use native arithmetic —
        no regex, no cast exceptions, minimal bytecode in the hot loop."""
        c = qcol(f.name)
        kind = f.dataType.simpleString()
        if kind == "string":
            na = is_na_expr(c, na_values, na_patterns)
            d = safe_double(c)
            # byte-gated like the wide path: no lower(trim()) allocation
            # for document-length cells
            lt = F.lower(F.trim(c))
            bool_word = (F.octet_length(c) <= 150) & lt.isin("true", "false")
            feats = [
                F.length(c).alias("len_raw"),
                F.length(F.when(F.abs(d) < 9.2e18, d.try_cast("bigint"))
                          .cast("string")).alias("len_int"),
                d.alias("d"),
                F.when(d.isNotNull(), (d == F.floor(d)).cast("int"))
                 .alias("allint"),
                F.when(bool_word, (lt == "true").cast("int")).alias("b"),
                safe_bigint(c).isNotNull().cast("int").alias("int_ok"),
                d.isNotNull().cast("int").alias("float_ok"),
                bool_word.cast("int").alias("bool_ok"),
                # cheap date-SHAPE screen only — the real COMMON_DATETIMES
                # parse battery (reference :93-115) runs in a tiny
                # confirmation aggregate over candidate columns
                # (profile(), below), keeping 13 try_to_timestamp probes
                # per string column OUT of this projection's generated
                # code (cold-start codegen/JIT was the round-1 bench gap)
                dateish_shape_expr(c).alias("ts_ok"),
                # lead0 probes the TRIMMED value — ' 07' still forces
                # String inference, matching type_probe_aggs (rlike '^0\d'
                # on trim) and the reference's stringified check; the
                # anchored regex scans the prefix in place instead of
                # copying the cell via substring(trim())
                c.rlike("^ *0[0-9]").cast("int").alias("lead0"),
            ]
        else:
            na = c.isNull()
            s = c.cast("string")
            if kind in ("tinyint", "smallint", "int", "bigint", "float",
                        "double") or kind.startswith("decimal"):
                d = c.cast("double")
                allint = (d == F.floor(d)).cast("int")
                feats = [
                    F.length(s).alias("len_raw"),
                    F.length(F.when(F.abs(d) < 9.2e18, d.try_cast("bigint"))
                              .cast("string")).alias("len_int"),
                    d.alias("d"), allint.alias("allint"),
                    nullint.alias("b"), allint.alias("int_ok"),
                    F.lit(1).alias("float_ok"), zero.alias("bool_ok"),
                    zero.alias("ts_ok"), zero.alias("lead0"),
                ]
            elif kind == "boolean":
                feats = [
                    F.length(s).alias("len_raw"), nullint.alias("len_int"),
                    F.lit(None).cast("double").alias("d"),
                    nullint.alias("allint"),
                    c.cast("int").alias("b"), zero.alias("int_ok"),
                    zero.alias("float_ok"), F.lit(1).alias("bool_ok"),
                    zero.alias("ts_ok"), zero.alias("lead0"),
                ]
            else:  # timestamp / date / other
                is_ts = kind in ("timestamp", "timestamp_ntz", "date")
                feats = [
                    F.length(s).alias("len_raw"), nullint.alias("len_int"),
                    F.lit(None).cast("double").alias("d"),
                    nullint.alias("allint"), nullint.alias("b"),
                    zero.alias("int_ok"), zero.alias("float_ok"),
                    zero.alias("bool_ok"),
                    (F.lit(1) if is_ts else zero).alias("ts_ok"),
                    zero.alias("lead0"),
                ]
        # value hash for the HLL distinct estimate (sketches merge
        # map-side; the exact value-agg below is gated on this estimate)
        feats.append(F.when(~na, F.xxhash64(c)).alias("h"))
        return F.struct(F.lit(f.name).alias("cname"), na.alias("na"),
                        *feats)

    rh_pre = ([F.xxhash64(F.struct(*[qcol(f.name)
                                     for f in df.schema.fields]))
               .alias("__rh")] if content_out is not None else [])
    m = df.select(
        *rh_pre,
        F.explode(F.array(*[_feat(f) for f in df.schema.fields])).alias("m")
    ).select(*(["__rh"] if content_out is not None else []), "m.*")
    # mask features of NA-like cells (string sentinels carry no stats) and
    # derive the nonnull flag — cheap per-cell ops on generated attributes
    na_col = F.col("na")
    cell = m.select(
        "cname", "na",
        *(["__rh"] if content_out is not None else []),
        "h",
        *[F.when(~na_col, F.col(k)).alias(k)
          for k in ("len_raw", "len_int", "d", "allint", "b",
                    "int_ok", "float_ok", "bool_ok", "ts_ok", "lead0")],
        (~na_col).cast("int").alias("nn"),
    )

    # Feature aggregate: grouped by column name ONLY — the partial hash
    # aggregate collapses to n_cols rows per task before any exchange.
    nn = F.col("nn") == 1
    per_col = cell.groupBy("cname").agg(
        F.count(F.lit(1)).alias("total"),
        F.coalesce(F.sum("nn"), F.lit(0)).alias("nonnull"),
        F.coalesce(F.max(F.when(~nn | F.col("na"), 1)), F.lit(0))
         .alias("na_like"),
        F.max("len_raw").alias("maxlen_raw"),
        F.max("len_int").alias("maxlen_int"),
        F.min("d").alias("num_min"),
        F.max("d").alias("num_max"),
        F.min("allint").alias("allint"),
        F.min("b").alias("bool_min"),
        F.max("b").alias("bool_max"),
        F.coalesce(F.sum("int_ok"), F.lit(0)).alias("int_ok"),
        F.coalesce(F.sum("float_ok"), F.lit(0)).alias("float_ok"),
        F.coalesce(F.sum("bool_ok"), F.lit(0)).alias("bool_ok"),
        F.coalesce(F.sum("ts_ok"), F.lit(0)).alias("ts_ok"),
        F.coalesce(F.max("lead0"), F.lit(0)).alias("lead0"),
        F.approx_count_distinct("h").alias("approx_distinct"),
        *([F.expr("bit_xor(__rh)").alias("__rh_xor"),
           F.sum(F.pmod(F.col("__rh"), F.lit(1 << 20))).alias("__rh_sum")]
          if content_out is not None else []),
    )

    rows = per_col.collect()
    if content_out is not None:
        if rows:
            r0 = rows[0]
            content_out["token"] = \
                f"fp:{r0['total']}:{r0['__rh_xor']}:{r0['__rh_sum']}"
        else:       # empty frame: match the wide path's empty-agg token
            content_out["token"] = "fp:0:None:None"
    return rows


def _value_agg_and_assemble(df, na_values, na_patterns, feat_rows,
                            exact_set, approx_d, capture):
    # Value aggregate: exact distinct + duplicate-member counts. Group
    # key (cname, prefix32, hash64, v) — long values never shuffle; a hot
    # value collapses map-side to one partial row per task. ``v`` is the
    # value itself for the HLL-screened ``capture`` columns only (NULL
    # elsewhere), so stage 2 also yields their allowed-value lists
    # without another input scan.
    pairs = [(f, vv)
             for f, vv in _canonical_values(df, na_values, na_patterns)
             if f.name in exact_set]
    dup_rows = []
    if pairs:
        vkeys = df.select(F.explode(F.array(*[
            F.struct(
                F.lit(f.name).alias("cname"),
                F.substring(vv, 1, 32).alias("p"),
                # xxhash64(NULL) yields the seed, not NULL — gate explicitly
                F.when(vv.isNotNull(), F.xxhash64(vv)).alias("h"),
                (vv if f.name in capture
                 else F.lit(None).cast("string")).alias("v"))
            for f, vv in pairs
        ])).alias("k")).select("k.*").where(F.col("h").isNotNull())
        dup = (vkeys.groupBy("cname", "p", "h", "v")
                    .agg(F.count(F.lit(1)).alias("cnt"))
                    .groupBy("cname")
                    .agg(F.count(F.lit(1)).alias("distinct"),
                         F.coalesce(F.sum(F.when(F.col("cnt") > 1,
                                                 F.col("cnt"))), F.lit(0))
                          .alias("dup_members"),
                         F.sort_array(F.collect_list("v")).alias("values")))
        dup_rows = dup.collect()

    a: dict[str, Any] = {}
    b: dict[str, dict[str, int]] = {}
    nulls_row: dict[str, int] = {}
    total = 0
    for r in feat_rows:
        name = r["cname"]
        total = max(total, r["total"])
        a[f"{name}__nonnull"] = r["nonnull"]
        a[f"{name}__maxlen_raw"] = r["maxlen_raw"]
        a[f"{name}__maxlen_int"] = r["maxlen_int"]
        a[f"{name}__num_min"] = r["num_min"]
        a[f"{name}__num_max"] = r["num_max"]
        a[f"{name}__allint"] = r["allint"]
        a[f"{name}__bool_min"] = r["bool_min"]
        a[f"{name}__bool_max"] = r["bool_max"]
        a[f"{name}__int_ok"] = r["int_ok"]
        a[f"{name}__float_ok"] = r["float_ok"]
        a[f"{name}__bool_ok"] = r["bool_ok"]
        a[f"{name}__ts_ok"] = r["ts_ok"]
        a[f"{name}__lead0"] = r["lead0"]
        nulls_row[name] = r["na_like"]
    values: dict[str, list[str]] = {}
    for r in dup_rows:
        b[r["cname"]] = {"distinct": r["distinct"],
                         "dup_members": r["dup_members"]}
        if r["cname"] in capture:
            values[r["cname"]] = list(r["values"])
    # HLL-only columns: distinct is the estimate, dup count unmeasured
    for name, est in approx_d.items():
        if name not in exact_set and name not in b:
            b[name] = {"distinct": est, "dup_members": None}
    # columns absent from the result (empty table) → all-zero stats
    for f in df.schema.fields:
        a.setdefault(f"{f.name}__nonnull", 0)
        for k in ("maxlen_raw", "maxlen_int", "num_min", "num_max",
                  "allint", "bool_min", "bool_max"):
            a.setdefault(f"{f.name}__{k}", None)
        for k in ("int_ok", "float_ok", "bool_ok", "ts_ok", "lead0"):
            a.setdefault(f"{f.name}__{k}", 0)
        b.setdefault(f.name, {"distinct": 0, "dup_members": 0})
        nulls_row.setdefault(f.name, 0)
    a["__total"] = total
    return a, b, nulls_row, total, values


def _pass_c(df: DataFrame, cols: list[str]) -> dict[str, list[str]]:
    """Fallback allowed-value capture for columns whose values did not
    ride the value aggregate (an HLL underestimate put a column the
    exact count admits outside the capture screen) — one small agg."""
    if not cols:
        return {}
    row = collect_scalars(df, *[
        F.sort_array(F.collect_set(qcol(c).cast("string"))).alias(f"__v{i}")
        for i, c in enumerate(cols)])
    return {c: list(row[f"__v{i}"]) for i, c in enumerate(cols)}


def profile(df: DataFrame,
            max_unique_vals: int = MAX_UNIQUE_VALS,
            false_val="False", true_val="True", na_val=None,
            infer_types: bool | None = None,
            na_values=None, na_patterns=None,
            out_distincts: dict[str, int] | None = None,
            exact_unique_cols: list[str] | None = None,
            out_content: dict | None = None,
            extra_aggs: list[tuple] | None = None,
            out_extras: dict | None = None
            ) -> dict[str, dict[str, Any]]:
    """Observed schema: ``{column: column_info}`` with the exact shape and
    quirks of the reference's build_data_dictionary output
    (src/schema_validata.py:1395-1473), including:

    * all-null columns → data_type 'Null-Unknown', required=false_val,
      duplicate_count 0, stats = na_val;
    * duplicate_count counts every member of each duplicate group;
    * range_min/range_max populated only when ALL non-null values are
      numeric (pandas ``to_numeric`` raises on any bad value → na_val);
    * allowed_value_list captured only for String/Integer-like columns
      with ≤ max_unique_vals distinct values; integer lists sorted
      numerically, others lexicographically;
    * length measured on int-cast strings when the column is all whole
      numbers.

    ``exact_unique_cols`` (scale lever, SURVEY §2.3 'distinct-via-HLL'):
    ``None`` (default) computes exact distinct/duplicate counts for every
    column — the reference-parity/oracle mode. A list restricts the
    exact value aggregate to those columns (the ones a unique_value rule
    actually needs) plus HLL-screened low-cardinality columns; all other
    columns report ``duplicate_count``/``unique_value`` = ``na_val``
    (unmeasured) and an HLL-estimated distinct count — at 10^12 rows
    this keeps a mostly-unique text column from shuffling one row per
    distinct value for a stat nothing consumes.
    """
    canon = canonicalize_na(df, na_values=na_values, na_patterns=na_patterns)
    infer = infer_types if infer_types is not None else True
    # allow_null (observed) is measured on the RAW column with the extended
    # null vocabulary (reference series_hasNull on the unconverted column);
    # the melt carries that flag alongside the canonicalized value.
    a, b, nulls_row, total, captured = _melt_stats(
        df, na_values, na_patterns,
        exact_unique_cols=exact_unique_cols,
        max_unique_vals=max_unique_vals,
        content_out=out_content,
        extra_aggs=extra_aggs, extra_out=out_extras)

    # Datetime CONFIRMATION pass: the melt's ts_ok is a shape screen
    # (every non-null value looks date-like); candidate columns get the
    # real COMMON_DATETIMES parse battery here — one tiny aggregate over
    # only those columns, so '99/99/9999' demotes to String while the
    # hot melt projection stays free of 13 parse probes per column.
    if infer:
        cand = []
        for f in df.schema.fields:
            if f.dataType.simpleString() != "string":
                continue
            nn = a[f"{f.name}__nonnull"]
            if (nn and a.get(f"{f.name}__ts_ok") == nn
                    and a.get(f"{f.name}__int_ok") != nn
                    and a.get(f"{f.name}__float_ok") != nn
                    and a.get(f"{f.name}__bool_ok") != nn):
                cand.append(f.name)
        if cand:
            row = collect_scalars(df, *[
                F.coalesce(F.sum(datetime_probe_expr(qcol(c))), F.lit(0))
                 .alias(f"__ts{i}") for i, c in enumerate(cand)])
            for i, c in enumerate(cand):
                a[f"{c}__ts_ok"] = int(row[f"__ts{i}"])
    if out_distincts is not None:
        out_distincts.update(
            {c: int(info["distinct"]) for c, info in b.items()})
    out: dict[str, dict[str, Any]] = {}
    cand_allowed: list[str] = []

    for f in df.schema.fields:
        name = f.name
        nonnull = a[f"{name}__nonnull"]
        if nonnull == 0:
            out[name] = {
                "field_name": name, "data_type": "Null-Unknown",
                "allow_null": true_val, "null_count": int(total),
                "duplicate_count": 0, "length": na_val,
                "range_min": na_val, "range_max": na_val,
                "regex_pattern": na_val, "unique_value": na_val,
                "allowed_value_list": na_val, "required": false_val,
            }
            continue

        if f.dataType.simpleString() == "string" and infer:
            probes = {p: a.get(f"{name}__{p}") or 0 for p in _PROBES}
            dtype = decide_logical_type(probes)
        else:
            dtype = spark_type_to_logical(f.dataType)

        allint = a[f"{name}__allint"] == 1
        all_numeric = (dtype in ("Integer", "Float", "Boolean")
                       or (f.dataType.simpleString() != "string"))
        if f.dataType.simpleString() == "string":
            all_numeric = (a.get(f"{name}__float_ok") or 0) == nonnull
        if dtype == "Boolean" and f.dataType.simpleString() == "boolean":
            rmin, rmax = a[f"{name}__bool_min"], a[f"{name}__bool_max"]
        elif all_numeric:
            rmin = downcast_ints(a[f"{name}__num_min"])
            rmax = downcast_ints(a[f"{name}__num_max"])
        else:
            rmin = rmax = na_val
        if rmin is None:
            rmin = na_val
        if rmax is None:
            rmax = na_val

        # int-display lengths/lists apply only to genuinely numeric
        # columns (Integer/Float inference or numeric physical type) —
        # NOT to leading-zero-forced String columns (reference
        # src/schema_validata.py:957-971,1445-1449)
        int_like = dtype == "Integer" or (dtype in ("Float", "Boolean")
                                          and all_numeric and allint)
        length = (a[f"{name}__maxlen_int"]
                  if (int_like and allint and a[f"{name}__maxlen_int"] is not None)
                  else a[f"{name}__maxlen_raw"])

        dups = b.get(name, {}).get("dup_members", 0)
        distinct = b.get(name, {}).get("distinct", 0)

        info = {
            "field_name": name, "data_type": dtype,
            "allow_null": true_val if nulls_row[name] else false_val,
            "null_count": int(total - nonnull),
            # dups None = HLL-screened out (not measured): no rule needs
            # the exact count, and the verdict diff treats na_val as
            # bool False so a unique_value=False rule still matches
            "duplicate_count": na_val if dups is None else int(dups),
            "length": int(length) if length is not None else na_val,
            "range_min": rmin, "range_max": rmax,
            "regex_pattern": na_val,
            "unique_value": (na_val if dups is None else
                             true_val if dups == 0 else false_val),
            "allowed_value_list": na_val,
            "required": true_val,
        }
        # allowed-value capture gate (reference :1445-1460): String /
        # Integer-like (incl. whole-number numerics) with ≤ cap distinct
        if (dtype in ("String",) or int_like) and distinct <= max_unique_vals:
            cand_allowed.append(name)
            info["__int_like"] = int_like
        out[name] = info

    values = {c: captured[c] for c in cand_allowed if c in captured}
    values.update(_pass_c(canon, [c for c in cand_allowed
                                  if c not in captured]))
    for name, vals in values.items():
        int_like = out[name].pop("__int_like", False)
        if int_like:
            try:
                out[name]["allowed_value_list"] = sorted(
                    int(float(v)) for v in vals)
            except ValueError:
                out[name]["allowed_value_list"] = sorted(vals)
        else:
            out[name]["allowed_value_list"] = sorted(vals)
    for info in out.values():
        info.pop("__int_like", None)
    return out


_DIFF_ATTRS = ["data_type", "allow_null", "unique_value", "length",
               "range_min", "range_max", "allowed_value_list", "required"]


def profile_diff(old: dict[str, dict], new: dict[str, dict],
                 attrs: list[str] | None = None,
                 include_counts: bool = False) -> dict:
    """Schema-evolution diff of two observed profiles (``profile()``
    outputs — e.g. yesterday's snapshot vs today's):

    ``{"added": [col...], "removed": [col...],
       "changed": {col: {attr: {"old": v, "new": v}}}}``

    Driver-side dict comparison (profiles are one record per column);
    the distributed work already happened in the two profile passes.
    By default compares the SHAPE attributes (type, nullability,
    uniqueness, length, ranges, allowed list, required) and ignores the
    data-size-dependent counters (null_count / duplicate_count) —
    ``include_counts=True`` adds them. List attrs compare sorted, like
    the reference's rules diff (src/schema_validata.py:1724-1728)."""
    attrs = list(_DIFF_ATTRS if attrs is None else attrs)
    if include_counts:
        attrs += ["null_count", "duplicate_count"]
    added = sorted(c for c in new if c not in old)
    removed = sorted(c for c in old if c not in new)
    changed: dict[str, dict] = {}
    for c in old:
        if c not in new:
            continue
        diffs = {}
        for a in attrs:
            ov, nv = old[c].get(a), new[c].get(a)
            if isinstance(ov, list) and isinstance(nv, list):
                if sorted(map(str, ov)) == sorted(map(str, nv)):
                    continue
            elif ov == nv:
                continue
            diffs[a] = {"old": ov, "new": nv}
        if diffs:
            changed[c] = diffs
    return {"added": added, "removed": removed, "changed": changed}


def length_percentiles(df: DataFrame, text_col: str,
                       percentiles=(0.5, 0.9, 0.99),
                       group_col: str | None = None,
                       exact: bool = False) -> DataFrame:
    """Text-length percentile stats (north_star: 'length percentiles' in
    the wide stats family). Default is ``percentile_approx`` (mergeable
    t-digest-style sketch — the only sane choice at 10^12 rows); pass
    ``exact=True`` for the exact interpolated percentile (oracle
    checking, small data). Output: [group?,] p_<q> columns (doubles)."""
    fn = "percentile" if exact else "percentile_approx"
    tc = "`" + text_col.replace("`", "``") + "`"   # dot/space-safe
    aggs = [
        F.expr(f"{fn}(length({tc}), {q})")
         .alias(f"p_{str(q).replace('0.', '')}")
        for q in percentiles
    ]
    if group_col:
        return df.groupBy(qcol(group_col)).agg(*aggs)
    return df.agg(*aggs)


def profile_stats_df(spark, df: DataFrame, round_to: int = 4) -> DataFrame:
    """Long-format profiling stats as a (tiny) DataFrame — one row per
    column — for report sinks and the oracle-checked query surface."""
    prof = profile(df)
    rows = []
    for name, info in prof.items():
        def fnum(v):
            if v is None or isinstance(v, str):
                return None
            return round(float(v), round_to)
        rows.append((
            name, info["data_type"],
            int(info["null_count"]), int(info["duplicate_count"]),
            None if isinstance(info["length"], str) or info["length"] is None
            else int(info["length"]),
            fnum(info["range_min"]), fnum(info["range_max"]),
            info["unique_value"] if isinstance(info["unique_value"], str) else None,
        ))
    from pyspark.sql import types as T
    schema = T.StructType([
        T.StructField("column_name", T.StringType()),
        T.StructField("data_type", T.StringType()),
        T.StructField("null_count", T.LongType()),
        T.StructField("duplicate_count", T.LongType()),
        T.StructField("max_length", T.IntegerType()),
        T.StructField("range_min", T.DoubleType()),
        T.StructField("range_max", T.DoubleType()),
        T.StructField("unique_value", T.StringType()),
    ])
    return spark.createDataFrame(rows, schema)


def partition_profile_stats(df: DataFrame, part_col: str,
                            cols: list[str] | None = None) -> DataFrame:
    """MERGEABLE per-partition basic profile: (partition_key,
    column_name, n_rows, n_null, min_value, max_value, max_length) —
    the partition-decomposable subset of the profile (counts, extrema,
    lengths all merge by re-aggregation; distincts need the HLL
    sketch layer, percentiles the quantile summaries — together the
    three frames make the whole column profile incremental: persist
    beside the resume manifest, re-profile ONLY changed partitions,
    merge).

    min/max are computed on the double try_cast (numeric semantics,
    NULL for non-numeric values even under ANSI mode — same contract
    as the profile's range_min/max); max_length on the string cast. NULL partition keys
    group under NULL (they are data too).

    SCALE: ONE wide hash aggregate keyed by the partition column,
    unpivoted AFTER aggregation — shuffle rows are (partition,
    3·len(cols) partials)."""
    cols = cols or [c for c in df.columns if c != part_col]
    if not cols:
        raise ValueError("no columns to profile")
    aggs = [F.count(F.lit(1)).cast("bigint").alias("__n")]
    for i, c in enumerate(cols):
        col = qcol(c)
        aggs.append((F.count(F.lit(1)) - F.count(col)).cast("bigint")
                    .alias(f"__null_{i}"))
        aggs.append(F.min(col.try_cast("double")).alias(f"__min_{i}"))
        aggs.append(F.max(col.try_cast("double")).alias(f"__max_{i}"))
        aggs.append(F.max(F.length(col.cast("string"))).cast("int")
                    .alias(f"__len_{i}"))
    per = (df.groupBy(qcol(part_col).cast("string")
                      .alias("partition_key"))
             .agg(*aggs))
    rows = F.array(*[
        F.struct(F.lit(c).alias("column_name"),
                 F.col(f"__null_{i}").alias("n_null"),
                 F.col(f"__min_{i}").alias("min_value"),
                 F.col(f"__max_{i}").alias("max_value"),
                 F.col(f"__len_{i}").alias("max_length"))
        for i, c in enumerate(cols)])
    return (per.select("partition_key", F.col("__n").alias("n_rows"),
                       F.explode(rows).alias("e"))
               .select("partition_key", "e.column_name", "n_rows",
                       "e.n_null", "e.min_value", "e.max_value",
                       "e.max_length"))


def merge_partition_profiles(frames: DataFrame) -> DataFrame:
    """Table-level stats from (a union of) ``partition_profile_stats``
    frames — re-aggregation IS the merge, so incremental results equal
    a full recompute by construction (merge-invariance pytested).
    Output per column: n_rows, n_null, min_value, max_value,
    max_length."""
    return (frames.groupBy("column_name")
                  .agg(F.sum("n_rows").cast("bigint").alias("n_rows"),
                       F.sum("n_null").cast("bigint").alias("n_null"),
                       F.min("min_value").alias("min_value"),
                       F.max("max_value").alias("max_value"),
                       F.max("max_length").cast("int")
                        .alias("max_length")))
