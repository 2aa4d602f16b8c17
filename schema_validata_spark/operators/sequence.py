"""Conversation-structure checks over ordered turns — the
window-function layer of transcript validation: a conversation is an
ordered sequence of turns, and several real defects are only visible
relative to the PREVIOUS row (same speaker twice, duplicated event,
a timestamp that moves backward). The ops here cover role and turn
conformance, tool-call pairing, SFT pair extraction, loops, turn and
transition latency, n-grams, NULL runs and distance to the modal
template.

SCALE NOTES: each op is ONE window over (partition key, total order) —
one shuffle on the partition key, then a streaming pass per partition
(lag / running sum need no buffering beyond one row). Skewed partitions
(the mega-conversation fixture) ride on AQE; no driver-side state. The
caller supplies a TOTAL order (e.g. ts + unique id tiebreak) — a
partial order would make lag nondeterministic under shuffle retries.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F


def consecutive_repeats(df: DataFrame, part_col: str,
                        order_cols: list[str],
                        value_col: str) -> DataFrame:
    """Rows whose ``value_col`` equals the immediately preceding row's
    value within ``part_col`` (ordered by ``order_cols``) — e.g. the
    same role speaking twice in a row, or a double-fired event.
    Output: the matching rows plus ``prev_value``. NULL values never
    match (SQL equality semantics)."""
    w = Window.partitionBy(part_col).orderBy(*[F.col(c) for c in order_cols])
    prev = F.lag(value_col).over(w)
    return (df.withColumn("prev_value", prev)
              .where(F.col(value_col) == F.col("prev_value")))


def order_regressions(df: DataFrame, part_col: str,
                      order_cols: list[str], ts_col: str) -> DataFrame:
    """Rows whose event time moves BACKWARD relative to the running
    maximum along the partition's logical order (e.g. a transcript
    turn timestamped before an earlier turn) — the batch twin of
    ``streaming.stream_monotonic_ts_violations``, as one running-max
    window: max(ts) over rows-unbounded-preceding up to the PREVIOUS
    row, then ``ts < running_max`` flags the regression. Catches
    regressions against ANY earlier row, not just the adjacent one."""
    w = (Window.partitionBy(part_col)
               .orderBy(*[F.col(c) for c in order_cols])
               .rowsBetween(Window.unboundedPreceding, -1))
    running_max = F.max(F.col(ts_col)).over(w)
    return (df.withColumn("prev_max_ts", running_max)
              .where(F.col(ts_col) < F.col("prev_max_ts")))


def role_conformance(df: DataFrame, part_col: str,
                     order_cols: list[str], role_col: str, *,
                     transitions: set[tuple[str, str]],
                     first_roles: set[str]) -> DataFrame:
    """Conversations whose speaker sequence violates a role-transition
    automaton — the transcript-shape invariant SFT pipelines assume
    (e.g. ``system`` only opens, ``user`` and ``assistant`` strictly
    alternate, ``tool`` only follows ``assistant``). ``transitions``
    is the allowed (prev_role, role) set; ``first_roles`` the roles
    allowed to open a conversation.

    Output (violating conversations only): part, n_turns,
    bad_first (0/1), n_bad_transitions, n_null_roles, first_bad_order
    (the FIRST order_cols[0] value at which the automaton broke — the
    truncation point a repair pass would cut at). NULL roles can never
    match an allowed role/transition, so they surface as violations
    and are also counted separately.

    SCALE: ONE keyed window (lag over the caller's total order — same
    contract as the other ops here) + ONE hash aggregate; the role
    strings are tiny and the transition set is a literal isin list
    evaluated JVM-side. Conformant conversations are filtered out, so
    the result is violations-sized, not corpus-sized."""
    sep = "\x1f"
    sentinel = "\x00"  # stands in for NULL; never a legal role
    role = F.coalesce(F.col(role_col), F.lit(sentinel))
    w = Window.partitionBy(part_col).orderBy(
        *[F.col(c) for c in order_cols])
    prev = F.lag(role).over(w)
    first_ok = role.isin(*[F.lit(r) for r in first_roles])
    trans_key = F.concat_ws(sep, prev, role)
    trans_ok = trans_key.isin(
        *[F.lit(a + sep + b) for a, b in transitions])
    bad = F.when(prev.isNull(), ~first_ok).otherwise(~trans_ok)
    o0 = F.col(order_cols[0])
    agg = (df.withColumn("__bad", bad)
             .withColumn("__first", prev.isNull())
             .groupBy(F.col(part_col))
             .agg(F.count(F.lit(1)).cast("bigint").alias("n_turns"),
                  F.max(F.when(F.col("__first") & F.col("__bad"), 1)
                         .otherwise(0)).cast("bigint")
                   .alias("bad_first"),
                  F.count(F.when(~F.col("__first") & F.col("__bad"), 1))
                   .cast("bigint").alias("n_bad_transitions"),
                  (F.count(F.lit(1)) - F.count(role_col)).cast("bigint")
                   .alias("n_null_roles"),
                  F.min(F.when(F.col("__bad"), o0))
                   .alias("first_bad_order")))
    return agg.where((F.col("bad_first") == 1)
                     | (F.col("n_bad_transitions") > 0))


def tool_call_pairing(df: DataFrame, part_col: str,
                      order_cols: list[str], role_col: str,
                      tool_col: str, *,
                      assistant_role: str = "assistant",
                      tool_role: str = "tool") -> DataFrame:
    """Row-level tool-call PAIRING violations — the agent-transcript
    integrity rule the role automaton can't express (it sees roles,
    not the ``tool`` field):

    * ``tool_result_without_call`` — a ``tool_role`` turn whose
      previous turn is not an ``assistant_role`` turn carrying a
      non-NULL ``tool_col`` (orphan result: nothing invoked it; also
      fires when the tool turn opens the conversation);
    * ``unanswered_tool_call`` — an ``assistant_role`` turn with
      ``tool_col`` set whose NEXT turn is not a ``tool_role`` turn
      (the invocation's result never arrived; also fires at
      end-of-conversation).

    Output (violating turns only): part, order_cols..., issue —
    the same row-address shape as the value-errors listing, so the
    rows union into a violations sink.

    SCALE: ONE keyed window (lag + lead over the caller's total
    order — the shared contract here); only (part, order, role, tool)
    move, text never shuffles; output is violations-sized."""
    w = Window.partitionBy(part_col).orderBy(
        *[F.col(c) for c in order_cols])
    role = F.col(role_col)
    prev_role, prev_tool = F.lag(role).over(w), \
        F.lag(F.col(tool_col)).over(w)
    next_role = F.lead(role).over(w)
    # NULL-safe comparisons: the first turn has NULL prev (an opening
    # tool turn IS an orphan) and the last has NULL next (a trailing
    # call IS unanswered) — plain =/!= would swallow both in NULL.
    orphan = (role == tool_role) & ~(
        prev_role.eqNullSafe(F.lit(assistant_role))
        & prev_tool.isNotNull())
    unanswered = ((role == assistant_role)
                  & F.col(tool_col).isNotNull()
                  & ~next_role.eqNullSafe(F.lit(tool_role)))
    issues = F.filter(F.array(
        F.when(orphan, F.lit("tool_result_without_call")),
        F.when(unanswered, F.lit("unanswered_tool_call"))),
        lambda x: x.isNotNull())
    return (df.select(F.col(part_col), *[F.col(c) for c in order_cols],
                      issues.alias("__i"))
              .where(F.size("__i") > 0)
              .select(part_col, *order_cols,
                      F.explode("__i").alias("issue")))


def repair_cut_points(issues: DataFrame, part_col: str,
                      order_col: str,
                      issue_col: str = "issue") -> DataFrame:
    """Turn row-level structural issues into a per-conversation REPAIR
    PLAN: the earliest offending turn is where a truncation pass cuts
    (everything before it is structurally sound), which is the
    standard salvage for agent transcripts — keep the valid prefix
    rather than dropping the conversation.

    ``issues`` is any union of (part, order, issue) frames —
    ``tool_call_pairing`` output, an exploded ``role_conformance``
    violation list, timestamp-order issues — the shapes already share
    the row-address convention. Output per conversation: part,
    n_issues, n_issue_kinds, cut_at (min order), first_issue (the
    issue at cut_at; ties break on issue name for determinism).

    SCALE: ONE hash aggregate over the (violations-sized, ≪ corpus)
    issue frame; composing N issue sources is a unionByName of
    already-filtered frames, not extra scans of the corpus."""
    first = F.min(F.struct(F.col(order_col), F.col(issue_col)))
    return (issues.groupBy(F.col(part_col))
                  .agg(F.count(F.lit(1)).cast("bigint").alias("n_issues"),
                       F.count_distinct(F.col(issue_col)).cast("bigint")
                        .alias("n_issue_kinds"),
                       first.alias("__f"))
                  .select(part_col,
                          "n_issues", "n_issue_kinds",
                          F.col(f"__f.{order_col}").alias("cut_at"),
                          F.col(f"__f.{issue_col}").alias("first_issue")))


def turn_latency_stats(df: DataFrame, part_col: str,
                       ts_col: str) -> DataFrame:
    """Per-conversation inter-turn latency profile: the time deltas
    between CONSECUTIVE events of a partition (ordered by ``ts_col``),
    summarized as count / mean / median / p95 / max seconds — the
    agent-responsiveness and stuck-session audit (a conversation whose
    p95 gap is hours is a resumed or stitched session; a zero max gap
    at high turn count is a bulk backfill).

    Output per partition: part, n_events, n_gaps, mean_gap_s,
    median_gap_s, p95_gap_s, max_gap_s (seconds, rounded to ms).
    NULL timestamps are excluded (a gap to an untimed turn is undefined).
    Tied timestamps are safe: the deltas of a sorted sequence depend
    only on the sorted multiset of times, not on tiebreak order, so
    every stat here is deterministic under shuffle retries.

    SCALE: ONE keyed window (lag over ts — one shuffle on the
    conversation key, streaming pass per partition) + ONE hash
    aggregate. ``percentile`` is the exact interpolated aggregate
    (matches DuckDB ``quantile_cont``); for sketch-grade speed at
    extreme cardinality swap in percentile_approx — exact is kept so
    the oracle can replay it."""
    df = df.where(F.col(ts_col).isNotNull())
    w = Window.partitionBy(part_col).orderBy(F.col(ts_col))

    def _epoch(c):
        return c.cast("timestamp_ltz").cast("double")

    gap = _epoch(F.col(ts_col)) - _epoch(F.lag(F.col(ts_col)).over(w))
    return (df.withColumn("__gap", gap)
              .groupBy(F.col(part_col))
              .agg(F.count(F.lit(1)).cast("bigint").alias("n_events"),
                   F.count("__gap").cast("bigint").alias("n_gaps"),
                   F.round(F.avg("__gap"), 3).alias("mean_gap_s"),
                   F.round(F.percentile("__gap", F.lit(0.5)), 3)
                    .alias("median_gap_s"),
                   F.round(F.percentile("__gap", F.lit(0.95)), 3)
                    .alias("p95_gap_s"),
                   F.round(F.max("__gap"), 3).alias("max_gap_s")))


def transition_counts(df: DataFrame, part_col: str,
                      order_cols: list[str],
                      value_col: str) -> DataFrame:
    """Bigram transition counts of a sequence attribute within
    partitions: one row per (prev_value, value) adjacent pair across
    all partitions — the tool-chain / speaker-flow fingerprint of a
    transcript corpus (which tool follows which, what opens a
    conversation). The opener of each partition appears with
    ``prev_value`` NULL, so openers are countable too; NULL attribute
    values group as NULL (SQL grouping), not silently dropped.

    Output: prev_value, value, n (bigint).

    SCALE: ONE keyed window (lag over the caller's total order) + ONE
    hash aggregate on the tiny (prev, value) label pair — partial
    counts collapse map-side, so the shuffle after the window carries
    one row per (partition, distinct transition). Output is
    |alphabet|²-sized, not corpus-sized."""
    w = Window.partitionBy(part_col).orderBy(
        *[F.col(c) for c in order_cols])
    prev = F.lag(F.col(value_col)).over(w)
    return (df.withColumn("prev_value", prev)
              .groupBy("prev_value", F.col(value_col).alias("value"))
              .agg(F.count(F.lit(1)).cast("bigint").alias("n")))


def sequence_ngrams(df: DataFrame, part_col: str,
                    order_cols: list[str], value_col: str,
                    n: int = 3, min_count: int = 1) -> DataFrame:
    """Frequent label-sequence n-grams within partitions — the n-ary
    generalization of ``transition_counts``: every length-n window of
    the ordered label sequence per partition (tool-call chains,
    speaker-flow motifs), counted corpus-wide. The workflow-mining
    primitive: 'which 3-step tool chains dominate this corpus'.

    A gram never crosses a partition boundary (enforced by row
    position, not lag-NULL sniffing, so genuinely-NULL labels inside a
    gram are preserved rather than mistaken for sequence starts).

    Output: gram (array of n labels), n_occurrences (bigint).

    SCALE: ONE keyed window (n-1 lags share the same frame and sort) +
    ONE hash aggregate on the bounded gram alphabet — partial counts
    collapse map-side, so the post-window shuffle carries at most
    |alphabet|^n rows per task, never the corpus. For unbounded label
    vocabularies pass a bucketed/hashed label, or raise ``min_count``
    and filter AFTER the aggregate (the filter cannot push below the
    count, but the frame it scans is alphabet-sized)."""
    if n < 2:
        raise ValueError("sequence_ngrams needs n >= 2")
    w = Window.partitionBy(part_col).orderBy(
        *[F.col(c) for c in order_cols])
    lags = [F.lag(F.col(value_col), n - 1 - i).over(w)
            for i in range(n - 1)] + [F.col(value_col)]
    rn = F.row_number().over(w)
    grams = (df.select(F.array(*lags).alias("gram"), rn.alias("__rn"))
               .where(F.col("__rn") >= n))
    out = (grams.groupBy("gram")
                .agg(F.count(F.lit(1)).cast("bigint")
                      .alias("n_occurrences")))
    if min_count > 1:
        out = out.where(F.col("n_occurrences") >= min_count)
    return out


def role_share_stats(df: DataFrame, part_col: str, role_col: str,
                     focus_role: str,
                     weight: Column | str | None = None) -> DataFrame:
    """Per-conversation share of one role's mass — turn counts by
    default, or any per-row weight (chars, tokens) — the SFT-value
    screen: a 'conversation' that is 98% user (a form dump) or 0%
    assistant (an abandoned session) is cut before training.

    Output per partition: part, n_turns, total_weight, focus_weight,
    focus_share (rounded; NULL when total_weight is 0). NULL roles
    and NULL weights contribute to totals as 0 focus mass / 0 weight
    respectively — they can never inflate the focus share.

    SCALE: ONE hash aggregate on the conversation key; the weight and
    the focus predicate evaluate in the scan projection. Map-side
    partial combine makes the shuffle one row per (partition, conv)."""
    w = (F.lit(1).cast("bigint") if weight is None
         else (F.col(weight) if isinstance(weight, str) else weight))
    w = F.coalesce(w.cast("double"), F.lit(0.0))
    is_focus = F.col(role_col) == focus_role
    agg = (df.groupBy(F.col(part_col))
             .agg(F.count(F.lit(1)).cast("bigint").alias("n_turns"),
                  F.sum(w).alias("__tw"),
                  F.sum(F.when(is_focus, w).otherwise(F.lit(0.0)))
                   .alias("__fw")))
    return agg.select(
        part_col, "n_turns",
        F.round(F.col("__tw"), 6).alias("total_weight"),
        F.round(F.col("__fw"), 6).alias("focus_weight"),
        F.when(F.col("__tw") > 0,
               F.round(F.col("__fw") / F.col("__tw"), 6))
         .alias("focus_share"))


def turn_conformance(df: DataFrame, part_col: str, idx_col: str,
                     start: int = 0) -> DataFrame:
    """Conversations whose turn index is NOT a dense ``start..start+n-1``
    sequence — the structural invariant of a multi-turn transcript (the
    north-star table keys on (conv_id, turn_idx); a gap means a dropped
    turn, a duplicate means a double-write, an offset means a re-based
    export).

    Output (non-conformant partitions only): part, n_turns, n_null_idx
    (rows with NULL index), n_dup_rows (rows beyond the first per index
    value), min_idx, max_idx. Dense ⇔ no nulls, no dups, min == start,
    max == start + n - 1 (gaps are implied by the span exceeding the
    row count once nulls/dups are ruled out).

    SCALE: ONE hash aggregate on the conversation key — count/min/max
    collapse map-side; count(DISTINCT idx) is per-group exact over the
    (part, idx) pairs the group already owns (Spark expands it to a
    two-phase agg on (part, idx), still 8-byte keys, no row data).
    Skewed mega-conversations ride on AQE."""
    idx = F.col(idx_col)
    agg = (df.groupBy(F.col(part_col))
             .agg(F.count(F.lit(1)).cast("bigint").alias("n_turns"),
                  (F.count(F.lit(1)) - F.count(idx)).cast("bigint")
                   .alias("n_null_idx"),
                  (F.count(idx) - F.countDistinct(idx)).cast("bigint")
                   .alias("n_dup_rows"),
                  F.min(idx).alias("min_idx"),
                  F.max(idx).alias("max_idx")))
    dense = ((F.col("n_null_idx") == 0) & (F.col("n_dup_rows") == 0)
             & (F.col("min_idx") == start)
             & (F.col("max_idx") == start + F.col("n_turns") - 1))
    return agg.where(~dense)


def sft_pairs(df: DataFrame, part_col: str, order_cols: list[str],
              role_col: str, text_col: str,
              user_role: str = "user",
              assistant_role: str = "assistant") -> DataFrame:
    """Extract (prompt, response) supervised-fine-tuning pairs from a
    transcript: every ``assistant_role`` turn whose IMMEDIATELY
    preceding turn (within ``part_col``, ordered by ``order_cols``) is
    a ``user_role`` turn becomes one training example. Assistant turns
    preceded by anything else (tool output, another assistant turn, a
    NULL role, or nothing) are skipped — a pair with the wrong context
    is worse than no pair.

    Output: (part, prompt_text, response_text) plus the ordering
    columns of the RESPONSE turn, so pairs keep a stable identity for
    downstream dedup / decontamination / split assignment.

    SCALE: ONE window over the conversation key — the same
    single-shuffle contract as every op in this module. Text rides the
    shuffle because text IS the output; at 10^12 turns, run AFTER
    corpus-level filters (dedup, quality) so only surviving turns pay
    it."""
    w = Window.partitionBy(part_col).orderBy(
        *[F.col(c) for c in order_cols])
    out_order = [F.col(c) for c in order_cols]
    return (df.select(F.col(part_col), *out_order,
                      F.col(role_col).alias("__role"),
                      F.col(text_col).alias("response_text"),
                      F.lag(F.col(role_col)).over(w).alias("__prev_role"),
                      F.lag(F.col(text_col)).over(w).alias("prompt_text"))
              .where((F.col("__role") == assistant_role)
                     & (F.col("__prev_role") == user_role))
              .drop("__role", "__prev_role"))


def span_offsets(df: DataFrame, part_col: str, order_cols: list[str],
                 text_col: str, role_col: str | None = None,
                 roles: set | None = None,
                 sep_len: int = 1) -> DataFrame:
    """Loss-mask spans: when a conversation's turns are concatenated in
    order with a ``sep_len``-character separator, the [start_char,
    end_char) offsets of each turn in the packed document — the spans a
    trainer masks (or keeps) when only ``roles`` (e.g. assistant turns)
    contribute loss. NULL text contributes 0 characters but still
    consumes a separator slot, matching ``concat_ws`` on a NULL-free
    join after coalescing to ''.

    start = Σ (len(prev texts) + sep_len) over preceding turns (running
    sum window, rows-between semantics); end = start + len(text).
    ``roles``/``role_col`` filter AFTER offsets are computed, so masked
    and kept turns share one coordinate system.

    SCALE: only (part, order, role, length) shuffle — the text column
    is dropped before the window, so the packed document's coordinates
    cost 16-byte rows regardless of turn size. One window, one
    shuffle."""
    ln = F.length(F.coalesce(F.col(text_col), F.lit(""))) \
          .cast("bigint").alias("__len")
    keep = [F.col(part_col), *[F.col(c) for c in order_cols], ln]
    if role_col is not None:
        keep.append(F.col(role_col))
    slim = df.select(*keep)
    w = (Window.partitionBy(part_col)
               .orderBy(*[F.col(c) for c in order_cols])
               .rowsBetween(Window.unboundedPreceding, -1))
    start = F.coalesce(F.sum(F.col("__len") + sep_len).over(w),
                       F.lit(0).cast("bigint"))
    out = (slim.withColumn("start_char", start)
               .withColumn("end_char",
                           F.col("start_char") + F.col("__len"))
               .drop("__len"))
    if roles is not None and role_col is not None:
        out = out.where(F.col(role_col).isin(*sorted(roles)))
    return out


def assemble_conversations(df: DataFrame, part_col: str, order_col: str,
                           text_col: str, sep: str = "\x1f",
                           doc_col: str = "doc") -> DataFrame:
    """Turns → one packed training document per conversation: turn
    texts joined in turn order with ``sep``, plus n_turns and n_chars.
    NULL texts contribute '' but keep their separator slot, so
    ``span_offsets`` (same sep_len) indexes EXACTLY into this document
    — the two ops share one coordinate system by contract (tested).

    Ordering is deterministic even under order-col ties: the struct
    sort falls back to the text itself as tiebreak.

    SCALE: text must ride the one groupBy shuffle — the document IS
    the output (unlike ``conversation_fingerprints``, which collapses
    to hashes). Per-group memory is conversation-sized, bounded by the
    mega-conversation outlier, not the corpus; run AFTER turn-level
    filters so only surviving text pays the shuffle."""
    turn = F.struct(F.col(order_col).alias("o"),
                    F.coalesce(F.col(text_col), F.lit("")).alias("t"))
    ordered = F.array_sort(F.collect_list(turn))
    doc = F.array_join(F.transform(ordered, lambda s: s["t"]), sep)
    return (df.groupBy(F.col(part_col))
              .agg(doc.alias(doc_col),
                   F.count(F.lit(1)).cast("bigint").alias("n_turns"))
              .withColumn("n_chars",
                          F.length(doc_col).cast("bigint")))


def turn_echo(df: DataFrame, part_col: str, order_cols: list[str],
              text_col: str, min_tokens: int = 1) -> DataFrame:
    """Token-set Jaccard between each turn and its PREDECESSOR within a
    conversation — the echo/parroting detector (an assistant restating
    the user's message verbatim, a tool result pasted back unchanged,
    a retry loop emitting the same turn twice scores ≈1.0; healthy
    dialogue scores low). Works on any per-turn text column.

    Tokenization: lowercase, split on non-alphanumeric runs, empty
    tokens dropped, DISTINCT per turn (set semantics). Turns whose own
    token set is smaller than ``min_tokens``, and first turns (no
    predecessor), emit no row.

    Output: part, *order_cols, echo_jaccard (6dp; 0.0 when the union is
    empty — two empty-token turns are 'no echo', not a 0/0 NaN).

    SCALE: ONE keyed window (lag of the text over the conversation key
    — one shuffle in which each text row travels once, unavoidable for
    neighbor comparison) and pure array expressions in the projection
    (split / array_distinct / array_intersect — no UDF, no explode, no
    second shuffle). Conversations are the partition unit, so skew is
    bounded by the longest conversation, not the corpus."""
    w = Window.partitionBy(part_col).orderBy(
        *[F.col(c) for c in order_cols])

    def toks(c):
        return F.array_distinct(
            F.filter(F.split(F.lower(c), "[^a-z0-9]+"),
                     lambda x: x != ""))

    cur = toks(F.col(text_col))
    prev = F.lag(F.col(text_col)).over(w)
    pt = toks(prev)
    inter = F.size(F.array_intersect(cur, pt))
    union = F.size(cur) + F.size(pt) - inter
    jac = F.when(F.col("__u") > 0, F.col("__i") / F.col("__u")) \
           .otherwise(F.lit(0.0))
    return (df.select(F.col(part_col), *[F.col(c) for c in order_cols],
                      cur.alias("__cur"), prev.alias("__prev"),
                      inter.alias("__i"), union.alias("__u"))
              .where(F.col("__prev").isNotNull()
                     & (F.size("__cur") >= min_tokens))
              .select(part_col, *order_cols,
                      F.round(jac, 6).alias("echo_jaccard")))


def turn_balance_stats(df: DataFrame, part_col: str, role_col: str,
                       text_col: str, prompt_role: str = "user",
                       response_role: str = "assistant") -> DataFrame:
    """Prompt/response mass balance per conversation — the SFT-shape
    screen ``role_share_stats`` doesn't capture: a conversation can
    have a healthy assistant turn SHARE yet carry almost no assistant
    text (one-word answers), or the inverse (wall-of-text answers to
    empty prompts). Both are cut or downweighted before training.

    Output per conversation: part, n_prompt_turns, n_response_turns,
    prompt_chars, response_chars, response_ratio
    (response_chars / prompt_chars, 6dp, NULL when prompt_chars = 0).
    NULL-text turns count as turns with 0 chars; NULL/other roles
    count in neither side.

    SCALE: ONE hash aggregate on the conversation key; role predicates
    and lengths evaluate in the scan projection, map-side combine makes
    the shuffle one row per conversation."""
    chars = F.coalesce(F.length(F.col(text_col)).cast("bigint"),
                       F.lit(0).cast("bigint"))
    is_p = F.col(role_col) == prompt_role
    is_r = F.col(role_col) == response_role
    agg = (df.groupBy(F.col(part_col))
             .agg(F.count(F.when(is_p, 1)).cast("bigint")
                   .alias("n_prompt_turns"),
                  F.count(F.when(is_r, 1)).cast("bigint")
                   .alias("n_response_turns"),
                  F.sum(F.when(is_p, chars).otherwise(F.lit(0)))
                   .cast("bigint").alias("prompt_chars"),
                  F.sum(F.when(is_r, chars).otherwise(F.lit(0)))
                   .cast("bigint").alias("response_chars")))
    return agg.select(
        part_col, "n_prompt_turns", "n_response_turns",
        "prompt_chars", "response_chars",
        F.when(F.col("prompt_chars") > 0,
               F.round(F.col("response_chars").cast("double")
                       / F.col("prompt_chars"), 6))
         .alias("response_ratio"))


def terminal_turns(df: DataFrame, part_col: str, order_cols: list[str],
                   role_col: str,
                   allowed_last: set[str] = frozenset({"assistant"})
                   ) -> DataFrame:
    """Conversations that end mid-exchange — the truncation screen for
    SFT exports: a transcript whose LAST turn is a user question or a
    dangling tool call teaches the model to stop answering. Dual of
    ``role_conformance``'s first_roles check, applied to the terminal
    position.

    Output (violating conversations only): part, n_turns, last_role
    (NULL when the final turn's role is NULL — also a violation),
    last_order (the first order column's value at the final turn — the
    truncation point). Caller supplies a TOTAL, non-NULL order, same
    contract as every op in this module.

    SCALE: ONE hash aggregate — max of (order..., role) structs picks
    the final turn map-side; no window, no sort. Output is
    violations-sized."""
    last = F.max(F.struct(
        *[F.col(c).alias(f"__o{i}") for i, c in enumerate(order_cols)],
        F.col(role_col).alias("__r"))).alias("__last")
    agg = (df.groupBy(F.col(part_col))
             .agg(F.count(F.lit(1)).cast("bigint").alias("n_turns"), last))
    last_role = F.col("__last.__r")
    return (agg.where(last_role.isNull()
                      | ~last_role.isin(*sorted(allowed_last)))
               .select(part_col, "n_turns", last_role.alias("last_role"),
                       F.col("__last.__o0").alias("last_order")))


def position_profile(df: DataFrame, part_col: str, order_cols: list[str],
                     text_col: str, max_bucket: int = 10) -> DataFrame:
    """Per-turn-position profile of a conversation corpus: for each
    turn position 1..max_bucket (positions beyond collapse into the
    last bucket), the turn count and text-mass stats — the 'does the
    signal decay deep into conversations' curve that decides context
    truncation and sampling windows for training (a corpus whose mean
    turn length halves by turn 7 wastes budget past it).

    Output per bucket: position (1..max_bucket; max_bucket labeled by
    ``position_capped=1``), n_turns, n_empty (NULL/blank text),
    mean_chars / max_chars over non-NULL texts (mean 6dp, NULL when
    all texts in the bucket are NULL).

    SCALE: ONE keyed window (row_number over the caller's total order)
    + ONE map-side-combined hash agg on the ≤max_bucket-sized key.
    Text length evaluates scan-side; text itself never shuffles."""
    w = Window.partitionBy(part_col).orderBy(
        *[F.col(c) for c in order_cols])
    pos = F.least(F.row_number().over(w), F.lit(max_bucket))
    chars = F.length(F.col(text_col))
    blank = F.col(text_col).isNull() | (F.length(F.trim(F.col(text_col)))
                                        == 0)
    return (df.select(pos.alias("position"), chars.alias("__c"),
                      blank.cast("int").alias("__e"))
              .groupBy("position")
              .agg(F.count(F.lit(1)).cast("bigint").alias("n_turns"),
                   F.sum("__e").cast("bigint").alias("n_empty"),
                   F.round(F.avg("__c"), 6).alias("mean_chars"),
                   F.max("__c").cast("bigint").alias("max_chars"))
              .withColumn("position_capped",
                          (F.col("position") == max_bucket).cast("int"))
              .orderBy("position"))


def loop_runs(df: DataFrame, part_col: str, order_cols: list[str],
              value_col: str, *, max_period: int = 3,
              min_repeats: int = 3) -> DataFrame:
    """Cycle (loop) detection over per-partition value sequences — the
    'agent stuck in a loop' screen: a period-``p`` loop is a maximal
    run of consecutive rows whose value equals the value ``p`` rows
    earlier (period 1 = the same value repeated, AAAA; period 2 = an
    alternation, ABABAB; period 3 = ABCABCABC …). ``consecutive_repeats``
    only sees period 1; real agent loops (retry → error → retry …) are
    usually period ≥ 2 in the tool/event sequence.

    For each (partition, period) whose LONGEST run represents at least
    ``min_repeats`` traversals of the cycle, emits one row:
    ``(part, period, max_run, n_repeats, n_loops)`` where ``max_run``
    is the matched-comparison count of the longest run (it covers
    ``max_run + period`` rows), ``n_repeats = floor(max_run/period)+1``
    full cycle traversals, and ``n_loops`` counts distinct runs in the
    partition meeting the threshold at that period.

    Caveats (documented contracts): NULL values never match (SQL
    equality), so NULL-heavy columns (e.g. ``tool`` on non-tool turns)
    should be pre-filtered to the rows of interest; a constant run is a
    degenerate cycle of EVERY period ≤ its length, so it reports at
    each — read period-1 rows first. ``order_cols`` must be a total
    order (id tiebreak) or lag is nondeterministic under retries.

    SCALE: one window shuffle on the partition key computes all
    ``max_period`` lags in a single pass (the value column rides this
    one exchange — neighbor equality requires co-location); after the
    lag projection the value is dropped, the period explode carries
    only (part, rn, matched), and the islands window re-shuffles only
    MATCHED rows on (part, period). Final output is one hash agg on
    runs, bounded by #partitions × max_period rows."""
    if max_period < 1:
        raise ValueError("max_period must be >= 1")
    w = Window.partitionBy(part_col).orderBy(
        *[F.col(c) for c in order_cols])
    # lags must be materialized in a projection BEFORE the generator
    # (window expressions are not allowed inside explode); all
    # max_period lags + row_number evaluate in ONE window pass
    lagged = df.select(
        F.col(part_col), F.row_number().over(w).alias("__rn"),
        *[(F.col(value_col) == F.lag(value_col, p).over(w))
          .alias(f"__m{p}") for p in range(1, max_period + 1)])
    probes = F.array(*[
        F.struct(F.lit(p).alias("period"), F.col(f"__m{p}").alias("m"))
        for p in range(1, max_period + 1)])
    long = (lagged.select(part_col, "__rn", F.explode(probes).alias("pm"))
                  .select(part_col, "__rn",
                          F.col("pm.period").alias("period"), "pm.m")
                  .where(F.col("m")))
    w2 = Window.partitionBy(part_col, "period").orderBy("__rn")
    runs = (long.withColumn("__grp",
                            F.col("__rn") - F.row_number().over(w2))
                .groupBy(part_col, "period", "__grp")
                .agg(F.count(F.lit(1)).cast("bigint").alias("run_len")))
    reps = (F.floor(F.col("run_len") / F.col("period")) + 1).cast("bigint")
    per = (runs.withColumn("__reps", reps)
               .groupBy(part_col, "period")
               .agg(F.max("run_len").cast("bigint").alias("max_run"),
                    F.sum(F.when(F.col("__reps") >= int(min_repeats), 1)
                           .otherwise(0)).cast("bigint").alias("n_loops")))
    n_repeats = (F.floor(F.col("max_run") / F.col("period")) + 1) \
        .cast("bigint")
    return (per.withColumn("n_repeats", n_repeats)
               .where(F.col("n_repeats") >= int(min_repeats))
               .select(part_col, F.col("period").cast("int").alias("period"),
                       "max_run", "n_repeats", "n_loops"))


def transition_latency(df: DataFrame, part_col: str,
                       order_cols: list[str], role_col: str,
                       ts_col: str) -> DataFrame:
    """Latency per ROLE TRANSITION: the time between consecutive turns
    of a conversation, grouped by (from_role → to_role) — which hop is
    slow (``turn_latency_stats`` says conversation X is slow; this
    says tool→assistant is the stall everywhere, i.e. the tool-result
    processing path, not the user). Output per transition: from_role,
    to_role, n, mean_s, p50_s, p95_s, max_s (6dp).

    Turns order by ``order_cols`` (the caller's total order, same
    contract as the other window ops); the latency is the ts delta to
    the PREVIOUS turn. Rows with NULL ts or NULL partition are
    excluded up front (a gap to/from an untimed turn is undefined);
    NULL roles group as NULL (they surface as their own transition
    rows — a visibility feature, not an accident). First turns have no
    predecessor and contribute nothing.

    SCALE: ONE keyed lag window (one shuffle on the partition key), then
    ONE hash aggregate keyed by the role pair (#roles² groups). Gap
    sums are exact BIGINT microseconds; percentiles exact
    interpolation (oracle mode; percentile_approx at extreme scale)."""
    p, t = F.col(part_col), F.col(ts_col)
    base = (df.where(p.isNotNull() & t.isNotNull())
              .select(part_col, *order_cols,
                      F.col(role_col).alias("__role"),
                      F.unix_micros(t.cast("timestamp_ltz"))
                       .alias("__m")))
    w = Window.partitionBy(part_col).orderBy(
        *[F.col(c) for c in order_cols])
    lat = (base.withColumn("__prev_role", F.lag("__role").over(w))
               .withColumn("__gap",
                           F.col("__m") - F.lag("__m").over(w))
               .where(F.col("__gap").isNotNull()))
    micro = F.lit(1000000.0)
    n = F.count(F.lit(1)).cast("bigint")
    return (lat.groupBy(F.col("__prev_role").alias("from_role"),
                        F.col("__role").alias("to_role"))
               .agg(n.alias("n"),
                    F.round(F.sum("__gap").cast("double")
                            / n.cast("double") / micro, 6)
                     .alias("mean_s"),
                    F.round(F.percentile("__gap", F.lit(0.5)) / micro,
                            6).alias("p50_s"),
                    F.round(F.percentile("__gap", F.lit(0.95)) / micro,
                            6).alias("p95_s"),
                    F.round(F.max("__gap").cast("double") / micro, 6)
                     .alias("max_s")))


def turn_count_histogram(df: DataFrame, part_col: str) -> DataFrame:
    """Conversation-size histogram on power-of-two buckets: how many
    conversations have 1, 2–3, 4–7, … turns, and what share of the
    ROW mass each band carries — what the length distribution IS
    before a max_len is chosen, and the mega-conversation skew summary
    at a glance.

    Output per band: bucket (=⌊log2 n⌋), min_turns, max_turns,
    n_groups, n_rows, share_groups, share_rows (6dp). NULL partition
    keys are excluded (they are not a conversation).

    SCALE: one count-per-key aggregate (the only row-data shuffle),
    then a ⌊log2⌋ rollup of the key-counts frame; the totals re-read
    the band frame through a single-row cross-broadcast."""
    p = F.col(part_col)
    counts = (df.where(p.isNotNull())
                .groupBy(part_col)
                .agg(F.count(F.lit(1)).cast("bigint").alias("__n")))
    b = F.floor(F.log2(F.col("__n").cast("double"))).cast("int")
    bands = (counts.groupBy(b.alias("bucket"))
                   .agg(F.count(F.lit(1)).cast("bigint")
                         .alias("n_groups"),
                        F.sum("__n").cast("bigint").alias("n_rows")))
    tot = bands.groupBy().agg(F.sum("n_groups").cast("bigint")
                               .alias("__tg"),
                              F.sum("n_rows").cast("bigint")
                               .alias("__tr"))
    return (bands.crossJoin(F.broadcast(tot))
                 .select("bucket",
                         F.pow(F.lit(2.0), F.col("bucket"))
                          .cast("bigint").alias("min_turns"),
                         (F.pow(F.lit(2.0), F.col("bucket") + 1)
                          .cast("bigint") - 1).alias("max_turns"),
                         "n_groups", "n_rows",
                         F.round(F.col("n_groups").cast("double")
                                 / F.col("__tg").cast("double"), 6)
                          .alias("share_groups"),
                         F.round(F.col("n_rows").cast("double")
                                 / F.col("__tr").cast("double"), 6)
                          .alias("share_rows")))


def null_runs(df: DataFrame, part_col: str, order_cols: list[str],
              cols: list[str], min_run: int = 2) -> DataFrame:
    """NULL-island detector: per (partition, column), the longest run
    of CONSECUTIVE NULLs along the partition's order, and how many
    runs reached ``min_run`` — the row-granularity outage signature
    (``completeness_trend`` sees a day's null RATE move; this sees
    that the nulls were 400 in a row starting mid-stream, i.e. a
    producer died, vs 400 sprinkled at random, i.e. optional field).

    Output (only partitions/columns that HAVE a qualifying run):
    partition, column_name, n_runs, max_run, n_null_total. The caller
    supplies a total order (same contract as the other window ops).

    SCALE: ONE keyed sort window computes every column's run ids in a
    single Window node (shared spec); the explode emits only NULL
    rows as (partition, column, run_id) triples — second shuffle is
    null-volume-sized, not corpus-sized. len(cols) multiplies the
    explode width, not the sort."""
    if not cols:
        raise ValueError("cols must be non-empty")
    if min_run < 1:
        raise ValueError("min_run must be >= 1")
    p = F.col(part_col)
    w = (Window.partitionBy(part_col)
               .orderBy(*[F.col(c) for c in order_cols])
               .rowsBetween(Window.unboundedPreceding, 0))
    base = df.where(p.isNotNull())
    lag_w = Window.partitionBy(part_col).orderBy(
        *[F.col(cc) for cc in order_cols])
    # window exprs must resolve at the top level (they cannot live
    # inside the explode array), so run ids materialize as columns
    # first — still ONE Window node, shared spec
    for i, c in enumerate(cols):
        flag = F.col(c).isNull()
        prev = F.lag(flag).over(lag_w)
        chg = F.when(prev.isNull() | (flag != prev), 1).otherwise(0)
        base = base.withColumn(f"__run_{i}", F.sum(chg).over(w))
    runs = [F.when(F.col(c).isNull(), F.struct(
                F.lit(c).alias("column_name"),
                F.col(f"__run_{i}").alias("run_id")))
            for i, c in enumerate(cols)]
    arr = F.filter(F.array(*runs), lambda x: x.isNotNull())
    long = (base.select(p.alias("partition"),
                        F.explode(arr).alias("e"))
                .select("partition", "e.column_name", "e.run_id"))
    per_run = (long.groupBy("partition", "column_name", "run_id")
                   .agg(F.count(F.lit(1)).cast("bigint").alias("__len")))
    agg = (per_run.groupBy("partition", "column_name")
                  .agg(F.sum(F.when(F.col("__len") >= int(min_run), 1)
                              .otherwise(0)).cast("bigint")
                        .alias("n_runs"),
                       F.max("__len").alias("max_run"),
                       F.sum("__len").cast("bigint")
                        .alias("n_null_total")))
    return agg.where(F.col("n_runs") > 0)


def template_distance(df: DataFrame, part_col: str,
                      order_cols: list[str], value_col: str,
                      max_len: int = 20) -> DataFrame:
    """Edit distance of every partition's label sequence to the CORPUS
    MODAL sequence: how far does each conversation / user journey sit
    from the dominant template? ``sequence_ngrams`` says which local
    patterns are common; this scores whole trajectories — a fleet of
    scripted sessions shows a spike at distance 0, a protocol change
    shows the old cohort marching away from the new template.

    The sequence is the first ``max_len`` labels (caller's total
    order) joined with '>'; distance is character-level Levenshtein on
    that rendering (multi-char labels weigh roughly their length —
    documented contract, cheap and engine-portable). The template is
    the most frequent sequence, ties broken lexicographically. NULL
    partitions are excluded; NULL labels render as empty strings.

    Output per partition: part (string), seq_len (labels kept,
    bigint), distance (bigint; 0 = exactly the template).

    SCALE: one keyed row_number window (one partition-key shuffle) over
    rows capped at ``max_len`` per partition, one hash aggregate to
    partition-sized sequences, a ≤|distinct-seq| aggregate for the
    modal row, then a broadcast of that single row into the
    levenshtein projection. Levenshtein cost is O(max_len² · label)
    per partition — bounded by the cap, independent of corpus size."""
    if max_len < 1:
        raise ValueError("max_len must be >= 1")
    p = F.col(part_col)
    w = Window.partitionBy(part_col).orderBy(
        *[F.col(c) for c in order_cols])
    # group on the UNCAST key so the aggregate reuses the window's
    # hashpartitioning (a cast on the key would force a second
    # row-level shuffle); render to string only in the output
    base = (df.where(p.isNotNull())
            .withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") <= max_len)
            .select(p.alias("__p"), "__rn",
                    F.coalesce(F.col(value_col).cast("string"),
                               F.lit("")).alias("__v")))
    seqs = (base.groupBy("__p")
            .agg(F.count(F.lit(1)).cast("bigint").alias("seq_len"),
                 F.array_join(
                     F.transform(
                         F.array_sort(F.collect_list(
                             F.struct("__rn", "__v"))),
                         lambda s: s["__v"]), ">").alias("__seq"))
            .select(F.col("__p").cast("string").alias("part"),
                    "seq_len", "__seq"))
    modal = (seqs.groupBy("__seq")
             .agg(F.count(F.lit(1)).alias("__n"))
             .orderBy(F.col("__n").desc(), F.col("__seq").asc())
             .limit(1)
             .select(F.col("__seq").alias("__template")))
    return (seqs.crossJoin(F.broadcast(modal))
            .select("part", "seq_len",
                    F.levenshtein("__seq", "__template").cast("bigint")
                     .alias("distance")))


def label_entropy_per_key(df: DataFrame, part_col: str,
                          value_col: str) -> DataFrame:
    """Per-entity label entropy: how varied is each user's /
    conversation's behavior MIX (bits over its own label
    distribution)? A scripted bot is low-entropy even when
    the corpus is diverse, and a key whose entropy jumps between
    snapshots changed behavior class. NULL keys are excluded; NULL
    labels count as a label (SQL grouping).

    Output per key: part (string), n (bigint), n_labels (bigint),
    entropy (bits, 6dp; 0.0 for single-label keys).

    SCALE: TWO-stage hash aggregate — (key, label) partials collapse
    map-side, then a per-key rollup of the label-count frame; raw
    rows shuffle once, keyed by (key, label)."""
    p = F.col(part_col)
    counts = (df.where(p.isNotNull())
              .groupBy(p.cast("string").alias("part"),
                       F.col(value_col).alias("__v"))
              .agg(F.count(F.lit(1)).cast("double").alias("__c")))
    tot = Window.partitionBy("part")
    share = F.col("__c") / F.sum("__c").over(tot)
    per = counts.select("part", "__c", share.alias("__p"))
    return (per.groupBy("part")
            .agg(F.sum("__c").cast("bigint").alias("n"),
                 F.count(F.lit(1)).cast("bigint").alias("n_labels"),
                 F.round(F.sum(-F.col("__p") * F.log2("__p")), 6)
                  .alias("entropy")))
