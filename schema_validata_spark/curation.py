"""End-to-end corpus curation: the composed pipeline a training-data
user actually runs — exact dedup → quality gate → eval-set
decontamination → leakage-safe split assignment — as ONE lazy
DataFrame (``curate``), plus a single-pass accounting report
(``curation_report``) that attributes EVERY input row to the stage
that dropped it or the split that kept it (the repo's no-silent-drops
principle applied to the whole pipeline).

Each stage is the already-tested operator, not a re-implementation:
``dedup_exact`` (operators/dedup.py), ``quality_score``
(functions/text.py), ``decontaminate`` (operators/decontam.py),
``split_expr`` (functions/sampling.py) — so the pipeline's semantics
are the sum of theirs, including NULL contracts (NULL text
fingerprints as one group, scores 0.0, carries no shingles).

SCALE: ``curate`` stays lazy and composes to: one fingerprint-keyed
window (8-byte key shuffle), a map-only quality filter, the shingle
hash join (eval side bounded), and a map-only split hash — no
collect, no global sort, nothing corpus-sized on the driver.
``curation_report`` runs the SAME lineage once with stage labels and
closes with one tiny groupBy over the stage alphabet.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from .functions.sampling import split_expr
from .functions.text import fingerprint, quality_score
from .operators.decontam import contamination_pairs
from .operators.dedup import dedup_exact

# curate()'s default scale gate: assert_scalable's defaults, except
# that BroadcastNestedLoopJoin is tolerated — the library's own 1-row
# broadcast crossJoin scorers (functions/text.py OOV/TF-IDF totals,
# functions/sampling.py share caps) plan as BNLJ, and their output
# cardinality is bounded by the broadcast threshold, so a caller
# feeding an already-scored frame into curate() must not be rejected
# for the library's own pattern. validate()'s default stays strict.
CURATE_PLAN_BUDGET: dict = {"allow_broadcast_nested_loop": True}


_DEFAULT_SPLITS = {"train": 0.9, "val": 0.05, "test": 0.05}


def curate(df: DataFrame, eval_set: DataFrame | None = None,
           text_col: str = "text", id_col: str = "doc_id",
           min_quality: float = 0.0, shingle_k: int = 8,
           min_overlap: int = 1,
           splits: dict[str, float] | None = _DEFAULT_SPLITS,
           split_salt: str = "",
           plan_budget: dict | None = CURATE_PLAN_BUDGET) -> DataFrame:
    """The curated corpus: input minus duplicates (min-id
    representative kept), minus docs under ``min_quality``, minus docs
    sharing ``shingle_k``-grams with ``eval_set`` (skipped when None),
    with a deterministic ``split`` column appended (skipped when
    ``splits`` is None). Stage order is fixed — dedup first so quality
    and contamination run once per distinct content, splits last so
    fractions apply to the surviving corpus.

    ``plan_budget`` (VERDICT r3 #6, DEFAULT-ON): the composed plan is
    audited with ``plans.audit.assert_scalable(**budget)`` before it
    is returned — any global sort, nested-loop join, or row-Python
    path a caller's inputs smuggled in raises ``ValueError`` with the
    audit numbers before the first action runs. The default
    ``CURATE_PLAN_BUDGET`` applies the assert_scalable defaults but
    admits BroadcastNestedLoopJoin; pass ``None`` to opt out, or a
    dict to add ``max_exchanges``/``max_scan_width`` caps."""
    out = dedup_exact(df, text_col, id_col)
    if min_quality > 0.0:
        out = out.where(quality_score(text_col) >= min_quality)
    if eval_set is not None:
        from .operators.decontam import decontaminate
        out = decontaminate(out, eval_set, text_col, id_col,
                            shingle_k, min_overlap)
    if splits:
        out = out.withColumn("split",
                             split_expr(id_col, splits, split_salt))
    if plan_budget is not None:
        from .plans.audit import assert_scalable
        assert_scalable(out, **plan_budget)
    return out


def curate_transcripts(df: DataFrame, part_col: str = "conv_id",
                       order_col: str = "turn_idx",
                       role_col: str = "role", text_col: str = "text",
                       tool_col: str = "tool", *,
                       transitions: set[tuple[str, str]],
                       first_roles: set[str],
                       fractions: dict[str, float] | None = None,
                       split_salt: str = "",
                       hasher: str = "xxhash64",
                       plan_budget: dict | None = CURATE_PLAN_BUDGET
                       ) -> DataFrame:
    """The TRANSCRIPT twin of ``curate`` — the SFT-prep pipeline over
    multi-turn conversations, as one composition of tested operators:

    1. **Structural screen** — DROP conversations flagged by the
       role-transition automaton (``sequence.role_conformance``) or
       by tool-call pairing (``sequence.tool_call_pairing``): a
       structurally broken dialogue poisons instruction tuning
       regardless of its text quality. (Prefix salvage is the
       ``repair_cut_points`` path; this composition takes the strict
       drop, the right default for abundant data.)
    2. **Whole-conversation dedup** — keep the minimum-id
       conversation per ordered-turn-content fingerprint
       (``dedup.conversation_fingerprints``): re-based exports of the
       same dialogue collapse to one.
    3. **Leakage-safe split** — every turn of a conversation gets the
       same split label via the engine-portable md5 interval rule
       (``functions.sampling.split_expr`` on the conversation id).

    Output: the surviving TURNS (all input columns) + ``split``.
    ``hasher="md5"`` makes the fingerprint stage SQL-replayable so
    the whole composition is oracle-checkable.

    SCALE: two violations-sized anti-join keys (flagged conversation
    ids), the fingerprint aggregate's (conv, order, hash) shuffle —
    text never shuffles — and a map-side split hash. ``plan_budget``
    audits the composed plan before return (default on, the
    ``curate`` contract)."""
    from .functions.sampling import split_expr
    from .operators.dedup import conversation_fingerprints
    from .operators.sequence import role_conformance, tool_call_pairing

    fractions = fractions or {"train": 0.8, "val": 0.1, "test": 0.1}
    bad_auto = (role_conformance(df, part_col, [order_col], role_col,
                                 transitions=transitions,
                                 first_roles=first_roles)
                .select(F.col(part_col)))
    bad_tool = (tool_call_pairing(df, part_col, [order_col], role_col,
                                  tool_col)
                .select(F.col(part_col)))
    bad = bad_auto.unionByName(bad_tool).distinct()
    clean = df.join(bad, on=part_col, how="left_anti")
    fps = conversation_fingerprints(clean, part_col, order_col,
                                    text_col, hasher=hasher)
    keep = (fps.groupBy("conv_fp")
               .agg(F.min(F.col(part_col)).alias(part_col))
               .select(part_col))
    out = (clean.join(keep, on=part_col, how="left_semi")
                .withColumn("split",
                            split_expr(F.col(part_col).cast("string"),
                                       fractions, split_salt)))
    if plan_budget is not None:
        from .plans.audit import assert_scalable
        assert_scalable(out, **plan_budget)
    return out


def curation_report(df: DataFrame, eval_set: DataFrame | None = None,
                    text_col: str = "text", id_col: str = "doc_id",
                    min_quality: float = 0.0, shingle_k: int = 8,
                    min_overlap: int = 1,
                    splits: dict[str, float] | None = _DEFAULT_SPLITS,
                    split_salt: str = "") -> DataFrame:
    """(stage, n_rows): every input row attributed to exactly one
    outcome — 'duplicate', 'low_quality', 'contaminated', or
    'kept:<split>' — with first-failing-stage precedence matching
    ``curate``'s stage order, so ``sum(kept:*) == curate().count()``
    and ``sum(n_rows) == df.count()`` by construction (tested).

    Contamination is a per-document property (shared shingles with the
    eval set), so flagging it on the full input instead of on
    dedup/quality survivors cannot change any row's label — the
    precedence CASE decides.

    SCALE: the same shuffles as ``curate`` — the report is one extra
    hash aggregate over the tiny stage alphabet, NOT one job per
    stage."""
    w = Window.partitionBy(fingerprint(text_col)) \
              .orderBy(F.col(id_col))
    out = df.withColumn("__rn", F.row_number().over(w))
    if eval_set is not None:
        bad = (contamination_pairs(df, eval_set, text_col, id_col,
                                   shingle_k, min_overlap)
               .select(F.col("train_id").alias(id_col)).distinct()
               .withColumn("__bad", F.lit(1)))
        out = out.join(bad, on=id_col, how="left")
    else:
        out = out.withColumn("__bad", F.lit(None).cast("int"))
    split_names = splits or {"all": 1.0}
    stage = (F.when(F.col("__rn") > 1, F.lit("duplicate"))
              .when(F.lit(min_quality > 0.0)
                    & (quality_score(text_col) < min_quality),
                    F.lit("low_quality"))
              .when(F.col("__bad") == 1, F.lit("contaminated"))
              .otherwise(F.concat(
                  F.lit("kept:"),
                  split_expr(id_col, split_names, split_salt))))
    return (out.groupBy(stage.alias("stage"))
               .agg(F.count(F.lit(1)).cast("bigint").alias("n_rows")))
