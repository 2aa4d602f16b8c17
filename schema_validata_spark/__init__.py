"""schema_validata_spark — a PySpark-native schema + constraint
validation engine with the capabilities of ``ahamptonTIA/schema_validata``
(behavioral reference only; architecture is Spark-first: declarative
DataFrame plans, Catalyst optimization, vectorized Arrow UDF islands).

Public API:
    profile(df)                      -> observed schema dict (reference shape)
    validate(spark, df, rules, ...)  -> ValidationResult (verdicts, violations, report)
    validate_datasets / validate_files / validate_partitioned /
    partition_verdicts               -> multi-dataset, file-mode, resumable
                                        and per-partition runs
    Rules / FieldRule                -> rule-table model
    datagen.gen_transcripts / gen_conversations / transcript_rules -> fixtures

The dedup, text, sampling, selection and semistructured re-exports
below are training-data operators outside the validation core; the
sequence re-exports are conversation-structure checks (turn order,
role and turn conformance).
"""

from .config import (ALLOWED_CASTING, DATA_DICT_SCHEMA, NA_PATTERNS,
                     NA_VALUES, SCHEMA_ERROR_TEMPLATES)
from .report import schema_validation_to_xlsx, write_dataframes_to_xlsx
from .rules import FieldRule, Rules, data_dict_xlsx_to_json
from .operators.profile import (length_percentiles, profile,
                                profile_diff, profile_stats_df)
from .operators.verdicts import validate_schema, verdicts_for
from .operators.violations import (value_errors_df, violation_plan_for,
                                   get_best_uid_column, quarantine)
from .operators.uniqueness import composite_duplicates, duplicate_stats
from .operators.integrity import (reconcile_keys,
                                  referential_violation_count,
                                  referential_violations)
from .operators.drift import build_histograms, drift_scores
from .operators.dedup import (dedup_exact, dedup_keep_canonical,
                              exact_duplicates, minhash_near_duplicates,
                              near_dup_clusters, ngram_jaccard_pairs,
                              simhash_near_duplicates)
from .operators.selection import top_k_per_group
from .functions.sampling import (cap_group_share, deterministic_sample,
                                 deterministic_topk_sample, group_split,
                                 sample_expr, split_expr, weighted_sample)
from .functions.text import (gopher_rules, pii_scan, pii_summary,
                             repetition_stats, top_tokens)
from .operators.semistructured import (json_is_valid, json_payload_stats,
                                       json_payload_violations)
from .operators.sequence import (consecutive_repeats, order_regressions,
                                 turn_conformance)
from .operators.expectations import (ConditionalRule, Expectation,
                                     check_expectations, completeness_gaps,
                                     conditional_counts,
                                     conditional_violations, freshness_stats,
                                     iqr_outlier_stats, volume_anomalies)
from .sources.tableio import get_byte_units
from .report import errors_overview, write_report
from .validate import (MultiValidationResult, ValidationResult,
                       partition_verdicts, validate, validate_datasets,
                       validate_files, validate_partitioned)

__all__ = [
    "ALLOWED_CASTING", "DATA_DICT_SCHEMA", "NA_PATTERNS", "NA_VALUES",
    "SCHEMA_ERROR_TEMPLATES", "FieldRule", "Rules",
    "data_dict_xlsx_to_json", "schema_validation_to_xlsx",
    "write_dataframes_to_xlsx",
    "profile", "profile_diff", "profile_stats_df", "length_percentiles",
    "validate_schema", "verdicts_for",
    "value_errors_df", "violation_plan_for", "get_best_uid_column",
    "quarantine",
    "composite_duplicates", "duplicate_stats",
    "reconcile_keys", "referential_violation_count",
    "referential_violations",
    "build_histograms", "drift_scores",
    "dedup_exact", "dedup_keep_canonical", "exact_duplicates",
    "minhash_near_duplicates", "near_dup_clusters", "ngram_jaccard_pairs",
    "simhash_near_duplicates", "top_k_per_group",
    "deterministic_sample", "deterministic_topk_sample", "group_split",
    "sample_expr", "split_expr", "weighted_sample",
    "pii_scan", "pii_summary",
    "consecutive_repeats", "order_regressions",
    "repetition_stats", "top_tokens", "gopher_rules",
    "turn_conformance", "cap_group_share",
    "json_is_valid", "json_payload_stats", "json_payload_violations",
    "errors_overview", "write_report",
    "ConditionalRule", "Expectation", "check_expectations",
    "completeness_gaps", "conditional_counts", "conditional_violations",
    "freshness_stats", "get_byte_units", "iqr_outlier_stats",
    "volume_anomalies",
    "MultiValidationResult", "ValidationResult", "validate",
    "validate_datasets", "validate_files", "partition_verdicts",
    "validate_partitioned",
]
