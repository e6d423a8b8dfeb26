"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship quality-filter query on sf0.001;
``queries()`` exposes every implemented operator from SURVEY.md §2;
``oracle_sql()`` gives the DuckDB-equivalent SQL for each (omitted only for
genuinely non-SQL-expressible ops, which get rows-only checks).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from inspectehr_spark.queries import QUERIES

SF0001 = "/root/testdata/sf0.001"

# The driver's correctness sweep records the first 50 registry entries in
# dict-insertion order (CORRECTNESS_r01..r03 each captured exactly the head).
# To give every query a hard driver-checked row across rounds, list the
# queries that have never (or least recently) had a driver row FIRST; the
# thrice-green veterans go last.  Names absent from the registry are ignored
# so this list can't break the contract.
_DRIVER_PRIORITY = [
    # rewritten onto operators/distribution.ks_pairwise: its new code path
    # needs an oracle-checked row in the first 50
    "ks_drift",
    # rewritten onto the one dedup.minhash_signature / minhash_lsh_duplicates
    # (md5 hash family): their new code path needs an oracle-checked row
    "minhash_lsh_pairs",
    "minhash_band_signature",
    # NEW r6 — PSL eTLD+1, the xxhash64 MinHash scale path (rows-only),
    # SemDeDup semantic dedup, temperature-rebalanced sampling, DSIR
    # importance weights, ExactSubstr span dedup, language deciles
    "psl_registered_domain",
    "minhash_lsh_pairs_fast",
    "semdedup_verdicts",
    "temperature_sample",
    "dsir_logw",
    "substring_dup_spans",
    "lang_quality_deciles",
    "pii_profile",
    "lang_token_fertility",
    # first round with a FULL value oracle (was rows-only r1-r5)
    "pipeline_decisions",
    # NEW r6: full 11-check battery with MODEL OUTPUTS in the compared
    # columns (Catalyst-compiled models; CRC32/bigram-argmax SQL replay)
    "pipeline_decisions_native",
    # freshest driver row is r4 — these carry the r5 snapshot-protocol
    # and review fixes (plus any r6 refactors) driver-unverified; they
    # lead so that after r6 every registry query has a row <=2 rounds old
    # (VERDICT r5 next-round #4)
    "asof_last_view",
    "asof_nearest_view",
    "asof_next_view",
    "chronology_decomposed",
    "chronology_inversions",
    "comparison_failures",
    "daily_active_users",
    "daily_type_counts",
    "daily_type_rollup",
    "dataset_split",
    "decontaminate",
    "dedup_first_per_key",
    "dedup_within_doc",
    "doc_length_fail",
    "drift_flagged_groups",
    "dup_events",
    "episode_invalid_records",
    "episode_table",
    "failure_log",
    "global_missingness",
    "lang_set_fail",
    "langid_heuristic",
    "line_scrub",
    "monthly_blacklist",
    "multimodal_image_features",
    "near_dup_cells",
    "ngram_jaccard_adjacent",
    "origin_failures",
    "packed_bins",
    "periodicity_failures",
    "periodicity_max_gap",
    "psi_drift",
    "purchase_without_signup",
    "score_by_source",
    "segment_line_lengths",
    "session_counts",
    "stratified_sample_docs",
    "temporal_bounds_fail",
    "text_features",
    "tod_bounds_fail",
    "tod_ks_drift",
    "typical_daily_profile",
    "value_percentiles",
    "word_dup_stats",
    # r5-green queries whose code paths r6 touches (anchored utm strip,
    # blocklist operator laziness, snapshot corrective-merge guard)
    "url_normalize",
    "url_canonical_dedup",
    "decisions_history",
    # veterans (green in r5, code untouched this round)
    "blocked_domain_audit",
    "simhash_fingerprints",
    "ann_lsh_topk",
    "simhash_hamming_pairs",
    "embedding_near_dup",
    "dedup_across_docs",
    "boilerplate_scrub",
    "shingle_dup_coverage",
    "corpus_top_ngrams",
    "domain_quality_profile",
    "domain_tfidf_terms",
    "pricing_summary",
    "nation_revenue",
    "customers_no_orders",
    "building_segment_orders",
    "top_suppliers_per_nation",
    "nation_order_span",
    "knn_cosine",
    "label_centroid_distance",
    "nhs_checksum",
    "icnarc_structure",
    "postcode_conformance",
    "pivot_user_types",
    "stack_wide_to_long",
    "events_outside_user_span",
    "weekly_profile",
    "sparse_day_outliers",
    "score_events_daily",
    "conflicting_props",
    "value_ecdf",
    "histogram_prep",
    "spell_durations",
    "combine_union",
    "logistic_score",
    "metadata_missing",
    "failure_tally",
    "tpch_q3_shipping",
    "tpch_q5_local_volume",
    "ivf_topk",
    "bpe_token_counts",
    "near_dup_components",
    "near_dup_survivors",
    "keep_drop",
]


def _ordered() -> list[str]:
    head = [n for n in _DRIVER_PRIORITY if n in QUERIES]
    tail = [n for n in QUERIES if n not in set(head)]
    return head + tail


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: the full keep/drop decision table for the document corpus —
    single-pass rule battery → failure log → anti-join decisions."""
    fn, _ = QUERIES["keep_drop"]
    return fn(spark, SF0001)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: QUERIES[name][0] for name in _ordered()}


def oracle_sql() -> dict[str, str]:
    return {
        name: QUERIES[name][1]
        for name in _ordered()
        if QUERIES[name][1] is not None
    }
