"""Query registry — single source of truth binding each operator's
Spark builder to its DuckDB oracle SQL, so ``queries()`` and
``oracle_sql()`` in ``__spark_entry__.py`` can never drift apart.

Conventions (driver contract, __spark_entry__.py docstring):
- builder signature: ``(spark, sf_dir) -> DataFrame``
- every computed/aggregate column aliased identically on both sides;
- derived floats rounded (2-6 dp) on BOTH sides, because Spark's
  partial aggregation and DuckDB's sequential fold can differ in the
  last ulp;
- DuckDB integer sums cast to BIGINT (DuckDB widens to HUGEINT,
  Spark keeps LongType);
- top-k queries order by a key-complete sort (unique tiebreaker) so
  both engines select the same row SET.
"""

from __future__ import annotations

import os
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

Builder = Callable[[SparkSession, str], DataFrame]

_REGISTRY: dict[str, "QuerySpec"] = {}

# External correctness harnesses verify only a PREFIX of the registered
# queries (the round-2 driver checked the first 50 of 107).  This list
# front-loads the queries that most need a fresh driver row this round:
# newly added or changed queries first, then queries whose last driver
# check is oldest.  Names not in the registry are ignored, so entries
# can be staged before their module lands.  Override ad hoc with
# SPARK_GRAFT_QUERY_ORDER=comma,separated,names (prefix order).
#
# PER-ROUND WORKFLOW (do this EVERY round — round 9 skipped it and
# shipped zero new driver information): regenerate the order from
# `python tools/staleness.py` — (1) new/changed-this-round names
# first, (2) oldest-driver-row blocks until the ~50-name window is
# full, (3) everything else oldest-first.  The full tools/check.py
# gates at 3 SFs, the vanilla-session gate, and the cluster gate
# (0-fail artifacts each round) carry whole-surface value-checking
# between driver visits.
#
# Round-10 rotation: after this window no registered query's latest
# driver row is older than round 4 (VERDICT r9 item 2's done
# criterion).
ROUND_PRIORITY = [
    # --- ROUND-18 WINDOW (rotation gate in tests/test_registry.py;
    # regenerated from `python tools/staleness.py`).
    # Slots 1-49: the full r10 block, at exactly 8 rounds stale if
    # skipped (MAX_AGE 7), name-sorted for determinism.
    # Slot 50: q_dedup_replacing, whose final_view plan changed this
    # round (the max_by struct now carries only the non-key columns).
    # Everything after the window: oldest CORRECTNESS row first (r11, r12,
    # r13, r14, r16, r17), name-sorted within a round.
    "q_agg_approx_distinct",
    "q_agg_count",
    "q_agg_count_col",
    "q_agg_countif",
    "q_agg_distinct",
    "q_agg_max",
    "q_agg_multi",
    "q_agg_partial_final",
    "q_agg_quantile_bounds",
    "q_agg_rollup",
    "q_agg_uniq_bounds",
    "q_agg_uniq_state",
    "q_filter_eq",
    "q_filter_in",
    "q_filter_range_time",
    "q_funnel_strict",
    "q_funnel_strict_dedup",
    "q_funnel_strict_increase",
    "q_funnel_strict_window",
    "q_funnel_window",
    "q_groupby_min",
    "q_join_any",
    "q_llm_bpe_cert",
    "q_llm_knn_ivf_recall",
    "q_llm_knn_lsh",
    "q_llm_knn_lsh_recall",
    "q_llm_knn_pq",
    "q_llm_knn_pq_recall",
    "q_llm_logreg_cert",
    "q_llm_mixture",
    "q_llm_pca_cert",
    "q_llm_perplexity",
    "q_mv_stars",
    "q_proj_cast",
    "q_projection_agg",
    "q_projection_filter",
    "q_scan_parquet",
    "q_scan_tsv",
    "q_tpch_q1",
    "q_tpch_q11",
    "q_tpch_q12",
    "q_tpch_q15",
    "q_tpch_q16",
    "q_tpch_q17",
    "q_tpch_q19",
    "q_tpch_q2",
    "q_tpch_q20",
    "q_tpch_q22",
    "q_tpch_q9",
    "q_dedup_replacing",
    "q_agg_approx_quantile",
    "q_agg_argmax",
    "q_agg_array_combinator",
    "q_agg_cube",
    "q_agg_grouping_sets",
    "q_agg_salted",
    "q_dedup_collapsing",
    "q_fn_array",
    "q_fn_cond",
    "q_fn_date",
    "q_fn_hash",
    "q_fn_interval",
    "q_fn_json",
    "q_fn_math",
    "q_fn_string",
    "q_fn_variant",
    "q_funnel_multimatch",
    "q_join_bucketed",
    "q_join_salted",
    "q_limit_offset",
    "q_llm_dedup_embed",
    "q_llm_knn_ivf",
    "q_llm_knn_lsh_md5",
    "q_llm_knn_pq_rerank_recall",
    "q_llm_pack_sharded",
    "q_llm_perplexity_store",
    "q_llm_shuffle",
    "q_llm_simhash_md5",
    "q_llm_split",
    "q_llm_vocab_coverage",
    "q_multimodal_frames",
    "q_multimodal_resize",
    "q_queue_sqlite",
    "q_retention",
    "q_sample_hash",
    "q_seq_count_adjacent",
    "q_seq_match_events",
    "q_seq_match_pattern",
    "q_seq_next_node_chain",
    "q_set_except",
    "q_set_except_all",
    "q_set_intersect",
    "q_set_intersect_all",
    "q_set_union",
    "q_set_union_all",
    "q_stream_join",
    "q_agg_collect",
    "q_ch_ddl_ctas",
    "q_ch_ddl_mv",
    "q_ch_ddl_roundtrip",
    "q_ch_sql_any_join",
    "q_ch_sql_asof",
    "q_ch_sql_battery4",
    "q_ch_sql_battery5",
    "q_ch_sql_funnel_multimatch",
    "q_ch_sql_funnel_strict",
    "q_ch_sql_limit_by",
    "q_ch_sql_next_node",
    "q_ch_sql_prewhere",
    "q_ch_sql_qualify",
    "q_ch_sql_retention",
    "q_ch_sql_seq_count",
    "q_ch_sql_seq_events",
    "q_ch_sql_table_fns",
    "q_ch_sql_topk",
    "q_ch_sql_totals",
    "q_ch_sql_with_fill",
    "q_ch_sql_with_fill_range",
    "q_fn_bitwise",
    "q_fn_higher_order",
    "q_funnel",
    "q_join_anti",
    "q_join_asof",
    "q_join_broadcast",
    "q_join_cross",
    "q_join_full_outer",
    "q_join_inner",
    "q_join_left",
    "q_join_range",
    "q_join_range_binned",
    "q_join_semi",
    "q_seq_count_time_gap",
    "q_seq_match",
    "q_seq_match_pattern_time",
    "q_seq_next_node_backward",
    "q_seq_next_node_backward_first",
    "q_seq_next_node_head",
    "q_seq_next_node_last_match",
    "q_stream_slide",
    "q_topk_freq",
    "q_topk_multi",
    "q_tpch_q6",
    "q_win_firstlast",
    "q_win_pctrank",
    "q_agg_bitmap",
    "q_agg_bitops",
    "q_agg_corr",
    "q_agg_deltasum",
    "q_agg_entropy",
    "q_agg_ks_test",
    "q_agg_ks_test_by",
    "q_agg_lttb_exact",
    "q_agg_mad",
    "q_agg_mannwhitney",
    "q_ch_ddl_mutate",
    "q_ch_sql_battery6",
    "q_ch_sql_battery6b",
    "q_ch_sql_battery6c",
    "q_llm_bpe_train",
    "q_llm_chunk",
    "q_llm_contamination",
    "q_llm_corpus_pipeline",
    "q_llm_dedup_apply",
    "q_llm_dedup_apply_near",
    "q_llm_dedup_exact",
    "q_llm_dedup_groups",
    "q_llm_dedup_incremental",
    "q_llm_dedup_jaccard",
    "q_llm_dedup_minhash",
    "q_llm_dedup_minhash_md5",
    "q_llm_dedup_substring",
    "q_llm_fingerprint",
    "q_llm_knn",
    "q_llm_lang_id",
    "q_llm_minhash_sim",
    "q_llm_pack",
    "q_llm_pii_scrub",
    "q_llm_quality",
    "q_llm_repetition",
    "q_llm_textstats",
    "q_llm_token_bpe",
    "q_multimodal_meta",
    "q_sample_stratified",
    "q_stream_session",
    "q_stream_tumble",
    "q_udf_agg",
    "q_udf_scalar",
    "q_udf_table",
    "q_win_dist",
    "q_win_lag",
    "q_win_range",
    "q_win_rank",
    "q_win_running",
    "q_win_topn_group",
    "q_agg_auc",
    "q_agg_contingency",
    "q_agg_interval_length_sum",
    "q_agg_lttb",
    "q_agg_mannwhitney_by",
    "q_agg_max_intersections",
    "q_agg_moments",
    "q_agg_moving_array",
    "q_agg_ols",
    "q_agg_quantile_weighted",
    "q_agg_quantiles_multi",
    "q_agg_ttest",
    "q_ch_ddl_partition",
    "q_ch_sql_battery7",
    "q_ch_sql_battery7b",
    "q_ch_sql_battery7c",
    "q_ch_sql_battery8",
    "q_fn_datetime2",
    "q_fn_dictget",
    "q_fn_encode",
    "q_fn_geo",
    "q_fn_ip",
    "q_fn_string2",
    "q_llm_dataset_card",
    "q_llm_docstore_join",
    "q_llm_embed_quant",
    "q_llm_importance_sample",
    "q_llm_kmeans_assign",
    "q_llm_ngram_lm",
    "q_llm_quality_v2",
    "q_llm_tfidf",
    "q_mutate_delete",
    "q_mutate_update",
    "q_pivot",
    "q_queue_fs",
    "q_scan_bloom",
    "q_scan_csv",
    "q_scan_jsonl",
    "q_scan_orc",
    "q_scan_zorder",
    "q_seq_count",
    "q_sessionize",
    "q_sort_global",
    "q_system_parts",
    "q_unpivot",
    "q_win_locf",
    "q_win_neighbor",
    "q_win_nth",
    "q_win_ntile",
    "q_agg_acf",
    "q_agg_anova",
    "q_agg_cohort_retention",
    "q_agg_cusum",
    "q_agg_ewma",
    "q_agg_histogram",
    "q_agg_resample",
    "q_agg_sample_group",
    "q_agg_summap",
    "q_agg_uniq_upto",
    "q_ch_ddl_alter",
    "q_ch_sql_battery10",
    "q_ch_sql_battery9",
    "q_ch_sql_battery9b",
    "q_ch_sql_battery9c",
    "q_ch_sql_battery9d",
    "q_ch_sql_battery9e",
    "q_ch_sql_battery9f",
    "q_fn_array_diff",
    "q_fn_array_enumerate",
    "q_fn_map",
    "q_fn_map_higher",
    "q_fn_numbers",
    "q_join_asof_fwd",
    "q_llm_chunk_sentences",
    "q_llm_dedup_bloom",
    "q_llm_dedup_editdist",
    "q_llm_embed_matryoshka",
    "q_llm_kmeans_update",
    "q_llm_knn_ivf_exact",
    "q_llm_logreg_fit",
    "q_llm_pca",
    "q_llm_quality_classifier",
    "q_llm_score_normalize",
    "q_llm_text_normalize",
    "q_llm_url_canon",
    "q_multimodal_jpeg_progressive",
    "q_multimodal_video",
    "q_mutate_ttl",
    "q_scan_csv_permissive",
    "q_scan_partition_prune",
    "q_seq_next_node",
    "q_sort_nulls",
    "q_source_gitlog",
    "q_source_numbers_ds",
    "q_stream_enrich",
    "q_stream_stateful",
    "q_win_interpolate",
    "q_agg_kendall",
    "q_agg_kendall_by",
    "q_agg_lttb_cert",
    "q_agg_mode",
    "q_agg_ndcg",
    "q_agg_proportions_z",
    "q_agg_quantile",
    "q_agg_retention_rollup",
    "q_agg_seasonal_index",
    "q_agg_spearman",
    "q_agg_stats",
    "q_agg_theils_u",
    "q_agg_time_decay",
    "q_agg_topk_bounds",
    "q_agg_topk_sketch",
    "q_agg_topk_weighted",
    "q_dedup_collapsing_versioned",
    "q_fill_gaps",
    "q_fn_array_join",
    "q_fn_editdistance",
    "q_fn_minmax_normalize",
    "q_fn_round_modes",
    "q_fn_url",
    "q_join_asof_nearest",
    "q_join_interval_overlap",
    "q_join_multiway",
    "q_llm_boilerplate",
    "q_llm_decontam_bloom",
    "q_llm_dedup_passage",
    "q_llm_embed_centroid",
    "q_llm_ngram_novelty",
    "q_llm_semdedup",
    "q_llm_simhash",
    "q_multimodal_audio_stats",
    "q_scan_schema_evolution",
    "q_scan_snapshot_diff",
    "q_scan_time_travel",
    "q_seq_match_time",
    "q_stream_dedup",
    "q_tpch_q10",
    "q_tpch_q13",
    "q_tpch_q14",
    "q_tpch_q18",
    "q_tpch_q21",
    "q_tpch_q3",
    "q_tpch_q4",
    "q_tpch_q5",
    "q_tpch_q7",
    "q_tpch_q8",
    "q_win_running_distinct",
]



@dataclass(frozen=True)
class QuerySpec:
    name: str
    builder: Builder
    oracle: str | None  # ANSI SQL for DuckDB; None → rows-only check
    doc: str = ""


def query(name: str, oracle: str | None = None) -> Callable[[Builder], Builder]:
    """Decorator: register a (spark, sf_dir) -> DataFrame builder."""

    def deco(fn: Builder) -> Builder:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query name {name!r}")
        _REGISTRY[name] = QuerySpec(name, fn, oracle, (fn.__doc__ or "").strip())
        return fn

    return deco


def all_specs() -> dict[str, QuerySpec]:
    """All registered QuerySpecs (importing plan modules populates this),
    priority names first — see ROUND_PRIORITY / SPARK_GRAFT_QUERY_ORDER."""
    from clickhub_spark import plans  # noqa: F401  (triggers module imports)

    env = os.environ.get("SPARK_GRAFT_QUERY_ORDER")
    priority = [n.strip() for n in env.split(",")] if env else ROUND_PRIORITY
    out = {n: _REGISTRY[n] for n in priority if n in _REGISTRY}
    out.update((n, s) for n, s in _REGISTRY.items() if n not in out)
    return out
