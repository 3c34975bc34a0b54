"""Generate PLANS.md: physical-plan health summary for headline queries.

For each TPC-H query (and the pipeline headliners) the report counts, in
the AQE FINAL plan: hash/range/single exchanges, broadcasts, join
strategies, whole-stage-codegen spans, and scan pushdown evidence. This
is the at-scale story in one table — every hash exchange is a full
shuffle of its input; every broadcast is a dim that never shuffles the
fact side.

Usage: python tools/plan_report.py [sf_dir] > PLANS.md
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    from cloudberry_spark.registry import all_queries
    from cloudberry_spark.session import get_session

    spark = get_session("plan-report")
    qs = all_queries()
    names = [f"tpch_q{i}" for i in range(1, 23)] + [
        "join_snowflake_12way",
        "ml_gbdt_stumps",
        "dedup_edit_distance_verify",
        "text_vocab_coverage",
        "json_containment_ops",
        "dml_merge_delete",
        "dedup_minhash_lsh_pairs",
        "sim_knn_brute",
        "text_quality_score",
        "pipeline_end_to_end",
        "pipeline_curate_to_shards",
        "sim_kmeans_index_build",
        "dedup_contamination_check",
        "win_topk_two_level",
        "sim_cosine_neardup",
        "sim_neardup_lsh_banded",
        "sim_semdedup_clusters",
        "text_unigram_surprisal",
        "text_tfidf_top_terms",
        "json_path_filter_predicate",
        "sample_temperature_mix",
        "agg_equidepth_histogram",
        # round 3
        "sample_hash_split",
        "text_chunk_windows",
        "dedup_substring_chunks",
        "text_quality_tiers",
        "dedup_canonical_pick",
        "sim_lsh_recall",
        "tpcds_rollup_rank",
        "tpcds_channel_union",
        "tpcds_moving_avg",
        "tpcds_cross_shop",
        "events_hierarchical_rollup",
        "diag_key_skew",
        # round 4
        "agg_heavy_hitters_mg",
        "sample_weighted_ares",
        "scalar_date_bin",
        "win_gapfill_locf",
        "events_time_weighted_avg",
        "win_filter_clause",
        "join_scd2_point_in_time",
        "text_sequence_pack",
        "emb_matryoshka_recall",
        "ml_naive_bayes_langid",
        "events_markov_transition",
        "sql_plan_hints",
        "dedup_containment_pairs",
        "agg_weighted_median",
        "pipeline_curate_to_sequences",
        # round 5
        "ml_multiple_regression",
        "ml_logistic_regression",
        "ml_auc_roc",
        "ml_decision_stump",
        "ml_pca_power_iteration",
        "ml_knn_classifier",
        "ml_lift_deciles",
        "ml_kmeans_silhouette",
        "graph_pagerank",
        "graph_triangle_count",
        "graph_link_prediction",
        "sketch_countmin_freq",
        "sketch_bloom_membership",
        "text_bpe_merge_round",
        "dedup_source_cap",
        "events_attribution_last_touch",
        "events_ohlc_bars",
        "events_pattern_vshape",
        "emb_product_quantization",
        "analytics_rfm_segments",
        "recursive_shortest_path",
        "text_token_shards",
        "events_peak_concurrency",
        "win_moving_median",
        "multimodal_video_frame_decode",
        "ml_text_classifier_e2e",
        "graph_kcore_peel",
        "ml_item_item_recommender",
        "analytics_association_rules",
        "analytics_rfm_segments",
        "sketch_minhash_set_algebra",
        "ml_gmm_em_1d",
        "win_gap_islands",
        "join_asof_nearest",
        "events_dau_wau_mau",
        "events_forecast_backtest",
        "ml_feature_hashing",
        "dml_scd2_history_build",
        "misc_dense_row_ids",
        # round 4 (this round's additions)
        "sim_ivfpq_search",
        "dedup_incremental_index_probe",
        "agg_percentile_variable_fraction",
        "win_variable_offset_lag",
        "win_exclude_group",
        "win_exclude_ties",
        "scalar_time_of_day",
        "regress_win_agg_over_groupby",
        "regress_setop_hashed_counts",
        "regress_agg_pushdown_two_children",
        # round 5 additions
        "dml_snapshot_merge_upsert",
        "udf_plpgsql_scalar",
        "udf_plpgsql_forloop",
        "json_jsonpath_methods",
        "json_jsonpath_filter_arith",
        "text_tsvector_stemmed",
        "text_ts_headline",
        "ddl_information_schema_tables",
        "regress_csq_crosslevel_exists_in",
        "regress_gpagg_subq_join",
        "regress_olapgrp_gsets_cube_having",
        "regress_bfvjoin_window_under_join",
        # round 7 additions
        "tpch_q16_mpph_outer_anti",
        "tpch_q17_mpph_derived",
        "regress_quant_correlated_any",
        "regress_olapgrp_groupid_dup_sets",
        "regress_mdqa_cube_composite_groupid",
        "regress_gs_empty_input",
        "dml_delete_using_multi",
        "json_jsonpath_range_exists",
        "udf_plpgsql_query_loop",
        "udf_sql_table_function_from",
        "aqumv_filter_subsumption",
        "regress_qpwith_nested_cte_pyramid",
        # round 8 additions
        "tpcds_q04_real",
        "tpcds_q47_real",
        "tpcds_q67_real",
        "tpch_q2_real",
        "tpch_q9_real",
        "tpch_q11_real",
        "tpch_q18_real",
        "tpch_q20_real",
        "tpch_q21_real",
        "regress_qpdt_derived_in_from",
        "regress_qpdt_scalarsub_derived",
        "regress_qpff_setof_in_from",
        "udf_sirv_in_targetlist",
        "udf_sirv_in_update_set",
        "dml_view_update_filtered",
        "regress_numeric_big_agg",
        "multimodal_image_png_decode",
        "regress_partition_join_pruned",
        "regress_partjoin_phv_foj_3way",
        "regress_joingp_rcte_spill_hashjoin",
        "regress_qpdml_join_update",
        # round 9 additions
        "tpcds_q72_real",
        "tpcds_q70a_real",
        "tpcds_q37_real",
        "tpcds_q23_real",
        "tpcds_q95_real",
        "tpcds_q59_real",
        "tpcds_q51_real",
        "tpcds_q36_real",
        "tpcds_q18_real",
        "tpcds_q94_real",
        "tpcds_q97_real",
        "tpcds_q16_real",
        "tpcds_q74_real",
        "tpcds_q89_real",
        "regress_dropped_cols_dml_sequence_int4",
        "regress_dropped_cols_join_after_drop",
        "regress_qpmisc_b00_abs_aggregate_approximate",
        "regress_qpmisc_b13_is_join_like_ln",
        "udf_plpgsql_qual_names",
        "udf_plpgsql_record_into",
        "regress_rpt_mpph5",
        "regress_rpt_mpph8",
        "regress_rpt_mpph18",
        "ddl_stats_ext_columns",
        "multimodal_video_avi_decode",
        "regress_numeric_big_avg_sign",
        "regress_gporca_outerref_countbug_both",
        "regress_gporca_cte_shared_scalar",
        "regress_gporca_materialize_or",
        # round 9 final TPC-DS tranches (spec suite complete)
        "tpcds_q64_real",
        "tpcds_q14_real",
        "tpcds_q02_real",
        "tpcds_q05_real",
        "tpcds_q49_real",
        "tpcds_q75_real",
        "tpcds_q78_real",
        "tpcds_q31_real",
        "tpcds_q57_real",
        "tpcds_q66_real",
        "tpcds_q77_real",
        "tpcds_q80_real",
        # round 9 session 2: new batteries' heads + new operator classes
        "regress_subgp_case_subplan_in_in",
        "regress_subgp_xsupplier_semi",
        "regress_subgp_pullup_count_eq",
        "regress_olapw_exclude_group",
        "regress_olapw_avg_pct_rank_stack",
        "regress_jira_sales_growth_range",
        "ddl_part_split_exchange",
        "regress_matview_datastatus",
        "regress_rowsecurity_policies",
        "ddl_storage_compression",
        "regress_olapg2_gs_dup",
        "regress_multirange_range_agg",
        "regress_jira_cube_composite_aliases",
        "regress_olapw_rollup_grouping_rank",
        "regress_foreign_key_enforcement",
        # round 10: new batteries' heads + the q04-class CTE flip
        "tpcds_q69_real",
        "tpcds_q76_real_exact",
        "tpcds_q11_real",
        "tpcds_q74_real",
        "regress_qpdc_changedistpolicy_dml_pttab_int4",
        "regress_qpdc_xchange_pttab_dropcol_dml_int4",
        "ddl_alter_type_widen_metadata_only",
        "ddl_alter_add_check_validate",
        "regress_exttab_reject_limit_rows",
        "regress_exttab_error_log",
        "regress_aggpd_same_key",
        "regress_aggpd_distinct_no_pushdown",
        "regress_qpwith_union_having_nested",
        "regress_qpwith_same_name_every_level",
        "regress_qpwith_dml_update_from_cte",
        "regress_jiras_6027_window_over_agg",
        "regress_privileges_table_acl",
        # round 11: new batteries' heads (q95 rewrite shows in its
        # existing row: 6 BHJ, 0 SMJ, no pair explosion)
        "regress_rio_real_fivemin",
        "regress_rio_real_vwap_bands",
        "regress_merge_upsert_with_delete",
        "regress_merge_multi_action",
        "regress_tf_order_scatter",
        "regress_tf_in_subquery",
        "regress_ppr_col2_eq",
        "regress_ppr_df_null",
        "regress_ugp_quals_below_union",
        "regress_ugp_update_returning_except",
        "regress_ows_frame_matrix_range_desc",
        "regress_ows_mpp1840_grouping_window",
        "regress_qpwf_multilevel_nesting",
        "regress_qpwf_csq_exists",
        "regress_qpfis_setof_column",
        "regress_qpfsub_read_setof_column",
        "regress_qpdt_c_inner_loj_roj",
        "multimodal_decode_features",
        "text_bpeish_token_count",
        "multimodal_frame_sample",
        # round 12: new batteries' heads — the mdqa Expand-heavy
        # grouping fuzzers, timeseries scalar lowerings, partition
        # spec routing, and the pruning matrices
        "regress_qpmdqa_q05",
        "regress_qpmdqa_q15",
        "regress_qpmdqa_q16",
        "regress_qpmdqa_q57",
        "regress_tms_interval_bound_timestamp",
        "regress_tms_li_int4_timestamp",
        "regress_part1_rank_template",
        "regress_part1_every_months_routing",
        "regress_prune_rlp_matrix",
        "regress_qsub_tuple_notin_nulls_8352",
        "regress_dqa_mdqa_three_cols",
        "regress_inh_scan_diamond",
        "regress_tstz_date_bin_battery",
        "regress_aqumv_expr_tree",
    ]
    from cloudberry_spark import planhook

    print("# PLANS — physical-plan health (AQE final plans, %s)\n" % sf_dir)
    print("Generated by tools/plan_report.py. Every hash exchange is a full")
    print("shuffle of its input; BHJ = broadcast hash join (dim never moves")
    print("the fact), SMJ = sort-merge join, codegen = whole-stage spans.")
    print("Operators that cut lineage (lineage.materialize: pagerank,")
    print("k-core, text-classifier features, shared CTEs;")
    print("lineage.checkpoint: recursive fixpoints, connected components)")
    print("report the SUM across every step plus the final plan; `steps`")
    print("counts the intermediate materializations and checkpoints")
    print("(0 = single-plan query). Step plans are AQE-initial (the step")
    print("runs its own execution), so an SMJ counted in a step may still")
    print("demote to BHJ at runtime.\n")
    print("| query | hash ex. | bcast | BHJ | SMJ | codegen spans | pushed filters | steps |")
    print("|---|---|---|---|---|---|---|---|")
    for name in names:
        try:
            planhook.ACTIVE = steps = []
            df = qs[name].fn(spark, sf_dir)
            df.collect()
            plan = df._jdf.queryExecution().executedPlan().toString()
            planhook.ACTIVE = None
            finals = [plan.split("== Initial Plan ==")[0]] + [
                p.split("== Initial Plan ==")[0] for p in steps
            ]
            n_hash = sum(f.count("Exchange hashpartitioning") for f in finals)
            n_bc = sum(f.count("BroadcastExchange") for f in finals)
            n_bhj = sum(f.count("BroadcastHashJoin") for f in finals)
            n_smj = sum(f.count("SortMergeJoin") for f in finals)
            spans = sum(
                len(set(re.findall(r"\*\((\d+)\)", f))) for f in finals
            )
            pushed = (
                "yes"
                if any(re.search(r"PushedFilters: \[[^\]]", f) for f in finals)
                else "-"
            )
            print(
                f"| {name} | {n_hash} | {n_bc} | {n_bhj} | {n_smj} "
                f"| {spans} | {pushed} | {len(steps)} |"
            )
        except Exception as e:  # pragma: no cover
            planhook.ACTIVE = None
            print(f"| {name} | ERR {str(e)[:40]} | | | | | | |")


if __name__ == "__main__":
    main()
