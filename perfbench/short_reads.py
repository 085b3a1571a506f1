"""``short_reads``: analytic catalog reads whose fixed per-query floor
dominates (fixture listing and footer reads, py4j round-trips, planning,
per-job scheduling); execute does little work.

Pool rule, frozen: the catalog queries timed by ``bench.py`` in its r14
record (``BENCH_FULL.json``, sf0.1, ``local[8]``) with a median of at
most 0.5 s, whose name family is none of the LLM-data families (dedup,
text, pipeline, similarity, embedding, graph, multimodal, kmeans, er,
privacy) and none of the write / zone / IO families (load, storage, etl,
lineage, transform, streaming, source, scd2). The rule gives 147 names;
four of them (events_bot_detection_heuristic, events_sessionization,
forecast_holt_winters_monthly, forecast_ses_alpha_grid) are left out
because their DuckDB twin disagrees with them on the benchmark's data,
which leaves the 143 listed below. ``expected.json`` holds each one's row
count on that data and the cost used to stratify the sample.

Sampling: the pool, sorted by frozen cost, is cut into strata of
``STRATUM`` names. Each round runs one seeded pick per stratum, in a
seeded order, and a run is made of whole rounds, so every run sees the
same cost mix and the seed only chooses which names fill it.

One op is: build the DataFrame (construct), force the physical plan of
its row count (plan), and run that count (execute). The op fails when it
raises or when the count differs from the frozen row count.
"""

from __future__ import annotations

import random
import time

POOL = """
anti_join_parts_no_bulk_orders calendar_daily_event_gapfill
cube_lineitem_flag_status events_ab_experiment_cuped
events_asof_purchase_before_error
events_burstiness_fano events_changepoint_cusum
events_cmh_purchase_by_variant_daystrata
events_conversion_window_sensitivity events_cumulative_unique_users
events_dau_wau events_did_difference_in_differences events_ewma_user_value
events_funnel_view_click_purchase events_growth_accounting_weekly
events_hour_of_week_profile events_json_kpis events_locf_daily_user_value
events_longest_daily_streaks events_ohlc_bars events_pattern_vshape_days
events_peak_minute_users_per_day events_periodicity_autocorr
events_periodogram_daily events_power_analysis_mde
events_props_variant_stats events_retention_cohorts
events_seasonal_strength_daily events_top_paths_3step
events_type_runs events_type_transition_matrix events_uplift_qini_deciles
events_user_activity_bitmap events_user_type_sets events_value_twap_per_user
events_watermark_lateness_audit forecast_backtest_mape
forecast_croston_demand
forecast_stl_decompose_monthly
fullouter_daily_orders_vs_events groupingsets_lineitem_flag_status
histogram_equal_frequency_totalprice histogram_order_totalprice
lateral_top2_acctbal_per_nation orders_abc_classification
orders_above_customer_avg orders_interpurchase_days
orders_pareto_top_customers orders_yoy_growth
percentile_order_value_by_segment pivot_returnflag_by_linestatus
platinum_customer_features quality_benford_first_digit
quality_dup_cluster_size_distribution quality_duplicate_full_rows_events
quality_error_rate_control_chart quality_expectation_suite_events
quality_label_balance_embeddings quality_profile_events_columns
quality_psi_value_drift quality_redact_pii_documents
quality_rule_mining_bounds quality_table_checksum
range_join_errors_after_purchase rfm_customer_segments
rollup_lineitem_flag_status rollup_revenue_calendar
sample_horvitz_thompson_chars sample_kfold_leakage_audit
sample_language_balanced sample_neyman_allocation sample_reservoir_per_lang
sample_stratified_by_segment sample_systematic_orders
sample_temperature_lang sample_train_test_split
sample_unimax_language_budget sample_weighted_reservoir_per_lang
session_window_per_user setop_docs_removed_by_dedup
setop_users_purchase_and_error sketch_ams_f2_user_moment
sketch_approx_percentile_order_value sketch_bloom_filter_fpr
sketch_histogram_quantiles sketch_hll_distinct_users sketch_hll_exact_users
sketch_join_cardinality_estimate sketch_kmv_distinct_users
skew_salted_join_event_kpis stats_anova_value_by_type
stats_bartlett_variance_homogeneity stats_bootstrap_ci
stats_breusch_pagan_price_quantity stats_chatterjee_xi_value_by_type
stats_chisq_lang_source stats_cohens_kappa_quality_raters
stats_cramers_v_lang_source stats_fleiss_kappa_quality_raters
stats_gini_customer_revenue stats_gumbel_daily_max_value
stats_hill_tail_index_orders stats_jackknife_mean_ci stats_kendall_tau_daily
stats_kpss_level_stationarity stats_kruskal_wallis_value_by_type
stats_ks_value_drift stats_lineitem_corr_matrix stats_mann_whitney_u
stats_mcnemar_quality_raters stats_monte_carlo_var
stats_mutual_info_type_hour stats_negbin_fit_user_counts
stats_partial_correlation stats_price_quantity_regression
stats_qq_purchase_click stats_quantile_normalize_sources
stats_ridge_regression_normal_eq stats_roc_auc_quality_vs_gopher
stats_runs_test_randomness stats_target_encoding_loo
stats_theil_sen_daily_trend stats_tost_equivalence_purchase_click
stats_welch_ttest_purchase_click stats_wilson_ci_purchase_rate
stats_winsorized_mean_by_segment tpch_q13_customer_order_distribution
tpch_q14_promo_revenue tpch_q15_top_supplier tpch_q16_part_supplier_counts
tpch_q17_small_quantity_revenue tpch_q19_disjunctive_revenue
tpch_q1_pricing_summary tpch_q22_dormant_high_balance
tpch_q4_priority_with_returns tpch_q6_forecast_revenue
unpivot_lineitem_metrics window_customer_value_deciles
window_mom_revenue_growth window_moving_avg_daily_revenue
window_order_percentile_rank window_range_7day_user_value
window_top3_orders_per_customer
""".split()

STRATUM = 8


def rounds(seed: int, cost: dict[str, float], n: int) -> list[list[str]]:
    """``n`` seeded rounds of names: each is one pick per cost stratum."""
    rng = random.Random(seed)
    ranked = sorted(POOL, key=lambda name: (cost[name], name))
    strata = [ranked[i:i + STRATUM] for i in range(0, len(ranked), STRATUM)]
    out = []
    for _ in range(n):
        picks = [rng.choice(s) for s in strata]
        rng.shuffle(picks)
        out.append(picks)
    return out


def run_op(spark, fn, sf_dir: str, span):
    """One timed read; returns (seconds, rows, DataFrame, plan)."""
    t0 = time.perf_counter()
    with span("queries.construct"):
        df = fn(spark, sf_dir)
    counted = df.groupBy().count()
    with span("spark.plan"):
        plan = counted._jdf.queryExecution().executedPlan()
    with span("spark.execute"):
        rows = counted.collect()[0][0]
    return time.perf_counter() - t0, rows, df, plan


class Oracle:
    """Order-insensitive value digests of the DuckDB twin of a query,
    compared the way ``tools/compare.py`` does."""

    def __init__(self, sf_dir: str, tables: list[str]):
        import duckdb

        self.con = duckdb.connect()
        for t in tables:
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
            )

    def matches(self, sql: str, df) -> bool:
        from tools.compare import table_digest

        rel = self.con.sql(sql)
        d_cols, d_rows = list(rel.columns), rel.fetchall()
        s_cols, s_rows = df.columns, [tuple(r) for r in df.collect()]
        if sorted(s_cols) != sorted(d_cols) or len(s_rows) != len(d_rows):
            return False
        s_digest = table_digest(s_rows, [s_cols.index(c) for c in sorted(s_cols)])
        d_digest = table_digest(d_rows, [d_cols.index(c) for c in sorted(d_cols)])
        return s_digest == d_digest
