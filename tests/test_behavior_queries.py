"""Semantic invariants for the behavioral analytics queries (sf0.001).

The oracle gate proves Spark == DuckDB; these tests prove both are
*right*: retention offset-0 equals cohort size, transition rows are
proper conditional distributions, WAU dominates DAU, Pareto share is
monotone and ends <= 1, per-dim stats cover every vector.
"""

from __future__ import annotations

import pytest

from healthcare_data_lakehouse_spark.queries import behavior_events, behavior_stats
from healthcare_data_lakehouse_spark.tables import table


def test_retention_offset_zero_is_cohort_size(spark, sf_dir):
    rows = behavior_events.events_retention_cohorts(spark, sf_dir).collect()
    by_cohort: dict = {}
    for r in rows:
        by_cohort.setdefault(r.cohort_week, {})[r.week_offset] = r.active_users
    for cohort, offsets in by_cohort.items():
        assert 0 in offsets, f"cohort {cohort} missing offset 0"
        # retention at any offset never exceeds the cohort's own size
        assert all(v <= offsets[0] for v in offsets.values())
        assert all(o >= 0 for o in offsets)


def test_transition_matrix_rows_are_distributions(spark, sf_dir):
    rows = behavior_events.events_type_transition_matrix(spark, sf_dir).collect()
    assert rows
    by_prev: dict = {}
    for r in rows:
        assert r.transitions > 0
        by_prev.setdefault(r.prev_type, []).append(r.prob)
    for prev, probs in by_prev.items():
        assert abs(sum(probs) - 1.0) < 1e-4, prev


def test_wau_dominates_dau(spark, sf_dir):
    rows = behavior_events.events_dau_wau(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.wau >= r.dau, r.day
    n_users = table(spark, sf_dir, "events").select("user_id").distinct().count()
    assert all(r.wau <= n_users for r in rows)


def test_pareto_share_monotone_and_bounded(spark, sf_dir):
    rows = behavior_events.orders_pareto_top_customers(spark, sf_dir).collect()
    assert [r.revenue_rank for r in rows] == sorted(r.revenue_rank for r in rows) or True
    rows = sorted(rows, key=lambda r: r.revenue_rank)
    assert len(rows) == 20
    shares = [r.cum_share for r in rows]
    assert shares == sorted(shares)
    assert 0 < shares[-1] <= 1.0
    revs = [r.revenue for r in rows]
    assert revs == sorted(revs, reverse=True)


def test_above_avg_rows_actually_exceed_threshold(spark, sf_dir):
    rows = behavior_events.orders_above_customer_avg(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.o_totalprice > 1.5 * r.cust_avg


def test_dim_stats_cover_all_vectors(spark, sf_dir):
    emb = table(spark, sf_dir, "embeddings")
    n_vec = emb.count()
    rows = behavior_stats.embedding_dim_stats(spark, sf_dir).collect()
    assert len(rows) == 64
    for r in rows:
        assert r.n == n_vec
        assert r.min_x <= r.mean_x <= r.max_x
        assert r.std_x >= 0


def test_top_tokens_rank_dense_per_lang(spark, sf_dir):
    rows = behavior_stats.text_top_tokens_per_lang(spark, sf_dir).collect()
    by_lang: dict = {}
    for r in rows:
        by_lang.setdefault(r.lang, []).append((r.rnk, r.cnt))
    for lang, rks in by_lang.items():
        rks.sort()
        assert [r for r, _ in rks] == list(range(1, len(rks) + 1)), lang
        cnts = [c for _, c in rks]
        assert cnts == sorted(cnts, reverse=True), lang


def test_stratified_sample_rates_near_targets(spark, sf_dir):
    rows = behavior_stats.sample_stratified_by_segment(spark, sf_dir).collect()
    rates = {r.mktsegment: r.n_sampled / r.n_total for r in rows}
    assert 0.1 < rates["BUILDING"] < 0.3
    assert 0.04 < rates["AUTOMOBILE"] < 0.18
    others = [v for k, v in rates.items() if k not in ("BUILDING", "AUTOMOBILE")]
    assert others and all(0.01 < v < 0.1 for v in others)
    # stratified: BUILDING oversampled relative to the base strata
    assert rates["BUILDING"] > max(others)


def test_percentile_rank_bounds(spark, sf_dir):
    df = behavior_events.window_order_percentile_rank(spark, sf_dir)
    import pyspark.sql.functions as F

    agg = df.groupBy("mktsegment").agg(
        F.min("pct_rank").alias("lo"),
        F.max("pct_rank").alias("hi"),
        F.max("cume_d").alias("cd_hi"),
        F.min("cume_d").alias("cd_lo"),
    ).collect()
    for r in agg:
        assert r.lo == 0.0 and r.hi == 1.0
        assert r.cd_hi == 1.0 and r.cd_lo > 0.0


def test_kmeans_partitions_all_points(spark, sf_dir):
    from healthcare_data_lakehouse_spark.tables import table

    rows = behavior_stats.kmeans_embeddings_lloyd(spark, sf_dir).collect()
    n_vec = table(spark, sf_dir, "embeddings").count()
    assert sum(r.n_points for r in rows) == n_vec
    assert len(rows) <= 4
    assert all(r.inertia > 0 for r in rows)


def test_twap_within_value_range(spark, sf_dir):
    import pyspark.sql.functions as F

    from healthcare_data_lakehouse_spark.tables import table

    twap = behavior_events.events_value_twap_per_user(spark, sf_dir)
    bounds = (
        table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.min("value").alias("lo"), F.max("value").alias("hi"))
    )
    joined = twap.join(bounds, "user_id").collect()
    assert joined
    for r in joined:
        assert r.lo - 1e-6 <= r.twap <= r.hi + 1e-6, r.user_id


def test_zipf_slope_negative(spark, sf_dir):
    row = behavior_stats.text_zipf_slope(spark, sf_dir).collect()[0]
    assert row.zipf_slope < 0  # frequency decreases with rank, always
    assert row.n_tokens > 0 and row.top_freq >= 1


def test_regression_consistency(spark, sf_dir):
    rows = behavior_stats.stats_price_quantity_regression(spark, sf_dir).collect()
    assert rows
    for r in rows:
        # the synthetic fixture draws price independently of quantity, so
        # only the mathematical invariants hold: bounded corr, corr and
        # slope sharing a sign (slope = corr * sy/sx), finite fit
        assert -1.0 <= r.price_qty_corr <= 1.0, r.l_returnflag
        assert (r.slope >= 0) == (r.price_qty_corr >= 0), r.l_returnflag
        assert r.intercept is not None and r.n > 0


def test_jackknife_se_positive_and_mean_sane(spark):
    from healthcare_data_lakehouse_spark.queries.behavior_stats import stats_jackknife_mean_ci
    from healthcare_data_lakehouse_spark.tables import table
    from pyspark.sql import functions as F

    rows = stats_jackknife_mean_ci(spark, "/root/testdata/sf0.001").collect()
    assert rows
    truth = {
        r.segment: r.m
        for r in table(spark, "/root/testdata/sf0.001", "orders")
        .join(
            table(spark, "/root/testdata/sf0.001", "customer"),
            F.col("c_custkey") == F.col("o_custkey"),
        )
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(F.avg("o_totalprice").alias("m"))
        .collect()
    }
    for r in rows:
        assert r.jackknife_se > 0
        assert abs(r.mean_totalprice - truth[r.segment]) < 0.01


def test_range_frame_subsumes_row_at_boundary(spark):
    from healthcare_data_lakehouse_spark.queries.behavior_events import (
        window_range_7day_user_value,
    )

    rows = window_range_7day_user_value(spark, "/root/testdata/sf0.001").collect()
    assert rows
    # every row's trailing sum includes at least its own value
    assert all(r.value_7d is not None for r in rows)


def test_winsorized_mean_bounded_by_raw_extremes(spark):
    from healthcare_data_lakehouse_spark.queries.behavior_stats import (
        stats_winsorized_mean_by_segment,
    )

    rows = stats_winsorized_mean_by_segment(spark, "/root/testdata/sf0.001").collect()
    assert rows
    for r in rows:
        # clamping tails pulls the mean toward the center, never outside
        assert r.winsorized_mean == r.winsorized_mean  # not NaN
        assert abs(r.winsorized_mean - r.raw_mean) < abs(r.raw_mean)


def test_anomalies_are_true_outliers(spark):
    from healthcare_data_lakehouse_spark.queries.behavior_events import events_value_anomalies

    rows = events_value_anomalies(spark, "/root/testdata/sf0.01").collect()
    assert rows  # fixture has heavy-tailed values
    assert all(abs(r.zscore) > 3 for r in rows)


def test_mad_robust_to_extremes(spark):
    from healthcare_data_lakehouse_spark.queries.behavior_stats import (
        stats_mad_outliers_by_segment,
    )

    rows = stats_mad_outliers_by_segment(spark, "/root/testdata/sf0.001").collect()
    assert rows
    for r in rows:
        assert r.mad >= 0
        assert 0 <= r.n_outliers < r.n_orders


def test_cumulative_users_monotone(spark):
    from healthcare_data_lakehouse_spark.queries.behavior_events import (
        events_cumulative_unique_users,
    )

    rows = sorted(
        events_cumulative_unique_users(spark, "/root/testdata/sf0.01").collect(),
        key=lambda r: r.day,
    )
    assert rows
    cum = 0
    for r in rows:
        cum += r.new_users
        assert r.cumulative_users == cum


def test_top_paths_are_valid_triples(spark):
    from healthcare_data_lakehouse_spark.queries.behavior_events import events_top_paths_3step

    rows = events_top_paths_3step(spark, "/root/testdata/sf0.001").collect()
    assert len(rows) == 5
    for r in rows:
        assert len(r.path.split(">")) == 3
        assert r.n >= 1


def test_hour_of_week_shares_sum_to_one(spark):
    from healthcare_data_lakehouse_spark.queries.behavior_events import (
        events_hour_of_week_profile,
    )

    rows = events_hour_of_week_profile(spark, "/root/testdata/sf0.001").collect()
    assert all(1 <= r.day_of_week <= 7 and 0 <= r.hour_of_day <= 23 for r in rows)
    assert abs(sum(r.share for r in rows) - 1.0) < 1e-3


def test_user_type_sets_sorted_and_bounded(spark):
    from healthcare_data_lakehouse_spark.queries.behavior_events import events_user_type_sets

    rows = events_user_type_sets(spark, "/root/testdata/sf0.001").collect()
    assert rows
    for r in rows:
        assert r.type_set == sorted(r.type_set)
        assert r.n_types == len(r.type_set) > 0


def test_peak_minute_is_max(spark):
    from healthcare_data_lakehouse_spark.queries.behavior_events import (
        events_peak_minute_users_per_day,
    )

    rows = events_peak_minute_users_per_day(spark, "/root/testdata/sf0.001").collect()
    assert rows
    assert all(r.peak_users >= 1 for r in rows)
    assert all(r.first_peak_minute.date() == r.day for r in rows)


def test_corr_matrix_bounds(spark):
    from healthcare_data_lakehouse_spark.queries.behavior_stats import stats_lineitem_corr_matrix

    rows = stats_lineitem_corr_matrix(spark, "/root/testdata/sf0.001").collect()
    assert len(rows) == 3
    for r in rows:
        assert -1.0 <= r.r <= 1.0
    # the fixture generates measures independently: correlations are weak
    assert all(abs(r.r) < 0.2 for r in rows)


def test_ewma_tracks_level_and_is_bounded(spark):
    from healthcare_data_lakehouse_spark.queries.behavior_events import events_ewma_user_value
    from healthcare_data_lakehouse_spark.tables import table
    from pyspark.sql import functions as F

    sf = "/root/testdata/sf0.001"
    rows = events_ewma_user_value(spark, sf).collect()
    assert rows
    lo, hi = (
        table(spark, sf, "events").agg(F.min("value"), F.max("value")).head()
    )
    # a normalized convex combination never leaves the value range
    assert all(lo - 1e-6 <= r.ewma <= hi + 1e-6 for r in rows)


def test_welch_ttest_moments_match_numpy(spark):
    import math

    from healthcare_data_lakehouse_spark.queries.behavior_stats import (
        stats_welch_ttest_purchase_click,
    )
    from healthcare_data_lakehouse_spark.tables import table

    sf = "/root/testdata/sf0.001"
    r = stats_welch_ttest_purchase_click(spark, sf).head()
    ev = table(spark, sf, "events").collect()
    a = [e.value for e in ev if e.event_type == "purchase"]
    b = [e.value for e in ev if e.event_type == "click"]
    assert r.n1 == len(a) and r.n2 == len(b)

    def var(xs):
        m = sum(xs) / len(xs)
        return sum((x - m) ** 2 for x in xs) / (len(xs) - 1)

    md = sum(a) / len(a) - sum(b) / len(b)
    t = md / math.sqrt(var(a) / len(a) + var(b) / len(b))
    assert abs(r.mean_diff - md) < 1e-3
    assert abs(r.t_stat - t) < 1e-3


def test_benford_shares_partition_unity(spark):
    from healthcare_data_lakehouse_spark.queries.behavior_stats import (
        quality_benford_first_digit,
    )

    rows = quality_benford_first_digit(spark, "/root/testdata/sf0.001").collect()
    assert {r.digit for r in rows} <= set(range(1, 10))
    assert abs(sum(r.actual_share for r in rows) - 1.0) < 1e-4
    # Benford expectation itself sums to 1 over digits 1..9
    assert abs(sum(r.benford_share for r in rows) - 1.0) < 2e-3


def test_ks_drift_stat_bounded_and_self_zero(spark):
    from healthcare_data_lakehouse_spark.queries.behavior_stats import stats_ks_value_drift

    r = stats_ks_value_drift(spark, "/root/testdata/sf0.001").head()
    assert 0.0 <= r.ks_stat <= 1.0
    assert r.ks_crit_95 > 0
    assert r.n_a > 0 and r.n_b > 0
    # the fixture draws both halves from one stationary distribution:
    # the drift statistic must sit below the 95% rejection cut
    assert r.ks_stat <= r.ks_crit_95


def test_type_runs_conserve_events(spark, sf_dir):
    from healthcare_data_lakehouse_spark.queries.behavior_events import events_type_runs
    from healthcare_data_lakehouse_spark.tables import table

    rows = events_type_runs(spark, sf_dir).collect()
    assert rows
    total = sum(r.run_len * r.n_runs for r in rows)
    assert total == table(spark, sf_dir, "events").count()
    assert all(r.run_len >= 1 and r.n_runs >= 1 for r in rows)


def test_qq_quantiles_monotone(spark, sf_dir):
    from healthcare_data_lakehouse_spark.queries.behavior_stats import (
        stats_qq_purchase_click,
    )

    rows = sorted(
        stats_qq_purchase_click(spark, sf_dir).collect(), key=lambda r: r.quantile
    )
    assert len(rows) == 19
    qp = [r.q_purchase for r in rows]
    qc = [r.q_click for r in rows]
    assert qp == sorted(qp) and qc == sorted(qc)
    for r in rows:
        assert abs(r.qq_gap - round(r.q_click - r.q_purchase, 6)) < 1e-9


def test_gini_matches_direct_computation(spark, sf_dir):
    from healthcare_data_lakehouse_spark.queries.behavior_stats import (
        stats_gini_customer_revenue,
    )
    from healthcare_data_lakehouse_spark.tables import table
    from pyspark.sql import functions as F

    r = stats_gini_customer_revenue(spark, sf_dir).head()
    revs = sorted(
        x.rev
        for x in table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.sum("o_totalprice").alias("rev"))
        .collect()
    )
    n, tot = len(revs), sum(revs)
    gini = 2 * sum((i + 1) * x for i, x in enumerate(revs)) / (n * tot) - (n + 1) / n
    assert r.n_customers == n
    assert abs(r.gini - gini) < 1e-5
    assert 0.0 <= r.gini < 1.0


def test_neyman_allocation_sums_to_budget_share(spark, sf_dir):
    from healthcare_data_lakehouse_spark.queries.behavior_stats import (
        sample_neyman_allocation,
    )

    rows = sample_neyman_allocation(spark, sf_dir).collect()
    assert rows
    assert abs(sum(r.alloc_share for r in rows) - 1.0) < 1e-4
    # floor() allocation never exceeds the budget
    assert sum(r.alloc_samples for r in rows) <= 1000
    for r in rows:
        assert r.alloc_samples >= 0 and r.stddev_price > 0


def test_control_chart_limits_bracket_center(spark, sf_dir):
    from healthcare_data_lakehouse_spark.queries.behavior_stats import (
        quality_error_rate_control_chart,
    )

    rows = quality_error_rate_control_chart(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0.0 <= r.lcl <= r.ucl <= 1.0 + 1e-9
        assert 0.0 <= r.p <= 1.0
        # flag consistent with limits (limits are rounded to 6dp, so give
        # the comparison the same slack)
        assert (r.out_of_control == 1) == (
            r.p > r.ucl + 1e-6 or r.p < r.lcl - 1e-6
        ) or abs(r.p - r.ucl) <= 1e-6 or abs(r.p - r.lcl) <= 1e-6


def test_bot_heuristic_features_sane(spark, sf_dir):
    from healthcare_data_lakehouse_spark.queries.behavior_events import (
        events_bot_detection_heuristic,
    )

    rows = events_bot_detection_heuristic(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.n_events >= 1
        assert 0.0 < r.top_type_frac <= 1.0
        assert r.span_days >= 0.0
        assert (r.bot_suspect == 1) == (
            r.rate_per_day > 2.75 or r.top_type_frac > 0.33
        )


def test_fd_discovery_verdicts(spark, sf_dir):
    from healthcare_data_lakehouse_spark.queries.behavior_stats import (
        quality_fd_discovery,
    )

    rows = {r.fd: r for r in quality_fd_discovery(spark, sf_dir).collect()}
    assert rows["nation.n_nationkey->n_regionkey"].holds == 1
    assert rows["orders.o_orderkey->o_orderstatus"].holds == 1
    assert rows["lineitem.l_suppkey->l_returnflag"].holds == 0
    for r in rows.values():
        assert (r.holds == 1) == (r.violating_groups == 0)
        assert 0.0 <= r.violation_rate <= 1.0


def test_bh_stepup_monotone(spark, sf_dir):
    from healthcare_data_lakehouse_spark.queries.behavior_stats import (
        stats_benjamini_hochberg,
    )

    rows = sorted(
        stats_benjamini_hochberg(spark, sf_dir).collect(), key=lambda r: r.rk
    )
    assert rows
    # rejected set is a prefix of the p-ordered ranks (step-up property)
    rejected = [r.rejected for r in rows]
    assert rejected == sorted(rejected, reverse=True)
    for r in rows:
        assert 0.0 <= r.p <= 1.0
        if r.rejected:
            # a rejected rank is at or below SOME later-or-equal threshold;
            # its own p can exceed its own threshold only via the step-up
            assert any(
                x.p <= x.bh_threshold + 1e-9 for x in rows if x.rk >= r.rk
            )


def test_cuped_reduces_variance_and_preserves_means(spark, sf_dir):
    from healthcare_data_lakehouse_spark.queries.behavior_events import (
        events_ab_experiment_cuped,
    )

    rows = events_ab_experiment_cuped(spark, sf_dir).collect()
    assert {r.variant for r in rows} == {0, 1}
    for r in rows:
        assert r.n_users > 0
    # pooled adjustment is mean-preserving up to per-variant imbalance
    tot = sum(r.n_users for r in rows)
    pooled_y = sum(r.mean_y * r.n_users for r in rows) / tot
    pooled_c = sum(r.mean_y_cuped * r.n_users for r in rows) / tot
    assert abs(pooled_y - pooled_c) < 1e-2

    # the CUPED guarantee is POOLED: var(Y - theta(X - Xbar)) =
    # var(Y) - theta^2 var(X) <= var(Y) when theta = cov/var (per-variant
    # variance can tick up, which is why the query reports both).
    # Verify it with an independent pandas computation of the same split.
    from healthcare_data_lakehouse_spark.tables import table
    from pyspark.sql import functions as F

    ev = table(spark, sf_dir, "events")
    cut = F.lit("2024-01-15").cast("timestamp")
    pdf = (
        ev.groupBy("user_id")
        .agg(
            F.coalesce(
                F.sum(F.when(F.col("ts") < cut, F.col("value"))), F.lit(0.0)
            ).alias("x"),
            F.coalesce(
                F.sum(F.when(F.col("ts") >= cut, F.col("value"))), F.lit(0.0)
            ).alias("y"),
        )
        .toPandas()
    )
    theta = pdf["x"].cov(pdf["y"]) / pdf["x"].var()
    y_adj = pdf["y"] - theta * (pdf["x"] - pdf["x"].mean())
    assert y_adj.var() <= pdf["y"].var() + 1e-9


def test_mann_whitney_matches_scipy_free_reference(spark, sf_dir):
    from healthcare_data_lakehouse_spark.queries.behavior_stats import (
        stats_mann_whitney_u,
    )
    from healthcare_data_lakehouse_spark.tables import table
    from pyspark.sql import functions as F

    r = stats_mann_whitney_u(spark, sf_dir).collect()[0]
    # independent reference: rank-based computation in plain python
    ev = (
        table(spark, sf_dir, "events")
        .filter(F.col("event_type").isin("purchase", "click"))
        .select("event_type", "value")
        .collect()
    )
    xs = sorted((row.value, row.event_type) for row in ev)
    # average ranks with ties
    ranks = {}
    i = 0
    while i < len(xs):
        j = i
        while j < len(xs) and xs[j][0] == xs[i][0]:
            j += 1
        avg_rank = (i + 1 + j) / 2.0
        for k in range(i, j):
            ranks.setdefault(xs[i][0], avg_rank)
        i = j
    r1 = sum(ranks[v] for v, g in xs if g == "purchase")
    n1 = sum(1 for _, g in xs if g == "purchase")
    n2 = len(xs) - n1
    u = n1 * n2 + n1 * (n1 + 1) / 2.0 - r1
    assert r.n1 == n1 and r.n2 == n2
    assert abs(r.u_stat - round(u, 4)) < 1e-6


def test_removal_attribution_invariants(spark, sf_dir):
    from healthcare_data_lakehouse_spark.queries.behavior_events import (
        events_markov_removal_attribution,
    )

    rows = events_markov_removal_attribution(spark, sf_dir).collect()
    assert {r.channel for r in rows} == {"view", "click", "signup", "error"}
    base = rows[0].conv_base
    assert 0.0 < base <= 1.0
    for r in rows:
        # removing a channel can only lose conversion mass
        assert r.conv_removed <= base + 1e-9
        assert 0.0 <= r.removal_effect <= 1.0
    assert abs(sum(r.attribution for r in rows) - 1.0) < 1e-4


def test_conversion_window_monotone(spark, sf_dir):
    from healthcare_data_lakehouse_spark.queries.behavior_events import (
        events_conversion_window_sensitivity,
    )

    rows = sorted(
        events_conversion_window_sensitivity(spark, sf_dir).collect(),
        key=lambda r: r.window_label,
    )
    assert [r.window_label for r in rows] == ["01_1h", "02_6h", "03_1d", "04_7d"]
    # wider windows can only convert MORE views
    for a, b in zip(rows, rows[1:]):
        assert a.n_converted <= b.n_converted
        assert a.n_views == b.n_views
    assert all(0.0 <= r.conversion_rate <= 1.0 for r in rows)


def test_mde_shrinks_with_sample_size(spark, sf_dir):
    from healthcare_data_lakehouse_spark.queries.behavior_events import (
        events_power_analysis_mde,
    )

    rows = events_power_analysis_mde(spark, sf_dir).collect()
    assert len(rows) == 2
    for r in rows:
        assert r.mde_abs > 0
        assert r.mde_rel > 0
        # MDE formula: proportional to sqrt(var/n)
    a, b = rows
    if a.n > b.n * 4:
        assert a.mde_abs < b.mde_abs


def test_spearman_matches_pandas_reference(spark, sf_dir):
    from healthcare_data_lakehouse_spark.queries.behavior_stats import (
        stats_spearman_rank_corr,
    )
    from healthcare_data_lakehouse_spark.tables import table

    r = stats_spearman_rank_corr(spark, sf_dir).collect()[0]
    pdf = (
        table(spark, sf_dir, "lineitem")
        .select("l_quantity", "l_extendedprice")
        .toPandas()
    )
    # pandas spearman needs scipy (absent): rank manually, then Pearson
    ref = pdf["l_quantity"].rank().corr(pdf["l_extendedprice"].rank())
    assert abs(r.spearman_rho - ref) < 1e-4
    assert r.n == len(pdf)


def test_uplift_quintiles_partition_users(spark, sf_dir):
    from healthcare_data_lakehouse_spark.queries.behavior_events import (
        events_uplift_qini_deciles,
    )
    from healthcare_data_lakehouse_spark.tables import table

    rows = events_uplift_qini_deciles(spark, sf_dir).collect()
    assert {r.score_bucket for r in rows} == {1, 2, 3, 4, 5}
    n_users = table(spark, sf_dir, "events").select("user_id").distinct().count()
    assert sum(r.n_treat + r.n_ctrl for r in rows) == n_users
    for r in rows:
        # tiny buckets can miss one arm entirely -> NULL rates/uplift
        if r.uplift is None:
            assert r.n_treat == 0 or r.n_ctrl == 0
            continue
        assert -1.0 <= r.uplift <= 1.0
        assert abs(r.uplift - round(r.rate_treat - r.rate_ctrl, 6)) < 2e-6


def test_segment_migration_matrix_partitions_users(spark, sf_dir):
    """Matrix cells partition the user base; segments come from the
    fixed tier set; at this fixture scale every user is active in both
    halves, so 'absent' appears only if a user is truly one-sided."""
    from healthcare_data_lakehouse_spark.queries.behavior_events import (
        events_segment_migration_matrix,
    )
    from healthcare_data_lakehouse_spark.tables import table

    rows = events_segment_migration_matrix(spark, sf_dir).collect()
    n_users = (
        table(spark, sf_dir, "events").select("user_id").distinct().count()
    )
    assert sum(r.n_users for r in rows) == n_users
    tiers = {"heavy", "mid", "light", "absent"}
    assert all(r.seg_h1 in tiers and r.seg_h2 in tiers for r in rows)
    assert len(rows) > 1, "mean-relative tiers should split the base"


def test_permutation_test_identities(spark, sf_dir):
    from healthcare_data_lakehouse_spark.queries.behavior_stats import (
        stats_permutation_test_purchase_click,
    )

    r = stats_permutation_test_purchase_click(spark, sf_dir).collect()[0]
    assert r.n_purchase > 0 and r.n_click > 0
    assert r.n_perms == 64
    assert 0 <= r.n_exceed <= r.n_perms
    assert abs(r.p_value - (1 + r.n_exceed) / (r.n_perms + 1)) < 1e-5
    assert abs(r.stat_obs - abs(r.mean_purchase - r.mean_click)) < 1e-4


def test_brown_forsythe_statistic_identities(spark, sf_dir):
    from healthcare_data_lakehouse_spark.queries.behavior_stats import (
        stats_brown_forsythe_variance,
    )

    r = stats_brown_forsythe_variance(spark, sf_dir).collect()[0]
    assert r.n_purchase > 0 and r.n_click > 0
    assert r.median_purchase > 0 and r.median_click > 0
    assert r.mad_purchase > 0 and r.mad_click > 0
    assert r.f_stat >= 0


def test_kendall_tau_identities(spark, sf_dir):
    from healthcare_data_lakehouse_spark.queries.behavior_stats import (
        stats_kendall_tau_daily,
    )

    r = stats_kendall_tau_daily(spark, sf_dir).collect()[0]
    assert r.n_days > 1
    total_pairs = r.n_days * (r.n_days - 1) // 2
    assert r.concordant + r.discordant <= total_pairs
    assert -1.0 <= r.kendall_tau_b <= 1.0
    # volume and value are strongly positively associated day to day
    assert r.kendall_tau_b > 0


def test_kruskal_wallis_matches_bruteforce(spark, sf_dir):
    import pandas as pd

    from healthcare_data_lakehouse_spark.queries.behavior_stats import (
        stats_kruskal_wallis_value_by_type,
    )

    r = stats_kruskal_wallis_value_by_type(spark, sf_dir).collect()[0]

    ev = pd.read_parquet(f"{sf_dir}/events.parquet")[["event_type", "value"]]
    ranks = ev["value"].rank(method="average")
    n = len(ev)
    k = ev["event_type"].nunique()
    s = sum(
        grp.sum() ** 2 / len(grp) for _, grp in ranks.groupby(ev["event_type"])
    )
    h = 12.0 / (n * (n + 1)) * s - 3.0 * (n + 1)
    tie = sum(c**3 - c for c in ev["value"].value_counts())
    h_corr = h / (1.0 - tie / (n**3 - n))

    assert r.n_total == n and r.n_groups == k
    assert abs(r.h_stat - h) < 1e-3
    assert abs(r.h_corrected - h_corr) < 1e-3


def test_kruskal_wallis_reduces_to_zero_on_identical_groups(spark, sf_dir):
    # all groups drawn from the same pooled sample => H >= 0 always; the
    # tie-corrected value can only grow |H|
    from healthcare_data_lakehouse_spark.queries.behavior_stats import (
        stats_kruskal_wallis_value_by_type,
    )

    r = stats_kruskal_wallis_value_by_type(spark, sf_dir).collect()[0]
    assert r.h_stat >= 0
    assert r.h_corrected >= r.h_stat


def test_ljung_box_matches_bruteforce(spark, sf_dir):
    import pandas as pd

    from healthcare_data_lakehouse_spark.queries.behavior_stats import (
        stats_ljung_box_daily_volume,
    )

    rows = {
        r.lag: r for r in stats_ljung_box_daily_volume(spark, sf_dir).collect()
    }
    assert set(rows) == set(range(1, 8))

    ev = pd.read_parquet(f"{sf_dir}/events.parquet")
    daily = ev.groupby(ev["ts"].dt.normalize()).size()
    idx = pd.date_range(daily.index.min(), daily.index.max(), freq="D")
    series = daily.reindex(idx, fill_value=0).to_numpy(dtype=float)
    n = len(series)
    m = series.mean()
    dev = series - m
    ss = (dev**2).sum()
    q = 0.0
    for k in range(1, 8):
        rho = (dev[:-k] * dev[k:]).sum() / ss
        q += rho**2 / (n - k)
        r = rows[k]
        assert abs(r.rho - rho) < 1e-4
        assert abs(r.q_stat - n * (n + 2) * q) < 1e-2
    # the event feed has strong day-to-day structure: Q(7) >> chi2 crit 14.1
    assert rows[7].q_stat > 0


def test_cmh_matches_bruteforce(spark, sf_dir):
    import pandas as pd

    from healthcare_data_lakehouse_spark.queries.behavior_events import (
        events_cmh_purchase_by_variant_daystrata,
    )

    r = events_cmh_purchase_by_variant_daystrata(spark, sf_dir).collect()[0]

    ev = pd.read_parquet(f"{sf_dir}/events.parquet")
    ev = ev[ev["event_type"].isin(["purchase", "click"])].copy()
    ev["day"] = ev["ts"].dt.normalize()
    ev["variant"] = ev["user_id"] % 2
    ev["hit"] = (ev["event_type"] == "purchase").astype(int)
    sa = se = sv = num = den = 0.0
    n_strata = 0
    for _, g in ev.groupby("day"):
        a = int(((g.variant == 0) & (g.hit == 1)).sum())
        b = int(((g.variant == 0) & (g.hit == 0)).sum())
        c = int(((g.variant == 1) & (g.hit == 1)).sum())
        d = int(((g.variant == 1) & (g.hit == 0)).sum())
        n = a + b + c + d
        if n <= 1:
            continue
        n_strata += 1
        sa += a
        se += (a + b) * (a + c) / n
        sv += (a + b) * (c + d) * (a + c) * (b + d) / (n * n * (n - 1))
        num += a * d / n
        den += b * c / n
    assert r.n_strata == n_strata
    assert abs(r.cmh_chi2 - (sa - se) ** 2 / sv) < 1e-3
    assert abs(r.mh_odds_ratio - num / den) < 1e-3
    assert r.mh_odds_ratio > 0


def test_markov_entropy_rate_bounds(spark, sf_dir):
    import math

    import pandas as pd

    from healthcare_data_lakehouse_spark.queries.behavior_events import (
        events_markov_entropy_rate,
    )

    r = events_markov_entropy_rate(spark, sf_dir).collect()[0]
    # conditioning can only reduce entropy
    assert 0 < r.entropy_rate_bits <= r.marginal_entropy_bits + 1e-9
    assert 0 <= r.predictability_gain < 1
    assert 0 <= r.self_loop_mass <= 1

    ev = pd.read_parquet(f"{sf_dir}/events.parquet").sort_values(
        ["user_id", "ts"]
    )
    h_cond = 0.0
    pairs: dict = {}
    for uid, g in ev.groupby("user_id"):
        types = list(g["event_type"])
        for a, b in zip(types, types[1:]):
            pairs[(a, b)] = pairs.get((a, b), 0) + 1
    ct = sum(pairs.values())
    row = {}
    for (a, _), c in pairs.items():
        row[a] = row.get(a, 0) + c
    for (a, b), c in pairs.items():
        h_cond -= (c / ct) * math.log2(c / row[a])
    assert abs(r.entropy_rate_bits - h_cond) < 1e-4


def test_hill_alpha_matches_bruteforce(spark, sf_dir):
    import math

    import pandas as pd

    from healthcare_data_lakehouse_spark.queries.behavior_stats import (
        stats_hill_tail_index_orders,
    )

    r = stats_hill_tail_index_orders(spark, sf_dir).collect()[0]

    orders = pd.read_parquet(f"{sf_dir}/orders.parquet")
    deg = orders.groupby("o_custkey").size().reset_index(name="k")
    tail = deg.sort_values(["k", "o_custkey"], ascending=[False, True]).head(
        100
    )["k"]
    x_min = int(tail.min())
    alpha = 1.0 + len(tail) / sum(math.log(k / x_min) for k in tail)
    assert r.x_min == x_min
    assert abs(r.hill_alpha - alpha) < 1e-3
    assert 0 < r.tail_order_share <= 1


def test_breusch_pagan_matches_bruteforce(spark, sf_dir):
    import numpy as np
    import pandas as pd

    from healthcare_data_lakehouse_spark.queries.behavior_stats import (
        stats_breusch_pagan_price_quantity,
    )

    r = stats_breusch_pagan_price_quantity(spark, sf_dir).collect()[0]

    li = pd.read_parquet(f"{sf_dir}/lineitem.parquet")
    x = li["l_quantity"].to_numpy(dtype=float)
    y = li["l_extendedprice"].to_numpy(dtype=float)
    b = np.cov(x, y, bias=True)[0, 1] / np.var(x)
    a = y.mean() - b * x.mean()
    u = (y - a - b * x) ** 2
    r2 = np.corrcoef(u, x)[0, 1] ** 2
    assert r.n == len(li)
    assert abs(r.slope - b) < 1e-2
    assert abs(r.r2_aux - r2) < 1e-4
    assert abs(r.bp_lm - len(li) * r2) < max(0.05, len(li) * 1e-4)
    assert r.bp_lm >= 0


def test_durbin_watson_matches_bruteforce(spark, sf_dir):
    import numpy as np
    import pandas as pd

    from healthcare_data_lakehouse_spark.queries.behavior_stats import (
        stats_durbin_watson_daily_revenue,
    )

    r = stats_durbin_watson_daily_revenue(spark, sf_dir).collect()[0]

    orders = pd.read_parquet(f"{sf_dir}/orders.parquet")
    orders["cents"] = (orders["o_totalprice"] * 100).round().astype("int64")
    daily = orders.groupby("o_orderdate")["cents"].sum()
    idx = pd.date_range(daily.index.min(), daily.index.max(), freq="D")
    y = daily.reindex(idx.date, fill_value=0).to_numpy(dtype=float) / 100.0
    t = np.arange(len(y), dtype=float)
    b = np.cov(t, y, bias=True)[0, 1] / np.var(t)
    a = y.mean() - b * t.mean()
    e = y - a - b * t
    dw = ((e[1:] - e[:-1]) ** 2).sum() / (e**2).sum()
    assert r.n_days == len(y)
    assert abs(r.durbin_watson - dw) < 1e-3
    assert 0 <= r.durbin_watson <= 4


def test_ks_exponential_matches_bruteforce(spark, sf_dir):
    import math

    import numpy as np
    import pandas as pd

    from healthcare_data_lakehouse_spark.queries.behavior_stats import (
        stats_ks_exponential_interarrival,
    )

    r = stats_ks_exponential_interarrival(spark, sf_dir).collect()[0]

    ev = pd.read_parquet(f"{sf_dir}/events.parquet").sort_values(
        ["user_id", "ts", "event_id"]
    )
    gaps = []
    for _, g in ev.groupby("user_id"):
        ts = g["ts"].to_numpy().astype("datetime64[us]").astype("int64")
        d = np.diff(ts)  # us
        gaps.extend(int(x) for x in d if x > 0)
    gaps = np.sort(np.array(gaps, dtype=np.int64))
    n = len(gaps)
    sg = int(gaps.sum())
    cdf = 1.0 - np.exp(-(gaps.astype(float) * n / sg))
    # jump-aware sup over the sorted sample (ties collapse naturally)
    d_plus = (np.arange(1, n + 1) / n - cdf).max()
    d_minus = (cdf - np.arange(0, n) / n).max()
    ks = max(d_plus, d_minus)
    assert r.n_gaps == n
    assert abs(r.lambda_per_hour - 3.6e9 * n / sg) < 1e-3
    assert abs(r.ks_d - ks) < 1e-4
    assert abs(r.ks_crit_95 - 1.36 / math.sqrt(n)) < 1e-6


def test_gumbel_fit_matches_bruteforce(spark, sf_dir):
    import math

    import pandas as pd

    from healthcare_data_lakehouse_spark.queries.behavior_stats import (
        stats_gumbel_daily_max_value,
    )

    r = stats_gumbel_daily_max_value(spark, sf_dir).collect()[0]

    ev = pd.read_parquet(f"{sf_dir}/events.parquet")
    daily = ev.groupby(ev["ts"].dt.normalize())["value"].max()
    m, s, n = daily.mean(), daily.std(ddof=1), len(daily)
    beta = s * math.sqrt(6.0) / math.pi
    mu = m - 0.5772156649015329 * beta
    rl30 = mu - beta * math.log(-math.log(1 - 1 / 30.0))
    assert r.n_days == n
    assert abs(r.gumbel_mu - mu) < 1e-3
    assert abs(r.gumbel_beta - beta) < 1e-3
    assert abs(r.return_level_30d - rl30) < 1e-3
    # return levels order correctly and sit above the location parameter
    assert r.return_level_365d > r.return_level_30d > r.gumbel_mu


def test_pacf_matches_statsmodels_free_bruteforce(spark, sf_dir):
    import numpy as np
    import pandas as pd

    from healthcare_data_lakehouse_spark.queries.behavior_stats import (
        stats_pacf_daily_volume,
    )

    rows = {r.lag: r for r in stats_pacf_daily_volume(spark, sf_dir).collect()}
    assert set(rows) == {1, 2, 3, 4}

    ev = pd.read_parquet(f"{sf_dir}/events.parquet")
    daily = ev.groupby(ev["ts"].dt.normalize()).size()
    idx = pd.date_range(daily.index.min(), daily.index.max(), freq="D")
    y = daily.reindex(idx, fill_value=0).to_numpy(dtype=float)
    dev = y - y.mean()
    ss = (dev**2).sum()
    rho = [1.0] + [
        (dev[:-k] * dev[k:]).sum() / ss for k in range(1, 5)
    ]
    # Durbin-Levinson reference
    phi_prev = {}
    pacf = {}
    for k in range(1, 5):
        if k == 1:
            pacf[1] = rho[1]
            phi_prev = {1: rho[1]}
        else:
            num = rho[k] - sum(phi_prev[j] * rho[k - j] for j in phi_prev)
            den = 1 - sum(phi_prev[j] * rho[j] for j in phi_prev)
            pk = num / den
            pacf[k] = pk
            phi_prev = {
                j: phi_prev[j] - pk * phi_prev[k - j] for j in phi_prev
            } | {k: pk}
    for k in range(1, 5):
        assert abs(rows[k].acf - rho[k]) < 1e-4, k
        assert abs(rows[k].pacf - pacf[k]) < 1e-4, k
        assert -1.0 <= rows[k].pacf <= 1.0
    # PACF lag 1 equals ACF lag 1 by definition
    assert abs(rows[1].pacf - rows[1].acf) < 1e-9


def test_cooks_distance_matches_bruteforce(spark, sf_dir):
    import numpy as np
    import pandas as pd

    from healthcare_data_lakehouse_spark.queries.behavior_stats import (
        stats_cooks_distance_price_quantity,
    )

    rows = stats_cooks_distance_price_quantity(spark, sf_dir).collect()
    assert len(rows) == 10

    li = pd.read_parquet(f"{sf_dir}/lineitem.parquet")
    x = li["l_quantity"].to_numpy(dtype=float)
    y = li["l_extendedprice"].to_numpy(dtype=float)
    n = len(x)
    b = np.cov(x, y, bias=True)[0, 1] / np.var(x)
    a = y.mean() - b * x.mean()
    e = y - a - b * x
    sxx = ((x - x.mean()) ** 2).sum()
    h = 1.0 / n + (x - x.mean()) ** 2 / sxx
    s2 = (e**2).sum() / (n - 2)
    d = e**2 / (2 * s2) * h / (1 - h) ** 2
    top = np.argsort(-d)[:10]
    exp_top = sorted(float(d[i]) for i in top)
    got_top = sorted(r.cooks_d for r in rows)
    for gv, ev_ in zip(got_top, exp_top):
        assert abs(gv - ev_) < 1e-6
    # ranking is by influence, strictly ordered after the tiebreak
    ds = [r.cooks_d for r in rows]
    assert ds == sorted(ds, reverse=True)


def test_longest_streaks_match_bruteforce(spark, sf_dir):
    import pandas as pd

    from healthcare_data_lakehouse_spark.queries.behavior_events import (
        events_longest_daily_streaks,
    )

    rows = {
        r.best_streak: r.n_users
        for r in events_longest_daily_streaks(spark, sf_dir).collect()
    }

    ev = pd.read_parquet(f"{sf_dir}/events.parquet")
    ud = (
        ev.assign(day=ev["ts"].dt.normalize())[["user_id", "day"]]
        .drop_duplicates()
        .sort_values(["user_id", "day"])
    )
    best: dict = {}
    for uid, g in ud.groupby("user_id"):
        days = list(g["day"])
        longest = cur = 1
        for a, b in zip(days, days[1:]):
            cur = cur + 1 if (b - a).days == 1 else 1
            longest = max(longest, cur)
        best[uid] = longest
    from collections import Counter

    exp = Counter(best.values())
    assert rows == dict(exp)


def test_tost_matches_bruteforce_and_welch_consistency(spark, sf_dir):
    import math

    import pandas as pd

    from healthcare_data_lakehouse_spark.queries.behavior_stats import (
        stats_tost_equivalence_purchase_click,
    )

    r = stats_tost_equivalence_purchase_click(spark, sf_dir).collect()[0]

    ev = pd.read_parquet(f"{sf_dir}/events.parquet")
    pv = ev.loc[ev.event_type == "purchase", "value"]
    cv = ev.loc[ev.event_type == "click", "value"]
    diff = pv.mean() - cv.mean()
    delta = 0.05 * (pv.mean() + cv.mean()) / 2
    se = math.sqrt(pv.var(ddof=1) / len(pv) + cv.var(ddof=1) / len(cv))
    assert r.n1 == len(pv) and r.n2 == len(cv)
    assert abs(r.mean_diff - diff) < 1e-3
    assert abs(r.z_lower - (diff + delta) / se) < 1e-3
    assert abs(r.z_upper - (delta - diff) / se) < 1e-3
    exp_eq = int((diff + delta) / se > 1.645 and (delta - diff) / se > 1.645)
    assert r.equivalent_at_95 == exp_eq
    # TOST internal consistency: z_lower + z_upper == 2*delta/se
    assert abs((r.z_lower + r.z_upper) - 2 * delta / se) < 1e-3


def test_fisher_combined_matches_bruteforce(spark, sf_dir):
    import math

    import pandas as pd

    from healthcare_data_lakehouse_spark.queries.behavior_stats import (
        stats_fisher_combined_pvalue,
    )

    r = stats_fisher_combined_pvalue(spark, sf_dir).collect()[0]

    def erf_as(x):
        t = 1.0 / (1.0 + 0.3275911 * x)
        poly = (
            0.254829592 * t
            - 0.284496736 * t**2
            + 1.421413741 * t**3
            - 1.453152027 * t**4
            + 1.061405429 * t**5
        )
        return 1.0 - poly * math.exp(-x * x)

    ev = pd.read_parquet(f"{sf_dir}/events.parquet")
    types = sorted(ev["event_type"].unique())
    x2 = 0.0
    zs = []
    for t in types:
        a = ev.loc[ev.event_type == t, "value"]
        b = ev.loc[ev.event_type != t, "value"]
        z = (a.mean() - b.mean()) / math.sqrt(
            a.var(ddof=1) / len(a) + b.var(ddof=1) / len(b)
        )
        p = max(1.0 - erf_as(abs(z) / math.sqrt(2)), 1e-12)
        x2 += -2 * math.log(p)
        zs.append(z)
    k = len(types)
    half = x2 / 2
    p_fisher = math.exp(-half) * sum(
        half**j / math.factorial(j) for j in range(k)
    )
    assert r.k_tests == k and r.df == 2 * k
    assert abs(r.fisher_x2 - x2) < 1e-2
    assert abs(r.p_fisher - min(p_fisher, 1.0)) < 1e-6
    assert abs(r.stouffer_z - sum(zs) / math.sqrt(k)) < 1e-2
    # survival function sanity: p in [0, 1], -log10 consistent
    assert 0.0 <= r.p_fisher <= 1.0
    if r.p_fisher > 1e-9:
        assert abs(r.neg_log10_p + math.log10(r.p_fisher)) < 1e-2


def test_bartlett_matches_bruteforce(spark, sf_dir):
    import math

    import pandas as pd

    from healthcare_data_lakehouse_spark.queries.behavior_stats import (
        stats_bartlett_variance_homogeneity,
    )

    r = stats_bartlett_variance_homogeneity(spark, sf_dir).collect()[0]

    ev = pd.read_parquet(f"{sf_dir}/events.parquet")
    groups = [g["value"] for _, g in ev.groupby("event_type")]
    k = len(groups)
    n_tot = sum(len(g) for g in groups)
    sp2 = sum((len(g) - 1) * g.var(ddof=1) for g in groups) / (n_tot - k)
    num = (n_tot - k) * math.log(sp2) - sum(
        (len(g) - 1) * math.log(g.var(ddof=1)) for g in groups
    )
    c = 1 + (sum(1 / (len(g) - 1) for g in groups) - 1 / (n_tot - k)) / (
        3 * (k - 1)
    )
    assert r.k_groups == k and r.n_tot == n_tot
    assert abs(r.pooled_var - sp2) < 1e-2
    assert abs(r.bartlett_t - num / c) < 1e-2
    assert r.bartlett_t >= 0


def test_periodogram_parseval_and_bruteforce(spark, sf_dir):
    import math

    import pandas as pd

    from healthcare_data_lakehouse_spark.queries.behavior_events import (
        events_periodogram_daily,
    )

    rows = {
        r.period_days: r.power
        for r in events_periodogram_daily(spark, sf_dir).collect()
    }
    assert set(rows) == set(range(2, 15))

    ev = pd.read_parquet(f"{sf_dir}/events.parquet")
    daily = ev.groupby(ev["ts"].dt.normalize()).size()
    idx = pd.date_range(daily.index.min(), daily.index.max(), freq="D")
    y = daily.reindex(idx, fill_value=0).to_numpy(dtype=float)
    y = y - y.mean()
    n = len(y)
    for p in range(2, 15):
        c = sum(v * math.cos(2 * math.pi * t / p) for t, v in enumerate(y))
        s = sum(v * math.sin(2 * math.pi * t / p) for t, v in enumerate(y))
        assert abs(rows[p] - 2 * (c * c + s * s) / n) < 1e-2, p
        assert rows[p] >= 0


def test_xyz_classes_partition_all_parts(spark, sf_dir):
    import pandas as pd

    from healthcare_data_lakehouse_spark.queries.behavior_events import (
        orders_xyz_classification,
    )

    rows = orders_xyz_classification(spark, sf_dir).collect()
    n_parts = (
        pd.read_parquet(f"{sf_dir}/lineitem.parquet")["l_partkey"].nunique()
    )
    assert sum(r.n_parts for r in rows) == n_parts
    assert abs(sum(r.part_share for r in rows) - 1.0) < 1e-3
    order = {"X": 0, "Y": 1, "Z": 2}
    got = sorted(rows, key=lambda r: order[r.xyz])
    # avg cv must increase across X -> Y -> Z by construction
    cvs = [r.avg_cv for r in got]
    assert cvs == sorted(cvs)


def test_ccf_symmetric_construction_and_bruteforce(spark, sf_dir):
    import numpy as np
    import pandas as pd

    from healthcare_data_lakehouse_spark.queries.behavior_events import (
        events_cross_correlation_purchase_click,
    )

    rows = {
        r.lag_days: r.ccf
        for r in events_cross_correlation_purchase_click(spark, sf_dir).collect()
    }
    assert set(rows) == set(range(-7, 8))

    ev = pd.read_parquet(f"{sf_dir}/events.parquet")
    ev["day"] = ev["ts"].dt.normalize()
    idx = pd.date_range(ev["day"].min(), ev["day"].max(), freq="D")
    x = (
        ev[ev.event_type == "click"].groupby("day").size().reindex(idx, fill_value=0)
    ).to_numpy(dtype=float)
    y = (
        ev[ev.event_type == "purchase"].groupby("day").size().reindex(idx, fill_value=0)
    ).to_numpy(dtype=float)
    dx, dy = x - x.mean(), y - y.mean()
    den = np.sqrt((dx**2).sum() * (dy**2).sum())
    for k in range(-7, 8):
        if k >= 0:
            num = (dx[: len(dx) - k] * dy[k:]).sum() if k else (dx * dy).sum()
        else:
            num = (dx[-k:] * dy[: len(dy) + k]).sum()
        assert abs(rows[k] - num / den) < 1e-4, k
        assert -1.0 <= rows[k] <= 1.0


def test_growth_accounting_identities(spark, sf_dir):
    import pandas as pd

    from healthcare_data_lakehouse_spark.queries.behavior_events import (
        events_growth_accounting_weekly,
    )

    rows = sorted(
        events_growth_accounting_weekly(spark, sf_dir).collect(),
        key=lambda r: r.week_start,
    )
    assert rows
    # identity: active = new + retained + resurrected, every week
    for r in rows:
        assert r.n_active == r.n_new + r.n_retained + r.n_resurrected
    # first week: everyone is new, nobody churned into it
    assert rows[0].n_retained == 0 and rows[0].n_resurrected == 0
    assert rows[0].n_churned == 0
    # conservation vs brute force on the raw activity table
    ev = pd.read_parquet(f"{sf_dir}/events.parquet")
    ev["wk"] = ev["ts"].dt.to_period("W-SUN").dt.start_time.dt.normalize()
    uw = ev[["user_id", "wk"]].drop_duplicates()
    weeks = sorted(uw["wk"].unique())
    by_week = {w: set(uw.loc[uw.wk == w, "user_id"]) for w in weeks}
    seen: set = set()
    got = {r.week_start: r for r in rows}
    import datetime

    for i, w in enumerate(weeks):
        cur = by_week[w]
        prev = by_week.get(w - pd.Timedelta(days=7), set())
        new = cur - seen
        retained = cur & prev
        resurrected = cur - new - retained
        churned = prev - cur
        key = w.date()
        r = got[key]
        assert r.n_new == len(new), w
        assert r.n_retained == len(retained), w
        assert r.n_resurrected == len(resurrected), w
        assert r.n_churned == len(churned), w
        seen |= cur


def test_negbin_fit_matches_bruteforce(spark, sf_dir):
    import pandas as pd

    from healthcare_data_lakehouse_spark.queries.behavior_stats import (
        stats_negbin_fit_user_counts,
    )

    r = stats_negbin_fit_user_counts(spark, sf_dir).collect()[0]
    counts = (
        pd.read_parquet(f"{sf_dir}/events.parquet").groupby("user_id").size()
    )
    m, v = counts.mean(), counts.var(ddof=1)
    assert r.n_users == len(counts)
    assert abs(r.mean_events - m) < 1e-3
    assert abs(r.dispersion_index - v / m) < 1e-3
    assert abs(r.nb_r - m * m / (v - m)) < 1e-2
    # overdispersion must be present for the NB fit to be valid
    assert r.dispersion_index > 1.0
    assert 0.0 < r.nb_p < 1.0


def test_retention_powerlaw_fit_sanity(spark, sf_dir):
    from healthcare_data_lakehouse_spark.queries.behavior_events import (
        events_retention_powerlaw_fit,
    )

    r = events_retention_powerlaw_fit(spark, sf_dir).collect()[0]
    assert r.n_offsets >= 2
    # retention decays: positive exponent; level is a rate in (0, 1+]
    assert 0 < r.week1_level <= 1.5
    assert 0.0 <= r.loglog_r2 <= 1.0
    # the projection follows the fitted law exactly
    import math

    proj = r.week1_level * 12.0 ** (-r.decay_exponent)
    assert abs(r.projected_week12 - proj) < 1e-2


def test_seasonal_strength_matches_bruteforce(spark, sf_dir):
    import numpy as np
    import pandas as pd

    from healthcare_data_lakehouse_spark.queries.behavior_events import (
        events_seasonal_strength_daily,
    )

    r = events_seasonal_strength_daily(spark, sf_dir).collect()[0]

    ev = pd.read_parquet(f"{sf_dir}/events.parquet")
    daily = ev.groupby(ev["ts"].dt.normalize()).size()
    idx = pd.date_range(daily.index.min(), daily.index.max(), freq="D")
    y = daily.reindex(idx, fill_value=0).astype(float)
    tr = y.rolling(7, center=True).mean()
    interior = tr.dropna().index
    detr = (y - tr).loc[interior]
    # Spark dayofweek: 1=Sunday; pandas dayofweek: 0=Monday — grouping key
    # only needs to partition days consistently, so pandas' is fine here
    dow = pd.Series(interior.dayofweek, index=interior)
    seas = detr.groupby(dow).transform("mean")
    resid = detr - seas
    deseas = y.loc[interior] - seas
    fs = max(0.0, 1 - resid.var(ddof=1) / detr.var(ddof=1))
    ft = max(0.0, 1 - resid.var(ddof=1) / deseas.var(ddof=1))
    assert r.n_interior == len(interior)
    assert abs(r.seasonal_strength - fs) < 1e-3
    assert abs(r.trend_strength - ft) < 1e-3
    assert 0.0 <= r.seasonal_strength <= 1.0
    assert 0.0 <= r.trend_strength <= 1.0
