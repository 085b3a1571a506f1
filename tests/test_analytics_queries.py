"""Smoke + sanity tests for the analytics query catalog at sf0.001."""

from __future__ import annotations

import pytest


@pytest.fixture(scope="module")
def specs():
    from healthcare_data_lakehouse_spark.queries.catalog import load_all

    return load_all()


def test_flagship_entry(spark, sf_dir):
    import __spark_entry__ as e

    df = e.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert "revenue" in df.columns


def test_all_queries_run_and_nonempty(spark, sf_dir, specs):
    for name, spec in specs.items():
        df = spec.fn(spark, sf_dir)
        assert df.count() >= 0, name


def test_oracle_alignment_duckdb(spark, sf_dir, specs):
    """Every oracle runs on DuckDB and matches column names."""
    import duckdb

    con = duckdb.connect()
    for t in ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"]:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    for name, spec in specs.items():
        if spec.oracle is None:
            continue
        res = con.execute(spec.oracle)
        d_cols = [c[0] for c in res.description]
        s_cols = spec.fn(spark, sf_dir).columns
        assert sorted(d_cols) == sorted(s_cols), name


def test_fuzzy_match_resolves_every_variant(spark):
    from healthcare_data_lakehouse_spark.queries.analytics_ext import er_fuzzy_customer_match
    from healthcare_data_lakehouse_spark.tables import table
    from pyspark.sql import functions as F

    rows = er_fuzzy_customer_match(spark, "/root/testdata/sf0.001").collect()
    n_variants = (
        table(spark, "/root/testdata/sf0.001", "customer")
        .filter(F.col("c_custkey") % 10 == 3)
        .count()
    )
    # blocking keeps the true master in every variant's block (the typo
    # touches only the last 2 chars), so every variant resolves to
    # something within distance 2
    assert len(rows) == n_variants
    assert all(r.best_distance <= 2 for r in rows)
    by_variant = {r.variant_id: r for r in rows}
    # a variant ending in '33' transposes to itself: the true master MUST
    # win at distance 0
    for v, r in by_variant.items():
        true_key = v - 1_000_000
        if true_key % 100 == 33:
            assert r.best_custkey == true_key
            assert r.best_distance == 0
    # dense numeric ids make distance-0 false merges the norm: a
    # transposed id is usually another real customer; the query must
    # surface those as rank-1 (auditable), never distance > 0 beats 0
    zero_hits = [r for r in rows if r.best_distance == 0]
    assert zero_hits, "expected at least one exact (possibly false-merge) hit"


def test_assoc_rules_lift_consistency(spark):
    from healthcare_data_lakehouse_spark.queries.analytics_ext import assoc_part_pairs_lift

    rows = assoc_part_pairs_lift(spark, "/root/testdata/sf0.01").collect()
    assert rows
    for r in rows:
        assert r.part_a < r.part_b
        assert 0 < r.confidence <= 1.0
        assert r.lift > 0


def test_fullouter_preserves_both_calendars(spark):
    from healthcare_data_lakehouse_spark.queries.analytics_ext import (
        fullouter_daily_orders_vs_events,
    )

    rows = fullouter_daily_orders_vs_events(spark, "/root/testdata/sf0.001").collect()
    # event days without orders AND order days without events both survive
    assert any(r.n_orders == 0 and r.n_events > 0 for r in rows)
    assert any(r.n_events == 0 and r.n_orders > 0 for r in rows)
    assert all(r.day is not None for r in rows)


def test_division_suppliers_truly_cover(spark):
    from healthcare_data_lakehouse_spark.queries.analytics_olap import (
        suppliers_covering_all_top_parts,
    )
    from healthcare_data_lakehouse_spark.tables import table
    from pyspark.sql import functions as F

    li = table(spark, "/root/testdata/sf0.01", "lineitem")
    top = [
        r.l_partkey
        for r in li.groupBy("l_partkey")
        .agg(F.sum("l_quantity").alias("q"))
        .orderBy(F.col("q").desc(), "l_partkey")
        .limit(5)
        .collect()
    ]
    winners = {
        r.suppkey
        for r in suppliers_covering_all_top_parts(spark, "/root/testdata/sf0.01").collect()
    }
    for s in winners:
        shipped = {
            r.l_partkey
            for r in li.filter(F.col("l_suppkey") == s)
            .select("l_partkey")
            .distinct()
            .collect()
        }
        assert set(top) <= shipped


def test_copart_pairs_are_strongest_edges(spark, sf_dir):
    from healthcare_data_lakehouse_spark.queries.analytics_ext import (
        graph_supplier_copart_pairs,
    )

    rows = graph_supplier_copart_pairs(spark, sf_dir).collect()
    assert 0 < len(rows) <= 25
    counts = [r.shared_parts for r in rows]
    assert counts == sorted(counts, reverse=True)
    for r in rows:
        assert r.supp_a < r.supp_b  # canonical orientation, no mirrors


def test_locf_fills_only_gaps_and_carries_last(spark, sf_dir):
    from healthcare_data_lakehouse_spark.queries.analytics_ext import (
        events_locf_daily_user_value,
    )

    rows = events_locf_daily_user_value(spark, sf_dir).collect()
    assert rows
    by_user: dict = {}
    for r in rows:
        by_user.setdefault(r.user_id, []).append(r)
    for user, series in by_user.items():
        series = sorted(series, key=lambda r: r.day)
        # spine is contiguous daily
        days = [r.day for r in series]
        assert (days[-1] - days[0]).days + 1 == len(days)
        # first day is a real observation; filled days repeat the last value
        assert not series[0].is_filled
        prev = series[0].locf_value
        for r in series[1:]:
            if r.is_filled:
                assert r.locf_value == prev
            prev = r.locf_value
        assert all(r.locf_value is not None for r in series)


def test_hll_rollup_estimate_accuracy(spark, sf_dir, specs):
    """Linear-counting-corrected HLL must track the exact cumulative
    distinct within 10% at every day, and be monotone non-decreasing."""
    rows = sorted(
        specs["sketch_hll_mergeable_daily_rollup"].fn(spark, sf_dir).collect(),
        key=lambda r: r.day,
    )
    assert rows
    prev = 0.0
    for r in rows:
        assert abs(r.est_cum_users - r.exact_cum_users) <= max(
            0.10 * r.exact_cum_users, 3
        ), r
        assert r.est_cum_users >= prev - 1e-9  # sketch union is monotone
        prev = r.est_cum_users


def test_hll_overlap_consistency(spark, sf_dir, specs):
    """Inclusion-exclusion invariants: union >= each side's exact count
    can fail for sketches, but est_intersection must be <= est_union and
    exact_intersection <= exact_union always."""
    for r in specs["sketch_hll_audience_overlap"].fn(spark, sf_dir).collect():
        assert r.exact_intersection <= r.exact_union
        assert r.est_intersection <= r.est_union + 1e-9
        assert abs(r.est_union - r.exact_union) <= max(
            0.10 * r.exact_union, 3
        ), r


def test_zorder_layout_prunes_better_than_natural(spark, sf_dir, specs):
    got = {
        r.layout: r
        for r in specs["storage_zorder_pruning_audit"].fn(spark, sf_dir).collect()
    }
    assert set(got) == {"zorder", "natural"}
    assert got["zorder"].skip_ratio > got["natural"].skip_ratio
    assert got["zorder"].files_scanned < got["zorder"].n_files


def test_histogram_quantile_sketch_within_bin_error(spark, sf_dir):
    """The sketch's quantile estimate is the midpoint of the bin containing
    the target rank, so it must land within bin_width/2 = 250 of the exact
    discrete quantile — the error bound that makes the sketch usable."""
    from pyspark.sql import functions as F

    from healthcare_data_lakehouse_spark.queries.catalog import load_all
    from healthcare_data_lakehouse_spark.tables import table

    got = {
        r.priority: r
        for r in load_all()["sketch_histogram_quantiles"]
        .fn(spark, sf_dir)
        .collect()
    }
    exact = {
        r.priority: r
        for r in table(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderpriority").alias("priority"))
        .agg(
            F.expr("percentile_approx(o_totalprice, 0.5, 100000)").alias("p50"),
            F.expr("percentile_approx(o_totalprice, 0.9, 100000)").alias("p90"),
        )
        .collect()
    }
    assert set(got) == set(exact)
    for prio, row in got.items():
        assert abs(row.approx_p50 - exact[prio].p50) <= 250.0 + 1e-6, prio
        assert abs(row.approx_p90 - exact[prio].p90) <= 250.0 + 1e-6, prio


def test_holt_fold_matches_reference_recurrence(spark, sf_dir):
    # the Spark-side F.aggregate fold must reproduce the Holt recurrence
    # computed independently from the same monthly inputs
    from healthcare_data_lakehouse_spark.queries.analytics_ext import (
        forecast_holt_monthly_revenue,
    )

    out = forecast_holt_monthly_revenue(spark, sf_dir).collect()
    out.sort(key=lambda r: r.month)
    assert len(out) > 12
    alpha, beta = 0.5, 0.25
    l, b = out[0].rev, 0.0
    assert out[0].level == round(l, 4) and out[0].fitted is None
    for r in out[1:]:
        f = l + b
        nl = alpha * r.rev + (1 - alpha) * f
        b = beta * (nl - l) + (1 - beta) * b
        l = nl
        assert r.level == round(l, 4)
        assert r.trend == round(b, 4)
        assert r.fitted == round(f, 4)


def test_stl_decomposition_identity(spark, sf_dir):
    from healthcare_data_lakehouse_spark.queries.analytics_ext import (
        forecast_stl_decompose_monthly,
    )

    rows = forecast_stl_decompose_monthly(spark, sf_dir).collect()
    assert len(rows) > 12
    for r in rows:
        # additive identity holds within component rounding (4 dp each)
        assert abs(r.rev - (r.trend + r.seasonal + r.residual)) < 1e-3
    # 12 distinct seasonal values at most (month-of-year grain)
    assert len({round(r.seasonal, 4) for r in rows}) <= 12


def test_markov_stationary_is_fixed_point(spark, sf_dir):
    from healthcare_data_lakehouse_spark.queries.analytics_ext import (
        events_markov_stationary,
    )
    from healthcare_data_lakehouse_spark.tables import table
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    rows = events_markov_stationary(spark, sf_dir).collect()
    pi = {r.state: r.stationary for r in rows}
    assert abs(sum(pi.values()) - 1.0) < 1e-4
    assert all(v > 0 for v in pi.values())

    # recompute the transition matrix independently and check pi ~ pi P
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts")
    seq = ev.withColumn("prev", F.lag("event_type").over(w)).filter(
        F.col("prev").isNotNull()
    )
    counts = seq.groupBy("prev", "event_type").count().collect()
    states = sorted(pi)
    tot = {s: sum(r["count"] for r in counts if r.prev == s) for s in states}
    for j in states:
        nxt = sum(
            pi[r.prev] * r["count"] / tot[r.prev]
            for r in counts
            if r.event_type == j and r.prev in pi
        )
        assert abs(nxt - pi[j]) < 1e-4


def test_backlog_sweepline_conserves_mass(spark, sf_dir):
    from healthcare_data_lakehouse_spark.queries.analytics_ext import (
        orders_open_backlog_daily,
    )

    rows = orders_open_backlog_daily(spark, sf_dir).collect()
    rows.sort(key=lambda r: r.day)
    assert rows
    # backlog is a prefix sum of +1/-1 deltas: never negative, ends at 0
    assert all(r.open_orders >= 0 for r in rows)
    assert rows[-1].open_orders == 0
    assert sum(r.net for r in rows) == 0


def test_abc_classes_partition_revenue(spark, sf_dir):
    from healthcare_data_lakehouse_spark.queries.analytics_ext import (
        orders_abc_classification,
    )

    rows = {r.abc_class: r for r in orders_abc_classification(spark, sf_dir).collect()}
    assert set(rows) == {"A", "B", "C"}
    total_share = sum(r.part_share for r in rows.values())
    assert abs(total_share - 1.0) < 1e-4
    # Pareto shape: A holds the most revenue with the fewest parts per unit
    a, c = rows["A"], rows["C"]
    assert a.class_revenue > c.class_revenue
    assert a.class_revenue / a.n_parts > c.class_revenue / c.n_parts


def test_runs_test_counts_are_consistent(spark, sf_dir):
    from healthcare_data_lakehouse_spark.queries.analytics_ext import (
        stats_runs_test_randomness,
    )

    r = stats_runs_test_randomness(spark, sf_dir).collect()[0]
    # runs are bounded by the sign counts; expected under H0 is in range
    assert 1 <= r.n_runs <= r.n_pos + r.n_neg
    assert 1.0 <= r.expected_runs <= r.n_pos + r.n_neg
    # median split puts the two sign groups within one of each other
    assert abs(r.n_pos - r.n_neg) <= 1


def test_fano_factor_definition(spark, sf_dir):
    from healthcare_data_lakehouse_spark.queries.analytics_ext import (
        events_burstiness_fano,
    )

    rows = events_burstiness_fano(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.mean_per_min > 0
        assert abs(r.fano - round(r.var_per_min / r.mean_per_min, 4)) < 1e-2
        assert (r.bursty == 1) == (r.fano > 1.0) or abs(r.fano - 1.0) < 1e-6


def test_holt_winters_matches_reference_recurrence(spark, sf_dir):
    from healthcare_data_lakehouse_spark.queries.analytics_ext import (
        forecast_holt_winters_monthly,
    )
    from healthcare_data_lakehouse_spark.tables import table
    from pyspark.sql import functions as F

    out = sorted(
        forecast_holt_winters_monthly(spark, sf_dir).collect(),
        key=lambda r: r.month,
    )
    monthly = sorted(
        table(spark, sf_dir, "orders")
        .groupBy(F.trunc(F.to_date("o_orderdate"), "month").alias("month"))
        .agg(F.round(F.sum("o_totalprice"), 2).alias("rev"))
        .collect(),
        key=lambda r: r.month,
    )
    ys = [r.rev for r in monthly]
    m, a, b_, g = 12, 0.5, 0.25, 0.25
    l = sum(ys[:m]) / m
    b = 0.0
    s = [y - l for y in ys[:m]]
    assert len(out) == len(ys) - m
    for i, r in enumerate(out):
        y = ys[m + i]
        sh = s[0]
        fitted = l + b + sh
        nl = a * (y - sh) + (1 - a) * (l + b)
        nb = b_ * (nl - l) + (1 - b_) * b
        s = s[1:] + [g * (y - nl) + (1 - g) * sh]
        l, b = nl, nb
        assert abs(r.level - round(l, 4)) < 1e-6
        assert abs(r.trend - round(b, 4)) < 1e-6
        assert abs(r.seasonal - round(sh, 4)) < 1e-6
        assert abs(r.fitted - round(fitted, 4)) < 1e-6


def test_kcore_is_subset_with_min_degree(spark, sf_dir):
    from healthcare_data_lakehouse_spark.queries.analytics_ext import (
        graph_kcore_supplier_coorder,
    )

    r = graph_kcore_supplier_coorder(spark, sf_dir).collect()[0]
    assert 0 <= r.core_nodes <= r.total_nodes
    if r.core_nodes:
        # every surviving node has degree >= 2, so edges >= nodes
        assert r.core_edges >= r.core_nodes


def test_littles_law_holds_approximately(spark, sf_dir):
    from healthcare_data_lakehouse_spark.queries.analytics_ext import (
        orders_littles_law_check,
    )

    r = orders_littles_law_check(spark, sf_dir).collect()[0]
    assert r.avg_wait_days >= 1.0
    assert r.arrival_rate_per_day > 0
    # L = lambda * W vs the directly observed time-average of open orders:
    # equal up to horizon edge effects (orders open past the window)
    assert abs(r.littles_L - r.observed_L) / r.littles_L < 0.2


def test_autocorr_in_bounds_all_lags(spark, sf_dir):
    from healthcare_data_lakehouse_spark.queries.analytics_ext import (
        events_periodicity_autocorr,
    )

    rows = events_periodicity_autocorr(spark, sf_dir).collect()
    assert {r.lag for r in rows} == set(range(1, 8))
    for r in rows:
        assert -1.0 - 1e-9 <= r.autocorr <= 1.0 + 1e-9
        assert r.n_pairs > 0
    # longer lags can never have MORE pairs than shorter ones
    by_lag = {r.lag: r.n_pairs for r in rows}
    assert all(by_lag[i] >= by_lag[i + 1] for i in range(1, 7))


def test_partition_advisor_tradeoffs(spark, sf_dir):
    from healthcare_data_lakehouse_spark.queries.analytics_ext import (
        storage_partition_advisor,
    )

    rows = {r.candidate: r for r in storage_partition_advisor(spark, sf_dir).collect()}
    assert set(rows) == {"event_type", "day", "user_bucket_16"}
    for r in rows.values():
        # scan fraction of an equality predicate is at least 1/n_partitions
        assert r.expected_scan_frac >= 1.0 / r.n_partitions - 1e-9
        assert r.max_part_frac >= 1.0 / r.n_partitions - 1e-9
    # finer keys prune more in expectation
    assert rows["day"].expected_scan_frac < rows["event_type"].expected_scan_frac


def test_forecast_backtest_folds_and_method_sanity(spark, sf_dir):
    """Exactly 12 rolling-origin folds per method; MAPE/MAE are positive
    and finite; naive and seasonal-naive both produce errors (the series
    is neither constant nor perfectly seasonal)."""
    from healthcare_data_lakehouse_spark.queries.analytics_ext import (
        forecast_backtest_mape,
    )

    rows = {r.method: r for r in forecast_backtest_mape(spark, sf_dir).collect()}
    assert set(rows) == {"naive", "seasonal_naive", "moving_avg_3"}
    for r in rows.values():
        assert r.n_folds == 12
        assert 0.0 < r.mape
        assert 0.0 < r.mae


def test_modularity_contributions_sum_to_total(spark, sf_dir):
    from healthcare_data_lakehouse_spark.queries.analytics_ext import (
        graph_modularity_supplier_nations,
    )

    rows = graph_modularity_supplier_nations(spark, sf_dir).collect()
    assert rows
    q_total = rows[0].q_total
    assert all(abs(r.q_total - q_total) < 1e-9 for r in rows)
    assert -1.0 <= q_total <= 1.0
    # per-nation contributions add up to Q (each rounded to 6dp)
    assert abs(sum(r.q_contrib for r in rows) - q_total) < 1e-5 * len(rows) + 1e-4
    # handshake: nation degrees sum to 2m, intra edges cannot exceed m
    two_m = sum(r.nation_degree for r in rows)
    assert two_m % 2 == 0
    assert sum(r.intra_edges for r in rows) <= two_m // 2


def test_hits_matches_bruteforce(spark, sf_dir):
    import pandas as pd

    from healthcare_data_lakehouse_spark.queries.analytics_ext import (
        graph_hits_hubs_authorities,
    )

    rows = graph_hits_hubs_authorities(spark, sf_dir).collect()
    got_a = {
        r.node_id: r.raw_score for r in rows if r.role == "authority"
    }
    got_h = {r.node_id: r.raw_score for r in rows if r.role == "hub"}

    li = pd.read_parquet(f"{sf_dir}/lineitem.parquet")
    edges = li[["l_suppkey", "l_partkey"]].drop_duplicates()
    a1 = edges.groupby("l_partkey").size()
    h1 = edges.merge(
        a1.rename("a1"), left_on="l_partkey", right_index=True
    ).groupby("l_suppkey")["a1"].sum()
    a2 = edges.merge(
        h1.rename("h1"), left_on="l_suppkey", right_index=True
    ).groupby("l_partkey")["h1"].sum()
    h2 = edges.merge(
        a2.rename("a2"), left_on="l_partkey", right_index=True
    ).groupby("l_suppkey")["a2"].sum()

    # pandas keeps the summed column's source name: a2's values column is
    # "h1", h2's is "a2"
    exp_a = a2.reset_index().sort_values(
        ["h1", "l_partkey"], ascending=[False, True]
    ).head(10)
    for _, row in exp_a.iterrows():
        assert got_a[row["l_partkey"]] == row["h1"]
    exp_h = h2.reset_index().sort_values(
        ["a2", "l_suppkey"], ascending=[False, True]
    ).head(10)
    for _, row in exp_h.iterrows():
        assert got_h[row["l_suppkey"]] == row["a2"]
    # normalized scores are a probability-style distribution slice
    for r in rows:
        assert 0.0 < r.norm_score <= 1.0


def test_ams_f2_matches_bruteforce(spark, sf_dir):
    import hashlib

    import pandas as pd

    from healthcare_data_lakehouse_spark.queries.analytics_ext import (
        sketch_ams_f2_user_moment,
    )

    r = sketch_ams_f2_user_moment(spark, sf_dir).collect()[0]

    ev = pd.read_parquet(f"{sf_dir}/events.parquet")
    counts = ev.groupby("user_id").size()
    f2 = int((counts**2).sum())
    sz = 0
    for j in range(16):
        z = 0
        for uid, c in counts.items():
            d = int(hashlib.md5(str(uid).encode()).hexdigest()[j], 16)
            z += (1 - 2 * (d % 2)) * int(c)
        sz += z * z
    assert r.n_users == len(counts)
    assert r.f2_exact == f2
    assert abs(r.f2_ams - sz / 16.0) < 0.01
