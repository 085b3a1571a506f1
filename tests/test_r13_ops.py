"""Round-13 operators, each pinned at value level:

* forecast_theta_monthly_revenue — fan shape + linear theta-0 line
* forecast_croston_demand        — hand-computed SES states on a 4-week
                                   planted intermittent series
* stats_pettitt_changepoint      — hand-computed U_k on a 6-day step series
* stats_sprt_purchase_rate       — planted always/never/short purchasers
                                   hit the exact Wald stopping times
* sketch_theta_anotb_estimate    — below-k regime is EXACT (theta = 1)
* similarity_knn_graph_mutual    — planted clique + isolate recover the
                                   expected mutual-degree histogram
* multimodal_scene_cut_detect    — detector recovers the planted scene
                                   count for every asset (independent
                                   recomputation from the raw fixture)
* er_em_mu_estimation            — EM convergence invariants + the
                                   separating feature stays separated
"""

from __future__ import annotations

import datetime as dt
import math

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from healthcare_data_lakehouse_spark.queries.catalog import load_all

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def qs():
    return load_all()


def _write_orders(path, rows):
    """rows: list of (orderkey, custkey, totalprice, orderdate, priority)."""
    pq.write_table(
        pa.table({
            "o_orderkey": pa.array([r[0] for r in rows], pa.int64()),
            "o_custkey": pa.array([r[1] for r in rows], pa.int64()),
            "o_orderstatus": pa.array(["F"] * len(rows)),
            "o_totalprice": pa.array([r[2] for r in rows], pa.float64()),
            "o_orderdate": pa.array(
                [dt.datetime.combine(r[3], dt.time()) for r in rows],
                pa.timestamp("us"),
            ),
            "o_orderpriority": pa.array([r[4] for r in rows]),
        }),
        str(path / "orders.parquet"),
    )


def _write_events(path, rows):
    """rows: list of (event_id, ts, user_id, event_type, value)."""
    pq.write_table(
        pa.table({
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
            "user_id": pa.array([r[2] for r in rows], pa.int64()),
            "event_type": pa.array([r[3] for r in rows]),
            "value": pa.array([r[4] for r in rows], pa.float64()),
            "props": pa.array(["{}"] * len(rows)),
        }),
        str(path / "events.parquet"),
    )


def _write_embeddings(path, vecs):
    """vecs: list of (vec_id, 64-dim list, label)."""
    pq.write_table(
        pa.table({
            "vec_id": pa.array([v[0] for v in vecs], pa.int64()),
            "embedding": pa.array(
                [v[1] for v in vecs], pa.list_(pa.float32())
            ),
            "label": pa.array([v[2] for v in vecs], pa.int32()),
        }),
        str(path / "embeddings.parquet"),
    )


# --------------------------------------------------------- theta forecast
def test_theta_forecast_shape_and_linear_trend(spark, qs):
    rows = qs["forecast_theta_monthly_revenue"].fn(spark, SF_DIR).collect()
    fut = [r for r in rows if r.is_forecast]
    ins = [r for r in rows if not r.is_forecast]
    assert len(fut) == 6
    assert len(ins) >= 12
    # future rows carry no observation and no SES state
    assert all(r.rev is None and r.ses_level is None for r in fut)
    # first in-sample month has no one-step-ahead forecast
    first = min(ins, key=lambda r: r.month)
    assert first.fitted is None
    # theta-0 line is linear: consecutive trend diffs equal the slope
    tl = [r.trend_line for r in sorted(rows, key=lambda r: r.month)]
    diffs = [round(b - a, 3) for a, b in zip(tl, tl[1:])]
    assert len(set(diffs)) == 1, diffs
    # future months continue monthly from the last observed month
    last_obs = max(r.month for r in ins)
    months = sorted(r.month for r in fut)
    assert months[0] == (
        last_obs.replace(year=last_obs.year + (last_obs.month == 12),
                         month=last_obs.month % 12 + 1)
    )


# ------------------------------------------------------- Croston by hand
def test_croston_hand_computed_states(spark, tmp_path, qs):
    # custkey 19 -> 19 % 19 == 0 cohort; weeks are Mondays.
    wk1, wk4 = dt.date(2020, 1, 6), dt.date(2020, 1, 27)
    rows = [
        (1, 19, 10.0, wk1, "1-URGENT"),
        (2, 19, 10.0, wk1, "1-URGENT"),
        (3, 19, 10.0, wk4, "1-URGENT"),
        (4, 19, 10.0, wk4, "1-URGENT"),
        (5, 19, 10.0, wk4, "1-URGENT"),
        # noise outside the filter: wrong priority / wrong cohort
        (6, 19, 10.0, dt.date(2020, 1, 13), "5-LOW"),
        (7, 20, 10.0, dt.date(2020, 1, 13), "1-URGENT"),
    ]
    _write_orders(tmp_path, rows)
    got = {
        r.week: r
        for r in qs["forecast_croston_demand"].fn(
            spark, str(tmp_path)
        ).collect()
    }
    assert sorted(got) == [wk1, dt.date(2020, 1, 13),
                           dt.date(2020, 1, 20), wk4]
    # wk1: first demand d=2 -> z=2, p=1, f=2
    assert (got[wk1].demand, got[wk1].z_size, got[wk1].p_interval,
            got[wk1].croston_forecast) == (2, 2.0, 1.0, 2.0)
    # zero weeks carry state
    z2 = got[dt.date(2020, 1, 13)]
    assert (z2.demand, z2.z_size, z2.p_interval, z2.croston_forecast) == (
        0, 2.0, 1.0, 2.0)
    # wk4: d=3 after interval q'=3: z=.5*3+.5*2=2.5, p=.5*3+.5*1=2, f=1.25
    assert (got[wk4].demand, got[wk4].z_size, got[wk4].p_interval,
            got[wk4].croston_forecast) == (3, 2.5, 2.0, 1.25)


# ------------------------------------------------------- Pettitt by hand
def test_pettitt_hand_computed_step(spark, tmp_path, qs):
    days = [dt.date(2021, 3, d) for d in range(1, 7)]
    revs = [1.0, 1.0, 1.0, 10.0, 10.0, 10.0]
    _write_orders(
        tmp_path,
        [(i, 1, rev, day, "1-URGENT")
         for i, (day, rev) in enumerate(zip(days, revs))],
    )
    r = qs["stats_pettitt_changepoint"].fn(spark, str(tmp_path)).collect()[0]
    # midranks: 2,2,2,5,5,5 -> U = (-3,-6,-9,-6,-3); K = 9 at day 3
    assert r.n_days == 6
    assert r.k_stat == 9.0
    assert r.changepoint_day == dt.date(2021, 3, 3)
    assert (r.mean_before, r.mean_after) == (1.0, 10.0)
    expect_p = round(2.0 * math.exp(-6.0 * 81 / (216.0 + 36.0)), 6)
    assert abs(r.p_value - expect_p) < 1e-9


# --------------------------------------------------------- SPRT stopping
def test_sprt_planted_cohorts_stop_at_wald_times(spark, tmp_path, qs):
    t0 = dt.datetime(2022, 1, 1)
    rows = []
    eid = 0
    # user 1: all purchases -> LLR = k*ln2 >= ln19 at k = 5
    for k in range(8):
        rows.append((eid, t0 + dt.timedelta(minutes=eid), 1, "purchase", 1.0))
        eid += 1
    # user 2: never purchases -> LLR = -k*0.19416 <= -ln19 at k = 16
    for k in range(20):
        rows.append((eid, t0 + dt.timedelta(minutes=eid), 2, "click", 1.0))
        eid += 1
    # user 3: 3 clicks -> never crosses either boundary
    for k in range(3):
        rows.append((eid, t0 + dt.timedelta(minutes=eid), 3, "click", 1.0))
        eid += 1
    _write_events(tmp_path, rows)
    got = {
        r.decision: r
        for r in qs["stats_sprt_purchase_rate"].fn(
            spark, str(tmp_path)
        ).collect()
    }
    assert set(got) == {"accept_h0", "accept_h1", "undecided"}
    assert got["accept_h1"].n_users == 1
    assert got["accept_h1"].avg_n_events_to_decision == 5.0
    assert got["accept_h0"].n_users == 1
    assert got["accept_h0"].avg_n_events_to_decision == 16.0
    assert got["undecided"].n_users == 1
    assert got["undecided"].avg_n_events_to_decision == 3.0
    assert got["accept_h1"].avg_llr_at_decision > 0
    assert got["accept_h0"].avg_llr_at_decision < 0


# ----------------------------------------------- theta A-not-B exactness
def test_theta_anotb_exact_below_k(spark, tmp_path, qs):
    t0 = dt.datetime(2022, 1, 1)
    rows = []
    eid = 0
    for u in range(1, 31):  # clicks: users 1..30
        rows.append((eid, t0 + dt.timedelta(minutes=eid), u, "click", 1.0))
        eid += 1
    for u in range(20, 41):  # purchases: users 20..40
        rows.append((eid, t0 + dt.timedelta(minutes=eid), u, "purchase", 1.0))
        eid += 1
    _write_events(tmp_path, rows)
    r = qs["sketch_theta_anotb_estimate"].fn(spark, str(tmp_path)).collect()[0]
    # both sets below k=64 -> theta = 1 and the sketch difference is exact
    assert r.theta == 1.0
    assert r.exact_anotb == 19
    assert r.n_anotb == 19
    assert r.est_anotb == 19.0
    assert r.rel_error == 0.0


# ------------------------------------------------- mutual kNN graph shape
def test_knn_graph_planted_cliques(spark, tmp_path, qs):
    def unit(axis, sign=1.0):
        v = [0.0] * 64
        v[axis] = sign
        return v

    vecs = []
    vid = 0
    for _ in range(4):  # clique A: four identical vectors
        vecs.append((vid, unit(0), 0))
        vid += 1
    for _ in range(4):  # clique B: four identical vectors
        vecs.append((vid, unit(1), 1))
        vid += 1
    vecs.append((vid, unit(0, -1.0), 2))  # isolate: anti-aligned with A
    _write_embeddings(tmp_path, vecs)
    hist = {
        r.mutual_degree: r.n_nodes
        for r in qs["similarity_knn_graph_mutual"].fn(
            spark, str(tmp_path)
        ).collect()
    }
    # each clique member's top-3 = its three twins (cosine 1.0 beats any
    # cross-cluster candidate), all reciprocated; the isolate is nobody's
    # top-3 so it keeps no mutual edge
    assert hist == {0: 1, 3: 8}


# ------------------------------------------- scene cuts: planted recovery
def test_scene_cuts_recover_planted_segmentation(spark, qs):
    rows = qs["multimodal_scene_cut_detect"].fn(spark, SF_DIR).collect()
    assert rows
    meta = pq.read_table(f"{SF_DIR}/documents.parquet").to_pylist()
    expect = {
        d["doc_id"]: -(-(d["n_chars"] % 96 + 8) // (d["doc_id"] % 5 + 2))
        for d in meta
    }
    assert len(rows) == len(expect)
    for r in rows:
        assert r.n_scenes_true == expect[r.asset_id]
        assert r.n_scenes_detected == expect[r.asset_id]
        assert bool(r.detect_ok) is True


# ------------------------------------------------- EM m/u: invariants
def test_er_em_converges_and_separates(spark, qs):
    rows = {r.feature: r for r in
            qs["er_em_mu_estimation"].fn(spark, SF_DIR).collect()}
    assert set(rows) == {"lang", "source", "len_band", "last_token"}
    for r in rows.values():
        assert 0.0 <= r.m_em <= 1.0
        assert 0.0 <= r.u_em <= 1.0
        assert 0.0 < r.lambda_em < 1.0
        assert r.n_pairs > 0
    # the planted-dup feature stays separating under unsupervised EM
    lb = rows["len_band"]
    assert lb.m_em > lb.u_em
    assert lb.agreement_weight is not None and lb.agreement_weight > 0
    # determinism: a second run reproduces the same estimates
    again = {r.feature: r for r in
             qs["er_em_mu_estimation"].fn(spark, SF_DIR).collect()}
    for k in rows:
        assert rows[k] == again[k]


# --------------------------------------------- Mann-Kendall by hand
def test_mann_kendall_monotone_series(spark, tmp_path, qs):
    days = [dt.date(2021, 5, d) for d in range(1, 6)]
    _write_orders(
        tmp_path,
        [(i, 1, 100.0 * (i + 1), day, "1-URGENT")
         for i, day in enumerate(days)],
    )
    r = qs["stats_mann_kendall_trend"].fn(spark, str(tmp_path)).collect()[0]
    # strictly increasing, no ties: S = C(5,2) = 10, Var = 300/18
    assert r.n_days == 5
    assert r.s_stat == 10
    assert abs(r.var_s - round(300 / 18, 4)) < 1e-9
    assert abs(r.z_score - round(9 / math.sqrt(300 / 18), 4)) < 1e-9
    assert r.trend == "increasing"
    assert bool(r.significant_05) is True


# ------------------------------------------ Granger planted causality
def test_granger_detects_planted_lag(spark, tmp_path, qs):
    c = [3, 1, 4, 1, 5, 9, 2, 6]
    p = [2] + c[:-1]
    p[-1] += 1  # one deviation so the unrestricted fit is not singular
    t0 = dt.datetime(2022, 3, 1)
    rows, eid = [], 0
    for day, (nc, np_) in enumerate(zip(c, p)):
        base = t0 + dt.timedelta(days=day)
        for _ in range(nc):
            rows.append((eid, base + dt.timedelta(minutes=eid % 60), 1,
                         "click", 1.0))
            eid += 1
        for _ in range(np_):
            rows.append((eid, base + dt.timedelta(minutes=eid % 60), 2,
                         "purchase", 1.0))
            eid += 1
    _write_events(tmp_path, rows)
    r = qs["stats_granger_causality_daily"].fn(
        spark, str(tmp_path)
    ).collect()[0]
    assert r.n_obs == 7
    # yesterday's clicks almost perfectly predict today's purchases
    assert abs(r.coef_lag_clicks - 1.0) < 0.25
    assert r.rss_unrestricted < r.rss_restricted
    assert r.f_stat > 3.8415
    assert bool(r.granger_significant_05) is True


# --------------------------------------- conformal: exact-fit fixture
def test_conformal_perfect_linear_coverage(spark, tmp_path, qs):
    n = 60
    _write_orders(
        tmp_path,
        [(k, 1, 2.0 * (k % 7 + 1), dt.date(2020, 6, 1), "1-URGENT")
         for k in range(n)],
    )
    pq.write_table(
        pa.table({
            "l_orderkey": pa.array(list(range(n)), pa.int64()),
            "l_quantity": pa.array([float(k % 7 + 1) for k in range(n)],
                                   pa.float64()),
        }),
        str(tmp_path / "lineitem.parquet"),
    )
    r = qs["stats_conformal_interval_coverage"].fn(
        spark, str(tmp_path)
    ).collect()[0]
    # y = 2q dollars = 200q cents exactly: zero residuals everywhere
    assert r.n_train + r.n_cal + r.n_test == n
    assert r.slope_cents_per_unit == 200.0
    assert r.intercept_cents == 0.0
    assert r.q_hat_cents == 0.0
    assert r.coverage == 1.0


# --------------------------------------------- Hurst: shape invariants
def test_hurst_shape_and_range(spark, qs):
    rows = qs["stats_hurst_rescaled_range"].fn(spark, SF_DIR).collect()
    assert [r.window_size for r in rows] == [8, 16, 32, 64]
    hs = {r.hurst_exponent for r in rows}
    assert len(hs) == 1  # fit is global, repeated per row
    h = hs.pop()
    assert 0.0 < h < 1.5
    for r in rows:
        assert r.avg_rs > 0
        assert r.n_blocks >= 1
    # more blocks at smaller windows
    nb = [r.n_blocks for r in rows]
    assert nb == sorted(nb, reverse=True)


# ------------------------------------------- burst DP: planted episode
def test_burst_dp_recovers_planted_burst(spark, tmp_path, qs):
    t0 = dt.datetime(2022, 7, 1)
    rows, eid = [], 0
    for h in range(48):
        n = 10 if 20 <= h <= 25 else 2
        for k in range(n):
            rows.append((eid, t0 + dt.timedelta(hours=h, minutes=k), 1,
                         "error", 1.0))
            eid += 1
    _write_events(tmp_path, rows)
    got = qs["events_burst_intervals_dp"].fn(spark, str(tmp_path)).collect()
    # r0 = median = 2, r1 = p90 = 10, lam = 4: switching twice (cost 8)
    # beats six base-state hours at |10-2| = 48, so the DP recovers the
    # planted 6-hour episode exactly
    assert len(got) == 1
    b = got[0]
    assert b.burst_start == t0 + dt.timedelta(hours=20)
    assert b.burst_end == t0 + dt.timedelta(hours=25)
    assert b.n_hours == 6
    assert b.total_events == 60
    assert b.peak_hourly == 10


# ------------- cache residency: each catalog invocation starts from empty
def test_catalog_invocation_holds_only_its_own_cache(spark, qs):
    """Back-to-back catalog queries in one session hold exactly what each
    holds alone, and a repeat dfcap run still reads its shingle table from
    the cache (unpersist evicts by canonical plan, so releasing a same-plan
    predecessor after the new persist would drop the new entry too)."""
    cm = spark._jsparkSession.sharedState().cacheManager()
    names = [
        "stats_kendall_tau_daily",
        "dedup_candidate_selectivity_compare",
        "dedup_dfcap_jaccard_pairs",
    ]
    alone = {}
    for n in names:
        spark.catalog.clearCache()
        qs[n].fn(spark, SF_DIR).count()
        alone[n] = cm.cachedData().size()
    for n in names + names[-1:]:
        df = qs[n].fn(spark, SF_DIR)
        df.count()
        assert cm.cachedData().size() == alone[n], n
    assert "InMemoryTableScan" in (
        df._jdf.queryExecution().executedPlan().toString()
    )


# ------------------------------------------- newsvendor by hand
def test_newsvendor_hand_quantile(spark, tmp_path, qs):
    days = [dt.date(2021, 8, d) for d in range(1, 11)]
    rows = []
    oid = 0
    for i, day in enumerate(days):
        for _ in range(i + 1):  # demands 1..10
            rows.append((oid, 1, 10.0, day, "1-URGENT"))
            oid += 1
    _write_orders(tmp_path, rows)
    r = qs["orders_newsvendor_quantile"].fn(spark, str(tmp_path)).collect()
    assert len(r) == 1
    row = r[0]
    # ceil(0.9*10) = 9th smallest of 1..10 -> q* = 9
    assert (row.n_days, row.q_star) == (10, 9)
    assert row.exp_daily_underage == 0.1   # only demand 10 exceeds
    assert row.exp_daily_overage == 3.6    # sum(9-d, d=1..8)/10
    assert row.exp_daily_cost == 4.5       # (9*1 + 1*36)/10


# ------------------------------------- STL anomaly: planted spike day
def test_stl_anomaly_flags_planted_spike(spark, tmp_path, qs):
    days = [dt.date(2021, 1, 1) + dt.timedelta(days=i) for i in range(56)]
    rows = []
    for i, day in enumerate(days):
        rev = 100.0 + (i % 7) * 10 + (i % 5)
        if i == 30:
            rev = 5000.0
        rows.append((i, 1, rev, day, "1-URGENT"))
    _write_orders(tmp_path, rows)
    got = qs["quality_anomaly_stl_residual"].fn(spark, str(tmp_path)).collect()
    spike = dt.date(2021, 1, 31)
    flagged = {r.day: r for r in got}
    assert spike in flagged
    assert abs(flagged[spike].robust_z) == max(
        abs(r.robust_z) for r in got
    )


# ------------------------------- participation ratio: planted ranks
def test_participation_ratio_rank1_and_rank4(spark, tmp_path, qs):
    def unit(axis, scale):
        v = [0.0] * 64
        v[axis] = scale
        return v

    # rank-1 cloud: all variance on one axis -> PR = 1
    _write_embeddings(
        tmp_path, [(i, unit(0, float(i + 1)), 0) for i in range(20)]
    )
    r1 = qs["embedding_participation_ratio"].fn(
        spark, str(tmp_path)
    ).collect()[0]
    assert r1.participation_ratio == 1.0
    # balanced 4-axis cloud (+c/-c on each of 4 axes): diagonal
    # covariance with 4 equal entries -> PR = 4
    vecs = []
    vid = 0
    for axis in range(4):
        for sign in (1.0, -1.0):
            vecs.append((vid, unit(axis, sign * 3.0), axis))
            vid += 1
    sub = tmp_path / "four"
    sub.mkdir()
    _write_embeddings(sub, vecs)
    r4 = qs["embedding_participation_ratio"].fn(spark, str(sub)).collect()[0]
    assert r4.participation_ratio == 4.0


# ------------------------------- absorbing chain: exact step counts
def test_absorbing_markov_hand_chain(spark, tmp_path, qs):
    t0 = dt.datetime(2022, 9, 1)
    rows, eid = [], 0
    # user 1: click -> purchase three times: t(click) = 1
    for _ in range(3):
        for etype in ("click", "purchase"):
            rows.append((eid, t0 + dt.timedelta(minutes=eid), 1, etype, 1.0))
            eid += 1
    # user 2: view -> click -> purchase: t(view) = 2
    for etype in ("view", "click", "purchase"):
        rows.append((eid, t0 + dt.timedelta(minutes=eid), 2, etype, 1.0))
        eid += 1
    _write_events(tmp_path, rows)
    got = {
        r.state: r.expected_steps_to_purchase
        for r in qs["events_absorbing_markov_steps"].fn(
            spark, str(tmp_path)
        ).collect()
    }
    assert got == {"click": 1.0, "view": 2.0}


# --------------------------------------- SES alpha grid: zero-error series
def test_ses_alpha_grid_constant_series(spark, tmp_path, qs):
    months = [dt.date(2021, m, 5) for m in range(1, 7)]
    _write_orders(
        tmp_path,
        [(i, 1, 100.0, d, "1-URGENT") for i, d in enumerate(months)],
    )
    rows = qs["forecast_ses_alpha_grid"].fn(spark, str(tmp_path)).collect()
    assert [r.alpha for r in rows] == [0.1, 0.3, 0.5, 0.7, 0.9]
    # constant series: SES is exact at every alpha -> all tie at rmse 0
    assert all(r.rmse == 0.0 for r in rows)
    assert all(bool(r.is_best) for r in rows)


def test_ses_alpha_grid_unique_best_on_fixture(spark, qs):
    rows = qs["forecast_ses_alpha_grid"].fn(spark, SF_DIR).collect()
    assert len(rows) == 5
    assert all(r.rmse > 0 for r in rows)
    best = [r for r in rows if r.is_best]
    assert len(best) >= 1
    assert min(r.rmse for r in rows) == best[0].rmse


# ------------------------------------------------- LPT packing by hand
def test_lpt_shard_balance_hand_packing(spark, tmp_path, qs):
    sizes = [10, 7, 5, 4, 3, 3]
    pq.write_table(
        pa.table({
            "doc_id": pa.array(range(len(sizes)), pa.int64()),
            "text": pa.array(["x"] * len(sizes)),
            "lang": pa.array([f"l{i}" for i in range(len(sizes))]),
            "source": pa.array(["s"] * len(sizes)),
            "n_chars": pa.array(sizes, pa.int64()),
        }),
        str(tmp_path / "documents.parquet"),
    )
    rows = {
        r.bin: r
        for r in qs["pipeline_lpt_shard_balance"].fn(
            spark, str(tmp_path)
        ).collect()
    }
    # LPT trace: 10->b1, 7->b2, 5->b3, 4->b4, 3->b4(4), 3->b2? no: loads
    # after four: [10,7,5,4]; 3 -> b4 (min 4) -> 7; 3 -> b3? min is now
    # b2=7,b3=5,b4=7 -> b3 -> 8. Final [10,7,8,7].
    assert (rows[1].n_groups, rows[1].bin_chars) == (1, 10)
    assert (rows[2].n_groups, rows[2].bin_chars) == (1, 7)
    assert (rows[3].n_groups, rows[3].bin_chars) == (2, 8)
    assert (rows[4].n_groups, rows[4].bin_chars) == (2, 7)
    assert all(r.makespan_ratio == 1.25 for r in rows.values())


# --------------------------------------- binary segmentation by hand
def test_binseg_recovers_planted_staircase(spark, tmp_path, qs):
    days = [dt.date(2021, 10, d) for d in range(1, 9)]
    revs = [1.0, 1.0, 5.0, 5.0, 9.0, 9.0, 13.0, 13.0]
    _write_orders(
        tmp_path,
        [(i, 1, rev, d, "1-URGENT")
         for i, (d, rev) in enumerate(zip(days, revs))],
    )
    rows = qs["stats_binseg_changepoints"].fn(spark, str(tmp_path)).collect()
    got = [(r.start_day.day, r.end_day.day, r.n_days, r.mean_rev)
           for r in rows]
    assert got == [(1, 2, 2, 1.0), (3, 4, 2, 5.0),
                   (5, 6, 2, 9.0), (7, 8, 2, 13.0)]
