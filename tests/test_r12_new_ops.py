"""Round-12 additions: the automatic skew-lever planner
(auto_self_pair_join, VERDICT r11 ask #5), the driver-evidenced
arbitrary-Python transform hatch query (ask #7), Fellegi-Sunter
record-linkage weights, TextRank lexicon scoring, the df-capped
Jaccard/containment candidate levers (stress-fixture fix), and
reciprocal-rank-fusion hybrid retrieval."""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from healthcare_data_lakehouse_spark.queries.catalog import load_all


@pytest.fixture(scope="module")
def qs():
    return load_all()


# --------------------------------------------- auto_self_pair_join planner
def test_auto_picks_salted_on_hot_key_and_unsalted_on_uniform(spark):
    from healthcare_data_lakehouse_spark.functions.skew import (
        auto_self_pair_join,
    )

    # hot key: one key holds half the rows -> max/mean far above 6
    hot = [(0 if i < 30 else i, i) for i in range(60)]
    df = spark.createDataFrame(hot, "k int, id int")
    pairs, dec = auto_self_pair_join(df, ["k"], "id", skew_bound=6.0)
    assert dec["chosen"] == "salted"
    assert dec["ratio"] > 6.0

    # uniform keys -> plain path
    uni = [(i % 10, i) for i in range(60)]
    df2 = spark.createDataFrame(uni, "k int, id int")
    _, dec2 = auto_self_pair_join(df2, ["k"], "id", skew_bound=6.0)
    assert dec2["chosen"] == "unsalted"
    assert dec2["ratio"] == pytest.approx(1.0)


zipf_shape_st = st.tuples(
    st.floats(min_value=0.5, max_value=0.95),  # hot-key share
    st.integers(min_value=12, max_value=50),   # rows
    st.integers(min_value=2, max_value=8),     # distinct cold keys
)


@given(shape=zipf_shape_st)
@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
def test_auto_self_pair_join_parity_on_zipf_keys(spark, shape):
    """Whatever branch the planner picks under a 50-95% hot key, the
    pair multiset must equal the plain self-join — the decision is a
    physical-plan choice, never a semantic one."""
    from pyspark.sql import functions as F

    from healthcare_data_lakehouse_spark.functions.skew import (
        auto_self_pair_join,
    )

    hot_share, n, n_cold = shape
    n_hot = max(1, int(n * hot_share))
    rows = [(0 if i < n_hot else 1 + i % n_cold, i) for i in range(n)]
    df = spark.createDataFrame(rows, "k int, id int")
    expected = {
        (r.k, r.id_a, r.id_b)
        for r in df.alias("a").join(df.alias("b"), "k")
        .select("k", F.col("a.id").alias("id_a"),
                F.col("b.id").alias("id_b"))
        .filter(F.col("id_a") < F.col("id_b")).collect()
    }
    pairs, dec = auto_self_pair_join(df, keys=["k"], id_col="id",
                                     n_salts=4, skew_bound=6.0)
    got = {(r.k, r.id_a, r.id_b) for r in pairs.collect()}
    assert got == expected
    # a >=50% hot key among >=2 cold keys has max >> mean once n is big
    # enough; whichever way the ratio lands, it must be what was measured
    assert dec["chosen"] == (
        "salted" if dec["ratio"] > 6.0 else "unsalted"
    )


def test_auto_skew_blocking_query_covers_both_branches(spark, sf_dir, qs):
    rows = qs["dedup_auto_skew_blocking"].fn(spark, sf_dir).collect()
    assert [r.skew_bound for r in rows] == [1.5, 6.0]
    by_bound = {r.skew_bound: r for r in rows}
    # fixture lang skew ~2.2x: bound 1.5 forces salted, 6.0 stays plain
    assert by_bound[1.5].chosen == "salted"
    assert by_bound[6.0].chosen == "unsalted"
    # both branches must emit identical pair aggregates
    a, b = rows
    assert (a.n_pairs, a.pair_checksum) == (b.n_pairs, b.pair_checksum)
    assert a.n_pairs > 0


# ------------------------------------------- python transform hatch query
def test_python_hatch_plan_shows_single_mapinpandas(spark, sf_dir, qs):
    df = qs["transform_python_hatch_features"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInPandas") == 1


def test_python_hatch_features_values(spark, sf_dir, qs):
    import duckdb

    spec = qs["transform_python_hatch_features"]
    s_rows = {tuple(r) for r in spec.fn(spark, sf_dir).collect()}
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"'{sf_dir}/documents.parquet'"
    )
    d_rows = {tuple(r) for r in con.sql(spec.oracle).fetchall()}
    assert s_rows == d_rows
    assert len(s_rows) == 5  # one row per language


# ----------------------------------------- Fellegi-Sunter linkage weights
def test_fellegi_sunter_weights_shape_and_signal(spark, sf_dir, qs):
    rows = {r.feature: r for r in
            qs["er_fellegi_sunter_weights"].fn(spark, sf_dir).collect()}
    assert set(rows) == {"lang", "source", "len_band", "last_token"}
    for r in rows.values():
        assert r.n_match_pairs > 0 and r.n_nonmatch_pairs > 0
        assert 0.0 <= r.m_prob <= 1.0 and 0.0 <= r.u_prob <= 1.0
    lb = rows["len_band"]
    # planted dups differ by at most the 4-char ' dup' marker => m = 1.0,
    # and the strong positive agreement weight separates it from the
    # chance-level metadata features
    assert lb.m_prob == 1.0
    assert lb.agreement_weight > 3.0
    assert lb.disagreement_weight is None  # NULLIF(1 - m, 0) guard, live
    # generator draws lang/source independently of the dup relation, so
    # those weights sit at chance; last_token rides the exact-copy share
    # (small positive), but len_band must dominate everything
    for name in ("lang", "source"):
        assert abs(rows[name].agreement_weight) < 1.0  # chance-level
    assert lb.agreement_weight > rows["last_token"].agreement_weight


# --------------------------------------------------- TextRank word scores
def test_textrank_scores_sum_and_bounds(spark, sf_dir, qs):
    rows = qs["text_textrank_scores"].fn(spark, sf_dir).collect()
    assert len(rows) >= 30  # closed vocab + the ' dup' marker token
    for r in rows:
        assert r.degree > 0
        assert r.textrank > 0.15  # damping floor
    # PageRank mass conservation: sum of scores ~ node count (each
    # iteration redistributes sum(frac * s) = sum(s) exactly, up to
    # dangling-free graph structure and rounding)
    total = sum(r.textrank for r in rows)
    assert abs(total - len(rows)) < 0.05 * len(rows)
    # high-degree words should outrank low-degree ones on average
    by_deg = sorted(rows, key=lambda r: r.degree)
    lo = sum(r.textrank for r in by_deg[:5]) / 5
    hi = sum(r.textrank for r in by_deg[-5:]) / 5
    assert hi > lo


# ------------------------------------- df-capped candidate generation
def test_dfcap_jaccard_matches_exhaustive_on_fixture(spark, sf_dir, qs):
    """On the driver fixture every >=0.8 pair shares rare shingles, so
    the capped plan must reproduce the exhaustive raw-join output
    exactly; on stop-shingle corpora only the capped plan SURVIVES
    (SCALE_BENCH_STRESS.json: 332s/OOM raw vs 26.7s capped)."""
    raw = {(r.id_a, r.id_b, r.jaccard) for r in
           qs["dedup_ngram_jaccard_pairs"].fn(spark, sf_dir).collect()}
    cap = {(r.id_a, r.id_b, r.jaccard) for r in
           qs["dedup_dfcap_jaccard_pairs"].fn(spark, sf_dir).collect()}
    assert cap == raw and len(cap) > 0


def test_dfcap_containment_matches_exhaustive_on_fixture(spark, sf_dir, qs):
    raw = {(r.id_a, r.id_b, r.containment) for r in
           qs["dedup_containment_pairs"].fn(spark, sf_dir).collect()}
    cap = {(r.id_a, r.id_b, r.containment) for r in
           qs["dedup_dfcap_containment_pairs"].fn(spark, sf_dir).collect()}
    assert cap == raw and len(cap) > 0


def test_dfcap_drops_hot_shingle_candidates(spark):
    """Synthetic stop-shingle corpus: every doc shares the boilerplate
    trigram 'the end here'; only the planted near-identical pair also
    shares rare content shingles. The capped plan must still find the
    real pair while generating candidates ONLY from sub-cap shingles."""
    from healthcare_data_lakehouse_spark.functions.dedup import (
        dfcap_jaccard_pairs,
    )

    rows = [(i, f"uniq{i}a uniq{i}b uniq{i}c uniq{i}d the end here")
            for i in range(30)]
    rows.append((100, rows[5][1]))  # exact copy of doc 5
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = dfcap_jaccard_pairs(df, threshold=0.8, max_df=5).collect()
    assert {(r.id_a, r.id_b) for r in got} == {(5, 100)}
    assert got[0].jaccard == 1.0


def test_dfcap_caps_df_below_the_posting_fold(spark):
    """A stop-shingle's postings never reach a collect_list buffer: the
    df is a window count over the shingle exchange, filtered below the
    fold, and the fold reuses that exchange."""
    from healthcare_data_lakehouse_spark.functions.dedup import (
        dfcap_jaccard_pairs,
    )

    rows = [(i, f"uniq{i}a uniq{i}b the end here") for i in range(30)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    plan = dfcap_jaccard_pairs(df, max_df=5)._jdf.queryExecution()
    plan = plan.executedPlan().toString()
    # the fold's subtree, down to the cached per-doc shingle arrays
    fold = plan[plan.index("functions=[collect_list("):]
    fold = fold[: fold.index("InMemoryTableScan")]
    cap = fold.find("Filter (df#")
    window = fold.find("Window [count(1) windowspecdefinition(shingle")
    assert 0 <= cap < window, fold
    assert fold.count("Exchange") == 1
    assert "Exchange hashpartitioning(shingle" in fold


# ------------------------------------------- RRF hybrid retrieval fusion
def test_rrf_hybrid_top10_properties(spark, sf_dir, qs):
    rows = qs["similarity_rrf_hybrid_top10"].fn(spark, sf_dir).collect()
    assert len(rows) == 10
    assert 0 not in {r.doc_id for r in rows}  # query doc excluded
    rrfs = [r.rrf for r in rows]
    assert rrfs == sorted(rrfs, reverse=True)
    for r in rows:
        assert r.lex_rank >= 1 and r.sem_rank >= 1
        expect = round(1.0 / (60 + r.lex_rank) + 1.0 / (60 + r.sem_rank), 6)
        assert abs(r.rrf - expect) < 1e-9
