"""Property-based tests (SURVEY.md §5.4): algebraic laws the engine's
transforms must satisfy on arbitrary inputs, not just fixtures."""

from __future__ import annotations

import pytest

try:
    from hypothesis import HealthCheck, example, given, settings
    from hypothesis import strategies as st
except ImportError:  # pragma: no cover
    pytest.skip("hypothesis not installed", allow_module_level=True)

from pyspark.sql import Row

from healthcare_data_lakehouse_spark import transforms as T

SENTINELS = ["", "NULL", "null", "N/A", "n/a", "NA", "None", "none"]

value_st = st.one_of(
    st.none(),
    st.sampled_from(SENTINELS),
    st.text(
        alphabet=st.characters(whitelist_categories=("L", "N", "Zs")),
        max_size=12,
    ),
)
rows_st = st.lists(
    st.tuples(st.integers(min_value=0, max_value=5), value_st),
    min_size=1,
    max_size=8,
)

_SETTINGS = settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)


def _key(t):
    return tuple((x is None, x or "") for x in t)


def _df(spark, rows):
    return spark.createDataFrame(
        [Row(id=str(i), v=v) for i, v in rows], "id string, v string"
    )


@given(rows=rows_st)
@_SETTINGS
def test_null_handling_is_idempotent(spark, rows):
    once = T.null_handling(_df(spark, rows)).collect()
    twice = T.null_handling(T.null_handling(_df(spark, rows))).collect()
    assert sorted(map(tuple, once), key=_key) == sorted(map(tuple, twice), key=_key)
    assert all(r.v not in SENTINELS for r in once)


@given(rows=rows_st)
@_SETTINGS
def test_deduplicate_is_idempotent_and_first_wins(spark, rows):
    df = T.with_ingest_order(_df(spark, rows))
    once = T.deduplicate(df, id_field="id")
    again = T.deduplicate(once, id_field="id")
    got_once = sorted(map(tuple, once.select("id", "v").collect()), key=_key)
    got_again = sorted(map(tuple, again.select("id", "v").collect()), key=_key)
    assert got_once == got_again
    # model: python dict keeping the FIRST value per id
    model: dict[str, str | None] = {}
    for i, v in rows:
        model.setdefault(str(i), v)
    assert got_once == sorted(model.items(), key=_key)


@given(rows=rows_st)
@_SETTINGS
def test_trim_strings_fixpoint(spark, rows):
    out = T.trim_strings(T.trim_strings(_df(spark, rows))).collect()
    one = T.trim_strings(_df(spark, rows)).collect()
    assert sorted(map(tuple, out), key=_key) == sorted(map(tuple, one), key=_key)
    assert all(r.v is None or r.v == r.v.strip() for r in one)


# ---------------------------------------------------------------- graphs
# Pinned falsifying shapes (hypothesis rotates examples each run because
# .hypothesis/ is gitignored — these keep the round-5 regression visible
# on every run): a deep chain defeats a 1-round star budget, a cycle
# exercises the symmetric-edge path.
CHAIN_30 = [(i, i + 1) for i in range(30)]
CYCLE_12 = [(i, (i + 1) % 12) for i in range(12)]

edges_st = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=30),
        st.integers(min_value=0, max_value=30),
    ),
    min_size=1,
    max_size=40,
)


def _union_find_components(edges):
    """Referee model: plain union-find, cluster id = component minimum."""
    parent: dict[int, int] = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        for n in (a, b):
            parent.setdefault(n, n)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


@given(edges=edges_st)
@example(edges=CHAIN_30)
@example(edges=CYCLE_12)
@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
def test_connected_components_both_algorithms_match_union_find(spark, edges):
    from healthcare_data_lakehouse_spark.functions.dedup import (
        connected_components,
        connected_components_star,
    )

    edges = [(a, b) for a, b in edges if a != b]
    if not edges:
        return
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    want = sorted(_union_find_components(edges).items())
    prop = sorted(
        (r.doc_id, r.cluster_id) for r in connected_components(df).collect()
    )
    # threshold=0 forces the distributed label-propagation path, so both
    # the driver union-find fast path (above, default threshold) and the
    # 100 TB loop stay covered by the same generator
    dist = sorted(
        (r.doc_id, r.cluster_id)
        for r in connected_components(df, small_graph_threshold=0).collect()
    )
    star = sorted(
        (r.doc_id, r.cluster_id)
        for r in connected_components_star(df).collect()
    )
    assert prop == want
    assert dist == want
    assert star == want


def test_connected_components_null_ids_same_on_both_paths(spark):
    """NULL-id pairs are dropped up front (ADVICE r9): the driver
    union-find fast path must not TypeError on `None < int`, and both
    paths must return the identical edge-set-derived labeling."""
    from healthcare_data_lakehouse_spark.functions.dedup import (
        connected_components,
    )

    rows = [(1, 2), (2, 3), (None, 4), (5, None), (None, None), (7, 8)]
    df = spark.createDataFrame(rows, "id_a long, id_b long")
    want = sorted(_union_find_components([(1, 2), (2, 3), (7, 8)]).items())
    fast = sorted(
        (r.doc_id, r.cluster_id) for r in connected_components(df).collect()
    )
    dist = sorted(
        (r.doc_id, r.cluster_id)
        for r in connected_components(df, small_graph_threshold=0).collect()
    )
    assert fast == want
    assert dist == want


@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=-1000, max_value=1000),
            st.integers(min_value=-9, max_value=9),
        ),
        min_size=1,
        max_size=60,
        unique_by=lambda t: t[0],
    ),
    n_parts=st.integers(min_value=1, max_value=9),
)
@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
def test_running_sum_over_matches_python_prefix_sum(spark, rows, n_parts):
    from healthcare_data_lakehouse_spark.functions.ordered import (
        running_sum_over,
    )

    df = spark.createDataFrame(rows, "k long, d long")
    got = sorted(
        (r.k, r.c)
        for r in running_sum_over(df, "k", "d", "c", n_parts=n_parts).collect()
    )
    acc, want = 0, []
    for k, d in sorted(rows):
        acc += d
        want.append((k, acc))
    assert got == want


@given(edges=edges_st)
@example(edges=CHAIN_30)
@example(edges=CYCLE_12)
@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
def test_star_components_unique_label_even_unconverged(spark, edges):
    """With max_iter too small to reach the fixpoint, the pointer-jumping
    resolution must still emit exactly ONE cluster_id per doc_id (the
    failure mode was a node surfacing as both child and root with
    conflicting labels)."""
    from healthcare_data_lakehouse_spark.functions.dedup import (
        connected_components_star,
    )

    edges = [(a, b) for a, b in edges if a != b]
    if not edges:
        return
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    import warnings as w

    with w.catch_warnings():
        w.simplefilter("ignore")
        out = connected_components_star(df, max_iter=1).collect()
    per_doc = {}
    for r in out:
        per_doc.setdefault(r.doc_id, set()).add(r.cluster_id)
    conflicted = {d: cs for d, cs in per_doc.items() if len(cs) > 1}
    assert not conflicted, f"conflicting labels: {conflicted}"


# ----------------------------------------------------- winnowing guarantee
# Schleimer et al. SIGMOD'03, Theorem: with k-gram length k and window w,
# any shared substring of at least w + k - 1 tokens produces at least one
# shared fingerprint. Exercised directly on the production selection logic
# (same k=4, w=4 as dedup_winnowing_fingerprints).
_winnow_word = st.text(alphabet="abcdefgh", min_size=1, max_size=3)


@given(
    shared=st.lists(_winnow_word, min_size=7, max_size=12),  # >= w+k-1 = 7
    pre_a=st.lists(_winnow_word, min_size=0, max_size=5),
    post_b=st.lists(_winnow_word, min_size=0, max_size=5),
)
@_SETTINGS
def test_winnowing_shared_run_guarantee(spark, shared, pre_a, post_b):
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window
    from healthcare_data_lakehouse_spark.functions import dedup as D

    k, w = 4, 4
    sep = "\x1f"
    docs = spark.createDataFrame(
        [
            (1, " ".join(pre_a + shared)),
            (2, " ".join(shared + post_b)),
        ],
        "doc_id long, text string",
    )
    base = docs.select(
        "doc_id", F.split(F.col("text"), " ").alias("tl")
    ).filter(F.size("tl") >= k)
    kg = base.select(
        "doc_id",
        F.explode(F.sequence(F.lit(1), F.size("tl") - k + 1)).alias("i"),
        "tl",
    ).select(
        "doc_id",
        "i",
        D.token_hash48(
            F.concat_ws(sep, F.slice(F.col("tl"), F.col("i"), k))
        ).alias("h"),
    )
    per_doc = Window.partitionBy("doc_id")
    win = (
        Window.partitionBy("doc_id")
        .orderBy("i")
        .rowsBetween(Window.currentRow, w - 1)
    )
    fps = (
        kg.withColumn("fp", F.min("h").over(win))
        .withColumn("m", F.count(F.lit(1)).over(per_doc))
        .filter(F.col("i") <= F.greatest(F.col("m") - w + 1, F.lit(1)))
        .select("doc_id", "fp")
        .distinct()
        .collect()
    )
    by_doc: dict = {}
    for r in fps:
        by_doc.setdefault(r.doc_id, set()).add(r.fp)
    assert by_doc[1] & by_doc[2], (
        f"shared {len(shared)}-token run produced no shared fingerprint"
    )


# ----------------------------- round-7 operators: sampling/allocation laws
import os
import tempfile

_ALLOC_SETTINGS = settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)


def _fixture_dir(spark, name, df):
    tmp = tempfile.mkdtemp(prefix="prop_fixture_")
    df.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(tmp, f"{name}.parquet")
    )
    return tmp


def _brute_waterfill(masses):
    """Reference UniMax: distribute B=2T under per-lang cap 4m."""
    total = sum(masses)
    budget = 2.0 * total
    items = sorted(
        ((4 * m, i) for i, m in enumerate(masses)), key=lambda x: x[0]
    )
    alloc = [0.0] * len(masses)
    remaining, k = budget, len(items)
    for cap, i in items:
        if cap * k <= remaining:
            alloc[i] = float(cap)
            remaining -= cap
        else:
            share = remaining / k
            alloc[i] = share
            remaining -= share
        k -= 1
    return alloc


@given(masses=st.lists(st.integers(min_value=1, max_value=40),
                       min_size=1, max_size=5))
@example(masses=[1, 1, 1])
@example(masses=[40, 1])
@_ALLOC_SETTINGS
def test_unimax_matches_bruteforce_waterfill(spark, masses):
    from pyspark.sql import Row as R

    from healthcare_data_lakehouse_spark.queries.llm_pipeline import (
        sample_unimax_language_budget,
    )

    docs = spark.createDataFrame(
        [
            R(doc_id=i, lang=f"l{i:02d}", source="s", text=" ".join(["w"] * m))
            for i, m in enumerate(masses)
        ]
    )
    sf = _fixture_dir(spark, "documents", docs)
    rows = {r.lang: r for r in sample_unimax_language_budget(spark, sf).collect()}
    expect = _brute_waterfill(masses)
    assert len(rows) == len(masses)
    for i, m in enumerate(masses):
        r = rows[f"l{i:02d}"]
        assert r.lang_tokens == m
        assert abs(r.alloc_tokens - expect[i]) < 1e-3, (masses, i)


@given(weights=st.lists(st.integers(min_value=1, max_value=1000),
                        min_size=1, max_size=12))
@example(weights=[1000, 1, 1, 1])
@_ALLOC_SETTINGS
def test_pps_systematic_draw_law(spark, weights):
    from pyspark.sql import Row as R

    from healthcare_data_lakehouse_spark.queries.llm_pipeline import (
        sample_pps_systematic_suppliers,
    )

    li = spark.createDataFrame(
        [
            R(l_suppkey=i + 1, l_extendedprice=float(w), l_discount=0.0)
            for i, w in enumerate(weights)
        ]
    )
    sf = _fixture_dir(spark, "lineitem", li)
    rows = sample_pps_systematic_suppliers(spark, sf).collect()
    assert sum(r.n_hits for r in rows) == 20, "systematic PPS lands exactly n"
    total = sum(weights)
    for r in rows:
        w = weights[r.s_suppkey - 1]
        # |hits - n*w/T| < 1: the defining property of systematic PPS
        assert abs(r.n_hits - 20 * w / total) < 1.0, (weights, r.s_suppkey)


@given(ids=st.sets(st.integers(min_value=0, max_value=10_000),
                   min_size=1, max_size=60))
@_ALLOC_SETTINGS
def test_rendezvous_disruption_law(spark, ids):
    from pyspark.sql import Row as R

    from healthcare_data_lakehouse_spark.queries.llm_pipeline import (
        pipeline_shard_assignment_rendezvous,
    )

    docs = spark.createDataFrame([R(doc_id=i) for i in sorted(ids)])
    sf = _fixture_dir(spark, "documents", docs)
    rows = {
        r.shard: r
        for r in pipeline_shard_assignment_rendezvous(spark, sf).collect()
    }
    n = len(ids)
    assert sum(r.n_before for r in rows.values()) == n
    assert sum(r.n_after for r in rows.values()) == n
    for i in range(8):
        r = rows[f"s{i}"]
        assert r.stayed == r.n_after <= r.n_before
    assert rows["s8"].n_after == rows["s8"].moved_total


def _brute_bm25(texts, panel, k1=1.2, b=0.75):
    """Reference BM25 over whitespace tokens; returns {(qid, doc): score}."""
    import math

    toks = [t.split(" ") for t in texts]
    n = len(toks)
    avgdl = sum(len(t) for t in toks) / n
    scores = {}
    for qid, terms in panel.items():
        for d, t in enumerate(toks):
            s = 0.0
            matched = 0
            for term in terms:
                tf = t.count(term)
                if tf == 0:
                    continue
                df = sum(1 for tt in toks if term in tt)
                idf = math.log(1 + (n - df + 0.5) / (df + 0.5))
                s += idf * (tf * (k1 + 1)) / (
                    tf + k1 * (1 - b + b * len(t) / avgdl)
                )
                matched += 1
            if matched:
                scores[(qid, d)] = s
    return scores


@given(
    docs=st.lists(
        st.lists(
            st.sampled_from(["hash", "join", "table", "scan", "agg", "x"]),
            min_size=1,
            max_size=12,
        ),
        min_size=2,
        max_size=8,
    )
)
@_ALLOC_SETTINGS
def test_bm25_matches_bruteforce(spark, docs):
    from pyspark.sql import Row as R

    from healthcare_data_lakehouse_spark.queries.llm_text import (
        _BM25_PANEL,
        text_bm25_topk,
    )

    frame = spark.createDataFrame(
        [
            R(doc_id=i, lang="en", source="s", text=" ".join(words))
            for i, words in enumerate(docs)
        ]
    )
    sf = _fixture_dir(spark, "documents", frame)
    rows = text_bm25_topk(spark, sf).collect()
    panel = {}
    for qid, term in _BM25_PANEL:
        panel.setdefault(qid, []).append(term)
    ref = _brute_bm25([" ".join(w) for w in docs], panel)
    for r in rows:
        key = (r.query_id, r.doc_id)
        assert key in ref, key
        # engine scores sum integer micro-units; reference is float
        assert abs(r.score - ref[key]) < 2e-5, (key, r.score, ref[key])
    # per query, the engine's rank-1 doc carries the max reference score
    by_q = {}
    for r in rows:
        if r.rank == 1:
            by_q[r.query_id] = r.doc_id
    for qid, best in by_q.items():
        top_ref = max(
            (s for (q, _), s in ref.items() if q == qid), default=0.0
        )
        assert abs(ref[(qid, best)] - top_ref) < 2e-5


@given(
    docs=st.lists(
        st.lists(
            st.sampled_from(list("abcdef")), min_size=50, max_size=80
        ),
        min_size=1,
        max_size=5,
    )
)
@_ALLOC_SETTINGS
def test_mattr_matches_bruteforce(spark, docs):
    from pyspark.sql import Row as R

    from healthcare_data_lakehouse_spark.queries.llm_text import (
        text_mattr_lexical_diversity,
    )

    frame = spark.createDataFrame(
        [
            R(doc_id=i, lang="xx", source="s", text=" ".join(words))
            for i, words in enumerate(docs)
        ]
    )
    sf = _fixture_dir(spark, "documents", frame)
    rows = text_mattr_lexical_diversity(spark, sf).collect()
    assert len(rows) == 1
    w = 50
    d_sum = sum(
        len(set(t[i:i + w]))
        for t in docs
        for i in range(len(t) - w + 1)
    )
    n_win = sum(len(t) - w + 1 for t in docs)
    assert rows[0].n_windows == n_win
    assert abs(rows[0].pooled_mattr - d_sum / (w * n_win)) < 1e-5


# --------------------------- bloom index portability + CDC laws


@given(
    values=st.lists(
        st.integers(min_value=-(10**9), max_value=10**9),
        min_size=1,
        max_size=12,
        unique=True,
    )
)
@_SETTINGS
def test_bloom_positions_portable_spark_vs_python(spark, values):
    """The md5 bit-position formula must agree between the Spark
    expression (index build side) and hashlib (probe side) for every
    value — the property read_bloom_pruned's correctness rests on."""
    import hashlib

    from pyspark.sql import functions as F

    from healthcare_data_lakehouse_spark.zones import ZoneStore

    m_bits, k = 65536, 3
    df = spark.createDataFrame([Row(v=v) for v in values], "v long")
    pos_cols = ZoneStore._bloom_positions_expr("v", k, m_bits)
    got = {
        (r.v, j): int(r[f"p{j}"])
        for r in df.select("v", *[c.alias(f"p{j}") for j, c in enumerate(pos_cols)]).collect()
        for j in range(k)
    }
    for v in values:
        for j in range(k):
            exp = int(hashlib.md5(f"{v}:{j}".encode()).hexdigest()[:12], 16) % m_bits
            assert got[(v, j)] == exp, (v, j)


@given(
    toks=st.lists(
        st.text(alphabet="abcdefgh", min_size=1, max_size=4),
        min_size=2,
        max_size=24,
    ),
    ins_at=st.integers(min_value=0, max_value=23),
)
@_SETTINGS
def test_cdc_chunking_locality_under_insertion(spark, toks, ins_at):
    """Content-defined chunking's defining law: inserting one token
    changes only the chunk containing the edit (and, through the broken
    boundary, at most the chunks up to the NEXT boundary) — every chunk
    strictly before the edit's enclosing chunk and strictly after the
    next boundary survives byte-identical. Verified on arbitrary token
    sequences by diffing the chunk multisets."""
    import hashlib
    from collections import Counter

    def chunks(tokens):
        out, cur = [], []
        for t in tokens:
            cur.append(t)
            if int(hashlib.md5(t.encode()).hexdigest()[0], 16) % 8 == 0:
                out.append(" ".join(cur))
                cur = []
        if cur:
            out.append(" ".join(cur))
        return out

    base = chunks(toks)
    pos = min(ins_at, len(toks))
    edited = chunks(toks[:pos] + ["zz"] + toks[pos:])
    removed = Counter(base) - Counter(edited)
    # bounded blast radius: the insertion can invalidate at most the
    # chunk containing the edit point and the chunk the tail merges
    # into when the edit lands exactly on a chunk seam — never more
    assert sum(removed.values()) <= 2
    # and the total token count is preserved plus one
    assert sum(len(c.split(" ")) for c in edited) == len(toks) + 1


# --------------------------- adversarial skew (VERDICT r10 ask #6)
# The salted join and LSH banding were previously exercised only on
# near-uniform TPC-H keys; these cases drive Zipf-style hot keys and
# >=50% duplicate densities and assert parity with the unsalted/exact
# paths — skew must change placement, never results.

skewed_keys_st = st.tuples(
    st.floats(min_value=0.5, max_value=0.95),  # hot-key share
    st.integers(min_value=10, max_value=50),   # fact rows
    st.integers(min_value=2, max_value=8),     # distinct cold keys
)


@given(shape=skewed_keys_st)
@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
def test_salted_join_parity_on_zipf_keys(spark, shape):
    """salted_join == plain join (as multisets) when one key holds
    50-95% of the fact side — the layout changes, the rows don't."""
    from collections import Counter

    from healthcare_data_lakehouse_spark.functions.skew import salted_join

    hot_share, n, n_cold = shape
    n_hot = max(1, int(n * hot_share))
    fact = [(0 if i < n_hot else 1 + i % n_cold, i) for i in range(n)]
    f = spark.createDataFrame(fact, "k int, fid int")
    d = spark.createDataFrame(
        [(k, f"dim{k}") for k in range(n_cold + 1)], "k int, attr string"
    )
    plain = Counter(
        (r.k, r.fid, r.attr) for r in f.join(d, "k").collect()
    )
    salted = Counter(
        (r.k, r.fid, r.attr)
        for r in salted_join(f, d, on="k", fact_unique_col="fid",
                             n_salts=4).collect()
    )
    assert salted == plain


@given(shape=skewed_keys_st)
@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
def test_salted_self_pairs_parity_on_zipf_keys(spark, shape):
    """salted_self_pair_join == unsalted self-join pair set under a
    50-95% hot key (the quadratic case salting exists for)."""
    from pyspark.sql import functions as F

    from healthcare_data_lakehouse_spark.functions.skew import (
        salted_self_pair_join,
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
    got = {
        (r.k, r.id_a, r.id_b)
        for r in salted_self_pair_join(df, keys=["k"], id_col="id",
                                       n_salts=4).collect()
    }
    assert got == expected


dup_corpus_st = st.tuples(
    st.floats(min_value=0.5, max_value=0.9),   # duplicate density
    st.integers(min_value=8, max_value=20),    # corpus size
    st.integers(min_value=0, max_value=3),     # base-text seed words
)


@given(shape=dup_corpus_st)
@settings(max_examples=5, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
def test_lsh_banding_under_high_dup_density(spark, shape):
    """LSH banding at >=50% duplicate density: every exact-duplicate
    pair (identical shingle sets -> identical signatures -> every band
    agrees) MUST surface, every returned pair's Jaccard must match a
    Python brute-force recomputation, and no pair below the threshold
    may appear — the banding join changes candidate generation cost,
    never verified results."""
    from healthcare_data_lakehouse_spark.functions import dedup as D

    density, n, seed = shape
    words = ["alpha", "beta", "gamma", "delta", "eps", "zeta"]
    base = " ".join(words[seed:] + words[:seed]) + " tail one two three"
    n_dup = max(2, int(n * density))
    texts = [base] * n_dup + [
        f"unique{i} " + " ".join(words[(i + j) % 6] for j in range(8))
        for i in range(n - n_dup)
    ]
    df = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    got = {
        (r.id_a, r.id_b): r.jaccard
        for r in D.lsh_candidate_pairs(df, threshold=0.5).collect()
    }

    def shingles(t, k=3):
        toks = t.split(" ")
        return {
            " ".join(toks[i:i + k]) for i in range(max(len(toks) - k + 1, 1))
        }

    sh = [shingles(t) for t in texts]
    exact_dup_pairs = {
        (a, b)
        for a in range(n)
        for b in range(a + 1, n)
        if sh[a] == sh[b]
    }
    assert len(exact_dup_pairs) >= n_dup * (n_dup - 1) // 2
    # recall floor: identical signatures agree on every band
    assert exact_dup_pairs <= set(got)
    # verification exactness + threshold soundness on everything returned
    for (a, b), j in got.items():
        inter = len(sh[a] & sh[b])
        truth = inter / len(sh[a] | sh[b])
        assert abs(truth - j) < 1e-6
        assert truth >= 0.5


# ------------------------------- deletion-vector store vs set model
_dv_args = (st.integers(min_value=0, max_value=4),
            st.integers(min_value=1, max_value=6))
dv_ops_st = st.lists(
    # half the ops are vector deletes and purges, the rest rewrite paths
    st.one_of(
        st.tuples(st.sampled_from(["delete", "purge"]), *_dv_args),
        st.tuples(st.sampled_from(["append", "full", "merge", "merge_into",
                                   "update", "cow_delete", "compact",
                                   "restore"]), *_dv_args),
    ),
    min_size=1,
    max_size=6,
)
# ops that replace every commit, so the version retires the vectors
DV_RETIRING = ("purge", "compact", "full", "merge", "merge_into")


@given(ops=dv_ops_st)
@example(ops=[("delete", 0, 3), ("append", 0, 1), ("delete", 1, 4),
              ("merge", 2, 3), ("restore", 1, 1), ("update", 1, 2),
              ("cow_delete", 0, 5), ("merge_into", 3, 2), ("purge", 0, 1),
              ("delete", 2, 5), ("compact", 0, 1)])
@example(ops=[("delete", 0, 3), ("purge", 0, 1), ("delete", 1, 2),
              ("delete", 0, 5), ("purge", 0, 1), ("full", 1, 2)])
@example(ops=[("delete", 0, 2), ("cow_delete", 0, 1), ("append", 0, 1),
              ("restore", 1, 1), ("compact", 0, 1)])
@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.too_slow,
                                 HealthCheck.function_scoped_fixture])
def test_dv_store_matches_set_model(spark, tmp_path_factory, ops):
    """Any interleaving of vector deletes, purges and the rewrite paths
    (APPEND of a deleted key, FULL and MERGE writes, merge_into,
    update_set, copy-on-write delete_where, compact, restore_version)
    must leave the read equal to a dict model of the table, every
    retained version must read as the model stood at that version, and
    every op that replaces all commits must clear the vector state."""
    from healthcare_data_lakehouse_spark.zones import DataZone, LoadType
    from healthcare_data_lakehouse_spark.zones_dv import DVZoneStore

    root = tmp_path_factory.mktemp("dvprop")
    store = DVZoneStore(spark, str(root))
    z, path = DataZone.SILVER, store.dataset_path(DataZone.SILVER, "t")
    ids = list(range(18))
    store.write(z, "t", spark.createDataFrame([(i, i) for i in ids],
                                              "id long, v long"),
                LoadType.FULL)
    model = {i: i for i in ids}
    snapshots = {1: dict(model)}

    def version():
        return store._read_manifest(path)["version"]

    def rows(df):
        return sorted((r.id, r.v) for r in df.collect())

    def frame(src):
        return spark.createDataFrame(sorted(src.items()), "id long, v long")

    for op, r, m in ops:
        before = version()
        tag = 1000 * (before + 1)
        pred = f"id % {m} = {r % m}"
        hits = {i for i in model if i % m == r % m}
        if op == "delete":
            assert store.delete_where_dv(z, "t", pred) == len(hits)
            model = {i: v for i, v in model.items() if i not in hits}
        elif op == "purge":
            store.purge_dv(z, "t")
        elif op == "compact":
            store.compact(z, "t")
        elif op == "append":
            dead = (sorted(set(ids) - set(model))
                    or sorted(set(range(200, 212)) - set(model)))
            src = {dead[r % len(dead)]: tag}
            assert store.write(z, "t", frame(src), LoadType.APPEND) == 1
            model.update(src)
        elif op == "full":
            model = {i: tag + i for i in range(r % m, 18, m)}
            store.write(z, "t", frame(model), LoadType.FULL)
        elif op in ("merge", "merge_into"):
            src = {r: tag, (5 * r + m) % 18: tag + 1, 100 + r: tag + 2}
            if op == "merge":
                store.write(z, "t", frame(src), LoadType.MERGE)
            else:
                counts = store.merge_into(z, "t", frame(src),
                                          matched_update={"v": "src_v"})
                matched = len(set(src) & set(model))
                assert (counts["updated"], counts["inserted"]) == (
                    matched, len(src) - matched)
            model.update(src)
        elif op == "update":
            assert store.update_set(z, "t", pred, {"v": "v + 1"}) == len(hits)
            model.update({i: model[i] + 1 for i in hits})
        elif op == "cow_delete":
            assert store.delete_where(z, "t", pred) == len(hits)
            model = {i: v for i, v in model.items() if i not in hits}
        else:
            v = sorted(snapshots)[r % len(snapshots)]
            store.restore_version(z, "t", v)
            model = dict(snapshots[v])
        if op in DV_RETIRING:
            assert store.dv_stats(z, "t")["n_dvs"] == 0, op
        after = version()
        # a fold before APPEND is a version that reads as before the op
        for v in range(before + 1, after):
            snapshots[v] = snapshots[before]
        snapshots[after] = dict(model)
        assert rows(store.read(z, "t")) == sorted(model.items())
        for v, snap in snapshots.items():
            got = rows(store.read_version(z, "t", v))
            assert got == sorted(snap.items()), (op, v)
