"""Unit tests for the LLM-pipeline operator family."""

from __future__ import annotations

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from healthcare_data_lakehouse_spark.functions import dedup as D
from healthcare_data_lakehouse_spark.functions import similarity as S
from healthcare_data_lakehouse_spark.functions import text as TX
from healthcare_data_lakehouse_spark.functions.multimodal import (
    as_binary_assets,
    decode_stub,
    extract_binary_features,
)
from healthcare_data_lakehouse_spark.queries.llm_dedup import (
    dedup_bcubed_cluster_eval,
    dedup_bloom_prefilter_probe,
    dedup_candidate_selectivity_compare,
    dedup_canonical_selection,
    dedup_content_defined_chunks,
    dedup_cross_source_overlap,
    dedup_ground_truth_eval,
    dedup_minhash_band_planner,
    dedup_multisignal_pairs,
    dedup_semdedup_clusters,
    dedup_span_duplication,
    dedup_threshold_sweep_pr,
    dedup_winnowing_fingerprints,
)
from healthcare_data_lakehouse_spark.queries.llm_graph_stats import (
    graph_adamic_adar_link_prediction,
    graph_clustering_coefficient_neardup,
    graph_label_propagation_communities,
    graph_pagerank_neardup,
    graph_triangle_count_neardup,
    stats_cohens_kappa_quality_raters,
    stats_fleiss_kappa_quality_raters,
    stats_isotonic_calibration_pav,
    stats_mcnemar_quality_raters,
    stats_platt_scaling_newton,
    stats_quantile_normalize_sources,
    stats_ridge_regression_normal_eq,
    stats_roc_auc_quality_vs_gopher,
)
from healthcare_data_lakehouse_spark.queries.llm_pipeline import (
    pipeline_curriculum_phases,
    pipeline_dataset_cards,
    pipeline_decontaminate_train,
    pipeline_doremi_mixture_step,
    pipeline_embedding_decontamination,
    pipeline_global_row_index,
    pipeline_llm_corpus_curation,
    pipeline_packing_efficiency_curve,
    pipeline_rag_chunks,
    pipeline_sequence_packing,
    pipeline_shard_assignment_rendezvous,
    pipeline_shard_dup_leakage,
    pipeline_shard_manifest,
    pipeline_token_budget_mix,
    pipeline_tokenizer_vocab_coverage,
    quality_calibration_ece_brier,
    quality_dup_cluster_size_distribution,
    quality_label_balance_embeddings,
    sample_dsir_importance,
    sample_horvitz_thompson_chars,
    sample_language_balanced,
    sample_leakage_free_split,
    sample_pps_systematic_suppliers,
    sample_reservoir_per_lang,
    sample_temperature_lang,
    sample_train_test_split,
    sample_unimax_language_budget,
    sample_weighted_reservoir_per_lang,
)
from healthcare_data_lakehouse_spark.queries.llm_shared import (
    _PQ_K,
    _docs_with_dups,
    _quality_vs_gopher,
)
from healthcare_data_lakehouse_spark.queries.llm_similarity import (
    _IVFPQ_CENTROID_IDS,
    _IVF_CENTROID_IDS,
    embedding_centroid_drift,
    embedding_label_pca,
    embedding_matryoshka_fidelity,
    multimodal_audio_vad_energy,
    multimodal_tile_manifest,
    similarity_ivf_list_balance,
    similarity_ivfpq_top5,
    similarity_lsh_multiprobe_top5,
    similarity_lsh_top5,
    similarity_minhash_jaccard_error,
    similarity_recall_ivf_at5,
    similarity_recall_lsh_at5,
    similarity_recall_multiprobe_at5,
    sketch_bloom_filter_fpr,
    sketch_cms_heavy_hitters,
    sketch_join_cardinality_estimate,
    sketch_kmv_distinct_users,
)
from healthcare_data_lakehouse_spark.queries.llm_text import (
    text_bigram_lm_score,
    text_bigram_pmi_topk,
    text_bm25_topk,
    text_bpe_encode_token_counts,
    text_bpe_pair_counts,
    text_burrows_delta_sources,
    text_chao1_vocab_richness,
    text_chunk_boilerplate,
    text_good_turing_trigrams,
    text_gopher_quality_filter,
    text_inverted_index_sample,
    text_js_divergence_lang_pairs,
    text_langid_confusion,
    text_mattr_lexical_diversity,
    text_ngram_novelty_rate,
    text_perplexity_buckets_ccnet,
    text_rake_keywords,
    text_readability_flesch,
    text_repetition_ratio,
    text_script_mix_audit,
    text_token_entropy_by_lang,
    text_tokenizer_fertility_by_lang,
    text_unigram_kl_by_source,
    text_vocab_jaccard_sources,
)
from healthcare_data_lakehouse_spark.queries.quality_queries import (
    privacy_k_anonymity_audit,
    privacy_l_diversity_audit,
)


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame([
        Row(doc_id=1, text="the cat sat on the mat"),
        Row(doc_id=2, text="the cat sat on the mat"),          # exact dup of 1
        Row(doc_id=3, text="the cat sat on the red mat"),      # near dup
        Row(doc_id=4, text="completely different words here entirely"),
    ])


def test_exact_dedup(docs):
    out = {r.doc_id: r.n_copies for r in D.exact_dedup(docs).collect()}
    assert out == {1: 2, 3: 1, 4: 1}  # survivor = min id


def test_jaccard_pairs_finds_near_dups(docs):
    pairs = {(r.id_a, r.id_b): r.jaccard for r in
             D.jaccard_pairs(docs, threshold=0.5).collect()}
    assert pairs[(1, 2)] == 1.0
    assert (1, 3) in pairs and 0.5 <= pairs[(1, 3)] < 1.0
    assert not any(4 in p for p in pairs)


def test_minhash_lsh_agrees_with_exact(docs):
    lsh = {(r.id_a, r.id_b) for r in
           D.lsh_candidate_pairs(docs, threshold=0.5).collect()}
    exact = {(r.id_a, r.id_b) for r in
             D.jaccard_pairs(docs, threshold=0.5).collect()}
    assert (1, 2) in lsh  # identical docs always collide in every band
    assert lsh <= exact   # LSH-verified pairs are a subset of exact pairs


def test_simhash_identical_docs_same_signature(docs):
    sig = {r.doc_id: r.simhash for r in D.simhash32(docs).collect()}
    assert sig[1] == sig[2]
    assert 0 <= sig[1] < 2**32
    # hamming distance of near-dups < distance of unrelated docs
    def ham(a, b):
        return bin(a ^ b).count("1")
    assert ham(sig[1], sig[3]) < ham(sig[1], sig[4])


def test_cosine_top_k_orders_by_similarity(spark):
    emb = spark.createDataFrame([
        (1, [1.0, 0.0]), (2, [0.9, 0.1]), (3, [0.0, 1.0]), (4, [-1.0, 0.0]),
    ], "vec_id int, embedding array<float>")
    out = S.cosine_top_k(emb, [1.0, 0.0], k=2).collect()
    assert [r.vec_id for r in out] == [1, 2]
    assert out[0].score == 1.0


def test_text_helpers(spark):
    df = spark.createDataFrame([Row(text="The cat, and a dog!")])
    row = df.select(
        TX.token_count(F.col("text")).alias("n"),
        TX.punct_count(F.col("text")).alias("p"),
        TX.stopword_count(F.col("text")).alias("s"),
        TX.language_id(F.col("text")).alias("lang"),
    ).collect()[0]
    assert row.n == 5
    assert row.p == 2          # comma + bang
    assert row.s == 3          # the, and, a
    assert row.lang == "en"
    zh = spark.createDataFrame([Row(text="你好世界")])
    assert zh.select(TX.language_id(F.col("text")).alias("l")).head().l == "zh"


def test_multimodal_stub_contract(spark):
    with pytest.raises(NotImplementedError, match="media decoding"):
        decode_stub(b"bytes")
    df = spark.createDataFrame([Row(doc_id=1, text="hello")])
    feats = extract_binary_features(as_binary_assets(df)).collect()[0]
    assert feats.n_bytes == 5
    assert feats.fake_width == 5 % 640 + 1
    import hashlib
    assert feats.sha256 == hashlib.sha256(b"hello").hexdigest()


def test_embedding_near_dup_pairs(spark):
    # 64-dim vectors (hyperplanes are 64-dim): 1&2 identical, 3 near-dup
    # of 1, 4 orthogonal-ish.
    base = [1.0] + [0.0] * 63
    near = [1.0, 0.05] + [0.0] * 62
    other = [0.0] * 32 + [1.0] + [0.0] * 31
    emb = spark.createDataFrame(
        [(1, base), (2, base), (3, near), (4, other)],
        "vec_id int, embedding array<float>",
    )
    pairs = {
        (r.id_a, r.id_b): r.cosine
        for r in S.embedding_near_dup_pairs(emb, threshold=0.95).collect()
    }
    assert pairs[(1, 2)] == 1.0  # identical vectors always share a bucket
    if (1, 3) in pairs:          # near-dup may land in the same bucket
        assert pairs[(1, 3)] >= 0.95
    assert not any(4 in p for p in pairs)


def test_token_stats_pretokenizer(spark):
    docs = spark.createDataFrame(
        [(1, "Hello, world! v2.0 costs $15"), (2, "")],
        "doc_id int, text string",
    )
    out = docs.select(
        "doc_id",
        F.size(
            F.regexp_extract_all(
                F.col("text"), F.lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"), 0
            )
        ).alias("n_pre"),
        TX.token_count(F.col("text")).alias("n_ws"),
    ).collect()
    rows = {r.doc_id: (r.n_pre, r.n_ws) for r in out}
    # Hello , world ! v 2 . 0 costs $ 15 -> 11 pre-tokens, 5 ws tokens
    assert rows[1] == (11, 5)
    assert rows[2][0] == 0


def test_ivf_assignment_and_probe(spark):
    # 4 clusters along distinct axes; centroids = ids 1..4, query near axis 0
    import itertools
    rows = []
    for c in range(4):
        for j in range(5):
            v = [0.0] * 64
            v[c * 10] = 1.0
            v[(c * 10 + 5) % 64] = 0.1 * j  # spread within cluster
            rows.append((c * 10 + j + 1, v))
    emb = spark.createDataFrame(rows, "vec_id int, embedding array<float>")
    centroids = {cid: rows[[r[0] for r in rows].index(cid)][1]
                 for cid in (1, 11, 21, 31)}
    assigned = S.ivf_assign(emb, [1, 11, 21, 31])
    by_cluster = {r.vec_id: r.cid for r in assigned.collect()}
    assert by_cluster[2] == 1 and by_cluster[12] == 11  # same-axis cohesion
    q = [0.0] * 64
    q[0] = 1.0
    out = S.ivf_top_k(emb, q, centroids, k=3, nprobe=1, exclude_ids=[])
    got = [r.vec_id for r in out.collect()]
    assert got[0] == 1  # the centroid itself is the nearest member
    assert all(v <= 5 for v in got)  # all results from cluster 0's list


def test_sample_frames_stride_and_cardinality(spark):
    from healthcare_data_lakehouse_spark.functions.multimodal import (
        as_binary_assets,
        sample_frames,
    )

    docs = spark.createDataFrame(
        [(1, "x" * 50), (2, "y" * 450)], "doc_id int, text string"
    )
    out = sample_frames(as_binary_assets(docs), max_frames=4).collect()
    per = {}
    for r in out:
        per.setdefault(r.asset_id, []).append(r)
    # 50 bytes -> 1 frame; 450 bytes -> 5 frames, stride 2 -> idx 0,2,4
    assert [r.frame_idx for r in per[1]] == [0]
    assert sorted(r.frame_idx for r in per[2]) == [0, 2, 4]
    assert all(r.resized_w <= 224 and r.resized_h <= 224 for r in out)
    assert len({r.frame_sha for r in out}) == len(out)  # per-frame identity


def test_salted_join_equals_plain_join(spark):
    from healthcare_data_lakehouse_spark.functions.skew import salted_join

    fact = spark.createDataFrame(
        [(i, "hot" if i % 10 else "cold", float(i)) for i in range(200)],
        "event_id int, k string, v double",
    )
    dim = spark.createDataFrame(
        [("hot", 1.0), ("cold", 2.0)], "k string, w double"
    )
    salted = salted_join(fact, dim, on="k", fact_unique_col="event_id", n_salts=4)
    plain = fact.join(dim, "k")
    s = sorted(map(tuple, salted.select("event_id", "k", "v", "w").collect()))
    p = sorted(map(tuple, plain.select("event_id", "k", "v", "w").collect()))
    assert s == p and len(s) == 200


def test_connected_components_transitive_closure(spark):
    pairs = spark.createDataFrame(
        [(1, 2, 0.9), (2, 3, 0.8), (5, 6, 0.99)],
        "id_a int, id_b int, jaccard double",
    )
    out = {r.doc_id: r.cluster_id for r in D.connected_components(pairs).collect()}
    assert out == {1: 1, 2: 1, 3: 1, 5: 5, 6: 5}  # chain 1-2-3 merges


def test_connected_components_selfloop_and_type_parity(spark):
    """Both the driver-union-find fast path and the distributed loop must
    (a) keep a self-loop-only node labeled as its own singleton and
    (b) return cluster_id with the SAME dtype as the input ids."""
    pairs = spark.createDataFrame(
        [(7, 7), (2, 3)], "id_a int, id_b int"
    )
    fast = D.connected_components(pairs)
    dist = D.connected_components(pairs, small_graph_threshold=0)
    want = {7: 7, 2: 2, 3: 2}
    assert {r.doc_id: r.cluster_id for r in fast.collect()} == want
    assert {r.doc_id: r.cluster_id for r in dist.collect()} == want
    assert fast.schema["cluster_id"].dataType == dist.schema["cluster_id"].dataType
    assert fast.schema["doc_id"].dataType.simpleString() == "int"


def test_star_components_unconverged_chain_regression(spark):
    """Round-5 regression: a 30-node chain with max_iter=1 exhausts the
    star budget, forcing the pointer-jumping fallback. The bug was (a) the
    jump loop reusing max_iter as its budget and (b) roots derived as ALL
    distinct targets — doc 26 came back labeled {22, 26}. The fallback is
    the 100 TB iteration-budget path, so it must resolve to exactly one
    label per doc; on a chain the resolved label is the true component
    minimum as well."""
    import warnings

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(30)], "id_a long, id_b long"
    )
    with warnings.catch_warnings():
        warnings.simplefilter("ignore")
        out = D.connected_components_star(chain, max_iter=1).collect()
    per: dict = {}
    for r in out:
        per.setdefault(r.doc_id, set()).add(r.cluster_id)
    assert len(per) == 31
    assert all(cs == {0} for cs in per.values()), per


def test_scd2_merge_lifecycle(spark):
    from healthcare_data_lakehouse_spark.scd import scd2_initial, scd2_merge

    base = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "id int, attr string"
    )
    dim = scd2_initial(base, batch_id=0)
    incoming = spark.createDataFrame(
        [(1, "a"),        # unchanged -> no-op
         (2, "B2"),       # changed  -> close v1, insert v2
         (9, "new")],     # unseen   -> insert v1
        "id int, attr string",
    )
    out = scd2_merge(dim, incoming, key="id", batch_id=1)
    rows = {(r.id, r.version): r for r in out.collect()}
    assert len(rows) == 5
    assert rows[(1, 1)].is_current and rows[(1, 1)].valid_to_batch is None
    assert not rows[(2, 1)].is_current and rows[(2, 1)].valid_to_batch == 1
    assert rows[(2, 2)].is_current and rows[(2, 2)].attr == "B2"
    assert rows[(3, 1)].is_current
    assert rows[(9, 1)].is_current and rows[(9, 1)].valid_from_batch == 1
    # idempotence: replaying the same batch produces no new versions
    again = scd2_merge(out, incoming, key="id", batch_id=2)
    assert again.count() == 5


# ----------------------------------------------------- round-current additions
def test_span_duplication_flags_shared_spans(spark):
    out = {r.doc_id: r for r in dedup_span_duplication(spark, "/root/testdata/sf0.001").collect()}
    # injected exact copies (doc_id % 15 == 0 shifted by 1e6) must have
    # dup_span_ratio == 1.0 on both sides of the copy
    copies = [i for i in out if i >= 1_000_000]
    assert copies, "controlled duplicate injection produced no copies"
    for cid in copies:
        assert out[cid].dup_span_ratio == 1.0
        assert out[cid - 1_000_000].dup_span_ratio == 1.0
    # span accounting: a doc with n tokens >= 8 has n-7 spans
    assert all(r.n_dup_spans <= r.n_spans for r in out.values())


def test_cms_estimate_upper_bounds_truth(spark):
    rows = sketch_cms_heavy_hitters(spark, "/root/testdata/sf0.001").collect()
    assert len(rows) == 10
    # CMS never underestimates; at this width it should be near-exact
    assert all(r.est_count >= r.true_count for r in rows)
    ests = [r.est_count for r in rows]
    assert ests == sorted(ests, reverse=True)


def test_language_balanced_rates(spark):
    rows = sample_language_balanced(spark, "/root/testdata/sf0.001").collect()
    by_lang = {r.lang: r for r in rows}
    assert all(0.0 < r.sample_rate <= 1.0 for r in rows)
    assert all(r.n_sampled <= r.n_docs for r in rows)
    # temperature flattening: rarer langs get a HIGHER rate than common ones
    common = max(rows, key=lambda r: r.n_docs)
    rare = min(rows, key=lambda r: r.n_docs)
    if rare.n_docs < common.n_docs:
        assert rare.sample_rate >= common.sample_rate


def test_bigram_lm_scores_are_negative_logprobs(spark):
    rows = text_bigram_lm_score(spark, "/root/testdata/sf0.001").collect()
    assert rows
    # smoothed probabilities are < 1 -> log2 < 0; n_bigrams = n_tokens - 1
    assert all(r.avg_log2_prob < 0 for r in rows)
    assert all(r.n_bigrams >= 1 for r in rows)


def test_recall_panel_is_complete_and_bounded(spark):
    rows = similarity_recall_lsh_at5(spark, "/root/testdata/sf0.001").collect()
    assert len(rows) == 10  # one row per query in the panel
    for r in rows:
        assert r.n_exact == 5
        assert 0 <= r.n_overlap <= min(5, r.n_lsh)
        assert r.recall_at_5 == round(r.n_overlap / 5.0, 2)


def test_reservoir_caps_per_lang(spark):
    rows = sample_reservoir_per_lang(spark, "/root/testdata/sf0.001").collect()
    from collections import Counter

    per = Counter(r.lang for r in rows)
    assert all(n <= 20 for n in per.values())
    # deterministic: same result on a second run
    again = sample_reservoir_per_lang(spark, "/root/testdata/sf0.001").collect()
    assert sorted((r.lang, r.doc_id) for r in rows) == sorted(
        (r.lang, r.doc_id) for r in again
    )


def test_pagerank_mass_conserved_and_dups_rank_high(spark):
    rows = graph_pagerank_neardup(spark, "/root/testdata/sf0.001").collect()
    assert rows
    total = sum(r.pagerank for r in rows)
    # synchronous PR over a dangling-free graph conserves mass ~ 1.0
    assert abs(total - 1.0) < 0.01
    assert all(r.pagerank > 0 for r in rows)


def test_label_pca_spectral_invariants(spark):
    rows = embedding_label_pca(spark, "/root/testdata/sf0.001").collect()
    assert rows
    for r in rows:
        # spectrum_valid encodes the invariants the UDF asserts in-line:
        # eigenvalue sum == trace (1e-9 rel) and top share in [1/64, 1]
        assert r.spectrum_valid
        assert r.total_variance > 0
        assert r.n_vecs >= 2


def test_bpe_pairs_are_two_chars_weighted(spark):
    rows = text_bpe_pair_counts(spark, "/root/testdata/sf0.001").collect()
    assert len(rows) == 15
    assert all(len(r.pair) == 2 for r in rows)
    ns = [r.n for r in rows]
    assert ns == sorted(ns, reverse=True)


def test_curation_funnel_is_monotone(spark):
    rows = pipeline_llm_corpus_curation(spark, "/root/testdata/sf0.001").collect()
    assert rows
    for r in rows:
        assert r.n_raw >= r.n_quality >= r.n_unique >= 0
        if r.n_unique > 0:
            assert r.tokens_kept > 0


def test_train_test_split_is_stable_under_growth(spark):
    from healthcare_data_lakehouse_spark.tables import table
    from pyspark.sql import functions as F

    rows = sample_train_test_split(spark, "/root/testdata/sf0.001").collect()
    splits = {r.split for r in rows}
    assert splits == {"train", "test"}
    n_train = sum(r.n for r in rows if r.split == "train")
    n_test = sum(r.n for r in rows if r.split == "test")
    frac = n_train / (n_train + n_test)
    assert 0.7 < frac < 0.9  # hash threshold hits ~80/20
    # growth stability: the sf0.001 train ids are a subset of sf0.01's
    def train_ids(sf):
        emb = table(spark, sf, "embeddings")
        u = (
            F.conv(F.substring(F.md5(F.col("vec_id").cast("string")), 1, 12), 16, 10)
            .cast("bigint")
            .cast("double")
            / F.lit(281474976710656.0)
        )
        return {r.vec_id for r in emb.filter(u < 0.8).select("vec_id").collect()}

    small, big = train_ids("/root/testdata/sf0.001"), train_ids("/root/testdata/sf0.01")
    assert small <= big


def test_sequence_packing_respects_capacity_per_shard(spark):
    rows = pipeline_sequence_packing(spark, "/root/testdata/sf0.001").collect()
    assert rows
    for r in rows:
        assert 0 < r.fill_ratio <= 1.0
        assert r.n_docs >= 1
    # token conservation: packing moves every token into exactly one bin
    from healthcare_data_lakehouse_spark.tables import table
    from pyspark.sql import functions as F

    total = (
        table(spark, "/root/testdata/sf0.001", "documents")
        .select(F.sum(F.size(F.split("text", " ", -1))).alias("t"))
        .head()[0]
    )
    assert sum(r.tokens for r in rows) == total
    # bins are dense from 0 within each lang
    from collections import defaultdict

    bins = defaultdict(list)
    for r in rows:
        bins[r.lang].append(r.bin_id)
    for lang, ids in bins.items():
        assert sorted(ids) == list(range(len(ids)))


def test_decontamination_flags_injected_overlap(spark):
    row = pipeline_decontaminate_train(spark, "/root/testdata/sf0.001").collect()[0]
    assert row.n_train > 0 and row.n_eval > 0
    assert 0.0 <= row.contamination_rate <= 1.0
    assert row.n_contaminated <= row.n_train


def test_repetition_ratio_bounds(spark):
    rows = text_repetition_ratio(spark, "/root/testdata/sf0.001").collect()
    assert rows
    for r in rows:
        assert 0.0 <= r.repetition_ratio < 1.0
        assert r.n_distinct <= r.n_grams


def test_matryoshka_ratio_bounds(spark):
    rows = embedding_matryoshka_fidelity(spark, "/root/testdata/sf0.001").collect()
    assert rows
    for r in rows:
        # |head|/|full| is in (0, 1]; 16/64 random dims -> ~sqrt(1/4) = 0.5
        assert 0.0 < r.min_truncation_cosine <= r.avg_truncation_cosine <= 1.0


def test_canonical_selection_prefers_quality(spark):
    rows = dedup_canonical_selection(spark, "/root/testdata/sf0.001").collect()
    assert rows
    for r in rows:
        assert r.n_members >= 2
        assert r.canonical_doc_id is not None
        assert 0.0 <= r.best_quality <= 1.0


def test_multisignal_confirms_injected_dups(spark):
    rows = dedup_multisignal_pairs(spark, "/root/testdata/sf0.001").collect()
    assert rows
    injected = [r for r in rows if r.id_b == r.id_a + 1_000_000]
    assert injected
    for r in injected:
        # identical text + identical vector -> both signals fire
        assert r.jaccard == 1.0 and r.cosine == 1.0 and r.confirmed


def test_weighted_reservoir_favors_long_docs(spark):
    from healthcare_data_lakehouse_spark.tables import table
    from pyspark.sql import functions as F

    rows = sample_weighted_reservoir_per_lang(spark, "/root/testdata/sf0.01").collect()
    from collections import Counter

    per = Counter(r.lang for r in rows)
    assert all(n <= 10 for n in per.values())
    # weight-proportional draw: sampled docs skew longer than corpus mean
    corpus_mean = (
        table(spark, "/root/testdata/sf0.01", "documents")
        .agg(F.avg("n_chars"))
        .head()[0]
    )
    sample_mean = sum(r.n_chars for r in rows) / len(rows)
    assert sample_mean > corpus_mean


def test_inverted_index_postings_sorted(spark):
    rows = text_inverted_index_sample(spark, "/root/testdata/sf0.001").collect()
    assert len(rows) == 20
    for r in rows:
        assert r.posting_sample == sorted(r.posting_sample)
        assert 1 <= len(r.posting_sample) <= 10
        assert r.df >= len(r.posting_sample)


def test_weighted_reservoir_deterministic(spark):
    a = sorted(
        (r.lang, r.doc_id)
        for r in sample_weighted_reservoir_per_lang(spark, "/root/testdata/sf0.001").collect()
    )
    b = sorted(
        (r.lang, r.doc_id)
        for r in sample_weighted_reservoir_per_lang(spark, "/root/testdata/sf0.001").collect()
    )
    assert a == b


def test_centroid_drift_halves_agree_on_iid_fixture(spark):
    rows = embedding_centroid_drift(spark, "/root/testdata/sf0.001").collect()
    assert rows
    for r in rows:
        # fixture embeddings are ~zero-mean: half-centroids are noise
        # vectors, so cosine is unconstrained — assert the metric bounds
        assert -1.0 <= r.centroid_cosine <= 1.0
        # and that iid halves stay CLOSE in absolute terms (drift alarm
        # threshold would sit far above this)
        assert 0 <= r.centroid_l2_dist < 1.0


def test_lsh_probe_finds_exact_copy_in_corpus(spark):
    from pyspark.sql import Row
    from healthcare_data_lakehouse_spark.functions import dedup as D

    corpus = spark.createDataFrame([
        Row(doc_id=1, text="the quick brown fox jumps over the lazy dog"),
        Row(doc_id=2, text="completely unrelated content about databases"),
    ])
    incoming = spark.createDataFrame([
        Row(doc_id=100, text="the quick brown fox jumps over the lazy dog"),
        Row(doc_id=101, text="totally novel text never seen before anywhere"),
    ])
    got = {(r.incoming_id, r.corpus_id): r.jaccard
           for r in D.lsh_probe(corpus, incoming, threshold=0.5).collect()}
    assert got.get((100, 1)) == 1.0      # exact copy gates against its source
    assert all(i != 101 for i, _ in got)  # novel doc passes the gate


def test_chunk_boilerplate_flags_injected_copies(spark):
    rows = {r.doc_id: r for r in text_chunk_boilerplate(spark, "/root/testdata/sf0.01").collect()}
    assert rows
    for r in rows.values():
        assert 0 <= r.n_boilerplate <= r.n_chunks
        assert 0.0 <= r.boilerplate_ratio <= 1.0
    # injected exact copies share every chunk with their source
    copies = [d for d in rows if d >= 1_000_000]
    assert copies
    for c in copies:
        assert rows[c].boilerplate_ratio == 1.0
        assert rows[c - 1_000_000].boilerplate_ratio == 1.0


def test_triangle_counts_close_injected_triples(spark):
    rows = graph_triangle_count_neardup(spark, "/root/testdata/sf0.001").collect()
    assert rows
    by_node = {r.vec_id: r.n_triangles for r in rows}
    # every selected vector forms exactly one (orig, +1M, +2M) triangle,
    # and all three corners report it
    origs = [v for v in by_node if v < 1_000_000]
    assert origs
    for v in origs:
        assert v % 25 == 0
        assert by_node[v] == 1
        assert by_node[v + 1_000_000] == 1
        assert by_node[v + 2_000_000] == 1


def test_minhash_estimate_exact_on_identical_pairs(spark):
    rows = similarity_minhash_jaccard_error(spark, "/root/testdata/sf0.001").collect()
    assert rows
    for r in rows:
        assert 0.0 <= r.mh_estimate <= 1.0
        assert r.abs_err == round(abs(r.jaccard - r.mh_estimate), 6)
        # identical docs: every permutation minimum collides
        if r.id_b - r.id_a == 1_000_000:
            assert r.jaccard == 1.0 and r.mh_estimate == 1.0 and r.abs_err == 0.0


def test_bloom_prefilter_one_sided(spark):
    rows = dedup_bloom_prefilter_probe(spark, "/root/testdata/sf0.001").collect()
    assert rows
    # no false negatives, ever: every exact member must bloom-hit
    assert all(r.bloom_hit for r in rows if r.exact_member)
    # the +1M batch is verbatim copies -> exact members; +2M batch is
    # perturbed -> non-members
    for r in rows:
        if r.doc_id >= 2_000_000:
            assert not r.exact_member
        else:
            assert r.exact_member


def test_shard_manifest_conserves_mass(spark):
    from healthcare_data_lakehouse_spark.tables import table
    from pyspark.sql import functions as F

    sf = "/root/testdata/sf0.001"
    rows = pipeline_shard_manifest(spark, sf).collect()
    assert 1 <= len(rows) <= 16
    n_docs = table(spark, sf, "documents").count()
    assert sum(r.n_docs for r in rows) == n_docs
    total_chars = table(spark, sf, "documents").agg(F.sum("n_chars")).head()[0]
    assert sum(r.n_chars for r in rows) == total_chars
    mean_lf = sum(r.load_factor for r in rows) / len(rows)
    assert abs(mean_lf - 1.0) < 1e-3


def test_langid_confusion_rows_partition_each_lang(spark):
    from healthcare_data_lakehouse_spark.tables import table

    sf = "/root/testdata/sf0.001"
    rows = text_langid_confusion(spark, sf).collect()
    assert rows
    per_lang: dict = {}
    for r in rows:
        per_lang.setdefault(r.lang_declared, 0)
        per_lang[r.lang_declared] += r.n_docs
        assert 0.0 <= r.recall <= 1.0
    truth = {
        r.lang: r.n
        for r in table(spark, sf, "documents").groupBy("lang").count()
        .withColumnRenamed("count", "n").collect()
    }
    assert per_lang == truth


def test_rag_chunks_cover_and_bound(spark):
    from healthcare_data_lakehouse_spark.tables import table
    from pyspark.sql import functions as F

    sf = "/root/testdata/sf0.001"
    rows = pipeline_rag_chunks(spark, sf).collect()
    assert rows
    n_docs = table(spark, sf, "documents").count()
    by_doc: dict = {}
    for r in rows:
        assert 1 <= r.n_tokens <= 64
        by_doc.setdefault(r.doc_id, []).append(r)
    assert len(by_doc) == n_docs
    tok_counts = {
        r.doc_id: r.n
        for r in table(spark, sf, "documents")
        .select("doc_id", F.size(F.split("text", " ")).alias("n"))
        .collect()
    }
    for doc, chunks in by_doc.items():
        idxs = sorted(c.chunk_idx for c in chunks)
        assert idxs == list(range(len(idxs)))  # contiguous stride windows
        # each chunk spans min(64, remaining) tokens from its stride start,
        # and the final chunk ends exactly at the document's last token
        chunks = sorted(chunks, key=lambda c: c.chunk_idx)
        total = tok_counts[doc]
        for c in chunks:
            assert c.n_tokens == min(64, total - c.chunk_idx * 48)
        assert (len(chunks) - 1) * 48 + chunks[-1].n_tokens == total


def test_global_row_index_is_dense_rank_order(spark):
    rows = pipeline_global_row_index(spark, "/root/testdata/sf0.001").collect()
    assert rows
    got = sorted((r.doc_id, r.row_idx) for r in rows)
    assert [i for _, i in got] == list(range(len(rows)))


def test_semdedup_prunes_exactly_injected_copies(spark):
    from healthcare_data_lakehouse_spark.tables import table
    from pyspark.sql import functions as F

    sf = "/root/testdata/sf0.001"
    rows = dedup_semdedup_clusters(spark, sf).collect()
    assert 1 <= len(rows) <= 4
    emb = table(spark, sf, "embeddings")
    n = emb.count()
    n_dups = emb.filter(F.col("vec_id") % 25 == 0).count()
    assert sum(r.n_points for r in rows) == n + n_dups
    # natural vectors are near-orthogonal: only injected copies prune
    assert sum(r.n_pruned for r in rows) == n_dups
    for r in rows:
        assert 0.0 <= r.prune_rate <= 1.0


def test_dsir_separates_target_from_rest(spark):
    from healthcare_data_lakehouse_spark.tables import table

    sf = "/root/testdata/sf0.001"
    scores = {
        r.doc_id: r.dsir_logratio
        for r in sample_dsir_importance(spark, sf).collect()
    }
    langs = {
        r.doc_id: r.lang
        for r in table(spark, sf, "documents").select("doc_id", "lang").collect()
    }
    assert set(scores) == set(langs)
    en = [scores[d] for d, l in langs.items() if l == "en"]
    rest = [scores[d] for d, l in langs.items() if l != "en"]
    assert en and rest
    # importance ratio must rank target-language docs above the rest
    assert sum(en) / len(en) > sum(rest) / len(rest)


def test_quantile_normalize_map_is_consistent(spark):
    rows = stats_quantile_normalize_sources(spark, "/root/testdata/sf0.001").collect()
    assert rows
    by_src: dict = {}
    for r in rows:
        assert abs(r.shift - round(r.src_value - r.pooled_value, 4)) < 1e-9
        by_src.setdefault(r.source, []).append(r)
    for src, knots in by_src.items():
        assert len(knots) == 9
        knots = sorted(knots, key=lambda r: r.quantile)
        vals = [k.src_value for k in knots]
        pooled = [k.pooled_value for k in knots]
        assert vals == sorted(vals) and pooled == sorted(pooled)


def test_prefix_filter_lossless_and_smaller(spark):
    sf = "/root/testdata/sf0.001"
    docs = _docs_with_dups(spark, sf, 20)
    exact = {
        (r.id_a, r.id_b): r.jaccard
        for r in D.jaccard_pairs(docs, threshold=0.7).collect()
    }
    filtered = {
        (r.id_a, r.id_b): r.jaccard
        for r in D.prefix_filter_jaccard_pairs(docs, threshold=0.7).collect()
    }
    # lossless: identical result set AND identical similarity values
    assert filtered == exact and exact

    # the prefix index is strictly smaller than the full shingle table
    sh = D._shingle_table(docs, "doc_id", "text", 3)
    sizes = sh.groupBy("sid").agg(F.count(F.lit(1)).alias("sz"))
    n_shingle_rows = sh.count()
    # prefix length |d| - ceil(0.7|d|) + 1 is ~30% of |d|
    from pyspark.sql.window import Window as W

    freq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    w = W.partitionBy("sid").orderBy("df", "shingle")
    prefix = (
        sh.join(freq, "shingle")
        .withColumn("pos", F.row_number().over(w))
        .join(sizes, "sid")
        .filter(F.col("pos") <= F.col("sz") - F.ceil(0.7 * F.col("sz")) + 1)
    )
    assert prefix.count() < 0.5 * n_shingle_rows


def test_pq_encode_and_adc(spark):
    # 2 well-separated clusters in 8-dim space; codebook = one vector from
    # each cluster per subspace half, so codes must separate the clusters
    # and ADC must rank the query's own cluster first.
    rows = []
    for i in range(4):
        v = [1.0, 1.0, 0.0, 0.0, 1.0, 0.0, 0.0, 0.0]
        v[2] = 0.05 * i
        rows.append((10 + i, v))
    for i in range(4):
        v = [0.0, 0.0, 1.0, 1.0, 0.0, 0.0, 1.0, 1.0]
        v[0] = 0.05 * i
        rows.append((20 + i, v))
    emb = spark.createDataFrame(rows, "vec_id int, embedding array<float>")
    codebook = [rows[0][1], rows[4][1]]  # one representative per cluster
    enc = S.pq_encode(emb, codebook, n_sub=2)
    codes = {r.vec_id: (r.code_0, r.code_1) for r in enc.collect()}
    assert all(codes[10 + i] == (0, 0) for i in range(4))
    assert all(codes[20 + i] == (1, 1) for i in range(4))

    q = [1.0, 0.9, 0.0, 0.1, 1.0, 0.0, 0.0, 0.0]  # near cluster A
    scored = (
        enc.select("vec_id", S.pq_adc_dist(q, codebook, n_sub=2).alias("d"))
        .orderBy("d", "vec_id")
        .collect()
    )
    # every cluster-A member beats every cluster-B member under ADC
    ranked = [r.vec_id for r in scored]
    assert set(ranked[:4]) == {10, 11, 12, 13}
    # ADC distance of a vector equals the distance to its codeword
    # reconstruction (both clusters quantize to their representative)
    a_dist = scored[0].d
    exact = sum((x - y) ** 2 for x, y in zip(q, codebook[0]))
    assert abs(a_dist - exact) < 1e-9


def test_ivfpq_top5_invariants(spark):
    """IVF+PQ composition: results come only from the query's 2 probed
    lists, codes are in range, ADC distances are non-decreasing, and each
    returned row's ADC distance matches the driver-recomputed lookup-table
    sum for its codes."""
    from healthcare_data_lakehouse_spark.tables import table as _table

    sf = "/root/testdata/sf0.001"
    rows = similarity_ivfpq_top5(spark, sf).collect()
    assert len(rows) == 5
    dists = [r.adc_dist for r in rows]
    assert dists == sorted(dists)
    assert len({r.cid for r in rows}) <= 2
    for r in rows:
        assert r.vec_id > 16
        for m in range(4):
            assert 0 <= getattr(r, f"code_{m}") < _PQ_K

    meta = {
        r.vec_id: [float(x) for x in r.embedding]
        for r in _table(spark, sf, "embeddings")
        .filter(F.col("vec_id") <= 16)
        .collect()
    }
    q, codebook = meta[0], [meta[i + 1] for i in range(_PQ_K)]

    def cos(a, b):
        dp = sum(x * y for x, y in zip(a, b))
        return dp / (
            sum(x * x for x in a) ** 0.5 * sum(y * y for y in b) ** 0.5
        )

    probes = sorted(
        _IVFPQ_CENTROID_IDS, key=lambda c: (-cos(q, meta[c]), c)
    )[:2]
    assert {r.cid for r in rows} <= set(probes)
    # ADC = sum over subspaces of ||q_m - codeword_m||^2
    for r in rows:
        want = sum(
            sum(
                (q[d] - codebook[getattr(r, f"code_{m}")][d]) ** 2
                for d in range(m * 16, (m + 1) * 16)
            )
            for m in range(4)
        )
        assert abs(r.adc_dist - want) < 1e-4


def test_pq_code_ties_break_to_lowest_code(spark):
    emb = spark.createDataFrame(
        [(1, [0.5, 0.5])], "vec_id int, embedding array<float>"
    )
    # both codebook entries equidistant from the vector -> code 0 wins
    cb = [[1.0, 0.0], [0.0, 1.0]]
    enc = S.pq_encode(emb, cb, n_sub=1)
    assert enc.collect()[0].code_0 == 0


def test_kcenter_greedy_picks_extremes(spark):
    # 3 tight clusters at corners of a triangle; k=3 must pick one point
    # from each cluster, and coverage radii must be non-increasing
    rows = []
    corners = [(0.0, 0.0), (10.0, 0.0), (0.0, 10.0)]
    for ci, (cx, cy) in enumerate(corners):
        for j in range(3):
            rows.append((ci * 10 + j, [cx + 0.01 * j, cy]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = S.kcenter_greedy(emb, k=3, start_id=0).collect()
    assert [r.step for r in out] == [1, 2, 3]
    clusters = {r.vec_id // 10 for r in out}
    assert clusters == {0, 1, 2}
    assert out[0].dist is None
    assert out[1].dist >= out[2].dist > 0


def test_token_budget_mix_invariants(spark, sf_dir):
    rows = pipeline_token_budget_mix(spark, sf_dir).collect()
    assert rows
    for r in rows:
        # greedy fill never exceeds the budget, and keeps a subset
        assert r.tokens_kept <= r.token_budget
        assert 0 <= r.n_docs_kept <= r.n_docs_total
    # the 25% corpus budget is respected in aggregate (within one doc slop
    # per source, since fill stops before overflow)
    total = sum(r.tokens_total for r in rows)
    kept = sum(r.tokens_kept for r in rows)
    assert kept <= 0.25 * total
    assert kept >= 0.10 * total  # sanity: the budget is actually used


def test_gopher_filter_rules_fire(spark, sf_dir):
    rows = text_gopher_quality_filter(spark, sf_dir).collect()
    assert rows
    for r in rows:
        fired = [x for x in r.reasons.split(",") if x]
        # passes <=> no rule fired, and reasons only lists known rules
        assert (r.passes == 1) == (not fired)
        assert set(fired) <= {
            "too_few_words",
            "too_many_words",
            "word_len_out_of_range",
            "excessive_repetition",
            "no_stopwords",
        }
        # feature sanity
        assert r.n_words >= 1
        assert 0.0 <= r.dup_word_frac <= 1.0
        if r.n_words < 15:
            assert "too_few_words" in fired


def test_temperature_sampling_flattens_mix(spark, sf_dir):
    rows = sample_temperature_lang(spark, sf_dir).collect()
    assert rows
    total = sum(r.n_docs for r in rows)
    assert abs(sum(r.weight for r in rows) - 1.0) < 1e-4
    # alpha=0.5 upweights rare languages relative to their natural share
    for r in rows:
        natural = r.n_docs / total
        if natural < 1.0 / len(rows):
            assert r.weight >= natural - 1e-9
        else:
            assert r.weight <= natural + 1e-9
    # the 1000-doc budget is allocated within rounding slop
    assert abs(sum(r.alloc_docs for r in rows) - 1000) <= len(rows)


def test_token_entropy_bounds(spark, sf_dir):
    rows = text_token_entropy_by_lang(spark, sf_dir).collect()
    assert rows
    for r in rows:
        # 0 <= H <= log2(vocab); normalized entropy in [0, 1]
        assert 0.0 <= r.entropy_bits
        assert r.entropy_norm <= 1.0 + 1e-9
        assert r.vocab <= r.n_tokens


def test_dataset_cards_consistent(spark, sf_dir):
    from healthcare_data_lakehouse_spark.tables import table

    rows = pipeline_dataset_cards(spark, sf_dir).collect()
    n_docs_total = table(spark, sf_dir, "documents").count()
    assert sum(r.n_docs for r in rows) == n_docs_total
    for r in rows:
        assert 0.0 <= r.exact_dup_frac < 1.0
        assert 0.0 < r.top_lang_frac <= 1.0
        assert r.n_langs >= 1
        assert abs(r.avg_doc_tokens - r.total_tokens / r.n_docs) < 1e-4


def test_rake_keywords_scoring(spark, sf_dir):
    rows = text_rake_keywords(spark, sf_dir).collect()
    assert len(rows) == 20
    for r in rows:
        # degree counts every word of every containing phrase, so
        # score = degree/freq >= 1 (a word is in its own phrase)
        assert r.degree >= r.freq
        assert abs(r.score - round(r.degree / r.freq, 6)) < 1e-9
        # stopwords can never be keywords: phrases are split on them
        assert r.word not in {"the", "a", "of", "and", "to", "in", "is", "it"}
    scores = [r.score for r in rows]
    assert scores == sorted(scores, reverse=True)


def test_ridge_shrinks_towards_zero(spark, sf_dir):
    import numpy as np
    from healthcare_data_lakehouse_spark.tables import table

    row = stats_ridge_regression_normal_eq(spark, sf_dir).collect()[0]
    # independent dense solve on the same data
    pdf = (
        table(spark, sf_dir, "lineitem")
        .select("l_quantity", "l_discount", "l_extendedprice")
        .toPandas()
    )
    X = pdf[["l_quantity", "l_discount"]].to_numpy(dtype=float)
    y = pdf["l_extendedprice"].to_numpy(dtype=float)
    Xc = X - X.mean(axis=0)
    yc = y - y.mean()
    lam = 0.01 * len(y)
    A = Xc.T @ Xc + lam * np.eye(2)
    beta = np.linalg.solve(A, Xc.T @ yc)
    assert abs(row.beta_quantity - beta[0]) < 1e-3
    assert abs(row.beta_discount - beta[1]) < max(1e-3, abs(beta[1]) * 1e-4)
    icept = y.mean() - beta @ X.mean(axis=0)
    assert abs(row.intercept - icept) < 1e-2


def test_novelty_first_doc_is_fully_novel(spark, sf_dir):
    rows = text_ngram_novelty_rate(spark, sf_dir).collect()
    assert rows
    by_id = sorted(rows, key=lambda r: r.doc_id)
    # the lowest doc_id sees every one of its shingles first
    assert by_id[0].novelty == 1.0
    for r in rows:
        assert 0.0 <= r.novelty <= 1.0
        assert r.novel <= r.n_shingles


def test_ivf_recall_bounds_and_panel(spark, sf_dir):
    rows = similarity_recall_ivf_at5(spark, sf_dir).collect()
    assert len(rows) == 10
    for r in rows:
        assert r.n_exact == 5
        assert 0 <= r.n_overlap <= min(r.n_ivf, 5)
        assert 0.0 <= r.recall_at_5 <= 1.0
    # nprobe=2/8 lists should still find most true neighbors on average
    assert sum(r.recall_at_5 for r in rows) / len(rows) >= 0.2


def test_vocab_coverage_bounds(spark, sf_dir):
    rows = pipeline_tokenizer_vocab_coverage(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0 <= r.covered <= r.n_tokens
        assert 0.0 <= r.coverage <= 1.0
    # the synthetic corpus has a small shared vocabulary: a top-1000
    # vocab trained on half the docs should cover most held-out tokens
    total = sum(r.n_tokens for r in rows)
    cov = sum(r.covered for r in rows)
    assert cov / total > 0.5


def test_label_balance_chisq_and_shares(spark, sf_dir):
    rows = quality_label_balance_embeddings(spark, sf_dir).collect()
    assert rows
    assert abs(sum(r.share for r in rows) - 1.0) < 1e-4
    for r in rows:
        assert r.chisq_term >= 0.0
        assert r.imbalanced in (0, 1)


def test_ground_truth_eval_perfect_recall_on_exact_copies(spark, sf_dir):
    r = dedup_ground_truth_eval(spark, sf_dir).collect()[0]
    assert r.n_truth > 0
    # exact copies share every band: candidate AND verified recall are 1.0
    assert r.recall_cand == 1.0
    assert r.recall_verified == 1.0
    assert r.n_cand >= r.n_truth
    assert r.truth_in_verified <= r.n_verified


def test_perplexity_buckets_are_thirds(spark, sf_dir):
    rows = text_perplexity_buckets_ccnet(spark, sf_dir).collect()
    by_lang = {}
    for r in rows:
        by_lang.setdefault(r.lang, {})[r.bucket] = r
    for lang, buckets in by_lang.items():
        assert set(buckets) == {"head", "middle", "tail"}
        ns = [buckets[b].n_docs for b in ("head", "middle", "tail")]
        assert max(ns) - min(ns) <= 1  # NTILE thirds
        # head = highest scores (least perplexing)
        assert buckets["head"].avg_score >= buckets["tail"].avg_score


def test_pmi_topk_support_and_order(spark, sf_dir):
    rows = text_bigram_pmi_topk(spark, sf_dir).collect()
    assert 0 < len(rows) <= 20
    pmis = [r.pmi for r in rows]
    assert pmis == sorted(pmis, reverse=True)
    assert all(r.c >= 5 for r in rows)


def test_unigram_kl_nonnegative_and_totals(spark, sf_dir):
    from pyspark.sql import functions as F
    from healthcare_data_lakehouse_spark.tables import table

    rows = text_unigram_kl_by_source(spark, sf_dir).collect()
    n_sources = (
        table(spark, sf_dir, "documents").select("source").distinct().count()
    )
    assert len(rows) == n_sources
    # Gibbs' inequality: KL(p||q) >= 0, and 0 only if p == q exactly
    assert all(r.kl_vs_corpus >= 0 for r in rows)
    assert all(r.vocab > 0 and r.n_tokens >= r.vocab for r in rows)


def test_dup_cluster_distribution_accounts_for_every_doc(spark, sf_dir):
    rows = quality_dup_cluster_size_distribution(spark, sf_dir).collect()
    n_docs = _docs_with_dups(spark, sf_dir, 10).count()
    assert sum(r.n_docs for r in rows) == n_docs
    for r in rows:
        assert r.n_docs == r.n_copies * r.n_clusters
        assert r.redundant_docs == (r.n_copies - 1) * r.n_clusters
    # injected copies (mod 10) guarantee clusters of size exactly 2
    assert any(r.n_copies == 2 for r in rows)


def test_cross_source_overlap_is_upper_triangle_with_valid_jaccard(
    spark, sf_dir
):

    rows = dedup_cross_source_overlap(spark, sf_dir).collect()
    assert len(rows) > 0
    for r in rows:
        assert r.source_a < r.source_b  # each unordered pair exactly once
        assert 0 < r.jaccard <= 1
        assert r.n_shared >= 1
    assert len({(r.source_a, r.source_b) for r in rows}) == len(rows)


def test_k_anonymity_audit_partitions_all_customers(spark, sf_dir):
    from healthcare_data_lakehouse_spark.tables import table

    rows = privacy_k_anonymity_audit(spark, sf_dir).collect()
    n_cust = table(spark, sf_dir, "customer").count()
    assert sum(r.n_rows for r in rows) == n_cust
    for r in rows:
        assert r.n_rows == r.k * r.n_groups
        assert 0.0 <= r.at_risk_share <= 1.0
        # share is the class's own contribution to re-identification risk:
        # zero for classes at k >= 5, n_rows/total for smaller classes
        if r.k >= 5:
            assert r.at_risk_share == 0.0
        else:
            assert abs(r.at_risk_share - r.n_rows / n_cust) < 1e-6


def test_tokenizer_fertility_by_lang_bounds(spark, sf_dir):
    rows = text_tokenizer_fertility_by_lang(spark, sf_dir).collect()
    assert len(rows) > 0
    for r in rows:
        # the pre-tokenizer splits words, never merges: every whitespace
        # word yields >= 1 token, so fertility >= 1
        assert r.tokens_per_word >= 1.0
        assert r.chars_per_token > 0
        assert r.n_tokens >= r.n_words > 0


def test_packing_curve_waste_monotone_in_buckets(spark, sf_dir):
    rows = {
        r.n_buckets: r
        for r in pipeline_packing_efficiency_curve(spark, sf_dir).collect()
    }
    assert set(rows) == {1, 2, 4, 8}
    # real token mass is bucket-invariant; padding never beats real
    totals = {r.real_tokens for r in rows.values()}
    assert len(totals) == 1
    for r in rows.values():
        assert r.padded_tokens >= r.real_tokens
        assert 0.0 <= r.waste_ratio < 1.0
    # quantile buckets nest: max-per-bucket padding waste is monotonically
    # non-increasing as bucket count doubles
    assert (
        rows[1].padded_tokens
        >= rows[2].padded_tokens
        >= rows[4].padded_tokens
        >= rows[8].padded_tokens
    )


def test_bpe_encode_fertility_and_compression_invariants(spark):
    """ADVICE r6: text_bpe_encode_token_counts had no pytest coverage.
    Invariants: every word is at least one token (fertility >= 1), BPE
    never produces more tokens than characters (bpe_tokens <= n_chars,
    so chars_per_token >= 1), and merges only ever REDUCE the token
    count from the char-level start (bpe_tokens <= n_chars exactly
    captures that, since char-level tokenization has one token per
    char)."""

    rows = text_bpe_encode_token_counts(
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert rows, "expected at least one language"
    for r in rows:
        assert r.n_words > 0
        assert r.fertility >= 1.0, r
        assert r.bpe_tokens <= r.n_chars, r
        assert r.bpe_tokens >= r.n_words, r
        assert r.chars_per_token >= 1.0, r


SF001 = "/root/testdata/sf0.001"


def test_winnowing_planted_dups_fully_overlap(spark):
    """Identical planted copies share the entire fingerprint set, so the
    pair (d, d+1e6) must surface with overlap == 1.0; winnowing never
    reports more shared fingerprints than either doc has (overlap <= 1)
    and the >= 2 shared floor holds for every emitted pair."""

    rows = dedup_winnowing_fingerprints(spark, SF001).collect()
    assert rows
    planted = {
        (r.id_a, r.id_b): r for r in rows if r.id_b == r.id_a + 1_000_000
    }
    assert planted, "expected planted exact copies among pairs"
    for r in planted.values():
        assert r.overlap == 1.0, r
    for r in rows:
        assert r.n_shared >= 2
        assert 0.0 < r.overlap <= 1.0


def test_threshold_sweep_monotone_and_exact_dups_survive(spark):
    """Raising the Jaccard threshold can only shrink the surviving pair
    set (n_pairs, n_truth_hit, recall all non-increasing), and planted
    EXACT copies have j = 1.0, so recall at the top threshold is 1.0."""

    rows = sorted(
        dedup_threshold_sweep_pr(spark, SF001).collect(),
        key=lambda r: r.threshold,
    )
    assert [r.threshold for r in rows] == [0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]
    for a, b in zip(rows, rows[1:]):
        assert a.n_pairs >= b.n_pairs
        assert a.n_truth_hit >= b.n_truth_hit
        assert a.recall_at_t >= b.recall_at_t
    assert rows[-1].recall_at_t == 1.0
    for r in rows:
        assert r.n_truth_hit <= r.n_pairs
        assert 0.0 <= r.precision_at_t <= 1.0


def test_shard_leakage_partitions_all_pairs(spark):
    """Shard-pair rows partition the verified near-dup pair set exactly:
    per-cell counts sum to the total, orientation is normalized
    (shard_a <= shard_b), and cross_shard is derived consistently."""
    import healthcare_data_lakehouse_spark.functions.dedup as D

    rows = pipeline_shard_dup_leakage(spark, SF001).collect()
    total = D.lsh_candidate_pairs(
        _docs_with_dups(spark, SF001, 20), threshold=0.5
    ).count()
    assert sum(r.n_pairs for r in rows) == total
    for r in rows:
        assert 0 <= r.shard_a <= r.shard_b < 8
        assert r.cross_shard == int(r.shard_a != r.shard_b)


def test_script_mix_covers_corpus_and_classifies_consistently(spark):
    """Every document lands in exactly one (lang, profile) cell, profiles
    are consistent with the measured ratios (a latin-profile cell has
    zero CJK mass by definition), and ratios stay in [0, 1]. The
    synthetic fixture is Latin-script for every declared lang — the
    audit exists precisely to surface that declared lang and script
    disagree, so a CJK classifier is exercised separately below."""
    from healthcare_data_lakehouse_spark.tables import table

    rows = text_script_mix_audit(spark, SF001).collect()
    n_docs = table(spark, SF001, "documents").count()
    assert sum(r.n_docs for r in rows) == n_docs
    assert {r.script_profile for r in rows} <= {
        "latin", "cjk", "cyrillic", "mixed"
    }
    for r in rows:
        assert 0.0 <= r.avg_cjk_ratio <= 1.0
        assert 0.0 <= r.avg_latin_ratio <= 1.0
        if r.script_profile == "latin":
            assert r.avg_cjk_ratio == 0.0
        if r.script_profile == "cjk":
            assert r.avg_cjk_ratio > 0.0
    # the classifier itself, pinned on real CJK/Cyrillic content
    from pyspark.sql import Row

    probe = spark.createDataFrame(
        [
            Row(doc_id=1, text="模型 训练 数据", lang="zh", source="s", n_chars=6),
            Row(doc_id=2, text="данные модели", lang="ru", source="s", n_chars=13),
            Row(doc_id=3, text="mixed 数据 данные", lang="en", source="s", n_chars=15),
            Row(doc_id=4, text="plain latin text", lang="en", source="s", n_chars=16),
        ]
    )
    import healthcare_data_lakehouse_spark.queries.llm_text as L
    from healthcare_data_lakehouse_spark.tables import table as _table
    import unittest.mock as mock

    with mock.patch.object(L, "table", lambda *_a, **_k: probe):
        got = {
            (r.lang, r.script_profile)
            for r in L.text_script_mix_audit(spark, SF001).collect()
        }
    assert got == {
        ("zh", "cjk"), ("ru", "cyrillic"), ("en", "mixed"), ("en", "latin")
    }, got


def test_doremi_step_normalizes_and_orders_by_excess(spark):
    """New weights are a distribution (sum 1, all positive) and the
    reweighting ratio new_weight/token_share is monotone in excess —
    exactly the exponentiated-gradient direction."""

    rows = pipeline_doremi_mixture_step(spark, SF001).collect()
    assert abs(sum(r.new_weight for r in rows) - 1.0) < 1e-4
    assert abs(sum(r.token_share for r in rows) - 1.0) < 1e-4
    assert all(r.new_weight > 0 for r in rows)
    by_excess = sorted(rows, key=lambda r: r.excess)
    ratios = [r.new_weight / r.token_share for r in by_excess]
    assert all(a <= b + 1e-9 for a, b in zip(ratios, ratios[1:])), ratios


def test_l_diversity_bounds(spark):
    """l never exceeds the band cardinality (4) nor the class size, the
    below_l3 flag matches l, and class sizes sum to the table size."""
    from healthcare_data_lakehouse_spark.tables import table

    rows = privacy_l_diversity_audit(spark, SF001).collect()
    n_cust = table(spark, SF001, "customer").count()
    assert sum(r.k_size for r in rows) == n_cust
    for r in rows:
        assert 1 <= r.l_distinct <= min(4, r.k_size)
        assert r.below_l3 == int(r.l_distinct < 3)


def test_band_planner_s_curve_tradeoffs(spark):
    """More bands with shorter rows = higher recall AND more candidate
    load (the S-curve shifts left): expected_candidates and recall_at_05
    are both monotone non-decreasing in n_bands across the b*r=12 grid;
    every probability-derived column stays in-range; planted exact
    copies (j=1) are detected by EVERY config, so recall never hits 0."""

    rows = sorted(
        dedup_minhash_band_planner(spark, SF001).collect(),
        key=lambda r: r.n_bands,
    )
    assert [(r.n_bands, r.rows_per_band) for r in rows] == [
        (1, 12), (2, 6), (3, 4), (4, 3), (6, 2), (12, 1)
    ]
    for a, b in zip(rows, rows[1:]):
        assert a.expected_candidates <= b.expected_candidates + 1e-9
        assert a.recall_at_05 <= b.recall_at_05 + 1e-9
    for r in rows:
        assert 0.0 < r.recall_at_05 <= 1.0
        assert 0.0 <= r.lowj_share < 1.0
        assert r.expected_candidates > 0.0


def test_embedding_decontamination_eval_neighbors_flagged(spark):
    """Every corpus vector gets exactly one row with its argmax eval
    neighbor; cosines live in [-1, 1]; the contaminated flag matches the
    0.9 threshold; and eval vectors themselves never appear as corpus
    rows (the eval set is held out by construction)."""
    from healthcare_data_lakehouse_spark.tables import table

    rows = pipeline_embedding_decontamination(spark, SF001).collect()
    emb_n = table(spark, SF001, "embeddings").count()
    eval_n = (
        table(spark, SF001, "embeddings")
        .filter(F.col("vec_id") % 50 == 0)
        .count()
    )
    assert len(rows) == emb_n - eval_n
    assert len({r.vec_id for r in rows}) == len(rows)
    for r in rows:
        assert r.nearest_eval_id % 50 == 0
        assert -1.0 <= r.max_cos <= 1.0
        assert r.contaminated == int(r.max_cos >= 0.9)


def test_leakage_free_split_evicts_test_neighbors(spark):
    """Bucket doc counts partition the (augmented) corpus; evicted docs
    exist iff some near-dup pair crosses the split boundary; and every
    planted copy of a TEST doc is evicted from train when the hash split
    assigned it to train."""
    import healthcare_data_lakehouse_spark.functions.dedup as D

    rows = {r.bucket: r for r in sample_leakage_free_split(spark, SF001).collect()}
    assert set(rows) <= {"train", "test", "train_removed"}
    total = _docs_with_dups(spark, SF001, 20).count()
    assert sum(r.n_docs for r in rows.values()) == total
    assert rows["test"].n_docs > 0 and rows["train"].n_docs > 0
    # cross-boundary near-dup pairs exist in this fixture (planted copies
    # hash independently of their originals), so eviction must trigger
    assert "train_removed" in rows and rows["train_removed"].n_docs > 0
    for r in rows.values():
        assert r.n_tokens >= r.n_docs  # every doc has at least one token


def test_unigram_viterbi_invariants_and_pinned_case(spark):
    """Fixture invariants: every word yields at least ceil(len/4) and at
    most len pieces, so 1 <= pieces_per_word and 1 <= chars_per_piece <= 4.
    Pinned micro-case: 'abcd' segments as one 4-char piece (fewest
    pieces), and 'ababab' (len 6) needs exactly 2 pieces."""
    from unittest import mock

    from pyspark.sql import Row

    import healthcare_data_lakehouse_spark.queries.llm_text as L

    rows = L.text_unigram_viterbi_segment(spark, SF001).collect()
    assert rows and {r.lang for r in rows} == {"de", "en", "es", "fr", "zh"}
    for r in rows:
        assert r.pieces_per_word >= 1.0
        assert 1.0 <= r.chars_per_piece <= 4.0
        assert r.total_pieces >= r.n_words

    probe = spark.createDataFrame(
        [
            Row(doc_id=1, text="abcd ababab", lang="xx", source="s", n_chars=11),
        ]
    )
    with mock.patch.object(L, "table", lambda *_a, **_k: probe):
        got = {r.lang: r for r in
               L.text_unigram_viterbi_segment(spark, SF001).collect()}
    r = got["xx"]
    # 'abcd' -> 1 piece, 'ababab' -> 2 pieces (e.g. 'aba'+'bab' or
    # 'abab'+'ab'); total = 3 pieces over 2 words
    assert r.n_words == 2
    assert r.total_pieces == 3


def test_unigram_em_usage_head_and_pinned_case(spark):
    """Usage head invariants: shares are a (partial) distribution over
    the top-20, every piece is 1-4 chars, n_words never exceeds usage.
    Pinned micro-case: 'abcd abcd ab' re-estimates usage {abcd: 2, ab: 1}
    — each word is one optimal piece, weighted by corpus frequency."""
    from unittest import mock

    from pyspark.sql import Row

    import healthcare_data_lakehouse_spark.queries.llm_text as L

    rows = L.text_unigram_lm_em_round(spark, SF001).collect()
    assert 0 < len(rows) <= 20
    assert sum(r.usage_share for r in rows) <= 1.0 + 1e-9
    usages = [r.usage for r in rows]
    assert usages == sorted(usages, reverse=True)
    for r in rows:
        assert 1 <= len(r.piece) <= 4
        assert r.n_words <= r.usage

    probe = spark.createDataFrame(
        [Row(doc_id=1, text="abcd abcd ab", lang="xx", source="s", n_chars=12)]
    )
    with mock.patch.object(L, "table", lambda *_a, **_k: probe):
        got = {r.piece: r.usage for r in
               L.text_unigram_lm_em_round(spark, SF001).collect()}
    assert got == {"abcd": 2, "ab": 1}, got


def test_curriculum_phases_quality_monotone_and_partition(spark):
    """Phases partition the corpus (doc counts differ by at most 1 per
    NTILE contract, token sums partition the total), mean quality is
    strictly ordered easy-to-hard, and cumulative share ends at 1.0."""
    from healthcare_data_lakehouse_spark.tables import table

    rows = sorted(
        pipeline_curriculum_phases(spark, SF001).collect(),
        key=lambda r: r.phase,
    )
    assert [r.phase for r in rows] == [1, 2, 3, 4]
    n_docs = table(spark, SF001, "documents").count()
    assert sum(r.n_docs for r in rows) == n_docs
    assert max(r.n_docs for r in rows) - min(r.n_docs for r in rows) <= 1
    quals = [r.mean_quality for r in rows]
    assert quals == sorted(quals, reverse=True)
    assert abs(rows[-1].cum_token_share - 1.0) < 1e-9
    shares = [r.cum_token_share for r in rows]
    assert shares == sorted(shares)


def test_multiprobe_dominates_single_probe(spark):
    """Multi-probe's candidate set is a superset of single-probe's, so at
    every rank its score is >= the single-probe score; both return at
    most k rows sorted descending."""

    multi = similarity_lsh_multiprobe_top5(spark, SF001).collect()
    single = similarity_lsh_top5(spark, SF001).collect()
    assert 0 < len(multi) <= 5
    ms = [r.score for r in multi]
    assert ms == sorted(ms, reverse=True)
    for i, r in enumerate(single):
        if i < len(multi):
            assert multi[i].score >= r.score - 1e-9


def test_bcubed_recall_perfect_on_exact_copies(spark):
    """Planted EXACT copies always survive banding+verification, so every
    truth cluster is contained in a found cluster: B-cubed recall is
    exactly 1.0 and only over-merging can pull precision below 1.0."""

    r = dedup_bcubed_cluster_eval(spark, SF001).collect()[0]
    assert r.n_docs == _docs_with_dups(spark, SF001, 20).count()
    assert r.bcubed_recall == 1.0
    assert 0.5 < r.bcubed_precision <= 1.0
    lo, hi = sorted([r.bcubed_precision, r.bcubed_recall])
    assert lo - 1e-6 <= r.bcubed_f1 <= hi + 1e-6


def test_multiprobe_recall_dominates_single_probe_recall(spark):
    """Per query, the multi-probe candidate set contains the single-probe
    set, so recall@5 can only rise; the panel covers all 10 queries."""

    single = {
        r.query_id: r.recall_at_5
        for r in similarity_recall_lsh_at5(spark, SF001).collect()
    }
    multi = {
        r.query_id: r.recall_at_5
        for r in similarity_recall_multiprobe_at5(spark, SF001).collect()
    }
    assert set(multi) == set(range(10))
    for qid, rec in multi.items():
        assert rec >= single.get(qid, 0.0) - 1e-9, (qid, rec, single.get(qid))


def test_kmv_estimate_bounds_and_small_day_exactness(spark):
    """Days with fewer than k users report the exact kept count
    (rel_error 0); estimates stay positive; relative error is bounded
    well inside the k=64 theoretical ~1/sqrt(k-1) envelope x a safety
    factor."""

    rows = sketch_kmv_distinct_users(spark, SF001).collect()
    assert rows
    for r in rows:
        assert r.kmv_estimate > 0
        if r.exact_users < 64:
            assert r.kmv_estimate == float(r.exact_users)
            assert r.rel_error == 0.0
        else:
            assert r.rel_error < 0.5


def test_clustering_coefficient_bands_partition_nodes(spark):
    """Band node counts partition the graph's node set; planted exact
    copies form 2-cliques (degree>=1); avg_lcc stays within [0, 1]."""
    import healthcare_data_lakehouse_spark.functions.dedup as D
    from pyspark.sql import functions as F

    rows = graph_clustering_coefficient_neardup(spark, SF001).collect()
    pairs = D.lsh_candidate_pairs(
        _docs_with_dups(spark, SF001, 20), threshold=0.5
    )
    n_nodes = (
        pairs.select(F.col("id_a").alias("n"))
        .unionAll(pairs.select(F.col("id_b").alias("n")))
        .distinct()
        .count()
    )
    assert sum(r.n_nodes for r in rows) == n_nodes
    for r in rows:
        assert 0.0 <= r.avg_lcc <= 1.0
        assert r.avg_degree >= 1.0


def test_selectivity_compare_method_frontier(spark):
    """exact_hash is perfect precision (verified == candidates); every
    verified count never exceeds its candidate count; LSH finds at least
    the planted copies exact hashing finds; precision stays in (0, 1]."""

    rows = {
        r.method: r
        for r in dedup_candidate_selectivity_compare(spark, SF001).collect()
    }
    assert set(rows) == {"exact_hash", "minhash_lsh", "simhash_banded"}
    ex = rows["exact_hash"]
    assert ex.n_verified == ex.n_candidates
    assert ex.precision_at_05 == 1.0
    for r in rows.values():
        assert 0 <= r.n_verified <= r.n_candidates
        assert 0.0 <= r.precision_at_05 <= 1.0
    # identical planted copies are verified dups under every generator
    assert rows["minhash_lsh"].n_verified >= ex.n_candidates
    assert rows["simhash_banded"].n_verified >= ex.n_candidates


# ----------------------------- quality-classifier evaluation family


def test_roc_auc_bounds_and_signal(spark, sf_dir):
    row = stats_roc_auc_quality_vs_gopher(spark, sf_dir).collect()[0]
    assert row.n_pos > 0 and row.n_neg > 0
    assert 0.0 <= row.auc <= 1.0
    # the score and the gate share length/stopword features, so the
    # ranking must carry real signal (well above coin-flip)
    assert row.auc > 0.6
    # auc and gini are each rounded to 6 decimals from the unrounded
    # value, so the identity holds only to the rounding grid
    assert abs(row.gini - (2 * row.auc - 1)) < 2e-6


def test_calibration_ece_brier_invariants(spark, sf_dir):
    rows = quality_calibration_ece_brier(spark, sf_dir).collect()
    assert rows, "at least one populated bin"
    assert all(0 <= r.bin <= 9 for r in rows)
    # ece/brier are constant catalog-style audit columns on every row
    assert len({r.ece for r in rows}) == 1
    assert len({r.brier for r in rows}) == 1
    for r in rows:
        assert 0.0 <= r.conf <= 1.0 and 0.0 <= r.acc <= 1.0
        assert abs(r.gap - abs(r.acc - r.conf)) < 2e-6
    # ECE is a weighted mean of per-bin gaps: bounded by the max gap
    assert rows[0].ece <= max(r.gap for r in rows) + 1e-9
    assert 0.0 <= rows[0].brier <= 1.0


def test_isotonic_pav_fit_is_monotone_and_mean_preserving(spark, sf_dir):
    rows = sorted(
        stats_isotonic_calibration_pav(spark, sf_dir).collect(),
        key=lambda r: r.bin,
    )
    iso = [r.iso_rate for r in rows]
    assert iso == sorted(iso), "PAV fit must be non-decreasing"
    # weighted mean preservation: sum(n * iso) == sum(n * raw) (PAV
    # pools averages, never mass) — equality up to rounding of the
    # published 6-decimal rates
    n = [r.n_docs for r in rows]
    raw = [r.raw_rate for r in rows]
    tot = sum(n)
    assert abs(
        sum(a * b for a, b in zip(n, iso)) / tot
        - sum(a * b for a, b in zip(n, raw)) / tot
    ) < 1e-4
    # fit stays within the raw-rate envelope
    assert min(raw) - 1e-9 <= min(iso) and max(iso) <= max(raw) + 1e-9


def test_cohens_kappa_identities(spark, sf_dir):
    r = stats_cohens_kappa_quality_raters(spark, sf_dir).collect()[0]
    assert r.n == r.n11 + r.n10 + r.n01 + r.n00
    assert abs(r.po - (r.n11 + r.n00) / r.n) < 1e-6
    assert -1.0 <= r.kappa <= 1.0
    # po/pe/kappa satisfy the defining identity
    assert abs(r.kappa - (r.po - r.pe) / (1 - r.pe)) < 1e-5


def test_unimax_waterfill_budget_and_caps(spark, sf_dir):
    rows = sample_unimax_language_budget(spark, sf_dir).collect()
    assert rows, "every corpus has at least one language"
    total_mass = sum(r.lang_tokens for r in rows)
    budget = 2 * total_mass
    # the 4-epoch repeat cap binds per language ...
    for r in rows:
        assert r.alloc_tokens <= r.cap_tokens + 1e-6
        assert r.epochs <= 4.0 + 1e-6
        assert abs(r.epochs - r.alloc_tokens / r.lang_tokens) < 1e-4
    # ... and the water-filling exhausts the 2x-corpus budget exactly
    # (B = 2T < 4T = total capacity, so full spend is always feasible)
    assert abs(sum(r.alloc_tokens for r in rows) - budget) < 1e-2 * budget
    assert abs(sum(r.alloc_share for r in rows) - 1.0) < 1e-3
    # every unsaturated language sits at the common water level
    unsat = [r.alloc_tokens for r in rows if r.alloc_tokens < r.cap_tokens]
    if len(unsat) > 1:
        assert max(unsat) - min(unsat) < 1e-4


def test_bm25_topk_ranking_contract(spark, sf_dir):
    rows = text_bm25_topk(spark, sf_dir).collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append(r)
    assert set(by_q) == {"q1", "q2", "q3"}
    for q, rs in by_q.items():
        rs.sort(key=lambda r: r.rank)
        assert [r.rank for r in rs] == [1, 2, 3, 4, 5]
        scores = [r.score for r in rs]
        assert scores == sorted(scores, reverse=True)
        assert all(s > 0 for s in scores)
        assert all(1 <= r.n_terms_matched <= 3 for r in rs)


def test_bloom_fpr_matches_occupancy_model(spark, sf_dir):
    r = sketch_bloom_filter_fpr(spark, sf_dir).collect()[0]
    assert r.n_nonmembers > 0, "held-out shard is 1/3 of the keyspace"
    assert r.n_members > 0 and r.false_positives is not None
    assert 0 < r.bits_set <= min(r.m_bits, r.k_hashes * r.n_members)
    assert abs(r.occupancy - r.bits_set / r.m_bits) < 1e-6
    assert abs(r.fpr_expected - r.occupancy**3) < 1e-5
    # the rho^k independence model should be close on md5-uniform hashes
    assert abs(r.fpr_measured - r.fpr_expected) < 0.1


def test_good_turing_mass_identities(spark, sf_dir):
    rows = text_good_turing_trigrams(spark, sf_dir).collect()
    assert rows
    total = rows[0].total_trigrams
    assert sum(r.r * r.n_r for r in rows) == total
    assert all(abs(r.missing_mass - rows[0].missing_mass) < 1e-12 for r in rows)
    assert 0.0 <= rows[0].missing_mass < 1.0
    for r in rows:
        if r.r_star is not None:
            assert r.r_star > 0


def test_mattr_bounds_and_window_math(spark, sf_dir):
    rows = text_mattr_lexical_diversity(spark, sf_dir).collect()
    assert rows
    for r in rows:
        # a 50-token window of a ~40-word vocab cannot be all-distinct
        assert 0.0 < r.pooled_mattr <= 1.0
        assert 0.0 < r.pooled_ttr <= 1.0
        # fixed-window MATTR always reads above the length-penalized TTR
        # on long repetitive docs
        assert r.pooled_mattr >= r.pooled_ttr
        assert r.n_windows >= r.n_docs


def test_pps_systematic_draw_count_and_weights(spark, sf_dir):
    rows = sample_pps_systematic_suppliers(spark, sf_dir).collect()
    assert sum(r.n_hits for r in rows) == 20, "exactly n draws land"
    for r in rows:
        assert r.n_hits >= 1
        # multiplicity can't exceed the expected count by more than 1
        # (systematic PPS property: |hits - E[hits]| < 1)
        assert abs(r.n_hits - r.expected_hits) < 1.0


def test_lpa_communities_partition_the_neardup_nodes(spark, sf_dir):
    from healthcare_data_lakehouse_spark.functions import dedup as D

    rows = graph_label_propagation_communities(spark, sf_dir).collect()
    assert rows and all(r.n_nodes >= 1 for r in rows)
    pairs = D.lsh_candidate_pairs(
        _docs_with_dups(spark, sf_dir, 20), threshold=0.5
    )
    import pyspark.sql.functions as F

    n_nodes = (
        pairs.select(F.col("id_a").alias("n"))
        .unionAll(pairs.select("id_b"))
        .distinct()
        .count()
    )
    # labels form a partition: every node lands in exactly one community
    assert sum(r.n_nodes for r in rows) == n_nodes
    assert len(rows) > 1, "the injected dup clusters are not one blob"


def test_rendezvous_minimal_disruption_invariants(spark, sf_dir):
    rows = {
        r.shard: r
        for r in pipeline_shard_assignment_rendezvous(spark, sf_dir).collect()
    }
    assert set(rows) == {f"s{i}" for i in range(9)}
    n_docs = sum(r.n_before for r in rows.values())
    assert sum(r.n_after for r in rows.values()) == n_docs
    # HRW minimal disruption: pre-existing shards only ever LOSE docs
    for i in range(8):
        r = rows[f"s{i}"]
        assert r.stayed == r.n_after <= r.n_before
    # ... and every moved doc lands on the new shard
    s8 = rows["s8"]
    assert s8.n_before == 0 and s8.stayed == 0
    assert s8.n_after == s8.moved_total
    # expected churn ~1/9
    assert 0.02 < s8.moved_total / n_docs < 0.25


def test_tile_manifest_covers_every_pixel_once(spark, sf_dir):
    import pyspark.sql.functions as F

    df = multimodal_tile_manifest(spark, sf_dir)
    per_asset = (
        df.groupBy("asset_id")
        .agg(
            F.sum("byte_len").alias("covered"),
            F.max(F.col("tile_x") * 128 + F.col("tile_w")).alias("w"),
            F.max(F.col("tile_y") * 128 + F.col("tile_h")).alias("h"),
        )
        .collect()
    )
    assert per_asset
    for r in per_asset:
        # disjoint tiles covering the full w*h plane exactly once
        assert r.covered == r.w * r.h
        assert 1 <= r.w <= 640 and 1 <= r.h <= 480


def test_join_cardinality_sample_is_unbiased_scale(spark, sf_dir):
    r = sketch_join_cardinality_estimate(spark, sf_dir).collect()[0]
    assert r.exact_join_size >= r.n_keys  # sum n^2 >= sum 1
    assert 0 < r.sampled_keys < r.n_keys
    assert r.estimate % 16 == 0
    # 1/16 key sample over ~uniform fan-outs stays within 50% rel err
    assert r.rel_err < 0.5


def test_jsd_symmetric_bounded_pairs(spark, sf_dir):
    rows = text_js_divergence_lang_pairs(spark, sf_dir).collect()
    langs = set()
    for r in rows:
        assert r.lang_a < r.lang_b, "each unordered pair appears once"
        langs.update([r.lang_a, r.lang_b])
        assert 0.0 <= r.jsd_nats <= 0.6931472 + 1e-6, "JSD <= ln 2"
        assert abs(r.jsd_bits - r.jsd_nats / 0.6931471805599453) < 1e-5
    n = len(langs)
    assert len(rows) == n * (n - 1) // 2


def test_adamic_adar_predicts_only_nonedges(spark, sf_dir):
    from healthcare_data_lakehouse_spark.tables import table
    import pyspark.sql.functions as F

    df = graph_adamic_adar_link_prediction(spark, sf_dir)
    rows = df.collect()
    assert rows
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    a, b = li.alias("a"), li.alias("b")
    edges = {
        (r.u, r.v)
        for r in a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") != F.col("b.l_partkey")),
        )
        .select(
            F.col("a.l_partkey").alias("u"), F.col("b.l_partkey").alias("v")
        )
        .distinct()
        .collect()
    }
    for r in rows:
        assert r.source_part % 97 == 0
        assert (r.source_part, r.candidate_part) not in edges
        assert r.n_common >= 1 and r.adamic_adar > 0
        assert 1 <= r.rnk <= 5


def test_flesch_readability_matches_bruteforce(spark, sf_dir):
    import re

    import pandas as pd


    rows = {
        r.lang: r for r in text_readability_flesch(spark, sf_dir).collect()
    }
    assert set(rows) == {"en", "es", "de", "fr"}

    docs = pd.read_parquet(f"{sf_dir}/documents.parquet")
    docs = docs[docs["lang"].isin(["en", "es", "de", "fr"])]

    def per_doc(text):
        sents = max(1, len(re.findall(r"[.!?]", text)))
        words = len(re.split(r"\s+", text.strip()))
        vg = len(re.findall(r"[aeiouy]+", text.lower()))
        sylls = max(words, vg)
        return words / sents, sylls / words

    for lang, grp in docs.groupby("lang"):
        stats = [per_doc(t) for t in grp["text"]]
        wps = sum(s[0] for s in stats) / len(stats)
        spw = sum(s[1] for s in stats) / len(stats)
        flesch = sum(
            206.835 - 1.015 * s[0] - 84.6 * s[1] for s in stats
        ) / len(stats)
        r = rows[lang]
        assert r.n_docs == len(grp)
        assert abs(r.words_per_sentence - wps) < 1e-3
        assert abs(r.syllables_per_word - spw) < 1e-3
        assert abs(r.flesch_reading_ease - flesch) < 1e-3
        # the vowel-group floor guarantees at least one syllable per word
        assert r.syllables_per_word >= 1.0


def test_horvitz_thompson_identities(spark, sf_dir):
    import hashlib

    import pandas as pd


    r = sample_horvitz_thompson_chars(spark, sf_dir).collect()[0]

    docs = pd.read_parquet(f"{sf_dir}/documents.parquet")
    x = int(docs["n_chars"].sum())
    ht = 0.0
    n_sampled = 0
    for doc_id, nc in zip(docs["doc_id"], docs["n_chars"]):
        u = (
            int(hashlib.md5(str(doc_id).encode()).hexdigest()[:12], 16)
            / 281474976710656.0
        )
        pi = min(1.0, 200.0 * nc / x)
        if u < pi:
            n_sampled += 1
            ht += nc / pi
    assert r.n_docs == len(docs)
    assert r.true_total == x
    assert r.n_sampled == n_sampled
    assert abs(r.ht_total - ht) < 0.5
    # design-unbiasedness sanity: estimate lands within a few SEs of truth
    assert abs(r.ht_total - x) < 6 * max(r.se_est, 1.0)


def test_fleiss_kappa_matches_bruteforce(spark, sf_dir):
    r = stats_fleiss_kappa_quality_raters(spark, sf_dir).collect()[0]

    rows = _quality_vs_gopher(spark, sf_dir).collect()
    n = len(rows)
    votes = [
        row.label + (1 if row.q >= 0.55 else 0) + (1 if row.q >= 0.45 else 0)
        for row in rows
    ]
    s1 = sum(votes)
    p_bar = sum(v * v + (3 - v) * (3 - v) - 3 for v in votes) / (6.0 * n)
    p1 = s1 / (3.0 * n)
    p_e = p1 * p1 + (1 - p1) * (1 - p1)
    kappa = (p_bar - p_e) / (1 - p_e)

    assert r.n_docs == n and r.votes_keep == s1
    assert abs(r.p_bar - p_bar) < 1e-5
    assert abs(r.fleiss_kappa - kappa) < 1e-5
    assert -1.0 <= r.fleiss_kappa <= 1.0


def test_mcnemar_matches_kappa_cells(spark, sf_dir):
    r = stats_mcnemar_quality_raters(spark, sf_dir).collect()[0]
    rows = _quality_vs_gopher(spark, sf_dir).collect()
    n10 = sum(1 for x in rows if x.label == 1 and x.q < 0.55)
    n01 = sum(1 for x in rows if x.label == 0 and x.q >= 0.55)
    assert r.gopher_only_keeps == n10
    assert r.score_only_keeps == n01
    assert abs(r.mcnemar_chi2 - (n10 - n01) ** 2 / (n10 + n01)) < 1e-3
    # continuity correction only ever shrinks the statistic
    assert r.mcnemar_chi2_cc <= r.mcnemar_chi2 + 1e-9


def test_cdc_chunks_match_bruteforce(spark, sf_dir):
    import hashlib
    from collections import Counter

    import pandas as pd


    r = dedup_content_defined_chunks(spark, sf_dir).collect()[0]

    docs = pd.read_parquet(f"{sf_dir}/documents.parquet")
    counter = Counter()
    total_chunks = 0
    tok_total = 0
    for text in docs["text"]:
        toks = text.split(" ")
        chunk = []
        for t in toks:
            chunk.append(t)
            if int(hashlib.md5(t.encode()).hexdigest()[0], 16) % 8 == 0:
                counter[" ".join(chunk)] += 1
                total_chunks += 1
                tok_total += len(chunk)
                chunk = []
        if chunk:
            counter[" ".join(chunk)] += 1
            total_chunks += 1
            tok_total += len(chunk)
    assert r.n_chunks == total_chunks
    assert r.n_unique_chunks == len(counter)
    assert abs(r.avg_chunk_tokens - tok_total / total_chunks) < 1e-3
    assert r.max_chunk_reuse == max(counter.values())
    assert 0.0 <= r.dup_chunk_frac < 1.0


def test_burrows_delta_is_metric_like(spark, sf_dir):
    rows = text_burrows_delta_sources(spark, sf_dir).collect()
    # 20 sources -> C(20,2) unordered pairs, canonical orientation
    assert len(rows) == 190
    for r in rows:
        assert r.source_a < r.source_b
        assert r.burrows_delta >= 0
    # symmetry of the construction: every source appears in 19 pairs
    from collections import Counter

    c = Counter()
    for r in rows:
        c[r.source_a] += 1
        c[r.source_b] += 1
    assert set(c.values()) == {19}


def test_vad_energy_matches_bruteforce(spark, sf_dir):
    import hashlib

    import pandas as pd


    rows = {
        r.source: r for r in multimodal_audio_vad_energy(spark, sf_dir).collect()
    }

    docs = pd.read_parquet(f"{sf_dir}/documents.parquet")
    agg: dict = {}
    for doc_id, src in zip(docs["doc_id"], docs["source"]):
        hx = "".join(
            hashlib.md5(f"{doc_id}:{i}".encode()).hexdigest() for i in range(4)
        )
        data = bytes.fromhex(hx)
        st = agg.setdefault(src, [0, 0, 0])  # windows, voiced, energy
        for w in range(4):
            e = sum((b - 128) ** 2 for b in data[16 * w : 16 * w + 16])
            st[0] += 1
            st[1] += int(e > 90_000)
            st[2] += e
    assert set(rows) == set(agg)
    for src, (nw, nv, en) in agg.items():
        r = rows[src]
        assert r.n_windows == nw
        assert r.n_voiced == nv
        assert abs(r.avg_energy - en / nw) < 0.01
        assert 0.0 <= r.voiced_frac <= 1.0


def test_chao1_matches_bruteforce(spark, sf_dir):
    from collections import Counter

    import pandas as pd


    r = text_chao1_vocab_richness(spark, sf_dir).collect()[0]

    docs = pd.read_parquet(f"{sf_dir}/documents.parquet")
    c = Counter()
    for t in docs["text"]:
        c.update(w for w in t.split(" ") if w)
    s = len(c)
    f1 = sum(1 for v in c.values() if v == 1)
    f2 = sum(1 for v in c.values() if v == 2)
    n = sum(c.values())
    chao1 = s + f1 * f1 / (2 * (f2 + 1)) - f1 * f2 / (2 * (f2 + 1) ** 2)
    assert (r.s_obs, r.f1, r.f2, r.n_tokens) == (s, f1, f2, n)
    assert abs(r.chao1_estimate - chao1) < 0.05
    # the estimator can only add unseen species
    assert r.chao1_estimate >= s
    assert 0.0 <= r.good_turing_coverage <= 1.0


def test_platt_scaling_matches_bruteforce_newton(spark, sf_dir):
    import math


    r = stats_platt_scaling_newton(spark, sf_dir).collect()[0]

    rows = [(x.q, float(x.label)) for x in _quality_vs_gopher(spark, sf_dir).collect()]
    b0 = b1 = 0.0
    for _ in range(3):
        sw = swq = swqq = g0 = g1 = 0.0
        for q, y in rows:
            p = 1.0 / (1.0 + math.exp(-(b0 + b1 * q)))
            w = p * (1 - p)
            sw += w
            swq += w * q
            swqq += w * q * q
            g0 += y - p
            g1 += (y - p) * q
        det = sw * swqq - swq * swq
        b0 += (swqq * g0 - swq * g1) / det
        b1 += (sw * g1 - swq * g0) / det
    assert abs(r.platt_b0 - b0) < 1e-2
    assert abs(r.platt_b1 - b1) < 1e-2
    # a calibrated monotone score must separate better than chance
    assert r.accuracy > 0.5
    assert r.platt_b1 > 0  # higher quality -> higher pass probability
    assert r.mean_nll < math.log(2)  # beats the uninformative coin


def test_vocab_jaccard_matches_bruteforce(spark, sf_dir):
    import pandas as pd


    rows = {
        (r.source_a, r.source_b): r
        for r in text_vocab_jaccard_sources(spark, sf_dir).collect()
    }
    assert len(rows) == 190

    docs = pd.read_parquet(f"{sf_dir}/documents.parquet")
    vocab: dict = {}
    for src, g in docs.groupby("source"):
        v: set = set()
        for t in g["text"]:
            v.update(t.split(" "))
        vocab[src] = v
    srcs = sorted(vocab)
    for i, a in enumerate(srcs):
        for b in srcs[i + 1 :]:
            inter = len(vocab[a] & vocab[b])
            r = rows[(a, b)]
            assert r.n_inter == inter
            assert (
                abs(r.vocab_jaccard - inter / len(vocab[a] | vocab[b])) < 1e-5
            )
            assert (
                abs(
                    r.vocab_containment
                    - inter / min(len(vocab[a]), len(vocab[b]))
                )
                < 1e-5
            )
            assert r.vocab_jaccard <= r.vocab_containment + 1e-9


def test_span_merge_intervals_pinned(spark):
    """Pinned micro-corpus for the ExactSubstr merge pass: two docs share
    a 10-token run (3 overlapping duplicated 8-gram spans -> ONE merged
    island of 10 tokens) and a separate 8-token run (1 span -> its own
    island), separated by per-doc-unique filler so no cross-boundary
    8-gram duplicates."""
    from unittest import mock

    from pyspark.sql import Row

    import healthcare_data_lakehouse_spark.queries.llm_dedup as LD

    s1 = "a b c d e f g h i j"          # 10 shared tokens
    s2 = "p q r s t u v w"              # 8 shared tokens
    probe = spark.createDataFrame(
        [
            Row(doc_id=1, text=f"{s1} x1 x2 x3 {s2}"),          # 21 tokens
            Row(doc_id=2, text=f"y1 y2 {s1} y3 y4 y5 y6 {s2}"),  # 24 tokens
        ]
    )
    with mock.patch.object(LD, "_docs_with_dups", lambda *_a, **_k: probe):
        rows = {
            r.doc_id: r
            for r in LD.dedup_span_merge_intervals(spark, "unused").collect()
        }
    assert set(rows) == {1, 2}
    r1, r2 = rows[1], rows[2]
    # doc1: S1 spans start 1,2,3 -> island [1,10]; S2 span at 14 -> [14,21]
    assert (r1.n_tokens, r1.n_dup_spans, r1.n_islands, r1.dup_tokens) == (
        21, 4, 2, 18,
    )
    assert abs(r1.dup_token_ratio - 18 / 21) < 1e-6
    # doc2: S1 spans start 3,4,5 -> island [3,12]; S2 span at 17 -> [17,24]
    assert (r2.n_tokens, r2.n_dup_spans, r2.n_islands, r2.dup_tokens) == (
        24, 4, 2, 18,
    )
    assert abs(r2.dup_token_ratio - 0.75) < 1e-6


def test_khop_expansion_profile_pinned_path_graph(spark):
    """Path graph 997 - 1 - 2 - 3 (co-order edges from three 2-part
    orders): seed 997 reaches exactly one new node per hop, so the
    profile is (hop0: 1, hop1: 1, hop2: 1) with reach_frac 1/4, 2/4,
    3/4 over the 4-node graph; node 3 (hop 3) is beyond the cap and
    never counted."""
    from unittest import mock

    from pyspark.sql import Row

    import healthcare_data_lakehouse_spark.queries.llm_graph_stats as LG

    probe = spark.createDataFrame(
        [
            Row(l_orderkey=1, l_partkey=997),
            Row(l_orderkey=1, l_partkey=1),
            Row(l_orderkey=2, l_partkey=1),
            Row(l_orderkey=2, l_partkey=2),
            Row(l_orderkey=3, l_partkey=2),
            Row(l_orderkey=3, l_partkey=3),
        ]
    )
    with mock.patch.object(LG, "table", lambda *_a, **_k: probe):
        rows = sorted(
            LG.graph_khop_expansion_profile(spark, "unused").collect(),
            key=lambda r: r.hop,
        )
    assert [(r.seed_part, r.hop, r.n_first_reached, r.cum_reached)
            for r in rows] == [(997, 0, 1, 1), (997, 1, 1, 2), (997, 2, 1, 3)]
    assert [round(r.reach_frac, 6) for r in rows] == [0.25, 0.5, 0.75]


def test_simhash_block_index_pinned_and_exact(spark):
    """The 4x8-bit block index is EXACT for Hamming <= 3 by pigeonhole:
    on a micro-corpus its pair set must equal brute-force all-pairs
    popcount filtering. An exact-duplicate pair surfaces at distance 0;
    an unrelated doc (disjoint shingles -> ~Binomial(32,.5) distance)
    never pairs."""
    from itertools import combinations
    from unittest import mock

    from pyspark.sql import Row

    import healthcare_data_lakehouse_spark.queries.llm_dedup as LD
    from healthcare_data_lakehouse_spark.functions import dedup as D

    shared = " ".join(f"t{i}" for i in range(20))
    probe = spark.createDataFrame(
        [
            Row(doc_id=1, text=shared),
            Row(doc_id=2, text=shared),
            Row(doc_id=7, text=" ".join(f"z{i}" for i in range(20))),
        ]
    )
    with mock.patch.object(LD, "table", lambda *_a, **_k: probe):
        got = {
            (r.id_a, r.id_b): r.hamming
            for r in LD.dedup_simhash_block_index(spark, "unused").collect()
        }
    assert got[(1, 2)] == 0
    assert all(7 not in pair for pair in got)

    # brute-force referee over the same shingle-feature signatures
    feats = probe.select(
        "doc_id", F.explode(D.word_shingles(F.col("text"), 3)).alias("f")
    )
    sigs = {
        r.doc_id: r.simhash
        for r in D.simhash32_features(feats, "doc_id", "f").collect()
    }
    want = {
        (a, b): bin(sigs[a] ^ sigs[b]).count("1")
        for a, b in combinations(sorted(sigs), 2)
        if bin(sigs[a] ^ sigs[b]).count("1") <= 3
    }
    assert got == want


def test_effective_token_yield_pinned(spark):
    """Pinned micro-corpus: doc 10 gets an exact mirror (killed by
    fingerprint dedup), doc 12 gets a suffix-wrapped near mirror (its
    10 copied tokens are the keep-first span cut list, charged to the
    mirror), doc 3 is untouched."""
    from unittest import mock

    from pyspark.sql import Row

    import healthcare_data_lakehouse_spark.queries.llm_pipeline as LP

    probe = spark.createDataFrame(
        [
            Row(doc_id=10, text="a b c d e f g h i j", lang="en",
                source="s1", n_chars=19),
            Row(doc_id=12, text="p q r s t u v w x y", lang="en",
                source="s2", n_chars=19),
            Row(doc_id=3, text="z1 z2 z3", lang="en", source="s1",
                n_chars=8),
        ]
    )
    with mock.patch.object(LP, "table", lambda *_a, **_k: probe):
        rows = {
            r.source: r
            for r in LP.pipeline_effective_token_yield(
                spark, "unused"
            ).collect()
        }
    assert set(rows) == {"s1", "s2", "mirror"}
    s1, s2, mi = rows["s1"], rows["s2"], rows["mirror"]
    assert (s1.raw_docs, s1.raw_tokens, s1.kept_docs, s1.kept_tokens,
            s1.removable_span_tokens, s1.effective_tokens) == (
        2, 13, 2, 13, 0, 13,
    )
    assert s1.token_yield == 1.0
    assert (s2.raw_docs, s2.raw_tokens, s2.kept_docs, s2.kept_tokens,
            s2.removable_span_tokens, s2.effective_tokens) == (
        1, 10, 1, 10, 0, 10,
    )
    # mirror: exact copy of doc 10 (10 tok, fp-killed) + near copy of
    # doc 12 (13 tok, kept, its 10 copied tokens removable)
    assert (mi.raw_docs, mi.raw_tokens, mi.kept_docs, mi.kept_tokens,
            mi.removable_span_tokens, mi.effective_tokens) == (
        2, 23, 1, 13, 10, 3,
    )
    assert abs(mi.token_yield - 3 / 23) < 1e-6


def test_ivf_list_balance_invariants(spark):
    """List counts partition the corpus, shares sum to 1, the mean
    balance factor is 1 by construction, and every centroid owns at
    least its own vector."""
    from healthcare_data_lakehouse_spark.tables import table as _table

    sf = "/root/testdata/sf0.001"
    rows = similarity_ivf_list_balance(spark, sf).collect()
    k = len(_IVF_CENTROID_IDS)
    assert len(rows) == k
    assert sorted(r.cid for r in rows) == sorted(_IVF_CENTROID_IDS)
    total = _table(spark, sf, "embeddings").count()
    assert sum(r.n_vecs for r in rows) == total
    assert abs(sum(r.list_share for r in rows) - 1.0) < 1e-4
    assert abs(sum(r.balance_factor for r in rows) / k - 1.0) < 1e-4
    assert all(r.n_vecs >= 1 for r in rows)


def test_kneser_ney_bigram_pinned_and_bruteforce(spark):
    """Pinned micro-corpus: 'san francisco' is the most frequent bigram
    but 'francisco' has fan-in 1 (only ever follows 'san'), so its
    continuation probability is LOW relative to its raw frequency — the
    canonical KN demotion. Every reported probability is re-derived by
    brute force from the same corpus."""
    from collections import Counter
    from unittest import mock

    from pyspark.sql import Row

    import healthcare_data_lakehouse_spark.queries.llm_text as L

    texts = [
        "san francisco is big",
        "san francisco is old",
        "new york is big",
        "america is very big",
    ]
    probe = spark.createDataFrame(
        [
            Row(doc_id=i, text=t, lang="en", source="s", n_chars=len(t))
            for i, t in enumerate(texts)
        ]
    )
    with mock.patch.object(L, "table", lambda *_a, **_k: probe):
        rows = L.text_kneser_ney_bigram_probs(spark, "unused").collect()

    bigrams = Counter()
    for t in texts:
        ws = t.split(" ")
        for a, b in zip(ws, ws[1:]):
            bigrams[(a, b)] += 1
    ctx = Counter()
    fan_fwd = Counter()
    fan_bwd = Counter()
    for (a, b), c in bigrams.items():
        ctx[a] += c
        fan_fwd[a] += 1
        fan_bwd[b] += 1
    n_types = len(bigrams)
    D = 0.75

    assert rows, "no output"
    assert len(rows) == min(20, n_types)
    got = {(r.w1, r.w2): r for r in rows}
    for (a, b), r in got.items():
        c12 = bigrams[(a, b)]
        assert r.c12 == c12
        assert r.c_context == ctx[a]
        assert r.n1p_fwd == fan_fwd[a]
        assert r.n1p_bwd == fan_bwd[b]
        p_cont = fan_bwd[b] / n_types
        p_kn = (c12 - D) / ctx[a] + (D * fan_fwd[a] / ctx[a]) * p_cont
        assert abs(r.p_mle - c12 / ctx[a]) < 1e-6
        assert abs(r.p_continuation - p_cont) < 1e-6
        assert abs(r.p_kneser_ney - p_kn) < 1e-6
    # the KN demotion itself: 'francisco' follows only 'san', so its
    # continuation probability is below that of 'is' (three contexts)
    assert got[("san", "francisco")].p_continuation < got[("is", "big")].p_continuation
    # and despite 'san francisco' outnumbering 'is big' in raw counts,
    # interpolated KN ranks the versatile continuation higher
    assert got[("san", "francisco")].c12 >= got[("new", "york")].c12


def test_viterbi_length_cap_boundary(spark):
    """A 24-char word drives the per-word DP through all 24 positions
    (the stated cap, raised from 12 in r10); a 25-char word is excluded
    from the inventory exactly as the oracle excludes it. 24 distinct
    chars with a 4-char piece cap segment into ceil(24/4) = 6 pieces."""
    from unittest import mock

    from pyspark.sql import Row

    import healthcare_data_lakehouse_spark.queries.llm_text as L

    w24 = "abcdefghijklmnopqrstuvwx"
    w25 = w24 + "y"
    probe = spark.createDataFrame(
        [Row(doc_id=1, text=f"{w24} {w25} xy",
             lang="xx", source="s", n_chars=52)]
    )
    with mock.patch.object(L, "table", lambda *_a, **_k: probe):
        rows = L.text_unigram_viterbi_segment(spark, "unused").collect()
    r = {x.lang: x for x in rows}["xx"]
    # 25-char word excluded -> 2 words; 24-char word = 6 pieces, 'xy' = 1
    assert r.n_words == 2
    assert r.total_pieces == 7
    assert abs(r.pieces_per_word - 3.5) < 1e-9
    # chars_per_piece is dround(6)-ed in the query output
    assert abs(r.chars_per_piece - (26 / 7)) < 1e-6
