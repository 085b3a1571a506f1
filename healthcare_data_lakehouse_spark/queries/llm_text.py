"""Text-analysis query family."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from healthcare_data_lakehouse_spark.functions import dedup as D
from healthcare_data_lakehouse_spark.functions import dround, dround_sql
from healthcare_data_lakehouse_spark.functions import similarity as S
from healthcare_data_lakehouse_spark.functions import text as TX
from healthcare_data_lakehouse_spark.functions.multimodal import (
    as_binary_assets,
    extract_binary_features,
)
from healthcare_data_lakehouse_spark.queries.catalog import register
from healthcare_data_lakehouse_spark.tables import table


from healthcare_data_lakehouse_spark.queries.llm_shared import (  # noqa: F401
    _DOCS_DUPS_SQL,
    _GOPHER_PASS_SQL,
    _GOPHER_RULES,
    _PRETOKEN_RE,
    _SHINGLES_SQL,
    _docs_with_dups,
)


# ------------------------------------------------------------- text stats
@register(
    "text_quality_scores",
    oracle=f"""
    SELECT doc_id,
           length(text) AS n_chars,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
           ROUND(CASE WHEN length(text) > 0
                 THEN CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS DOUBLE) / length(text)
                 ELSE 0.0 END, 6) AS punct_ratio,
           ROUND(CASE WHEN len(string_split(text, ' ')) > 0
                 THEN CAST(len(list_filter(string_split(lower(text), ' '),
                      x -> x IN ('the','a','of','and','to','in','is','it'))) AS DOUBLE)
                      / len(string_split(text, ' '))
                 ELSE 0.0 END, 6) AS stopword_ratio,
           ROUND(0.4 * least(1.0, CAST(len(string_split(text, ' ')) AS DOUBLE) / 100)
               + 0.3 * (1.0 - CASE WHEN length(text) > 0
                     THEN CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS DOUBLE) / length(text)
                     ELSE 0.0 END)
               + 0.3 * least(1.0, 4.0 * CASE WHEN len(string_split(text, ' ')) > 0
                     THEN CAST(len(list_filter(string_split(lower(text), ' '),
                          x -> x IN ('the','a','of','and','to','in','is','it'))) AS DOUBLE)
                          / len(string_split(text, ' '))
                     ELSE 0.0 END), 6) AS quality_score
    FROM documents
    """,
    description="Text quality scoring: length/punctuation/stopword ratios "
    "fused into one narrow JVM-side pass (no UDFs, no shuffle).",
)
def text_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    cols = TX.quality_score_cols(F.col("text"))
    return docs.select(
        "doc_id",
        cols["n_chars"].alias("n_chars"),
        cols["n_tokens"].cast("bigint").alias("n_tokens"),
        cols["punct_ratio"].alias("punct_ratio"),
        cols["stopword_ratio"].alias("stopword_ratio"),
        cols["quality_score"].alias("quality_score"),
    )


@register(
    "text_language_id",
    oracle="""
    SELECT doc_id, lang AS lang_declared,
           CASE
             WHEN regexp_matches(text, '[\\x{4e00}-\\x{9fff}]') THEN 'zh'
             WHEN regexp_matches(text, '[\\x{0400}-\\x{04ff}]') THEN 'ru'
             WHEN regexp_matches(' ' || lower(text) || ' ',
                  ' (el|la|los|las|es|una|uno|que) ') THEN 'es'
             WHEN regexp_matches(' ' || lower(text) || ' ',
                  ' (der|die|das|und|ist|nicht) ') THEN 'de'
             WHEN regexp_matches(' ' || lower(text) || ' ',
                  ' (le|les|des|est|une|dans) ') THEN 'fr'
             WHEN regexp_matches(' ' || lower(text) || ' ',
                  ' (the|a|of|and|to|is|it) ') THEN 'en'
             ELSE 'und'
           END AS lang_pred
    FROM documents
    """,
    description="Marker-regex language ID heuristic (CJK/Cyrillic ranges + "
    "stopword markers, first-match precedence).",
)
def text_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.col("lang").alias("lang_declared"),
        TX.language_id(F.col("text")).alias("lang_pred"),
    )


@register(
    "text_fingerprint",
    oracle="""
    SELECT doc_id,
           md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS fp
    FROM documents
    """,
    description="Content fingerprint: md5 over whitespace-normalized "
    "lowercase text (exact-dedup / recrawl identity).",
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    return docs.select("doc_id", TX.fingerprint(F.col("text")).alias("fp"))


@register(
    "text_token_stats",
    oracle=f"""
    SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_ws_tokens,
           CAST(len(regexp_extract_all(text, '{_PRETOKEN_RE}')) AS BIGINT)
               AS n_pre_tokens,
           ROUND(CASE WHEN len(regexp_extract_all(text, '{_PRETOKEN_RE}')) > 0
                 THEN CAST(length(text) AS DOUBLE)
                      / len(regexp_extract_all(text, '{_PRETOKEN_RE}'))
                 ELSE 0.0 END, 4) AS chars_per_token
    FROM documents
    """,
    description="Token counting: whitespace split + BPE-ish pre-tokenizer "
    "regex (letter runs / digit runs / single symbols) — the token-budget "
    "estimator for training-data curation; narrow JVM-side pass.",
)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    pre = F.regexp_extract_all(F.col("text"), F.lit(_PRETOKEN_RE), 0)
    n_pre = F.size(pre)
    return docs.select(
        "doc_id",
        TX.token_count(F.col("text")).cast("bigint").alias("n_ws_tokens"),
        n_pre.cast("bigint").alias("n_pre_tokens"),
        F.round(
            F.when(
                n_pre > 0, F.length("text").cast("double") / n_pre
            ).otherwise(0.0),
            4,
        ).alias("chars_per_token"),
    )


@register(
    "text_tfidf_top_terms",
    oracle="""
    WITH tok AS (
        SELECT doc_id, UNNEST(string_split(text, ' ')) AS term FROM documents
    ),
    tf AS (
        SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY doc_id, term
    ),
    df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
    n AS (SELECT COUNT(*) AS n FROM documents),
    scored AS (
        SELECT tf.doc_id, tf.term,
               ROUND(tf.tf * LN((n.n + 1.0) / (df.df + 1.0)), 4) AS tfidf
        FROM tf JOIN df USING (term) CROSS JOIN n
    )
    SELECT doc_id, term, tfidf FROM (
        SELECT doc_id, term, tfidf,
               ROW_NUMBER() OVER (PARTITION BY doc_id
                                  ORDER BY tfidf DESC, term) AS rn
        FROM scored
    ) WHERE rn <= 3
    """,
    description="TF-IDF: top-3 distinguishing terms per document. "
    "Term frequencies aggregate per (doc, term); document frequencies "
    "re-aggregate the tf table (already distinct per doc — no second "
    "count-distinct pass over raw tokens); idf joins back BROADCAST "
    "because the vocabulary is vastly smaller than the corpus. The "
    "rounded score is the window sort key (term as tiebreak) so top-k "
    "selection is deterministic on both engines at any scale.",
)
def text_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(TX.tokens(F.col("text"))).alias("term")
    )
    tf = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n = docs.agg(F.count(F.lit(1)).alias("n"))
    scored = (
        tf.join(F.broadcast(df), "term")
        .join(F.broadcast(n))
        .select(
            "doc_id",
            "term",
            F.round(
                F.col("tf") * F.log((F.col("n") + 1.0) / (F.col("df") + 1.0)), 4
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), F.col("term"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("doc_id", "term", "tfidf")
    )


@register(
    "text_bigram_topk",
    oracle="""
    WITH tok AS (
        SELECT doc_id, string_split(text, ' ') AS tl FROM documents
    ),
    pairs AS (
        SELECT tl[pos] || ' ' || tl[pos + 1] AS bigram
        FROM tok, UNNEST(range(1, len(tl))) AS u(pos)
    ),
    counted AS (
        SELECT bigram, COUNT(*) AS n FROM pairs GROUP BY bigram
    )
    SELECT bigram, n FROM (
        SELECT bigram, n,
               ROW_NUMBER() OVER (ORDER BY n DESC, bigram) AS rn
        FROM counted
    ) WHERE rn <= 20
    """,
    description="Corpus-wide top-20 bigrams: adjacent-token pairs built "
    "ARRAY-SIDE with transform(sequence(...)) — no self-join of the "
    "exploded token table on position (that join would shuffle the "
    "full token volume twice). Count aggregates with map-side combine; "
    "the global top-k window runs over the already-aggregated "
    "vocabulary, with the bigram string as tiebreak.",
)
def text_bigram_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    # split once per row; the transform lambda indexes the materialized
    # array (inlining split into the lambda re-tokenizes per element)
    pairs = docs.select(F.split("text", " ").alias("tl")).select(
        F.explode(
            F.expr(
                "transform(sequence(1, size(tl) - 1), "
                "i -> concat(element_at(tl, i), ' ', element_at(tl, i + 1)))"
            )
        ).alias("bigram")
    )
    counted = pairs.groupBy("bigram").agg(F.count(F.lit(1)).alias("n"))
    w = Window.orderBy(F.col("n").desc(), F.col("bigram"))
    return (
        counted.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 20)
        .select("bigram", "n")
    )


# ------------------------------------------------- bigram LM scoring
@register(
    "text_bigram_lm_score",
    oracle="""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS tl FROM documents),
    bi AS (
        SELECT doc_id, tl[i] AS w1, tl[i + 1] AS w2
        FROM toks, UNNEST(range(1, len(tl))) AS u(i)
        WHERE len(tl) >= 2
    ),
    uni AS (
        SELECT t.tok AS w, COUNT(*) AS un
        FROM toks, UNNEST(tl) AS t(tok) GROUP BY t.tok
    ),
    vocab AS (SELECT COUNT(*) AS v FROM uni),
    bn AS (SELECT w1, w2, COUNT(*) AS bn FROM bi GROUP BY w1, w2)
    SELECT bi.doc_id,
           COUNT(*) AS n_bigrams,
           ROUND(AVG(log2(CAST(bn.bn + 1 AS DOUBLE) / (uni.un + vocab.v))), 4)
               AS avg_log2_prob
    FROM bi
    JOIN bn ON bn.w1 = bi.w1 AND bn.w2 = bi.w2
    JOIN uni ON uni.w = bi.w1
    CROSS JOIN vocab
    GROUP BY bi.doc_id
    """,
    description="Bigram language-model document scoring (the KenLM-style "
    "perplexity filter of CCNet/Gopher, self-trained on the corpus): "
    "add-one-smoothed P(w2|w1) = (B+1)/(U+V) from corpus bigram/unigram "
    "counts, each doc scored by its mean log2 probability. Counts build "
    "with map-side combine; the per-doc score is two hash joins against "
    "the (much smaller) vocabulary aggregates plus a broadcast scalar "
    "|V|. Sub-4-decimal rounding keeps the cross-engine float sum "
    "order-insensitive.",
)
def text_bigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.split("text", " ", -1).alias("tl"))
    bi = toks.filter(F.size("tl") >= 2).select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, size(tl) - 1), "
                "i -> struct(element_at(tl, i) AS w1, element_at(tl, i + 1) AS w2))"
            )
        ).alias("p"),
    ).select("doc_id", "p.w1", "p.w2")
    uni = (
        toks.select(F.explode("tl").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("un"))
    )
    vocab = uni.agg(F.count(F.lit(1)).alias("v"))
    bn = bi.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("bn"))
    return (
        bi.join(bn, ["w1", "w2"])
        .join(uni, uni.w == bi.w1)
        .join(F.broadcast(vocab))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(
                F.avg(
                    F.log2((F.col("bn") + 1).cast("double") / (F.col("un") + F.col("v")))
                ),
                4,
            ).alias("avg_log2_prob"),
        )
    )


# -------------------------------------------------- BPE pair counts
@register(
    "text_bpe_pair_counts",
    oracle="""
    WITH words AS (
        SELECT t.tok AS w, COUNT(*) AS freq
        FROM (SELECT string_split(text, ' ') AS tl FROM documents),
             UNNEST(tl) AS t(tok)
        WHERE t.tok <> ''
        GROUP BY t.tok
    ),
    pairs AS (
        SELECT substr(w, i, 2) AS pair, CAST(SUM(freq) AS BIGINT) AS n
        FROM words, UNNEST(range(1, length(w))) AS u(i)
        WHERE length(w) >= 2
        GROUP BY substr(w, i, 2)
    )
    SELECT pair, n FROM (
        SELECT pair, n, ROW_NUMBER() OVER (ORDER BY n DESC, pair) AS rn
        FROM pairs
    ) WHERE rn <= 15
    """,
    description="The BPE merge-selection primitive: corpus-weighted "
    "adjacent character-pair frequencies (a tokenizer-training step, "
    "computed over the word-frequency table rather than raw text — the "
    "standard factorization that turns an O(corpus chars) pass into "
    "O(vocab chars) after one word-count agg). Character semantics, "
    "not bytes, on both engines, so the CJK/Cyrillic fixture docs "
    "count correctly. Top-15 by count with pair tiebreak.",
)
def text_bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    words = (
        docs.select(F.explode(F.split("text", " ", -1)).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    pairs = (
        words.filter(F.length("w") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))"
                )
            ).alias("pair"),
            "freq",
        )
        .groupBy("pair")
        .agg(F.sum("freq").alias("n"))
    )
    w = Window.orderBy(F.col("n").desc(), F.col("pair"))
    return (
        pairs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 15)
        .select("pair", "n")
    )


# -------------------------------------------------- BPE merge rounds
_BPE_SEP = "\x1f"  # unit separator: absent from document text
_BPE_ROUNDS = 6


def _bpe_oracle(n_rounds: int) -> str:
    """Unrolled-CTE oracle for the iterative BPE merge loop (the
    kmeans_embeddings_lloyd pattern): each round counts symbol pairs over
    the word-frequency table, picks the top pair (count desc, then left/
    right symbol), and applies the merge via the double-separator string
    encoding — ``replace(s, SEP a SEP SEP b SEP, SEP ab SEP)`` is exactly
    the greedy left-to-right non-overlapping BPE merge, because the
    interior ``SEP SEP`` delimiter donates one SEP to each of two
    adjacent matches while symbol-boundary SEPs make partial-symbol
    matches impossible."""
    sep = "chr(31)"
    sep2 = f"{sep}||{sep}"
    ctes = [
        f"""w0 AS (
        SELECT {sep} || array_to_string(string_split(t.tok, ''), {sep2})
                 || {sep} AS s,
               COUNT(*) AS freq
        FROM (SELECT string_split(text, ' ') AS tl FROM documents),
             UNNEST(tl) AS t(tok)
        WHERE t.tok <> ''
        GROUP BY t.tok
    )"""
    ]
    for k in range(1, n_rounds + 1):
        ctes.append(f"""p{k} AS (
        SELECT l[i] AS a, l[i+1] AS b, SUM(freq) AS n
        FROM (SELECT string_split(trim(s, chr(31)), {sep2}) AS l, freq
              FROM w{k - 1}),
             UNNEST(range(1, len(l))) AS u(i)
        WHERE len(l) >= 2
        GROUP BY 1, 2
    )""")
        ctes.append(
            f"b{k} AS (SELECT a, b, CAST(n AS BIGINT) AS n FROM p{k} "
            "ORDER BY n DESC, a, b LIMIT 1)"
        )
        ctes.append(f"""w{k} AS (
        SELECT replace(w.s, {sep}||b.a||{sep2}||b.b||{sep},
                       {sep}||b.a||b.b||{sep}) AS s, w.freq
        FROM w{k - 1} w CROSS JOIN b{k} b
    )""")
    selects = "\n    UNION ALL ".join(
        f"SELECT CAST({k} AS INTEGER) AS merge_round, a AS left_sym, "
        f"b AS right_sym, n AS pair_freq FROM b{k}"
        for k in range(1, n_rounds + 1)
    )
    return (
        "WITH " + ",\n    ".join(ctes)
        + f"\n    SELECT * FROM ({selects}) ORDER BY merge_round"
    )


def _bpe_encode_col(w) -> "F.Column":
    """Word -> double-separator symbol-string encoding."""
    sep, sep2 = _BPE_SEP, _BPE_SEP + _BPE_SEP
    return F.concat(
        F.lit(sep), F.array_join(F.split(w, ""), sep2), F.lit(sep)
    )


def _bpe_learn(
    spark: SparkSession, sf_dir: str, n_rounds: int
) -> list[tuple[int, str, str, int]]:
    """Run ``n_rounds`` of BPE merge learning over the corpus-wide word-
    frequency table; returns [(round, left, right, pair_freq)]."""
    sep, sep2 = _BPE_SEP, _BPE_SEP + _BPE_SEP
    docs = table(spark, sf_dir, "documents")
    words = (
        docs.select(F.explode(F.split("text", " ", -1)).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
        .select(_bpe_encode_col(F.col("w")).alias("s"), "freq")
        .localCheckpoint()
    )
    merges: list[tuple[int, str, str, int]] = []
    for k in range(1, n_rounds + 1):
        pairs = (
            words.withColumn(
                "l", F.split(F.expr("substring(s, 2, length(s) - 2)"), sep2)
            )
            .filter(F.size("l") >= 2)
            .select(
                F.explode(
                    F.expr(
                        "transform(sequence(1, size(l) - 1), "
                        "i -> struct(l[i-1] AS a, l[i] AS b))"
                    )
                ).alias("p"),
                "freq",
            )
            .groupBy("p.a", "p.b")
            .agg(F.sum("freq").alias("n"))
        )
        # top-1 merge selection: a 1-row collect (metadata scale), same
        # convergence-scalar pattern as the k-means / pagerank loops
        best = pairs.orderBy(F.col("n").desc(), "a", "b").first()
        if best is None:  # pragma: no cover - corpus of 1-char words
            break
        merges.append((k, best.a, best.b, int(best.n)))
        # localCheckpoint: each round's replace materializes, keeping the
        # per-round plan constant-depth instead of stacking k replaces
        words = words.withColumn(
            "s",
            F.replace(
                F.col("s"),
                F.lit(sep + best.a + sep2 + best.b + sep),
                F.lit(sep + best.a + best.b + sep),
            ),
        ).localCheckpoint()
    return merges


@register(
    "text_bpe_merge_rounds",
    oracle=_bpe_oracle(_BPE_ROUNDS),
    description="An actual BPE tokenizer-training loop, not just one "
    "round of pair counts: 6 iterative merge rounds over the word-"
    "frequency table — count adjacent symbol pairs (corpus-weighted), "
    "merge the argmax pair everywhere, re-count. Words are encoded as "
    "separator-delimited symbol strings so the merge is ONE map-side "
    "replace() per round (no re-tokenization scan); per-round cost is "
    "one vocab-sized groupBy plus a top-1 collect (metadata-scale). The "
    "oracle unrolls all 6 rounds as CTEs, pinning every intermediate "
    "argmax and the greedy non-overlapping merge semantics.",
)
def text_bpe_merge_rounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    merges = _bpe_learn(spark, sf_dir, _BPE_ROUNDS)
    return spark.createDataFrame(
        merges,
        "merge_round int, left_sym string, right_sym string, pair_freq long",
    )


def _bpe_encode_oracle(n_rounds: int) -> str:
    """Oracle for the ENCODE side: learn merges corpus-wide (same CTE
    chain as :func:`_bpe_oracle`), then apply them in learned order to a
    per-language word-frequency table and aggregate token statistics."""
    sep = "chr(31)"
    sep2 = f"{sep}||{sep}"
    learn = _bpe_oracle(n_rounds)
    learn_ctes = learn[len("WITH ") : learn.rindex("\n    SELECT")]
    apply_ctes = [
        f"""wl0 AS (
        SELECT lang,
               {sep} || array_to_string(string_split(t.tok, ''), {sep2})
                 || {sep} AS s,
               COUNT(*) AS freq, length(t.tok) AS wchars
        FROM (SELECT lang, string_split(text, ' ') AS tl FROM documents),
             UNNEST(tl) AS t(tok)
        WHERE t.tok <> ''
        GROUP BY lang, t.tok
    )"""
    ]
    for k in range(1, n_rounds + 1):
        apply_ctes.append(f"""wl{k} AS (
        SELECT w.lang,
               replace(w.s, {sep}||b.a||{sep2}||b.b||{sep},
                       {sep}||b.a||b.b||{sep}) AS s,
               w.freq, w.wchars
        FROM wl{k - 1} w CROSS JOIN b{k} b
    )""")
    fertility = dround_sql(
        "CAST(SUM(freq * ntok) AS DOUBLE) / CAST(SUM(freq) AS DOUBLE)", 6
    )
    compression = dround_sql(
        "CAST(SUM(freq * wchars) AS DOUBLE) / CAST(SUM(freq * ntok) AS DOUBLE)",
        6,
    )
    applied = ",\n    ".join(apply_ctes)
    return f"""WITH {learn_ctes},
    {applied},
    toks AS (
        SELECT lang, freq, wchars,
               len(string_split(trim(s, chr(31)), {sep2})) AS ntok
        FROM wl{n_rounds}
    )
    SELECT lang,
           CAST(SUM(freq) AS BIGINT) AS n_words,
           CAST(SUM(freq * wchars) AS BIGINT) AS n_chars,
           CAST(SUM(freq * ntok) AS BIGINT) AS bpe_tokens,
           {fertility} AS fertility,
           {compression} AS chars_per_token
    FROM toks GROUP BY lang ORDER BY lang"""


@register(
    "text_bpe_encode_token_counts",
    oracle=_bpe_encode_oracle(_BPE_ROUNDS),
    description="The ENCODE side of the BPE loop: apply the 6 corpus-"
    "learned merges in order to a per-language word-frequency table "
    "(each application is one map-side replace — tokenizing the corpus "
    "costs O(vocab) string work after the one word-count shuffle, never "
    "a per-document scan per merge) and report per-language token "
    "counts, fertility (tokens/word) and chars-per-token compression — "
    "the metrics that decide whether a tokenizer under-serves a "
    "language. Oracle re-learns the merges in unrolled CTEs and applies "
    "them to the same per-language table.",
)
def text_bpe_encode_token_counts(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    sep, sep2 = _BPE_SEP, _BPE_SEP + _BPE_SEP
    merges = _bpe_learn(spark, sf_dir, _BPE_ROUNDS)
    docs = table(spark, sf_dir, "documents")
    wl = (
        docs.select(
            "lang", F.explode(F.split("text", " ", -1)).alias("w")
        )
        .filter(F.col("w") != "")
        .groupBy("lang", "w")
        .agg(F.count(F.lit(1)).alias("freq"))
        .select(
            "lang",
            _bpe_encode_col(F.col("w")).alias("s"),
            "freq",
            F.length("w").alias("wchars"),
        )
    )
    s = F.col("s")
    for _, a, b, _n in merges:
        s = F.replace(s, F.lit(sep + a + sep2 + b + sep), F.lit(sep + a + b + sep))
    toks = (
        wl.withColumn("s2", s)
        .withColumn(
            "ntok",
            F.size(
                F.split(F.expr("substring(s2, 2, length(s2) - 2)"), sep2)
            ),
        )
    )
    return (
        toks.groupBy("lang")
        .agg(
            F.sum("freq").alias("n_words"),
            F.sum(F.col("freq") * F.col("wchars")).alias("n_chars"),
            F.sum(F.col("freq") * F.col("ntok")).alias("bpe_tokens"),
            dround(
                F.sum(F.col("freq") * F.col("ntok")).cast("double")
                / F.sum("freq").cast("double"),
                6,
            ).alias("fertility"),
            dround(
                F.sum(F.col("freq") * F.col("wchars")).cast("double")
                / F.sum(F.col("freq") * F.col("ntok")).cast("double"),
                6,
            ).alias("chars_per_token"),
        )
        .orderBy("lang")
    )


# ------------------------------------------- within-doc repetition
@register(
    "text_repetition_ratio",
    oracle="""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS tl FROM documents),
    grams AS (
        SELECT doc_id,
               len(tl) - 2 AS n_grams,
               len(list_distinct(list_transform(range(1, len(tl) - 2 + 1),
                   i -> array_to_string(tl[i:i+2], chr(31))))) AS n_distinct
        FROM toks WHERE len(tl) >= 3
    )
    SELECT doc_id, n_grams, n_distinct,
           ROUND(1.0 - CAST(n_distinct AS DOUBLE) / n_grams, 6) AS repetition_ratio
    FROM grams
    """,
    description="Within-document repetition ratio (the Gopher/MassiveText "
    "duplicate-3-gram quality signal): 1 - distinct/total positional "
    "3-grams, computed ENTIRELY inside the array column (transform + "
    "array_distinct, zero explode, zero shuffle) — each doc's signal "
    "is one narrow projection; boilerplate-heavy and looping docs "
    "score high and get filtered before training.",
)
def text_repetition_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.split("text", " ", -1).alias("tl"))
    grams = toks.filter(F.size("tl") >= 3).select(
        "doc_id",
        (F.size("tl") - 2).alias("n_grams"),
        F.size(
            F.array_distinct(
                F.expr(
                    "transform(sequence(1, size(tl) - 2), "
                    "i -> concat_ws(chr(31), slice(tl, i, 3)))"
                )
            )
        ).alias("n_distinct"),
    )
    return grams.select(
        "doc_id",
        "n_grams",
        "n_distinct",
        F.round(1.0 - F.col("n_distinct").cast("double") / F.col("n_grams"), 6).alias(
            "repetition_ratio"
        ),
    )


# ------------------------------------------------- inverted index
@register(
    "text_inverted_index_sample",
    oracle="""
    WITH tok AS (
        SELECT DISTINCT doc_id, t.term
        FROM (SELECT doc_id, string_split(text, ' ') AS tl FROM documents),
             UNNEST(tl) AS t(term)
        WHERE t.term <> ''
    ),
    df AS (SELECT term, COUNT(*) AS df FROM tok GROUP BY term),
    top_terms AS (
        SELECT term, df FROM (
            SELECT term, df, ROW_NUMBER() OVER (ORDER BY df DESC, term) AS rn
            FROM df
        ) WHERE rn <= 20
    )
    SELECT t.term, tt.df,
           list_sort(list(t.doc_id))[1:10] AS posting_sample
    FROM tok t JOIN top_terms tt ON tt.term = t.term
    GROUP BY t.term, tt.df
    """,
    description="Inverted-index construction (the search/retrieval "
    "primitive): distinct (doc, term) postings, document frequencies, "
    "and for the 20 highest-df terms a sorted 10-doc posting-list "
    "sample. Posting lists are per-term sorted arrays — build cost is "
    "one distinct agg + one term-keyed agg; the cap keeps driver "
    "output bounded while the full index would write partitioned BY "
    "TERM for point lookups.",
)
def text_inverted_index_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    tok = (
        docs.select("doc_id", F.explode(F.split("text", " ", -1)).alias("term"))
        .filter(F.col("term") != "")
        .distinct()
    )
    df = tok.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    wtop = Window.orderBy(F.col("df").desc(), F.col("term"))
    top_terms = (
        df.withColumn("rn", F.row_number().over(wtop))
        .filter(F.col("rn") <= 20)
        .select("term", "df")
    )
    return (
        tok.join(F.broadcast(top_terms), "term")
        .groupBy("term", "df")
        .agg(
            F.slice(F.sort_array(F.collect_list("doc_id")), 1, 10).alias(
                "posting_sample"
            )
        )
    )


# ------------------------------------------- chunk-level boilerplate
@register(
    "text_chunk_boilerplate",
    oracle="WITH "
    + _DOCS_DUPS_SQL.format(mod=12)
    + """,
    toks AS (SELECT doc_id, string_split(text, ' ') AS tl FROM docs),
    chunks AS (
        SELECT doc_id,
               array_to_string(tl[i * 12 + 1 : i * 12 + 12], chr(31)) AS chunk
        FROM toks,
             UNNEST(range(0, CAST(ceil(len(tl) / 12.0) AS INT))) AS u(i)
    ),
    freq AS (
        SELECT chunk, COUNT(DISTINCT doc_id) AS n_docs
        FROM chunks GROUP BY chunk
    ),
    boiler AS (SELECT chunk FROM freq WHERE n_docs >= 2)
    SELECT c.doc_id,
           COUNT(*) AS n_chunks,
           CAST(SUM(CASE WHEN b.chunk IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_boilerplate,
           ROUND(SUM(CASE WHEN b.chunk IS NOT NULL THEN 1.0 ELSE 0 END) / COUNT(*), 6)
               AS boilerplate_ratio
    FROM chunks c LEFT JOIN boiler b ON b.chunk = c.chunk
    GROUP BY c.doc_id
    """,
    description="Chunk-level boilerplate detection (the line/sentence "
    "dedup stage of CCNet/RefinedWeb, at NON-OVERLAPPING 12-token "
    "chunk grain — the cheap unit those pipelines use when text has "
    "no sentence structure): chunks recurring across >= 2 distinct "
    "docs mark contamination, each doc reports its ratio. "
    "Non-overlapping chunking emits n/12 units per doc versus the "
    "span pass's n overlapping units — an order of magnitude less "
    "shuffle for the coarse screen, with the span pass as the "
    "precise follow-up. Same hash-don't-shuffle-text rule at scale.",
)
def text_chunk_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = _docs_with_dups(spark, sf_dir, 12)
    toks = corpus.select("doc_id", F.split("text", " ", -1).alias("tl"))
    chunks = toks.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(0, int(ceil(size(tl) / 12.0)) - 1), "
                "i -> concat_ws(chr(31), slice(tl, i * 12 + 1, 12)))"
            )
        ).alias("chunk"),
    )
    boiler = (
        chunks.groupBy("chunk")
        .agg(F.count_distinct("doc_id").alias("n_docs"))
        .filter(F.col("n_docs") >= 2)
        .select("chunk")
    )
    marked = chunks.join(boiler.withColumn("is_boiler", F.lit(1)), "chunk", "left")
    return marked.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_chunks"),
        F.coalesce(F.sum("is_boiler"), F.lit(0)).alias("n_boilerplate"),
        F.round(
            F.coalesce(F.sum("is_boiler"), F.lit(0)).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("boilerplate_ratio"),
    )


# ------------------------------------------- language-ID confusion audit
_LANGID_SQL = """
           CASE
             WHEN regexp_matches(text, '[\\x{4e00}-\\x{9fff}]') THEN 'zh'
             WHEN regexp_matches(text, '[\\x{0400}-\\x{04ff}]') THEN 'ru'
             WHEN regexp_matches(' ' || lower(text) || ' ',
                  ' (el|la|los|las|es|una|uno|que) ') THEN 'es'
             WHEN regexp_matches(' ' || lower(text) || ' ',
                  ' (der|die|das|und|ist|nicht) ') THEN 'de'
             WHEN regexp_matches(' ' || lower(text) || ' ',
                  ' (le|les|des|est|une|dans) ') THEN 'fr'
             WHEN regexp_matches(' ' || lower(text) || ' ',
                  ' (the|a|of|and|to|is|it) ') THEN 'en'
             ELSE 'und'
           END
"""


@register(
    "text_langid_confusion",
    oracle=f"""
    WITH pred AS (
        SELECT lang AS lang_declared, {_LANGID_SQL} AS lang_pred
        FROM documents
    ),
    tot AS (
        SELECT lang_declared, COUNT(*) AS n_lang FROM pred GROUP BY lang_declared
    )
    SELECT p.lang_declared, p.lang_pred, COUNT(*) AS n_docs,
           ROUND(COUNT(*) * 1.0 / MAX(t.n_lang), 6) AS recall
    FROM pred p JOIN tot t ON t.lang_declared = p.lang_declared
    GROUP BY p.lang_declared, p.lang_pred
    """,
    description="Classifier-evaluation confusion matrix for the marker "
    "language-ID heuristic against the declared lang label: per "
    "(declared, predicted) cell counts plus per-class recall (the "
    "diagonal cell's share of its row). The eval harness every "
    "heuristic filter in a curation pipeline needs before it gates "
    "data at scale — same pattern as similarity_recall_lsh_at5 but "
    "for a classification stage. One regex scan, one |langs|^2-cell "
    "aggregate, row totals broadcast back.",
)
def text_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    pred = docs.select(
        F.col("lang").alias("lang_declared"),
        TX.language_id(F.col("text")).alias("lang_pred"),
    )
    tot = pred.groupBy("lang_declared").agg(F.count(F.lit(1)).alias("n_lang"))
    return (
        pred.join(F.broadcast(tot), "lang_declared")
        .groupBy("lang_declared", "lang_pred")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.count(F.lit(1)) * 1.0 / F.max("n_lang"), 6).alias("recall"),
        )
    )

_GOPHER_REASONS_SQL = ", ".join(
    f"CASE WHEN {pred} THEN '{name}' END" for name, pred in _GOPHER_RULES
)


@register(
    "text_gopher_quality_filter",
    oracle=f"""
    WITH words AS (
        SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ),
    feats AS (
        SELECT doc_id,
               CAST(len(w) AS BIGINT) AS n_words,
               {dround_sql("CAST(list_sum(list_transform(w, x -> length(x))) AS DOUBLE) / len(w)", 6)} AS mean_word_len,
               {dround_sql("1.0 - CAST(len(list_distinct(w)) AS DOUBLE) / len(w)", 6)} AS dup_word_frac,
               CAST(len(list_filter(w, x -> lower(x) IN
                    ('the','a','of','and','to','in','is','it'))) AS BIGINT)
                    AS stop_hits
        FROM words
    )
    SELECT doc_id, n_words, mean_word_len, dup_word_frac,
           CAST(CASE WHEN {_GOPHER_PASS_SQL} THEN 0 ELSE 1 END AS INT) AS passes,
           COALESCE(array_to_string(list_filter([{_GOPHER_REASONS_SQL}],
                x -> x IS NOT NULL), ','), '') AS reasons
    FROM feats
    """,
    description="Gopher-style composite quality gate: word-count bounds, "
    "mean-word-length band, duplicate-word fraction, stopword presence — "
    "one narrow JVM-side scan, no shuffle, rule reasons as a deterministic "
    "CSV column. Scale: embarrassingly parallel map over documents.",
)
def text_gopher_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    w = F.split(F.col("text"), " ")
    n_words = F.size(w)
    char_sum = F.aggregate(
        w, F.lit(0), lambda acc, x: acc + F.length(x)
    )
    mean_word_len = dround(char_sum.cast("double") / n_words, 6)
    dup_frac = dround(
        F.lit(1.0) - F.size(F.array_distinct(w)).cast("double") / n_words, 6
    )
    stop_hits = F.size(
        F.filter(w, lambda x: F.lower(x).isin(*TX.STOPWORDS))
    ).cast("bigint")
    feats = docs.select(
        "doc_id",
        n_words.cast("bigint").alias("n_words"),
        mean_word_len.alias("mean_word_len"),
        dup_frac.alias("dup_word_frac"),
        stop_hits.alias("stop_hits"),
    )
    preds = {
        "too_few_words": F.col("n_words") < 15,
        "too_many_words": F.col("n_words") > 500,
        "word_len_out_of_range": (F.col("mean_word_len") < 2.5)
        | (F.col("mean_word_len") > 8.0),
        "excessive_repetition": F.col("dup_word_frac") > 0.7,
        "no_stopwords": F.col("stop_hits") == 0,
    }
    fired = F.array(
        *[F.when(preds[name], F.lit(name)) for name, _ in _GOPHER_RULES]
    )
    any_fired = None
    for name, _ in _GOPHER_RULES:
        any_fired = preds[name] if any_fired is None else (any_fired | preds[name])
    return feats.select(
        "doc_id",
        "n_words",
        "mean_word_len",
        "dup_word_frac",
        F.when(any_fired, 0).otherwise(1).cast("int").alias("passes"),
        F.concat_ws(",", F.filter(fired, lambda x: x.isNotNull())).alias(
            "reasons"
        ),
    )


# ------------------------------------------- token entropy by language
@register(
    "text_token_entropy_by_lang",
    oracle=f"""
    WITH tok AS (
        SELECT lang, unnest(string_split(text, ' ')) AS token FROM documents
    ),
    tc AS (
        SELECT lang, token, CAST(COUNT(*) AS BIGINT) AS c
        FROM tok GROUP BY lang, token
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS vocab,
           CAST(SUM(c) AS BIGINT) AS n_tokens,
           {dround_sql("log2(CAST(SUM(c) AS DOUBLE)) - SUM(CAST(c AS DOUBLE) * log2(CAST(c AS DOUBLE))) / CAST(SUM(c) AS DOUBLE)", 6)} AS entropy_bits,
           {dround_sql("(log2(CAST(SUM(c) AS DOUBLE)) - SUM(CAST(c AS DOUBLE) * log2(CAST(c AS DOUBLE))) / CAST(SUM(c) AS DOUBLE)) / log2(CAST(COUNT(*) AS DOUBLE))", 6)} AS entropy_norm
    FROM tc GROUP BY lang
    """,
    description="Shannon token entropy per language via the single-agg "
    "identity H = log2(T) - sum(c*log2 c)/T over token counts, plus "
    "vocab-normalized entropy — a corpus diversity KPI. Two partial-agg "
    "shuffles on (lang, token) then (lang); map-side combine keeps the "
    "shuffle at vocabulary scale, not token scale.",
)
def text_token_entropy_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    tc = (
        docs.select("lang", F.explode(F.split(F.col("text"), " ")).alias("token"))
        .groupBy("lang", "token")
        .agg(F.count("*").cast("bigint").alias("c"))
    )
    cd = F.col("c").cast("double")
    t = F.sum("c").cast("double")
    h = F.log2(t) - F.sum(cd * F.log2(cd)) / t
    return tc.groupBy("lang").agg(
        F.count("*").cast("bigint").alias("vocab"),
        F.sum("c").cast("bigint").alias("n_tokens"),
        dround(h, 6).alias("entropy_bits"),
        dround(h / F.log2(F.count("*").cast("double")), 6).alias("entropy_norm"),
    )


# ------------------------------------------- RAKE keyword extraction
_RAKE_STOP_RE = r"\b(?:the|a|of|and|to|in|is|it)\b"


@register(
    "text_rake_keywords",
    oracle=f"""
    WITH phrases AS (
        SELECT doc_id, trim(p) AS phrase
        FROM documents,
             UNNEST(string_split_regex(lower(text), '{_RAKE_STOP_RE}')) AS u(p)
        WHERE trim(p) <> ''
    ),
    pw AS (
        SELECT phrase,
               len(list_filter(string_split(phrase, ' '), x -> x <> ''))
                   AS plen,
               unnest(list_filter(string_split(phrase, ' '), x -> x <> ''))
                   AS word
        FROM phrases
    ),
    scores AS (
        SELECT word,
               CAST(COUNT(*) AS BIGINT) AS freq,
               CAST(SUM(plen) AS BIGINT) AS degree,
               {dround_sql("CAST(SUM(plen) AS DOUBLE) / COUNT(*)", 6)} AS score
        FROM pw GROUP BY word
    )
    SELECT word, freq, degree, score
    FROM scores
    ORDER BY score DESC, word
    LIMIT 20
    """,
    description="RAKE keyword extraction: phrases are maximal stopword-free "
    "runs (regex split), word degree = sum of containing-phrase lengths, "
    "score = degree/freq, global top-20 with a total-order tie-break. "
    "Explode + one hash agg at vocabulary grain; top-k is a "
    "TakeOrdered over the aggregate, never a global sort of the corpus.",
)
def text_rake_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    phrases = docs.select(
        "doc_id",
        F.explode(F.split(F.lower("text"), _RAKE_STOP_RE)).alias("p"),
    ).select("doc_id", F.trim("p").alias("phrase")).filter(F.col("phrase") != "")
    words = F.filter(F.split("phrase", " "), lambda x: x != "")
    pw = phrases.select(
        F.size(words).alias("plen"), F.explode(words).alias("word")
    )
    scores = pw.groupBy("word").agg(
        F.count("*").cast("bigint").alias("freq"),
        F.sum("plen").cast("bigint").alias("degree"),
        dround(F.sum("plen").cast("double") / F.count("*"), 6).alias("score"),
    )
    return scores.orderBy(F.desc("score"), F.asc("word")).limit(20)


# ------------------------------------------- n-gram novelty scoring
@register(
    "text_ngram_novelty_rate",
    oracle=f"""
    WITH docs AS (SELECT doc_id, text FROM documents),
    {_SHINGLES_SQL.strip().rstrip()},
    totals AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_shingles
        FROM shingles GROUP BY doc_id
    ),
    novel AS (
        SELECT first_doc AS doc_id, CAST(COUNT(*) AS BIGINT) AS novel
        FROM (SELECT MIN(doc_id) AS first_doc FROM shingles GROUP BY shingle)
        GROUP BY first_doc
    )
    SELECT t.doc_id, t.n_shingles,
           CAST(COALESCE(n.novel, 0) AS BIGINT) AS novel,
           {dround_sql("CAST(COALESCE(n.novel, 0) AS DOUBLE) / t.n_shingles", 6)} AS novelty
    FROM totals t LEFT JOIN novel n ON n.doc_id = t.doc_id
    """,
    description="Per-document n-gram novelty: fraction of a doc's distinct "
    "3-word shingles whose global first occurrence (min doc_id) is this "
    "doc — the incremental-information score used for dedup-aware corpus "
    "ordering. One shingle-grain groupBy plus an equi-join back; shingle "
    "attribution shuffles once on the shingle key, never self-joins docs.",
)
def text_ngram_novelty_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    sh = docs.select(
        "doc_id", F.explode(D.word_shingles(F.col("text"), 3)).alias("shingle")
    ).localCheckpoint()  # the explode feeds two aggregations; pay it once
    totals = sh.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_shingles")
    )
    # two-level aggregation instead of joining firsts back on the (wide)
    # shingle key: shingle->min(doc), then min_doc->count. The second
    # shuffle is doc-grain, ~100x narrower than the shingle join-back.
    novel = (
        sh.groupBy("shingle")
        .agg(F.min("doc_id").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count("*").cast("bigint").alias("novel"))
    )
    return totals.join(novel, "doc_id", "left").select(
        "doc_id",
        "n_shingles",
        F.coalesce("novel", F.lit(0)).cast("bigint").alias("novel"),
        dround(
            F.coalesce("novel", F.lit(0)).cast("double")
            / F.col("n_shingles"),
            6,
        ).alias("novelty"),
    )


# ------------------------------------------- CCNet perplexity buckets
_LM_SCORE_SQL = """
    toks AS (SELECT doc_id, lang, string_split(text, ' ') AS tl FROM documents),
    bi AS (
        SELECT doc_id, lang, tl[i] AS w1, tl[i + 1] AS w2
        FROM toks, UNNEST(range(1, len(tl))) AS u(i)
        WHERE len(tl) >= 2
    ),
    uni AS (
        SELECT t.tok AS w, COUNT(*) AS un
        FROM toks, UNNEST(tl) AS t(tok) GROUP BY t.tok
    ),
    vocab AS (SELECT COUNT(*) AS v FROM uni),
    bn AS (SELECT w1, w2, COUNT(*) AS bn FROM bi GROUP BY w1, w2),
    scored AS (
        SELECT bi.doc_id, bi.lang,
               ROUND(AVG(log2(CAST(bn.bn + 1 AS DOUBLE) / (uni.un + vocab.v))), 4)
                   AS score
        FROM bi
        JOIN bn ON bn.w1 = bi.w1 AND bn.w2 = bi.w2
        JOIN uni ON uni.w = bi.w1
        CROSS JOIN vocab
        GROUP BY bi.doc_id, bi.lang
    ),
    tiled AS (
        SELECT doc_id, lang, score,
               NTILE(3) OVER (
                   PARTITION BY lang ORDER BY score DESC, doc_id
               ) AS tile
        FROM scored
    )
"""


@register(
    "text_perplexity_buckets_ccnet",
    oracle=f"""
    WITH {_LM_SCORE_SQL.strip()}
    SELECT lang,
           CASE tile WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
                ELSE 'tail' END AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           {dround_sql("AVG(score)", 4)} AS avg_score
    FROM tiled
    GROUP BY 1, 2
    """,
    description="CCNet-style perplexity partitioning: per-doc bigram-LM "
    "scores (add-one smoothing, self-trained) cut into head/middle/tail "
    "thirds per language by NTILE over a total order, with per-bucket counts and "
    "mean score. The standard quality-stratified sampling layout for web "
    "corpora. Cutoffs are per-language scalars from a doc-grain "
    "aggregate; the bucket assignment is a broadcast join back.",
)
def text_perplexity_buckets_ccnet(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", "lang", F.split("text", " ", -1).alias("tl"))
    bi = (
        toks.filter(F.size("tl") >= 2)
        .select(
            "doc_id",
            "lang",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(tl) - 1), "
                    "i -> struct(element_at(tl, i) AS w1, "
                    "element_at(tl, i + 1) AS w2))"
                )
            ).alias("p"),
        )
        .select("doc_id", "lang", "p.w1", "p.w2")
    )
    uni = (
        toks.select(F.explode("tl").alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("un"))
    )
    vocab = uni.agg(F.count("*").alias("v"))
    bn = bi.groupBy("w1", "w2").agg(F.count("*").alias("bn"))
    scored = (
        bi.join(bn, ["w1", "w2"])
        .join(uni, bi.w1 == uni.w)
        .crossJoin(F.broadcast(vocab))
        .groupBy("doc_id", "lang")
        .agg(
            F.round(
                F.avg(
                    F.log2(
                        (F.col("bn") + 1).cast("double")
                        / (F.col("un") + F.col("v"))
                    )
                ),
                4,
            ).alias("score")
        )
    )
    # NTILE over a TOTAL order (score desc, doc_id): exact thirds with no
    # quantile interpolation — Spark and DuckDB percentile() disagree in
    # the 8th decimal, which flips boundary docs; tiling cannot.
    wt = Window.partitionBy("lang").orderBy(F.desc("score"), F.asc("doc_id"))
    tiled = scored.withColumn("tile", F.ntile(3).over(wt))
    bucket = (
        F.when(F.col("tile") == 1, "head")
        .when(F.col("tile") == 2, "middle")
        .otherwise("tail")
    )
    return tiled.groupBy("lang", bucket.alias("bucket")).agg(
        F.count("*").cast("bigint").alias("n_docs"),
        dround(F.avg("score"), 4).alias("avg_score"),
    )


# ------------------------------------------- PMI collocations
@register(
    "text_bigram_pmi_topk",
    oracle=f"""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS tl FROM documents),
    bi AS (
        SELECT tl[i] AS w1, tl[i + 1] AS w2
        FROM toks, UNNEST(range(1, len(tl))) AS u(i)
        WHERE len(tl) >= 2
    ),
    bn AS (
        SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c
        FROM bi GROUP BY w1, w2
    ),
    un AS (
        SELECT w, CAST(SUM(c) AS BIGINT) AS u FROM (
            SELECT w1 AS w, c FROM bn UNION ALL SELECT w2, c FROM bn
        ) GROUP BY w
    ),
    tot AS (SELECT CAST(SUM(c) AS BIGINT) AS t FROM bn)
    SELECT w1, w2, c,
           {dround_sql("log2(CAST(c AS DOUBLE) * t / (CAST(u1.u AS DOUBLE) * u2.u))", 6)} AS pmi
    FROM bn
    JOIN un u1 ON u1.w = bn.w1
    JOIN un u2 ON u2.w = bn.w2
    CROSS JOIN tot
    WHERE c >= 5
    ORDER BY pmi DESC, w1, w2
    LIMIT 20
    """,
    description="PMI collocation mining: top-20 bigrams by pointwise "
    "mutual information (log2 c*T / u1*u2, unigram mass from bigram "
    "position counts), min support 5, total-order tie-break. Counts "
    "build with map-side combine; the PMI join touches only the "
    "vocabulary-grain aggregates — the classic keyphrase primitive.",
)
def text_bigram_pmi_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    toks = docs.select(F.split("text", " ", -1).alias("tl"))
    bi = toks.filter(F.size("tl") >= 2).select(
        F.explode(
            F.expr(
                "transform(sequence(1, size(tl) - 1), "
                "i -> struct(element_at(tl, i) AS w1, "
                "element_at(tl, i + 1) AS w2))"
            )
        ).alias("p")
    ).select("p.w1", "p.w2")
    bn = bi.groupBy("w1", "w2").agg(F.count("*").cast("bigint").alias("c"))
    un = (
        bn.select(F.col("w1").alias("w"), "c")
        .unionAll(bn.select(F.col("w2").alias("w"), "c"))
        .groupBy("w")
        .agg(F.sum("c").cast("bigint").alias("u"))
    )
    tot = bn.agg(F.sum("c").cast("bigint").alias("t"))
    u1 = un.select(F.col("w").alias("w1"), F.col("u").alias("u1"))
    u2 = un.select(F.col("w").alias("w2"), F.col("u").alias("u2"))
    pmi = F.log2(
        F.col("c").cast("double") * F.col("t")
        / (F.col("u1").cast("double") * F.col("u2"))
    )
    return (
        bn.filter(F.col("c") >= 5)
        .join(u1, "w1")
        .join(u2, "w2")
        .crossJoin(F.broadcast(tot))
        .select("w1", "w2", "c", dround(pmi, 6).alias("pmi"))
        .orderBy(F.desc("pmi"), F.asc("w1"), F.asc("w2"))
        .limit(20)
    )


# ---------------------------------------- round 5: corpus-mixing diagnostics
@register(
    "text_unigram_kl_by_source",
    oracle="""
    WITH tok AS (
        SELECT source, unnest(string_split(text, ' ')) AS w FROM documents
    ),
    c AS (
        SELECT source, w, COUNT(*) AS n_sw FROM tok WHERE w <> ''
        GROUP BY source, w
    ),
    s AS (
        SELECT source, SUM(n_sw) AS t_s, COUNT(*) AS vocab FROM c
        GROUP BY source
    ),
    g AS (SELECT w, SUM(n_sw) AS n_w FROM c GROUP BY w),
    tot AS (SELECT SUM(n_sw) AS n FROM c)
    SELECT c.source,
           CAST(s.t_s AS BIGINT) AS n_tokens,
           CAST(s.vocab AS BIGINT) AS vocab,
           ROUND(SUM((CAST(n_sw AS DOUBLE) / t_s)
                     * ln((CAST(n_sw AS DOUBLE) / t_s)
                          / (CAST(n_w AS DOUBLE) / n))), 6) AS kl_vs_corpus
    FROM c JOIN s USING (source) JOIN g USING (w) CROSS JOIN tot
    GROUP BY c.source, s.t_s, s.vocab
    """,
    description="Per-source unigram KL divergence vs the corpus "
    "distribution — the data-mixing drift diagnostic (which sources are "
    "lexically off-distribution, e.g. code vs prose vs boilerplate "
    "farms). One tokenize + one (source, token) count shuffle; "
    "per-source totals and per-token corpus totals come from "
    "partitioned windows over that count table (token-grain, never "
    "row-grain), the scalar corpus total broadcasts. Support(p_source) "
    "is a subset of support(p_corpus) by construction, so the KL needs "
    "no smoothing. At 100 TB the count table is |sources| x |vocab| — "
    "the windows stay partitioned on real keys; nothing "
    "single-partitions.",
)
def text_unigram_kl_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    tok = docs.select(
        "source", F.explode(F.split(F.col("text"), " ")).alias("w")
    ).filter(F.col("w") != "")
    c = tok.groupBy("source", "w").agg(F.count(F.lit(1)).alias("n_sw"))
    ws = Window.partitionBy("source")
    wg = Window.partitionBy("w")
    tot = c.agg(F.sum("n_sw").alias("n"))
    j = (
        c.withColumn("t_s", F.sum("n_sw").over(ws))
        .withColumn("vocab", F.count(F.lit(1)).over(ws))
        .withColumn("n_w", F.sum("n_sw").over(wg))
        .crossJoin(F.broadcast(tot))
    )
    p = F.col("n_sw").cast("double") / F.col("t_s")
    q = F.col("n_w").cast("double") / F.col("n")
    return j.groupBy("source").agg(
        F.first("t_s").cast("bigint").alias("n_tokens"),
        F.first("vocab").cast("bigint").alias("vocab"),
        dround(F.sum(p * F.log(p / q)), 6).alias("kl_vs_corpus"),
    )


@register(
    "text_tokenizer_fertility_by_lang",
    oracle=f"""
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_words,
           CAST(SUM(len(regexp_extract_all(text, '{_PRETOKEN_RE}')))
               AS BIGINT) AS n_tokens,
           ROUND(CAST(SUM(length(text)) AS DOUBLE)
                 / SUM(len(regexp_extract_all(text, '{_PRETOKEN_RE}'))), 4)
               AS chars_per_token,
           ROUND(CAST(SUM(len(regexp_extract_all(text, '{_PRETOKEN_RE}')))
                      AS DOUBLE)
                 / SUM(len(string_split(text, ' '))), 4) AS tokens_per_word
    FROM documents
    GROUP BY lang
    """,
    description="Tokenizer fertility by language: corpus-level "
    "chars-per-token and tokens-per-word under the BPE-ish "
    "pre-tokenizer — the cost model behind multilingual token budgets "
    "(a language at 2x fertility pays 2x context length and 2x compute "
    "for the same text; the metric that drives vocab-allocation and "
    "per-language sampling decisions). Narrow single-pass scan-agg: "
    "token counts are computed per row with regexp_extract_all and "
    "summed lang-wise — no explode, no shuffle beyond the |langs|-group "
    "final merge. Complements pipeline_tokenizer_vocab_coverage (OOV "
    "rate) with the length-inflation axis.",
)
def text_tokenizer_fertility_by_lang(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    n_words = F.size(F.split(F.col("text"), " ", -1))
    n_toks = F.size(F.regexp_extract_all(F.col("text"), F.lit(_PRETOKEN_RE), 0))
    return docs.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(n_words).cast("bigint").alias("n_words"),
        F.sum(n_toks).cast("bigint").alias("n_tokens"),
        dround(
            F.sum(F.length("text")).cast("double") / F.sum(n_toks), 4
        ).alias("chars_per_token"),
        dround(F.sum(n_toks).cast("double") / F.sum(n_words), 4).alias(
            "tokens_per_word"
        ),
    )


@register(
    "text_script_mix_audit",
    oracle=r"""
    WITH per_doc AS (
        SELECT lang,
               length(text) AS n_chars,
               length(text) - length(regexp_replace(
                   text, '[\x{4e00}-\x{9fff}]', '', 'g')) AS n_cjk,
               length(text) - length(regexp_replace(
                   text, '[\x{0400}-\x{04ff}]', '', 'g')) AS n_cyr,
               length(text) - length(regexp_replace(
                   text, '[A-Za-z]', '', 'g')) AS n_latin
        FROM documents
    ),
    classed AS (
        SELECT lang,
               CASE
                 WHEN n_cjk > 0 AND n_cyr > 0 THEN 'mixed'
                 WHEN n_cjk > 0 THEN 'cjk'
                 WHEN n_cyr > 0 THEN 'cyrillic'
                 ELSE 'latin'
               END AS script_profile,
               CASE WHEN n_chars > 0
                    THEN CAST(n_cjk AS DOUBLE) / n_chars ELSE 0.0 END AS cjk_ratio,
               CASE WHEN n_chars > 0
                    THEN CAST(n_latin AS DOUBLE) / n_chars ELSE 0.0 END AS latin_ratio
        FROM per_doc
    )
    SELECT lang, script_profile,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(ROUND(CAST(AVG(cjk_ratio) AS DECIMAL(38,8)), 6) AS DOUBLE)
               AS avg_cjk_ratio,
           CAST(ROUND(CAST(AVG(latin_ratio) AS DECIMAL(38,8)), 6) AS DOUBLE)
               AS avg_latin_ratio
    FROM classed GROUP BY lang, script_profile
    ORDER BY lang, script_profile
    """,
    description="Script-mix audit: per doc, count CJK / Cyrillic / Latin "
    "codepoints with three regexp-strip length deltas (one narrow "
    "JVM-side scan, no UDF, no shuffle until the tiny per-language "
    "rollup), classify the script profile, and aggregate "
    "lang x profile counts and ratios. Catches mislabeled-language and "
    "mixed-script (spam/injection) documents — the cheap pre-filter "
    "that runs before any per-doc language model at corpus scale.",
)
def text_script_mix_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    n_chars = F.length("text")
    n_cjk = n_chars - F.length(
        F.regexp_replace(F.col("text"), "[一-鿿]", "")
    )
    n_cyr = n_chars - F.length(
        F.regexp_replace(F.col("text"), "[Ѐ-ӿ]", "")
    )
    n_latin = n_chars - F.length(
        F.regexp_replace(F.col("text"), "[A-Za-z]", "")
    )
    profile = (
        F.when((n_cjk > 0) & (n_cyr > 0), F.lit("mixed"))
        .when(n_cjk > 0, F.lit("cjk"))
        .when(n_cyr > 0, F.lit("cyrillic"))
        .otherwise(F.lit("latin"))
    )
    ratio = lambda n: F.when(  # noqa: E731
        n_chars > 0, n.cast("double") / n_chars
    ).otherwise(F.lit(0.0))
    return (
        docs.select(
            "lang",
            profile.alias("script_profile"),
            ratio(n_cjk).alias("cjk_ratio"),
            ratio(n_latin).alias("latin_ratio"),
        )
        .groupBy("lang", "script_profile")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            dround(F.avg("cjk_ratio"), 6).alias("avg_cjk_ratio"),
            dround(F.avg("latin_ratio"), 6).alias("avg_latin_ratio"),
        )
        .orderBy("lang", "script_profile")
    )


# Words longer than this are excluded from the segmentation inventory.
# r10 (VERDICT r9 ask #5): raised 12 -> 24. The Spark DP is per-word
# (F.sequence(1, length(w)) inside one F.aggregate), so the cap costs
# nothing there; only the DuckDB oracle unrolls K CTE rounds. 24 covers
# production tokenizer-training vocabularies (longest real English
# lexemes ~20 chars; SentencePiece's own default max_sentencepiece_length
# is 16) while keeping the oracle's unrolled SQL tractable.
_VIT_MAXLEN = 24
_VIT_MAXPIECE = 4


def _viterbi_oracle() -> str:
    K, P = _VIT_MAXLEN, _VIT_MAXPIECE
    parts = [
        f"""wl AS MATERIALIZED (
        SELECT lang, u.w FROM documents,
             UNNEST(string_split(text, ' ')) AS u(w)
        WHERE u.w <> '' AND length(u.w) <= {K}
    )""",
        """lwf AS MATERIALIZED (
        SELECT lang, w, COUNT(*) AS freq FROM wl GROUP BY lang, w
    )""",
        """wf AS MATERIALIZED (
        SELECT w, CAST(SUM(freq) AS BIGINT) AS wfreq FROM lwf GROUP BY w
    )""",
        f"""spans AS MATERIALIZED (
        SELECT w, wfreq, s.i AS s, l.j AS len,
               substr(w, s.i, l.j) AS piece, s.i + l.j - 1 AS e
        FROM wf,
             UNNEST(range(1, length(w) + 1)) AS s(i),
             UNNEST(range(1, {P} + 1)) AS l(j)
        WHERE s.i + l.j - 1 <= length(w)
    )""",
        """pc AS MATERIALIZED (
        SELECT piece, CAST(SUM(wfreq) AS BIGINT) AS pcount
        FROM spans GROUP BY piece
    )""",
        """sp AS MATERIALIZED (
        SELECT spans.w, spans.s, spans.e, pc.pcount
        FROM spans JOIN pc USING (piece)
    )""",
        "dp0 AS MATERIALIZED (SELECT w, 0 AS np, CAST(0 AS BIGINT) AS sc FROM wf)",
    ]
    for i in range(1, K + 1):
        lo = max(0, i - P)
        prev = "\n            UNION ALL ".join(
            f"SELECT w, {j} AS i, np, sc FROM dp{j}"
            for j in range(lo, i)
        )
        parts.append(f"""dp{i} AS MATERIALIZED (
        SELECT w, np, sc FROM (
            SELECT sp.w, b.np + 1 AS np, b.sc + sp.pcount AS sc,
                   ROW_NUMBER() OVER (
                       PARTITION BY sp.w
                       ORDER BY b.np + 1 ASC, b.sc + sp.pcount DESC
                   ) AS rn
            FROM sp
            JOIN ({prev}) b
              ON b.w = sp.w AND sp.s = b.i + 1
            WHERE sp.e = {i}
        ) WHERE rn = 1
    )""")
    final_union = "\n        UNION ALL ".join(
        f"SELECT w, {i} AS i, np FROM dp{i}" for i in range(1, K + 1)
    )
    ctes = ",\n    ".join(parts)
    return f"""
    WITH {ctes},
    npw AS MATERIALIZED (
        SELECT d.w, d.np FROM ({final_union}) d
        JOIN wf ON wf.w = d.w AND length(wf.w) = d.i
    )
    SELECT lang,
           CAST(SUM(freq) AS BIGINT) AS n_words,
           CAST(SUM(freq * np) AS BIGINT) AS total_pieces,
           {dround_sql(
               "CAST(SUM(freq * np) AS DOUBLE) / CAST(SUM(freq) AS DOUBLE)", 6
           )} AS pieces_per_word,
           {dround_sql(
               "CAST(SUM(freq * length(w)) AS DOUBLE)"
               " / CAST(SUM(freq * np) AS DOUBLE)", 6
           )} AS chars_per_piece
    FROM lwf JOIN npw USING (w)
    GROUP BY lang ORDER BY lang
    """


def _viterbi_tables(spark: SparkSession, sf_dir: str):
    """(lwf, wf, sp): per-lang word freqs, distinct-word corpus freqs, and
    span costs (w, s, e, pcount) for the substring seed vocabulary."""
    K, P = _VIT_MAXLEN, _VIT_MAXPIECE
    docs = table(spark, sf_dir, "documents")
    wl = (
        docs.select(
            "lang", F.explode(F.split("text", " ", -1)).alias("w")
        )
        .filter((F.col("w") != "") & (F.length("w") <= K))
    )
    lwf = wl.groupBy("lang", "w").agg(F.count(F.lit(1)).alias("freq"))
    wf = (
        lwf.groupBy("w")
        .agg(F.sum("freq").cast("bigint").alias("wfreq"))
        .persist()
    )
    spans = (
        wf.select(
            "w",
            "wfreq",
            F.explode(F.sequence(F.lit(1), F.length("w"))).alias("s"),
        )
        .select(
            "w",
            "wfreq",
            "s",
            F.explode(
                F.sequence(
                    F.lit(1),
                    F.least(F.lit(P), F.length("w") - F.col("s") + 1),
                )
            ).alias("len"),
        )
        .select(
            "w",
            "wfreq",
            "s",
            (F.col("s") + F.col("len") - 1).alias("e"),
            F.substring(F.col("w"), F.col("s"), F.col("len")).alias("piece"),
        )
    )
    pc = spans.groupBy("piece").agg(
        F.sum("wfreq").cast("bigint").alias("pcount")
    )
    sp = spans.join(pc, "piece").select("w", "s", "e", "pcount").persist()
    return lwf, wf, sp


def _viterbi_best_arr(wf: DataFrame, sp: DataFrame) -> DataFrame:
    """Per-word Viterbi DP folded into ONE whole-stage-codegen expression:
    returns (w, ba) where ``ba[k]`` is the optimal struct
    (np, nsc, nL) — piece count, NEGATED score, NEGATED last-piece
    length — for the length-(k-1) prefix of ``w`` (``ba[1]`` is the empty
    prefix). Lexicographic struct-min on integers keeps the argmin
    engine-exact (np asc, sc desc, L desc), identical to the checkpointed
    formulation this replaces.

    The DP for a word never reads another word's state, so the former
    12 localCheckpoint rounds (each a vocab-sized join + a fixed ~0.3 s
    of job-scheduling overhead, paid even when the data is tiny) collapse
    to one groupBy(w) shuffle + one ``F.aggregate`` over the word's own
    span list (<= 4*len structs). At 100 TB the contract strengthens:
    segmentation is one shuffle of the distinct-word table, with zero
    iterative driver round-trips."""
    spans_by_w = sp.groupBy("w").agg(
        F.collect_list(F.struct("s", "e", "pcount")).alias("spans")
    )
    init = F.array(
        F.struct(
            F.lit(0).alias("np"),
            F.lit(0).cast("bigint").alias("nsc"),
            F.lit(0).alias("nL"),
        )
    )

    def dp_step(acc, i):
        # candidates = spans ending at position i; best-of-prefix comes
        # from acc[s] (1-based: acc[k] holds position k-1)
        cands = F.transform(
            F.filter(F.col("spans"), lambda s: s["e"] == i),
            lambda s: F.struct(
                (F.element_at(acc, s["s"])["np"] + 1).alias("np"),
                (F.element_at(acc, s["s"])["nsc"] - s["pcount"]).alias(
                    "nsc"
                ),
                (s["s"] - s["e"] - 1).alias("nL"),
            ),
        )
        return F.concat(acc, F.array(F.array_min(cands)))

    ba = F.aggregate(F.sequence(F.lit(1), F.length("w")), init, dp_step)
    return spans_by_w.select("w", ba.alias("ba"))



@register(
    "text_unigram_viterbi_segment",
    oracle=_viterbi_oracle(),
    description="SentencePiece-style subword segmentation via Viterbi DP "
    "over a substring seed vocabulary: every 1..4-char substring of the "
    "word inventory (corpus-frequency weighted) is a candidate piece, "
    "and each word is segmented optimally by dynamic programming — "
    "fewest pieces first, then highest total piece frequency (an "
    "INTEGER-exact objective, chosen over log-prob costs so the argmin "
    "can never diverge across engines by a ulp of ln; the DP shape is "
    "identical to unigram-LM Viterbi). The DP runs on the DISTINCT "
    "word-frequency table, never the corpus: one scan + groupBy builds "
    "the word inventory, and the whole per-word DP folds into a single "
    "whole-stage-codegen F.aggregate over the word's own span list — "
    "one vocab shuffle total, zero iterative joins or checkpoints, so "
    "segmentation cost is independent of corpus size AND of engine "
    "round-trips. "
    "Words longer than 24 chars are excluded (cap stated, matched by "
    "the oracle; the Spark DP is per-word so the cap is oracle-side "
    "only). Reports "
    "per-language pieces/word and chars/piece — tie-invariant metrics "
    "(optimal np and score are unique even when segmentations tie).",
)
def text_unigram_viterbi_segment(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    lwf, wf, sp = _viterbi_tables(spark, sf_dir)
    best = _viterbi_best_arr(wf, sp)
    # ba[len(w)+1] is the full word's optimum — no join/filter needed to
    # pick the final DP row, it's an array lookup
    npw = best.select(
        "w",
        F.element_at(F.col("ba"), F.length("w") + 1)["np"].alias("np"),
    )
    out = (
        lwf.join(npw, "w")
        .groupBy("lang")
        .agg(
            F.sum("freq").cast("bigint").alias("n_words"),
            F.sum(F.col("freq") * F.col("np")).cast("bigint").alias(
                "total_pieces"
            ),
            dround(
                F.sum(F.col("freq") * F.col("np")).cast("double")
                / F.sum("freq").cast("double"),
                6,
            ).alias("pieces_per_word"),
            dround(
                F.sum(F.col("freq") * F.length("w")).cast("double")
                / F.sum(F.col("freq") * F.col("np")).cast("double"),
                6,
            ).alias("chars_per_piece"),
        )
        .orderBy("lang")
    )
    return out


def _viterbi_bp_ctes() -> str:
    """Shared CTE prefix through the backpointered DP tables dp1..dpK —
    identical seeding/spans as :func:`_viterbi_oracle`, with each dp
    round keeping the chosen last-piece length L (tie-break np asc,
    sc desc, L desc — all integers)."""
    K, P = _VIT_MAXLEN, _VIT_MAXPIECE
    parts = [
        f"""wl AS MATERIALIZED (
        SELECT lang, u.w FROM documents,
             UNNEST(string_split(text, ' ')) AS u(w)
        WHERE u.w <> '' AND length(u.w) <= {K}
    )""",
        """lwf AS MATERIALIZED (
        SELECT lang, w, COUNT(*) AS freq FROM wl GROUP BY lang, w
    )""",
        """wf AS MATERIALIZED (
        SELECT w, CAST(SUM(freq) AS BIGINT) AS wfreq FROM lwf GROUP BY w
    )""",
        f"""spans AS MATERIALIZED (
        SELECT w, wfreq, s.i AS s, l.j AS len,
               substr(w, s.i, l.j) AS piece, s.i + l.j - 1 AS e
        FROM wf,
             UNNEST(range(1, length(w) + 1)) AS s(i),
             UNNEST(range(1, {P} + 1)) AS l(j)
        WHERE s.i + l.j - 1 <= length(w)
    )""",
        """pc AS MATERIALIZED (
        SELECT piece, CAST(SUM(wfreq) AS BIGINT) AS pcount
        FROM spans GROUP BY piece
    )""",
        """sp AS MATERIALIZED (
        SELECT spans.w, spans.s, spans.e, pc.pcount
        FROM spans JOIN pc USING (piece)
    )""",
        "dp0 AS MATERIALIZED (SELECT w, 0 AS np, CAST(0 AS BIGINT) AS sc,"
        " 0 AS L FROM wf)",
    ]
    for i in range(1, K + 1):
        lo = max(0, i - P)
        prev = "\n            UNION ALL ".join(
            f"SELECT w, {j} AS i, np, sc FROM dp{j}"
            for j in range(lo, i)
        )
        parts.append(f"""dp{i} AS MATERIALIZED (
        SELECT w, np, sc, L FROM (
            SELECT sp.w, b.np + 1 AS np, b.sc + sp.pcount AS sc,
                   sp.e - sp.s + 1 AS L,
                   ROW_NUMBER() OVER (
                       PARTITION BY sp.w
                       ORDER BY b.np + 1 ASC, b.sc + sp.pcount DESC,
                                sp.e - sp.s + 1 DESC
                   ) AS rn
            FROM sp
            JOIN ({prev}) b
              ON b.w = sp.w AND sp.s = b.i + 1
            WHERE sp.e = {i}
        ) WHERE rn = 1
    )""")
    bp_union = "\n        UNION ALL ".join(
        f"SELECT w, {i} AS i, L FROM dp{i}" for i in range(1, K + 1)
    )
    parts.append(f"bp AS MATERIALIZED (\n        {bp_union}\n    )")
    return ",\n    ".join(parts)


def _unigram_em_oracle() -> str:
    K = _VIT_MAXLEN
    walk_parts = ["walk0 AS MATERIALIZED (SELECT w, length(w) AS i FROM wf)"]
    for t in range(1, K + 1):
        walk_parts.append(f"""step{t} AS MATERIALIZED (
        SELECT k.w, substr(k.w, k.i - bp.L + 1, bp.L) AS piece,
               k.i - bp.L AS ni
        FROM walk{t - 1} k JOIN bp ON bp.w = k.w AND bp.i = k.i
        WHERE k.i > 0
    )""")
        walk_parts.append(
            f"walk{t} AS MATERIALIZED "
            f"(SELECT w, ni AS i FROM step{t} WHERE ni > 0)"
        )
    pieces_union = "\n        UNION ALL ".join(
        f"SELECT w, piece FROM step{t}" for t in range(1, K + 1)
    )
    walk_sql = ",\n    ".join(walk_parts)
    return f"""
    WITH {_viterbi_bp_ctes()},
    {walk_sql},
    pieces AS MATERIALIZED ({pieces_union}),
    usage AS (
        SELECT p.piece,
               CAST(COUNT(DISTINCT p.w) AS BIGINT) AS n_words,
               CAST(SUM(wf.wfreq) AS BIGINT) AS usage
        FROM pieces p JOIN wf ON wf.w = p.w
        GROUP BY p.piece
    ),
    tot AS (SELECT CAST(SUM(usage) AS BIGINT) AS total FROM usage)
    SELECT piece, n_words, usage,
           {dround_sql("CAST(usage AS DOUBLE) / total", 6)} AS usage_share
    FROM usage, tot
    ORDER BY usage DESC, piece
    LIMIT 20
    """


@register(
    "text_unigram_lm_em_round",
    oracle=_unigram_em_oracle(),
    description="The M-step completing the unigram-LM EM round: "
    "reconstruct every word's OPTIMAL segmentation by walking the "
    "Viterbi backpointers (deterministic integer tie-break: fewest "
    "pieces, highest score, longest last piece), then re-estimate piece "
    "usage — corpus-frequency-weighted counts over the chosen "
    "segmentations, exactly what SentencePiece feeds its next EM "
    "iteration and prune step. The walk folds into one whole-stage "
    "expression over the per-word DP array (positions strictly decrease "
    "by the chosen piece length, so length(w) unrolled steps suffice), "
    "so like the E-step it never touches the corpus after the one "
    "word-count scan and pays zero iterative joins. Returns the top-20 "
    "pieces by usage with share — the vocab head the prune step would "
    "keep.",
)
def text_unigram_lm_em_round(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    _lwf, wf, sp = _viterbi_tables(spark, sf_dir)
    best = _viterbi_best_arr(wf, sp)

    # Backpointer walk folded into one expression (same collapse as the
    # DP itself): positions strictly decrease by the chosen piece length,
    # so length(w) steps always suffice; each step reads the chosen
    # last-piece length from ba[i+1] and emits substr(w, i-L+1, L).
    # Zero joins, zero checkpoints — the former 12 checkpointed walk
    # rounds were pure scheduling overhead on a vocab-sized table.
    def walk_step(acc, _):
        i = acc["i"]
        length = -F.element_at(F.col("ba"), i + 1)["nL"]
        return F.when(
            i > F.lit(0),
            F.struct(
                (i - length).alias("i"),
                F.concat(
                    acc["pieces"],
                    F.array(F.substring(F.col("w"), i - length + 1, length)),
                ).alias("pieces"),
            ),
        ).otherwise(acc)

    walk_init = F.struct(
        F.length("w").alias("i"),
        F.array().cast("array<string>").alias("pieces"),
    )
    pieces_arr = F.aggregate(
        F.sequence(F.lit(1), F.length("w")),
        walk_init,
        walk_step,
        lambda acc: acc["pieces"],
    )
    pieces = best.select("w", F.explode(pieces_arr).alias("piece"))
    usage = (
        pieces.join(wf, "w")
        .groupBy("piece")
        .agg(
            F.countDistinct("w").cast("bigint").alias("n_words"),
            F.sum("wfreq").cast("bigint").alias("usage"),
        )
    )
    tot = usage.agg(F.sum("usage").cast("bigint").alias("total"))
    return (
        usage.crossJoin(F.broadcast(tot))
        .select(
            "piece",
            "n_words",
            "usage",
            dround(F.col("usage").cast("double") / F.col("total"), 6).alias(
                "usage_share"
            ),
        )
        .orderBy(F.col("usage").desc(), "piece")
        .limit(20)
    )


# --------------------------------------------------- BM25 retrieval
_BM25_PANEL: list[tuple[str, str]] = [
    ("q1", "hash"), ("q1", "join"), ("q1", "table"),
    ("q2", "stream"), ("q2", "window"), ("q2", "agg"),
    ("q3", "vector"), ("q3", "scan"), ("q3", "filter"),
]
_BM25_K1 = 1.2
_BM25_B = 0.75


def _bm25_oracle() -> str:
    panel_rows = ", ".join(f"('{q}', '{t}')" for q, t in _BM25_PANEL)
    terms = ", ".join(sorted({f"'{t}'" for _, t in _BM25_PANEL}))
    # contribution is rounded to integer micro-units BEFORE the per-doc
    # sum, so the aggregate is an order-free BIGINT sum on both engines
    micro = f"""CAST(ROUND(CAST(
        (ln(1 + (s.n - d.df + 0.5) / (d.df + 0.5))
         * ((t.tf * {_BM25_K1 + 1.0}) / (t.tf + {_BM25_K1} * ({1.0 - _BM25_B}
            + {_BM25_B} * (CAST(t.dl AS DOUBLE)
                           / (CAST(s.sumdl AS DOUBLE) / s.n))))))
        * 1000000 AS DECIMAL(38,8)), 0) AS BIGINT)"""
    return f"""
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ),
    stats AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(len(t)) AS BIGINT) AS sumdl
        FROM toks
    ),
    panel(query_id, term) AS (VALUES {panel_rows}),
    tf AS (
        SELECT doc_id, term,
               CAST(COUNT(*) AS BIGINT) AS tf,
               CAST(MAX(dl) AS BIGINT) AS dl
        FROM (
            SELECT doc_id, len(t) AS dl, UNNEST(t) AS term FROM toks
        )
        WHERE term IN ({terms})
        GROUP BY doc_id, term
    ),
    dfreq AS (
        SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term
    ),
    contrib AS (
        SELECT p.query_id, t.doc_id, {micro} AS micro
        FROM tf t
        JOIN panel p ON p.term = t.term
        JOIN dfreq d ON d.term = t.term
        CROSS JOIN stats s
    ),
    scored AS (
        SELECT query_id, doc_id,
               CAST(SUM(micro) AS BIGINT) AS s_micro,
               CAST(COUNT(*) AS BIGINT) AS n_terms_matched
        FROM contrib GROUP BY query_id, doc_id
    )
    SELECT query_id, doc_id, n_terms_matched,
           {dround_sql("s_micro / 1000000.0", 6)} AS score, rank
    FROM (
        SELECT *, CAST(ROW_NUMBER() OVER (
            PARTITION BY query_id ORDER BY s_micro DESC, doc_id
        ) AS BIGINT) AS rank
        FROM scored
    )
    WHERE rank <= 5
    """


@register(
    "text_bm25_topk",
    oracle=_bm25_oracle(),
    description="BM25 top-5 retrieval (k1=1.2, b=0.75, Lucene's "
    "ln(1+(N-df+0.5)/(df+0.5)) idf) for a fixed 3-query panel over the "
    "documents table. One tokenize+explode pass filtered to the 9 panel "
    "terms feeds term frequencies, document lengths ride the same pass "
    "(no second doc-length join); document frequencies and corpus stats "
    "are tiny aggregates broadcast back onto the postings. Per-term "
    "contributions are rounded to integer MICRO-units before the per-doc "
    "sum, so the score aggregate is an order-free BIGINT sum — immune to "
    "double-accumulation ordering across engines and partitionings. "
    "Top-5 per query by (score desc, doc_id) row_number. At 100 TB the "
    "postings build shuffles once on (doc,term); everything joined onto "
    "it (panel, df, corpus stats) is broadcast-sized.",
)
def text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents").select(
        "doc_id", F.split(F.col("text"), " ", -1).alias("t")
    )
    stats = docs.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.size("t")).cast("bigint").alias("sumdl"),
    )
    panel = spark.createDataFrame(_BM25_PANEL, "query_id string, term string")
    terms = sorted({t for _, t in _BM25_PANEL})
    tf = (
        docs.select(
            "doc_id",
            F.size("t").alias("dl"),
            F.explode("t").alias("term"),
        )
        .filter(F.col("term").isin(terms))
        .groupBy("doc_id", "term")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("tf"),
            F.max("dl").cast("bigint").alias("dl"),
        )
        .persist()  # feeds both the postings join and dfreq: one
        # tokenize+explode scan instead of two (Catalyst doesn't share
        # subplans across the df-count and score branches)
    )
    dfreq = tf.groupBy("term").agg(
        F.count(F.lit(1)).cast("bigint").alias("df")
    )
    avgdl = F.col("sumdl").cast("double") / F.col("n")
    idf = F.log(
        F.lit(1)
        + (F.col("n") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    tfpart = (F.col("tf") * F.lit(_BM25_K1 + 1.0)) / (
        F.col("tf")
        + F.lit(_BM25_K1)
        * (
            F.lit(1.0 - _BM25_B)
            + F.lit(_BM25_B) * (F.col("dl").cast("double") / avgdl)
        )
    )
    micro = (
        F.round(((idf * tfpart) * 1000000).cast("decimal(38,8)"), 0)
        .cast("bigint")
        .alias("micro")
    )
    contrib = (
        tf.join(F.broadcast(panel), "term")
        .join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(stats))
        .select("query_id", "doc_id", micro)
    )
    scored = contrib.groupBy("query_id", "doc_id").agg(
        F.sum("micro").cast("bigint").alias("s_micro"),
        F.count(F.lit(1)).cast("bigint").alias("n_terms_matched"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("s_micro").desc(), F.col("doc_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= 5)
        .select(
            "query_id",
            "doc_id",
            "n_terms_matched",
            dround(F.col("s_micro") / 1000000.0, 6).alias("score"),
            "rank",
        )
    )


# --------------------------------------- Good-Turing count smoothing
@register(
    "text_good_turing_trigrams",
    oracle=f"""
    WITH toks AS (
        SELECT string_split(text, ' ') AS t FROM documents
    ),
    tris AS (
        SELECT array_to_string(t[i:i+2], chr(31)) AS g
        FROM toks, UNNEST(range(1, len(t) - 1)) AS u(i)
        WHERE len(t) >= 3
    ),
    cnt AS (
        SELECT g, CAST(COUNT(*) AS BIGINT) AS r FROM tris GROUP BY g
    ),
    coc AS (
        SELECT r, CAST(COUNT(*) AS BIGINT) AS n_r FROM cnt GROUP BY r
    ),
    tot AS (
        SELECT CAST(SUM(r * n_r) AS BIGINT) AS n_tok,
               CAST(COALESCE(MAX(CASE WHEN r = 1 THEN n_r END), 0)
                    AS BIGINT) AS n1
        FROM coc
    )
    SELECT c.r, c.n_r,
           {dround_sql("(c.r + 1) * CAST(c2.n_r AS DOUBLE) / c.n_r", 6)}
               AS r_star,
           t.n_tok AS total_trigrams,
           {dround_sql("CAST(t.n1 AS DOUBLE) / t.n_tok", 8)}
               AS missing_mass
    FROM coc c
    LEFT JOIN coc c2 ON c2.r = c.r + 1
    CROSS JOIN tot t
    """,
    description="Good-Turing frequency re-estimation over corpus "
    "trigram counts: the count-of-counts table N_r and the smoothed "
    "count r* = (r+1) N_(r+1)/N_r, plus the unseen-event missing mass "
    "N_1/N — the LM-smoothing primitive behind Katz backoff and the "
    "coverage estimator ('how much probability mass belongs to n-grams "
    "this corpus has never seen') a training-data curation run uses to "
    "decide whether more data will still teach the model new text. "
    "Everything before the final dim-sized join is integer counting — "
    "trigram explode, two nested groupBys, all map-side combinable; the "
    "count-of-counts table is at most max-frequency rows, so the r+1 "
    "self-join and the totals broadcast are free at any corpus size. "
    "r* where N_(r+1)=0 publishes NULL (the raw Good-Turing estimator "
    "is undefined there; smoothing N_r, e.g. Simple GT, is a fit "
    "problem, not a counting problem).",
)
def text_good_turing_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents").select(
        F.split(F.col("text"), " ", -1).alias("t")
    )
    tris = (
        docs.filter(F.size("t") >= 3)
        .select(
            F.explode(
                F.sequence(F.lit(1), F.size("t") - 2)
            ).alias("i"),
            "t",
        )
        .select(
            F.concat_ws("\x1f", F.slice(F.col("t"), F.col("i"), 3)).alias("g")
        )
    )
    cnt = tris.groupBy("g").agg(F.count(F.lit(1)).cast("bigint").alias("r"))
    coc = cnt.groupBy("r").agg(F.count(F.lit(1)).cast("bigint").alias("n_r"))
    tot = coc.agg(
        F.sum(F.col("r") * F.col("n_r")).cast("bigint").alias("n_tok"),
        F.coalesce(
            F.max(F.when(F.col("r") == 1, F.col("n_r"))), F.lit(0)
        )
        .cast("bigint")
        .alias("n1"),
    )
    nxt = coc.select(
        (F.col("r") - 1).alias("r"), F.col("n_r").alias("n_r_next")
    )
    return (
        coc.join(F.broadcast(nxt), "r", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "r",
            "n_r",
            dround(
                ((F.col("r") + 1) * F.col("n_r_next").cast("double"))
                / F.col("n_r"),
                6,
            ).alias("r_star"),
            F.col("n_tok").alias("total_trigrams"),
            dround(F.col("n1").cast("double") / F.col("n_tok"), 8).alias(
                "missing_mass"
            ),
        )
    )


# ------------------------------------- MATTR lexical diversity
_MATTR_W = 50


@register(
    "text_mattr_lexical_diversity",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, lang, string_split(text, ' ') AS t FROM documents
    ),
    win AS (
        SELECT doc_id, lang,
               CAST(SUM(len(list_distinct(t[i:i+{_MATTR_W - 1}])))
                    AS BIGINT) AS d_sum,
               CAST(COUNT(*) AS BIGINT) AS n_windows
        FROM toks, UNNEST(range(1, len(t) - {_MATTR_W} + 2)) AS u(i)
        WHERE len(t) >= {_MATTR_W}
        GROUP BY doc_id, lang
    ),
    ttr AS (
        SELECT doc_id,
               CAST(len(list_distinct(t)) AS BIGINT) AS n_types,
               CAST(len(t) AS BIGINT) AS n_tokens
        FROM toks
    )
    SELECT w.lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(w.n_windows) AS BIGINT) AS n_windows,
           {dround_sql(
               f"CAST(SUM(w.d_sum) AS DOUBLE)"
               f" / ({_MATTR_W} * SUM(w.n_windows))", 6)} AS pooled_mattr,
           {dround_sql(
               "CAST(SUM(tt.n_types) AS DOUBLE) / SUM(tt.n_tokens)", 6)}
               AS pooled_ttr
    FROM win w JOIN ttr tt ON tt.doc_id = w.doc_id
    GROUP BY w.lang
    """,
    description=f"Moving-average type-token ratio (MATTR, window "
    f"{_MATTR_W}) pooled per language, beside the pooled plain TTR it "
    "corrects: TTR collapses as documents grow (Heaps' law), MATTR "
    "holds the measurement window fixed so lexical diversity is "
    "comparable across document lengths — a standard quality-filter "
    "feature (repetitive/boilerplate text scores low). Per doc the "
    "window pass keeps only TWO integers (sum of per-window distinct "
    "counts, window count), so the language rollup is an order-free "
    "BIGINT sum and each published ratio is ONE division — no double "
    "accumulation anywhere. The per-doc O(len x W) distinct-count work "
    "is row-local map work (higher-order functions, no shuffle); the "
    "rollup is a dim-sized groupBy(lang).",
)
def text_mattr_lexical_diversity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = table(spark, sf_dir, "documents").select(
        "doc_id", "lang", F.split(F.col("text"), " ", -1).alias("t")
    )
    w = _MATTR_W
    idx = F.sequence(F.lit(1), F.size("t") - (w - 1))
    d_sum = F.aggregate(
        idx,
        F.lit(0).cast("bigint"),
        lambda acc, i: acc
        + F.size(F.array_distinct(F.slice(F.col("t"), i, w))),
    )
    win = docs.filter(F.size("t") >= w).select(
        "doc_id",
        "lang",
        d_sum.alias("d_sum"),
        (F.size("t") - (w - 1)).cast("bigint").alias("n_windows"),
        F.size(F.array_distinct("t")).cast("bigint").alias("n_types"),
        F.size("t").cast("bigint").alias("n_tokens"),
    )
    return win.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_windows").cast("bigint").alias("n_windows"),
        dround(
            F.sum("d_sum").cast("double")
            / (F.lit(w) * F.sum("n_windows")),
            6,
        ).alias("pooled_mattr"),
        dround(
            F.sum("n_types").cast("double") / F.sum("n_tokens"), 6
        ).alias("pooled_ttr"),
    )


# --------------------------------- Jensen-Shannon divergence, lang pairs
@register(
    "text_js_divergence_lang_pairs",
    oracle=f"""
    WITH tok AS (
        SELECT lang, unnest(string_split(text, ' ')) AS w FROM documents
    ),
    c AS (
        SELECT lang, w, CAST(COUNT(*) AS BIGINT) AS n FROM tok
        WHERE w <> '' GROUP BY lang, w
    ),
    t AS (SELECT lang, CAST(SUM(n) AS BIGINT) AS tot FROM c GROUP BY lang),
    lp AS (
        SELECT a.lang AS lang_a, b.lang AS lang_b
        FROM t a JOIN t b ON a.lang < b.lang
    ),
    terms AS (
        SELECT p.lang_a, p.lang_b, c.w,
               CAST(SUM(CASE WHEN c.lang = p.lang_a THEN c.n END)
                    AS BIGINT) AS n_a,
               CAST(SUM(CASE WHEN c.lang = p.lang_b THEN c.n END)
                    AS BIGINT) AS n_b
        FROM lp p JOIN c ON c.lang IN (p.lang_a, p.lang_b)
        GROUP BY p.lang_a, p.lang_b, c.w
    ),
    contrib AS (
        SELECT lang_a, lang_b,
               CAST(ROUND(CAST((
                 CASE WHEN COALESCE(n_a, 0) > 0 THEN
                   0.5 * (CAST(n_a AS DOUBLE) / ta.tot)
                   * ln((CAST(n_a AS DOUBLE) / ta.tot)
                        / (0.5 * (COALESCE(CAST(n_a AS DOUBLE), 0) / ta.tot
                           + COALESCE(CAST(n_b AS DOUBLE), 0) / tb.tot)))
                 ELSE 0 END
                 +
                 CASE WHEN COALESCE(n_b, 0) > 0 THEN
                   0.5 * (CAST(n_b AS DOUBLE) / tb.tot)
                   * ln((CAST(n_b AS DOUBLE) / tb.tot)
                        / (0.5 * (COALESCE(CAST(n_a AS DOUBLE), 0) / ta.tot
                           + COALESCE(CAST(n_b AS DOUBLE), 0) / tb.tot)))
                 ELSE 0 END
               ) * 1000000000 AS DECIMAL(38,8)), 0) AS BIGINT) AS nano
        FROM terms
        JOIN t ta ON ta.lang = terms.lang_a
        JOIN t tb ON tb.lang = terms.lang_b
    )
    SELECT lang_a, lang_b,
           {dround_sql("SUM(nano) / 1000000000.0", 6)} AS jsd_nats,
           {dround_sql("SUM(nano) / 1000000000.0 / ln(2)", 6)} AS jsd_bits
    FROM contrib GROUP BY lang_a, lang_b
    """,
    description="Jensen-Shannon divergence between every pair of "
    "language unigram distributions — the SYMMETRIC, always-finite "
    "corpus-comparison metric (KL blows up on support mismatch; JSD's "
    "mixture midpoint never does), the standard 'how different are "
    "these corpus slices' number when planning a multilingual data "
    "mix. Per-term contributions are rounded to integer NANO-units "
    "before the per-pair sum, so the aggregate is an order-free BIGINT "
    "sum — immune to double-accumulation order across engines and "
    "partitionings (the vocab-grain term table is where all float work "
    "happens, as one fixed scalar expression per row). Corpus-scale "
    "work is ONE tokenize + one (lang, token) count; the pair fan-out "
    "joins the dim-sized count table against a |langs|^2 literal.",
)
def text_js_divergence_lang_pairs(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    tok = docs.select(
        "lang", F.explode(F.split(F.col("text"), " ")).alias("w")
    ).filter(F.col("w") != "")
    c = tok.groupBy("lang", "w").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    ).persist()
    t = c.groupBy("lang").agg(F.sum("n").cast("bigint").alias("tot"))
    ta, tb = t.alias("ta"), t.alias("tb")
    lp = ta.join(
        tb, F.col("ta.lang") < F.col("tb.lang")
    ).select(
        F.col("ta.lang").alias("lang_a"),
        F.col("tb.lang").alias("lang_b"),
        F.col("ta.tot").alias("tot_a"),
        F.col("tb.tot").alias("tot_b"),
    )
    terms = (
        F.broadcast(lp)
        .join(
            c,
            (c["lang"] == F.col("lang_a")) | (c["lang"] == F.col("lang_b")),
        )
        .groupBy("lang_a", "lang_b", "w")
        .agg(
            F.sum(F.when(F.col("lang") == F.col("lang_a"), F.col("n")))
            .cast("bigint")
            .alias("n_a"),
            F.sum(F.when(F.col("lang") == F.col("lang_b"), F.col("n")))
            .cast("bigint")
            .alias("n_b"),
            F.max("tot_a").alias("tot_a"),
            F.max("tot_b").alias("tot_b"),
        )
    )
    pa = F.coalesce(F.col("n_a").cast("double"), F.lit(0.0)) / F.col("tot_a")
    pb = F.coalesce(F.col("n_b").cast("double"), F.lit(0.0)) / F.col("tot_b")
    m = 0.5 * (pa + pb)
    part = F.when(
        F.coalesce(F.col("n_a"), F.lit(0)) > 0,
        0.5
        * (F.col("n_a").cast("double") / F.col("tot_a"))
        * F.log((F.col("n_a").cast("double") / F.col("tot_a")) / m),
    ).otherwise(F.lit(0.0)) + F.when(
        F.coalesce(F.col("n_b"), F.lit(0)) > 0,
        0.5
        * (F.col("n_b").cast("double") / F.col("tot_b"))
        * F.log((F.col("n_b").cast("double") / F.col("tot_b")) / m),
    ).otherwise(F.lit(0.0))
    nano = (
        F.round((part * 1000000000).cast("decimal(38,8)"), 0)
        .cast("bigint")
        .alias("nano")
    )
    import math

    return (
        terms.select("lang_a", "lang_b", nano)
        .groupBy("lang_a", "lang_b")
        .agg(
            dround(F.sum("nano") / 1000000000.0, 6).alias("jsd_nats"),
            dround(
                F.sum("nano") / 1000000000.0 / math.log(2), 6
            ).alias("jsd_bits"),
        )
    )


# ---------------------------------------------- Flesch readability
@register(
    "text_readability_flesch",
    oracle=f"""
    WITH scored AS (
        SELECT lang,
               GREATEST(1, length(regexp_replace(text, '[^.!?]', '', 'g')))
                   AS sents,
               length(string_split_regex(trim(text), '\\s+')) AS words,
               GREATEST(
                   length(string_split_regex(trim(text), '\\s+')),
                   length(regexp_replace(lower(text), '[aeiouy]+', '#', 'g'))
                   - length(regexp_replace(lower(text), '[aeiouy]+', '', 'g'))
               ) AS sylls
        FROM documents WHERE lang IN ('en', 'es', 'de', 'fr')
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           {dround_sql("AVG(CAST(words AS DOUBLE) / sents)", 4)}
               AS words_per_sentence,
           {dround_sql("AVG(CAST(sylls AS DOUBLE) / words)", 4)}
               AS syllables_per_word,
           {dround_sql(
               "AVG(206.835 - 1.015 * (CAST(words AS DOUBLE) / sents)"
               " - 84.6 * (CAST(sylls AS DOUBLE) / words))", 4)}
               AS flesch_reading_ease
    FROM scored GROUP BY lang
    """,
    description="Flesch reading-ease profile per language: sentence "
    "count from terminal-punctuation chars, words from a whitespace "
    "split, syllables from the vowel-group proxy (count of [aeiouy]+ "
    "runs, floored at one per word) — the classic corpus-readability "
    "screen used alongside Gopher-style quality gates to spot sources "
    "whose prose is boilerplate-short or run-on-long. Latin-script "
    "languages only (the formula is undefined for zh's unsegmented "
    "script). Pure per-row JVM expressions (regexp_replace/split) "
    "folded into one scan + one lang-grain agg; zero shuffles beyond "
    "the 4-group hash agg, trivially scan-bound at 100 TB.",
)
def text_readability_flesch(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents").filter(
        F.col("lang").isin("en", "es", "de", "fr")
    )
    lowered = F.lower(F.col("text"))
    sents = F.greatest(
        F.lit(1), F.length(F.regexp_replace(F.col("text"), r"[^.!?]", ""))
    )
    words = F.size(F.split(F.trim(F.col("text")), r"\s+"))
    vgroups = F.length(
        F.regexp_replace(lowered, r"[aeiouy]+", "#")
    ) - F.length(F.regexp_replace(lowered, r"[aeiouy]+", ""))
    sylls = F.greatest(words, vgroups)
    scored = docs.select(
        "lang",
        sents.alias("sents"),
        words.alias("words"),
        sylls.alias("sylls"),
    )
    wps = F.col("words").cast("double") / F.col("sents")
    spw = F.col("sylls").cast("double") / F.col("words")
    return scored.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        dround(F.avg(wps), 4).alias("words_per_sentence"),
        dround(F.avg(spw), 4).alias("syllables_per_word"),
        dround(F.avg(206.835 - 1.015 * wps - 84.6 * spw), 4).alias(
            "flesch_reading_ease"
        ),
    )


# ------------------------------------- Burrows' Delta stylometry
@register(
    "text_burrows_delta_sources",
    oracle=f"""
    WITH bd_toks AS (
        SELECT source, unnest(string_split(text, ' ')) AS w
        FROM documents
    ),
    bd_mfw AS (
        SELECT w FROM (
            SELECT w, CAST(COUNT(*) AS BIGINT) AS c
            FROM bd_toks GROUP BY w
            ORDER BY c DESC, w LIMIT 50
        )
    ),
    bd_srctot AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS toks
        FROM bd_toks GROUP BY source
    ),
    bd_counts AS (
        SELECT source, w, CAST(COUNT(*) AS BIGINT) AS c
        FROM bd_toks WHERE w IN (SELECT w FROM bd_mfw)
        GROUP BY source, w
    ),
    bd_grid AS (
        SELECT s.source, m.w,
               CAST(COALESCE(c.c, 0) AS DOUBLE) / s.toks AS f
        FROM bd_srctot s CROSS JOIN bd_mfw m
        LEFT JOIN bd_counts c ON c.source = s.source AND c.w = m.w
    ),
    bd_norm AS (
        SELECT w, AVG(f) AS mu,
               sqrt(AVG(f * f) - AVG(f) * AVG(f)) AS sigma
        FROM bd_grid GROUP BY w
    ),
    bd_z AS (
        SELECT g.source, g.w, (g.f - n.mu) / n.sigma AS z
        FROM bd_grid g JOIN bd_norm n ON n.w = g.w
        WHERE n.sigma > 0
    )
    SELECT a.source AS source_a, b.source AS source_b,
           {dround_sql("AVG(abs(a.z - b.z))", 6)} AS burrows_delta
    FROM bd_z a JOIN bd_z b ON a.w = b.w AND a.source < b.source
    GROUP BY a.source, b.source
    """,
    description="Burrows' Delta between crawl sources: z-scores of the "
    "50 most-frequent corpus words per source (zero-filled grid, "
    "population sigma), pairwise mean |z_a - z_b| — the standard "
    "stylometric distance used for authorship attribution, here "
    "repurposed as a which-sources-write-alike monitor (near-zero "
    "Delta between two 'independent' crawls is a mirrored-content "
    "flag that token-count KPIs miss). Fact-scale work is ONE token "
    "explode; everything after runs on the |sources| x 50 grid. The "
    "MFW pick uses a total order (count desc, word) so both engines "
    "choose the identical vocabulary.",
)
def text_burrows_delta_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    toks = docs.select(
        "source", F.explode(F.split(F.col("text"), " ")).alias("w")
    ).persist()
    mfw = (
        toks.groupBy("w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        .orderBy(F.col("c").desc(), "w")
        .limit(50)
        .select("w")
    )
    srctot = toks.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("toks")
    )
    counts = (
        toks.join(F.broadcast(mfw), "w")
        .groupBy("source", "w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    grid = (
        srctot.crossJoin(F.broadcast(mfw))
        .join(F.broadcast(counts), ["source", "w"], "left")
        .select(
            "source",
            "w",
            (F.coalesce("c", F.lit(0)).cast("double") / F.col("toks")).alias(
                "f"
            ),
        )
    )
    norm = grid.groupBy("w").agg(
        F.avg("f").alias("mu"),
        F.sqrt(F.avg(F.col("f") * F.col("f")) - F.avg("f") * F.avg("f")).alias(
            "sigma"
        ),
    )
    z = (
        grid.join(F.broadcast(norm), "w")
        .filter(F.col("sigma") > 0)
        .select(
            "source", "w", ((F.col("f") - F.col("mu")) / F.col("sigma")).alias("z")
        )
    )
    a, b = z.alias("a"), z.alias("b")
    return (
        a.join(
            b,
            (F.col("a.w") == F.col("b.w"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("source_a"),
            F.col("b.source").alias("source_b"),
        )
        .agg(
            dround(F.avg(F.abs(F.col("a.z") - F.col("b.z"))), 6).alias(
                "burrows_delta"
            )
        )
    )


# ------------------------------------- Chao1 vocabulary richness
@register(
    "text_chao1_vocab_richness",
    oracle=f"""
    WITH ch_freq AS (
        SELECT w, CAST(COUNT(*) AS BIGINT) AS c FROM (
            SELECT unnest(string_split(text, ' ')) AS w FROM documents
        ) WHERE w <> '' GROUP BY w
    ),
    ch_coc AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS s_obs,
               CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS f1,
               CAST(SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS f2,
               CAST(SUM(c) AS BIGINT) AS n_tokens
        FROM ch_freq
    )
    SELECT s_obs, f1, f2, n_tokens,
           {dround_sql(
               "s_obs + CAST(f1 AS DOUBLE) * f1 / (2.0 * (f2 + 1))"
               " - CAST(f1 AS DOUBLE) * f2 / (2.0 * (f2 + 1) * (f2 + 1))",
               2)} AS chao1_estimate,
           {dround_sql(
               "1.0 - CAST(f1 AS DOUBLE) / n_tokens", 6)}
               AS good_turing_coverage
    FROM ch_coc
    """,
    description="Chao1 richness estimator of the UNSEEN vocabulary "
    "(bias-corrected form S_obs + f1^2/(2(f2+1)) - f1*f2/(2(f2+1)^2), "
    "from singleton/doubleton counts) next to Good-Turing sample "
    "coverage 1 - f1/N: together they answer 'how much vocabulary does "
    "this corpus still hide?' — the crawl-more-or-stop signal for "
    "corpus growth planning, and the ecology-standard richness bound "
    "repurposed for token space. One token explode -> vocab groupBy -> "
    "count-of-counts reduce; three exact BIGINTs feed one closed-form "
    "scalar.",
)
def text_chao1_vocab_richness(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    freq = (
        docs.select(F.explode(F.split(F.col("text"), " ")).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    coc = freq.agg(
        F.count(F.lit(1)).cast("bigint").alias("s_obs"),
        F.sum((F.col("c") == 1).cast("int")).cast("bigint").alias("f1"),
        F.sum((F.col("c") == 2).cast("int")).cast("bigint").alias("f2"),
        F.sum("c").cast("bigint").alias("n_tokens"),
    )
    f1d = F.col("f1").cast("double")
    f2p = 2.0 * (F.col("f2") + 1)
    chao1 = (
        F.col("s_obs")
        + f1d * F.col("f1") / f2p
        - f1d * F.col("f2") / (f2p * (F.col("f2") + 1))
    )
    return coc.select(
        "s_obs",
        "f1",
        "f2",
        "n_tokens",
        dround(chao1, 2).alias("chao1_estimate"),
        dround(1.0 - f1d / F.col("n_tokens"), 6).alias(
            "good_turing_coverage"
        ),
    )


# ------------------------------------- source vocabulary Jaccard
@register(
    "text_vocab_jaccard_sources",
    oracle=f"""
    WITH vj_vocab AS (
        SELECT DISTINCT source, unnest(string_split(text, ' ')) AS w
        FROM documents
    ),
    vj_sizes AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS sz
        FROM vj_vocab GROUP BY source
    ),
    vj_inter AS (
        SELECT a.source AS source_a, b.source AS source_b,
               CAST(COUNT(*) AS BIGINT) AS n_inter
        FROM vj_vocab a JOIN vj_vocab b
          ON a.w = b.w AND a.source < b.source
        GROUP BY a.source, b.source
    )
    SELECT i.source_a, i.source_b, i.n_inter,
           {dround_sql(
               "CAST(i.n_inter AS DOUBLE)"
               " / (sa.sz + sb.sz - i.n_inter)", 6)} AS vocab_jaccard,
           {dround_sql("CAST(i.n_inter AS DOUBLE) / LEAST(sa.sz, sb.sz)", 6)}
               AS vocab_containment
    FROM vj_inter i
    JOIN vj_sizes sa ON sa.source = i.source_a
    JOIN vj_sizes sb ON sb.source = i.source_b
    """,
    description="Pairwise vocabulary Jaccard and min-containment "
    "between crawl sources: the SET-overlap complement to "
    "text_js_divergence_lang_pairs (distributional) and "
    "text_burrows_delta_sources (stylometric z-scores) — high "
    "containment with low Jaccard flags a source that is a topical "
    "subset of another (scrape-of-a-scrape), which both distribution "
    "distances blur. One distinct (source, word) projection; the "
    "intersection join is word-keyed (each word meets only its own "
    "postings), sizes broadcast back onto the |sources|^2/2-row "
    "output.",
)
def text_vocab_jaccard_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    vocab = (
        docs.select("source", F.explode(F.split(F.col("text"), " ")).alias("w"))
        .distinct()
        .persist()
    )
    sizes = vocab.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("sz")
    )
    a, b = vocab.alias("a"), vocab.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.w") == F.col("b.w"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("source_a"),
            F.col("b.source").alias("source_b"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_inter"))
    )
    sa = sizes.select(F.col("source").alias("source_a"), F.col("sz").alias("sza"))
    sb = sizes.select(F.col("source").alias("source_b"), F.col("sz").alias("szb"))
    return (
        inter.join(F.broadcast(sa), "source_a")
        .join(F.broadcast(sb), "source_b")
        .select(
            "source_a",
            "source_b",
            "n_inter",
            dround(
                F.col("n_inter").cast("double")
                / (F.col("sza") + F.col("szb") - F.col("n_inter")),
                6,
            ).alias("vocab_jaccard"),
            dround(
                F.col("n_inter").cast("double")
                / F.least(F.col("sza"), F.col("szb")),
                6,
            ).alias("vocab_containment"),
        )
    )


# ------------------------------- Kneser-Ney interpolated bigram LM
@register(
    "text_kneser_ney_bigram_probs",
    oracle=f"""
    WITH kn_tok AS (
        SELECT string_split(text, ' ') AS tl FROM documents
    ),
    kn_bi AS (
        SELECT tl[i] AS w1, tl[i + 1] AS w2
        FROM kn_tok, UNNEST(range(1, len(tl))) AS u(i)
        WHERE len(tl) >= 2
    ),
    kn_counted AS (
        SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c12
        FROM kn_bi GROUP BY w1, w2
    ),
    kn_ctx AS (
        SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1,
               CAST(COUNT(*) AS BIGINT) AS n1p_fwd
        FROM kn_counted GROUP BY w1
    ),
    kn_cont AS (
        SELECT w2, CAST(COUNT(*) AS BIGINT) AS n1p_bwd
        FROM kn_counted GROUP BY w2
    ),
    kn_n AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_types FROM kn_counted
    ),
    kn_top AS (
        SELECT w1, w2, c12 FROM (
            SELECT w1, w2, c12,
                   ROW_NUMBER() OVER (
                       ORDER BY c12 DESC, w1, w2
                   ) AS rn
            FROM kn_counted
        ) WHERE rn <= 20
    )
    SELECT t.w1, t.w2, t.c12,
           x.c1 AS c_context,
           x.n1p_fwd, b.n1p_bwd,
           {dround_sql("CAST(t.c12 AS DOUBLE) / x.c1", 6)} AS p_mle,
           {dround_sql("CAST(b.n1p_bwd AS DOUBLE) / n.n_types", 6)}
               AS p_continuation,
           {dround_sql(
               "GREATEST(CAST(t.c12 AS DOUBLE) - 0.75, 0) / x.c1"
               " + (0.75 * x.n1p_fwd / x.c1)"
               "   * (CAST(b.n1p_bwd AS DOUBLE) / n.n_types)", 6)}
               AS p_kneser_ney
    FROM kn_top t
    JOIN kn_ctx x ON x.w1 = t.w1
    JOIN kn_cont b ON b.w2 = t.w2
    CROSS JOIN kn_n n
    ORDER BY t.c12 DESC, t.w1, t.w2
    """,
    description="Interpolated Kneser-Ney bigram probabilities (Kneser & "
    "Ney '95, the standard n-gram smoothing before neural LMs and still "
    "the KenLM default used to perplexity-filter web corpora): for the "
    "top-20 bigrams, the discounted MLE term max(c12-D,0)/c(w1) "
    "interpolates with the CONTINUATION probability — how many distinct "
    "contexts w2 follows, normalized by bigram-type count — which is "
    "what demotes 'Francisco' (frequent but only after 'San'). D=0.75, "
    "the textbook discount. Every statistic derives from ONE bigram-type "
    "count table: context totals and fan-out via groupBy(w1), "
    "continuation fan-in via groupBy(w2), type total as a broadcast "
    "scalar — three reuses of one shuffle, no corpus rescan; the "
    "probability itself is one fixed scalar expression over BIGINT "
    "counts, bit-stable across engines. Complements "
    "text_good_turing_trigrams (count-of-count mass re-estimation) with "
    "the interpolated-backoff family actually shipped in KenLM.",
)
def text_kneser_ney_bigram_probs(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    # split once per row; transform indexes the materialized array (the
    # same array-side bigram build as text_bigram_topk — no positional
    # self-join of the exploded token table)
    bi = (
        docs.select(F.split("text", " ").alias("tl"))
        .filter(F.size("tl") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(1, size(tl) - 1), "
                    "i -> struct(element_at(tl, i) AS w1, "
                    "element_at(tl, i + 1) AS w2))"
                )
            ).alias("b")
        )
        .select("b.w1", "b.w2")
    )
    counted = bi.groupBy("w1", "w2").agg(
        F.count(F.lit(1)).cast("bigint").alias("c12")
    ).persist()  # one bigram-type table feeds all four statistics
    ctx = counted.groupBy("w1").agg(
        F.sum("c12").cast("bigint").alias("c_context"),
        F.count(F.lit(1)).cast("bigint").alias("n1p_fwd"),
    )
    cont = counted.groupBy("w2").agg(
        F.count(F.lit(1)).cast("bigint").alias("n1p_bwd")
    )
    n_types = counted.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_types")
    )
    # global top-20: the tiebreak (c12 desc, w1, w2) is total, so
    # orderBy().limit() is output-identical to a row_number window and
    # plans as distributed TakeOrderedAndProject (per-partition top-k +
    # driver merge) — no single-task funnel of the full bigram-type table
    # (ADVICE r9; same pattern as text_bm25_topk)
    top = counted.orderBy(F.col("c12").desc(), "w1", "w2").limit(20)
    d = F.lit(0.75)
    return (
        top.join(ctx, "w1")
        .join(cont, "w2")
        .crossJoin(F.broadcast(n_types))
        .select(
            "w1",
            "w2",
            "c12",
            "c_context",
            "n1p_fwd",
            "n1p_bwd",
            dround(
                F.col("c12").cast("double") / F.col("c_context"), 6
            ).alias("p_mle"),
            dround(
                F.col("n1p_bwd").cast("double") / F.col("n_types"), 6
            ).alias("p_continuation"),
            dround(
                # max(c12 - D, 0): the clamp never binds for observed
                # bigrams (c12 >= 1 > D=0.75) but is part of the stated
                # KN formula and keeps the term non-negative if D is
                # ever raised or unseen bigrams scored (ADVICE r9)
                F.greatest(
                    F.col("c12").cast("double") - d, F.lit(0.0)
                )
                / F.col("c_context")
                + (d * F.col("n1p_fwd") / F.col("c_context"))
                * (F.col("n1p_bwd").cast("double") / F.col("n_types")),
                6,
            ).alias("p_kneser_ney"),
        )
        .orderBy(F.col("c12").desc(), "w1", "w2")
    )


# --------------------------------- hashing-trick linear quality classifier
@register(
    "text_hashed_linear_classifier",
    oracle="""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS tl FROM documents),
    scored AS (
        SELECT doc_id, len(tl) AS n_tokens,
               list_sum(list_transform(tl, t ->
                   (CAST((CAST(('0x' || substr(md5(t), 1, 12)) AS BIGINT)
                          % 997) * 2654435761 % 2001 AS DOUBLE)
                    / 1000.0 - 1.0)))
               / len(tl) AS raw
        FROM toks
    )
    SELECT doc_id, n_tokens, ROUND(raw, 6) AS score,
           raw > 0 AS label_pred
    FROM scored
    """,
    description="fastText-style hashing-trick linear classifier scoring "
    "(Joulin et al. 2016; the quality-filter shape used by CCNet/LLaMA "
    "corpus curation): each token hashes into a fixed 997-bucket "
    "feature space (md5-48bit, the repo's portable token hash), the "
    "doc score is the mean of its buckets' weights, label = sign. The "
    "weight vector here is a deterministic function of the bucket id "
    "standing in for trained parameters — in production it is a "
    "~997-float broadcast and NOTHING else changes: scoring stays one "
    "narrow whole-stage-codegen scan (transform + aggregate inside "
    "the token array, zero explode, zero shuffle, zero Python), which "
    "is why the hashing trick beats a vocabulary join at 100 TB — the "
    "feature space is fixed-width, so there is no vocab table to "
    "shuffle or skew.",
)
def text_hashed_linear_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.split("text", " ", -1).alias("tl"))
    raw = (
        "aggregate(transform(tl, t -> "
        "(CAST((CAST(conv(substr(md5(t), 1, 12), 16, 10) AS BIGINT) % 997) "
        "* 2654435761 % 2001 AS DOUBLE) / 1000.0D - 1.0D)), "
        "0.0D, (acc, v) -> acc + v) / size(tl)"
    )
    scored = toks.select(
        "doc_id",
        F.size("tl").cast("bigint").alias("n_tokens"),
        F.expr(raw).alias("raw"),
    )
    return scored.select(
        "doc_id",
        "n_tokens",
        F.round("raw", 6).alias("score"),
        (F.col("raw") > 0).alias("label_pred"),
    )


# ------------------------------ TextRank over the word co-occurrence graph
@register(
    "text_textrank_scores",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ),
    adj AS (
        SELECT LEAST(t[i], t[i+1]) AS u, GREATEST(t[i], t[i+1]) AS v
        FROM toks, UNNEST(range(1, len(t))) AS r(i)
        WHERE t[i] <> t[i+1]
    ),
    ew AS (
        SELECT u, v, CAST(COUNT(*) AS BIGINT) AS w FROM adj GROUP BY u, v
    ),
    edges AS (
        SELECT u, v, w FROM ew
        UNION ALL
        SELECT v AS u, u AS v, w FROM ew
    ),
    deg AS (SELECT u, CAST(SUM(w) AS BIGINT) AS degree FROM edges GROUP BY u),
    frac AS (
        SELECT e.u AS src, e.v AS dst,
               CAST(e.w AS DOUBLE) / d.degree AS frac
        FROM edges e JOIN deg d ON e.u = d.u
    ),
    s1 AS (
        SELECT dst AS word, 0.15 + 0.85 * SUM(frac * 1.0) AS s
        FROM frac GROUP BY dst
    ),
    s2 AS (
        SELECT f.dst AS word, 0.15 + 0.85 * SUM(f.frac * s1.s) AS s
        FROM frac f JOIN s1 ON f.src = s1.word GROUP BY f.dst
    ),
    s3 AS (
        SELECT f.dst AS word, 0.15 + 0.85 * SUM(f.frac * s2.s) AS s
        FROM frac f JOIN s2 ON f.src = s2.word GROUP BY f.dst
    )
    SELECT s3.word, deg.degree,
           {dround_sql('s3.s', 6)} AS textrank
    FROM s3 JOIN deg ON s3.word = deg.u
    ORDER BY s3.word
    """,
    description="TextRank (Mihalcea & Tarau 2004) keyword scoring: "
    "PageRank with damping 0.85 over the undirected word co-occurrence "
    "graph (adjacent-token edges, weight = corpus-wide adjacency count, "
    "self-loops dropped), run for exactly 3 power iterations from the "
    "uniform score 1.0. Everything is columnar relational algebra — "
    "edges are one groupBy over exploded adjacent-token pairs, each "
    "iteration is one (edge JOIN score) + groupBy, so the plan is 3 "
    "shuffles keyed on the Heaps-bounded vocabulary, never a driver-"
    "side matrix (contrast graph_pagerank_neardup, which iterates on "
    "doc-grain near-dup edges; this one ranks the LEXICON, the "
    "keyword-extraction shape). Fixed iteration count keeps the result "
    "closed-form for the oracle, which unrolls the same 3 iterations "
    "as CTE joins; scores dround(6)-stabilized, output sorted by word "
    "so closed-vocab near-uniform scores can't flip row order across "
    "engines.",
)
def text_textrank_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents").select("text")
    adj = (
        docs.select(
            F.explode(
                F.expr(
                    "zip_with(slice(split(text, ' '), 1,"
                    " size(split(text, ' ')) - 1),"
                    " slice(split(text, ' '), 2,"
                    " size(split(text, ' ')) - 1),"
                    " (x, y) -> struct(least(x, y) AS u,"
                    " greatest(x, y) AS v))"
                )
            ).alias("e")
        )
        .select("e.u", "e.v")
        .filter(F.col("u") != F.col("v"))
    )
    ew = adj.groupBy("u", "v").agg(F.count(F.lit(1)).cast("bigint").alias("w"))
    edges = ew.unionAll(
        ew.select(F.col("v").alias("u"), F.col("u").alias("v"), "w")
    )
    deg = edges.groupBy("u").agg(F.sum("w").cast("bigint").alias("degree"))
    frac = (
        edges.join(deg, "u")
        .select(
            F.col("u").alias("src"),
            F.col("v").alias("dst"),
            (F.col("w").cast("double") / F.col("degree")).alias("frac"),
        )
    )
    s = frac.groupBy("dst").agg(
        (F.lit(0.15) + F.lit(0.85) * F.sum(F.col("frac") * F.lit(1.0)))
        .alias("s")
    ).withColumnRenamed("dst", "word")
    for _ in range(2):
        s = (
            frac.join(s, frac.src == s.word)
            .groupBy("dst")
            .agg(
                (F.lit(0.15) + F.lit(0.85) * F.sum(F.col("frac") * F.col("s")))
                .alias("s")
            )
            .withColumnRenamed("dst", "word")
        )
    return (
        s.join(deg, s.word == deg.u)
        .select("word", "degree", dround(F.col("s"), 6).alias("textrank"))
        .orderBy("word")
    )
