"""Curation-pipeline / sampling / privacy query family."""

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
    _H48,
    _PRETOKEN_RE,
    _QEVAL_SQL,
    _SCORE_SQL,
    _docs_with_dups,
    _lsh_pairs_ctes,
    _pq_d2_sql,
    _quality_vs_gopher,
)


@register(
    "nullsafe_join_event_band",
    oracle="""
    WITH banded AS (
        SELECT event_id,
               NULLIF(CAST(json_extract(props, '$.k') AS INTEGER) % 5, 0)
                   AS band
        FROM events
    ),
    dims AS (SELECT DISTINCT band FROM banded)
    SELECT d.band, COUNT(e.event_id) AS n_events
    FROM dims d JOIN banded e ON e.band IS NOT DISTINCT FROM d.band
    GROUP BY d.band
    """,
    description="Null-safe equi-join (<=> / IS NOT DISTINCT FROM): a "
    "derived nullable band key joins its dimension INCLUDING the NULL "
    "band — the semantics a plain equi-join silently drops. Spark "
    "plans <=> as a hash join key (null hashes like a value), so this "
    "stays a shuffle/broadcast hash join, not a nested loop.",
)
def nullsafe_join_event_band(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = table(spark, sf_dir, "events")
    banded = events.select(
        "event_id",
        F.nullif(
            F.get_json_object("props", "$.k").cast("int") % 5, F.lit(0)
        ).alias("band"),
    )
    dims = banded.select("band").distinct().withColumnRenamed("band", "d_band")
    return (
        banded.join(F.broadcast(dims), banded.band.eqNullSafe(F.col("d_band")))
        .groupBy(F.col("d_band").alias("band"))
        .agg(F.count("event_id").alias("n_events"))
    )


# ------------------------------------------- multilingual rebalancing
@register(
    "sample_language_balanced",
    oracle="""
    WITH stats AS (
        SELECT lang, COUNT(*) AS n_docs,
               SUM(COUNT(*)) OVER () AS total
        FROM documents GROUP BY lang
    ),
    rates AS (
        SELECT lang, n_docs,
               LEAST(1.0,
                   (sqrt(CAST(n_docs AS DOUBLE) / total)
                    / SUM(sqrt(CAST(n_docs AS DOUBLE) / total)) OVER ())
                   * 0.5 * total / n_docs) AS rate
        FROM stats
    )
    SELECT r.lang, r.n_docs, ROUND(r.rate, 6) AS sample_rate,
           CAST(COALESCE(SUM(CASE WHEN
               CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 12)) AS BIGINT)
               / 281474976710656.0 < r.rate THEN 1 ELSE 0 END), 0)
               AS BIGINT) AS n_sampled
    FROM rates r JOIN documents d ON d.lang = r.lang
    GROUP BY r.lang, r.n_docs, r.rate
    """,
    description="Temperature-balanced multilingual resampling (the "
    "alpha=0.5 exponentiated-smoothing scheme of XLM-R / mC4): per-lang "
    "rates q_l ~ p_l^0.5 renormalized to a 50% corpus budget, capped at "
    "1.0, then applied as a deterministic md5-threshold Bernoulli on "
    "doc_id (reproducible across engines and runs, unlike seeded "
    "sample()). Lang stats are a handful of rows — the rate computation "
    "is driver-scale; the only big-data pass is the one hash-filter "
    "scan, which is embarrassingly parallel with zero shuffle beyond "
    "the final per-lang count.",
)
def sample_language_balanced(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents").select("doc_id", "lang")
    stats = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n_docs"))
    # lang cardinality is tiny: the scalar total and sqrt-sum denominators
    # are one-row aggregates broadcast back (window-free, stays parallel)
    total = stats.agg(F.sum("n_docs").alias("total"))
    with_p = stats.join(F.broadcast(total)).withColumn(
        "sq", F.sqrt(F.col("n_docs").cast("double") / F.col("total"))
    )
    sqsum = with_p.agg(F.sum("sq").alias("sqsum"))
    rates = with_p.join(F.broadcast(sqsum)).select(
        "lang",
        "n_docs",
        F.least(
            F.lit(1.0),
            (F.col("sq") / F.col("sqsum")) * 0.5 * F.col("total") / F.col("n_docs"),
        ).alias("rate"),
    )
    u = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 12), 16, 10)
        .cast("bigint")
        .cast("double")
        / F.lit(281474976710656.0)
    )
    return (
        docs.join(F.broadcast(rates), "lang")
        .groupBy("lang", "n_docs", "rate")
        .agg(F.coalesce(F.sum(F.when(u < F.col("rate"), 1).otherwise(0)), F.lit(0)).alias("n_sampled"))
        .select("lang", "n_docs", F.round("rate", 6).alias("sample_rate"), "n_sampled")
    )


# ------------------------------------------------ per-group reservoir
@register(
    "sample_reservoir_per_lang",
    oracle="""
    SELECT lang, doc_id FROM (
        SELECT lang, doc_id,
               ROW_NUMBER() OVER (
                   PARTITION BY lang
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
        FROM documents
    ) WHERE rn <= 20
    """,
    description="Deterministic k=20 per-language reservoir: rank by the "
    "md5 of the id inside each lang partition and keep the first 20. "
    "Equivalent in distribution to uniform reservoir sampling but "
    "reproducible across engines, runs, and partitionings (a seeded "
    "sample() is none of those). The window partitions by lang, so "
    "parallelism follows group count; no global sort exists.",
)
def sample_reservoir_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents").select("lang", "doc_id")
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    return (
        docs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 20)
        .select("lang", "doc_id")
    )


@register(
    "pipeline_llm_corpus_curation",
    oracle=f"""
    WITH scored AS (
        SELECT doc_id, lang, text, {_SCORE_SQL} AS q FROM documents
    ),
    kept AS (SELECT * FROM scored WHERE q >= 0.5),
    surv AS (
        SELECT MIN(doc_id) AS doc_id FROM kept
        GROUP BY md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'))
    ),
    uniq AS (SELECT k.* FROM kept k JOIN surv s ON s.doc_id = k.doc_id),
    raw AS (SELECT lang, COUNT(*) AS n_raw FROM documents GROUP BY lang),
    nq AS (SELECT lang, COUNT(*) AS n_quality FROM kept GROUP BY lang),
    nu AS (
        SELECT lang, COUNT(*) AS n_unique,
               CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS tokens_kept
        FROM uniq GROUP BY lang
    )
    SELECT raw.lang, raw.n_raw,
           COALESCE(nq.n_quality, 0) AS n_quality,
           COALESCE(nu.n_unique, 0) AS n_unique,
           COALESCE(nu.tokens_kept, 0) AS tokens_kept
    FROM raw
    LEFT JOIN nq ON nq.lang = raw.lang
    LEFT JOIN nu ON nu.lang = raw.lang
    """,
    description="The composite LLM-corpus curation funnel — quality "
    "filter (heuristic score >= 0.5) then exact near-normalized dedup "
    "(min-id survivor per whitespace-normalized md5 fingerprint) — "
    "reported as a per-language attrition funnel (raw -> quality -> "
    "unique) with surviving token mass. This is the operator "
    "COMPOSITION story: each stage is the already-tested primitive "
    "(quality_score_cols, fingerprint, exact-dedup groupBy) chained "
    "lazily so Catalyst fuses the scan; only the dedup groupBy and the "
    "per-lang rollup shuffle. At 100 TB insert the MinHash stage "
    "between them — same shape, one more keyed agg.",
)
def pipeline_llm_corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id",
        "lang",
        "text",
        TX.quality_score_cols(F.col("text"))["quality_score"].alias("q"),
    )
    kept = scored.filter(F.col("q") >= 0.5)
    surv = (
        kept.groupBy(TX.fingerprint(F.col("text")).alias("fp"))
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    uniq = kept.join(surv, "doc_id", "left_semi")
    raw = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n_raw"))
    nq = kept.groupBy("lang").agg(F.count(F.lit(1)).alias("n_quality"))
    nu = uniq.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_unique"),
        F.sum(F.size(F.split("text", " ", -1))).cast("bigint").alias("tokens_kept"),
    )
    return (
        raw.join(nq, "lang", "left")
        .join(nu, "lang", "left")
        .select(
            "lang",
            "n_raw",
            F.coalesce("n_quality", F.lit(0)).alias("n_quality"),
            F.coalesce("n_unique", F.lit(0)).alias("n_unique"),
            F.coalesce("tokens_kept", F.lit(0)).alias("tokens_kept"),
        )
    )


# ------------------------------------------------ train/test split
@register(
    "sample_train_test_split",
    oracle="""
    WITH split AS (
        SELECT label,
               CASE WHEN CAST(('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 12)) AS BIGINT)
                         / 281474976710656.0 < 0.8
                    THEN 'train' ELSE 'test' END AS split
        FROM embeddings
    ),
    per AS (SELECT split, label, COUNT(*) AS n FROM split GROUP BY split, label),
    tot AS (SELECT split, SUM(n) AS nt FROM per GROUP BY split)
    SELECT per.split, per.label, per.n,
           ROUND(CAST(per.n AS DOUBLE) / tot.nt, 6) AS frac_within_split
    FROM per JOIN tot ON tot.split = per.split
    """,
    description="Deterministic 80/20 train/test split by id-hash "
    "threshold with per-split class-balance audit: the md5 split is "
    "stable across engines, runs, partitionings, AND dataset growth "
    "(a row's split never changes when new rows arrive — the property "
    "randomSplit() lacks, and the one that matters for 100 TB "
    "incremental corpora where yesterday's test row must not leak "
    "into today's train set).",
)
def sample_train_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    u = (
        F.conv(F.substring(F.md5(F.col("vec_id").cast("string")), 1, 12), 16, 10)
        .cast("bigint")
        .cast("double")
        / F.lit(281474976710656.0)
    )
    split = emb.select(
        "label", F.when(u < 0.8, "train").otherwise("test").alias("split")
    )
    per = split.groupBy("split", "label").agg(F.count(F.lit(1)).alias("n"))
    tot = per.groupBy("split").agg(F.sum("n").alias("nt"))
    return per.join(F.broadcast(tot), "split").select(
        "split",
        "label",
        "n",
        F.round(F.col("n").cast("double") / F.col("nt"), 6).alias("frac_within_split"),
    )


# ---------------------------------------------- sequence packing
@register(
    "pipeline_sequence_packing",
    oracle="""
    WITH toks AS (
        SELECT lang, doc_id,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        FROM documents
    ),
    packed AS (
        SELECT lang, doc_id, n_tokens,
               CAST(FLOOR((SUM(n_tokens) OVER (
                   PARTITION BY lang ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) - 1) / 2048) AS BIGINT) AS bin_id
        FROM toks
    )
    SELECT lang, bin_id,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS tokens,
           ROUND(LEAST(SUM(n_tokens), 2048) / 2048.0, 6) AS fill_ratio
    FROM packed
    GROUP BY lang, bin_id
    """,
    description="Sequential sequence-packing for pretraining batches: "
    "docs are packed in stable doc_id order into 2048-token context "
    "bins via a running-sum window, PER SHARD (lang) — the per-shard "
    "partitioning is what makes packing distributable at 100 TB (a "
    "global greedy pack would serialize the corpus through one "
    "partition; per-shard packing keys the window on the shard and "
    "scales with shard count). Bin id = floor((cumsum-1)/capacity), "
    "so a doc straddling a boundary starts its own bin — the simple "
    "deterministic variant of first-fit used by most LLM data loaders.",
)
def pipeline_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    toks = docs.select(
        "lang",
        "doc_id",
        F.size(F.split("text", " ", -1)).cast("bigint").alias("n_tokens"),
    )
    w = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    packed = toks.withColumn(
        "bin_id", F.floor((F.sum("n_tokens").over(w) - 1) / 2048).cast("bigint")
    )
    return packed.groupBy("lang", "bin_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("tokens"),
        F.round(F.least(F.sum("n_tokens"), F.lit(2048)) / 2048.0, 6).alias(
            "fill_ratio"
        ),
    )


# ------------------------------------------- decontamination
@register(
    "pipeline_decontaminate_train",
    oracle="""
    WITH eval_docs AS (
        SELECT doc_id, text FROM documents WHERE doc_id % 37 = 0
    ),
    train_docs AS (
        SELECT doc_id, text FROM documents WHERE doc_id % 37 <> 0
    ),
    eval_spans AS (
        SELECT DISTINCT
               CAST(('0x' || substr(md5(array_to_string(tl[i:i+7], chr(31))), 1, 12)) AS BIGINT) AS h
        FROM (SELECT string_split(text, ' ') AS tl FROM eval_docs),
             UNNEST(range(1, len(tl) - 7 + 1)) AS u(i)
        WHERE len(tl) >= 8
    ),
    train_spans AS (
        SELECT doc_id,
               CAST(('0x' || substr(md5(array_to_string(tl[i:i+7], chr(31))), 1, 12)) AS BIGINT) AS h
        FROM (SELECT doc_id, string_split(text, ' ') AS tl FROM train_docs),
             UNNEST(range(1, len(tl) - 7 + 1)) AS u(i)
        WHERE len(tl) >= 8
    ),
    contaminated AS (
        SELECT DISTINCT t.doc_id
        FROM train_spans t JOIN eval_spans e ON e.h = t.h
    )
    SELECT (SELECT COUNT(*) FROM train_docs) AS n_train,
           (SELECT COUNT(*) FROM eval_docs) AS n_eval,
           (SELECT COUNT(*) FROM contaminated) AS n_contaminated,
           ROUND(CAST((SELECT COUNT(*) FROM contaminated) AS DOUBLE)
                 / (SELECT COUNT(*) FROM train_docs), 6) AS contamination_rate
    """,
    description="Benchmark decontamination (the n-gram overlap scrub "
    "every serious pretraining pipeline runs before training): train "
    "docs sharing any 8-token span hash with the held-out eval slice "
    "are flagged. The eval span set is the SMALL side — at 100 TB it "
    "broadcasts (benchmarks are MBs) and the train scan never "
    "shuffles its spans at all; here both sides are expressed as the "
    "general semi-join so the same plan covers eval sets too big to "
    "broadcast. Returns the audit scalar row (counts + rate).",
)
def pipeline_decontaminate_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    is_eval = F.col("doc_id") % 37 == 0
    span_expr = F.expr(
        "transform(sequence(1, size(tl) - 7), "
        "i -> concat_ws(chr(31), slice(tl, i, 8)))"
    )

    def spans(df: DataFrame) -> DataFrame:
        return (
            df.select("doc_id", F.split("text", " ", -1).alias("tl"))
            .filter(F.size("tl") >= 8)
            .select("doc_id", F.explode(span_expr).alias("span"))
            .select("doc_id", D.token_hash48(F.col("span")).alias("h"))
        )

    eval_spans = spans(docs.filter(is_eval)).select("h").distinct()
    train_spans = spans(docs.filter(~is_eval))
    contaminated = (
        train_spans.join(F.broadcast(eval_spans), "h", "left_semi")
        .select("doc_id")
        .distinct()
    )
    # one fully-lazy plan: three one-row aggregates broadcast-cross-joined
    # (no driver-side .count() actions — the audit row is itself a query)
    nt = docs.filter(~is_eval).agg(F.count(F.lit(1)).alias("n_train"))
    ne = docs.filter(is_eval).agg(F.count(F.lit(1)).alias("n_eval"))
    nc = contaminated.agg(F.count(F.lit(1)).alias("n_contaminated"))
    return (
        nt.join(F.broadcast(ne))
        .join(F.broadcast(nc))
        .select(
            "n_train",
            "n_eval",
            "n_contaminated",
            F.round(
                F.col("n_contaminated").cast("double") / F.col("n_train"), 6
            ).alias("contamination_rate"),
        )
    )


# --------------------------------------- weighted reservoir sampling
@register(
    "sample_weighted_reservoir_per_lang",
    oracle="""
    WITH keyed AS (
        SELECT lang, doc_id, n_chars,
               POWER(
                   CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12)) AS BIGINT)
                       / 281474976710656.0,
                   1.0 / n_chars) AS k
        FROM documents WHERE n_chars > 0
    )
    SELECT lang, doc_id, n_chars FROM (
        SELECT lang, doc_id, n_chars,
               ROW_NUMBER() OVER (PARTITION BY lang ORDER BY k DESC, doc_id) AS rn
        FROM keyed
    ) WHERE rn <= 10
    """,
    description="Weighted reservoir sampling (Efraimidis-Spirakis A-Res: "
    "key = u^(1/w), keep the top-k keys) with deterministic md5 "
    "uniforms — longer documents win proportionally to n_chars, "
    "reproducibly across engines and partitionings. The one-pass, "
    "merge-friendly way to draw weight-proportional samples at 100 TB: "
    "each partition keeps its local top-k, the combiner merges — "
    "exactly what the lang-partitioned window computes.",
)
def sample_weighted_reservoir_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents").filter(F.col("n_chars") > 0)
    u = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 12), 16, 10)
        .cast("bigint")
        .cast("double")
        / F.lit(281474976710656.0)
    )
    keyed = docs.select(
        "lang", "doc_id", "n_chars", F.pow(u, 1.0 / F.col("n_chars")).alias("k")
    )
    w = Window.partitionBy("lang").orderBy(F.col("k").desc(), F.col("doc_id"))
    return (
        keyed.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 10)
        .select("lang", "doc_id", "n_chars")
    )


# ------------------------------------------------ training shard manifest
@register(
    "pipeline_shard_manifest",
    oracle="""
    WITH sharded AS (
        SELECT CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12))
                    AS BIGINT) % 16 AS shard,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
               n_chars
        FROM documents
    ),
    per AS (
        SELECT shard, COUNT(*) AS n_docs,
               CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
               CAST(SUM(n_chars) AS BIGINT) AS n_chars
        FROM sharded GROUP BY shard
    ),
    tot AS (SELECT AVG(n_tokens) AS mean_tokens FROM per)
    SELECT shard, n_docs, n_tokens, n_chars,
           ROUND(n_tokens / tot.mean_tokens, 6) AS load_factor
    FROM per, tot
    """,
    description="Deterministic 16-way output-shard manifest for a "
    "training-data write: content-hash shard assignment (stable under "
    "reruns and cluster resizing, unlike round-robin), per-shard doc / "
    "token / byte mass, and load_factor against the mean shard so "
    "stragglers are visible BEFORE the write. The pre-write audit every "
    "100 TB pipeline runs: a load_factor far from 1.0 means one output "
    "file dominates the epoch's read parallelism. One hash aggregate to "
    "16 rows; the scalar mean broadcasts back.",
)
def pipeline_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    sharded = docs.select(
        (
            F.conv(
                F.substring(F.md5(F.col("doc_id").cast("string")), 1, 12), 16, 10
            ).cast("bigint")
            % 16
        ).alias("shard"),
        TX.token_count(F.col("text")).cast("bigint").alias("n_tokens"),
        "n_chars",
    )
    per = sharded.groupBy("shard").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("n_tokens"),
        F.sum("n_chars").alias("n_chars"),
    )
    tot = per.agg(F.avg("n_tokens").alias("mean_tokens"))
    return per.crossJoin(F.broadcast(tot)).select(
        "shard",
        "n_docs",
        "n_tokens",
        "n_chars",
        F.round(F.col("n_tokens") / F.col("mean_tokens"), 6).alias("load_factor"),
    )


# ------------------------------------------------------- RAG chunking
@register(
    "pipeline_rag_chunks",
    oracle="""
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ),
    chunks AS (
        SELECT doc_id,
               CAST((i - 1) / 48 AS BIGINT) AS chunk_idx,
               t[i:least(i + 63, len(t))] AS chunk
        FROM toks, UNNEST(range(1, len(t) + 1, 48)) AS u(i)
    )
    SELECT doc_id, chunk_idx,
           CAST(len(chunk) AS INT) AS n_tokens,
           chunk[1] AS first_token,
           md5(array_to_string(chunk, ' ')) AS chunk_hash
    FROM chunks
    """,
    description="Retrieval-corpus chunking: each document splits into "
    "64-token windows with 16-token overlap (stride 48), emitting per "
    "chunk its token count, anchor token, and content hash (the "
    "embedding/index key). Entirely array-side: slice over a stride "
    "sequence then ONE posexplode — no Python, no per-token explode "
    "(the naive token-explode + window shuffles |tokens| rows; this "
    "shuffles |chunks|). The front half of every RAG/embedding "
    "pipeline; downstream the chunk_hash is the dedup + incremental "
    "re-embed key.",
)
def pipeline_rag_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.split("text", " ").alias("t"))
    # stride positions 0, 48, 96, ... (0-based); slice is 1-based
    chunks = toks.select(
        "doc_id",
        F.posexplode(
            F.expr(
                "transform(sequence(1, size(t), 48), i -> slice(t, i, 64))"
            )
        ).alias("chunk_idx", "chunk"),
    )
    return chunks.select(
        "doc_id",
        F.col("chunk_idx").cast("bigint").alias("chunk_idx"),
        F.size("chunk").alias("n_tokens"),
        F.element_at("chunk", 1).alias("first_token"),
        F.md5(F.array_join("chunk", " ")).alias("chunk_hash"),
    )


# ------------------------------------------- global stable row index
@register(
    "pipeline_global_row_index",
    oracle="""
    SELECT doc_id,
           ROW_NUMBER() OVER (ORDER BY doc_id) - 1 AS row_idx
    FROM documents
    """,
    description="Contiguous 0-based global sample index over the corpus "
    "WITHOUT a single-partition sort: range-repartition on the key, "
    "rank within each range partition, then add per-partition offsets "
    "(prefix sum over the tiny partition-count table, broadcast back). "
    "The two-pass partition-offset scheme every epoch-indexed training "
    "loader needs at 100 TB — the naive ROW_NUMBER() OVER (ORDER BY "
    "key) funnels the corpus through one task; here no stage sees more "
    "than one range partition's rows. Result is partition-boundary-"
    "independent, so the oracle is the naive window.",
)
def pipeline_global_row_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents").select("doc_id")
    n_parts = max(docs.sparkSession.sparkContext.defaultParallelism // 2, 4)
    ranged = docs.repartitionByRange(n_parts, "doc_id").withColumn(
        "pid", F.spark_partition_id()
    )
    ranged = ranged.persist()
    # per-partition counts -> exclusive prefix offsets (|parts| rows)
    counts = ranged.groupBy("pid").agg(F.count(F.lit(1)).alias("cnt"))
    w_off = (
        Window.orderBy("pid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = counts.select(
        "pid", F.coalesce(F.sum("cnt").over(w_off), F.lit(0)).alias("offset")
    )
    w_local = Window.partitionBy("pid").orderBy("doc_id")
    return (
        ranged.withColumn("local_rank", F.row_number().over(w_local))
        .join(F.broadcast(offsets), "pid")
        .select(
            "doc_id",
            (F.col("offset") + F.col("local_rank") - 1).alias("row_idx"),
        )
    )


# ------------------------------------------------ DSIR importance weights
@register(
    "sample_dsir_importance",
    oracle="""
    WITH toks AS (
        SELECT doc_id, lang, t.tok AS w
        FROM (SELECT doc_id, lang, string_split(text, ' ') AS tl
              FROM documents), UNNEST(tl) AS t(tok)
    ),
    hashed AS (
        SELECT doc_id, lang,
               CAST(('0x' || substr(md5(w), 1, 12)) AS BIGINT) % 1024 AS b
        FROM toks
    ),
    tgt AS (
        SELECT b, COUNT(*) AS cnt FROM hashed WHERE lang = 'en' GROUP BY b
    ),
    raw AS (SELECT b, COUNT(*) AS cnt FROM hashed GROUP BY b),
    tot AS (
        SELECT (SELECT SUM(cnt) FROM tgt) AS nt,
               (SELECT SUM(cnt) FROM raw) AS nr
    )
    SELECT h.doc_id,
           COUNT(*) AS n_tokens,
           ROUND(AVG(
             ln((COALESCE(t.cnt, 0) + 1.0) / (tot.nt + 1024))
             - ln((r.cnt + 1.0) / (tot.nr + 1024))
           ), 4) AS dsir_logratio
    FROM hashed h
    LEFT JOIN tgt t ON t.b = h.b
    JOIN raw r ON r.b = h.b
    CROSS JOIN tot
    GROUP BY h.doc_id
    """,
    description="DSIR importance weights (Xie et al. 2023, "
    "arXiv:2302.03169): hashed-unigram (1024-bucket) feature models for "
    "the TARGET distribution (lang='en' here) and the RAW corpus, each "
    "doc scored by its mean log importance ratio ln(p_tgt/p_raw) — "
    "positive means target-like, the resampling key for domain-matched "
    "pretraining selection. The hash trick is the scale move: model "
    "state is a fixed 1024-row table per side regardless of vocabulary, "
    "so both models broadcast; scoring is two broadcast joins on the "
    "bucket id, never a vocabulary-sized shuffle.",
)
def sample_dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    hashed = docs.select(
        "doc_id",
        "lang",
        F.explode(F.split("text", " ", -1)).alias("w"),
    ).select("doc_id", "lang", (D.token_hash48(F.col("w")) % 1024).alias("b"))
    tgt = (
        hashed.filter(F.col("lang") == "en")
        .groupBy("b")
        .agg(F.count(F.lit(1)).alias("tcnt"))
    )
    raw = hashed.groupBy("b").agg(F.count(F.lit(1)).alias("rcnt"))
    nt = tgt.agg(F.sum("tcnt").alias("nt"))
    nr = raw.agg(F.sum("rcnt").alias("nr"))
    return (
        hashed.join(F.broadcast(tgt), "b", "left")
        .join(F.broadcast(raw), "b")
        .join(F.broadcast(nt))
        .join(F.broadcast(nr))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(
                F.avg(
                    F.log(
                        (F.coalesce(F.col("tcnt"), F.lit(0)) + 1.0)
                        / (F.col("nt") + 1024)
                    )
                    - F.log((F.col("rcnt") + 1.0) / (F.col("nr") + 1024))
                ),
                4,
            ).alias("dsir_logratio"),
        )
    )


# ----------------------------------------------- k-center coreset sample
def _kcenter_oracle(k: int = 5) -> str:
    """Chained-CTE farthest-point sampling: s1 = seed (vec_id 0); each
    c{i} scores every unselected vector by its 6dp-rounded min squared
    distance to s1..s{i-1}, and s{i} keeps the argmax (ties to lowest
    vec_id) — the same rounded-argmax contract as the Spark loop."""

    def d2(a: str, b: str) -> str:
        return _pq_d2_sql(a, b, 0, 64)

    ctes = [
        "e AS (SELECT vec_id, embedding FROM embeddings)",
        "s1 AS (SELECT vec_id, embedding FROM e WHERE vec_id = 0)",
    ]
    for i in range(2, k + 1):
        prev = [f"s{j}" for j in range(1, i)]
        terms = [d2("e.embedding", f"{s}.embedding") for s in prev]
        dexpr = terms[0] if len(terms) == 1 else "LEAST(" + ", ".join(terms) + ")"
        notin = " UNION ALL ".join(f"SELECT vec_id FROM {s}" for s in prev)
        ctes.append(
            f"c{i} AS (SELECT e.vec_id, e.embedding, "
            f"ROUND({dexpr}, 6) AS d "
            f"FROM e, {', '.join(prev)} "
            f"WHERE e.vec_id NOT IN ({notin}))"
        )
        ctes.append(
            f"s{i} AS (SELECT vec_id, embedding, d FROM c{i} "
            f"ORDER BY d DESC, vec_id LIMIT 1)"
        )
    selects = [
        "SELECT CAST(1 AS INT) AS step, vec_id, CAST(NULL AS DOUBLE) AS dist FROM s1"
    ] + [
        f"SELECT CAST({i} AS INT) AS step, vec_id, d AS dist FROM s{i}"
        for i in range(2, k + 1)
    ]
    return "WITH " + ",\n    ".join(ctes) + "\n    " + "\n    UNION ALL ".join(selects)


@register(
    "sample_coreset_kcenter",
    oracle=_kcenter_oracle(5),
    description="Greedy k-center / farthest-point coreset (Gonzalez'85 "
    "2-approximation) over the embedding corpus: k-1 rounds of one narrow "
    "scan (min distance to <=k broadcast literal vectors) + a struct-min "
    "reduction each — no corpus shuffle, no pairwise join, so the cost at "
    "100 TB is k sequential scans. The trace of coverage radii it returns "
    "is the diversity-sampling dial for training-data curation.",
)
def sample_coreset_kcenter(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    return S.kcenter_greedy(emb, k=5, start_id=0)


# ------------------------------------------- token-budget source mixture
@register(
    "pipeline_token_budget_mix",
    oracle="""
    WITH tok AS (
        SELECT doc_id, source,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS toks,
               CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12))
                    AS BIGINT) / 281474976710656.0 AS u
        FROM documents
    ),
    stats AS (
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS n_docs_total,
               CAST(SUM(toks) AS BIGINT) AS tokens_total
        FROM tok GROUP BY source
    ),
    weighted AS (
        SELECT source, n_docs_total, tokens_total,
               sqrt(CAST(tokens_total AS DOUBLE)
                    / CAST(SUM(tokens_total) OVER () AS DOUBLE)) AS sq,
               CAST(SUM(tokens_total) OVER () AS DOUBLE) AS grand
        FROM stats
    ),
    budgets AS (
        SELECT source, n_docs_total, tokens_total,
               (sq / SUM(sq) OVER ()) * 0.25 * grand AS token_budget
        FROM weighted
    ),
    ranked AS (
        SELECT t.source, t.toks,
               CAST(SUM(t.toks) OVER (
                   PARTITION BY t.source ORDER BY t.u, t.doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS BIGINT) AS cum
        FROM tok t
    )
    SELECT b.source, b.n_docs_total, b.tokens_total,
           ROUND(b.token_budget, 2) AS token_budget,
           CAST(COALESCE(SUM(CASE WHEN r.cum <= b.token_budget
                                  THEN 1 ELSE 0 END), 0) AS BIGINT)
               AS n_docs_kept,
           CAST(COALESCE(SUM(CASE WHEN r.cum <= b.token_budget
                                  THEN r.toks ELSE 0 END), 0) AS BIGINT)
               AS tokens_kept
    FROM budgets b JOIN ranked r ON r.source = b.source
    GROUP BY b.source, b.n_docs_total, b.tokens_total, b.token_budget
    """,
    description="Token-budget domain mixture (the Pile/Dolma-style source "
    "reweighting): per-source token mass is smoothed with temperature "
    "alpha=0.5 and renormalized to a 25%-of-corpus token budget, then each "
    "source greedily fills its budget in deterministic md5-rank order "
    "(reproducible across engines/runs — no seeded sample()). Source "
    "stats are metadata-scale; the corpus-side work is one narrow scan + "
    "one per-source window cumsum, so the only shuffle is on `source` — "
    "at 100 TB a skewed giant source salts the cumsum into ranked "
    "sub-segments, same plan otherwise.",
)
def pipeline_token_budget_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents").select("doc_id", "source", "text")
    u = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 12), 16, 10)
        .cast("bigint")
        .cast("double")
        / F.lit(281474976710656.0)
    )
    tok = docs.select(
        "doc_id",
        "source",
        F.size(F.split("text", " ", -1)).cast("bigint").alias("toks"),
        u.alias("u"),
    )
    stats = tok.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs_total"),
        F.sum("toks").cast("bigint").alias("tokens_total"),
    )
    # source cardinality is tiny: scalar denominators via one-row
    # broadcast aggregates (window-free, stays parallel)
    grand = stats.agg(F.sum("tokens_total").cast("double").alias("grand"))
    with_sq = stats.join(F.broadcast(grand)).withColumn(
        "sq", F.sqrt(F.col("tokens_total").cast("double") / F.col("grand"))
    )
    sqsum = with_sq.agg(F.sum("sq").alias("sqsum"))
    budgets = with_sq.join(F.broadcast(sqsum)).select(
        "source",
        "n_docs_total",
        "tokens_total",
        ((F.col("sq") / F.col("sqsum")) * 0.25 * F.col("grand")).alias(
            "token_budget"
        ),
    )
    w = (
        Window.partitionBy("source")
        .orderBy("u", "doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    ranked = tok.select(
        "source", "toks", F.sum("toks").over(w).cast("bigint").alias("cum")
    )
    kept = F.when(F.col("cum") <= F.col("token_budget"), 1).otherwise(0)
    kept_toks = F.when(
        F.col("cum") <= F.col("token_budget"), F.col("toks")
    ).otherwise(F.lit(0))
    return (
        ranked.join(F.broadcast(budgets), "source")
        .groupBy("source", "n_docs_total", "tokens_total", "token_budget")
        .agg(
            F.coalesce(F.sum(kept), F.lit(0)).cast("bigint").alias("n_docs_kept"),
            F.coalesce(F.sum(kept_toks), F.lit(0))
            .cast("bigint")
            .alias("tokens_kept"),
        )
        .select(
            "source",
            "n_docs_total",
            "tokens_total",
            F.round("token_budget", 2).alias("token_budget"),
            "n_docs_kept",
            "tokens_kept",
        )
    )


# ------------------------------------------- temperature sampling mix
@register(
    "sample_temperature_lang",
    oracle=f"""
    WITH c AS (
        SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents GROUP BY lang
    )
    SELECT lang, n_docs,
           {dround_sql("sqrt(CAST(n_docs AS DOUBLE)) / SUM(sqrt(CAST(n_docs AS DOUBLE))) OVER ()", 6)} AS weight,
           CAST({dround_sql("1000.0 * sqrt(CAST(n_docs AS DOUBLE)) / SUM(sqrt(CAST(n_docs AS DOUBLE))) OVER ()", 0)} AS BIGINT) AS alloc_docs
    FROM c
    """,
    description="Temperature-based multilingual sampling (alpha=0.5): "
    "per-language sampling weight n^alpha / sum(n^alpha) and a 1000-doc "
    "budget allocation — the standard rebalancing used for multilingual "
    "LM training mixes. One groupBy + a broadcast-size window; the "
    "per-language table is metadata-scale at any corpus size.",
)
def sample_temperature_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    c = docs.groupBy("lang").agg(F.count("*").cast("bigint").alias("n_docs"))
    wall = Window.partitionBy()
    sq = F.sqrt(F.col("n_docs").cast("double"))
    share = sq / F.sum(sq).over(wall)
    return c.select(
        "lang",
        "n_docs",
        dround(share, 6).alias("weight"),
        dround(F.lit(1000.0) * share, 0).cast("bigint").alias("alloc_docs"),
    )


# ------------------------------------------- per-source dataset cards
@register(
    "pipeline_dataset_cards",
    oracle=f"""
    WITH per_doc AS (
        SELECT source, lang, text,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS toks
        FROM documents
    ),
    lang_counts AS (
        SELECT source, lang, COUNT(*) AS n
        FROM per_doc GROUP BY source, lang
    ),
    top_lang AS (
        SELECT source, lang AS top_lang,
               {dround_sql("CAST(n AS DOUBLE) / tot", 6)} AS top_lang_frac
        FROM (
            SELECT source, lang, n,
                   ROW_NUMBER() OVER (
                       PARTITION BY source ORDER BY n DESC, lang
                   ) AS rk,
                   SUM(n) OVER (PARTITION BY source) AS tot
            FROM lang_counts
        ) WHERE rk = 1
    ),
    base AS (
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(toks) AS BIGINT) AS total_tokens,
               {dround_sql("AVG(CAST(toks AS DOUBLE))", 6)} AS avg_doc_tokens,
               CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
               {dround_sql("1.0 - CAST(COUNT(DISTINCT text) AS DOUBLE) / COUNT(*)", 6)} AS exact_dup_frac
        FROM per_doc GROUP BY source
    )
    SELECT b.source, n_docs, total_tokens, avg_doc_tokens, n_langs,
           top_lang, top_lang_frac, exact_dup_frac
    FROM base b JOIN top_lang t ON b.source = t.source
    """,
    description="Per-source dataset card: doc/token counts, language mix "
    "(mode language with deterministic tie-break), exact-duplicate "
    "fraction — the summary table a corpus curator publishes per shard "
    "source. Two agg shuffles on source grain; distinct-text counting is "
    "the only wide state and is itself a hash agg (at 100 TB swap "
    "COUNT(DISTINCT text) for a fingerprint-first groupBy).",
)
def pipeline_dataset_cards(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents").select(
        "source",
        "lang",
        "text",
        F.size(F.split("text", " ")).cast("bigint").alias("toks"),
    )
    lang_counts = docs.groupBy("source", "lang").agg(F.count("*").alias("n"))
    wrk = Window.partitionBy("source").orderBy(F.desc("n"), F.asc("lang"))
    wsrc = Window.partitionBy("source")
    top_lang = (
        lang_counts.withColumn("rk", F.row_number().over(wrk))
        .withColumn("tot", F.sum("n").over(wsrc))
        .filter(F.col("rk") == 1)
        .select(
            "source",
            F.col("lang").alias("top_lang"),
            dround(F.col("n").cast("double") / F.col("tot"), 6).alias(
                "top_lang_frac"
            ),
        )
    )
    base = docs.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("toks").cast("bigint").alias("total_tokens"),
        dround(F.avg(F.col("toks").cast("double")), 6).alias("avg_doc_tokens"),
        F.countDistinct("lang").cast("bigint").alias("n_langs"),
        dround(
            F.lit(1.0) - F.countDistinct("text").cast("double") / F.count("*"),
            6,
        ).alias("exact_dup_frac"),
    )
    return base.join(top_lang, "source").select(
        "source",
        "n_docs",
        "total_tokens",
        "avg_doc_tokens",
        "n_langs",
        "top_lang",
        "top_lang_frac",
        "exact_dup_frac",
    )


# ------------------------------------------- tokenizer vocab coverage
@register(
    "pipeline_tokenizer_vocab_coverage",
    oracle=f"""
    WITH train_toks AS (
        SELECT unnest(string_split(text, ' ')) AS token
        FROM documents WHERE doc_id % 2 = 0
    ),
    vocab AS (
        SELECT token FROM (
            SELECT token, COUNT(*) AS c,
                   ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, token) AS rk
            FROM train_toks GROUP BY token
        ) WHERE rk <= 1000
    ),
    held AS (
        SELECT lang, unnest(string_split(text, ' ')) AS token
        FROM documents WHERE doc_id % 2 = 1
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(CASE WHEN v.token IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS covered,
           {dround_sql("CAST(SUM(CASE WHEN v.token IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*)", 6)} AS coverage
    FROM held h LEFT JOIN vocab v ON h.token = v.token
    GROUP BY lang
    """,
    description="Tokenizer vocab coverage / OOV audit: build a top-1000 "
    "token vocabulary on even doc_ids, measure per-language token "
    "coverage on the held-out odd half — the go/no-go check before "
    "freezing a tokenizer for a multilingual corpus. Vocab is a "
    "vocab-grain TakeOrdered; coverage is a broadcast hash join of the "
    "tiny vocab against the held-out token stream.",
)
def pipeline_tokenizer_vocab_coverage(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    train = docs.filter(F.col("doc_id") % 2 == 0).select(
        F.explode(F.split("text", " ")).alias("token")
    )
    vocab = (
        train.groupBy("token")
        .agg(F.count("*").alias("c"))
        .orderBy(F.desc("c"), F.asc("token"))
        .limit(1000)
        .select("token", F.lit(1).alias("in_vocab"))
    )
    held = docs.filter(F.col("doc_id") % 2 == 1).select(
        "lang", F.explode(F.split("text", " ")).alias("token")
    )
    j = held.join(F.broadcast(vocab), "token", "left")
    return j.groupBy("lang").agg(
        F.count("*").cast("bigint").alias("n_tokens"),
        F.sum(F.coalesce("in_vocab", F.lit(0))).cast("bigint").alias(
            "covered"
        ),
        dround(
            F.sum(F.coalesce("in_vocab", F.lit(0))).cast("double")
            / F.count("*"),
            6,
        ).alias("coverage"),
    )


# ------------------------------------------- label balance audit
@register(
    "quality_label_balance_embeddings",
    oracle=f"""
    WITH c AS (
        SELECT label, CAST(COUNT(*) AS BIGINT) AS n
        FROM embeddings GROUP BY label
    ),
    tot AS (
        SELECT CAST(SUM(n) AS BIGINT) AS total,
               CAST(COUNT(*) AS BIGINT) AS k
        FROM c
    )
    SELECT label, n,
           {dround_sql("CAST(n AS DOUBLE) / total", 6)} AS share,
           {dround_sql("(n - CAST(total AS DOUBLE) / k) * (n - CAST(total AS DOUBLE) / k) / (CAST(total AS DOUBLE) / k)", 6)} AS chisq_term,
           CAST(CASE WHEN n < 0.5 * CAST(total AS DOUBLE) / k
                      OR n > 2.0 * CAST(total AS DOUBLE) / k
                THEN 1 ELSE 0 END AS INT) AS imbalanced
    FROM c, tot
    """,
    description="Class-balance audit of the embedding labels: per-label "
    "share, chi-square-vs-uniform contribution, and a 2x over/under "
    "representation flag — the check before training on a labeled "
    "corpus. One groupBy + a 1-row broadcast of the totals.",
)
def quality_label_balance_embeddings(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    c = emb.groupBy("label").agg(F.count("*").cast("bigint").alias("n"))
    tot = c.agg(
        F.sum("n").cast("bigint").alias("total"),
        F.count("*").cast("bigint").alias("k"),
    )
    exp = F.col("total").cast("double") / F.col("k")
    return c.crossJoin(F.broadcast(tot)).select(
        "label",
        "n",
        dround(F.col("n").cast("double") / F.col("total"), 6).alias("share"),
        dround((F.col("n") - exp) * (F.col("n") - exp) / exp, 6).alias(
            "chisq_term"
        ),
        F.when((F.col("n") < 0.5 * exp) | (F.col("n") > 2.0 * exp), 1)
        .otherwise(0)
        .cast("int")
        .alias("imbalanced"),
    )


@register(
    "quality_dup_cluster_size_distribution",
    oracle="WITH "
    + _DOCS_DUPS_SQL.format(mod=10)
    + """,
    clusters AS (
        SELECT md5(text) AS h, COUNT(*) AS n_copies FROM docs GROUP BY md5(text)
    ),
    tot AS (SELECT SUM(n_copies) AS n_docs_total FROM clusters)
    SELECT CAST(n_copies AS BIGINT) AS n_copies,
           CAST(COUNT(*) AS BIGINT) AS n_clusters,
           CAST(SUM(n_copies) AS BIGINT) AS n_docs,
           CAST(SUM(n_copies - 1) AS BIGINT) AS redundant_docs,
           ROUND(CAST(SUM(n_copies - 1) AS DOUBLE) / tot.n_docs_total, 6)
               AS redundant_share
    FROM clusters CROSS JOIN tot
    GROUP BY n_copies, tot.n_docs_total
    """,
    description="Duplicate-cluster size distribution over the exact-dedup "
    "clustering: how many content clusters exist at each copy count, how "
    "many documents they hold, and what share of the corpus is redundant "
    "at that multiplicity — the dedup diagnostic that distinguishes 'a "
    "few viral boilerplate pages copied 10^6 times' from 'long tail of "
    "double-posts', which drive opposite curation responses. Two "
    "aggregations (content-hash grain, then cluster-size grain — "
    "monotonically tiny) plus a broadcast scalar total.",
)
def quality_dup_cluster_size_distribution(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    clusters = (
        _docs_with_dups(spark, sf_dir, 10)
        .groupBy(F.md5("text").alias("h"))
        .agg(F.count(F.lit(1)).alias("n_copies"))
    )
    tot = clusters.agg(F.sum("n_copies").alias("n_docs_total"))
    return (
        clusters.crossJoin(F.broadcast(tot))
        .groupBy(F.col("n_copies").cast("bigint").alias("n_copies"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_clusters"),
            F.sum("n_copies").cast("bigint").alias("n_docs"),
            F.sum(F.col("n_copies") - 1).cast("bigint").alias("redundant_docs"),
            dround(
                F.sum(F.col("n_copies") - 1).cast("double")
                / F.first("n_docs_total"),
                6,
            ).alias("redundant_share"),
        )
    )


@register(
    "pipeline_packing_efficiency_curve",
    oracle="""
    WITH lens AS (
        SELECT doc_id,
               least(len(regexp_extract_all(text,
                     '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]')), 512) AS n
        FROM documents
    ),
    tiled AS (
        SELECT doc_id, n,
               NTILE(1) OVER (ORDER BY n, doc_id) AS k1,
               NTILE(2) OVER (ORDER BY n, doc_id) AS k2,
               NTILE(4) OVER (ORDER BY n, doc_id) AS k4,
               NTILE(8) OVER (ORDER BY n, doc_id) AS k8
        FROM lens
    ),
    unp AS (
        SELECT 1 AS n_buckets, k1 AS b, n FROM tiled
        UNION ALL SELECT 2, k2, n FROM tiled
        UNION ALL SELECT 4, k4, n FROM tiled
        UNION ALL SELECT 8, k8, n FROM tiled
    ),
    bucketed AS (
        SELECT n_buckets, b, MAX(n) AS pad_to, SUM(n) AS toks, COUNT(*) AS docs
        FROM unp GROUP BY n_buckets, b
    )
    SELECT CAST(n_buckets AS INT) AS n_buckets,
           CAST(SUM(toks) AS BIGINT) AS real_tokens,
           CAST(SUM(CAST(pad_to AS BIGINT) * docs) AS BIGINT) AS padded_tokens,
           ROUND(1.0 - CAST(SUM(toks) AS DOUBLE)
                       / SUM(CAST(pad_to AS BIGINT) * docs), 6) AS waste_ratio
    FROM bucketed
    GROUP BY n_buckets
    """,
    description="Length-bucketed padding-waste curve: documents (capped "
    "at a 512-token context) are split into 1/2/4/8 length-quantile "
    "buckets and padded to each bucket's max length — the curve "
    "quantifies how much compute naive fixed-length batching burns on "
    "pad tokens and how fast sorted bucketing reclaims it (the "
    "bucketed-batching / sequence-packing tradeoff every trainer "
    "tunes; compare pipeline_sequence_packing, which eliminates the "
    "waste entirely by first-fit packing). All four NTILE assignments "
    "ride ONE window pass over the doc-length projection (doc-grain, "
    "tiebroken on doc_id for cross-engine determinism), then one "
    "bucket-grain and one curve-grain aggregate. At 1e9+ docs the "
    "quantile cuts come from a binned length histogram instead of "
    "NTILE (length <= context cap makes the bins exact).",
)
def pipeline_packing_efficiency_curve(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    n = F.least(
        F.size(F.regexp_extract_all(F.col("text"), F.lit(_PRETOKEN_RE), 0)),
        F.lit(512),
    )
    lens = docs.select("doc_id", n.alias("n"))
    w = Window.orderBy("n", "doc_id")
    tiled = lens.select(
        "n",
        F.ntile(1).over(w).alias("k1"),
        F.ntile(2).over(w).alias("k2"),
        F.ntile(4).over(w).alias("k4"),
        F.ntile(8).over(w).alias("k8"),
    )
    unp = None
    for kb in (1, 2, 4, 8):
        part = tiled.select(
            F.lit(kb).alias("n_buckets"), F.col(f"k{kb}").alias("b"), "n"
        )
        unp = part if unp is None else unp.unionAll(part)
    bucketed = unp.groupBy("n_buckets", "b").agg(
        F.max("n").alias("pad_to"),
        F.sum("n").alias("toks"),
        F.count(F.lit(1)).alias("docs"),
    )
    return (
        bucketed.groupBy(F.col("n_buckets").cast("int").alias("n_buckets"))
        .agg(
            F.sum("toks").cast("bigint").alias("real_tokens"),
            F.sum(F.col("pad_to") * F.col("docs"))
            .cast("bigint")
            .alias("padded_tokens"),
            dround(
                1.0
                - F.sum("toks").cast("double")
                / F.sum(F.col("pad_to") * F.col("docs")),
                6,
            ).alias("waste_ratio"),
        )
    )


_N_SHARDS = 8


def _shard_leakage_oracle() -> str:
    ctes, final = _lsh_pairs_ctes()
    h = _H48.format(c="CAST(id_a AS VARCHAR)")
    h2 = _H48.format(c="CAST(id_b AS VARCHAR)")
    return f"""
    WITH {ctes},
    pairs AS ({final}),
    sharded AS (
        SELECT least({h} % {_N_SHARDS}, {h2} % {_N_SHARDS}) AS shard_a,
               greatest({h} % {_N_SHARDS}, {h2} % {_N_SHARDS}) AS shard_b
        FROM pairs
    )
    SELECT shard_a, shard_b,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(shard_a <> shard_b AS INT) AS cross_shard
    FROM sharded GROUP BY shard_a, shard_b
    ORDER BY shard_a, shard_b
    """


@register(
    "pipeline_shard_dup_leakage",
    oracle=_shard_leakage_oracle(),
    description="Duplicate leakage across training shards: assign every "
    "doc to one of 8 shards by portable content-independent id hash, "
    "then count verified near-dup pairs within vs across shard "
    "boundaries. Cross-shard duplicates are the pairs a shard-local "
    "dedup pass would MISS — the number that decides whether global "
    "dedup (this repo's LSH bucket-join, which is shard-oblivious) is "
    "required before a multi-node training run, or per-shard dedup "
    "suffices. Shard ids derive from the pair table directly (a hash "
    "expression, no extra join); the heavy lifting is the one shared "
    "LSH pipeline.",
)
def pipeline_shard_dup_leakage(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    pairs = D.lsh_candidate_pairs(
        _docs_with_dups(spark, sf_dir, 20), threshold=0.5
    )
    sh_a = F.pmod(D.token_hash48(F.col("id_a").cast("string")), F.lit(_N_SHARDS))
    sh_b = F.pmod(D.token_hash48(F.col("id_b").cast("string")), F.lit(_N_SHARDS))
    return (
        pairs.select(
            F.least(sh_a, sh_b).alias("shard_a"),
            F.greatest(sh_a, sh_b).alias("shard_b"),
        )
        .groupBy("shard_a", "shard_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_pairs"))
        .withColumn(
            "cross_shard",
            (F.col("shard_a") != F.col("shard_b")).cast("int"),
        )
        .orderBy("shard_a", "shard_b")
    )


_DOREMI_ETA = 5.0


@register(
    "pipeline_doremi_mixture_step",
    oracle=f"""
    WITH scored AS (
        SELECT source,
               CAST(len(string_split(text, ' ')) AS DOUBLE) AS n_tokens,
               {_SCORE_SQL} AS q
        FROM documents
    ),
    per_source AS (
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               SUM(n_tokens) AS toks,
               AVG(q) AS mean_quality
        FROM scored GROUP BY source
    ),
    with_share AS (
        SELECT *, toks / SUM(toks) OVER () AS token_share FROM per_source
    ),
    with_excess AS (
        SELECT *,
               mean_quality - SUM(token_share * mean_quality) OVER ()
                   AS excess
        FROM with_share
    ),
    with_w AS (
        SELECT *, token_share * exp({_DOREMI_ETA} * excess) AS unnorm
        FROM with_excess
    )
    SELECT source, n_docs,
           {dround_sql("token_share", 6)} AS token_share,
           {dround_sql("mean_quality", 6)} AS mean_quality,
           {dround_sql("excess", 6)} AS excess,
           {dround_sql("unnorm / SUM(unnorm) OVER ()", 6)} AS new_weight
    FROM with_w
    ORDER BY source
    """,
    description="One DoReMi-style mixture-reweighting step (Xie et al. "
    "2023, simplified): start from token-share proportional sampling "
    "weights per source, use mean quality score as the per-domain "
    "excess-reward proxy, and take one exponentiated-gradient step "
    "(w ∝ p·exp(eta·excess)) toward upweighting above-average domains. "
    "All domain-level scalar math over a sources-sized table; the only "
    "corpus-scale work is one scan + one groupBy(source) with partial "
    "aggregation — the shape that holds at 100 TB where the domain "
    "table stays tiny. Global sums are window aggregates over the "
    "20-row domain table (single-partition by design at that grain).",
)
def pipeline_doremi_mixture_step(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    q = TX.quality_score_cols(F.col("text"))["quality_score"]
    per_source = docs.select(
        "source",
        F.size(F.split(F.col("text"), " ")).cast("double").alias("n_tokens"),
        q.alias("q"),
    ).groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_tokens").alias("toks"),
        F.avg("q").alias("mean_quality"),
    )
    tot = per_source.agg(F.sum("toks").alias("total_toks"))
    shared = per_source.crossJoin(F.broadcast(tot)).withColumn(
        "token_share", F.col("toks") / F.col("total_toks")
    )
    qbar = shared.agg(
        F.sum(F.col("token_share") * F.col("mean_quality")).alias("qbar")
    )
    exc = shared.crossJoin(F.broadcast(qbar)).withColumn(
        "excess", F.col("mean_quality") - F.col("qbar")
    ).withColumn(
        "unnorm",
        F.col("token_share") * F.exp(F.lit(_DOREMI_ETA) * F.col("excess")),
    )
    z = exc.agg(F.sum("unnorm").alias("z"))
    return (
        exc.crossJoin(F.broadcast(z))
        .select(
            "source",
            "n_docs",
            dround(F.col("token_share"), 6).alias("token_share"),
            dround(F.col("mean_quality"), 6).alias("mean_quality"),
            dround(F.col("excess"), 6).alias("excess"),
            dround(F.col("unnorm") / F.col("z"), 6).alias("new_weight"),
        )
        .orderBy("source")
    )


@register(
    "pipeline_embedding_decontamination",
    oracle=f"""
    WITH ev AS (
        SELECT vec_id AS eval_id, embedding AS eval_emb
        FROM embeddings WHERE vec_id % 50 = 0
    ),
    corpus AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 50 <> 0),
    scored AS (
        SELECT c.vec_id, ev.eval_id,
               {dround_sql(
                   "list_sum(list_transform(list_zip(c.embedding, ev.eval_emb),"
                   " p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))"
                   " / (sqrt(list_sum(list_transform(c.embedding,"
                   " x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"
                   " * sqrt(list_sum(list_transform(ev.eval_emb,"
                   " x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))", 6
               )} AS cos
        FROM corpus c, ev
    ),
    best AS (
        SELECT vec_id, eval_id AS nearest_eval_id, cos AS max_cos,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY cos DESC, eval_id DESC) AS rn
        FROM scored
    )
    SELECT vec_id, nearest_eval_id, max_cos,
           CAST(max_cos >= 0.9 AS INT) AS contaminated
    FROM best WHERE rn = 1
    ORDER BY vec_id
    """,
    description="Embedding-space decontamination, the semantic companion "
    "to pipeline_decontaminate_train's n-gram overlap: score every "
    "corpus vector against the (tiny, broadcast) eval/benchmark "
    "embedding set and flag cosine >= 0.9 as contaminated — catches "
    "paraphrased benchmark leakage that exact n-gram matching misses "
    "(the scheme used for GSM8K/MMLU leak audits). The eval side is "
    "MBs against a 100 TB corpus, so the join is a broadcast "
    "nested-loop that never shuffles the corpus; per-vector argmax is "
    "a struct-max aggregation, no window over corpus-scale data.",
)
def pipeline_embedding_decontamination(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    ev = emb.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("eval_id"),
        F.col("embedding").alias("eval_emb"),
    )
    corpus = emb.filter(F.col("vec_id") % 50 != 0)
    cos = dround(
        S.cosine(F.col("embedding"), F.col("eval_emb")), 6
    )
    best = (
        corpus.crossJoin(F.broadcast(ev))
        .select("vec_id", F.struct(cos.alias("c"), "eval_id").alias("sc"))
        .groupBy("vec_id")
        .agg(F.max("sc").alias("m"))
    )
    return best.select(
        "vec_id",
        F.col("m.eval_id").alias("nearest_eval_id"),
        F.col("m.c").alias("max_cos"),
        (F.col("m.c") >= 0.9).cast("int").alias("contaminated"),
    ).orderBy("vec_id")


def _leakage_free_split_oracle() -> str:
    ctes, final = _lsh_pairs_ctes()
    u = "CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12)) AS BIGINT) / 281474976710656.0"
    return f"""
    WITH {ctes},
    pairs AS ({final}),
    split AS (
        SELECT doc_id,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
               CASE WHEN {u} < 0.8 THEN 'train' ELSE 'test' END AS part
        FROM docs
    ),
    sym AS (
        SELECT id_a AS a, id_b AS b FROM pairs
        UNION
        SELECT id_b AS a, id_a AS b FROM pairs
    ),
    leaked AS (
        SELECT DISTINCT s.doc_id
        FROM split s
        JOIN sym e ON e.a = s.doc_id
        JOIN split t ON t.doc_id = e.b AND t.part = 'test'
        WHERE s.part = 'train'
    ),
    labeled AS (
        SELECT s.doc_id, s.n_tokens,
               CASE WHEN s.part = 'train' AND l.doc_id IS NOT NULL
                    THEN 'train_removed' ELSE s.part END AS bucket
        FROM split s LEFT JOIN leaked l ON l.doc_id = s.doc_id
    )
    SELECT bucket,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS n_tokens
    FROM labeled GROUP BY bucket ORDER BY bucket
    """


@register(
    "sample_leakage_free_split",
    oracle=_leakage_free_split_oracle(),
    description="Leakage-free train/test split: after the deterministic "
    "80/20 id-hash split, any TRAIN doc that is a verified near-dup of "
    "a TEST doc is evicted to a 'train_removed' bucket — the standard "
    "guard against evaluating on paraphrases of the training set "
    "(Lee et al. 2021 show near-dup train/test leakage inflates eval). "
    "Composes the hash split (stable under dataset growth) with the "
    "LSH-verified near-dup pair table via one semi-join against the "
    "test side; reports doc and token mass per bucket, which is what "
    "the training-budget accounting consumes.",
)
def sample_leakage_free_split(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = _docs_with_dups(spark, sf_dir, 20)
    u = (
        F.conv(
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 12), 16, 10
        ).cast("bigint")
        / F.lit(281474976710656.0)
    )
    split = docs.select(
        "doc_id",
        F.size(F.split(F.col("text"), " ")).cast("bigint").alias("n_tokens"),
        F.when(u < 0.8, F.lit("train")).otherwise(F.lit("test")).alias("part"),
    )
    pairs = D.lsh_candidate_pairs(docs, threshold=0.5)
    sym = pairs.select(
        F.col("id_a").alias("a"), F.col("id_b").alias("b")
    ).unionAll(
        pairs.select(F.col("id_b").alias("a"), F.col("id_a").alias("b"))
    ).distinct()
    test_ids = split.filter(F.col("part") == "test").select(
        F.col("doc_id").alias("b")
    )
    leaked = (
        sym.join(test_ids, "b")
        .select(F.col("a").alias("doc_id"))
        .distinct()
        .withColumn("leak", F.lit(1))
    )
    labeled = split.join(leaked, "doc_id", "left").select(
        "n_tokens",
        F.when(
            (F.col("part") == "train") & F.col("leak").isNotNull(),
            F.lit("train_removed"),
        )
        .otherwise(F.col("part"))
        .alias("bucket"),
    )
    return (
        labeled.groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("n_tokens"),
        )
        .orderBy("bucket")
    )


@register(
    "pipeline_curriculum_phases",
    oracle=f"""
    WITH scored AS (
        SELECT doc_id,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
               {_SCORE_SQL} AS q
        FROM documents
    ),
    phased AS (
        SELECT doc_id, n_tokens, q,
               NTILE(4) OVER (ORDER BY q DESC, doc_id) AS phase
        FROM scored
    ),
    per AS (
        SELECT phase,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
               AVG(q) AS mq
        FROM phased GROUP BY phase
    ),
    tot AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS total FROM per)
    SELECT phase,
           n_docs,
           n_tokens,
           {dround_sql("mq", 6)} AS mean_quality,
           {dround_sql(
               "SUM(n_tokens) OVER (ORDER BY phase)"
               " / CAST(total AS DOUBLE)", 6
           )} AS cum_token_share
    FROM per, tot
    ORDER BY phase
    """,
    description="Curriculum-learning schedule: rank the corpus by quality "
    "score (deterministic total order, doc_id tiebreak) and cut it into "
    "4 curriculum phases — training consumes phase 1 (cleanest) first "
    "and anneals toward the noisier tail, the schedule used by "
    "quality-curriculum pretraining recipes. Reports per-phase doc/"
    "token budgets, mean quality, and the cumulative token share the "
    "scheduler feeds the data loader. NTILE runs at doc grain here "
    "(same declared trade-off as pipeline_packing_efficiency_curve: "
    "at 1e9+ docs the cuts come from a binned score histogram instead "
    "— noted, not silent); everything after the cut is a 4-row "
    "aggregate.",
)
def pipeline_curriculum_phases(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from pyspark.sql.window import Window as W

    docs = table(spark, sf_dir, "documents")
    q = TX.quality_score_cols(F.col("text"))["quality_score"]
    scored = docs.select(
        "doc_id",
        F.size(F.split(F.col("text"), " ")).cast("bigint").alias("n_tokens"),
        q.alias("q"),
    )
    phased = scored.withColumn(
        "phase",
        F.ntile(4).over(W.orderBy(F.col("q").desc(), F.col("doc_id"))),
    )
    per = phased.groupBy("phase").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("n_tokens"),
        F.avg("q").alias("mq"),
    )
    tot = per.agg(F.sum("n_tokens").cast("bigint").alias("total"))
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            "phase",
            "n_docs",
            "n_tokens",
            dround(F.col("mq"), 6).alias("mean_quality"),
            dround(
                F.sum("n_tokens")
                .over(W.orderBy("phase"))
                .cast("double")
                / F.col("total"),
                6,
            ).alias("cum_token_share"),
        )
        .orderBy("phase")
    )


@register(
    "quality_calibration_ece_brier",
    oracle=f"""
    WITH {_QEVAL_SQL},
    qe_binned AS (
        SELECT least(CAST(floor(q * 10) AS INT), 9) AS bin, q, label
        FROM qe_labeled
    ),
    qe_bins AS (
        SELECT bin,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               AVG(q) AS conf,
               AVG(CAST(label AS DOUBLE)) AS acc,
               SUM((q - label) * (q - label)) AS sq_sum
        FROM qe_binned GROUP BY bin
    )
    SELECT bin, n_docs,
           {dround_sql("conf", 6)} AS conf,
           {dround_sql("acc", 6)} AS acc,
           {dround_sql("abs(acc - conf)", 6)} AS gap,
           {dround_sql("SUM(n_docs * abs(acc - conf)) OVER ()"
                       " / SUM(n_docs) OVER ()", 6)} AS ece,
           {dround_sql("SUM(sq_sum) OVER () / SUM(n_docs) OVER ()", 6)}
               AS brier
    FROM qe_bins
    ORDER BY bin
    """,
    description="Reliability diagram + expected calibration error + "
    "Brier score for the quality score read as P(passes the Gopher "
    "gate): 10 equal-width probability bins, per-bin mean confidence "
    "vs empirical accuracy, ECE as the doc-weighted |acc - conf| sum, "
    "Brier as mean squared error. Equal-width binning (not NTILE) so "
    "bin membership is a pure map — one scan + groupBy(bin); the "
    "normalizing window runs over the <=10-row bin table.",
)
def quality_calibration_ece_brier(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    labeled = _quality_vs_gopher(spark, sf_dir)
    binned = labeled.select(
        F.least(F.floor(F.col("q") * 10).cast("int"), F.lit(9)).alias("bin"),
        "q",
        "label",
    )
    bins = binned.groupBy("bin").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.avg("q").alias("conf"),
        F.avg(F.col("label").cast("double")).alias("acc"),
        F.sum(
            (F.col("q") - F.col("label")) * (F.col("q") - F.col("label"))
        ).alias("sq_sum"),
    )
    wall = Window.partitionBy()
    gap = F.abs(F.col("acc") - F.col("conf"))
    return bins.select(
        "bin",
        "n_docs",
        dround(F.col("conf"), 6).alias("conf"),
        dround(F.col("acc"), 6).alias("acc"),
        dround(gap, 6).alias("gap"),
        dround(
            F.sum(F.col("n_docs") * gap).over(wall)
            / F.sum("n_docs").over(wall),
            6,
        ).alias("ece"),
        dround(
            F.sum("sq_sum").over(wall) / F.sum("n_docs").over(wall), 6
        ).alias("brier"),
    ).orderBy("bin")


# ------------------------------------- UniMax language budget allocation
@register(
    "sample_unimax_language_budget",
    oracle=f"""
    WITH um_mass AS (
        SELECT lang,
               CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS m,
               CAST(4 * SUM(len(string_split(text, ' '))) AS BIGINT) AS cap
        FROM documents GROUP BY lang
    ),
    um_ranked AS (
        SELECT lang, m, cap,
               CAST(ROW_NUMBER() OVER (ORDER BY cap, lang) AS BIGINT) AS k,
               CAST(SUM(cap) OVER (ORDER BY cap, lang) AS BIGINT) AS pref
        FROM um_mass
    ),
    um_tot AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(m) AS BIGINT) AS t,
               CAST(2 * SUM(m) AS BIGINT) AS b
        FROM um_mass
    ),
    um_seg AS (
        SELECT CAST(COALESCE(MAX(CASE WHEN pref + (n - k) * cap <= b
                                      THEN k END), 0) AS BIGINT) AS ks,
               CAST(COALESCE(MAX(CASE WHEN pref + (n - k) * cap <= b
                                      THEN pref END), 0) AS BIGINT) AS p
        FROM um_ranked, um_tot
    ),
    um_thr AS (
        SELECT CAST(b - p AS DOUBLE) / (n - ks) AS tstar, b, t
        FROM um_seg, um_tot
    )
    SELECT r.lang, r.m AS lang_tokens, r.cap AS cap_tokens,
           {dround_sql("least(CAST(r.cap AS DOUBLE), h.tstar)", 4)}
               AS alloc_tokens,
           {dround_sql("least(CAST(r.cap AS DOUBLE), h.tstar) / r.m", 6)}
               AS epochs,
           {dround_sql("least(CAST(r.cap AS DOUBLE), h.tstar) / h.b", 6)}
               AS alloc_share
    FROM um_ranked r, um_thr h
    """,
    description="UniMax language budget allocation (Chung et al. 2023): "
    "distribute a 2x-corpus token budget across languages as uniformly "
    "as possible subject to a 4-epoch-per-language repeat cap — the "
    "closed-form water-filling solution. Rank languages by capped "
    "capacity ascending; the largest k with pref_k + (n-k)*cap_k <= B "
    "marks the saturated segment (an all-bigint comparison, so the "
    "segment choice is bit-identical across engines); the water level "
    "T* = (B - pref_k)/(n - k) caps every remaining language. Corpus-"
    "scale work is ONE scan + groupBy(lang) with map-side combine; the "
    "water-filling runs entirely over the language-grain aggregate "
    "(tens of rows at any corpus size).",
)
def sample_unimax_language_budget(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    toks = F.size(F.split(F.col("text"), " ")).cast("bigint")
    mass = docs.groupBy("lang").agg(
        F.sum(toks).cast("bigint").alias("m"),
        (F.lit(4) * F.sum(toks)).cast("bigint").alias("cap"),
    )
    wrank = Window.orderBy("cap", "lang")
    ranked = mass.select(
        "lang",
        "m",
        "cap",
        F.row_number().over(wrank).cast("bigint").alias("k"),
        F.sum("cap").over(
            wrank.rowsBetween(Window.unboundedPreceding, 0)
        ).cast("bigint").alias("pref"),
    )
    tot = mass.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("m").cast("bigint").alias("t"),
        (F.lit(2) * F.sum("m")).cast("bigint").alias("b"),
    )
    feasible = (
        F.col("pref") + (F.col("n") - F.col("k")) * F.col("cap")
    ) <= F.col("b")
    seg = ranked.crossJoin(F.broadcast(tot)).agg(
        F.coalesce(F.max(F.when(feasible, F.col("k"))), F.lit(0))
        .cast("bigint")
        .alias("ks"),
        F.coalesce(F.max(F.when(feasible, F.col("pref"))), F.lit(0))
        .cast("bigint")
        .alias("p"),
    )
    thr = seg.crossJoin(F.broadcast(tot)).select(
        (
            (F.col("b") - F.col("p")).cast("double")
            / (F.col("n") - F.col("ks"))
        ).alias("tstar"),
        "b",
    )
    alloc = F.least(F.col("cap").cast("double"), F.col("tstar"))
    return ranked.crossJoin(F.broadcast(thr)).select(
        "lang",
        F.col("m").alias("lang_tokens"),
        F.col("cap").alias("cap_tokens"),
        dround(alloc, 4).alias("alloc_tokens"),
        dround(alloc / F.col("m"), 6).alias("epochs"),
        dround(alloc / F.col("b"), 6).alias("alloc_share"),
    )


# --------------------------------- PPS systematic sampling (suppliers)
_PPS_N = 20


@register(
    "sample_pps_systematic_suppliers",
    oracle=f"""
    WITH sizes AS (
        SELECT l_suppkey AS s_suppkey,
               CAST(SUM(CAST(ROUND(CAST(l_extendedprice * (1 - l_discount)
                    * 100 AS DECIMAL(38,8)), 0) AS BIGINT)) AS BIGINT)
                   AS revenue_cents
        FROM lineitem GROUP BY l_suppkey
    ),
    cum AS (
        SELECT s_suppkey, revenue_cents,
               CAST(SUM(revenue_cents) OVER (
                   ORDER BY s_suppkey
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS BIGINT) AS c_hi
        FROM sizes WHERE revenue_cents > 0
    ),
    tot AS (SELECT CAST(SUM(revenue_cents) AS BIGINT) AS t
            FROM sizes WHERE revenue_cents > 0),
    hits AS (
        SELECT c.s_suppkey, c.revenue_cents, c.c_hi, tot.t,
               LEAST({_PPS_N}, CASE WHEN 2 * {_PPS_N} * c.c_hi >= tot.t
                   THEN (2 * {_PPS_N} * c.c_hi - tot.t) // (2 * tot.t) + 1
                   ELSE 0 END)
             - LEAST({_PPS_N}, CASE
                   WHEN 2 * {_PPS_N} * (c.c_hi - c.revenue_cents) >= tot.t
                   THEN (2 * {_PPS_N} * (c.c_hi - c.revenue_cents) - tot.t)
                        // (2 * tot.t) + 1
                   ELSE 0 END) AS n_hits
        FROM cum c CROSS JOIN tot
    )
    SELECT s_suppkey, revenue_cents, CAST(n_hits AS BIGINT) AS n_hits,
           {dround_sql(
               f"{_PPS_N} * CAST(revenue_cents AS DOUBLE) / t", 8)}
               AS expected_hits
    FROM hits WHERE n_hits >= 1
    """,
    description=f"Probability-proportional-to-size SYSTEMATIC sample of "
    f"{_PPS_N} supplier draws, size = lineitem revenue: selection points "
    "sit at the deterministic midpoints T(2k+1)/2n of the cumulative-"
    "size axis, a supplier is drawn once per point inside its interval "
    "(large units can be drawn multiple times - n_hits is the "
    "multiplicity, E[n_hits] = n*size/T). The entire selection rule is "
    "INTEGER arithmetic on exact revenue cents - the point-in-interval "
    "count telescopes to g(C_i) - g(C_(i-1)) with g(C) = "
    "floor((2nC - T)/2T) + 1 - so engines can never disagree on the "
    "drawn set. Per-lineitem cents are fixed scalar expressions, the "
    "supplier rollup is one map-side-combinable groupBy; the prefix sum "
    "runs over the supplier DIM (declared in the plan lint - at 1e8+ "
    "suppliers it becomes the standard two-pass partition-offset "
    "prefix sum).",
)
def sample_pps_systematic_suppliers(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").select(
        "l_suppkey", "l_extendedprice", "l_discount"
    )
    cents = (
        F.round(
            (F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100)
            .cast("decimal(38,8)"),
            0,
        ).cast("bigint")
    )
    sizes = (
        li.select("l_suppkey", cents.alias("cents"))
        .groupBy(F.col("l_suppkey").alias("s_suppkey"))
        .agg(F.sum("cents").cast("bigint").alias("revenue_cents"))
        .filter(F.col("revenue_cents") > 0)
    )
    wcum = Window.orderBy("s_suppkey").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = sizes.select(
        "s_suppkey",
        "revenue_cents",
        F.sum("revenue_cents").over(wcum).cast("bigint").alias("c_hi"),
    )
    tot = sizes.agg(F.sum("revenue_cents").cast("bigint").alias("t"))
    n = _PPS_N

    def g(c: str) -> F.Column:
        lo = F.lit(2) * n * F.col(c) >= F.col("t")
        val = F.expr(
            f"(2 * {n} * {c} - t) DIV (2 * t)"
        ) + 1
        return F.least(F.lit(n).cast("bigint"), F.when(lo, val).otherwise(0))

    hits = (
        cum.crossJoin(F.broadcast(tot))
        .withColumn("c_lo", F.col("c_hi") - F.col("revenue_cents"))
        .withColumn("n_hits", (g("c_hi") - g("c_lo")).cast("bigint"))
    )
    return hits.filter(F.col("n_hits") >= 1).select(
        "s_suppkey",
        "revenue_cents",
        "n_hits",
        dround(
            F.lit(n) * F.col("revenue_cents").cast("double") / F.col("t"), 8
        ).alias("expected_hits"),
    )


# --------------------------------- rendezvous (HRW) shard assignment
_HRW_SHARDS = [f"s{i}" for i in range(9)]  # 8 before, s8 added after


def _hrw_oracle() -> str:
    def h(s: str) -> str:
        return (
            "CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)"
            f" || '@' || '{s}'), 1, 12)) AS BIGINT)"
        )

    l9 = "[" + ", ".join(h(s) for s in _HRW_SHARDS) + "]"
    l8 = "[" + ", ".join(h(s) for s in _HRW_SHARDS[:8]) + "]"
    return f"""
    WITH assign AS (
        SELECT doc_id,
               list_position({l8}, list_max({l8})) AS a8,
               list_position({l9}, list_max({l9})) AS a9
        FROM documents
    ),
    tot AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(CASE WHEN a8 <> a9 THEN 1 ELSE 0 END) AS BIGINT)
                   AS moved_total
        FROM assign
    ),
    shards AS (
        SELECT UNNEST(range(1, 10)) AS sid
    )
    SELECT 's' || CAST(s.sid - 1 AS VARCHAR) AS shard,
           CAST(COALESCE(SUM(CASE WHEN a.a8 = s.sid THEN 1 END), 0)
                AS BIGINT) AS n_before,
           CAST(COALESCE(SUM(CASE WHEN a.a9 = s.sid THEN 1 END), 0)
                AS BIGINT) AS n_after,
           CAST(COALESCE(SUM(CASE WHEN a.a8 = s.sid AND a.a9 = s.sid
                THEN 1 END), 0) AS BIGINT) AS stayed,
           t.moved_total,
           {dround_sql("CAST(t.moved_total AS DOUBLE) / t.n_docs", 6)}
               AS moved_frac
    FROM shards s
    LEFT JOIN assign a ON a.a8 = s.sid OR a.a9 = s.sid
    CROSS JOIN tot t
    GROUP BY s.sid, t.moved_total, t.n_docs
    """


@register(
    "pipeline_shard_assignment_rendezvous",
    oracle=_hrw_oracle(),
    description="Rendezvous (highest-random-weight) shard assignment "
    "audit: every document hashes once per shard (portable md5, "
    "doc@shard salting) and lands on the arg-max shard; the query "
    "compares the 8-shard assignment with the 9-shard assignment after "
    "adding s8. HRW's minimal-disruption guarantee is checked "
    "structurally: a document moves IFF its new-shard hash wins, so "
    "stayed == n_after on every pre-existing shard and moved_frac "
    "concentrates at ~1/9 — this is the consistent-hashing property "
    "that lets a 100 TB corpus re-shard without a full shuffle (only "
    "the moving 1/n of rows rewrites). All per-doc work is row-local "
    "scalar hashing (no join, no shuffle before the 9-row rollup); the "
    "argmax is a fixed-order list_position(max) with lowest-index "
    "tie-break, bit-identical across engines.",
)
def pipeline_shard_assignment_rendezvous(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = table(spark, sf_dir, "documents").select("doc_id")

    def h(s: str) -> F.Column:
        return F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.col("doc_id").cast("string"), F.lit("@" + s)
                    )
                ),
                1,
                12,
            ),
            16,
            10,
        ).cast("bigint")

    arr9 = F.array(*[h(s) for s in _HRW_SHARDS])
    arr8 = F.array(*[h(s) for s in _HRW_SHARDS[:8]])
    assign = docs.select(
        F.array_position(arr8, F.array_max(arr8)).alias("a8"),
        F.array_position(arr9, F.array_max(arr9)).alias("a9"),
    )
    tot = assign.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(F.when(F.col("a8") != F.col("a9"), 1).otherwise(0))
        .cast("bigint")
        .alias("moved_total"),
    )
    shards = spark.range(1, 10).select(F.col("id").alias("sid"))
    joined = F.broadcast(shards).join(
        assign, (F.col("a8") == F.col("sid")) | (F.col("a9") == F.col("sid")),
        "left",
    )
    per = joined.groupBy("sid").agg(
        F.coalesce(
            F.sum(F.when(F.col("a8") == F.col("sid"), 1)), F.lit(0)
        )
        .cast("bigint")
        .alias("n_before"),
        F.coalesce(
            F.sum(F.when(F.col("a9") == F.col("sid"), 1)), F.lit(0)
        )
        .cast("bigint")
        .alias("n_after"),
        F.coalesce(
            F.sum(
                F.when(
                    (F.col("a8") == F.col("sid"))
                    & (F.col("a9") == F.col("sid")),
                    1,
                )
            ),
            F.lit(0),
        )
        .cast("bigint")
        .alias("stayed"),
    )
    return per.crossJoin(F.broadcast(tot)).select(
        F.concat(F.lit("s"), (F.col("sid") - 1).cast("string")).alias(
            "shard"
        ),
        "n_before",
        "n_after",
        "stayed",
        "moved_total",
        dround(
            F.col("moved_total").cast("double") / F.col("n_docs"), 6
        ).alias("moved_frac"),
    )


# ------------------------------------------ Horvitz-Thompson PPS audit
@register(
    "sample_horvitz_thompson_chars",
    oracle=f"""
    WITH base AS (
        SELECT doc_id, n_chars,
               CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12))
                    AS BIGINT) / 281474976710656.0 AS u
        FROM documents
    ),
    tot AS (
        SELECT CAST(SUM(n_chars) AS BIGINT) AS x,
               CAST(COUNT(*) AS BIGINT) AS n_docs
        FROM base
    ),
    marked AS (
        SELECT b.n_chars, t.x, t.n_docs,
               LEAST(1.0, 200.0 * b.n_chars / t.x) AS pi,
               b.u < LEAST(1.0, 200.0 * b.n_chars / t.x) AS sampled,
               200.0 * b.n_chars >= t.x AS certainty
        FROM base b CROSS JOIN tot t
    ),
    agg AS (
        SELECT MAX(x) AS x, MAX(n_docs) AS n_docs,
               CAST(COUNT(*) FILTER (WHERE sampled) AS BIGINT) AS n_sampled,
               CAST(COUNT(*) FILTER (WHERE sampled AND NOT certainty)
                    AS BIGINT) AS n_small,
               CAST(COALESCE(SUM(n_chars)
                    FILTER (WHERE sampled AND NOT certainty), 0)
                    AS BIGINT) AS sx_small,
               CAST(COALESCE(SUM(n_chars)
                    FILTER (WHERE sampled AND certainty), 0)
                    AS BIGINT) AS sx_big
        FROM marked
    )
    SELECT n_docs, n_sampled, x AS true_total,
           {dround_sql("n_small * (CAST(x AS DOUBLE) / 200.0) + sx_big", 2)}
               AS ht_total,
           {dround_sql(
               "100.0 * ((n_small * (CAST(x AS DOUBLE) / 200.0) + sx_big) - x)"
               " / x", 4)} AS rel_error_pct,
           {dround_sql(
               "sqrt((CAST(x AS DOUBLE) / 200.0) * (CAST(x AS DOUBLE) / 200.0)"
               " * (n_small - 200.0 * sx_small / x))", 2)} AS se_est
    FROM agg
    """,
    description="Horvitz-Thompson estimation under deterministic "
    "Poisson-PPS sampling (inclusion probability proportional to "
    "n_chars, expected sample ~200 docs, md5-hash uniforms so the "
    "'random' draw is reproducible across engines, runs, and "
    "partitionings): the design-unbiased answer to 'estimate corpus "
    "token mass from a size-biased sample'. The key identity is kept "
    "EXACT: under strict PPS every non-certainty sampled unit "
    "contributes x_i/pi_i = X/n0 — a constant — so the estimator "
    "collapses to integer counts times one ratio, plus certainty units "
    "verbatim; the HT variance estimator collapses the same way. One "
    "scan + one broadcast total; no per-row float accumulation to "
    "drift.",
)
def sample_horvitz_thompson_chars(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    u = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 12), 16, 10)
        .cast("bigint")
        .cast("double")
        / F.lit(281474976710656.0)
    )
    base = docs.select("doc_id", "n_chars", u.alias("u"))
    tot = base.agg(
        F.sum("n_chars").cast("bigint").alias("x"),
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
    )
    pi = F.least(F.lit(1.0), 200.0 * F.col("n_chars") / F.col("x"))
    marked = base.crossJoin(F.broadcast(tot)).select(
        "n_chars",
        "x",
        "n_docs",
        (F.col("u") < pi).alias("sampled"),
        (200.0 * F.col("n_chars") >= F.col("x")).alias("certainty"),
    )
    sm = F.col("sampled") & ~F.col("certainty")
    bg = F.col("sampled") & F.col("certainty")
    agg = marked.agg(
        F.max("x").alias("x"),
        F.max("n_docs").alias("n_docs"),
        F.sum(F.col("sampled").cast("int")).cast("bigint").alias("n_sampled"),
        F.sum(sm.cast("int")).cast("bigint").alias("n_small"),
        F.coalesce(F.sum(F.when(sm, F.col("n_chars"))), F.lit(0))
        .cast("bigint")
        .alias("sx_small"),
        F.coalesce(F.sum(F.when(bg, F.col("n_chars"))), F.lit(0))
        .cast("bigint")
        .alias("sx_big"),
    )
    ratio = F.col("x").cast("double") / 200.0
    ht = F.col("n_small") * ratio + F.col("sx_big")
    return agg.select(
        "n_docs",
        "n_sampled",
        F.col("x").alias("true_total"),
        dround(ht, 2).alias("ht_total"),
        dround(100.0 * (ht - F.col("x")) / F.col("x"), 4).alias(
            "rel_error_pct"
        ),
        dround(
            F.sqrt(
                ratio * ratio * (F.col("n_small") - 200.0 * F.col("sx_small") / F.col("x"))
            ),
            2,
        ).alias("se_est"),
    )


# ------------------------------------------ effective token yield table
@register(
    "pipeline_effective_token_yield",
    oracle="""
    WITH corpus AS (
        SELECT doc_id, text, source FROM documents
        UNION ALL
        SELECT doc_id + 1000000 AS doc_id, text, 'mirror' AS source
        FROM documents WHERE doc_id % 10 = 0
        UNION ALL
        SELECT doc_id + 2000000 AS doc_id,
               text || ' mirrored copy disclaimer' AS text,
               'mirror' AS source
        FROM documents WHERE doc_id % 12 = 0
    ),
    tok AS (
        SELECT doc_id, source, string_split(text, ' ') AS tl,
               md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'))
                   AS fp
        FROM corpus
    ),
    raw AS (
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS raw_docs,
               CAST(SUM(len(tl)) AS BIGINT) AS raw_tokens
        FROM tok GROUP BY source
    ),
    fpmin AS (SELECT fp, MIN(doc_id) AS keep_id FROM tok GROUP BY fp),
    kept AS (
        SELECT t.doc_id, t.source, t.tl FROM tok t
        JOIN fpmin m ON m.fp = t.fp AND m.keep_id = t.doc_id
    ),
    keptagg AS (
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS kept_docs,
               CAST(SUM(len(tl)) AS BIGINT) AS kept_tokens
        FROM kept GROUP BY source
    ),
    spans AS (
        SELECT doc_id, i,
               CAST(('0x' || substr(md5(array_to_string(tl[i:i+7], chr(31))), 1, 12)) AS BIGINT) AS h
        FROM kept, UNNEST(range(1, len(tl) - 7 + 1)) AS u(i)
        WHERE len(tl) >= 8
    ),
    duph AS (
        SELECT h, MIN(doc_id) AS min_doc FROM spans
        GROUP BY h HAVING COUNT(DISTINCT doc_id) >= 2
    ),
    rem AS (
        SELECT s.doc_id, s.i AS st, s.i + 7 AS en
        FROM spans s JOIN duph d ON d.h = s.h AND s.doc_id > d.min_doc
    ),
    brk AS (
        SELECT doc_id, st, en,
               CASE WHEN st > COALESCE(MAX(en) OVER (
                        PARTITION BY doc_id ORDER BY st
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                    ), -1000000000) + 1 THEN 1 ELSE 0 END AS new_isl
        FROM rem
    ),
    gid AS (
        SELECT doc_id, st, en,
               SUM(new_isl) OVER (
                   PARTITION BY doc_id ORDER BY st
                   ROWS UNBOUNDED PRECEDING
               ) AS island
        FROM brk
    ),
    islands AS (
        SELECT doc_id, island, MIN(st) AS ist, MAX(en) AS ien
        FROM gid GROUP BY doc_id, island
    ),
    remdoc AS (
        SELECT doc_id, CAST(SUM(ien - ist + 1) AS BIGINT) AS rm
        FROM islands GROUP BY doc_id
    ),
    remsrc AS (
        SELECT k.source, CAST(SUM(COALESCE(r.rm, 0)) AS BIGINT)
                   AS removable_span_tokens
        FROM kept k LEFT JOIN remdoc r ON r.doc_id = k.doc_id
        GROUP BY k.source
    )
    SELECT raw.source, raw.raw_docs, raw.raw_tokens,
           k.kept_docs, k.kept_tokens,
           s.removable_span_tokens,
           (k.kept_tokens - s.removable_span_tokens) AS effective_tokens,
           ROUND(CAST(k.kept_tokens - s.removable_span_tokens AS DOUBLE)
                 / raw.raw_tokens, 6) AS token_yield
    FROM raw
    JOIN keptagg k ON k.source = raw.source
    JOIN remsrc s ON s.source = raw.source
    ORDER BY raw.source
    """,
    description="Effective-token yield table — the corpus-planning "
    "summary a 100 TB training-data build is budgeted from: per source, "
    "raw doc/token mass, what survives exact dedup (fingerprint identity, "
    "keep-lowest-id), the keep-first ExactSubstr cut-list mass (merged "
    "duplicated-span tokens charged only to docs that are NOT the span's "
    "first owner, so one copy of every span survives — the same "
    "occurrence policy as Lee et al.'s deduplication), and the resulting "
    "effective tokens and yield ratio. The corpus plants two realistic "
    "mirror classes into a 'mirror' pseudo-source: exact copies (caught "
    "by fingerprint dedup) and suffix-wrapped copies (caught only by the "
    "span pass). Scale shape: fingerprint keep-first is one fp groupBy + "
    "one equi-join; the span stages are the dedup_span_merge_intervals "
    "machinery (hash groupBy + semi-join-with-owner + per-doc window); "
    "everything collapses to O(sources) rows before the final join.",
)
def pipeline_effective_token_yield(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = table(spark, sf_dir, "documents").select(
        "doc_id", "text", "source"
    )
    corpus = (
        docs.unionAll(
            docs.filter(F.col("doc_id") % 10 == 0).select(
                (F.col("doc_id") + 1_000_000).alias("doc_id"),
                "text",
                F.lit("mirror").alias("source"),
            )
        ).unionAll(
            docs.filter(F.col("doc_id") % 12 == 0).select(
                (F.col("doc_id") + 2_000_000).alias("doc_id"),
                F.concat(
                    F.col("text"), F.lit(" mirrored copy disclaimer")
                ).alias("text"),
                F.lit("mirror").alias("source"),
            )
        )
    )
    tok = corpus.select(
        "doc_id",
        "source",
        F.split("text", " ", -1).alias("tl"),
        TX.fingerprint(F.col("text")).alias("fp"),
    ).persist()
    raw = tok.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("raw_docs"),
        F.sum(F.size("tl")).cast("bigint").alias("raw_tokens"),
    )
    fpmin = tok.groupBy("fp").agg(F.min("doc_id").alias("keep_id")).select(
        F.col("fp").alias("k_fp"), "keep_id"
    )
    kept = tok.join(
        fpmin,
        (F.col("fp") == F.col("k_fp"))
        & (F.col("doc_id") == F.col("keep_id")),
        "left_semi",
    ).persist()
    keptagg = kept.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("kept_docs"),
        F.sum(F.size("tl")).cast("bigint").alias("kept_tokens"),
    )
    spans = kept.filter(F.size("tl") >= 8).select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, size(tl) - 7), "
                "i -> struct(i AS i, concat_ws(chr(31), slice(tl, i, 8)) "
                "AS span))"
            )
        ).alias("sp"),
    ).select(
        "doc_id",
        F.col("sp.i").alias("i"),
        D.token_hash48(F.col("sp.span")).alias("h"),
    )
    duph = (
        spans.groupBy("h")
        .agg(
            F.count_distinct("doc_id").alias("nd"),
            F.min("doc_id").alias("min_doc"),
        )
        .filter(F.col("nd") >= 2)
        .select("h", "min_doc")
    )
    rem = (
        spans.join(duph, "h")
        .filter(F.col("doc_id") > F.col("min_doc"))
        .select(
            "doc_id",
            F.col("i").alias("st"),
            (F.col("i") + F.lit(7)).alias("en"),
        )
    )
    w_prev = (
        Window.partitionBy("doc_id")
        .orderBy("st")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_run = (
        Window.partitionBy("doc_id")
        .orderBy("st")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    islands = (
        rem.withColumn(
            "new_isl",
            F.when(
                F.col("st")
                > F.coalesce(
                    F.max("en").over(w_prev), F.lit(-1_000_000_000)
                )
                + 1,
                1,
            ).otherwise(0),
        )
        .withColumn("island", F.sum("new_isl").over(w_run))
        .groupBy("doc_id", "island")
        .agg(F.min("st").alias("ist"), F.max("en").alias("ien"))
    )
    remdoc = islands.groupBy("doc_id").agg(
        F.sum(F.col("ien") - F.col("ist") + 1).cast("bigint").alias("rm")
    )
    remsrc = (
        kept.select("doc_id", "source")
        .join(remdoc, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.sum(F.coalesce("rm", F.lit(0)))
            .cast("bigint")
            .alias("removable_span_tokens")
        )
    )
    return (
        raw.join(keptagg, "source")
        .join(remsrc, "source")
        .select(
            "source",
            "raw_docs",
            "raw_tokens",
            "kept_docs",
            "kept_tokens",
            "removable_span_tokens",
            (F.col("kept_tokens") - F.col("removable_span_tokens")).alias(
                "effective_tokens"
            ),
            F.round(
                (
                    F.col("kept_tokens") - F.col("removable_span_tokens")
                ).cast("double")
                / F.col("raw_tokens"),
                6,
            ).alias("token_yield"),
        )
        .orderBy("source")
    )


# ------------------------------ consistent-hash ring with virtual nodes
_RING_SHARDS = 8
_RING_VNODES = 16


def _ring_table() -> list[tuple[int, int]]:
    """(position, shard) for every virtual node, sorted by position —
    computed once at plan time with the repo's portable md5-48bit hash
    (hashlib here == token_hash48 in either engine by construction)."""
    import hashlib

    pts = []
    for s in range(_RING_SHARDS):
        for v in range(_RING_VNODES):
            h = int(
                hashlib.md5(f"s{s}#v{v}".encode()).hexdigest()[:12], 16
            )
            pts.append((h, s))
    pts.sort()
    return pts


def _ring_arcs() -> dict[int, float]:
    """Exact ring-arc share owned by each shard (plan-time constant)."""
    pts = _ring_table()
    span = float(2**48)
    arcs: dict[int, float] = {s: 0.0 for s in range(_RING_SHARDS)}
    for i, (pos, _s) in enumerate(pts):
        nxt = pts[(i + 1) % len(pts)][0]
        arc = (nxt - pos) % (2**48)
        # the arc ABOVE a vnode belongs to the NEXT vnode clockwise
        arcs[pts[(i + 1) % len(pts)][1]] += arc / span
    return arcs


def _ring_oracle() -> str:
    pts = _ring_table()
    pos_lit = "[" + ", ".join(str(p) for p, _ in pts) + "]"
    sh_lit = "[" + ", ".join(str(s) for _, s in pts) + "]"
    arcs = _ring_arcs()
    arc_rows = ", ".join(
        f"({s}, {arcs[s]!r})" for s in range(_RING_SHARDS)
    )
    return f"""
    WITH docs AS (
        SELECT CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12))
                    AS BIGINT) AS h
        FROM documents
    ),
    assigned AS (
        SELECT CAST({sh_lit}[
                   list_position({pos_lit},
                       coalesce(list_min(list_filter({pos_lit},
                                                     p -> p >= h)),
                                list_min({pos_lit})))] AS BIGINT) AS shard
        FROM docs
    ),
    counts AS (
        SELECT shard, COUNT(*) AS n_docs FROM assigned GROUP BY shard
    ),
    arcs(shard, arc_frac) AS (VALUES {arc_rows}),
    tot AS (SELECT COUNT(*) AS n FROM docs)
    SELECT a.shard,
           CAST({_RING_VNODES} AS BIGINT) AS n_vnodes,
           ROUND(CAST(a.arc_frac AS DOUBLE), 6) AS arc_frac,
           COALESCE(c.n_docs, 0) AS n_docs,
           ROUND(CAST(COALESCE(c.n_docs, 0) AS DOUBLE) / t.n, 6)
               AS doc_share
    FROM arcs a
    LEFT JOIN counts c ON c.shard = a.shard
    CROSS JOIN tot t
    """


@register(
    "pipeline_shard_ring_balance",
    oracle=_ring_oracle(),
    description="Consistent-hash RING shard balance audit, the companion "
    "to pipeline_shard_assignment_rendezvous (the other consistent-"
    "hashing family): 8 shards x 16 virtual nodes placed on a 2^48 md5 "
    "ring at plan time; each document hashes once and binds to the "
    "first vnode clockwise (min position >= h, wrapping to the ring "
    "minimum). Per shard the audit lays the THEORETICAL arc share each "
    "shard owns (exact plan-time ring geometry) beside the REALIZED "
    "document share, which is how you validate a vnode count before "
    "resharding 100 TB: too few vnodes and arc variance makes hot "
    "shards (expected max/mean ~ 1 + sqrt(ln(S*V)/V)); doc assignment "
    "is one row-local generated expression over the broadcast-by-value "
    "128-entry sorted ring — no join, no shuffle before the 8-row "
    "rollup.",
)
def pipeline_shard_ring_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    pts = _ring_table()
    pos_lit = ", ".join(f"CAST({p} AS BIGINT)" for p, _ in pts)
    sh_lit = ", ".join(f"CAST({s} AS BIGINT)" for _, s in pts)
    docs = table(spark, sf_dir, "documents").select("doc_id")
    h = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 12), 16, 10)
        .cast("bigint")
        .alias("h")
    )
    assigned = docs.select(h).select(
        F.expr(
            f"element_at(array({sh_lit}), "
            f"CAST(array_position(array({pos_lit}), "
            f"coalesce(array_min(filter(array({pos_lit}), p -> p >= h)), "
            f"array_min(array({pos_lit})))) AS INT))"
        ).alias("shard")
    )
    counts = assigned.groupBy("shard").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs")
    )
    arcs = spark.createDataFrame(
        [(s, _RING_VNODES, a) for s, a in sorted(_ring_arcs().items())],
        "shard bigint, n_vnodes bigint, arc_frac double",
    )
    n_total = docs.count()
    return (
        arcs.join(counts, "shard", "left")
        .select(
            "shard",
            "n_vnodes",
            F.round("arc_frac", 6).alias("arc_frac"),
            F.coalesce("n_docs", F.lit(0)).alias("n_docs"),
            F.round(
                F.coalesce("n_docs", F.lit(0)).cast("double") / n_total, 6
            ).alias("doc_share"),
        )
    )


# -------------- LPT (longest-processing-time) shard balancing
_LPT_BINS = 4


@register(
    "pipeline_lpt_shard_balance",
    oracle=f"""
    WITH RECURSIVE grp AS (
        SELECT lang, source, CAST(SUM(n_chars) AS BIGINT) AS sz
        FROM documents GROUP BY lang, source
    ),
    ranked AS (
        SELECT lang, source, sz,
               ROW_NUMBER() OVER (ORDER BY sz DESC, lang, source) AS rn
        FROM grp
    ),
    lpt AS (
        SELECT CAST(0 AS BIGINT) AS rn,
               CAST([0, 0, 0, 0] AS BIGINT[]) AS loads,
               CAST([] AS INTEGER[]) AS bins
        UNION ALL
        SELECT r.rn,
               list_transform(range(1, {_LPT_BINS} + 1),
                   i -> l.loads[i] + CASE WHEN i = list_indexof(l.loads,
                        list_min(l.loads)) THEN r.sz ELSE 0 END),
               list_append(l.bins,
                   CAST(list_indexof(l.loads, list_min(l.loads)) AS INTEGER))
        FROM lpt l JOIN ranked r ON r.rn = l.rn + 1
    ),
    final AS (
        SELECT bins, loads FROM lpt
        WHERE rn = (SELECT MAX(rn) FROM ranked)
    ),
    assign AS (
        SELECT UNNEST(bins) AS bin, generate_subscripts(bins, 1) AS rn
        FROM final
    ),
    tot AS (SELECT CAST(SUM(sz) AS BIGINT) AS total FROM grp)
    SELECT a.bin,
           CAST(COUNT(*) AS BIGINT) AS n_groups,
           CAST(SUM(r.sz) AS BIGINT) AS bin_chars,
           {dround_sql(
               "CAST(MAX(list_max(f.loads)) AS DOUBLE) "
               f"/ (MAX(t.total) / CAST({_LPT_BINS} AS DOUBLE))", 4)}
               AS makespan_ratio
    FROM assign a
    JOIN ranked r ON r.rn = a.rn, final f, tot t
    GROUP BY a.bin ORDER BY a.bin
    """,
    description="LPT (longest-processing-time-first, Graham 1969) shard "
    "balancing of the corpus into 4 equal-work shards: (lang, source) "
    "group sizes sort descending and each goes to the currently "
    "lightest shard (first-index tiebreak) — the classic 4/3-OPT "
    "greedy for makespan, here applied to training-shard planning "
    "where the unit of assignment is a GROUP (bounded grain: languages "
    "x sources, not documents — the groupBy is the only data-scale "
    "pass at 100 TB, and the greedy folds over the bounded group table "
    "as one F.aggregate). Everything is exact integers (char counts, "
    "loads, argmin with deterministic first-min tiebreak mirrored by "
    "list_indexof/array_position), so both engines walk the identical "
    "assignment sequence; makespan_ratio = max shard load over the "
    "perfect-balance load reports how close LPT got to 1.0. "
    "Complements the hash-based shard planners "
    "(pipeline_shard_assignment_rendezvous, pipeline_shard_ring_"
    "balance): hashing balances in expectation, LPT balances the "
    "measured sizes.",
)
def pipeline_lpt_shard_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    grp = docs.groupBy("lang", "source").agg(
        F.sum("n_chars").cast("bigint").alias("sz")
    )
    ranked = grp.select(
        "lang",
        "source",
        "sz",
        F.row_number()
        .over(Window.orderBy(F.col("sz").desc(), "lang", "source"))
        .alias("rn"),
    )
    arr = ranked.agg(
        F.sort_array(F.collect_list(F.struct("rn", "sz"))).alias("s")
    )

    def step(acc, x):
        b = F.array_position(acc["loads"], F.array_min(acc["loads"]))
        new_loads = F.transform(
            F.sequence(F.lit(1), F.lit(_LPT_BINS)),
            lambda i: F.element_at(acc["loads"], i)
            + F.when(i == b, x["sz"]).otherwise(F.lit(0).cast("bigint")),
        )
        return F.struct(
            new_loads.alias("loads"),
            F.concat(acc["bins"], F.array(b.cast("int"))).alias("bins"),
        )

    init = F.struct(
        F.array(
            *[F.lit(0).cast("bigint") for _ in range(_LPT_BINS)]
        ).alias("loads"),
        F.array().cast("array<int>").alias("bins"),
    )
    folded = arr.select(
        "s", F.aggregate(F.col("s"), init, step).alias("acc")
    )
    assign = folded.select(
        F.array_max(F.col("acc")["loads"]).alias("max_load"),
        F.posexplode(
            F.arrays_zip(F.col("s"), F.col("acc")["bins"])
        ).alias("i", "z"),
    ).select(
        "max_load",
        F.col("z")["s"]["sz"].alias("sz"),
        F.col("z")["bins"].alias("bin"),
    )
    tot = grp.agg(F.sum("sz").cast("bigint").alias("total"))
    return (
        assign.crossJoin(F.broadcast(tot))
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_groups"),
            F.sum("sz").cast("bigint").alias("bin_chars"),
            dround(
                F.max("max_load").cast("double")
                / (F.max("total") / float(_LPT_BINS)),
                4,
            ).alias("makespan_ratio"),
        )
        .orderBy("bin")
    )


# ------------- deterministic weighted source interleave (mixing schedule)
@register(
    "pipeline_mixture_interleave_order",
    oracle="""
    WITH keyed AS (
        SELECT doc_id, lang,
               CAST((2 * ROW_NUMBER() OVER (
                        PARTITION BY lang ORDER BY doc_id) - 1)
                    * (CASE lang WHEN 'en' THEN 2
                                 WHEN 'zh' THEN 5
                                 ELSE 10 END) AS BIGINT) AS k
        FROM documents
    ),
    pref AS (
        SELECT * FROM keyed ORDER BY k, lang, doc_id LIMIT 100
    )
    SELECT CAST(ROW_NUMBER() OVER (ORDER BY k, lang, doc_id) AS BIGINT)
               AS ordinal,
           doc_id, lang, k,
           CAST(COUNT(*) OVER (PARTITION BY lang ORDER BY k, doc_id
               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS n_lang_so_far
    FROM pref
    ORDER BY ordinal
    """,
    description="Deterministic weighted interleave of language sub-corpora "
    "into one training-stream order — the materialized form of the "
    "mixing schedule a data loader would otherwise improvise at read "
    "time (target rates en 50%, zh 20%, es/de/fr 10% each). Pure "
    "integer stride scheduling: the i-th document of a language with "
    "integer stride s (s = 10 / weight_decile: en 2, zh 5, rest 10) "
    "gets key (2i-1)*s, so sorting by key emits languages at their "
    "target rates with NO float arithmetic, no RNG, and byte-identical "
    "order on every engine (ties across languages at common multiples "
    "break by lang, doc_id). Every prefix of the stream holds the "
    "mixture property — which is the point: training can stop at any "
    "token budget and have consumed the declared mix. The per-language "
    "row number partitions by lang (at 1e9+ docs per language the "
    "partition-offset scheme of pipeline_global_row_index replaces it, "
    "same note as er_sorted_neighborhood_pairs); the first-100 prefix "
    "is TakeOrdered (per-partition top-k + merge, never a global "
    "sort), and the ordinal/running-count windows run over the "
    "100-row post-limit prefix only.",
)
def pipeline_mixture_interleave_order(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = table(spark, sf_dir, "documents").select("doc_id", "lang")
    wsrc = Window.partitionBy("lang").orderBy("doc_id")
    stride = (
        F.when(F.col("lang") == "en", 2)
        .when(F.col("lang") == "zh", 5)
        .otherwise(10)
    )
    keyed = docs.select(
        "doc_id",
        "lang",
        ((2 * F.row_number().over(wsrc) - 1) * stride)
        .cast("bigint")
        .alias("k"),
    )
    pref = keyed.orderBy("k", "lang", "doc_id").limit(100)
    word = Window.orderBy("k", "lang", "doc_id")
    wlang = (
        Window.partitionBy("lang")
        .orderBy("k", "doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        pref.select(
            F.row_number().over(word).cast("bigint").alias("ordinal"),
            "doc_id",
            "lang",
            "k",
            F.count(F.lit(1)).over(wlang).cast("bigint")
            .alias("n_lang_so_far"),
        )
        .orderBy("ordinal")
    )


# --------------- group-aware k-fold assignment, leakage quantified
@register(
    "sample_kfold_leakage_audit",
    oracle=f"""
    WITH {_DOCS_DUPS_SQL.format(mod=10).strip()},
    keyed AS (
        SELECT doc_id, md5(text) AS ck FROM docs
    ),
    cl AS (
        SELECT ck, CAST(MIN(doc_id) AS BIGINT) AS cluster_id,
               CAST(COUNT(*) AS BIGINT) AS csize
        FROM keyed GROUP BY ck
    ),
    folded AS (
        SELECT k.doc_id, c.cluster_id, c.csize,
               {_H48.format(c="CAST(k.doc_id AS VARCHAR)")} % 5
                   AS f_naive,
               {_H48.format(c="CAST(c.cluster_id AS VARCHAR)")} % 5
                   AS f_grouped
        FROM keyed k JOIN cl c USING (ck)
    ),
    per_cluster AS (
        SELECT cluster_id, MAX(csize) AS csize,
               COUNT(DISTINCT f_naive) AS nf_naive,
               COUNT(DISTINCT f_grouped) AS nf_grouped
        FROM folded GROUP BY cluster_id
    ),
    m AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_clusters,
               CAST(SUM(CASE WHEN csize >= 2 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_multi,
               CAST(SUM(CASE WHEN csize >= 2 AND nf_naive > 1
                    THEN 1 ELSE 0 END) AS BIGINT) AS leaky_naive,
               CAST(SUM(CASE WHEN csize >= 2 AND nf_grouped > 1
                    THEN 1 ELSE 0 END) AS BIGINT) AS leaky_grouped
        FROM per_cluster
    ),
    nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM keyed)
    SELECT 'naive' AS scheme, nd.n_docs, m.n_multi AS n_multi_clusters,
           m.leaky_naive AS n_leaky_clusters,
           {dround_sql(
               "CAST(m.leaky_naive AS DOUBLE) / m.n_multi", 6)}
               AS leak_rate
    FROM m, nd
    UNION ALL
    SELECT 'grouped', nd.n_docs, m.n_multi, m.leaky_grouped,
           {dround_sql(
               "CAST(m.leaky_grouped AS DOUBLE) / m.n_multi", 6)}
    FROM m, nd
    ORDER BY scheme
    """,
    description="Group-aware k-fold assignment with QUANTIFIED leakage "
    "— the cross-validation form of sample_leakage_free_split's "
    "train/test discipline: hashing each DOCUMENT into one of 5 folds "
    "(the naive scheme every tutorial ships) splits exact-duplicate "
    "clusters across folds, so a model validates on copies of its own "
    "training rows; hashing the CLUSTER id instead keeps every "
    "duplicate group within one fold by construction. Both schemes "
    "run over the seeded-dup corpus (mod-10 exact copies guarantee "
    "multi-doc clusters) and the audit reports leaky clusters per "
    "scheme — grouped is structurally 0 (pinned in tests), naive "
    "leaks ~1 - 5^(1-size) of multi-clusters in expectation. Plan: "
    "one md5 groupBy builds clusters, one join assigns both fold "
    "hashes in the same pass, one cluster-grain aggregate counts "
    "distinct folds — at 100 TB the cluster table is the dedup "
    "family's connected-components output and the fold hash rides "
    "the existing cluster join; no extra shuffle beyond the dedup "
    "pipeline itself.",
)
def sample_kfold_leakage_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from healthcare_data_lakehouse_spark.functions.dedup import (
        token_hash48,
    )
    from healthcare_data_lakehouse_spark.queries.llm_shared import (
        _docs_with_dups,
    )

    docs = _docs_with_dups(spark, sf_dir, 10)
    keyed = docs.select("doc_id", F.md5("text").alias("ck"))
    cl = keyed.groupBy("ck").agg(
        F.min("doc_id").cast("bigint").alias("cluster_id"),
        F.count(F.lit(1)).cast("bigint").alias("csize"),
    )
    folded = keyed.join(cl, "ck").select(
        "doc_id",
        "cluster_id",
        "csize",
        (token_hash48(F.col("doc_id").cast("string")) % 5)
        .alias("f_naive"),
        (token_hash48(F.col("cluster_id").cast("string")) % 5)
        .alias("f_grouped"),
    )
    per_cluster = folded.groupBy("cluster_id").agg(
        F.max("csize").alias("csize"),
        F.countDistinct("f_naive").alias("nf_naive"),
        F.countDistinct("f_grouped").alias("nf_grouped"),
    )
    m = per_cluster.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_clusters"),
        F.sum(F.when(F.col("csize") >= 2, 1).otherwise(0))
        .cast("bigint")
        .alias("n_multi"),
        F.sum(
            F.when((F.col("csize") >= 2) & (F.col("nf_naive") > 1), 1)
            .otherwise(0)
        )
        .cast("bigint")
        .alias("leaky_naive"),
        F.sum(
            F.when(
                (F.col("csize") >= 2) & (F.col("nf_grouped") > 1), 1
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("leaky_grouped"),
    )
    nd = keyed.agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    base = m.crossJoin(F.broadcast(nd))
    naive = base.select(
        F.lit("naive").alias("scheme"),
        "n_docs",
        F.col("n_multi").alias("n_multi_clusters"),
        F.col("leaky_naive").alias("n_leaky_clusters"),
        dround(
            F.col("leaky_naive").cast("double") / F.col("n_multi"), 6
        ).alias("leak_rate"),
    )
    grouped = base.select(
        F.lit("grouped").alias("scheme"),
        "n_docs",
        F.col("n_multi").alias("n_multi_clusters"),
        F.col("leaky_grouped").alias("n_leaky_clusters"),
        dround(
            F.col("leaky_grouped").cast("double") / F.col("n_multi"), 6
        ).alias("leak_rate"),
    )
    return naive.unionAll(grouped).orderBy("scheme")


# ----------- k-anonymization generalization-ladder search (one pass)
_KGEN_KEY = """
    CASE
      WHEN lv.l = 0 THEN c_nationkey || '|' || c_mktsegment || '|'
           || CAST(floor(c_acctbal / 500.0) AS BIGINT)
      WHEN lv.l = 1 THEN c_nationkey || '|' || c_mktsegment || '|'
           || CAST(floor(c_acctbal / 1000.0) AS BIGINT)
      WHEN lv.l = 2 THEN c_nationkey || '|' || c_mktsegment || '|'
           || CAST(floor(c_acctbal / 2000.0) AS BIGINT)
      WHEN lv.l = 3 THEN c_nationkey || '|' || c_mktsegment || '|'
           || CAST(floor(c_acctbal / 5000.0) AS BIGINT)
      WHEN lv.l = 4 THEN c_nationkey || '|' || c_mktsegment
      ELSE CAST(c_nationkey AS VARCHAR)
    END
"""


@register(
    "privacy_k_generalization_search",
    oracle=f"""
    WITH lev AS (
        SELECT CAST(lv.l AS BIGINT) AS level,
               {_KGEN_KEY} AS qi_key
        FROM customer, (SELECT UNNEST(range(0, 6)) AS l) lv
    ),
    cls AS (
        SELECT level, qi_key, CAST(COUNT(*) AS BIGINT) AS grp_n
        FROM lev GROUP BY 1, 2
    ),
    per AS (
        SELECT level,
               CAST(COUNT(*) AS BIGINT) AS n_classes,
               CAST(MIN(grp_n) AS BIGINT) AS min_class_size,
               CAST(SUM(grp_n) AS BIGINT) AS n_rows,
               CAST(SUM(CASE WHEN grp_n < 5 THEN grp_n ELSE 0 END)
                    AS BIGINT) AS at_risk_rows
        FROM cls GROUP BY level
    ),
    ch AS (
        SELECT CAST(MIN(level) AS BIGINT) AS chosen_level
        FROM per WHERE min_class_size >= 5
    )
    SELECT p.level, p.n_classes, p.min_class_size,
           {dround_sql(
               "CAST(p.at_risk_rows AS DOUBLE) / p.n_rows", 6)}
               AS at_risk_share,
           p.level = ch.chosen_level AS chosen
    FROM per p, ch
    ORDER BY p.level
    """,
    description="k-anonymization GENERALIZATION SEARCH (the decision "
    "step privacy_k_anonymity_audit's measurement feeds): walk a "
    "6-level generalization ladder over the QI tuple — account-balance "
    "bands widening 500 -> 1000 -> 2000 -> 5000, then full suppression "
    "of balance, then of segment — and pick the LEAST generalized "
    "level whose smallest equivalence class reaches k=5 (minimal "
    "information loss satisfying the release gate, the lattice-search "
    "core of Samarati 2001 / Incognito on a monotone ladder: k-"
    "anonymity only improves up the ladder, so the first satisfying "
    "level is optimal). All 6 levels are evaluated in ONE pass: the "
    "level spine explodes each row 6x into (level, qi_key) and a "
    "single groupBy prices every ladder rung — at 100 TB use "
    "GROUPING SETS to share the scan without the 6x exchange, same "
    "plan downstream. Counts are exact integers; the only float op "
    "is the at-risk share.",
)
def privacy_k_generalization_search(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    cust = table(spark, sf_dir, "customer").select(
        "c_nationkey", "c_mktsegment", "c_acctbal"
    )
    lv = spark.range(0, 6).select(F.col("id").cast("bigint").alias("level"))
    sep = F.lit("|")
    band = lambda w: F.floor(F.col("c_acctbal") / w).cast("bigint")  # noqa: E731
    full3 = lambda w: F.concat(  # noqa: E731
        F.col("c_nationkey").cast("string"), sep,
        F.col("c_mktsegment"), sep, band(w).cast("string"),
    )
    key = (
        F.when(F.col("level") == 0, full3(500.0))
        .when(F.col("level") == 1, full3(1000.0))
        .when(F.col("level") == 2, full3(2000.0))
        .when(F.col("level") == 3, full3(5000.0))
        .when(
            F.col("level") == 4,
            F.concat(
                F.col("c_nationkey").cast("string"), sep,
                F.col("c_mktsegment"),
            ),
        )
        .otherwise(F.col("c_nationkey").cast("string"))
    )
    lev = cust.crossJoin(F.broadcast(lv)).select("level", key.alias("qi_key"))
    cls = lev.groupBy("level", "qi_key").agg(
        F.count(F.lit(1)).cast("bigint").alias("grp_n")
    )
    per = cls.groupBy("level").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_classes"),
        F.min("grp_n").cast("bigint").alias("min_class_size"),
        F.sum("grp_n").cast("bigint").alias("n_rows"),
        F.sum(F.when(F.col("grp_n") < 5, F.col("grp_n")).otherwise(0))
        .cast("bigint")
        .alias("at_risk_rows"),
    )
    ch = per.filter(F.col("min_class_size") >= 5).agg(
        F.min("level").cast("bigint").alias("chosen_level")
    )
    return (
        per.crossJoin(F.broadcast(ch))
        .select(
            "level",
            "n_classes",
            "min_class_size",
            dround(
                F.col("at_risk_rows").cast("double") / F.col("n_rows"), 6
            ).alias("at_risk_share"),
            (F.col("level") == F.col("chosen_level")).alias("chosen"),
        )
        .orderBy("level")
    )
