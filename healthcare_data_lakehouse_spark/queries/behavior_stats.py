"""Statistical-analysis query family."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from healthcare_data_lakehouse_spark.functions import dround, dround_sql
from healthcare_data_lakehouse_spark.queries.catalog import register
from healthcare_data_lakehouse_spark.tables import table



# ------------------------------------------------- vector column statistics
@register(
    "embedding_dim_stats",
    oracle="""
    SELECT dim, ROUND(AVG(x), 4) AS mean_x,
           ROUND(STDDEV_SAMP(x), 4) AS std_x,
           ROUND(MIN(x), 4) AS min_x, ROUND(MAX(x), 4) AS max_x,
           COUNT(*) AS n
    FROM (
      SELECT generate_subscripts(embedding, 1) - 1 AS dim,
             CAST(UNNEST(embedding) AS DOUBLE) AS x
      FROM embeddings
    )
    GROUP BY dim
    """,
    description="Per-dimension feature statistics over the embedding "
    "column (posexplode -> hash agg with map-side partials; the natural "
    "normalization/whitening precursor). At 100 TB this is the one-pass "
    "column-stats job — no collect, no transpose.",
)
def embedding_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    x = emb.select(F.posexplode("embedding").alias("dim", "xf")).select(
        "dim", F.col("xf").cast("double").alias("x")
    )
    return x.groupBy("dim").agg(
        F.round(F.avg("x"), 4).alias("mean_x"),
        F.round(F.stddev_samp("x"), 4).alias("std_x"),
        F.round(F.min("x"), 4).alias("min_x"),
        F.round(F.max("x"), 4).alias("max_x"),
        F.count(F.lit(1)).alias("n"),
    )


# ------------------------------------------- per-group top-k over explode
@register(
    "text_top_tokens_per_lang",
    oracle="""
    WITH toks AS (
      SELECT lang, UNNEST(string_split(text, ' ')) AS token FROM documents
    ),
    counts AS (
      SELECT lang, token, COUNT(*) AS cnt FROM toks
      WHERE token <> '' GROUP BY lang, token
    )
    SELECT lang, token, cnt, rnk FROM (
      SELECT lang, token, cnt,
             ROW_NUMBER() OVER (PARTITION BY lang
                                ORDER BY cnt DESC, token) AS rnk
      FROM counts
    ) WHERE rnk <= 5
    """,
    description="Top-5 tokens per language: heavy explode -> two-level "
    "agg (map-side partial on (lang, token)) -> per-group top-k via "
    "row_number over the group partition. The rank window shuffles only "
    "the (lang, token, cnt) aggregate, never raw tokens.",
)
def text_top_tokens_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    toks = docs.select(
        "lang", F.explode(F.split("text", " ")).alias("token")
    ).filter(F.col("token") != "")
    counts = toks.groupBy("lang", "token").agg(F.count(F.lit(1)).alias("cnt"))
    w = Window.partitionBy("lang").orderBy(F.desc("cnt"), F.asc("token"))
    return counts.withColumn("rnk", F.row_number().over(w)).filter(
        F.col("rnk") <= 5
    )


# ------------------------------------------------------ stratified sample
@register(
    "sample_stratified_by_segment",
    oracle="""
    SELECT c.c_mktsegment AS mktsegment,
           COUNT(*) AS n_total,
           COUNT(*) FILTER (
             substr(md5(CAST(o.o_orderkey AS VARCHAR)), 1, 2) <
             CASE c.c_mktsegment WHEN 'BUILDING' THEN '33'
                                 WHEN 'AUTOMOBILE' THEN '1a'
                                 ELSE '0d' END
           ) AS n_sampled
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY 1
    """,
    description="Stratified content-hash sampling: per-stratum rates "
    "(BUILDING ~20%, AUTOMOBILE ~10%, rest ~5%) via md5-prefix "
    "thresholds. Reproducible across engines/runs/cluster sizes — unlike "
    "sampleBy's seeded Bernoulli — so a downsampled training corpus can "
    "be audited or regenerated exactly at 100 TB.",
)
def sample_stratified_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders")
    customer = table(spark, sf_dir, "customer")
    h = F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 2)
    thr = (
        F.when(F.col("c_mktsegment") == "BUILDING", "33")
        .when(F.col("c_mktsegment") == "AUTOMOBILE", "1a")
        .otherwise("0d")
    )
    return (
        orders.join(customer, orders.o_custkey == customer.c_custkey)
        .groupBy(F.col("c_mktsegment").alias("mktsegment"))
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.count_if(h < thr).alias("n_sampled"),
        )
    )


# ----------------------------------------------------- iterative k-means
_KMEANS_ORACLE = """
WITH pts AS (
  SELECT vec_id, generate_subscripts(embedding, 1) AS i,
         CAST(UNNEST(embedding) AS DOUBLE) AS x
  FROM embeddings
),
cent0 AS (SELECT vec_id AS c, i, x FROM pts WHERE vec_id < 4),
d0 AS (
  SELECT p.vec_id, c.c, SUM((p.x - c.x) * (p.x - c.x)) AS d
  FROM pts p JOIN cent0 c ON p.i = c.i GROUP BY 1, 2
),
a0 AS (
  SELECT vec_id, c, d FROM (
    SELECT vec_id, c, d,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, c) AS rn
    FROM d0
  ) WHERE rn = 1
),
cent1 AS (
  SELECT a0.c, p.i, AVG(p.x) AS x
  FROM pts p JOIN a0 ON p.vec_id = a0.vec_id GROUP BY a0.c, p.i
),
d1 AS (
  SELECT p.vec_id, c.c, SUM((p.x - c.x) * (p.x - c.x)) AS d
  FROM pts p JOIN cent1 c ON p.i = c.i GROUP BY 1, 2
),
a1 AS (
  SELECT vec_id, c, d FROM (
    SELECT vec_id, c, d,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, c) AS rn
    FROM d1
  ) WHERE rn = 1
)
SELECT c AS cluster_id, COUNT(*) AS n_points,
       ROUND(SUM(d), 2) AS inertia
FROM a1 GROUP BY c
"""


@register(
    "kmeans_embeddings_lloyd",
    oracle=_KMEANS_ORACLE,
    description="Two Lloyd iterations of k-means (k=4) over the embedding "
    "column, centroids seeded from vec_id 0..3 for determinism. Each "
    "iteration is assign (distance join + per-point argmin) then update "
    "(per-cluster/dim mean) — the distributed iterative-ML pattern "
    "without MLlib. The oracle unrolls both iterations as CTEs, proving "
    "the DataFrame loop computes exactly the relational fixpoint step.",
)
def kmeans_embeddings_lloyd(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    pts = emb.select(
        "vec_id", F.posexplode("embedding").alias("i", "xf")
    ).select("vec_id", (F.col("i") + 1).alias("i"), F.col("xf").cast("double").alias("x"))
    # deterministic seed: the first k points ARE the initial centroids
    cent = pts.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("c"), "i", "x"
    )
    assign = None
    for _ in range(2):  # assign -> update, twice (second update unused)
        diff = F.col("p.x") - F.col("c.x")
        d = (
            pts.alias("p")
            .join(F.broadcast(cent.alias("c")), F.col("p.i") == F.col("c.i"))
            .groupBy(F.col("p.vec_id").alias("vec_id"), F.col("c.c").alias("c"))
            .agg(F.sum(diff * diff).alias("d"))
        )
        w = Window.partitionBy("vec_id").orderBy("d", "c")
        assign = (
            d.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .drop("rn")
        )
        cent = (
            pts.join(assign.select("vec_id", "c"), "vec_id")
            .groupBy("c", "i")
            .agg(F.avg("x").alias("x"))
        )
    return assign.groupBy(F.col("c").alias("cluster_id")).agg(
        F.count(F.lit(1)).alias("n_points"),
        F.round(F.sum("d"), 2).alias("inertia"),
    )


# ----------------------------------------------- statistical aggregates
@register(
    "stats_price_quantity_regression",
    oracle="""
    SELECT l_returnflag,
           ROUND(CORR(l_extendedprice, l_quantity), 6) AS price_qty_corr,
           ROUND(COVAR_SAMP(l_extendedprice, l_quantity), 4) AS price_qty_covar,
           ROUND(REGR_SLOPE(l_extendedprice, l_quantity), 4) AS slope,
           ROUND(REGR_INTERCEPT(l_extendedprice, l_quantity), 4) AS intercept,
           COUNT(*) AS n
    FROM lineitem
    GROUP BY l_returnflag
    """,
    description="Distributed bivariate statistics (corr / covar / OLS "
    "slope+intercept) per group in ONE aggregate pass — the regr_* "
    "family keeps running moments, so a 100 TB fit is a map-side-"
    "combinable agg, not an iterative solver.",
)
def stats_price_quantity_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    y, x = F.col("l_extendedprice"), F.col("l_quantity")
    return li.groupBy("l_returnflag").agg(
        F.round(F.corr(y, x), 6).alias("price_qty_corr"),
        F.round(F.covar_samp(y, x), 4).alias("price_qty_covar"),
        F.round(F.regr_slope(y, x), 4).alias("slope"),
        F.round(F.regr_intercept(y, x), 4).alias("intercept"),
        F.count(F.lit(1)).alias("n"),
    )


# --------------------------------------------------------- Zipf fit
@register(
    "text_zipf_slope",
    oracle="""
    WITH freq AS (
      SELECT token, COUNT(*) AS cnt FROM (
        SELECT UNNEST(string_split(text, ' ')) AS token FROM documents
      ) WHERE token <> '' GROUP BY token
    ),
    ranked AS (
      SELECT cnt,
             ROW_NUMBER() OVER (ORDER BY cnt DESC, token) AS rnk
      FROM freq
    )
    SELECT COUNT(*) AS n_tokens,
           ROUND(REGR_SLOPE(LN(cnt), LN(rnk)), 4) AS zipf_slope,
           ROUND(REGR_INTERCEPT(LN(cnt), LN(rnk)), 4) AS zipf_intercept,
           MAX(cnt) AS top_freq
    FROM ranked
    """,
    description="Zipf's-law fit over the corpus: token frequencies -> "
    "rank (total-order tiebreak) -> OLS of ln(freq) on ln(rank). A "
    "natural-corpus health check for training data (slope near -1 "
    "expected; synthetic fixtures deviate). Rank window runs over the "
    "token-vocabulary aggregate, not raw tokens.",
)
def text_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    freq = (
        docs.select(F.explode(F.split("text", " ")).alias("token"))
        .filter(F.col("token") != "")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = Window.orderBy(F.desc("cnt"), F.asc("token"))
    ranked = freq.withColumn("rnk", F.row_number().over(w))
    return ranked.agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.round(F.regr_slope(F.log("cnt"), F.log("rnk")), 4).alias("zipf_slope"),
        F.round(F.regr_intercept(F.log("cnt"), F.log("rnk")), 4).alias(
            "zipf_intercept"
        ),
        F.max("cnt").alias("top_freq"),
    )


# ---------------------------------------------------- jackknife CI
@register(
    "stats_jackknife_mean_ci",
    oracle="""
    WITH folds AS (
        SELECT c.c_mktsegment AS segment,
               CAST(('0x' || substr(md5(CAST(o.o_orderkey AS VARCHAR)), 1, 12)) AS BIGINT) % 10 AS fold,
               SUM(o.o_totalprice) AS s, COUNT(*) AS c
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
        GROUP BY c.c_mktsegment, fold
    ),
    tot AS (
        SELECT segment, SUM(s) AS ts, SUM(c) AS tc
        FROM folds GROUP BY segment
    ),
    loo AS (
        SELECT f.segment,
               (t.ts - f.s) / (t.tc - f.c) AS m_i,
               t.ts / t.tc AS m, t.tc AS n
        FROM folds f JOIN tot t ON t.segment = f.segment
    )
    SELECT segment, CAST(MAX(n) AS BIGINT) AS n_orders,
           ROUND(MAX(m), 4) AS mean_totalprice,
           ROUND(sqrt(9.0 / 10.0 * SUM((m_i - m) * (m_i - m))), 4) AS jackknife_se
    FROM loo GROUP BY segment
    """,
    description="Delete-a-group jackknife standard error of the mean "
    "order value per segment: 10 deterministic md5 folds, leave-one-"
    "fold-out means reconstructed from per-(segment,fold) sums — ONE "
    "pass over the fact table, then arithmetic on the 5x10-row "
    "aggregate. The textbook alternative (bootstrap resampling the raw "
    "rows B times) rescans the 100 TB table B times; fold-sum jackknife "
    "gets a defensible CI from a single map-side-combined aggregation.",
)
def stats_jackknife_mean_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders")
    cust = table(spark, sf_dir, "customer")
    fold = (
        F.conv(F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 12), 16, 10)
        .cast("bigint")
        % 10
    )
    folds = (
        orders.join(F.broadcast(cust), cust.c_custkey == orders.o_custkey)
        .groupBy(F.col("c_mktsegment").alias("segment"), fold.alias("fold"))
        .agg(F.sum("o_totalprice").alias("s"), F.count(F.lit(1)).alias("c"))
    )
    tot = folds.groupBy("segment").agg(
        F.sum("s").alias("ts"), F.sum("c").alias("tc")
    )
    loo = folds.join(tot, "segment").select(
        "segment",
        ((F.col("ts") - F.col("s")) / (F.col("tc") - F.col("c"))).alias("m_i"),
        (F.col("ts") / F.col("tc")).alias("m"),
        F.col("tc").alias("n"),
    )
    return loo.groupBy("segment").agg(
        F.max("n").cast("bigint").alias("n_orders"),
        F.round(F.max("m"), 4).alias("mean_totalprice"),
        F.round(
            F.sqrt(9.0 / 10.0 * F.sum((F.col("m_i") - F.col("m")) * (F.col("m_i") - F.col("m")))),
            4,
        ).alias("jackknife_se"),
    )


# ------------------------------------------------ winsorized stats
@register(
    "stats_winsorized_mean_by_segment",
    oracle="""
    WITH cuts AS (
        SELECT c.c_mktsegment AS segment,
               quantile_cont(o.o_totalprice, 0.05) AS p05,
               quantile_cont(o.o_totalprice, 0.95) AS p95
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
        GROUP BY c.c_mktsegment
    )
    SELECT c.c_mktsegment AS segment,
           COUNT(*) AS n_orders,
           ROUND(AVG(o.o_totalprice), 4) AS raw_mean,
           ROUND(AVG(LEAST(GREATEST(o.o_totalprice, cuts.p05), cuts.p95)), 4)
               AS winsorized_mean
    FROM orders o
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN cuts ON cuts.segment = c.c_mktsegment
    GROUP BY c.c_mktsegment
    """,
    description="Per-segment winsorized mean (outliers clamped to the "
    "exact p05/p95 before averaging): the robust-statistics primitive "
    "for corrupted numeric feeds. Two passes sharing one shuffle key — "
    "percentile cuts per segment (5 rows) broadcast back onto the "
    "fact scan for the clamp+mean. At larger SFs swap the exact "
    "percentile for approx_percentile and the plan shape is unchanged.",
)
def stats_winsorized_mean_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders")
    cust = table(spark, sf_dir, "customer")
    joined = orders.join(
        F.broadcast(cust), cust.c_custkey == orders.o_custkey
    ).select(F.col("c_mktsegment").alias("segment"), "o_totalprice")
    cuts = joined.groupBy("segment").agg(
        F.expr("percentile(o_totalprice, 0.05)").alias("p05"),
        F.expr("percentile(o_totalprice, 0.95)").alias("p95"),
    )
    return (
        joined.join(F.broadcast(cuts), "segment")
        .groupBy("segment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.avg("o_totalprice"), 4).alias("raw_mean"),
            F.round(
                F.avg(
                    F.least(F.greatest(F.col("o_totalprice"), F.col("p05")), F.col("p95"))
                ),
                4,
            ).alias("winsorized_mean"),
        )
    )


# ------------------------------------------------- robust outliers
@register(
    "stats_mad_outliers_by_segment",
    oracle="""
    WITH j AS (
        SELECT c.c_mktsegment AS segment, o.o_totalprice AS x
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    ),
    med AS (
        SELECT segment, quantile_cont(x, 0.5) AS m FROM j GROUP BY segment
    ),
    mad AS (
        SELECT j.segment, quantile_cont(ABS(j.x - med.m), 0.5) AS mad, MAX(med.m) AS m
        FROM j JOIN med ON med.segment = j.segment
        GROUP BY j.segment
    )
    SELECT j.segment,
           COUNT(*) AS n_orders,
           ROUND(MAX(mad.m), 4) AS median_price,
           ROUND(MAX(mad.mad), 4) AS mad,
           CAST(SUM(CASE WHEN ABS(j.x - mad.m) > 3 * 1.4826 * mad.mad
               THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
    FROM j JOIN mad ON mad.segment = j.segment
    GROUP BY j.segment
    """,
    description="Median-absolute-deviation outlier census per segment "
    "(the robust twin of the z-score: immune to the outliers it "
    "hunts): median -> MAD -> 3-sigma-equivalent cut at 1.4826*MAD. "
    "Three passes sharing ONE shuffle key, each reducing to a 5-row "
    "broadcast joined back; swap exact medians for approx_percentile "
    "at 1e9+ rows per group, plan shape unchanged.",
)
def stats_mad_outliers_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders")
    cust = table(spark, sf_dir, "customer")
    j = orders.join(F.broadcast(cust), cust.c_custkey == orders.o_custkey).select(
        F.col("c_mktsegment").alias("segment"), F.col("o_totalprice").alias("x")
    )
    med = j.groupBy("segment").agg(F.expr("percentile(x, 0.5)").alias("m"))
    mad = (
        j.join(F.broadcast(med), "segment")
        .groupBy("segment")
        .agg(
            F.expr("percentile(abs(x - m), 0.5)").alias("mad"),
            F.max("m").alias("m"),
        )
    )
    return (
        j.join(F.broadcast(mad), "segment")
        .groupBy("segment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.max("m"), 4).alias("median_price"),
            F.round(F.max("mad"), 4).alias("mad"),
            F.sum(
                F.when(
                    F.abs(F.col("x") - F.col("m")) > 3 * 1.4826 * F.col("mad"), 1
                ).otherwise(0)
            ).alias("n_outliers"),
        )
    )


# --------------------------------------------- correlation matrix
@register(
    "stats_lineitem_corr_matrix",
    oracle="""
    SELECT 'quantity' AS var_a, 'extendedprice' AS var_b,
           ROUND(corr(l_quantity, l_extendedprice), 6) AS r
    FROM lineitem
    UNION ALL
    SELECT 'quantity', 'discount', ROUND(corr(l_quantity, l_discount), 6)
    FROM lineitem
    UNION ALL
    SELECT 'extendedprice', 'discount', ROUND(corr(l_extendedprice, l_discount), 6)
    FROM lineitem
    """,
    description="Pairwise correlation matrix of three fact measures in "
    "ONE aggregation pass (all corr states accumulate in the same "
    "scan, then unpivot to long form) — the feature-selection screen "
    "that would naively cost one scan per pair. Running-moments "
    "states are mergeable, so the 100 TB matrix is one "
    "map-side-combined pass regardless of how many pairs ride along.",
)
def stats_lineitem_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    one = li.agg(
        F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias("qp"),
        F.round(F.corr("l_quantity", "l_discount"), 6).alias("qd"),
        F.round(F.corr("l_extendedprice", "l_discount"), 6).alias("pd"),
    )
    pairs = [
        ("quantity", "extendedprice", "qp"),
        ("quantity", "discount", "qd"),
        ("extendedprice", "discount", "pd"),
    ]
    return one.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(a).alias("var_a"),
                        F.lit(b).alias("var_b"),
                        F.col(c).alias("r"),
                    )
                    for a, b, c in pairs
                ]
            )
        ).alias("p")
    ).select("p.*")


# ------------------------------------------------- Welch's t-test (A/B)
@register(
    "stats_welch_ttest_purchase_click",
    oracle="""
    WITH g AS (
      SELECT COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS n1,
             AVG(CASE WHEN event_type = 'purchase' THEN value END) AS m1,
             var_samp(CASE WHEN event_type = 'purchase' THEN value END) AS v1,
             COUNT(CASE WHEN event_type = 'click' THEN 1 END) AS n2,
             AVG(CASE WHEN event_type = 'click' THEN value END) AS m2,
             var_samp(CASE WHEN event_type = 'click' THEN value END) AS v2
      FROM events WHERE event_type IN ('purchase', 'click')
    )
    SELECT n1, n2,
           ROUND(m1 - m2, 4) AS mean_diff,
           ROUND((m1 - m2) / sqrt(v1 / n1 + v2 / n2), 4) AS t_stat,
           ROUND(POWER(v1 / n1 + v2 / n2, 2)
                 / (POWER(v1 / n1, 2) / (n1 - 1)
                    + POWER(v2 / n2, 2) / (n2 - 1)), 2) AS welch_df
    FROM g
    """,
    description="Welch's unequal-variance t-test comparing mean event "
    "value between purchase and click cohorts: ONE conditional-aggregate "
    "scan produces both groups' (n, mean, var_samp) running moments, "
    "then the t statistic and Welch-Satterthwaite df are pure driver-"
    "free arithmetic on the 1-row aggregate. The experiment-analysis "
    "primitive for data-pipeline A/B gates; at 100 TB it is a single "
    "map-side-combinable pass with a 1-row result.",
)
def stats_welch_ttest_purchase_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("purchase", "click")
    )
    p = F.when(F.col("event_type") == "purchase", F.col("value"))
    c = F.when(F.col("event_type") == "click", F.col("value"))
    g = ev.agg(
        F.count(p).alias("n1"),
        F.avg(p).alias("m1"),
        F.var_samp(p).alias("v1"),
        F.count(c).alias("n2"),
        F.avg(c).alias("m2"),
        F.var_samp(c).alias("v2"),
    )
    se2 = F.col("v1") / F.col("n1") + F.col("v2") / F.col("n2")
    return g.select(
        "n1",
        "n2",
        F.round(F.col("m1") - F.col("m2"), 4).alias("mean_diff"),
        F.round((F.col("m1") - F.col("m2")) / F.sqrt(se2), 4).alias("t_stat"),
        F.round(
            F.pow(se2, 2)
            / (
                F.pow(F.col("v1") / F.col("n1"), 2) / (F.col("n1") - 1)
                + F.pow(F.col("v2") / F.col("n2"), 2) / (F.col("n2") - 1)
            ),
            2,
        ).alias("welch_df"),
    )


# ------------------------------------------------ Benford digit audit
@register(
    "quality_benford_first_digit",
    oracle="""
    WITH d AS (
      SELECT CAST(FLOOR(o_totalprice
                        / POWER(10, FLOOR(LOG10(o_totalprice)))) AS BIGINT)
               AS digit
      FROM orders WHERE o_totalprice > 0
    ),
    tot AS (SELECT COUNT(*) AS n FROM d)
    SELECT digit,
           COUNT(*) AS n_orders,
           ROUND(COUNT(*) * 1.0 / MAX(tot.n), 6) AS actual_share,
           ROUND(LOG10(1.0 + 1.0 / digit), 6) AS benford_share
    FROM d, tot
    GROUP BY digit
    """,
    description="Benford's-law first-significant-digit audit over order "
    "totals — the classic fraud/synthetic-data smell test: digit "
    "extraction is pure codegen arithmetic (log10/pow/floor), one hash "
    "aggregate to 9 rows, total broadcast back as a scalar. The "
    "reference's quality engine has range checks only (reference "
    "src/quality/data_quality.py:761-819); a distribution-shape audit "
    "is the natural next rung.",
)
def quality_benford_first_digit(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 0)
    d = orders.select(
        F.floor(
            F.col("o_totalprice")
            / F.pow(F.lit(10.0), F.floor(F.log10("o_totalprice")))
        )
        .cast("long")
        .alias("digit")
    )
    tot = d.agg(F.count(F.lit(1)).alias("n"))
    return (
        d.crossJoin(F.broadcast(tot))
        .groupBy("digit")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.count(F.lit(1)) * 1.0 / F.max("n"), 6).alias("actual_share"),
            F.round(F.log10(1.0 + 1.0 / F.max("digit")), 6).alias("benford_share"),
        )
    )


# -------------------------------------- two-sample KS drift (binned CDF)
@register(
    "stats_ks_value_drift",
    oracle="""
    WITH ev AS (
      SELECT value, (ts < TIMESTAMP '2024-01-16') AS is_a FROM events
    ),
    rng AS (SELECT MIN(value) AS mn, MAX(value) AS mx FROM ev),
    binned AS (
      SELECT LEAST(CAST(FLOOR((value - mn) / ((mx - mn) / 200.0)) AS BIGINT),
                   199) AS bin,
             is_a
      FROM ev, rng
    ),
    hist AS (
      SELECT bin,
             COUNT(CASE WHEN is_a THEN 1 END) AS cnt_a,
             COUNT(CASE WHEN NOT is_a THEN 1 END) AS cnt_b
      FROM binned GROUP BY bin
    ),
    tot AS (
      SELECT CAST(SUM(cnt_a) AS BIGINT) AS n_a,
             CAST(SUM(cnt_b) AS BIGINT) AS n_b FROM hist
    ),
    cdf AS (
      SELECT SUM(cnt_a) OVER (ORDER BY bin) * 1.0 / tot.n_a
               - SUM(cnt_b) OVER (ORDER BY bin) * 1.0 / tot.n_b AS diff,
             tot.n_a AS n_a, tot.n_b AS n_b
      FROM hist, tot
    )
    SELECT MAX(n_a) AS n_a, MAX(n_b) AS n_b,
           ROUND(MAX(ABS(diff)), 6) AS ks_stat,
           ROUND(1.358 * SQRT((MAX(n_a) + MAX(n_b)) * 1.0
                              / (MAX(n_a) * MAX(n_b))), 6) AS ks_crit_95
    FROM cdf
    """,
    description="Two-sample Kolmogorov-Smirnov drift statistic between "
    "first-half and second-half January event values, computed on a "
    "200-bin shared histogram: the raw scan reduces to 200 rows before "
    "any ordered operation, so the CDF prefix-sum window costs nothing "
    "regardless of input scale (PSI's nonparametric twin — sensitive to "
    "any distributional change, not just binned mass shifts). Exact-KS "
    "needs a global sort of raw values; the binned form bounds the "
    "error at 1/200 of mass per step and keeps the plan 100 TB-safe.",
)
def stats_ks_value_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events").select(
        "value", (F.col("ts") < F.lit("2024-01-16").cast("timestamp")).alias("is_a")
    )
    rng = ev.agg(F.min("value").alias("mn"), F.max("value").alias("mx"))
    binned = ev.crossJoin(F.broadcast(rng)).select(
        F.least(
            F.floor(
                (F.col("value") - F.col("mn"))
                / ((F.col("mx") - F.col("mn")) / F.lit(200.0))
            ).cast("long"),
            F.lit(199).cast("long"),
        ).alias("bin"),
        "is_a",
    )
    hist = binned.groupBy("bin").agg(
        F.count(F.when(F.col("is_a"), 1)).alias("cnt_a"),
        F.count(F.when(~F.col("is_a"), 1)).alias("cnt_b"),
    )
    tot = hist.agg(
        F.sum("cnt_a").alias("n_a"), F.sum("cnt_b").alias("n_b")
    )
    w = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    cdf = hist.crossJoin(F.broadcast(tot)).select(
        (
            F.sum("cnt_a").over(w) * 1.0 / F.col("n_a")
            - F.sum("cnt_b").over(w) * 1.0 / F.col("n_b")
        ).alias("diff"),
        "n_a",
        "n_b",
    )
    return cdf.agg(
        F.max("n_a").alias("n_a"),
        F.max("n_b").alias("n_b"),
        F.round(F.max(F.abs("diff")), 6).alias("ks_stat"),
        F.round(
            1.358
            * F.sqrt(
                (F.max("n_a") + F.max("n_b")) * 1.0 / (F.max("n_a") * F.max("n_b"))
            ),
            6,
        ).alias("ks_crit_95"),
    )


# ------------------------------------------------- QQ quantile alignment
_QQ_PROBS = [round(0.05 * i, 2) for i in range(1, 20)]


@register(
    "stats_qq_purchase_click",
    oracle=f"""
    WITH g AS (
      SELECT quantile_cont(CASE WHEN event_type = 'purchase' THEN value END,
                           {_QQ_PROBS}) AS qa,
             quantile_cont(CASE WHEN event_type = 'click' THEN value END,
                           {_QQ_PROBS}) AS qb
      FROM events
    )
    SELECT ROUND(CAST(0.05 * i AS DOUBLE), 2) AS quantile,
           ROUND(qa[i], 6) AS q_purchase,
           ROUND(qb[i], 6) AS q_click,
           ROUND(qb[i] - qa[i], 6) AS qq_gap
    FROM g, UNNEST(generate_series(1, 19)) AS u(i)
    """,
    description="Quantile-quantile alignment of purchase vs click value "
    "distributions: 19 matched exact percentiles for both cohorts from "
    "ONE conditional-aggregate pass (percentile takes the probability "
    "ARRAY, so quantile count never adds passes), exploded to the QQ "
    "table with per-quantile gaps. Reads shape differences the mean "
    "hides — where in the distribution the cohorts diverge, not just "
    "whether (the graphical twin of stats_welch_ttest / stats_ks). At "
    "1e9+ rows per group swap percentile for approx_percentile; plan "
    "unchanged.",
)
def stats_qq_purchase_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    probs = ", ".join(str(p) for p in _QQ_PROBS)
    g = ev.agg(
        F.expr(
            "percentile(CASE WHEN event_type = 'purchase' THEN value END, "
            f"array({probs}))"
        ).alias("qa"),
        F.expr(
            "percentile(CASE WHEN event_type = 'click' THEN value END, "
            f"array({probs}))"
        ).alias("qb"),
    )
    return g.select(
        F.posexplode(F.arrays_zip("qa", "qb")).alias("i", "q")
    ).select(
        F.round((F.col("i") + 1) * 0.05, 2).alias("quantile"),
        F.round(F.col("q.qa"), 6).alias("q_purchase"),
        F.round(F.col("q.qb"), 6).alias("q_click"),
        F.round(F.col("q.qb") - F.col("q.qa"), 6).alias("qq_gap"),
    )


# ------------------------------------------------------ Gini coefficient
@register(
    "stats_gini_customer_revenue",
    oracle="""
    WITH cust AS (
      SELECT o_custkey, SUM(o_totalprice) AS rev
      FROM orders GROUP BY o_custkey
    ),
    ranked AS (
      SELECT rev, ROW_NUMBER() OVER (ORDER BY rev, o_custkey) AS i
      FROM cust
    )
    SELECT COUNT(*) AS n_customers,
           ROUND(SUM(rev), 2) AS total_revenue,
           ROUND(2.0 * SUM(i * rev) / (COUNT(*) * SUM(rev))
                 - (COUNT(*) + 1.0) / COUNT(*), 6) AS gini
    FROM ranked
    """,
    description="Gini concentration coefficient of customer revenue via "
    "the rank formula G = 2*sum(i*x_i)/(n*sum(x)) - (n+1)/n over "
    "ascending-sorted spend: the scalar summary of the Pareto curve "
    "(orders_pareto_top_customers shows the shape, this one number "
    "tracks it over time). The rank window runs over the customer-grain "
    "AGGREGATE, not orders; at 1e8+ customers the same rank becomes the "
    "two-pass partition-offset scheme proven in "
    "pipeline_global_row_index — identical plan family, one more pass.",
)
def stats_gini_customer_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders")
    cust = orders.groupBy("o_custkey").agg(F.sum("o_totalprice").alias("rev"))
    w = Window.orderBy("rev", "o_custkey")
    ranked = cust.withColumn("i", F.row_number().over(w))
    n = F.count(F.lit(1))
    return ranked.agg(
        n.alias("n_customers"),
        F.round(F.sum("rev"), 2).alias("total_revenue"),
        F.round(
            2.0 * F.sum(F.col("i") * F.col("rev")) / (n * F.sum("rev"))
            - (n + 1.0) / n,
            6,
        ).alias("gini"),
    )


# --------------------------------------------------- Neyman allocation
@register(
    "sample_neyman_allocation",
    oracle="""
    WITH strata AS (
      SELECT c.c_mktsegment AS segment,
             COUNT(*) AS n_orders,
             stddev_samp(o.o_totalprice) AS sd
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
      GROUP BY c.c_mktsegment
    ),
    tot AS (SELECT SUM(n_orders * sd) AS denom FROM strata)
    SELECT segment, n_orders,
           ROUND(sd, 4) AS stddev_price,
           ROUND(n_orders * sd / tot.denom, 6) AS alloc_share,
           CAST(FLOOR(1000 * n_orders * sd / tot.denom) AS BIGINT)
             AS alloc_samples
    FROM strata, tot
    """,
    description="Neyman-optimal stratified sample allocation: for a fixed "
    "budget (1000), each stratum's share is proportional to N_h * "
    "sigma_h — variable strata get more probes than proportional "
    "allocation would give, minimizing the estimator's variance. The "
    "design step in front of sample_stratified_by_segment (which "
    "executes per-stratum rates): one (n, stddev) running-moments agg "
    "per stratum, scalar denominator broadcast back. At 100 TB the "
    "allocation table is O(strata) and drives the md5-threshold "
    "sampling pass with zero extra scans.",
)
def sample_neyman_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders")
    cust = table(spark, sf_dir, "customer")
    strata = (
        orders.join(F.broadcast(cust), cust.c_custkey == orders.o_custkey)
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.stddev_samp("o_totalprice").alias("sd"),
        )
    )
    tot = strata.agg(F.sum(F.col("n_orders") * F.col("sd")).alias("denom"))
    return strata.crossJoin(F.broadcast(tot)).select(
        "segment",
        "n_orders",
        F.round("sd", 4).alias("stddev_price"),
        F.round(F.col("n_orders") * F.col("sd") / F.col("denom"), 6).alias(
            "alloc_share"
        ),
        F.floor(1000 * F.col("n_orders") * F.col("sd") / F.col("denom"))
        .cast("bigint")
        .alias("alloc_samples"),
    )


# ------------------------------------------- p-chart error-rate monitor
@register(
    "quality_error_rate_control_chart",
    oracle=f"""
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS day,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_errors
        FROM events GROUP BY 1
    ),
    center AS (
        SELECT CAST(SUM(n_errors) AS DOUBLE) / SUM(n_events) AS pbar
        FROM daily
    )
    SELECT day, n_events, n_errors,
           {dround_sql("CAST(n_errors AS DOUBLE) / n_events", 6)} AS p,
           {dround_sql("pbar + 3 * sqrt(pbar * (1 - pbar) / n_events)", 6)} AS ucl,
           {dround_sql("greatest(pbar - 3 * sqrt(pbar * (1 - pbar) / n_events), 0.0)", 6)} AS lcl,
           CAST(CASE WHEN CAST(n_errors AS DOUBLE) / n_events
                          > pbar + 3 * sqrt(pbar * (1 - pbar) / n_events)
                      OR CAST(n_errors AS DOUBLE) / n_events
                          < greatest(pbar - 3 * sqrt(pbar * (1 - pbar) / n_events), 0.0)
                THEN 1 ELSE 0 END AS INT) AS out_of_control
    FROM daily, center
    """,
    description="Shewhart p-chart over the daily error rate: center line "
    "pbar from the whole series, per-day 3-sigma binomial control limits "
    "sized by that day's sample count, out-of-control flags. One agg "
    "shuffle to day grain; the center line is a 1-row broadcast cross "
    "join — textbook streaming-ready DQ monitoring.",
)
def quality_error_rate_control_chart(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.count("*").cast("bigint").alias("n_events"),
        F.sum((F.col("event_type") == "error").cast("int"))
        .cast("bigint")
        .alias("n_errors"),
    )
    center = daily.agg(
        (F.sum("n_errors").cast("double") / F.sum("n_events")).alias("pbar")
    )
    p = F.col("n_errors").cast("double") / F.col("n_events")
    sig = F.sqrt(F.col("pbar") * (1 - F.col("pbar")) / F.col("n_events"))
    ucl = F.col("pbar") + 3 * sig
    lcl = F.greatest(F.col("pbar") - 3 * sig, F.lit(0.0))
    return daily.crossJoin(F.broadcast(center)).select(
        "day",
        "n_events",
        "n_errors",
        dround(p, 6).alias("p"),
        dround(ucl, 6).alias("ucl"),
        dround(lcl, 6).alias("lcl"),
        F.when((p > ucl) | (p < lcl), 1).otherwise(0).cast("int").alias(
            "out_of_control"
        ),
    )


# ------------------------------------------- functional dependency scan
_FD_CANDIDATES = [
    ("nation", "n_nationkey", "n_regionkey"),
    ("orders", "o_orderkey", "o_orderstatus"),
    ("customer", "c_nationkey", "c_mktsegment"),
    ("orders", "o_custkey", "o_orderpriority"),
    ("lineitem", "l_suppkey", "l_returnflag"),
]


def _fd_oracle() -> str:
    parts = []
    for tbl, det, dep in _FD_CANDIDATES:
        parts.append(f"""
    SELECT '{tbl}.{det}->{dep}' AS fd,
           CAST(COUNT(*) AS BIGINT) AS n_groups,
           CAST(SUM(CASE WHEN k > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS violating_groups,
           CAST(ROUND(CAST(SUM(CASE WHEN k > 1 THEN 1 ELSE 0 END) AS DOUBLE)
                / COUNT(*), 6) AS DOUBLE) AS violation_rate,
           CAST(CASE WHEN MAX(k) = 1 THEN 1 ELSE 0 END AS INT) AS holds
    FROM (SELECT {det}, COUNT(DISTINCT {dep}) AS k
          FROM {tbl} GROUP BY {det})""")
    return "\n    UNION ALL\n".join(parts)


@register(
    "quality_fd_discovery",
    oracle=_fd_oracle(),
    description="Functional-dependency discovery over candidate "
    "(determinant -> dependent) pairs: an FD holds when every determinant "
    "value maps to exactly one dependent value. Confirms the key-implied "
    "dependencies and rejects the spurious candidates with exact "
    "violation rates. "
    "Per candidate: one groupBy on the determinant with a distinct-count, "
    "then a 1-row rollup — profiling 100 TB costs |candidates| "
    "map-side-combinable passes, no joins.",
)
def quality_fd_discovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = None
    for tbl, det, dep in _FD_CANDIDATES:
        g = (
            table(spark, sf_dir, tbl)
            .groupBy(det)
            .agg(F.countDistinct(dep).alias("k"))
        )
        row = g.agg(
            F.lit(f"{tbl}.{det}->{dep}").alias("fd"),
            F.count("*").cast("bigint").alias("n_groups"),
            F.sum((F.col("k") > 1).cast("int"))
            .cast("bigint")
            .alias("violating_groups"),
            F.round(
                F.sum((F.col("k") > 1).cast("int")).cast("double")
                / F.count("*"),
                6,
            ).alias("violation_rate"),
            F.when(F.max("k") == 1, 1).otherwise(0).cast("int").alias("holds"),
        )
        out = row if out is None else out.unionAll(row)
    return out


# ------------------------------------------- BH multiple-testing control
def _erf_sql(x: str) -> str:
    """Abramowitz-Stegun 7.1.26 erf approximation (|err| < 1.5e-7) as a
    SQL fragment over a NON-NEGATIVE argument expression."""
    t = f"(1.0 / (1.0 + 0.3275911 * ({x})))"
    poly = (
        f"(0.254829592 * {t} - 0.284496736 * POWER({t}, 2) "
        f"+ 1.421413741 * POWER({t}, 3) - 1.453152027 * POWER({t}, 4) "
        f"+ 1.061405429 * POWER({t}, 5))"
    )
    return f"(1.0 - {poly} * EXP(-(({x}) * ({x}))))"


def _erf_col(x):
    t = 1.0 / (1.0 + 0.3275911 * x)
    poly = (
        0.254829592 * t
        - 0.284496736 * F.pow(t, 2)
        + 1.421413741 * F.pow(t, 3)
        - 1.453152027 * F.pow(t, 4)
        + 1.061405429 * F.pow(t, 5)
    )
    return 1.0 - poly * F.exp(-(x * x))


@register(
    "stats_benjamini_hochberg",
    oracle=f"""
    WITH moments AS (
        SELECT e.event_type AS grp,
               COUNT(CASE WHEN v.et = e.event_type THEN 1 END) AS n1,
               AVG(CASE WHEN v.et = e.event_type THEN value END) AS m1,
               var_samp(CASE WHEN v.et = e.event_type THEN value END) AS v1,
               COUNT(CASE WHEN v.et <> e.event_type THEN 1 END) AS n2,
               AVG(CASE WHEN v.et <> e.event_type THEN value END) AS m2,
               var_samp(CASE WHEN v.et <> e.event_type THEN value END) AS v2
        FROM (SELECT DISTINCT event_type FROM events) e
        CROSS JOIN (SELECT event_type AS et, value FROM events) v
        GROUP BY e.event_type
    ),
    tests AS (
        SELECT grp, CAST(n1 AS BIGINT) AS n1,
               CAST(ROUND(CAST((m1 - m2) / sqrt(v1 / n1 + v2 / n2) AS DECIMAL(38,8)), 4) AS DOUBLE) AS z,
               CAST(ROUND(CAST(
                   1.0 - {_erf_sql("abs((m1 - m2) / sqrt(v1 / n1 + v2 / n2)) / sqrt(2.0)")}
               AS DECIMAL(38,8)), 6) AS DOUBLE) AS p
        FROM moments
    ),
    ranked AS (
        SELECT grp, n1, z, p,
               CAST(ROW_NUMBER() OVER (ORDER BY p, grp) AS BIGINT) AS rk,
               COUNT(*) OVER () AS m
        FROM tests
    ),
    flagged AS (
        SELECT *, CASE WHEN p <= rk * 0.05 / m THEN rk ELSE 0 END AS ok_rk
        FROM ranked
    )
    SELECT grp, n1, z, p, rk,
           CAST(ROUND(CAST(rk * 0.05 / m AS DECIMAL(38,8)), 6) AS DOUBLE)
               AS bh_threshold,
           CAST(CASE WHEN rk <= (SELECT MAX(ok_rk) FROM flagged)
                THEN 1 ELSE 0 END AS INT) AS rejected
    FROM flagged
    """,
    description="Benjamini-Hochberg FDR control (q=0.05) over per-"
    "event-type two-sample z-tests of mean value vs the rest: ONE "
    "groupBy(event_type) moments pass over the fact table plus a 1-row "
    "broadcast of the global moments; each cohort's complement (the "
    "'rest') is recovered algebraically via the Chan et al. pairwise "
    "central-moment combine (M2_rest = M2_total - M2_grp - "
    "delta^2*n1*n2/N), so the table is scanned exactly once regardless "
    "of type cardinality — no driver-side per-type loop. Normal "
    "p-values from an Abramowitz-Stegun erf evaluated as pure Column "
    "arithmetic (no SciPy, no UDF), then the step-up rank test over the "
    "|tests|-row aggregate.",
)
def stats_benjamini_hochberg(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events").select("event_type", "value")
    per = ev.groupBy(F.col("event_type").alias("grp")).agg(
        F.count("value").cast("bigint").alias("n1"),
        F.avg("value").alias("m1"),
        F.var_samp("value").alias("v1"),
    )
    # Global moments recovered from the |types|-row aggregate itself
    # (law of total variance: M2_total = sum M2_i + sum n_i*(m_i-m_all)^2)
    # via window sums over the tiny frame — keeps the whole query at ONE
    # scan of the fact table.
    wall0 = Window.partitionBy()
    n_all = F.sum("n1").over(wall0)
    m_all = F.sum(F.col("n1") * F.col("m1")).over(wall0) / n_all
    withg = per.select(
        "*",
        n_all.alias("n_all"),
        m_all.alias("m_all"),
        F.sum(F.col("v1") * (F.col("n1") - 1)).over(wall0).alias("m2_within"),
    ).withColumn(
        "m2_between",
        F.sum(
            F.col("n1")
            * (F.col("m1") - F.col("m_all"))
            * (F.col("m1") - F.col("m_all"))
        ).over(Window.partitionBy("n_all")),
    )
    n2c = F.col("n_all") - F.col("n1")
    m2c = (F.col("n_all") * F.col("m_all") - F.col("n1") * F.col("m1")) / n2c
    # Chan pairwise combine, solved for the complement's central moment:
    # M2_total = M2_grp + M2_rest + delta^2 * n1*n2/N
    m2_total = F.col("m2_within") + F.col("m2_between")
    m2_grp = F.col("v1") * (F.col("n1") - 1)
    delta = F.col("m1") - m2c
    v2c = (
        m2_total - m2_grp - delta * delta * F.col("n1") * n2c / F.col("n_all")
    ) / (n2c - 1)
    rows = withg.select(
        "grp",
        "n1",
        "m1",
        "v1",
        n2c.alias("n2"),
        m2c.alias("m2"),
        v2c.alias("v2"),
    )
    zc = (F.col("m1") - F.col("m2")) / F.sqrt(
        F.col("v1") / F.col("n1") + F.col("v2") / F.col("n2")
    )
    tests = rows.select(
        "grp",
        "n1",
        dround(zc, 4).alias("z"),
        dround(1.0 - _erf_col(F.abs(zc) / F.sqrt(F.lit(2.0))), 6).alias("p"),
    )
    wr = Window.orderBy("p", "grp")
    wall = Window.partitionBy()
    ranked = tests.select(
        "*",
        F.row_number().over(wr).cast("bigint").alias("rk"),
        F.count("*").over(wall).alias("m"),
    )
    flagged = ranked.withColumn(
        "ok_rk",
        F.when(F.col("p") <= F.col("rk") * 0.05 / F.col("m"), F.col("rk"))
        .otherwise(F.lit(0)),
    )
    kmax = flagged.agg(F.max("ok_rk")).collect()[0][0]
    return flagged.select(
        "grp",
        "n1",
        "z",
        "p",
        "rk",
        dround(F.col("rk") * 0.05 / F.col("m"), 6).alias("bh_threshold"),
        F.when(F.col("rk") <= F.lit(kmax), 1).otherwise(0).cast("int").alias(
            "rejected"
        ),
    )


# ------------------------------------------- partial correlation
@register(
    "stats_partial_correlation",
    oracle=f"""
    WITH c AS (
        SELECT corr(l_quantity, l_extendedprice) AS r_xy,
               corr(l_quantity, l_discount) AS r_xz,
               corr(l_discount, l_extendedprice) AS r_zy,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM lineitem
    )
    SELECT n,
           {dround_sql("r_xy", 6)} AS r_xy,
           {dround_sql("(r_xy - r_xz * r_zy) / sqrt((1 - r_xz * r_xz) * (1 - r_zy * r_zy))", 6)} AS r_xy_given_z
    FROM c
    """,
    description="Partial correlation of quantity and extendedprice "
    "controlling for discount, from the 3 pairwise correlations of one "
    "running-moments pass — corr() keeps sufficient statistics, so the "
    "control adjustment costs nothing beyond the single scan.",
)
def stats_partial_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    c = li.agg(
        F.corr("l_quantity", "l_extendedprice").alias("r_xy"),
        F.corr("l_quantity", "l_discount").alias("r_xz"),
        F.corr("l_discount", "l_extendedprice").alias("r_zy"),
        F.count("*").cast("bigint").alias("n"),
    )
    num = F.col("r_xy") - F.col("r_xz") * F.col("r_zy")
    den = F.sqrt(
        (1 - F.col("r_xz") * F.col("r_xz"))
        * (1 - F.col("r_zy") * F.col("r_zy"))
    )
    return c.select(
        "n",
        dround("r_xy", 6).alias("r_xy"),
        dround(num / den, 6).alias("r_xy_given_z"),
    )


# ------------------------------------------- Mann-Whitney U test
@register(
    "stats_mann_whitney_u",
    oracle=f"""
    WITH vals AS (
        SELECT value,
               CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n1v,
               CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n2v
        FROM events WHERE event_type IN ('purchase', 'click')
        GROUP BY value
    ),
    ranked AS (
        SELECT value, n1v, n2v, (n1v + n2v) AS t,
               COALESCE(SUM(n1v + n2v) OVER (
                   ORDER BY value
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) AS c_lt
        FROM vals
    ),
    agg AS (
        SELECT CAST(SUM(n1v) AS BIGINT) AS n1,
               CAST(SUM(n2v) AS BIGINT) AS n2,
               SUM(n1v * (c_lt + (t + 1) / 2.0)) AS r1,
               SUM(CAST(t AS DOUBLE) * t * t - t) AS tie_term
        FROM ranked
    )
    SELECT n1, n2,
           {dround_sql("n1 * CAST(n2 AS DOUBLE) + n1 * (n1 + 1) / 2.0 - r1", 4)} AS u_stat,
           {dround_sql("(n1 * CAST(n2 AS DOUBLE) + n1 * (n1 + 1) / 2.0 - r1 - n1 * CAST(n2 AS DOUBLE) / 2.0) / sqrt( n1 * CAST(n2 AS DOUBLE) / 12.0 * ((n1 + n2 + 1.0) - tie_term / ((n1 + n2) * (n1 + n2 - 1.0))) )", 4)} AS z
    FROM agg
    """,
    description="Exact Mann-Whitney U (purchase vs click event values) "
    "with average-rank tie handling and tie-corrected normal z: rank sums "
    "come from per-distinct-value group counts + a prefix sum over the "
    "value-grain aggregate — never a row-level global sort. At 100 TB "
    "with continuous doubles the distinct-value table approaches row "
    "scale: bin values first or switch the prefix sum to the "
    "partition-offset scheme (functions/ordered.py); identical math.",
)
def stats_mann_whitney_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("purchase", "click")
    )
    vals = ev.groupBy("value").agg(
        F.sum((F.col("event_type") == "purchase").cast("int"))
        .cast("bigint")
        .alias("n1v"),
        F.sum((F.col("event_type") == "click").cast("int"))
        .cast("bigint")
        .alias("n2v"),
    )
    wp = Window.orderBy("value").rowsBetween(Window.unboundedPreceding, -1)
    ranked = vals.select(
        "n1v",
        "n2v",
        (F.col("n1v") + F.col("n2v")).alias("t"),
        F.coalesce(
            F.sum(F.col("n1v") + F.col("n2v")).over(wp), F.lit(0)
        ).alias("c_lt"),
    )
    agg = ranked.agg(
        F.sum("n1v").cast("bigint").alias("n1"),
        F.sum("n2v").cast("bigint").alias("n2"),
        F.sum(
            F.col("n1v") * (F.col("c_lt") + (F.col("t") + 1) / 2.0)
        ).alias("r1"),
        F.sum(
            F.col("t").cast("double") * F.col("t") * F.col("t") - F.col("t")
        ).alias("tie_term"),
    )
    n1d = F.col("n1").cast("double")
    n2d = F.col("n2").cast("double")
    u = F.col("n1") * n2d + F.col("n1") * (F.col("n1") + 1) / 2.0 - F.col("r1")
    var = (
        F.col("n1")
        * n2d
        / 12.0
        * (
            (n1d + n2d + 1.0)
            - F.col("tie_term") / ((n1d + n2d) * (n1d + n2d - 1.0))
        )
    )
    return agg.select(
        "n1",
        "n2",
        dround(u, 4).alias("u_stat"),
        dround((u - F.col("n1") * n2d / 2.0) / F.sqrt(var), 4).alias("z"),
    )


# ------------------------------------------- Spearman rank correlation
@register(
    "stats_spearman_rank_corr",
    oracle=f"""
    WITH vq AS (
        SELECT l_quantity AS v, CAST(COUNT(*) AS BIGINT) AS c
        FROM lineitem GROUP BY 1
    ),
    rq AS (
        SELECT v,
               COALESCE(SUM(c) OVER (
                   ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                   AND 1 PRECEDING), 0) + (c + 1) / 2.0 AS r
        FROM vq
    ),
    vp AS (
        SELECT l_extendedprice AS v, CAST(COUNT(*) AS BIGINT) AS c
        FROM lineitem GROUP BY 1
    ),
    rp AS (
        SELECT v,
               COALESCE(SUM(c) OVER (
                   ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                   AND 1 PRECEDING), 0) + (c + 1) / 2.0 AS r
        FROM vp
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           {dround_sql("corr(rq.r, rp.r)", 6)} AS spearman_rho
    FROM lineitem li
    JOIN rq ON rq.v = li.l_quantity
    JOIN rp ON rp.v = li.l_extendedprice
    """,
    description="Spearman rank correlation of quantity vs extendedprice: "
    "average ranks from distinct-value counts + a prefix sum over the "
    "value-grain aggregate (the Mann-Whitney machinery), joined back to "
    "rows for a plain Pearson corr() over ranks. Robust to the monotone "
    "transformations that break Pearson; the rank join broadcasts the "
    "50-value quantity table and hash-joins the price table.",
)
def stats_spearman_rank_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").select(
        "l_quantity", "l_extendedprice"
    )

    def ranks(col: str):
        vq = li.groupBy(F.col(col).alias("v")).agg(
            F.count("*").cast("bigint").alias("c")
        )
        wp = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
        return vq.select(
            "v",
            (
                F.coalesce(F.sum("c").over(wp), F.lit(0))
                + (F.col("c") + 1) / 2.0
            ).alias("r"),
        )

    rq = ranks("l_quantity").withColumnRenamed("v", "l_quantity")
    rp = ranks("l_extendedprice").withColumnRenamed("v", "l_extendedprice")
    j = li.join(F.broadcast(rq.withColumnRenamed("r", "r_q")), "l_quantity").join(
        rp.withColumnRenamed("r", "r_p"), "l_extendedprice"
    )
    return j.agg(
        F.count("*").cast("bigint").alias("n"),
        dround(F.corr("r_q", "r_p"), 6).alias("spearman_rho"),
    )


# ------------------------------------------------ randomization test
_PERM_B = 64
# One md5 per observation supplies ALL 64 relabelings: the first 16 hex
# chars split into two 32-bit halves (c1 = bits 0..31, c2 = bits 32..63),
# and permutation b reads bit b. md5 bits are independent, both engines
# compute the identical hex, and the per-(row, b) work drops from a fresh
# md5(concat) to one shift+mask — at 64 permutations that removes 63/64
# of the hash cost from the blown-up side of the cross join.
_PERM_C1 = "CAST(('0x' || substr(md5(CAST(o.event_id AS VARCHAR)), 1, 8)) AS BIGINT)"
_PERM_C2 = "CAST(('0x' || substr(md5(CAST(o.event_id AS VARCHAR)), 9, 8)) AS BIGINT)"
_PERM_GRP = (
    "CASE WHEN r.b < 32 THEN (o.c1 >> r.b) & 1"
    " ELSE (o.c2 >> (r.b - 32)) & 1 END"
)


@register(
    "stats_permutation_test_purchase_click",
    oracle=f"""
    WITH obs0 AS (
        SELECT event_id,
               event_type,
               CAST(ROUND(CAST(value * 100 AS DECIMAL(38,8)), 0) AS BIGINT)
                   AS cents
        FROM events WHERE event_type IN ('purchase', 'click')
    ),
    obs AS (
        SELECT event_type, cents, {_PERM_C1} AS c1, {_PERM_C2} AS c2
        FROM obs0 o
    ),
    base AS (
        SELECT
          CAST(SUM(CASE WHEN event_type = 'purchase' THEN cents END)
               AS BIGINT) AS sum_p,
          CAST(COUNT(CASE WHEN event_type = 'purchase' THEN 1 END)
               AS BIGINT) AS n_p,
          CAST(SUM(CASE WHEN event_type = 'click' THEN cents END)
               AS BIGINT) AS sum_c,
          CAST(COUNT(CASE WHEN event_type = 'click' THEN 1 END)
               AS BIGINT) AS n_c
        FROM obs
    ),
    perms AS (
        SELECT b,
          CAST(SUM(CASE WHEN grp = 0 THEN cents END) AS BIGINT) AS sum_a,
          CAST(COUNT(CASE WHEN grp = 0 THEN 1 END) AS BIGINT) AS n_a,
          CAST(SUM(CASE WHEN grp = 1 THEN cents END) AS BIGINT) AS sum_b,
          CAST(COUNT(CASE WHEN grp = 1 THEN 1 END) AS BIGINT) AS n_b
        FROM (
            SELECT o.cents, r.b, {_PERM_GRP} AS grp
            FROM obs o
            CROSS JOIN (SELECT UNNEST(range(0, {_PERM_B})) AS b) r
        )
        GROUP BY b
    ),
    scored AS (
        SELECT p.b,
               ABS(CAST(p.sum_a AS DOUBLE) / p.n_a
                   - CAST(p.sum_b AS DOUBLE) / p.n_b) AS stat_b,
               ABS(CAST(q.sum_p AS DOUBLE) / q.n_p
                   - CAST(q.sum_c AS DOUBLE) / q.n_c) AS stat_obs
        FROM perms p CROSS JOIN base q
        WHERE p.n_a > 0 AND p.n_b > 0
    )
    SELECT q.n_p AS n_purchase, q.n_c AS n_click,
           {dround_sql("CAST(q.sum_p AS DOUBLE) / q.n_p / 100.0", 6)}
               AS mean_purchase,
           {dround_sql("CAST(q.sum_c AS DOUBLE) / q.n_c / 100.0", 6)}
               AS mean_click,
           {dround_sql("MAX(s.stat_obs) / 100.0", 6)} AS stat_obs,
           CAST({_PERM_B} AS BIGINT) AS n_perms,
           CAST(SUM(CASE WHEN s.stat_b >= s.stat_obs THEN 1 ELSE 0 END)
                AS BIGINT) AS n_exceed,
           {dround_sql(
               "(1.0 + SUM(CASE WHEN s.stat_b >= s.stat_obs THEN 1 ELSE 0 "
               f"END)) / {_PERM_B + 1}", 6)} AS p_value
    FROM scored s CROSS JOIN base q
    GROUP BY q.n_p, q.n_c, q.sum_p, q.sum_c
    """,
    description="Randomization (permutation) test for the purchase-vs-"
    "click mean-value difference: 64 deterministic md5-derived "
    "relabelings of every observation (ONE md5 per row; permutation b "
    "reads bit b of the 64-bit hash prefix — the same portable coins "
    "every engine flips identically, at 1/64th the hash cost of "
    "per-(row,b) salting), two-sided statistic "
    "|mean_A - mean_B|, p = (1 + #{b: stat_b >= stat_obs}) / (B+1). "
    "Values are quantized to exact integer CENTS before any aggregation, "
    "so every per-relabeling sum is an order-free BIGINT sum (immune to "
    "double-accumulation ordering); each statistic is then ONE fixed "
    "scalar expression over those integers, bit-identical across "
    "engines. The B-fold blow-up is a crossJoin with a 64-row literal — "
    "embarrassingly parallel, map-side combinable, one shuffle on b; at "
    "100 TB the same plan holds with B partial aggregates per partition.",
)
def stats_permutation_test_purchase_click(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    h = F.md5(F.col("event_id").cast("string"))
    obs = ev.filter(F.col("event_type").isin("purchase", "click")).select(
        "event_type",
        F.round((F.col("value") * 100).cast("decimal(38,8)"), 0)
        .cast("bigint")
        .alias("cents"),
        # one md5 per row feeds all 64 relabelings (two 32-bit halves)
        F.conv(F.substring(h, 1, 8), 16, 10).cast("bigint").alias("c1"),
        F.conv(F.substring(h, 9, 8), 16, 10).cast("bigint").alias("c2"),
    ).persist()  # feeds the observed stats AND the 64-fold relabeling
    base = obs.agg(
        F.sum(F.when(F.col("event_type") == "purchase", F.col("cents")))
        .cast("bigint")
        .alias("sum_p"),
        F.count(F.when(F.col("event_type") == "purchase", 1))
        .cast("bigint")
        .alias("n_p"),
        F.sum(F.when(F.col("event_type") == "click", F.col("cents")))
        .cast("bigint")
        .alias("sum_c"),
        F.count(F.when(F.col("event_type") == "click", 1))
        .cast("bigint")
        .alias("n_c"),
    )
    bb = spark.range(_PERM_B).select(F.col("id").alias("b"))
    grp = F.expr(
        "CASE WHEN b < 32 THEN shiftright(c1, CAST(b AS INT)) & 1 "
        "ELSE shiftright(c2, CAST(b AS INT) - 32) & 1 END"
    )
    perms = (
        obs.crossJoin(F.broadcast(bb))
        .select("cents", "b", grp.alias("grp"))
        .groupBy("b")
        .agg(
            F.sum(F.when(F.col("grp") == 0, F.col("cents")))
            .cast("bigint")
            .alias("sum_a"),
            F.count(F.when(F.col("grp") == 0, 1)).cast("bigint").alias("n_a"),
            F.sum(F.when(F.col("grp") == 1, F.col("cents")))
            .cast("bigint")
            .alias("sum_b"),
            F.count(F.when(F.col("grp") == 1, 1)).cast("bigint").alias("n_b"),
        )
    )
    scored = (
        perms.crossJoin(F.broadcast(base))
        .filter((F.col("n_a") > 0) & (F.col("n_b") > 0))
        .select(
            F.abs(
                F.col("sum_a").cast("double") / F.col("n_a")
                - F.col("sum_b").cast("double") / F.col("n_b")
            ).alias("stat_b"),
            F.abs(
                F.col("sum_p").cast("double") / F.col("n_p")
                - F.col("sum_c").cast("double") / F.col("n_c")
            ).alias("stat_obs"),
            "n_p",
            "n_c",
            "sum_p",
            "sum_c",
        )
    )
    exceed = F.sum(
        F.when(F.col("stat_b") >= F.col("stat_obs"), 1).otherwise(0)
    ).cast("bigint")
    return scored.groupBy("n_p", "n_c", "sum_p", "sum_c").agg(
        F.max("stat_obs").alias("_so"),
        exceed.alias("n_exceed"),
    ).select(
        F.col("n_p").alias("n_purchase"),
        F.col("n_c").alias("n_click"),
        dround(F.col("sum_p").cast("double") / F.col("n_p") / 100.0, 6).alias(
            "mean_purchase"
        ),
        dround(F.col("sum_c").cast("double") / F.col("n_c") / 100.0, 6).alias(
            "mean_click"
        ),
        dround(F.col("_so") / 100.0, 6).alias("stat_obs"),
        F.lit(_PERM_B).cast("bigint").alias("n_perms"),
        "n_exceed",
        dround(
            (F.lit(1.0) + F.col("n_exceed")) / (_PERM_B + 1), 6
        ).alias("p_value"),
    )


# -------------------------------------- Brown-Forsythe variance test
@register(
    "stats_brown_forsythe_variance",
    oracle=f"""
    WITH obs AS (
        SELECT event_type,
               CAST(ROUND(CAST(value * 100 AS DECIMAL(38,8)), 0) AS BIGINT)
                   AS cents
        FROM events WHERE event_type IN ('purchase', 'click')
    ),
    med AS (
        SELECT event_type,
               CAST(quantile_disc(cents, 0.5) AS BIGINT) AS med_cents
        FROM obs GROUP BY event_type
    ),
    dev AS (
        SELECT o.event_type, ABS(o.cents - m.med_cents) AS z
        FROM obs o JOIN med m ON m.event_type = o.event_type
    ),
    g AS (
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(z) AS BIGINT) AS s,
               CAST(SUM(z * z) AS BIGINT) AS q
        FROM dev GROUP BY event_type
    ),
    wide AS (
        SELECT
          MAX(CASE WHEN event_type = 'purchase' THEN n END) AS n_p,
          MAX(CASE WHEN event_type = 'purchase' THEN s END) AS s_p,
          MAX(CASE WHEN event_type = 'purchase' THEN q END) AS q_p,
          MAX(CASE WHEN event_type = 'purchase' THEN med_cents END) AS med_p,
          MAX(CASE WHEN event_type = 'click' THEN n END) AS n_c,
          MAX(CASE WHEN event_type = 'click' THEN s END) AS s_c,
          MAX(CASE WHEN event_type = 'click' THEN q END) AS q_c,
          MAX(CASE WHEN event_type = 'click' THEN med_cents END) AS med_c
        FROM g JOIN med USING (event_type)
    )
    SELECT n_p AS n_purchase, n_c AS n_click,
           {dround_sql("med_p / 100.0", 2)} AS median_purchase,
           {dround_sql("med_c / 100.0", 2)} AS median_click,
           {dround_sql("CAST(s_p AS DOUBLE) / n_p / 100.0", 6)}
               AS mad_purchase,
           {dround_sql("CAST(s_c AS DOUBLE) / n_c / 100.0", 6)}
               AS mad_click,
           {dround_sql(
               "(n_p + n_c - 2) * "
               "(CAST(s_p AS DOUBLE) * s_p / n_p"
               " + CAST(s_c AS DOUBLE) * s_c / n_c"
               " - CAST(s_p + s_c AS DOUBLE) * (s_p + s_c) / (n_p + n_c))"
               " / (CAST(q_p AS DOUBLE) + q_c"
               " - CAST(s_p AS DOUBLE) * s_p / n_p"
               " - CAST(s_c AS DOUBLE) * s_c / n_c)", 6)} AS f_stat
    FROM wide
    """,
    description="Brown-Forsythe (median-centered Levene) test for "
    "equality of spread between purchase and click values: deviations "
    "z = |x - group median| feed a one-way ANOVA F. Values quantize to "
    "exact integer cents, group medians are exact discrete medians, so "
    "every z is an INTEGER — n/sum(z)/sum(z^2) are order-free BIGINT "
    "aggregates and the F statistic is ONE fixed scalar expression "
    "over them (engines cannot diverge). The median is the only "
    "rank-based step: per-group sort at test scale; at 100 TB it "
    "swaps in the two-pass histogram order-statistic "
    "(stats_twopass_exact_median) with the same downstream integers. "
    "Companion to stats_welch_ttest (means) and "
    "stats_permutation_test (distribution-free means): this one "
    "answers the VARIANCE question robustly under non-normality.",
)
def stats_brown_forsythe_variance(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    obs = ev.filter(F.col("event_type").isin("purchase", "click")).select(
        "event_type",
        F.round((F.col("value") * 100).cast("decimal(38,8)"), 0)
        .cast("bigint")
        .alias("cents"),
    ).persist()  # feeds the median pass AND the deviation pass
    wmed = Window.partitionBy("event_type").orderBy("cents")
    wall = Window.partitionBy("event_type")
    med = (
        obs.withColumn("rn", F.row_number().over(wmed))
        .withColumn("n", F.count(F.lit(1)).over(wall))
        .filter(F.col("rn") == F.floor((F.col("n") + 1) / 2))
        .select("event_type", F.col("cents").alias("med_cents"))
    )
    dev = obs.join(F.broadcast(med), "event_type").select(
        "event_type", F.abs(F.col("cents") - F.col("med_cents")).alias("z")
    )
    g = dev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("z").cast("bigint").alias("s"),
        F.sum(F.col("z") * F.col("z")).cast("bigint").alias("q"),
    ).join(F.broadcast(med), "event_type")

    def pick(col: str, et: str) -> F.Column:
        return F.max(F.when(F.col("event_type") == et, F.col(col)))

    wide = g.agg(
        pick("n", "purchase").alias("n_p"),
        pick("s", "purchase").alias("s_p"),
        pick("q", "purchase").alias("q_p"),
        pick("med_cents", "purchase").alias("med_p"),
        pick("n", "click").alias("n_c"),
        pick("s", "click").alias("s_c"),
        pick("q", "click").alias("q_c"),
        pick("med_cents", "click").alias("med_c"),
    )
    sp, sc = F.col("s_p").cast("double"), F.col("s_c").cast("double")
    num = (
        sp * F.col("s_p") / F.col("n_p")
        + sc * F.col("s_c") / F.col("n_c")
        - (F.col("s_p") + F.col("s_c")).cast("double")
        * (F.col("s_p") + F.col("s_c"))
        / (F.col("n_p") + F.col("n_c"))
    )
    den = (
        F.col("q_p").cast("double")
        + F.col("q_c")
        - sp * F.col("s_p") / F.col("n_p")
        - sc * F.col("s_c") / F.col("n_c")
    )
    return wide.select(
        F.col("n_p").alias("n_purchase"),
        F.col("n_c").alias("n_click"),
        dround(F.col("med_p") / 100.0, 2).alias("median_purchase"),
        dround(F.col("med_c") / 100.0, 2).alias("median_click"),
        dround(sp / F.col("n_p") / 100.0, 6).alias("mad_purchase"),
        dround(sc / F.col("n_c") / 100.0, 6).alias("mad_click"),
        dround(
            (F.col("n_p") + F.col("n_c") - 2) * num / den, 6
        ).alias("f_stat"),
    )


# ------------------------------------------------ Kendall's tau-b
@register(
    "stats_kendall_tau_daily",
    oracle=f"""
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS day,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(SUM(CAST(ROUND(CAST(value * 100 AS DECIMAL(38,8)), 0)
                    AS BIGINT)) AS BIGINT) AS cents
        FROM events GROUP BY CAST(ts AS DATE)
    ),
    pairs AS (
        SELECT CASE WHEN (a.n_events - b.n_events)
                         * (a.cents - b.cents) > 0 THEN 1 ELSE 0 END AS con,
               CASE WHEN (a.n_events - b.n_events)
                         * (a.cents - b.cents) < 0 THEN 1 ELSE 0 END AS dis,
               CASE WHEN a.n_events = b.n_events
                         AND a.cents <> b.cents THEN 1 ELSE 0 END AS tx,
               CASE WHEN a.cents = b.cents
                         AND a.n_events <> b.n_events THEN 1 ELSE 0 END AS ty
        FROM daily a JOIN daily b ON a.day < b.day
    ),
    agg AS (
        SELECT CAST((SELECT COUNT(*) FROM daily) AS BIGINT) AS n_days,
               CAST(SUM(con) AS BIGINT) AS c,
               CAST(SUM(dis) AS BIGINT) AS d,
               CAST(SUM(tx) AS BIGINT) AS tx,
               CAST(SUM(ty) AS BIGINT) AS ty
        FROM pairs
    )
    SELECT n_days, c AS concordant, d AS discordant,
           {dround_sql(
               "(CAST(c AS DOUBLE) - d)"
               " / sqrt((CAST(c AS DOUBLE) + d + tx)"
               " * (CAST(c AS DOUBLE) + d + ty))", 6)} AS kendall_tau_b
    FROM agg
    """,
    description="Kendall's tau-b rank correlation between daily event "
    "volume and daily event value — the tie-aware, outlier-immune "
    "companion to stats_spearman_rank_corr (tau has a direct "
    "probabilistic reading: P(concordant) - P(discordant)). Values "
    "quantize to exact integer cents, so concordant / discordant / tie "
    "counts are pure BIGINT comparisons over the DAY-GRAIN aggregate "
    "pair table (O(days^2) pairs of a dim-sized series — at 10 years "
    "that is ~6.6M comparisons, constant in corpus size; the corpus-"
    "scale work is the one groupBy(day) scan). The statistic is one "
    "fixed scalar expression over five exact integers — engines cannot "
    "diverge.",
)
def stats_kendall_tau_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    daily = ev.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.sum(
            F.round((F.col("value") * 100).cast("decimal(38,8)"), 0).cast(
                "bigint"
            )
        )
        .cast("bigint")
        .alias("cents"),
    ).persist()
    a, b = daily.alias("a"), daily.alias("b")
    dx = F.col("a.n_events") - F.col("b.n_events")
    dy = F.col("a.cents") - F.col("b.cents")
    pairs = a.join(b, F.col("a.day") < F.col("b.day")).select(
        F.when(dx * dy > 0, 1).otherwise(0).alias("con"),
        F.when(dx * dy < 0, 1).otherwise(0).alias("dis"),
        F.when((dx == 0) & (dy != 0), 1).otherwise(0).alias("tx"),
        F.when((dy == 0) & (dx != 0), 1).otherwise(0).alias("ty"),
    )
    n_days = daily.agg(F.count(F.lit(1)).cast("bigint").alias("n_days"))
    agg = pairs.agg(
        F.sum("con").cast("bigint").alias("c"),
        F.sum("dis").cast("bigint").alias("d"),
        F.sum("tx").cast("bigint").alias("tx"),
        F.sum("ty").cast("bigint").alias("ty"),
    )
    return agg.crossJoin(F.broadcast(n_days)).select(
        "n_days",
        F.col("c").alias("concordant"),
        F.col("d").alias("discordant"),
        dround(
            (F.col("c").cast("double") - F.col("d"))
            / F.sqrt(
                (F.col("c").cast("double") + F.col("d") + F.col("tx"))
                * (F.col("c").cast("double") + F.col("d") + F.col("ty"))
            ),
            6,
        ).alias("kendall_tau_b"),
    )


# ------------------------------------------------ Kruskal-Wallis H
@register(
    "stats_kruskal_wallis_value_by_type",
    oracle=f"""
    WITH gv AS (
        SELECT value, event_type, CAST(COUNT(*) AS BIGINT) AS n_gv
        FROM events GROUP BY value, event_type
    ),
    tv AS (
        SELECT value, CAST(SUM(n_gv) AS BIGINT) AS t FROM gv GROUP BY value
    ),
    ranked AS (
        SELECT value, t,
               COALESCE(SUM(t) OVER (
                   ORDER BY value
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) AS c_lt
        FROM tv
    ),
    per_g AS (
        SELECT gv.event_type,
               CAST(SUM(gv.n_gv) AS BIGINT) AS n_g,
               SUM(gv.n_gv * (r.c_lt + (r.t + 1) / 2.0)) AS r_g
        FROM gv JOIN ranked r ON gv.value = r.value
        GROUP BY gv.event_type
    ),
    ties AS (
        SELECT SUM(CAST(t AS DOUBLE) * t * t - t) AS tie_sum FROM ranked
    ),
    agg AS (
        SELECT CAST(SUM(n_g) AS BIGINT) AS n,
               CAST(COUNT(*) AS INT) AS k,
               SUM(r_g * r_g / n_g) AS s
        FROM per_g
    )
    SELECT n AS n_total, k AS n_groups,
           {dround_sql(
               "12.0 / (CAST(n AS DOUBLE) * (n + 1)) * s - 3.0 * (n + 1)", 4)}
               AS h_stat,
           {dround_sql(
               "(12.0 / (CAST(n AS DOUBLE) * (n + 1)) * s - 3.0 * (n + 1))"
               " / (1.0 - tie_sum / (CAST(n AS DOUBLE) * n * n - n))", 4)}
               AS h_corrected
    FROM agg CROSS JOIN ties
    """,
    description="Kruskal-Wallis H across ALL event types (the k-sample "
    "generalization of stats_mann_whitney_u): average-rank tie handling "
    "via per-distinct-value group counts + one prefix sum over the "
    "value-grain aggregate — never a row-level global sort. Rank sums "
    "stay EXACT in doubles (c_lt integer + half-integer offsets), so "
    "engines agree bit-for-bit before the final scalar expression. "
    "Same continuous-double caveat as MWU: at 100 TB bin values first "
    "or switch the prefix sum to the partition-offset scheme "
    "(functions/ordered.py).",
)
def stats_kruskal_wallis_value_by_type(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    gv = ev.groupBy("value", "event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_gv")
    )
    tv = gv.groupBy("value").agg(F.sum("n_gv").cast("bigint").alias("t"))
    wp = Window.orderBy("value").rowsBetween(Window.unboundedPreceding, -1)
    ranked = tv.select(
        "value",
        "t",
        F.coalesce(F.sum("t").over(wp), F.lit(0)).alias("c_lt"),
    )
    per_g = (
        gv.join(ranked, "value")
        .groupBy("event_type")
        .agg(
            F.sum("n_gv").cast("bigint").alias("n_g"),
            F.sum(
                F.col("n_gv") * (F.col("c_lt") + (F.col("t") + 1) / 2.0)
            ).alias("r_g"),
        )
    )
    ties = ranked.agg(
        F.sum(
            F.col("t").cast("double") * F.col("t") * F.col("t") - F.col("t")
        ).alias("tie_sum")
    )
    agg = per_g.agg(
        F.sum("n_g").cast("bigint").alias("n"),
        F.count(F.lit(1)).cast("int").alias("k"),
        F.sum(F.col("r_g") * F.col("r_g") / F.col("n_g")).alias("s"),
    )
    nd = F.col("n").cast("double")
    h = 12.0 / (nd * (F.col("n") + 1)) * F.col("s") - 3.0 * (F.col("n") + 1)
    corr = 1.0 - F.col("tie_sum") / (nd * F.col("n") * F.col("n") - F.col("n"))
    return agg.crossJoin(F.broadcast(ties)).select(
        F.col("n").alias("n_total"),
        F.col("k").alias("n_groups"),
        dround(h, 4).alias("h_stat"),
        dround(h / corr, 4).alias("h_corrected"),
    )


# ------------------------------------------------ Ljung-Box portmanteau
@register(
    "stats_ljung_box_daily_volume",
    oracle=f"""
    WITH bounds AS (
        SELECT CAST(MIN(ts) AS DATE) AS lo, CAST(MAX(ts) AS DATE) AS hi
        FROM events
    ),
    calendar AS (
        SELECT CAST(UNNEST(generate_series(lo, hi, INTERVAL 1 DAY)) AS DATE)
               AS day
        FROM bounds
    ),
    raw AS (
        SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS n
        FROM events GROUP BY day
    ),
    daily AS (
        SELECT c.day, COALESCE(r.n, 0) AS n
        FROM calendar c LEFT JOIN raw r ON r.day = c.day
    ),
    stats AS (
        SELECT CAST((SELECT COUNT(*) FROM daily) AS BIGINT) AS n_days,
               (SELECT AVG(CAST(n AS DOUBLE)) FROM daily) AS m,
               (SELECT SUM((CAST(n AS DOUBLE)
                            - (SELECT AVG(CAST(n AS DOUBLE)) FROM daily))
                           * (CAST(n AS DOUBLE)
                              - (SELECT AVG(CAST(n AS DOUBLE)) FROM daily)))
                FROM daily) AS ss
    ),
    lags AS (SELECT UNNEST(range(1, 8)) AS k),
    prods AS (
        SELECT l.k,
               SUM((CAST(a.n AS DOUBLE) - s.m) * (CAST(b.n AS DOUBLE) - s.m))
                   AS num
        FROM lags l
        JOIN daily a ON TRUE
        JOIN daily b ON b.day = a.day + CAST(l.k AS BIGINT) * INTERVAL 1 DAY
        CROSS JOIN stats s
        GROUP BY l.k
    ),
    rho AS (
        SELECT p.k, p.num / s.ss AS r, s.n_days
        FROM prods p CROSS JOIN stats s
    )
    SELECT CAST(a.k AS INT) AS lag,
           {dround_sql("a.r", 6)} AS rho,
           {dround_sql(
               "a.n_days * (a.n_days + 2.0)"
               " * SUM(b.r * b.r / (a.n_days - b.k))", 4)} AS q_stat
    FROM rho a JOIN rho b ON b.k <= a.k
    GROUP BY a.k, a.r, a.n_days
    """,
    description="Ljung-Box portmanteau test on the gap-filled daily "
    "event-volume series: autocorrelations rho_1..rho_7 from day-offset "
    "self-joins on the zero-filled calendar spine (no global sort, no "
    "row-grain window — the spine is #days rows at any corpus size) and "
    "the cumulative Q(h) = n(n+2) * sum rho_k^2/(n-k) per lag, the "
    "standard is-this-series-white-noise gate run before fitting any "
    "forecast model (companion to events_periodicity_autocorr, which "
    "reports raw ACF peaks but no test statistic). Q at lag 7 far above "
    "the chi-square(7) critical value says volume has real temporal "
    "structure worth modelling.",
)
def stats_ljung_box_daily_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    raw = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    bounds = ev.agg(
        F.to_date(F.min("ts")).alias("lo"), F.to_date(F.max("ts")).alias("hi")
    )
    calendar = bounds.select(
        F.explode(F.sequence("lo", "hi", F.expr("INTERVAL 1 DAY"))).alias("day")
    )
    daily = calendar.join(F.broadcast(raw), "day", "left").select(
        "day", F.coalesce("n", F.lit(0)).alias("n")
    ).persist()
    stats = daily.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.avg(F.col("n").cast("double")).alias("m"),
    )
    ss = (
        daily.crossJoin(F.broadcast(stats))
        .agg(
            F.sum(
                (F.col("n").cast("double") - F.col("m"))
                * (F.col("n").cast("double") - F.col("m"))
            ).alias("ss")
        )
    )
    lags = spark.range(1, 8).select(F.col("id").cast("int").alias("k"))
    a = daily.alias("a")
    b = daily.alias("b")
    prods = (
        a.crossJoin(F.broadcast(lags))
        .join(
            b,
            F.col("b.day") == F.expr("date_add(a.day, k)"),
        )
        .crossJoin(F.broadcast(stats.select("m")))
        .groupBy("k")
        .agg(
            F.sum(
                (F.col("a.n").cast("double") - F.col("m"))
                * (F.col("b.n").cast("double") - F.col("m"))
            ).alias("num")
        )
    )
    rho = (
        prods.crossJoin(F.broadcast(ss))
        .crossJoin(F.broadcast(stats.select("n_days")))
        .select("k", (F.col("num") / F.col("ss")).alias("r"), "n_days")
    )
    ra, rb = rho.alias("ra"), rho.alias("rb")
    return (
        ra.join(F.broadcast(rb), F.col("rb.k") <= F.col("ra.k"))
        .groupBy(F.col("ra.k"), F.col("ra.r"), F.col("ra.n_days"))
        .agg(
            F.sum(
                F.col("rb.r") * F.col("rb.r") / (F.col("ra.n_days") - F.col("rb.k"))
            ).alias("qsum")
        )
        .select(
            F.col("ra.k").cast("int").alias("lag"),
            dround(F.col("ra.r"), 6).alias("rho"),
            dround(
                F.col("ra.n_days") * (F.col("ra.n_days") + 2.0) * F.col("qsum"),
                4,
            ).alias("q_stat"),
        )
    )


# --------------------------------------- Hill tail-index estimator
@register(
    "stats_hill_tail_index_orders",
    oracle=f"""
    WITH deg AS (
        SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS k
        FROM orders GROUP BY o_custkey
    ),
    tail AS (
        SELECT k FROM deg ORDER BY k DESC, o_custkey LIMIT 100
    ),
    xmin AS (SELECT MIN(k) AS x_min FROM tail),
    hill AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS k_tail,
               SUM(ln(CAST(t.k AS DOUBLE) / m.x_min)) AS logsum
        FROM tail t CROSS JOIN xmin m
    ),
    tot AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_customers,
               CAST(SUM(k) AS BIGINT) AS n_orders
        FROM deg
    ),
    tailmass AS (SELECT CAST(SUM(k) AS BIGINT) AS tail_orders FROM tail)
    SELECT t.n_customers, t.n_orders,
           CAST(m.x_min AS BIGINT) AS x_min,
           {dround_sql("1.0 + h.k_tail / h.logsum", 4)} AS hill_alpha,
           {dround_sql(
               "CAST(tm.tail_orders AS DOUBLE) / t.n_orders", 6)}
               AS tail_order_share
    FROM hill h CROSS JOIN xmin m CROSS JOIN tot t CROSS JOIN tailmass tm
    """,
    description="Hill estimator of the tail index of the orders-per-"
    "customer distribution (top-100 tail, alpha = 1 + k / sum ln(x_i/"
    "x_min)): the one-number answer to 'how heavy-tailed is this key?' "
    "that drives skew-mitigation choices — alpha near 2 means the "
    "hottest keys dominate shuffle partitions and salting "
    "(skew_salted_join_event_kpis) pays for itself; large alpha means "
    "hash partitioning is already balanced. Degree census is one "
    "groupBy; the tail is TakeOrderedAndProject with a total-order "
    "tiebreak (count desc, custkey), so both engines pick the "
    "identical 100 customers; the log-sum runs over those 100 rows "
    "only.",
)
def stats_hill_tail_index_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders")
    deg = orders.groupBy("o_custkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("k")
    ).persist()
    tail = deg.orderBy(F.col("k").desc(), "o_custkey").limit(100).select("k")
    xmin = tail.agg(F.min("k").alias("x_min"))
    hill = tail.crossJoin(F.broadcast(xmin)).agg(
        F.count(F.lit(1)).cast("bigint").alias("k_tail"),
        F.sum(F.log(F.col("k").cast("double") / F.col("x_min"))).alias(
            "logsum"
        ),
    )
    tot = deg.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_customers"),
        F.sum("k").cast("bigint").alias("n_orders"),
    )
    tailmass = tail.agg(F.sum("k").cast("bigint").alias("tail_orders"))
    return (
        hill.crossJoin(F.broadcast(xmin))
        .crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(tailmass))
        .select(
            "n_customers",
            "n_orders",
            F.col("x_min").cast("bigint").alias("x_min"),
            dround(1.0 + F.col("k_tail") / F.col("logsum"), 4).alias(
                "hill_alpha"
            ),
            dround(
                F.col("tail_orders").cast("double") / F.col("n_orders"), 6
            ).alias("tail_order_share"),
        )
    )


# --------------------------------- Breusch-Pagan heteroscedasticity
@register(
    "stats_breusch_pagan_price_quantity",
    oracle=f"""
    WITH fit AS (
        SELECT REGR_SLOPE(l_extendedprice, l_quantity) AS b,
               REGR_INTERCEPT(l_extendedprice, l_quantity) AS a,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM lineitem
    ),
    resid AS (
        SELECT l.l_quantity AS x,
               (l.l_extendedprice - f.a - f.b * l.l_quantity)
               * (l.l_extendedprice - f.a - f.b * l.l_quantity) AS u,
               f.n, f.a, f.b
        FROM lineitem l CROSS JOIN fit f
    )
    SELECT MAX(n) AS n,
           {dround_sql("MAX(b)", 4)} AS slope,
           {dround_sql("MAX(a)", 4)} AS intercept,
           {dround_sql("CORR(u, x) * CORR(u, x)", 6)} AS r2_aux,
           {dround_sql("MAX(n) * CORR(u, x) * CORR(u, x)", 2)} AS bp_lm
    FROM resid
    """,
    description="Breusch-Pagan heteroscedasticity test on the price ~ "
    "quantity fit (Koenker studentized form: LM = n * R^2 of squared "
    "residuals regressed on the predictor): OLS standard errors and "
    "every CI built on them silently assume constant error variance, "
    "and for a price model that assumption is exactly what fails — "
    "spread grows with quantity — so this is the gate between "
    "stats_price_quantity_regression and trusting its inference. Two "
    "passes: one regr_slope/intercept agg, then a single corr() over "
    "squared residuals (R^2 against one regressor IS corr^2) — no "
    "fourth-moment power sums to lose precision on, both passes "
    "map-side combinable.",
)
def stats_breusch_pagan_price_quantity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    fit = li.agg(
        F.regr_slope("l_extendedprice", "l_quantity").alias("b"),
        F.regr_intercept("l_extendedprice", "l_quantity").alias("a"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
    e = F.col("l_extendedprice") - F.col("a") - F.col("b") * F.col("l_quantity")
    resid = li.crossJoin(F.broadcast(fit)).select(
        F.col("l_quantity").alias("x"),
        (e * e).alias("u"),
        "n",
        "a",
        "b",
    )
    r2 = F.corr("u", "x") * F.corr("u", "x")
    return resid.agg(
        F.max("n").alias("n"),
        dround(F.max("b"), 4).alias("slope"),
        dround(F.max("a"), 4).alias("intercept"),
        dround(r2, 6).alias("r2_aux"),
        dround(F.max("n") * r2, 2).alias("bp_lm"),
    )


# --------------------------------- Durbin-Watson on the daily trend
@register(
    "stats_durbin_watson_daily_revenue",
    oracle=f"""
    WITH bounds AS (
        SELECT MIN(o_orderdate) AS lo, MAX(o_orderdate) AS hi FROM orders
    ),
    calendar AS (
        SELECT CAST(UNNEST(generate_series(lo, hi, INTERVAL 1 DAY)) AS DATE)
               AS day
        FROM bounds
    ),
    raw AS (
        SELECT o_orderdate AS day,
               CAST(SUM(CAST(ROUND(CAST(o_totalprice * 100
                    AS DECIMAL(38,8)), 0) AS BIGINT)) AS BIGINT) AS cents
        FROM orders GROUP BY o_orderdate
    ),
    daily AS (
        SELECT c.day,
               CAST(datediff('day', b.lo, c.day) AS BIGINT) AS t,
               COALESCE(r.cents, 0) / 100.0 AS y
        FROM calendar c LEFT JOIN raw r ON r.day = c.day CROSS JOIN bounds b
    ),
    fit AS (
        SELECT REGR_SLOPE(y, t) AS b, REGR_INTERCEPT(y, t) AS a,
               CAST(COUNT(*) AS BIGINT) AS n_days
        FROM daily
    ),
    resid AS (
        SELECT d.t, d.y - f.a - f.b * d.t AS e, f.n_days, f.a, f.b
        FROM daily d CROSS JOIN fit f
    ),
    dw AS (
        SELECT SUM((c.e - p.e) * (c.e - p.e)) AS num
        FROM resid c JOIN resid p ON p.t = c.t - 1
    ),
    den AS (SELECT SUM(e * e) AS den, MAX(n_days) AS n_days,
                   MAX(a) AS a, MAX(b) AS b
            FROM resid)
    SELECT n_days,
           {dround_sql("b", 4)} AS trend_slope,
           {dround_sql("num / den", 4)} AS durbin_watson
    FROM dw CROSS JOIN den
    """,
    description="Durbin-Watson statistic on the residuals of the daily-"
    "revenue linear trend (gap-filled calendar spine, integer-cents "
    "daily sums): DW near 2 = independent errors, near 0 = positive "
    "serial correlation — the one-number lag-1 companion to the "
    "Ljung-Box portmanteau, and the classic 'is this trend fit "
    "lying to you' check before quoting its standard errors. The "
    "consecutive-residual pairing is a day-offset equi-join on the "
    "day-grain table (t = t-1), never a global-sort window; the OLS "
    "detrend is one regr_slope pass.",
)
def stats_durbin_watson_daily_revenue(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    orders = table(spark, sf_dir, "orders")
    raw = orders.groupBy(F.col("o_orderdate").alias("day")).agg(
        F.sum(
            F.round((F.col("o_totalprice") * 100).cast("decimal(38,8)"), 0).cast(
                "bigint"
            )
        )
        .cast("bigint")
        .alias("cents")
    )
    bounds = orders.agg(
        F.min("o_orderdate").alias("lo"), F.max("o_orderdate").alias("hi")
    )
    calendar = bounds.select(
        F.explode(F.sequence("lo", "hi", F.expr("INTERVAL 1 DAY"))).alias("day")
    )
    daily = (
        calendar.join(F.broadcast(raw), "day", "left")
        .crossJoin(F.broadcast(bounds.select("lo")))
        .select(
            F.datediff("day", "lo").cast("bigint").alias("t"),
            (F.coalesce("cents", F.lit(0)) / 100.0).alias("y"),
        )
        .persist()
    )
    fit = daily.agg(
        F.regr_slope("y", "t").alias("b"),
        F.regr_intercept("y", "t").alias("a"),
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
    )
    resid = daily.crossJoin(F.broadcast(fit)).select(
        "t",
        (F.col("y") - F.col("a") - F.col("b") * F.col("t")).alias("e"),
        "n_days",
        "a",
        "b",
    )
    c, p = resid.alias("c"), resid.alias("p")
    dw = c.join(p, F.col("p.t") == F.col("c.t") - 1).agg(
        F.sum(
            (F.col("c.e") - F.col("p.e")) * (F.col("c.e") - F.col("p.e"))
        ).alias("num")
    )
    den = resid.agg(
        F.sum(F.col("e") * F.col("e")).alias("den"),
        F.max("n_days").alias("n_days"),
        F.max("b").alias("b"),
    )
    return dw.crossJoin(F.broadcast(den)).select(
        "n_days",
        dround(F.col("b"), 4).alias("trend_slope"),
        dround(F.col("num") / F.col("den"), 4).alias("durbin_watson"),
    )


# ------------------------- one-sample KS vs fitted exponential
@register(
    "stats_ks_exponential_interarrival",
    oracle=f"""
    WITH gaps AS (
        SELECT CAST(datediff('microsecond',
                    LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id),
                    ts) AS BIGINT) AS g
        FROM events
    ),
    kept AS (SELECT g FROM gaps WHERE g IS NOT NULL AND g > 0),
    tot AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(g) AS BIGINT) AS sg
        FROM kept
    ),
    vals AS (
        SELECT g, CAST(COUNT(*) AS BIGINT) AS c FROM kept GROUP BY g
    ),
    ranked AS (
        SELECT g, c,
               SUM(c) OVER (ORDER BY g
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        FROM vals
    ),
    dev AS (
        SELECT MAX(CAST(r.cum AS DOUBLE) / t.n
                   - (1.0 - exp(-(CAST(r.g AS DOUBLE) * t.n / t.sg))))
                   AS d_plus,
               MAX((1.0 - exp(-(CAST(r.g AS DOUBLE) * t.n / t.sg)))
                   - CAST(r.cum - r.c AS DOUBLE) / t.n) AS d_minus
        FROM ranked r CROSS JOIN tot t
    )
    SELECT t.n AS n_gaps,
           {dround_sql("3600000000.0 * t.n / t.sg", 6)} AS lambda_per_hour,
           {dround_sql("GREATEST(d.d_plus, d.d_minus)", 6)} AS ks_d,
           {dround_sql("1.36 / sqrt(t.n)", 6)} AS ks_crit_95
    FROM dev d CROSS JOIN tot t
    """,
    description="One-sample Kolmogorov-Smirnov test of per-user "
    "interarrival gaps against the fitted exponential (lambda = 1/mean): "
    "the is-this-a-Poisson-process check underpinning every queueing "
    "assumption (Little's law, capacity planning) and the "
    "overdispersion story events_burstiness_fano tells — KS localizes "
    "WHERE the empirical CDF departs, jump-aware via D+ (cum/n above "
    "the curve) and D- (curve above the pre-jump step). Gaps stay "
    "EXACT integer microseconds; lambda enters as the ratio of two "
    "BIGINTs, so every CDF evaluation is a deterministic expression. "
    "Prefix counts run over the distinct-gap aggregate (continuous "
    "scale: bin or partition-offset at 100 TB, same caveat as the "
    "rank-test family).",
)
def stats_ks_exponential_interarrival(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    wu = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = ev.select(
        (
            F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(wu))
        ).alias("g")
    ).filter(F.col("g").isNotNull() & (F.col("g") > 0))
    tot = gaps.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("g").cast("bigint").alias("sg"),
    )
    vals = gaps.groupBy("g").agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    wv = Window.orderBy("g").rowsBetween(Window.unboundedPreceding, 0)
    ranked = vals.withColumn("cum", F.sum("c").over(wv))
    fexp = 1.0 - F.exp(
        -(F.col("g").cast("double") * F.col("n") / F.col("sg"))
    )
    dev = ranked.crossJoin(F.broadcast(tot)).agg(
        F.max(F.col("cum").cast("double") / F.col("n") - fexp).alias("d_plus"),
        F.max(
            fexp - (F.col("cum") - F.col("c")).cast("double") / F.col("n")
        ).alias("d_minus"),
    )
    return dev.crossJoin(F.broadcast(tot)).select(
        F.col("n").alias("n_gaps"),
        dround(3600000000.0 * F.col("n") / F.col("sg"), 6).alias(
            "lambda_per_hour"
        ),
        dround(F.greatest(F.col("d_plus"), F.col("d_minus")), 6).alias("ks_d"),
        dround(1.36 / F.sqrt(F.col("n")), 6).alias("ks_crit_95"),
    )


# --------------------------------- Gumbel fit of daily maxima (EVT)
@register(
    "stats_gumbel_daily_max_value",
    oracle=f"""
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS day, MAX(value) AS mx
        FROM events GROUP BY CAST(ts AS DATE)
    ),
    mom AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
               AVG(mx) AS m,
               stddev_samp(mx) AS s
        FROM daily
    )
    SELECT n_days,
           {dround_sql("m - 0.5772156649015329 * (s * sqrt(6.0) / pi())", 4)}
               AS gumbel_mu,
           {dround_sql("s * sqrt(6.0) / pi()", 4)} AS gumbel_beta,
           {dround_sql(
               "(m - 0.5772156649015329 * (s * sqrt(6.0) / pi()))"
               " - (s * sqrt(6.0) / pi()) * ln(-ln(1.0 - 1.0 / 30.0))", 4)}
               AS return_level_30d,
           {dround_sql(
               "(m - 0.5772156649015329 * (s * sqrt(6.0) / pi()))"
               " - (s * sqrt(6.0) / pi()) * ln(-ln(1.0 - 1.0 / 365.0))", 4)}
               AS return_level_365d
    FROM mom
    """,
    description="Extreme-value theory capacity planning: method-of-"
    "moments Gumbel fit to the block (daily) maxima of event value — "
    "beta = s*sqrt(6)/pi, mu = mean - gamma*beta — with the 30-day and "
    "365-day return levels (the value exceeded once per period in "
    "expectation). Percentile monitors describe the bulk; the Fisher-"
    "Tippett limit says block maxima are what you must model to answer "
    "'how big is the spike we'll see this year', and the return level "
    "is the provisioning number. One day-grain max agg + one moments "
    "reduce; closed form, no iteration.",
)
def stats_gumbel_daily_max_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    import math

    ev = table(spark, sf_dir, "events")
    daily = ev.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.max("value").alias("mx")
    )
    mom = daily.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.avg("mx").alias("m"),
        F.stddev_samp("mx").alias("s"),
    )
    gamma = 0.5772156649015329
    beta = F.col("s") * math.sqrt(6.0) / math.pi
    mu = F.col("m") - gamma * beta
    rl = lambda p: mu - beta * math.log(-math.log(1.0 - 1.0 / p))  # noqa: E731
    return mom.select(
        "n_days",
        dround(mu, 4).alias("gumbel_mu"),
        dround(beta, 4).alias("gumbel_beta"),
        dround(rl(30.0), 4).alias("return_level_30d"),
        dround(rl(365.0), 4).alias("return_level_365d"),
    )


# --------------------------------- PACF via Durbin-Levinson (lags 1-4)
_DL_SQL = """
    SELECT r1, r2, r3, r4,
           p11,
           (r2 - p11 * r1) / (1 - p11 * r1) AS p22,
           p11 - ((r2 - p11 * r1) / (1 - p11 * r1)) * p11 AS p21
    FROM (SELECT r1, r2, r3, r4, r1 AS p11 FROM pf_rho_wide)
"""


@register(
    "stats_pacf_daily_volume",
    oracle=f"""
    WITH bounds AS (
        SELECT CAST(MIN(ts) AS DATE) AS lo, CAST(MAX(ts) AS DATE) AS hi
        FROM events
    ),
    calendar AS (
        SELECT CAST(UNNEST(generate_series(lo, hi, INTERVAL 1 DAY)) AS DATE)
               AS day
        FROM bounds
    ),
    raw AS (
        SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS n
        FROM events GROUP BY day
    ),
    daily AS (
        SELECT c.day, COALESCE(r.n, 0) AS n
        FROM calendar c LEFT JOIN raw r ON r.day = c.day
    ),
    stats AS (
        SELECT (SELECT AVG(CAST(n AS DOUBLE)) FROM daily) AS m,
               (SELECT SUM((CAST(n AS DOUBLE)
                            - (SELECT AVG(CAST(n AS DOUBLE)) FROM daily))
                           * (CAST(n AS DOUBLE)
                              - (SELECT AVG(CAST(n AS DOUBLE)) FROM daily)))
                FROM daily) AS ss
    ),
    lags AS (SELECT UNNEST(range(1, 5)) AS k),
    rho AS (
        SELECT l.k,
               SUM((CAST(a.n AS DOUBLE) - s.m) * (CAST(b.n AS DOUBLE) - s.m))
                   / MAX(s.ss) AS r
        FROM lags l
        JOIN daily a ON TRUE
        JOIN daily b ON b.day = a.day + CAST(l.k AS BIGINT) * INTERVAL 1 DAY
        CROSS JOIN stats s
        GROUP BY l.k
    ),
    pf_rho_wide AS (
        SELECT MAX(CASE WHEN k = 1 THEN r END) AS r1,
               MAX(CASE WHEN k = 2 THEN r END) AS r2,
               MAX(CASE WHEN k = 3 THEN r END) AS r3,
               MAX(CASE WHEN k = 4 THEN r END) AS r4
        FROM rho
    ),
    dl2 AS ({_DL_SQL}),
    dl3 AS (
        SELECT *,
               (r3 - (p21 * r2 + p22 * r1)) / (1 - (p21 * r1 + p22 * r2))
                   AS p33
        FROM dl2
    ),
    dl3b AS (
        SELECT *, p21 - p33 * p22 AS p31, p22 - p33 * p21 AS p32 FROM dl3
    ),
    dl4 AS (
        SELECT *,
               (r4 - (p31 * r3 + p32 * r2 + p33 * r1))
               / (1 - (p31 * r1 + p32 * r2 + p33 * r3)) AS p44
        FROM dl3b
    )
    SELECT u.lag,
           {dround_sql(
               "CASE u.lag WHEN 1 THEN r1 WHEN 2 THEN r2"
               " WHEN 3 THEN r3 ELSE r4 END", 6)} AS acf,
           {dround_sql(
               "CASE u.lag WHEN 1 THEN p11 WHEN 2 THEN p22"
               " WHEN 3 THEN p33 ELSE p44 END", 6)} AS pacf
    FROM dl4 CROSS JOIN (SELECT UNNEST(range(1, 5)) AS lag) u
    """,
    description="Partial autocorrelation of daily event volume at lags "
    "1-4 via the Durbin-Levinson recursion unrolled to closed-form "
    "scalar algebra over the ACF — PACF is THE AR-order selector (an "
    "AR(p) process cuts off after lag p in PACF but tails forever in "
    "ACF), completing the Box-Jenkins identification kit next to "
    "events_periodicity_autocorr (raw ACF), stats_ljung_box_daily_"
    "volume (portmanteau), and stats_durbin_watson_daily_revenue "
    "(lag-1 residuals). ACF comes from calendar-spine offset joins; "
    "the recursion is four levels of 1-row column arithmetic — "
    "identical expression trees both engines, no iteration, no "
    "matrix solver.",
)
def stats_pacf_daily_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    raw = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    bounds = ev.agg(
        F.to_date(F.min("ts")).alias("lo"), F.to_date(F.max("ts")).alias("hi")
    )
    calendar = bounds.select(
        F.explode(F.sequence("lo", "hi", F.expr("INTERVAL 1 DAY"))).alias("day")
    )
    daily = calendar.join(F.broadcast(raw), "day", "left").select(
        "day", F.coalesce("n", F.lit(0)).alias("n")
    ).persist()
    stats = daily.agg(F.avg(F.col("n").cast("double")).alias("m"))
    ss = daily.crossJoin(F.broadcast(stats)).agg(
        F.sum(
            (F.col("n").cast("double") - F.col("m"))
            * (F.col("n").cast("double") - F.col("m"))
        ).alias("ss")
    )
    lags = spark.range(1, 5).select(F.col("id").cast("int").alias("k"))
    a, b = daily.alias("a"), daily.alias("b")
    rho = (
        a.crossJoin(F.broadcast(lags))
        .join(b, F.col("b.day") == F.expr("date_add(a.day, k)"))
        .crossJoin(F.broadcast(stats))
        .groupBy("k")
        .agg(
            F.sum(
                (F.col("a.n").cast("double") - F.col("m"))
                * (F.col("b.n").cast("double") - F.col("m"))
            ).alias("num")
        )
        .crossJoin(F.broadcast(ss))
        .select("k", (F.col("num") / F.col("ss")).alias("r"))
    )
    wide = rho.agg(
        *[
            F.max(F.when(F.col("k") == i, F.col("r"))).alias(f"r{i}")
            for i in range(1, 5)
        ]
    )
    r1, r2, r3, r4 = [F.col(f"r{i}") for i in range(1, 5)]
    p11 = r1
    p22 = (r2 - p11 * r1) / (1 - p11 * r1)
    p21 = p11 - p22 * p11
    p33 = (r3 - (p21 * r2 + p22 * r1)) / (1 - (p21 * r1 + p22 * r2))
    p31 = p21 - p33 * p22
    p32 = p22 - p33 * p21
    p44 = (r4 - (p31 * r3 + p32 * r2 + p33 * r1)) / (
        1 - (p31 * r1 + p32 * r2 + p33 * r3)
    )
    acfs = {1: r1, 2: r2, 3: r3, 4: r4}
    pacfs = {1: p11, 2: p22, 3: p33, 4: p44}
    out = None
    for lag in range(1, 5):
        row = wide.select(
            F.lit(lag).cast("bigint").alias("lag"),
            dround(acfs[lag], 6).alias("acf"),
            dround(pacfs[lag], 6).alias("pacf"),
        )
        out = row if out is None else out.unionByName(row)
    return out


# --------------------------------- Cook's distance: influential points
@register(
    "stats_cooks_distance_price_quantity",
    oracle=f"""
    WITH fit AS (
        SELECT REGR_SLOPE(l_extendedprice, l_quantity) AS b,
               REGR_INTERCEPT(l_extendedprice, l_quantity) AS a,
               AVG(l_quantity) AS mx,
               SUM((l_quantity - (SELECT AVG(l_quantity) FROM lineitem))
                   * (l_quantity - (SELECT AVG(l_quantity) FROM lineitem)))
                   AS sxx,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM lineitem
    ),
    resid AS (
        SELECT l.l_orderkey, l.l_linenumber,
               l.l_extendedprice - f.a - f.b * l.l_quantity AS e,
               1.0 / f.n + (l.l_quantity - f.mx) * (l.l_quantity - f.mx)
                   / f.sxx AS h,
               f.n
        FROM lineitem l CROSS JOIN fit f
    ),
    mse AS (
        SELECT SUM(e * e) / (MAX(n) - 2) AS s2 FROM resid
    )
    SELECT r.l_orderkey, r.l_linenumber,
           {dround_sql("r.e", 2)} AS residual,
           {dround_sql("r.h", 8)} AS leverage,
           {dround_sql(
               "r.e * r.e / (2.0 * m.s2) * r.h / ((1.0 - r.h) * (1.0 - r.h))",
               8)} AS cooks_d
    FROM resid r CROSS JOIN mse m
    ORDER BY r.e * r.e / (2.0 * m.s2) * r.h / ((1.0 - r.h) * (1.0 - r.h))
                 DESC,
             r.l_orderkey, r.l_linenumber
    LIMIT 10
    """,
    description="Cook's distance top-10 for the price ~ quantity fit: "
    "per-row influence D_i = e_i^2/(p*s^2) * h_i/(1-h_i)^2 with the "
    "simple-regression closed-form leverage h_i = 1/n + (x-xbar)^2/Sxx "
    "— the which-rows-own-this-fit diagnostic that closes the "
    "regression-diagnostics triple (Breusch-Pagan: variance; Durbin-"
    "Watson: serial residuals; Cook: influence), and in a data-quality "
    "pipeline the shortlist of records to audit before trusting any "
    "fitted monitor. Two aggregate passes (fit moments, MSE) broadcast "
    "onto one row-grain scan; top-10 via TakeOrderedAndProject with "
    "(orderkey, linenumber) tiebreak so the boundary is total-ordered.",
)
def stats_cooks_distance_price_quantity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    mx_ = li.agg(F.avg("l_quantity").alias("mx")).collect()[0].mx
    fit = li.agg(
        F.regr_slope("l_extendedprice", "l_quantity").alias("b"),
        F.regr_intercept("l_extendedprice", "l_quantity").alias("a"),
        F.avg("l_quantity").alias("mx"),
        F.sum(
            (F.col("l_quantity") - F.lit(mx_))
            * (F.col("l_quantity") - F.lit(mx_))
        ).alias("sxx"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
    e = F.col("l_extendedprice") - F.col("a") - F.col("b") * F.col("l_quantity")
    h = 1.0 / F.col("n") + (F.col("l_quantity") - F.col("mx")) * (
        F.col("l_quantity") - F.col("mx")
    ) / F.col("sxx")
    resid = li.crossJoin(F.broadcast(fit)).select(
        "l_orderkey",
        "l_linenumber",
        e.alias("e"),
        h.alias("h"),
        "n",
    )
    mse = resid.agg((F.sum(F.col("e") * F.col("e")) / (F.max("n") - 2)).alias("s2"))
    d = (
        F.col("e")
        * F.col("e")
        / (2.0 * F.col("s2"))
        * F.col("h")
        / ((1.0 - F.col("h")) * (1.0 - F.col("h")))
    )
    return (
        resid.crossJoin(F.broadcast(mse))
        .orderBy(d.desc(), "l_orderkey", "l_linenumber")
        .limit(10)
        .select(
            "l_orderkey",
            "l_linenumber",
            dround(F.col("e"), 2).alias("residual"),
            dround(F.col("h"), 8).alias("leverage"),
            dround(d, 8).alias("cooks_d"),
        )
    )


# --------------------------------- TOST equivalence test
@register(
    "stats_tost_equivalence_purchase_click",
    oracle=f"""
    WITH g AS (
        SELECT COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS n1,
               AVG(CASE WHEN event_type = 'purchase' THEN value END) AS m1,
               var_samp(CASE WHEN event_type = 'purchase' THEN value END)
                   AS v1,
               COUNT(CASE WHEN event_type = 'click' THEN 1 END) AS n2,
               AVG(CASE WHEN event_type = 'click' THEN value END) AS m2,
               var_samp(CASE WHEN event_type = 'click' THEN value END) AS v2
        FROM events WHERE event_type IN ('purchase', 'click')
    ),
    calc AS (
        SELECT n1, n2, m1 - m2 AS diff,
               0.05 * (m1 + m2) / 2.0 AS delta,
               sqrt(v1 / n1 + v2 / n2) AS se
        FROM g
    )
    SELECT n1, n2,
           {dround_sql("diff", 4)} AS mean_diff,
           {dround_sql("delta", 4)} AS margin_delta,
           {dround_sql("(diff + delta) / se", 4)} AS z_lower,
           {dround_sql("(delta - diff) / se", 4)} AS z_upper,
           CAST(CASE WHEN (diff + delta) / se > 1.6448536269514722
                      AND (delta - diff) / se > 1.6448536269514722
                     THEN 1 ELSE 0 END AS INT) AS equivalent_at_95
    FROM calc
    """,
    description="TOST equivalence test (two one-sided tests) on "
    "purchase-vs-click mean value with a +-5%-of-grand-mean margin: "
    "stats_welch_ttest_purchase_click can only FAIL to find a "
    "difference — absence of significance is not equivalence — while "
    "TOST positively demonstrates the means are within the margin "
    "(both one-sided z's past 1.645), the correct readout for 'did "
    "this refactor change the metric?' ship gates and A/A tests. Same "
    "one-pass conditional-moments scan as Welch; the verdict is one "
    "exact expression over the six moments.",
)
def stats_tost_equivalence_purchase_click(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("purchase", "click")
    )
    p = F.when(F.col("event_type") == "purchase", F.col("value"))
    c = F.when(F.col("event_type") == "click", F.col("value"))
    g = ev.agg(
        F.count(p).alias("n1"),
        F.avg(p).alias("m1"),
        F.var_samp(p).alias("v1"),
        F.count(c).alias("n2"),
        F.avg(c).alias("m2"),
        F.var_samp(c).alias("v2"),
    )
    diff = F.col("m1") - F.col("m2")
    delta = 0.05 * (F.col("m1") + F.col("m2")) / 2.0
    se = F.sqrt(F.col("v1") / F.col("n1") + F.col("v2") / F.col("n2"))
    zcrit = 1.6448536269514722
    return g.select(
        "n1",
        "n2",
        dround(diff, 4).alias("mean_diff"),
        dround(delta, 4).alias("margin_delta"),
        dround((diff + delta) / se, 4).alias("z_lower"),
        dround((delta - diff) / se, 4).alias("z_upper"),
        F.when(
            ((diff + delta) / se > zcrit) & ((delta - diff) / se > zcrit),
            1,
        )
        .otherwise(0)
        .cast("int")
        .alias("equivalent_at_95"),
    )


# --------------------------------- Fisher / Stouffer combined tests
@register(
    "stats_fisher_combined_pvalue",
    oracle=f"""
    WITH moments AS (
        SELECT e.event_type AS grp,
               COUNT(CASE WHEN v.et = e.event_type THEN 1 END) AS n1,
               AVG(CASE WHEN v.et = e.event_type THEN value END) AS m1,
               var_samp(CASE WHEN v.et = e.event_type THEN value END) AS v1,
               COUNT(CASE WHEN v.et <> e.event_type THEN 1 END) AS n2,
               AVG(CASE WHEN v.et <> e.event_type THEN value END) AS m2,
               var_samp(CASE WHEN v.et <> e.event_type THEN value END) AS v2
        FROM (SELECT DISTINCT event_type FROM events) e
        CROSS JOIN (SELECT event_type AS et, value FROM events) v
        GROUP BY e.event_type
    ),
    tests AS (
        SELECT grp,
               (m1 - m2) / sqrt(v1 / n1 + v2 / n2) AS z,
               GREATEST(
                   1.0 - {_erf_sql("abs((m1 - m2) / sqrt(v1 / n1 + v2 / n2)) / sqrt(2.0)")},
                   1e-12) AS p
        FROM moments
    ),
    comb AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS k,
               -2.0 * SUM(ln(p)) AS x2,
               SUM(z) / sqrt(CAST(COUNT(*) AS DOUBLE)) AS stouffer_z
        FROM tests
    ),
    pval AS (
        SELECT c.k, c.x2, c.stouffer_z,
               EXP(-c.x2 / 2.0)
               * SUM(POWER(c.x2 / 2.0, j.j) / factorial(CAST(j.j AS INT)))
                   AS p_fisher
        FROM comb c
        CROSS JOIN (SELECT UNNEST(range(0, (SELECT k FROM comb))) AS j) j
        GROUP BY c.k, c.x2, c.stouffer_z
    )
    SELECT k AS k_tests, CAST(2 * k AS BIGINT) AS df,
           {dround_sql("x2", 4)} AS fisher_x2,
           {dround_sql("LEAST(p_fisher, 1.0)", 10)} AS p_fisher,
           {dround_sql(
               "(x2 / 2.0 - ln(p_fisher / EXP(-x2 / 2.0))) / ln(10.0)", 4)}
               AS neg_log10_p,
           {dround_sql("stouffer_z", 4)} AS stouffer_z
    FROM pval
    """,
    description="Fisher's combined-probability meta-analysis over the "
    "per-event-type mean-vs-rest z-tests (the same one-scan test family "
    "stats_benjamini_hochberg controls individually): X = -2*sum ln p "
    "~ chi-square(2k), with the survival function computed EXACTLY — "
    "for even df it is the finite Poisson sum exp(-X/2) * sum_{{j<k}} "
    "(X/2)^j/j!, so no incomplete-gamma library is needed and both "
    "engines evaluate the identical closed form. Stouffer's sum-z "
    "companion (sensitive to consistent direction where Fisher is "
    "sensitive to any strong test) rides the same aggregate. BH asks "
    "'WHICH tests are real?'; Fisher asks 'is there ANY effect at "
    "all?' — the global gate run before per-group drill-down.",
)
def stats_fisher_combined_pvalue(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events").select("event_type", "value")
    per = ev.groupBy(F.col("event_type").alias("grp")).agg(
        F.count("value").cast("bigint").alias("n1"),
        F.avg("value").alias("m1"),
        F.var_samp("value").alias("v1"),
    )
    wall0 = Window.partitionBy()
    n_all = F.sum("n1").over(wall0)
    m_all = F.sum(F.col("n1") * F.col("m1")).over(wall0) / n_all
    withg = per.select(
        "*",
        n_all.alias("n_all"),
        m_all.alias("m_all"),
        F.sum(F.col("v1") * (F.col("n1") - 1)).over(wall0).alias("m2_within"),
    ).withColumn(
        "m2_between",
        F.sum(
            F.col("n1")
            * (F.col("m1") - F.col("m_all"))
            * (F.col("m1") - F.col("m_all"))
        ).over(Window.partitionBy("n_all")),
    )
    n2c = F.col("n_all") - F.col("n1")
    m2c = (F.col("n_all") * F.col("m_all") - F.col("n1") * F.col("m1")) / n2c
    m2_total = F.col("m2_within") + F.col("m2_between")
    m2_grp = F.col("v1") * (F.col("n1") - 1)
    delta = F.col("m1") - m2c
    v2c = (
        m2_total - m2_grp - delta * delta * F.col("n1") * n2c / F.col("n_all")
    ) / (n2c - 1)
    zc = (F.col("m1") - m2c) / F.sqrt(
        F.col("v1") / F.col("n1") + v2c / n2c
    )
    tests = withg.select(
        zc.alias("z"),
        F.greatest(
            1.0 - _erf_col(F.abs(zc) / F.sqrt(F.lit(2.0))), F.lit(1e-12)
        ).alias("p"),
    )
    comb = tests.agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        (-2.0 * F.sum(F.log("p"))).alias("x2"),
        (F.sum("z") / F.sqrt(F.count(F.lit(1)).cast("double"))).alias(
            "stouffer_z"
        ),
    )
    js = comb.select(
        "k", "x2", "stouffer_z", F.explode(F.sequence(F.lit(0), F.col("k") - 1)).alias("j")
    )
    pval = js.groupBy("k", "x2", "stouffer_z").agg(
        (
            F.exp(-F.col("x2") / 2.0)
            * F.sum(
                F.pow(F.col("x2") / 2.0, F.col("j"))
                / F.factorial(F.col("j").cast("int"))
            )
        ).alias("p_fisher")
    )
    return pval.select(
        F.col("k").alias("k_tests"),
        (2 * F.col("k")).cast("bigint").alias("df"),
        dround(F.col("x2"), 4).alias("fisher_x2"),
        dround(F.least(F.col("p_fisher"), F.lit(1.0)), 10).alias("p_fisher"),
        dround(
            (
                F.col("x2") / 2.0
                - F.log(F.col("p_fisher") / F.exp(-F.col("x2") / 2.0))
            )
            / F.log(F.lit(10.0)),
            4,
        ).alias("neg_log10_p"),
        dround(F.col("stouffer_z"), 4).alias("stouffer_z"),
    )


# --------------------------------- Bartlett variance homogeneity
@register(
    "stats_bartlett_variance_homogeneity",
    oracle=f"""
    WITH g AS (
        SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
               var_samp(value) AS v
        FROM events GROUP BY event_type
    ),
    agg AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS k,
               CAST(SUM(n) AS BIGINT) AS n_tot,
               SUM((n - 1) * v) / SUM(n - 1) AS sp2,
               SUM((n - 1) * ln(v)) AS sum_ln,
               SUM(1.0 / (n - 1)) AS sum_inv
        FROM g
    )
    SELECT k AS k_groups, n_tot,
           {dround_sql("sp2", 4)} AS pooled_var,
           {dround_sql(
               "((n_tot - k) * ln(sp2) - sum_ln)"
               " / (1.0 + (sum_inv - 1.0 / (n_tot - k)) / (3.0 * (k - 1)))",
               4)} AS bartlett_t
    FROM agg
    """,
    description="Bartlett's test of variance homogeneity across all "
    "event types — the assumption gate in front of "
    "stats_anova_value_by_type (the F-test's p-value is only honest "
    "under equal variances; Bartlett is the most powerful check when "
    "normality holds, and stats_brown_forsythe_variance is its robust "
    "fallback when it doesn't). T = ((N-k) ln s_p^2 - sum (n_i-1) ln "
    "s_i^2) / C against chi-square(k-1), computed entirely from the "
    "|types|-row (n, variance) aggregate: one grouped-moments scan, "
    "one 1-row reduce, no second pass.",
)
def stats_bartlett_variance_homogeneity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    g = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.var_samp("value").alias("v"),
    )
    agg = g.agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum("n").cast("bigint").alias("n_tot"),
        (
            F.sum((F.col("n") - 1) * F.col("v")) / F.sum(F.col("n") - 1)
        ).alias("sp2"),
        F.sum((F.col("n") - 1) * F.log("v")).alias("sum_ln"),
        F.sum(1.0 / (F.col("n") - 1)).alias("sum_inv"),
    )
    t = (
        (F.col("n_tot") - F.col("k")) * F.log("sp2") - F.col("sum_ln")
    ) / (
        1.0
        + (F.col("sum_inv") - 1.0 / (F.col("n_tot") - F.col("k")))
        / (3.0 * (F.col("k") - 1))
    )
    return agg.select(
        F.col("k").alias("k_groups"),
        "n_tot",
        dround(F.col("sp2"), 4).alias("pooled_var"),
        dround(t, 4).alias("bartlett_t"),
    )


# --------------------------------- negative-binomial overdispersion fit
@register(
    "stats_negbin_fit_user_counts",
    oracle=f"""
    WITH c AS (
        SELECT user_id, CAST(COUNT(*) AS BIGINT) AS k
        FROM events GROUP BY user_id
    ),
    mom AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
               AVG(CAST(k AS DOUBLE)) AS m,
               var_samp(CAST(k AS DOUBLE)) AS v
        FROM c
    )
    SELECT n_users,
           {dround_sql("m", 4)} AS mean_events,
           {dround_sql("v", 4)} AS var_events,
           {dround_sql("v / m", 4)} AS dispersion_index,
           {dround_sql("m * m / (v - m)", 4)} AS nb_r,
           {dround_sql("m / v", 6)} AS nb_p
    FROM mom
    """,
    description="Method-of-moments negative-binomial fit to per-user "
    "event counts: dispersion index v/m (Poisson predicts exactly 1; "
    "the observed value quantifies user heterogeneity), NB size r = "
    "m^2/(v-m) and success probability p = m/v — the distributional "
    "model behind BG/NBD-style customer-activity models, and the "
    "user-grain companion to events_burstiness_fano (per-minute "
    "arrivals) and stats_ks_exponential_interarrival (gap law). One "
    "groupBy(user) count + one moments reduce; the fit is a closed "
    "form over three aggregates.",
)
def stats_negbin_fit_user_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    c = ev.groupBy("user_id").agg(F.count(F.lit(1)).cast("bigint").alias("k"))
    mom = c.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        F.avg(F.col("k").cast("double")).alias("m"),
        F.var_samp(F.col("k").cast("double")).alias("v"),
    )
    return mom.select(
        "n_users",
        dround(F.col("m"), 4).alias("mean_events"),
        dround(F.col("v"), 4).alias("var_events"),
        dround(F.col("v") / F.col("m"), 4).alias("dispersion_index"),
        dround(
            F.col("m") * F.col("m") / (F.col("v") - F.col("m")), 4
        ).alias("nb_r"),
        dround(F.col("m") / F.col("v"), 6).alias("nb_p"),
    )


# --------------------------------------- Chatterjee's xi rank correlation
@register(
    "stats_chatterjee_xi_value_by_type",
    oracle="""
    WITH base AS (
        SELECT event_type, event_id, ts, CAST(value AS DOUBLE) AS y
        FROM events
    ),
    ranked AS (
        SELECT event_type, event_id, ts, y,
               COUNT(*) OVER (
                   PARTITION BY event_type ORDER BY y
                   RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS r
        FROM base
    ),
    seq AS (
        SELECT event_type, r,
               LEAD(r) OVER (
                   PARTITION BY event_type ORDER BY ts, event_id
               ) AS r_next
        FROM ranked
    )
    SELECT event_type,
           COUNT(*) AS n,
           ROUND(1.0 - 3.0 * SUM(ABS(r_next - r))
                     / (CAST(COUNT(*) AS DOUBLE) * COUNT(*) - 1), 6)
               AS xi
    FROM seq
    WHERE r_next IS NOT NULL OR r IS NOT NULL
    GROUP BY event_type
    """,
    description="Chatterjee's xi rank correlation (Chatterjee 2021 JASA) "
    "of event value against time order, per event type: xi = 1 - "
    "3*sum|r_(i+1) - r_i| / (n^2 - 1) with r_i = #{y_j <= y_i}, data "
    "walked in (ts, event_id) order. Unlike Pearson/Spearman/Kendall "
    "(already in this family), xi detects ARBITRARY functional "
    "dependence y = f(x) (oscillations included) and is 0 in "
    "expectation under independence — the modern drift/dependence "
    "screen. Both windows are KEYED by event_type (rank via a RANGE "
    "frame that counts ties correctly, the walk via LEAD) — no global "
    "sort; per-type partitions are the 100 TB sharding unit and the "
    "final rollup is #types rows. Note the n term uses n = count of "
    "walk steps per type (rows), matching the estimator's n.",
)
def stats_chatterjee_xi_value_by_type(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = table(spark, sf_dir, "events").select(
        "event_type", "event_id", "ts", F.col("value").cast("double").alias("y")
    )
    w_rank = (
        Window.partitionBy("event_type")
        .orderBy("y")
        .rangeBetween(Window.unboundedPreceding, 0)
    )
    ranked = ev.withColumn("r", F.count(F.lit(1)).over(w_rank))
    w_seq = Window.partitionBy("event_type").orderBy("ts", "event_id")
    seq = ranked.withColumn("r_next", F.lead("r").over(w_seq))
    return seq.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(
            1.0
            - 3.0
            * F.sum(F.abs(F.col("r_next") - F.col("r")))
            / (F.count(F.lit(1)).cast("double") * F.count(F.lit(1)) - 1),
            6,
        ).alias("xi"),
    )


# ----------------- Pettitt nonparametric change-point test (Pettitt 1979)
@register(
    "stats_pettitt_changepoint",
    oracle=f"""
    WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS day,
               ROUND(SUM(o_totalprice), 2) AS rev
        FROM orders GROUP BY 1
    ),
    ranked AS (
        SELECT day, rev,
               CAST(RANK() OVER (ORDER BY rev) AS DOUBLE)
                   + (COUNT(*) OVER (PARTITION BY rev) - 1) / 2.0 AS r,
               ROW_NUMBER() OVER (ORDER BY day) AS k,
               COUNT(*) OVER () AS n
        FROM daily
    ),
    u AS (
        SELECT day, k, n,
               2.0 * SUM(r) OVER (ORDER BY day) - k * (n + 1.0) AS uk
        FROM ranked
    ),
    cp AS (
        SELECT day AS cp_day, ABS(uk) AS k_stat, n
        FROM u WHERE k < n
        ORDER BY ABS(uk) DESC, day ASC LIMIT 1
    )
    SELECT CAST(cp.n AS BIGINT) AS n_days,
           cp.k_stat,
           cp.cp_day AS changepoint_day,
           {dround_sql(
               "2.0 * exp((-6.0 * cp.k_stat * cp.k_stat) / "
               "(CAST(cp.n AS DOUBLE)*cp.n*cp.n + CAST(cp.n AS DOUBLE)*cp.n))",
               6)} AS p_value,
           {dround_sql(
               "(SELECT AVG(rev) FROM daily WHERE day <= cp.cp_day)", 4
           )} AS mean_before,
           {dround_sql(
               "(SELECT AVG(rev) FROM daily WHERE day > cp.cp_day)", 4
           )} AS mean_after
    FROM cp
    """,
    description="Pettitt test (1979) — the rank-based nonparametric "
    "change-point detector (no normality assumption, unlike CUSUM): "
    "U_k = sum_{{i<=k}} sum_{{j>k}} sgn(x_i - x_j) computed in O(n log n) "
    "via the midrank identity U_k = 2*cumsum(r_i) - k(n+1) (ties get "
    "average ranks, so every U_k is an exact half-integer — both engines "
    "agree bitwise with no float discipline needed until the p-value), "
    "K = max|U_k| over k < n with earliest-day tiebreak, and the "
    "approximate significance p ~ 2 exp(-6K^2/(n^3+n^2)). One agg "
    "shuffle collapses 100 TB of orders to the day-grain series; the "
    "rank/prefix windows run over that post-aggregation series "
    "(GLOBAL_WINDOW_OK: day grain). Pre/post means ride along for "
    "effect-size context.",
)
def stats_pettitt_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders")
    daily = orders.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        F.round(F.sum("o_totalprice"), 2).alias("rev")
    )
    ranked = daily.select(
        "day",
        "rev",
        (
            F.rank().over(Window.orderBy("rev")).cast("double")
            + (F.count(F.lit(1)).over(Window.partitionBy("rev")) - 1) / 2.0
        ).alias("r"),
        F.row_number().over(Window.orderBy("day")).alias("k"),
        F.count(F.lit(1)).over(
            Window.rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).alias("n"),
    )
    u = ranked.select(
        "day",
        "k",
        "n",
        (
            2.0
            * F.sum("r").over(
                Window.orderBy("day").rowsBetween(
                    Window.unboundedPreceding, 0
                )
            )
            - F.col("k") * (F.col("n") + 1.0)
        ).alias("uk"),
    )
    cp = (
        u.filter(F.col("k") < F.col("n"))
        .orderBy(F.abs(F.col("uk")).desc(), F.col("day").asc())
        .limit(1)
        .select(
            F.col("day").alias("cp_day"),
            F.abs(F.col("uk")).alias("k_stat"),
            "n",
        )
    )
    nd = F.col("n").cast("double")
    sides = daily.crossJoin(F.broadcast(cp)).agg(
        dround(
            F.avg(F.when(F.col("day") <= F.col("cp_day"), F.col("rev"))), 4
        ).alias("mean_before"),
        dround(
            F.avg(F.when(F.col("day") > F.col("cp_day"), F.col("rev"))), 4
        ).alias("mean_after"),
    )
    return (
        cp.crossJoin(F.broadcast(sides))
        .select(
            F.col("n").cast("bigint").alias("n_days"),
            "k_stat",
            F.col("cp_day").alias("changepoint_day"),
            dround(
                2.0
                * F.exp(
                    (-6.0 * F.col("k_stat") * F.col("k_stat"))
                    / (nd * nd * nd + nd * nd)
                ),
                6,
            ).alias("p_value"),
            "mean_before",
            "mean_after",
        )
    )


# ------------------- Wald sequential probability ratio test (SPRT, 1945)
# Embedded as repr'd Python floats so both engines use the identical
# IEEE-754 constants (libm ln() rounding may differ between engines).
_SPRT_LA = 0.6931471805599453  # ln(p1/p0) = ln(0.30/0.15)
_SPRT_LB = -0.1941560144409575  # ln((1-p1)/(1-p0)) = ln(0.70/0.85)
_SPRT_BOUND = 2.9444389791664403  # ln((1-beta)/alpha) = ln(19), a=b=0.05


@register(
    "stats_sprt_purchase_rate",
    oracle=f"""
    WITH c AS (
        SELECT user_id,
               ROW_NUMBER() OVER (
                   PARTITION BY user_id ORDER BY ts, event_id) AS k,
               SUM(CASE WHEN event_type = 'purchase'
                        THEN {_SPRT_LA!r} ELSE {_SPRT_LB!r} END)
                   OVER (PARTITION BY user_id ORDER BY ts, event_id) AS llr
        FROM events
    ),
    marked AS (
        SELECT user_id, k, llr,
               CASE WHEN llr >= {_SPRT_BOUND!r} THEN 'accept_h1'
                    WHEN llr <= {-_SPRT_BOUND!r} THEN 'accept_h0'
               END AS dec
        FROM c
    ),
    firstk AS (
        SELECT user_id, MIN(k) AS kd
        FROM marked WHERE dec IS NOT NULL GROUP BY user_id
    ),
    decided AS (
        SELECT m.user_id, m.k, m.llr, m.dec
        FROM marked m JOIN firstk f
          ON f.user_id = m.user_id AND f.kd = m.k
    ),
    lastk AS (SELECT user_id, MAX(k) AS kd FROM marked GROUP BY user_id),
    undecided AS (
        SELECT m.user_id, m.k, m.llr, 'undecided' AS dec
        FROM marked m JOIN lastk l
          ON l.user_id = m.user_id AND l.kd = m.k
        WHERE m.user_id NOT IN (SELECT user_id FROM firstk)
    ),
    outcomes AS (
        SELECT * FROM decided UNION ALL SELECT * FROM undecided
    )
    SELECT dec AS decision,
           CAST(COUNT(*) AS BIGINT) AS n_users,
           {dround_sql("AVG(k)", 4)} AS avg_n_events_to_decision,
           {dround_sql("AVG(llr)", 4)} AS avg_llr_at_decision
    FROM outcomes GROUP BY dec ORDER BY dec
    """,
    description="Wald's SPRT (1945) run independently over every user's "
    "event stream: H0 purchase-rate p0=0.15 vs H1 p1=0.3, "
    "alpha=beta=0.05 (log-boundary ln 19); each event adds ln(p1/p0) or "
    "ln((1-p1)/(1-p0)) to the user's log-likelihood ratio and the test "
    "stops at the FIRST boundary crossing — the sequential design that "
    "needs ~half the samples of a fixed-n test. All state is per-user "
    "windows (partitioned cumsum + row_number, never a global sort), so "
    "the plan shards by user at any scale; the three LLR constants are "
    "embedded as repr'd doubles so both engines walk bit-identical "
    "random walks (libm ln() is not cross-engine deterministic). Output "
    "is the per-decision operating summary: user counts, average "
    "stopping time, average terminal LLR.",
)
def stats_sprt_purchase_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    c = ev.select(
        "user_id",
        F.row_number().over(w).alias("k"),
        F.sum(
            F.when(
                F.col("event_type") == "purchase", F.lit(_SPRT_LA)
            ).otherwise(F.lit(_SPRT_LB))
        )
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .alias("llr"),
    )
    marked = c.select(
        "user_id",
        "k",
        "llr",
        F.when(F.col("llr") >= _SPRT_BOUND, "accept_h1")
        .when(F.col("llr") <= -_SPRT_BOUND, "accept_h0")
        .alias("dec"),
    )
    firstk = (
        marked.filter(F.col("dec").isNotNull())
        .groupBy(F.col("user_id").alias("uid"))
        .agg(F.min("k").alias("kd"))
    )
    decided = marked.join(
        firstk,
        (marked.user_id == firstk.uid) & (marked.k == firstk.kd),
    ).select("user_id", "k", "llr", "dec")
    lastk = marked.groupBy(F.col("user_id").alias("uid")).agg(
        F.max("k").alias("kd")
    )
    undecided = (
        marked.join(
            lastk, (marked.user_id == lastk.uid) & (marked.k == lastk.kd)
        )
        .select("user_id", "k", "llr")
        .join(
            firstk.select(F.col("uid").alias("user_id")),
            "user_id",
            "left_anti",
        )
        .select("user_id", "k", "llr", F.lit("undecided").alias("dec"))
    )
    outcomes = decided.unionAll(undecided)
    return (
        outcomes.groupBy(F.col("dec").alias("decision"))
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            dround(F.avg("k"), 4).alias("avg_n_events_to_decision"),
            dround(F.avg("llr"), 4).alias("avg_llr_at_decision"),
        )
        .orderBy("decision")
    )


# ------------------- Mann-Kendall trend test (Mann 1945, Kendall 1975)
@register(
    "stats_mann_kendall_trend",
    oracle=f"""
    WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS day,
               CAST(SUM(CAST(ROUND(CAST(o_totalprice * 100 AS DECIMAL(38,8)),
                    0) AS BIGINT)) AS BIGINT) AS cents
        FROM orders GROUP BY 1
    ),
    s AS (
        SELECT CAST(SUM(CASE WHEN b.cents > a.cents THEN 1
                             WHEN b.cents < a.cents THEN -1
                             ELSE 0 END) AS BIGINT) AS s_stat
        FROM daily a JOIN daily b ON a.day < b.day
    ),
    nties AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(COALESCE(SUM(CASE WHEN t > 1
                   THEN t*(t-1)*(2*t+5) ELSE 0 END), 0) AS BIGINT) AS tie_term
        FROM (SELECT COUNT(*) AS t FROM daily GROUP BY cents)
    ),
    z AS (
        SELECT n, s_stat,
               (CAST(n AS DOUBLE)*(n-1)*(2*n+5) - tie_term) / 18.0 AS var_s
        FROM s, nties
    )
    SELECT n AS n_days, s_stat,
           {dround_sql("var_s", 4)} AS var_s,
           {dround_sql(
               "CASE WHEN s_stat > 0 THEN (s_stat - 1) / sqrt(var_s) "
               "WHEN s_stat < 0 THEN (s_stat + 1) / sqrt(var_s) "
               "ELSE 0.0 END", 4)} AS z_score,
           CASE WHEN s_stat > 0 THEN 'increasing'
                WHEN s_stat < 0 THEN 'decreasing'
                ELSE 'no_trend' END AS trend,
           ABS(CASE WHEN s_stat > 0 THEN (s_stat - 1) / sqrt(var_s)
                    WHEN s_stat < 0 THEN (s_stat + 1) / sqrt(var_s)
                    ELSE 0.0 END) > 1.959964 AS significant_05
    FROM z
    """,
    description="Mann-Kendall trend test — the standard nonparametric "
    "monotone-trend detector (hydrology/climatology's default, and the "
    "trend complement to stats_pettitt_changepoint's step detector): "
    "S = sum over day pairs of sgn(x_j - x_i), tie-corrected variance "
    "(n(n-1)(2n+5) - sum t(t-1)(2t+5))/18, continuity-corrected "
    "Z = (S -/+ 1)/sqrt(Var). Revenue is integer CENTS (the "
    "stats_kendall_tau_daily discipline) so S and the tie term are "
    "EXACT integers on both engines regardless of aggregation order; "
    "the only float ops are the final division and sqrt over identical "
    "inputs. The pair comparison is a broadcast nested-loop over the "
    "DAY-GRAIN aggregate (bounded by calendar span, not data volume — "
    "one agg shuffle collapses 100 TB first); Sen's slope lives in the "
    "companion stats_theil_sen_daily_trend.",
)
def stats_mann_kendall_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders")
    daily = orders.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        F.sum(
            F.round((F.col("o_totalprice") * 100).cast("decimal(38,8)"), 0)
            .cast("bigint")
        )
        .cast("bigint")
        .alias("cents")
    ).persist()  # feeds the pair join, the tie groups, and the count
    a = daily.select(F.col("day").alias("day_a"), F.col("cents").alias("ca"))
    b = daily.select(F.col("day").alias("day_b"), F.col("cents").alias("cb"))
    s = a.join(b, F.col("day_a") < F.col("day_b")).agg(
        F.sum(
            F.when(F.col("cb") > F.col("ca"), 1)
            .when(F.col("cb") < F.col("ca"), -1)
            .otherwise(0)
        )
        .cast("bigint")
        .alias("s_stat")
    )
    nties = (
        daily.groupBy("cents")
        .agg(F.count(F.lit(1)).alias("t"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.coalesce(
                F.sum(
                    F.when(
                        F.col("t") > 1,
                        F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5),
                    ).otherwise(0)
                ),
                F.lit(0),
            )
            .cast("bigint")
            .alias("tie_term"),
        )
    )
    z = s.crossJoin(F.broadcast(nties)).select(
        "n",
        "s_stat",
        (
            (
                F.col("n").cast("double")
                * (F.col("n") - 1)
                * (2 * F.col("n") + 5)
                - F.col("tie_term")
            )
            / 18.0
        ).alias("var_s"),
    )
    zsc = (
        F.when(
            F.col("s_stat") > 0,
            (F.col("s_stat") - 1) / F.sqrt(F.col("var_s")),
        )
        .when(
            F.col("s_stat") < 0,
            (F.col("s_stat") + 1) / F.sqrt(F.col("var_s")),
        )
        .otherwise(F.lit(0.0))
    )
    return z.select(
        F.col("n").alias("n_days"),
        "s_stat",
        dround("var_s", 4).alias("var_s"),
        dround(zsc, 4).alias("z_score"),
        F.when(F.col("s_stat") > 0, "increasing")
        .when(F.col("s_stat") < 0, "decreasing")
        .otherwise("no_trend")
        .alias("trend"),
        (F.abs(zsc) > 1.959964).alias("significant_05"),
    )


# ----------------- Granger causality, lag-1, day grain (Granger 1969)
@register(
    "stats_granger_causality_daily",
    oracle=f"""
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS day,
               CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                    AS BIGINT) AS c,
               CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                    AS BIGINT) AS p
        FROM events GROUP BY 1
    ),
    lagged AS (
        SELECT p AS y,
               LAG(p) OVER (ORDER BY day) AS yl,
               LAG(c) OVER (ORDER BY day) AS xl
        FROM daily
    ),
    m AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(y) AS BIGINT) AS sy,
               CAST(SUM(yl) AS BIGINT) AS syl,
               CAST(SUM(xl) AS BIGINT) AS sxl,
               CAST(SUM(y*y) AS BIGINT) AS sy2,
               CAST(SUM(yl*yl) AS BIGINT) AS syl2,
               CAST(SUM(xl*xl) AS BIGINT) AS sxl2,
               CAST(SUM(y*yl) AS BIGINT) AS syyl,
               CAST(SUM(y*xl) AS BIGINT) AS syxl,
               CAST(SUM(yl*xl) AS BIGINT) AS sylxl
        FROM lagged WHERE yl IS NOT NULL
    ),
    r AS (
        SELECT *,
               (CAST(n AS DOUBLE)*syyl - CAST(syl AS DOUBLE)*sy)
                   / (CAST(n AS DOUBLE)*syl2 - CAST(syl AS DOUBLE)*syl)
                   AS br
        FROM m
    ),
    r2 AS (
        SELECT *, (sy - br*syl) / n AS ar,
               CAST(n AS DOUBLE)*(CAST(syl2 AS DOUBLE)*sxl2
                    - CAST(sylxl AS DOUBLE)*sylxl)
               - CAST(syl AS DOUBLE)*(CAST(syl AS DOUBLE)*sxl2
                    - CAST(sylxl AS DOUBLE)*sxl)
               + CAST(sxl AS DOUBLE)*(CAST(syl AS DOUBLE)*sylxl
                    - CAST(syl2 AS DOUBLE)*sxl) AS det
        FROM r
    ),
    u AS (
        SELECT *,
               (CAST(sy AS DOUBLE)*(CAST(syl2 AS DOUBLE)*sxl2
                    - CAST(sylxl AS DOUBLE)*sylxl)
                - CAST(syl AS DOUBLE)*(CAST(syyl AS DOUBLE)*sxl2
                    - CAST(sylxl AS DOUBLE)*syxl)
                + CAST(sxl AS DOUBLE)*(CAST(syyl AS DOUBLE)*sylxl
                    - CAST(syl2 AS DOUBLE)*syxl)) / det AS au,
               (CAST(n AS DOUBLE)*(CAST(syyl AS DOUBLE)*sxl2
                    - CAST(sylxl AS DOUBLE)*syxl)
                - CAST(sy AS DOUBLE)*(CAST(syl AS DOUBLE)*sxl2
                    - CAST(sylxl AS DOUBLE)*sxl)
                + CAST(sxl AS DOUBLE)*(CAST(syl AS DOUBLE)*syxl
                    - CAST(syyl AS DOUBLE)*sxl)) / det AS bu,
               (CAST(n AS DOUBLE)*(CAST(syl2 AS DOUBLE)*syxl
                    - CAST(syyl AS DOUBLE)*sylxl)
                - CAST(syl AS DOUBLE)*(CAST(syl AS DOUBLE)*syxl
                    - CAST(syyl AS DOUBLE)*sxl)
                + CAST(sy AS DOUBLE)*(CAST(syl AS DOUBLE)*sylxl
                    - CAST(syl2 AS DOUBLE)*sxl)) / det AS cu
        FROM r2
    ),
    rss AS (
        SELECT n,
               sy2 - ar*sy - br*syyl AS rss_r,
               sy2 - au*sy - bu*syyl - cu*syxl AS rss_u,
               bu, cu
        FROM u
    )
    SELECT CAST(n AS BIGINT) AS n_obs,
           {dround_sql("rss_r", 4)} AS rss_restricted,
           {dround_sql("rss_u", 4)} AS rss_unrestricted,
           {dround_sql("bu", 6)} AS coef_lag_purchases,
           {dround_sql("cu", 6)} AS coef_lag_clicks,
           {dround_sql("(rss_r - rss_u) / (rss_u / (n - 3))", 4)} AS f_stat,
           {dround_sql("(rss_r - rss_u) / (rss_u / (n - 3))", 4)}
               > 3.8415 AS granger_significant_05
    FROM rss
    """,
    description="Granger causality (1969), lag 1, at day grain: do "
    "yesterday's CLICKS improve the prediction of today's PURCHASES "
    "beyond yesterday's purchases alone? Restricted OLS (p_t ~ p_t-1) "
    "vs unrestricted (p_t ~ p_t-1 + c_t-1) solved in closed form — the "
    "3x3 normal equations by explicit Cramer cofactors — and the Wald "
    "F = (RSS_r - RSS_u)/(RSS_u/(n-3)) against F(1,inf) at 5%. Every "
    "moment is a sum of INTEGER day counts and their products (exact "
    "in doubles far past this fixture's magnitudes), so the distributed "
    "aggregation order cannot perturb a bit; both engines then evaluate "
    "the identical rational formulas. One agg shuffle collapses 100 TB "
    "of events to the day series; the lag window runs at day grain "
    "(GLOBAL_WINDOW_OK). RSS via the moment identity "
    "RSS = Syy - a*Sy - b*Syyl - c*Syxl (no residual second pass).",
)
def stats_granger_causality_daily(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    daily = ev.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
        .cast("bigint")
        .alias("c"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("bigint")
        .alias("p"),
    )
    w = Window.orderBy("day")
    lagged = daily.select(
        F.col("p").alias("y"),
        F.lag("p").over(w).alias("yl"),
        F.lag("c").over(w).alias("xl"),
    ).filter(F.col("yl").isNotNull())
    m = lagged.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum("yl").cast("bigint").alias("syl"),
        F.sum("xl").cast("bigint").alias("sxl"),
        F.sum(F.col("y") * F.col("y")).cast("bigint").alias("sy2"),
        F.sum(F.col("yl") * F.col("yl")).cast("bigint").alias("syl2"),
        F.sum(F.col("xl") * F.col("xl")).cast("bigint").alias("sxl2"),
        F.sum(F.col("y") * F.col("yl")).cast("bigint").alias("syyl"),
        F.sum(F.col("y") * F.col("xl")).cast("bigint").alias("syxl"),
        F.sum(F.col("yl") * F.col("xl")).cast("bigint").alias("sylxl"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    br = (d("n") * F.col("syyl") - d("syl") * F.col("sy")) / (
        d("n") * F.col("syl2") - d("syl") * F.col("syl")
    )
    r = m.select("*", br.alias("br"))
    det = (
        d("n") * (d("syl2") * F.col("sxl2") - d("sylxl") * F.col("sylxl"))
        - d("syl") * (d("syl") * F.col("sxl2") - d("sylxl") * F.col("sxl"))
        + d("sxl") * (d("syl") * F.col("sylxl") - d("syl2") * F.col("sxl"))
    )
    r2 = r.select(
        "*",
        ((F.col("sy") - F.col("br") * F.col("syl")) / F.col("n")).alias("ar"),
        det.alias("det"),
    )
    au = (
        d("sy") * (d("syl2") * F.col("sxl2") - d("sylxl") * F.col("sylxl"))
        - d("syl") * (d("syyl") * F.col("sxl2") - d("sylxl") * F.col("syxl"))
        + d("sxl") * (d("syyl") * F.col("sylxl") - d("syl2") * F.col("syxl"))
    ) / F.col("det")
    bu = (
        d("n") * (d("syyl") * F.col("sxl2") - d("sylxl") * F.col("syxl"))
        - d("sy") * (d("syl") * F.col("sxl2") - d("sylxl") * F.col("sxl"))
        + d("sxl") * (d("syl") * F.col("syxl") - d("syyl") * F.col("sxl"))
    ) / F.col("det")
    cu = (
        d("n") * (d("syl2") * F.col("syxl") - d("syyl") * F.col("sylxl"))
        - d("syl") * (d("syl") * F.col("syxl") - d("syyl") * F.col("sxl"))
        + d("sy") * (d("syl") * F.col("sylxl") - d("syl2") * F.col("sxl"))
    ) / F.col("det")
    u = r2.select("*", au.alias("au"), bu.alias("bu"), cu.alias("cu"))
    rss = u.select(
        "n",
        "bu",
        "cu",
        (F.col("sy2") - F.col("ar") * F.col("sy")
         - F.col("br") * F.col("syyl")).alias("rss_r"),
        (F.col("sy2") - F.col("au") * F.col("sy")
         - F.col("bu") * F.col("syyl")
         - F.col("cu") * F.col("syxl")).alias("rss_u"),
    )
    fstat = dround(
        (F.col("rss_r") - F.col("rss_u"))
        / (F.col("rss_u") / (F.col("n") - 3)),
        4,
    )
    return rss.select(
        F.col("n").alias("n_obs"),
        dround("rss_r", 4).alias("rss_restricted"),
        dround("rss_u", 4).alias("rss_unrestricted"),
        dround("bu", 6).alias("coef_lag_purchases"),
        dround("cu", 6).alias("coef_lag_clicks"),
        fstat.alias("f_stat"),
        (fstat > 3.8415).alias("granger_significant_05"),
    )


# ------------- split conformal prediction intervals (Vovk et al. 2005)
@register(
    "stats_conformal_interval_coverage",
    oracle=f"""
    WITH base AS (
        SELECT o.o_orderkey AS okey,
               CAST(ROUND(CAST(o.o_totalprice * 100 AS DECIMAL(38,8)), 0)
                    AS BIGINT) AS y_cents,
               CAST(ROUND(CAST(SUM(l.l_quantity) AS DECIMAL(38,8)), 0)
                    AS BIGINT) AS q,
               CAST(('0x' || substr(md5(CAST(o.o_orderkey AS VARCHAR)), 1,
                    12)) AS BIGINT) % 4 AS fold
        FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        GROUP BY o.o_orderkey, o.o_totalprice
    ),
    m AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(q) AS BIGINT) AS sq,
               CAST(SUM(y_cents) AS BIGINT) AS sy,
               CAST(SUM(q*q) AS BIGINT) AS sqq,
               CAST(SUM(q*y_cents) AS BIGINT) AS sqy
        FROM base WHERE fold >= 2
    ),
    fit AS (
        SELECT n AS n_train,
               (CAST(n AS DOUBLE)*sqy - CAST(sq AS DOUBLE)*sy)
                   / (CAST(n AS DOUBLE)*sqq - CAST(sq AS DOUBLE)*sq) AS b
        FROM m
    ),
    fit2 AS (
        SELECT n_train, b, (sy - b*sq) / n AS a
        FROM fit, m
    ),
    cal AS (
        SELECT abs(y_cents - (a + b*q)) AS r, okey
        FROM base, fit2 WHERE fold = 1
    ),
    kq AS (
        SELECT r AS q_hat,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM cal) AS n_cal
        FROM (
            SELECT r, ROW_NUMBER() OVER (ORDER BY r, okey) AS rn FROM cal
        ), (SELECT COUNT(*) AS nc FROM cal)
        WHERE rn = CAST(ceil((nc + 1) * 0.9) AS BIGINT)
    ),
    test AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_test,
               CAST(SUM(CASE WHEN abs(y_cents - (a + b*q)) <= q_hat
                             THEN 1 ELSE 0 END) AS BIGINT) AS covered
        FROM base, fit2, kq WHERE fold = 0
    )
    SELECT f.n_train, k.n_cal, t.n_test,
           {dround_sql("f.b", 6)} AS slope_cents_per_unit,
           {dround_sql("f.a", 4)} AS intercept_cents,
           {dround_sql("k.q_hat", 4)} AS q_hat_cents,
           {dround_sql(
               "CAST(t.covered AS DOUBLE) / t.n_test", 4)} AS coverage,
           CAST(0.9 AS DOUBLE) AS target_coverage
    FROM fit2 f, kq k, test t
    """,
    description="Split conformal prediction intervals (Vovk et al. 2005; "
    "Lei et al. 2018) — the distribution-free interval wrapper every "
    "production regressor should ship with: hash-split orders into "
    "train/calibration/test (md5 fold, engine-portable), fit OLS "
    "price ~ order quantity on train, take the ceil((n_cal+1)*0.9)-th "
    "smallest absolute calibration residual as the interval half-width "
    "q_hat, and audit empirical test coverage against the 90% target — "
    "the finite-sample guarantee needs NO distributional assumption. "
    "Price is integer CENTS and quantity integer units, so every OLS "
    "moment is an exact integer and both engines fit identical "
    "coefficients; the calibration order statistic uses a rank window "
    "with orderkey tiebreak (GLOBAL_WINDOW_OK — at 1e9+ calibration "
    "rows this becomes the two-pass histogram selection of "
    "stats_twopass_exact_median, noted here). One join + one agg "
    "collapse 100 TB; scoring passes are scan-shaped.",
)
def stats_conformal_interval_coverage(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from healthcare_data_lakehouse_spark.functions.dedup import token_hash48

    orders = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    base = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .groupBy("o_orderkey", "o_totalprice")
        .agg(
            F.round(F.sum("l_quantity").cast("decimal(38,8)"), 0)
            .cast("bigint")
            .alias("q")
        )
        .select(
            F.col("o_orderkey").alias("okey"),
            F.round((F.col("o_totalprice") * 100).cast("decimal(38,8)"), 0)
            .cast("bigint")
            .alias("y_cents"),
            "q",
            (token_hash48(F.col("o_orderkey").cast("string")) % 4).alias(
                "fold"
            ),
        )
        .persist()  # feeds the fit, the calibration rank, and the test scan
    )
    m = base.filter(F.col("fold") >= 2).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("q").cast("bigint").alias("sq"),
        F.sum("y_cents").cast("bigint").alias("sy"),
        F.sum(F.col("q") * F.col("q")).cast("bigint").alias("sqq"),
        F.sum(F.col("q") * F.col("y_cents")).cast("bigint").alias("sqy"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    fit = m.select(
        F.col("n").alias("n_train"),
        (
            (d("n") * F.col("sqy") - d("sq") * F.col("sy"))
            / (d("n") * F.col("sqq") - d("sq") * F.col("sq"))
        ).alias("b"),
        "sy",
        "sq",
        "n",
    ).select(
        "n_train",
        "b",
        ((F.col("sy") - F.col("b") * F.col("sq")) / F.col("n")).alias("a"),
    )
    cal = base.filter(F.col("fold") == 1).crossJoin(F.broadcast(fit)).select(
        F.abs(
            F.col("y_cents") - (F.col("a") + F.col("b") * F.col("q"))
        ).alias("r"),
        "okey",
    )
    nc = cal.agg(F.count(F.lit(1)).cast("bigint").alias("n_cal"))
    wq = Window.orderBy("r", "okey")
    kq = (
        cal.crossJoin(F.broadcast(nc))
        .withColumn("rn", F.row_number().over(wq))
        .filter(
            F.col("rn")
            == F.ceil((F.col("n_cal") + 1) * 0.9).cast("bigint")
        )
        .select(F.col("r").alias("q_hat"), "n_cal")
    )
    test = (
        base.filter(F.col("fold") == 0)
        .crossJoin(F.broadcast(fit))
        .crossJoin(F.broadcast(kq.select("q_hat")))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_test"),
            F.sum(
                F.when(
                    F.abs(
                        F.col("y_cents")
                        - (F.col("a") + F.col("b") * F.col("q"))
                    )
                    <= F.col("q_hat"),
                    1,
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("covered"),
        )
    )
    return (
        fit.crossJoin(F.broadcast(kq))
        .crossJoin(F.broadcast(test))
        .select(
            "n_train",
            "n_cal",
            "n_test",
            dround("b", 6).alias("slope_cents_per_unit"),
            dround("a", 4).alias("intercept_cents"),
            dround("q_hat", 4).alias("q_hat_cents"),
            dround(
                F.col("covered").cast("double") / F.col("n_test"), 4
            ).alias("coverage"),
            F.lit(0.9).alias("target_coverage"),
        )
    )


# --------------------- Hurst exponent via rescaled-range (Hurst 1951)
_RS_SIZES = (8, 16, 32, 64)


@register(
    "stats_hurst_rescaled_range",
    oracle=f"""
    WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS day,
               CAST(SUM(CAST(ROUND(CAST(o_totalprice * 100 AS DECIMAL(38,8)),
                    0) AS BIGINT)) AS BIGINT) AS cents
        FROM orders GROUP BY 1
    ),
    seq AS (
        SELECT cents, ROW_NUMBER() OVER (ORDER BY day) AS rn FROM daily
    ),
    blocks AS (
        SELECT s.sz, (rn - 1) // s.sz AS blk, rn, cents
        FROM seq, (SELECT UNNEST([{", ".join(str(s) for s in _RS_SIZES)}])
                   AS sz) s
    ),
    full_blocks AS (
        SELECT sz, blk FROM blocks GROUP BY sz, blk
        HAVING COUNT(*) = sz
    ),
    bstat AS (
        -- squared cents overflow BIGINT on big fixtures (caught by the
        -- open-fixture scale run): moments ride DECIMAL(38,0), exact
        -- under any aggregation order, and the variance numerator
        -- sz*scc - sc^2 cancels in DECIMAL before any double cast
        SELECT b.sz, b.blk,
               CAST(SUM(b.cents) AS BIGINT) AS sc,
               SUM(CAST(b.cents AS DECIMAL(38,0)) * b.cents) AS scc
        FROM blocks b JOIN full_blocks f
          ON f.sz = b.sz AND f.blk = b.blk
        GROUP BY b.sz, b.blk
    ),
    vstat AS (
        SELECT sz, blk, sc,
               CAST(sz * scc - CAST(sc AS DECIMAL(38,0)) * sc AS DOUBLE)
                   AS var_num
        FROM bstat
    ),
    dev AS (
        SELECT b.sz, b.blk, b.rn,
               SUM(b.cents - CAST(s.sc AS DOUBLE) / b.sz) OVER (
                   PARTITION BY b.sz, b.blk ORDER BY b.rn) AS cum
        FROM blocks b JOIN vstat s ON s.sz = b.sz AND s.blk = b.blk
    ),
    rs AS (
        SELECT d.sz, d.blk,
               (MAX(d.cum) - MIN(d.cum))
                   / sqrt(s.var_num / (CAST(d.sz AS DOUBLE) * d.sz))
                   AS rs_val
        FROM dev d JOIN vstat s ON s.sz = d.sz AND s.blk = d.blk
        GROUP BY d.sz, d.blk, s.var_num
        HAVING s.var_num > 0
    ),
    per_size AS (
        SELECT sz, CAST(COUNT(*) AS BIGINT) AS n_blocks,
               {dround_sql("AVG(rs_val)", 6)} AS avg_rs
        FROM rs GROUP BY sz
    ),
    fitm AS (
        SELECT CAST(COUNT(*) AS DOUBLE) AS k,
               SUM(ln(CAST(sz AS DOUBLE))) AS sx,
               SUM(ln(avg_rs)) AS sy,
               SUM(ln(CAST(sz AS DOUBLE)) * ln(CAST(sz AS DOUBLE))) AS sxx,
               SUM(ln(CAST(sz AS DOUBLE)) * ln(avg_rs)) AS sxy
        FROM per_size
    ),
    h AS (
        SELECT (k*sxy - sx*sy) / (k*sxx - sx*sx) AS hurst FROM fitm
    )
    SELECT CAST(p.sz AS BIGINT) AS window_size, p.n_blocks, p.avg_rs,
           {dround_sql("h.hurst", 4)} AS hurst_exponent
    FROM per_size p, h ORDER BY p.sz
    """,
    description="Hurst exponent by rescaled-range (R/S) analysis (Hurst "
    "1951; Mandelbrot-Wallis 1969) on daily order revenue — the "
    "long-range-dependence diagnostic complementing "
    "stats_pacf_daily_volume (short memory) and stats_ljung_box "
    "(portmanteau): for window sizes 8/16/32/64 days the series splits "
    "into full blocks, each block's range of mean-centered cumulative "
    "sums is rescaled by its population SD, and the log-log slope of "
    "avg(R/S) against window size estimates H (0.5 = random walk, "
    ">0.5 persistent). Revenue is integer cents, so block sums/squares "
    "are exact (DECIMAL(38,0) — squared cents overflow BIGINT, caught "
    "by the open-fixture scale run) and the SD's cancellation-prone "
    "numerator sz*scc - sc^2 is computed in decimal, "
    "(never a float variance aggregate whose order could drift); the "
    "cumulative deviations are per-block ordered windows (block grain "
    "at any scale). One agg shuffle collapses 100 TB to the day series; "
    "the single global row-number runs at day grain (GLOBAL_WINDOW_OK). "
    "avg_rs is dround-pinned before the 4-point log-log fit.",
)
def stats_hurst_rescaled_range(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    orders = table(spark, sf_dir, "orders")
    daily = orders.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        F.sum(
            F.round((F.col("o_totalprice") * 100).cast("decimal(38,8)"), 0)
            .cast("bigint")
        )
        .cast("bigint")
        .alias("cents")
    )
    seq = daily.select(
        "cents", F.row_number().over(Window.orderBy("day")).alias("rn")
    )
    blocks = seq.select(
        "cents",
        "rn",
        F.explode(F.array(*[F.lit(s) for s in _RS_SIZES])).alias("sz"),
    ).select(
        "sz",
        ((F.col("rn") - 1) / F.col("sz")).cast("bigint").alias("blk"),
        "rn",
        "cents",
    )
    full_blocks = (
        blocks.groupBy("sz", "blk")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") == F.col("sz"))
        .select("sz", "blk")
    )
    fb = blocks.join(full_blocks, ["sz", "blk"])
    # squared cents overflow BIGINT on big fixtures (caught by the
    # open-fixture scale run): moments ride DECIMAL(38,0), exact under
    # any aggregation order, and the variance numerator sz*scc - sc^2
    # cancels in DECIMAL before any double cast
    bstat = fb.groupBy("sz", "blk").agg(
        F.sum("cents").cast("bigint").alias("sc"),
        F.sum(F.col("cents").cast("decimal(38,0)") * F.col("cents")).alias(
            "scc"
        ),
    )
    vstat = bstat.select(
        "sz",
        "blk",
        "sc",
        (
            F.col("sz") * F.col("scc")
            - F.col("sc").cast("decimal(38,0)") * F.col("sc")
        )
        .cast("double")
        .alias("var_num"),
    )
    wcum = (
        Window.partitionBy("sz", "blk")
        .orderBy("rn")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    dev = fb.join(vstat, ["sz", "blk"]).select(
        "sz",
        "blk",
        "var_num",
        F.sum(
            F.col("cents") - F.col("sc").cast("double") / F.col("sz")
        )
        .over(wcum)
        .alias("cum"),
    )
    rs = (
        dev.groupBy("sz", "blk", "var_num")
        .agg(F.max("cum").alias("mx"), F.min("cum").alias("mn"))
        .filter(F.col("var_num") > 0)
        .select(
            "sz",
            (
                (F.col("mx") - F.col("mn"))
                / F.sqrt(
                    F.col("var_num")
                    / (F.col("sz").cast("double") * F.col("sz"))
                )
            ).alias("rs_val"),
        )
    )
    per_size = rs.groupBy("sz").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_blocks"),
        dround(F.avg("rs_val"), 6).alias("avg_rs"),
    )
    lnsz = F.log(F.col("sz").cast("double"))
    fitm = per_size.agg(
        F.count(F.lit(1)).cast("double").alias("k"),
        F.sum(lnsz).alias("sx"),
        F.sum(F.log("avg_rs")).alias("sy"),
        F.sum(lnsz * lnsz).alias("sxx"),
        F.sum(lnsz * F.log("avg_rs")).alias("sxy"),
    )
    h = fitm.select(
        (
            (F.col("k") * F.col("sxy") - F.col("sx") * F.col("sy"))
            / (F.col("k") * F.col("sxx") - F.col("sx") * F.col("sx"))
        ).alias("hurst")
    )
    return (
        per_size.crossJoin(F.broadcast(h))
        .select(
            F.col("sz").cast("bigint").alias("window_size"),
            "n_blocks",
            "avg_rs",
            dround("hurst", 4).alias("hurst_exponent"),
        )
        .orderBy("window_size")
    )


# ---------- multiple change-points via binary segmentation (depth 2)
def _binseg_level_sql(k: int) -> str:
    """One binary-segmentation level: argmax |cumdev| per segment."""
    return f"""
    st{k} AS (
        SELECT seg, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(cents) AS BIGINT) AS sc,
               MAX(day) AS seg_end
        FROM lab{k} GROUP BY seg
    ),
    cum{k} AS (
        SELECT l.day, l.cents, l.seg, s.seg_end,
               SUM(l.cents - CAST(s.sc AS DOUBLE) / s.n) OVER (
                   PARTITION BY l.seg ORDER BY l.day) AS cum
        FROM lab{k} l JOIN st{k} s ON s.seg = l.seg
    ),
    scored{k} AS (
        SELECT day, cents, seg, seg_end,
               CAST(ROUND(CAST(ABS(cum) AS DECIMAL(38,8)), 4) AS DOUBLE)
                   AS score
        FROM cum{k}
    ),
    cp{k} AS (
        SELECT seg, day AS cp_day FROM (
            SELECT seg, day,
                   ROW_NUMBER() OVER (PARTITION BY seg
                       ORDER BY score DESC, day) AS rn
            FROM scored{k} WHERE day < seg_end
        ) WHERE rn = 1
    ),
    lab{k + 1} AS (
        SELECT l.day, l.cents,
               l.seg * 2 + CASE WHEN c.cp_day IS NOT NULL
                                     AND l.day > c.cp_day
                                THEN 1 ELSE 0 END AS seg
        FROM lab{k} l LEFT JOIN cp{k} c ON c.seg = l.seg
    )"""


@register(
    "stats_binseg_changepoints",
    oracle=f"""
    WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS day,
               CAST(SUM(CAST(ROUND(CAST(o_totalprice * 100
                    AS DECIMAL(38,8)), 0) AS BIGINT)) AS BIGINT) AS cents
        FROM orders GROUP BY 1
    ),
    lab0 AS (SELECT day, cents, 0 AS seg FROM daily),
    {_binseg_level_sql(0).lstrip()},
    {_binseg_level_sql(1).lstrip()}
    SELECT MIN(day) AS start_day, MAX(day) AS end_day,
           CAST(COUNT(*) AS BIGINT) AS n_days,
           CAST(ROUND(CAST((CAST(SUM(cents) AS DOUBLE) / COUNT(*) / 100.0)
               AS DECIMAL(38,8)), 4) AS DOUBLE) AS mean_rev
    FROM lab2 GROUP BY seg ORDER BY start_day
    """,
    description="Multiple change-point detection by BINARY SEGMENTATION "
    "(Scott & Knott 1974; the workhorse behind ruptures/changepoint "
    "libraries) at depth 2 — up to 3 change-points / 4 segments: each "
    "level picks, per current segment, the day maximizing the absolute "
    "mean-centered cumulative sum (the CUSUM argmax), splits there, and "
    "recurses. Complements stats_pettitt_changepoint (single, "
    "rank-based) with the standard multi-break extension. Revenue is "
    "integer CENTS so segment sums are exact; the cumulative deviations "
    "are per-segment ordered windows over the day-grain aggregate "
    "(bounded by calendar span), and the argmax ranks on the "
    "dround(4)-pinned score with a day tiebreak so both engines split "
    "at identical days. Output is the final segment table: bounds, "
    "length, mean revenue in dollars.",
)
def stats_binseg_changepoints(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders")
    lab = orders.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        F.sum(
            F.round((F.col("o_totalprice") * 100).cast("decimal(38,8)"), 0)
            .cast("bigint")
        )
        .cast("bigint")
        .alias("cents")
    ).select("day", "cents", F.lit(0).alias("seg"))

    for _ in range(2):
        st = lab.groupBy("seg").agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("cents").cast("bigint").alias("sc"),
            F.max("day").alias("seg_end"),
        )
        wcum = (
            Window.partitionBy("seg")
            .orderBy("day")
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        scored = (
            lab.join(F.broadcast(st), "seg")
            .select(
                "day",
                "cents",
                "seg",
                "seg_end",
                F.sum(
                    F.col("cents") - F.col("sc").cast("double") / F.col("n")
                )
                .over(wcum)
                .alias("cum"),
            )
            .select(
                "day",
                "cents",
                "seg",
                "seg_end",
                dround(F.abs(F.col("cum")), 4).alias("score"),
            )
        )
        wrk = Window.partitionBy("seg").orderBy(
            F.col("score").desc(), F.col("day")
        )
        cp = (
            scored.filter(F.col("day") < F.col("seg_end"))
            .withColumn("rn", F.row_number().over(wrk))
            .filter(F.col("rn") == 1)
            .select("seg", F.col("day").alias("cp_day"))
        )
        lab = (
            lab.join(F.broadcast(cp), "seg", "left")
            .select(
                "day",
                "cents",
                (
                    F.col("seg") * 2
                    + F.when(
                        F.col("cp_day").isNotNull()
                        & (F.col("day") > F.col("cp_day")),
                        1,
                    ).otherwise(0)
                ).alias("seg"),
            )
        )
    return (
        lab.groupBy("seg")
        .agg(
            F.min("day").alias("start_day"),
            F.max("day").alias("end_day"),
            F.count(F.lit(1)).cast("bigint").alias("n_days"),
            dround(
                F.sum("cents").cast("double") / F.count(F.lit(1)) / 100.0, 4
            ).alias("mean_rev"),
        )
        .select("start_day", "end_day", "n_days", "mean_rev")
        .orderBy("start_day")
    )


# ------------- regression decision stump: distributed exact best split
@register(
    "stats_decision_stump_split",
    oracle=f"""
    WITH per AS (
        SELECT CAST(l_quantity AS INTEGER) AS v,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(ROUND(CAST(l_extendedprice * 100
                    AS DECIMAL(38,8)), 0) AS BIGINT)) AS BIGINT) AS s
        FROM lineitem GROUP BY 1
    ),
    cum AS (
        SELECT v,
               CAST(SUM(n) OVER (ORDER BY v
                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS nl,
               CAST(SUM(s) OVER (ORDER BY v
                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sl
        FROM per
    ),
    tot AS (
        SELECT CAST(SUM(n) AS BIGINT) AS nt,
               CAST(SUM(s) AS BIGINT) AS st
        FROM per
    ),
    gains AS (
        SELECT v, nl, sl, nt - nl AS nr, st - sl AS sr,
               (CAST(sl AS DOUBLE) * sl / nl
                + CAST(st - sl AS DOUBLE) * (st - sl) / (nt - nl)
                - CAST(st AS DOUBLE) * st / nt) / 100000000.0 AS gain
        FROM cum, tot WHERE nl < nt
    )
    SELECT v AS split_quantity, nl AS n_left, nr AS n_right,
           {dround_sql("CAST(sl AS DOUBLE) / nl / 100.0", 4)} AS mean_left,
           {dround_sql("CAST(sr AS DOUBLE) / nr / 100.0", 4)} AS mean_right,
           {dround_sql("gain", 4)} AS gain_usd2
    FROM (
        SELECT *, ROW_NUMBER() OVER (
            ORDER BY {dround_sql("gain", 4)} DESC, v) AS rn
        FROM gains
    ) WHERE rn = 1
    """,
    description="Regression decision stump via distributed exact best-split "
    "search — the inner loop of CART / gradient-boosted trees (Breiman "
    "1984; XGBoost's exact greedy algorithm), reduced to its Spark-native "
    "form: ONE groupBy collapses the fact table to per-feature-value "
    "sufficient statistics (count, target sum), ONE ordered prefix-sum "
    "window turns them into every candidate split's left/right stats "
    "simultaneously, and the variance-reduction objective "
    "SL^2/NL + SR^2/NR - S^2/N (the n*Var(parent) - n*Var(children) "
    "identity, constant terms cancelled) selects the split in a single "
    "argmax. Target is integer CENTS so every count / sum / prefix sum "
    "is exact on both engines; sums stay below 2^53, so the squared "
    "terms are identical IEEE double products of identical integers, in "
    "mirrored association order. Gain is reported in dollars^2 and "
    "dround(4)-pinned BEFORE the argmax with a split-value tiebreak. "
    "The ordered window runs over the DISTINCT-QUANTITY aggregate "
    "(TPC-H quantities: <= 50 rows at any corpus size — the bounded "
    "feature domain is what makes exact split search cheap; continuous "
    "features go through the histogram binning the approx algorithms "
    "use, same plan shape).",
)
def stats_decision_stump_split(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    per = li.groupBy(F.col("l_quantity").cast("int").alias("v")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(
            F.round(
                (F.col("l_extendedprice") * 100).cast("decimal(38,8)"), 0
            ).cast("bigint")
        )
        .cast("bigint")
        .alias("s"),
    )
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    cum = per.select(
        "v",
        F.sum("n").over(w).cast("bigint").alias("nl"),
        F.sum("s").over(w).cast("bigint").alias("sl"),
    )
    tot = per.agg(
        F.sum("n").cast("bigint").alias("nt"),
        F.sum("s").cast("bigint").alias("st"),
    )
    gains = (
        cum.crossJoin(F.broadcast(tot))
        .filter(F.col("nl") < F.col("nt"))
        .select(
            "v",
            "nl",
            "sl",
            (F.col("nt") - F.col("nl")).alias("nr"),
            (F.col("st") - F.col("sl")).alias("sr"),
            (
                (
                    F.col("sl").cast("double") * F.col("sl") / F.col("nl")
                    + (F.col("st") - F.col("sl")).cast("double")
                    * (F.col("st") - F.col("sl"))
                    / (F.col("nt") - F.col("nl"))
                    - F.col("st").cast("double")
                    * F.col("st")
                    / F.col("nt")
                )
                / 100000000.0
            ).alias("gain"),
        )
    )
    return (
        gains.withColumn(
            "rn",
            F.row_number().over(
                Window.orderBy(F.desc(dround(F.col("gain"), 4)), "v")
            ),
        )
        .filter(F.col("rn") == 1)
        .select(
            F.col("v").alias("split_quantity"),
            F.col("nl").alias("n_left"),
            F.col("nr").alias("n_right"),
            dround(F.col("sl").cast("double") / F.col("nl") / 100.0, 4)
            .alias("mean_left"),
            dround(F.col("sr").cast("double") / F.col("nr") / 100.0, 4)
            .alias("mean_right"),
            dround(F.col("gain"), 4).alias("gain_usd2"),
        )
    )


# ---------- leave-one-out target encoding (closed-form category audit)
@register(
    "stats_target_encoding_loo",
    oracle=f"""
    WITH y AS (
        SELECT o_orderpriority AS priority,
               CAST(ROUND(CAST(o_totalprice * 100 AS DECIMAL(38,8)), 0)
                    AS BIGINT) AS cents
        FROM orders
    ),
    g AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS nt,
               CAST(SUM(cents) AS BIGINT) AS st
        FROM y
    ),
    c AS (
        SELECT priority,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(cents) AS BIGINT) AS s,
               CAST(MIN(cents) AS BIGINT) AS ymin,
               CAST(MAX(cents) AS BIGINT) AS ymax
        FROM y GROUP BY 1
    ),
    e AS (
        SELECT c.priority, c.n, c.s, c.ymin, c.ymax,
               CAST(c.s AS DOUBLE)
                   + 20.0 * (CAST(g.st AS DOUBLE) / g.nt) AS a,
               CAST(c.n + 19 AS DOUBLE) AS b
        FROM c, g
    )
    SELECT priority, n,
           {dround_sql("CAST(s AS DOUBLE) / n / 100.0", 4)} AS raw_mean,
           {dround_sql(
               "(CAST(n AS DOUBLE) * a - CAST(s AS DOUBLE))"
               " / (CAST(n AS DOUBLE) * b) / 100.0", 4)} AS enc_avg,
           {dround_sql("(a - CAST(ymax AS DOUBLE)) / b / 100.0", 4)}
               AS enc_min,
           {dround_sql("(a - CAST(ymin AS DOUBLE)) / b / 100.0", 4)}
               AS enc_max
    FROM e ORDER BY priority
    """,
    description="Leave-one-out target encoding with additive smoothing "
    "(the CatBoost/Kaggle-standard categorical feature: enc_i = "
    "(S_c - y_i + m*G)/(n_c - 1 + m), m=20, G = global target mean — "
    "each row's own target is EXCLUDED from its encoding, which is "
    "what keeps the feature leakage-free; companion discipline to "
    "sample_leakage_free_split), audited in CLOSED FORM: because the "
    "encoding is an affine map of y_i, the per-category average / min "
    "/ max of the row-level encodings derive exactly from the "
    "category's (n, sum, min, max) sufficient statistics — avg = "
    "(n*A - S)/(n*B), extremes swap min/max through the negation — so "
    "the audit needs ONE groupBy + a broadcast global row, never a "
    "per-row float aggregation whose summation order could diverge "
    "across engines. The row-level transform itself at 100 TB is the "
    "trivial map side of this plan: broadcast the |categories|-row "
    "stats table and apply the affine formula per row, zero extra "
    "shuffles. Target is integer CENTS; every sufficient statistic is "
    "exact.",
)
def stats_target_encoding_loo(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    orders = table(spark, sf_dir, "orders")
    y = orders.select(
        F.col("o_orderpriority").alias("priority"),
        F.round((F.col("o_totalprice") * 100).cast("decimal(38,8)"), 0)
        .cast("bigint")
        .alias("cents"),
    )
    g = y.agg(
        F.count(F.lit(1)).cast("bigint").alias("nt"),
        F.sum("cents").cast("bigint").alias("st"),
    )
    c = y.groupBy("priority").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("cents").cast("bigint").alias("s"),
        F.min("cents").cast("bigint").alias("ymin"),
        F.max("cents").cast("bigint").alias("ymax"),
    )
    e = c.crossJoin(F.broadcast(g)).select(
        "priority",
        "n",
        "s",
        "ymin",
        "ymax",
        (
            F.col("s").cast("double")
            + 20.0 * (F.col("st").cast("double") / F.col("nt"))
        ).alias("a"),
        (F.col("n") + 19).cast("double").alias("b"),
    )
    return e.select(
        "priority",
        "n",
        dround(F.col("s").cast("double") / F.col("n") / 100.0, 4)
        .alias("raw_mean"),
        dround(
            (F.col("n").cast("double") * F.col("a")
             - F.col("s").cast("double"))
            / (F.col("n").cast("double") * F.col("b"))
            / 100.0,
            4,
        ).alias("enc_avg"),
        dround(
            (F.col("a") - F.col("ymax").cast("double"))
            / F.col("b")
            / 100.0,
            4,
        ).alias("enc_min"),
        dround(
            (F.col("a") - F.col("ymin").cast("double"))
            / F.col("b")
            / 100.0,
            4,
        ).alias("enc_max"),
    ).orderBy("priority")


# ----------------- Dickey-Fuller unit-root test (lag-1, with drift)
@register(
    "stats_adf_unit_root_daily",
    oracle=f"""
    WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS day,
               CAST(SUM(CAST(ROUND(CAST(o_totalprice * 100
                    AS DECIMAL(38,8)), 0) AS BIGINT)) AS BIGINT) AS cents
        FROM orders GROUP BY 1
    ),
    lagged AS (
        SELECT cents - LAG(cents) OVER (ORDER BY day) AS z,
               LAG(cents) OVER (ORDER BY day) AS x
        FROM daily
    ),
    m AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x) AS BIGINT) AS sx,
               CAST(SUM(z) AS BIGINT) AS sz,
               SUM(CAST(x AS DECIMAL(38,0)) * z) AS sxz,
               SUM(CAST(x AS DECIMAL(38,0)) * x) AS sx2,
               SUM(CAST(z AS DECIMAL(38,0)) * z) AS szz
        FROM lagged WHERE x IS NOT NULL
    ),
    fit AS (
        SELECT n,
               (CAST(n AS DOUBLE) * CAST(sxz AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sz AS DOUBLE))
               / (CAST(n AS DOUBLE) * CAST(sx2 AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS rho,
               CAST(sx AS DOUBLE) AS sxd, CAST(sz AS DOUBLE) AS szd,
               CAST(sxz AS DOUBLE) AS sxzd, CAST(sx2 AS DOUBLE) AS sx2d,
               CAST(szz AS DOUBLE) AS szzd
        FROM m
    ),
    fit2 AS (
        SELECT n, rho, (szd - rho * sxd) / n AS alpha,
               szzd - ((szd - rho * sxd) / n) * szd - rho * sxzd AS sse,
               CAST(n AS DOUBLE) * sx2d - sxd * sxd AS denom
        FROM fit
    )
    SELECT n AS n_obs,
           {dround_sql("rho", 6)} AS rho,
           CASE WHEN sse > 0 THEN {dround_sql(
               "rho / sqrt((sse / (n - 2)) * n / denom)", 4)}
                ELSE NULL END AS t_stat,
           CASE WHEN sse > 0
                THEN rho / sqrt((sse / (n - 2)) * n / denom) < -2.86
                ELSE NULL END AS stationary_5pct
    FROM fit2
    """,
    description="Dickey-Fuller unit-root test (lag-1 with drift; Dickey "
    "& Fuller 1979) on daily revenue: regress delta_y on y_{{t-1}}, "
    "report rho and its t-statistic against the 5% DF critical value "
    "-2.86 — the stationarity gate that decides whether the forecast "
    "family may difference the series first (the complement to "
    "stats_hurst_rescaled_range's long-memory exponent and "
    "stats_mann_kendall_trend's monotone-trend test). Revenue is "
    "integer CENTS; every moment (including the BIGINT-overflowing "
    "squared and cross terms — the Hurst lesson) rides DECIMAL(38,0), "
    "exact under any aggregation order, and the OLS/SE algebra runs in "
    "mirrored-order double over those identical exact sums. One agg "
    "shuffle collapses 100 TB to the day-grain series; the lag window "
    "runs post-aggregation (bounded by calendar span). The t-stat is "
    "reported against the asymptotic DF critical value; exact "
    "small-sample quantiles would come from a lookup table, not the "
    "engine.",
)
def stats_adf_unit_root_daily(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    orders = table(spark, sf_dir, "orders")
    daily = orders.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        F.sum(
            F.round(
                (F.col("o_totalprice") * 100).cast("decimal(38,8)"), 0
            ).cast("bigint")
        )
        .cast("bigint")
        .alias("cents")
    )
    w = Window.orderBy("day")
    lagged = daily.select(
        (F.col("cents") - F.lag("cents").over(w)).alias("z"),
        F.lag("cents").over(w).alias("x"),
    ).filter(F.col("x").isNotNull())
    m = lagged.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("z").cast("bigint").alias("sz"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("z")).alias("sxz"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("x")).alias("sx2"),
        F.sum(F.col("z").cast("decimal(38,0)") * F.col("z")).alias("szz"),
    )
    fit = m.select(
        "n",
        (
            (F.col("n").cast("double") * F.col("sxz").cast("double")
             - F.col("sx").cast("double") * F.col("sz").cast("double"))
            / (F.col("n").cast("double") * F.col("sx2").cast("double")
               - F.col("sx").cast("double") * F.col("sx").cast("double"))
        ).alias("rho"),
        F.col("sx").cast("double").alias("sxd"),
        F.col("sz").cast("double").alias("szd"),
        F.col("sxz").cast("double").alias("sxzd"),
        F.col("sx2").cast("double").alias("sx2d"),
        F.col("szz").cast("double").alias("szzd"),
    )
    fit2 = fit.select(
        "n",
        "rho",
        ((F.col("szd") - F.col("rho") * F.col("sxd")) / F.col("n"))
        .alias("alpha"),
        (
            F.col("szzd")
            - ((F.col("szd") - F.col("rho") * F.col("sxd")) / F.col("n"))
            * F.col("szd")
            - F.col("rho") * F.col("sxzd")
        ).alias("sse"),
        (
            F.col("n").cast("double") * F.col("sx2d")
            - F.col("sxd") * F.col("sxd")
        ).alias("denom"),
    )
    t = F.col("rho") / F.sqrt(
        (F.col("sse") / (F.col("n") - 2)) * F.col("n") / F.col("denom")
    )
    # a deterministic (perfect-fit) series has SSE = 0 -> the standard
    # error is 0 and the t-stat undefined; report NULL instead of an
    # ANSI divide-by-zero (caught by the planted-series test)
    guard = F.col("sse") > 0
    return fit2.select(
        F.col("n").alias("n_obs"),
        dround(F.col("rho"), 6).alias("rho"),
        F.when(guard, dround(t, 4)).alias("t_stat"),
        F.when(guard, t < -2.86).alias("stationary_5pct"),
    )


# ---------------------- KPSS stationarity test (level, l=0 variant)
@register(
    "stats_kpss_level_stationarity",
    oracle=f"""
    WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS day,
               CAST(SUM(CAST(ROUND(CAST(o_totalprice * 100
                    AS DECIMAL(38,8)), 0) AS BIGINT)) AS BIGINT) AS cents
        FROM orders GROUP BY 1
    ),
    tot AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(cents) AS BIGINT) AS sy
        FROM daily
    ),
    e AS (
        -- scaled residual E_i = n*y_i - sum(y): exact integers, so the
        -- prefix sums and squares below never see a fractional mean
        SELECT d.day,
               CAST(t.n * d.cents - t.sy AS BIGINT) AS ei
        FROM daily d, tot t
    ),
    s AS (
        SELECT day, ei,
               CAST(SUM(ei) OVER (ORDER BY day
                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS si
        FROM e
    ),
    m AS (
        SELECT SUM(CAST(si AS DECIMAL(38,0)) * si) AS ss2,
               SUM(CAST(ei AS DECIMAL(38,0)) * ei) AS se2
        FROM s
    )
    SELECT t.n AS n_days,
           {dround_sql(
               "CAST(m.ss2 AS DOUBLE) / (CAST(t.n AS DOUBLE)"
               " * CAST(m.se2 AS DOUBLE))", 6)} AS kpss_stat,
           CAST(m.ss2 AS DOUBLE) / (CAST(t.n AS DOUBLE)
               * CAST(m.se2 AS DOUBLE)) < 0.463 AS level_stationary_5pct
    FROM m, tot t
    """,
    description="KPSS level-stationarity test (Kwiatkowski, Phillips, "
    "Schmidt & Shin 1992; bandwidth l=0 variant) on daily revenue — "
    "the NULL-stationary complement to stats_adf_unit_root_daily's "
    "null-unit-root test (running both is the standard joint decision: "
    "ADF rejects + KPSS accepts => confidently stationary): eta = "
    "sum_t S_t^2 / (n^2 * sigma2) with S_t the partial sums of "
    "demeaned residuals, compared to the 5% critical value 0.463. "
    "Demeaning is done in SCALED INTEGERS (E_i = n*y_i - sum_y), so "
    "residuals, their prefix sums, and both quadratic moments are "
    "exact on any aggregation order (DECIMAL(38,0) for the squares — "
    "the Hurst lesson); the identity eta = sum(S'^2)/(n * sum(E^2)) "
    "over the scaled sums avoids ever materializing a fractional "
    "mean. One agg shuffle collapses 100 TB to the day grain; the "
    "prefix-sum window runs post-aggregation over the calendar-span "
    "series.",
)
def stats_kpss_level_stationarity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    orders = table(spark, sf_dir, "orders")
    daily = orders.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        F.sum(
            F.round(
                (F.col("o_totalprice") * 100).cast("decimal(38,8)"), 0
            ).cast("bigint")
        )
        .cast("bigint")
        .alias("cents")
    )
    tot = daily.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("cents").cast("bigint").alias("sy"),
    )
    e = daily.crossJoin(F.broadcast(tot)).select(
        "day",
        "n",
        (F.col("n") * F.col("cents") - F.col("sy"))
        .cast("bigint")
        .alias("ei"),
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    s = e.select(
        "n", "ei", F.sum("ei").over(w).cast("bigint").alias("si")
    )
    m = s.agg(
        F.max("n").alias("n"),
        F.sum(F.col("si").cast("decimal(38,0)") * F.col("si")).alias(
            "ss2"
        ),
        F.sum(F.col("ei").cast("decimal(38,0)") * F.col("ei")).alias(
            "se2"
        ),
    )
    stat = F.col("ss2").cast("double") / (
        F.col("n").cast("double") * F.col("se2").cast("double")
    )
    return m.select(
        F.col("n").alias("n_days"),
        dround(stat, 6).alias("kpss_stat"),
        (stat < 0.463).alias("level_stationary_5pct"),
    )


# -------- clustering external validation: NMI vs labels (reuses Lloyd)
_NMI_T8 = "CAST(ROUND({t} * 100000000, 0) AS BIGINT)"


@register(
    "kmeans_nmi_vs_labels",
    oracle=_KMEANS_ORACLE[: _KMEANS_ORACLE.rindex("SELECT")]
    + f"""
    , lab AS (SELECT vec_id, label FROM embeddings),
    cont AS (
        SELECT a1.c, lab.label, CAST(COUNT(*) AS BIGINT) AS nc
        FROM a1 JOIN lab USING (vec_id) GROUP BY 1, 2
    ),
    tot AS (SELECT CAST(SUM(nc) AS BIGINT) AS n FROM cont),
    rows_ AS (
        SELECT c, CAST(SUM(nc) AS BIGINT) AS sc FROM cont GROUP BY c
    ),
    cols_ AS (
        SELECT label, CAST(SUM(nc) AS BIGINT) AS sl
        FROM cont GROUP BY label
    ),
    hc AS (
        SELECT CAST(SUM({_NMI_T8.format(
            t="-(CAST(r.sc AS DOUBLE) / t.n)"
              " * ln(CAST(r.sc AS DOUBLE) / t.n)")}) AS BIGINT) AS h8
        FROM rows_ r, tot t
    ),
    hl AS (
        SELECT CAST(SUM({_NMI_T8.format(
            t="-(CAST(l.sl AS DOUBLE) / t.n)"
              " * ln(CAST(l.sl AS DOUBLE) / t.n)")}) AS BIGINT) AS h8
        FROM cols_ l, tot t
    ),
    mi AS (
        SELECT CAST(SUM({_NMI_T8.format(
            t="(CAST(k.nc AS DOUBLE) / t.n)"
              " * ln(CAST(k.nc AS DOUBLE) * t.n"
              " / (CAST(r.sc AS DOUBLE) * l.sl))")}) AS BIGINT) AS mi8
        FROM cont k
        JOIN rows_ r USING (c)
        JOIN cols_ l USING (label), tot t
    )
    SELECT t.n AS n_points,
           {dround_sql("hc.h8 / 100000000.0", 6)} AS h_cluster,
           {dround_sql("hl.h8 / 100000000.0", 6)} AS h_label,
           {dround_sql("mi.mi8 / 100000000.0", 6)} AS mutual_info,
           {dround_sql(
               "(mi.mi8 / 100000000.0)"
               " / sqrt((hc.h8 / 100000000.0)"
               " * (hl.h8 / 100000000.0))", 6)} AS nmi
    FROM tot t, hc, hl, mi
    """,
    description="External clustering validation: normalized mutual "
    "information (Strehl & Ghosh 2002, sqrt normalization) between the "
    "two-iteration Lloyd k-means assignment (k=4, the deterministic "
    "seeding of kmeans_embeddings_lloyd, whose oracle CTEs this query "
    "extends verbatim) and the fixture's ground-truth labels — the "
    "standard answer to 'did the clusters find the classes', "
    "complementing embedding_silhouette_by_label's internal geometry "
    "score. All entropies and MI reduce to the k x |labels| "
    "CONTINGENCY table (one small aggregate over the assignment "
    "join); each log term is pinned to INTEGER 1e-8 units before the "
    "cell sum so summation order cannot drift across engines (the "
    "energy-distance discipline), and the only inputs to the logs are "
    "identical exact integer counts. At 100 TB the expensive part is "
    "the Lloyd iterations already priced by the kmeans query; the NMI "
    "itself is metadata-scale.",
)
def kmeans_nmi_vs_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    pts = emb.select(
        "vec_id", F.posexplode("embedding").alias("i", "xf")
    ).select(
        "vec_id",
        (F.col("i") + 1).alias("i"),
        F.col("xf").cast("double").alias("x"),
    )
    cent = pts.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("c"), "i", "x"
    )
    assign = None
    for _ in range(2):
        diff = F.col("p.x") - F.col("c.x")
        d = (
            pts.alias("p")
            .join(
                F.broadcast(cent.alias("c")), F.col("p.i") == F.col("c.i")
            )
            .groupBy(
                F.col("p.vec_id").alias("vec_id"), F.col("c.c").alias("c")
            )
            .agg(F.sum(diff * diff).alias("d"))
        )
        w = Window.partitionBy("vec_id").orderBy("d", "c")
        assign = (
            d.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .drop("rn")
        )
        cent = (
            pts.join(assign.select("vec_id", "c"), "vec_id")
            .groupBy("c", "i")
            .agg(F.avg("x").alias("x"))
        )
    cont = (
        assign.select("vec_id", "c")
        .join(emb.select("vec_id", "label"), "vec_id")
        .groupBy("c", "label")
        .agg(F.count(F.lit(1)).cast("bigint").alias("nc"))
    )
    tot = cont.agg(F.sum("nc").cast("bigint").alias("n"))
    rows_ = cont.groupBy("c").agg(
        F.sum("nc").cast("bigint").alias("sc")
    )
    cols_ = cont.groupBy("label").agg(
        F.sum("nc").cast("bigint").alias("sl")
    )

    def _t8(col):
        return F.round(col * 100000000, 0).cast("bigint")

    hc = rows_.crossJoin(F.broadcast(tot)).agg(
        F.sum(
            _t8(
                -(F.col("sc").cast("double") / F.col("n"))
                * F.log(F.col("sc").cast("double") / F.col("n"))
            )
        )
        .cast("bigint")
        .alias("hc8")
    )
    hl = cols_.crossJoin(F.broadcast(tot)).agg(
        F.sum(
            _t8(
                -(F.col("sl").cast("double") / F.col("n"))
                * F.log(F.col("sl").cast("double") / F.col("n"))
            )
        )
        .cast("bigint")
        .alias("hl8")
    )
    mi = (
        cont.join(rows_, "c")
        .join(cols_, "label")
        .crossJoin(F.broadcast(tot))
        .agg(
            F.sum(
                _t8(
                    (F.col("nc").cast("double") / F.col("n"))
                    * F.log(
                        F.col("nc").cast("double")
                        * F.col("n")
                        / (F.col("sc").cast("double") * F.col("sl"))
                    )
                )
            )
            .cast("bigint")
            .alias("mi8")
        )
    )
    return (
        tot.crossJoin(F.broadcast(hc))
        .crossJoin(F.broadcast(hl))
        .crossJoin(F.broadcast(mi))
        .select(
            F.col("n").alias("n_points"),
            dround(F.col("hc8") / 100000000.0, 6).alias("h_cluster"),
            dround(F.col("hl8") / 100000000.0, 6).alias("h_label"),
            dround(F.col("mi8") / 100000000.0, 6).alias("mutual_info"),
            dround(
                (F.col("mi8") / 100000000.0)
                / F.sqrt(
                    (F.col("hc8") / 100000000.0)
                    * (F.col("hl8") / 100000000.0)
                ),
                6,
            ).alias("nmi"),
        )
    )
