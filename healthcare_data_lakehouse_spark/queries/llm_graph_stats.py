"""Graph & statistics query family."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from healthcare_data_lakehouse_spark.functions import dedup as D
from healthcare_data_lakehouse_spark.functions import dround, dround_sql
from healthcare_data_lakehouse_spark.functions import similarity as S
from healthcare_data_lakehouse_spark.functions import skew as SK
from healthcare_data_lakehouse_spark.functions import text as TX
from healthcare_data_lakehouse_spark.functions.multimodal import (
    as_binary_assets,
    extract_binary_features,
)
from healthcare_data_lakehouse_spark.queries.catalog import register
from healthcare_data_lakehouse_spark.tables import table


from healthcare_data_lakehouse_spark.queries.llm_shared import (  # noqa: F401
    _QEVAL_SQL,
    _bucket_sql,
    _docs_with_dups,
    _lsh_pairs_ctes,
    _quality_vs_gopher,
)


# ------------------------------------------------------- graph: PageRank
def _pagerank_oracle() -> str:
    ctes, final = _lsh_pairs_ctes()
    step = """
    r{next} AS (
        SELECT n.id,
               0.15 / nn.n + 0.85 * COALESCE(SUM(r{prev}.pr / deg.d), 0) AS pr
        FROM nodes n CROSS JOIN nn
        LEFT JOIN ed ON ed.dst = n.id
        LEFT JOIN r{prev} ON r{prev}.id = ed.src
        LEFT JOIN deg ON deg.src = ed.src
        GROUP BY n.id, nn.n
    )"""
    iters = ",".join(step.format(next=i + 1, prev=i) for i in range(3))
    return f"""
    WITH {ctes},
    pairs AS ({final}),
    ed AS (
        SELECT id_a AS src, id_b AS dst FROM pairs
        UNION ALL
        SELECT id_b AS src, id_a AS dst FROM pairs
    ),
    nodes AS (SELECT DISTINCT src AS id FROM ed),
    nn AS (SELECT COUNT(*) AS n FROM nodes),
    deg AS (SELECT src, COUNT(*) AS d FROM ed GROUP BY src),
    r0 AS (SELECT id, 1.0 / nn.n AS pr FROM nodes CROSS JOIN nn),
    {iters}
    SELECT id AS doc_id, ROUND(pr, 6) AS pagerank FROM r3
    """


@register(
    "graph_pagerank_neardup",
    oracle=_pagerank_oracle(),
    description="Three synchronous PageRank iterations (d=0.85) over the "
    "undirected MinHash-LSH near-dup graph: contribution = join(edges, "
    "ranks) / out-degree, new rank = teleport + damped sum — each "
    "iteration is one equi-join + one hash agg, the canonical "
    "iterative-graph pattern on a relational engine (every node in the "
    "edge set has degree >= 1, so no dangling-mass term). The oracle "
    "unrolls all three iterations as CTEs on top of the full LSH "
    "pipeline. At 100 TB-scale graphs you checkpoint ranks every few "
    "iterations to cut the lineage chain; noted here because 3 "
    "iterations compose lazily without it.",
)
def graph_pagerank_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = D.lsh_candidate_pairs(_docs_with_dups(spark, sf_dir, 20), threshold=0.5)
    ed = pairs.select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    ).unionAll(pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst")))
    # r13 (guide §2.4): cache the edge list hash-partitioned on src —
    # every PageRank iteration joins ed on src, and the degree aggregate
    # and node-distinct both group by src, so all of them reuse the
    # cached partitioning; only the (node-grain) rank vector shuffles
    # per iteration.
    ed = ed.repartition(F.col("src")).persist()
    nodes = ed.select(F.col("src").alias("id")).distinct().persist()
    n = nodes.count()
    deg = ed.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
    ranks = nodes.select("id", (F.lit(1.0) / n).alias("pr"))
    for _ in range(3):
        contrib = (
            ed.join(ranks, ranks.id == ed.src)
            .join(deg, "src")
            .select("dst", (F.col("pr") / F.col("d")).alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("s"))
        )
        ranks = nodes.join(contrib, nodes.id == F.col("dst"), "left").select(
            "id", (0.15 / n + 0.85 * F.coalesce("s", F.lit(0.0))).alias("pr")
        )
    return ranks.select(F.col("id").alias("doc_id"), F.round("pr", 6).alias("pagerank"))


# ------------------------------------------------ triangle counting
def _tri_pairs_oracle_ctes() -> str:
    cos = """
             list_sum(list_transform(list_zip(a.embedding, b.embedding),
                      p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
             / (sqrt(list_sum(list_transform(a.embedding,
                      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
              * sqrt(list_sum(list_transform(b.embedding,
                      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))
    """
    return f"""
    vecs AS (
        SELECT vec_id, embedding FROM embeddings
        UNION ALL
        SELECT vec_id + 1000000 AS vec_id, embedding
        FROM embeddings WHERE vec_id % 25 = 0
        UNION ALL
        SELECT vec_id + 2000000 AS vec_id, embedding
        FROM embeddings WHERE vec_id % 25 = 0
    ),
    bucketed AS (
        SELECT vec_id, embedding, {_bucket_sql()} AS bucket FROM vecs
    ),
    pairs AS (
        SELECT id_a, id_b FROM (
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                   ROUND({cos}, 6) AS cosine
            FROM bucketed a JOIN bucketed b
              ON a.bucket = b.bucket AND a.vec_id < b.vec_id
        ) WHERE cosine >= 0.95
    )
    """


@register(
    "graph_triangle_count_neardup",
    oracle=f"""
    WITH {_tri_pairs_oracle_ctes()},
    tri AS (
        SELECT e1.id_a AS a, e1.id_b AS b, e2.id_b AS c
        FROM pairs e1
        JOIN pairs e2 ON e2.id_a = e1.id_b
        JOIN pairs e3 ON e3.id_a = e1.id_a AND e3.id_b = e2.id_b
    )
    SELECT vec_id, COUNT(*) AS n_triangles
    FROM (SELECT UNNEST([a, b, c]) AS vec_id FROM tri)
    GROUP BY vec_id
    """,
    description="Per-node triangle counts over the embedding near-dup "
    "graph (two injected copies per selected vector close each triangle). "
    "Compact-forward orientation: edges stored once as (lo, hi), wedges "
    "built by joining hi->lo, closed by an equi-join back onto the edge "
    "set — 3 hash joins on edge keys, never an all-pairs pass. At 100 TB "
    "the orientation key becomes degree (low-degree vertex first), which "
    "bounds wedge fan-out by the arboricity instead of the max degree; "
    "the plan shape (2 self equi-joins + explode + count) is unchanged. "
    "Triangle density is the standard cluster-cohesion check on a "
    "near-dup graph before transitive-closure dedup: bridges (low "
    "triangle support) are the edges that over-merge clusters.",
)
def graph_triangle_count_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    sel = emb.filter(F.col("vec_id") % 25 == 0)
    vecs = emb.unionAll(
        sel.select((F.col("vec_id") + 1_000_000).alias("vec_id"), "embedding")
    ).unionAll(
        sel.select((F.col("vec_id") + 2_000_000).alias("vec_id"), "embedding")
    )
    pairs = (
        S.embedding_near_dup_pairs(vecs, threshold=0.95)
        .select("id_a", "id_b")
        .persist()
    )
    e1, e2, e3 = pairs.alias("e1"), pairs.alias("e2"), pairs.alias("e3")
    tri = (
        e1.join(e2, F.col("e2.id_a") == F.col("e1.id_b"))
        .join(
            e3,
            (F.col("e3.id_a") == F.col("e1.id_a"))
            & (F.col("e3.id_b") == F.col("e2.id_b")),
        )
        .select(
            F.col("e1.id_a").alias("a"),
            F.col("e1.id_b").alias("b"),
            F.col("e2.id_b").alias("c"),
        )
    )
    return (
        tri.select(F.explode(F.array("a", "b", "c")).alias("vec_id"))
        .groupBy("vec_id")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )


# ------------------------------------------- quantile normalization map
@register(
    "stats_quantile_normalize_sources",
    oracle="""
    WITH pooled AS (
        SELECT quantile_cont(n_chars,
               [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS pq
        FROM documents
    ),
    per_src AS (
        SELECT source, COUNT(*) AS n_docs,
               quantile_cont(n_chars,
               [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS sq
        FROM documents GROUP BY source
    )
    SELECT s.source, s.n_docs,
           ROUND(CAST(0.1 * i AS DOUBLE), 2) AS quantile,
           ROUND(s.sq[i], 4) AS src_value,
           ROUND(p.pq[i], 4) AS pooled_value,
           ROUND(s.sq[i] - p.pq[i], 4) AS shift
    FROM per_src s CROSS JOIN pooled p,
         UNNEST(generate_series(1, 9)) AS u(i)
    """,
    description="Quantile-normalization mapping table: each source's "
    "doc-length deciles laid against the pooled corpus deciles, with the "
    "per-knot shift — the batch-effect correction primitive (align "
    "heterogeneous crawl sources onto one reference distribution before "
    "mixing, the tabular twin of embedding centroid alignment). One "
    "grouped percentile-array pass + one global pass; the 9-knot "
    "mapping broadcasts onto any downstream rescale scan. Same "
    "percentile-array trick as stats_qq_purchase_click, grouped.",
)
def stats_quantile_normalize_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    probs = "array(0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9)"
    pooled = docs.agg(F.expr(f"percentile(n_chars, {probs})").alias("pq"))
    per_src = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.expr(f"percentile(n_chars, {probs})").alias("sq"),
    )
    return (
        per_src.crossJoin(F.broadcast(pooled))
        .select(
            "source",
            "n_docs",
            F.posexplode(F.arrays_zip("sq", "pq")).alias("i", "z"),
        )
        .select(
            "source",
            "n_docs",
            F.round((F.col("i") + 1) * 0.1, 2).alias("quantile"),
            F.round(F.col("z.sq"), 4).alias("src_value"),
            F.round(F.col("z.pq"), 4).alias("pooled_value"),
            F.round(F.col("z.sq") - F.col("z.pq"), 4).alias("shift"),
        )
    )


# ------------------------------------------- ridge regression (normal eq)
@register(
    "stats_ridge_regression_normal_eq",
    oracle=f"""
    WITH m AS (
        SELECT AVG(l_quantity) AS x1b, AVG(l_discount) AS x2b,
               AVG(l_extendedprice) AS yb,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM lineitem
    ),
    s AS (
        SELECT n, x1b, x2b, yb,
               SUM((l_quantity - x1b) * (l_quantity - x1b)) AS s11,
               SUM((l_quantity - x1b) * (l_discount - x2b)) AS s12,
               SUM((l_discount - x2b) * (l_discount - x2b)) AS s22,
               SUM((l_quantity - x1b) * (l_extendedprice - yb)) AS s1y,
               SUM((l_discount - x2b) * (l_extendedprice - yb)) AS s2y
        FROM lineitem, m
        GROUP BY n, x1b, x2b, yb
    ),
    solved AS (
        SELECT n, x1b, x2b, yb, s11, s12, s22, s1y, s2y,
               0.01 * n AS lam,
               (s11 + 0.01 * n) * (s22 + 0.01 * n) - s12 * s12 AS det
        FROM s
    )
    SELECT n,
           {dround_sql("(s1y * (s22 + lam) - s2y * s12) / det", 6)} AS beta_quantity,
           {dround_sql("((s11 + lam) * s2y - s12 * s1y) / det", 6)} AS beta_discount,
           {dround_sql("yb - ((s1y * (s22 + lam) - s2y * s12) / det) * x1b - (((s11 + lam) * s2y - s12 * s1y) / det) * x2b", 4)} AS intercept
    FROM solved
    """,
    description="Ridge regression extendedprice ~ quantity + discount via "
    "distributed normal equations: two map-reduce passes (means, then "
    "centered cross-products — centering avoids catastrophic cancellation "
    "in SUM(xy) - n*xbar*ybar) and a closed-form 2x2 solve with lambda = "
    "0.01n on the slope diagonal. The 'matrix' never leaves the plan: "
    "at any scale the solve is a 1-row expression.",
)
def stats_ridge_regression_normal_eq(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").select(
        "l_quantity", "l_discount", "l_extendedprice"
    )
    m = li.agg(
        F.avg("l_quantity").alias("x1b"),
        F.avg("l_discount").alias("x2b"),
        F.avg("l_extendedprice").alias("yb"),
        F.count("*").cast("bigint").alias("n"),
    )
    c1 = F.col("l_quantity") - F.col("x1b")
    c2 = F.col("l_discount") - F.col("x2b")
    cy = F.col("l_extendedprice") - F.col("yb")
    s = (
        li.crossJoin(F.broadcast(m))
        .groupBy("n", "x1b", "x2b", "yb")
        .agg(
            F.sum(c1 * c1).alias("s11"),
            F.sum(c1 * c2).alias("s12"),
            F.sum(c2 * c2).alias("s22"),
            F.sum(c1 * cy).alias("s1y"),
            F.sum(c2 * cy).alias("s2y"),
        )
    )
    lam = 0.01 * F.col("n")
    det = (F.col("s11") + lam) * (F.col("s22") + lam) - F.col("s12") ** 2
    b1 = (F.col("s1y") * (F.col("s22") + lam) - F.col("s2y") * F.col("s12")) / det
    b2 = ((F.col("s11") + lam) * F.col("s2y") - F.col("s12") * F.col("s1y")) / det
    return s.select(
        "n",
        dround(b1, 6).alias("beta_quantity"),
        dround(b2, 6).alias("beta_discount"),
        dround(
            F.col("yb") - b1 * F.col("x1b") - b2 * F.col("x2b"), 4
        ).alias("intercept"),
    )


def _lcc_oracle() -> str:
    ctes, final = _lsh_pairs_ctes()
    return f"""
    WITH {ctes},
    pairs AS ({final}),
    e AS (
        SELECT LEAST(id_a, id_b) AS u, GREATEST(id_a, id_b) AS v
        FROM pairs GROUP BY 1, 2
    ),
    sym AS (
        SELECT u AS a, v AS b FROM e UNION ALL SELECT v, u FROM e
    ),
    deg AS (SELECT a AS node, COUNT(*) AS d FROM sym GROUP BY a),
    wedge AS (
        SELECT s1.a AS node, s1.b AS x, s2.b AS y
        FROM sym s1 JOIN sym s2 ON s2.a = s1.a AND s1.b < s2.b
    ),
    tri AS (
        SELECT w.node, COUNT(*) AS t
        FROM wedge w JOIN e ON e.u = w.x AND e.v = w.y
        GROUP BY w.node
    ),
    lcc AS (
        SELECT deg.node, deg.d,
               CASE WHEN deg.d >= 2
                    THEN 2.0 * COALESCE(tri.t, 0) / (deg.d * (deg.d - 1))
                    ELSE 0.0 END AS c
        FROM deg LEFT JOIN tri ON tri.node = deg.node
    ),
    banded AS (
        SELECT CASE WHEN d = 1 THEN '1'
                    WHEN d <= 3 THEN '2-3'
                    WHEN d <= 7 THEN '4-7'
                    ELSE '8+' END AS degree_band,
               d, c
        FROM lcc
    )
    SELECT degree_band,
           CAST(COUNT(*) AS BIGINT) AS n_nodes,
           {dround_sql("AVG(CAST(d AS DOUBLE))", 6)} AS avg_degree,
           {dround_sql("AVG(c)", 6)} AS avg_lcc
    FROM banded GROUP BY degree_band ORDER BY degree_band
    """


@register(
    "graph_clustering_coefficient_neardup",
    oracle=_lcc_oracle(),
    description="Local clustering coefficient over the near-dup graph "
    "(2T(v) / d(v)(d(v)-1)): high LCC marks cliquish duplicate "
    "neighborhoods (template families — safe to collapse to one "
    "survivor), low LCC marks chain/star shapes where transitive "
    "merging deserves scrutiny before deleting data. Per-node "
    "triangles come from one wedge self-join checked against the "
    "oriented edge set — the compact-forward pattern whose fan-out is "
    "bounded by degree, same discipline as the global triangle count; "
    "reported as degree-banded averages so the output is "
    "band-cardinality-sized at any graph size.",
)
def graph_clustering_coefficient_neardup(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    pairs = D.lsh_candidate_pairs(
        _docs_with_dups(spark, sf_dir, 20), threshold=0.5
    )
    e = (
        pairs.select(
            F.least("id_a", "id_b").alias("u"),
            F.greatest("id_a", "id_b").alias("v"),
        )
        .distinct()
        .persist()
    )
    sym = e.unionAll(
        e.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).select(F.col("u").alias("a"), F.col("v").alias("b"))
    deg = sym.groupBy(F.col("a").alias("node")).agg(
        F.count(F.lit(1)).alias("d")
    )
    s1, s2 = sym.alias("s1"), sym.alias("s2")
    wedge = s1.join(
        s2,
        (F.col("s2.a") == F.col("s1.a")) & (F.col("s1.b") < F.col("s2.b")),
    ).select(
        F.col("s1.a").alias("node"),
        F.col("s1.b").alias("x"),
        F.col("s2.b").alias("y"),
    )
    tri = (
        wedge.join(
            e, (e.u == wedge.x) & (e.v == wedge.y)
        )
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("t"))
    )
    lcc = deg.join(tri, "node", "left").select(
        "d",
        F.when(
            F.col("d") >= 2,
            2.0
            * F.coalesce("t", F.lit(0))
            / (F.col("d") * (F.col("d") - 1)),
        )
        .otherwise(F.lit(0.0))
        .alias("c"),
    )
    band = (
        F.when(F.col("d") == 1, F.lit("1"))
        .when(F.col("d") <= 3, F.lit("2-3"))
        .when(F.col("d") <= 7, F.lit("4-7"))
        .otherwise(F.lit("8+"))
    )
    return (
        lcc.select(band.alias("degree_band"), "d", "c")
        .groupBy("degree_band")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_nodes"),
            dround(F.avg(F.col("d").cast("double")), 6).alias("avg_degree"),
            dround(F.avg("c"), 6).alias("avg_lcc"),
        )
        .orderBy("degree_band")
    )


@register(
    "stats_roc_auc_quality_vs_gopher",
    oracle=f"""
    WITH {_QEVAL_SQL},
    qe_groups AS (
        SELECT q, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(label) AS BIGINT) AS pos
        FROM qe_labeled GROUP BY q
    ),
    qe_ranked AS (
        SELECT q, n, pos,
               CAST(COALESCE(SUM(n) OVER (ORDER BY q
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                    AS BIGINT) AS cum_before
        FROM qe_groups
    ),
    qe_tot AS (
        SELECT CAST(SUM(pos) AS BIGINT) AS n_pos,
               CAST(SUM(n - pos) AS BIGINT) AS n_neg,
               SUM(pos * (cum_before + (n + 1) / 2.0)) AS rank_sum
        FROM qe_ranked
    )
    SELECT n_pos, n_neg,
           {dround_sql("(rank_sum - n_pos * (n_pos + 1) / 2.0)"
                       " / (n_pos * n_neg)", 6)} AS auc,
           {dround_sql("2.0 * ((rank_sum - n_pos * (n_pos + 1) / 2.0)"
                       " / (n_pos * n_neg)) - 1.0", 6)} AS gini
    FROM qe_tot
    """,
    description="Tie-aware ROC-AUC (Mann-Whitney form) of the continuous "
    "quality score against the Gopher-gate label: group by distinct "
    "score, prefix-sum group sizes for average ranks, then "
    "AUC = (rank_sum_pos - n_pos(n_pos+1)/2) / (n_pos*n_neg). Average "
    "ranks are multiples of 0.5 (exactly representable), so the rank "
    "sum is order-independent and bit-identical across engines. The "
    "corpus-scale work is one scan + one groupBy(score); the prefix "
    "window runs over the distinct-rounded-score aggregate (<= 1e6 "
    "rows at any corpus size for 6-decimal scores in [0,1] — bin-grain, "
    "same argument as stats_mann_whitney_u).",
)
def stats_roc_auc_quality_vs_gopher(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    labeled = _quality_vs_gopher(spark, sf_dir)
    groups = labeled.groupBy("q").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("label").cast("bigint").alias("pos"),
    )
    wspec = Window.orderBy("q").rowsBetween(Window.unboundedPreceding, -1)
    ranked = groups.withColumn(
        "cum_before",
        F.coalesce(F.sum("n").over(wspec), F.lit(0)).cast("bigint"),
    )
    tot = ranked.agg(
        F.sum("pos").cast("bigint").alias("n_pos"),
        F.sum(F.col("n") - F.col("pos")).cast("bigint").alias("n_neg"),
        F.sum(
            F.col("pos") * (F.col("cum_before") + (F.col("n") + 1) / 2.0)
        ).alias("rank_sum"),
    )
    auc = (
        F.col("rank_sum") - F.col("n_pos") * (F.col("n_pos") + 1) / 2.0
    ) / (F.col("n_pos") * F.col("n_neg"))
    return tot.select(
        "n_pos",
        "n_neg",
        dround(auc, 6).alias("auc"),
        dround(2.0 * auc - 1.0, 6).alias("gini"),
    )


@register(
    "stats_isotonic_calibration_pav",
    oracle=f"""
    WITH {_QEVAL_SQL},
    iso_bins AS (
        SELECT least(CAST(floor(q * 10) AS INT), 9) AS bin,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(label) AS BIGINT) AS pos
        FROM qe_labeled GROUP BY 1
    ),
    iso_pref AS (
        SELECT bin, n_docs, pos,
               CAST(SUM(n_docs) OVER (ORDER BY bin) AS BIGINT) AS cn,
               CAST(SUM(pos) OVER (ORDER BY bin) AS BIGINT) AS cp
        FROM iso_bins
    ),
    iso_pairs AS (
        SELECT lo.bin AS i, hi.bin AS j,
               CAST(hi.cp - lo.cp + lo.pos AS DOUBLE)
                   / (hi.cn - lo.cn + lo.n_docs) AS avg_ij
        FROM iso_pref lo JOIN iso_pref hi ON lo.bin <= hi.bin
    ),
    iso_trip AS (
        SELECT p.i, k.bin AS k, MIN(p.avg_ij) AS mn
        FROM iso_pairs p
        JOIN iso_bins k ON p.i <= k.bin AND p.j >= k.bin
        GROUP BY p.i, k.bin
    ),
    iso_fit AS (
        SELECT k AS bin, MAX(mn) AS iso FROM iso_trip GROUP BY k
    )
    SELECT b.bin, b.n_docs,
           {dround_sql("CAST(b.pos AS DOUBLE) / b.n_docs", 6)} AS raw_rate,
           {dround_sql("f.iso", 6)} AS iso_rate
    FROM iso_bins b JOIN iso_fit f ON f.bin = b.bin
    ORDER BY b.bin
    """,
    description="Isotonic calibration of the quality score via the "
    "pool-adjacent-violators solution in closed minimax form: over the "
    "10 equal-width score bins, fit(k) = max over i<=k of min over "
    "j>=k of the weighted mean label on bins i..j — the exact PAV "
    "fixpoint without iteration (Ayer et al. 1955 minimax identity), "
    "so no driver loop and no cross-engine convergence drift. Bin "
    "means are exact integer ratios (pos/count), making every "
    "min/max comparison bit-identical. Corpus-scale work is one scan "
    "+ groupBy(bin); the minimax runs as tiny broadcast joins over "
    "the <=10-row bin table (<=55 pairs, <=550 triples).",
)
def stats_isotonic_calibration_pav(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    labeled = _quality_vs_gopher(spark, sf_dir)
    bins = labeled.groupBy(
        F.least(F.floor(F.col("q") * 10).cast("int"), F.lit(9)).alias("bin")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("label").cast("bigint").alias("pos"),
    )
    wb = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    pref = bins.select(
        "bin",
        "n_docs",
        "pos",
        F.sum("n_docs").over(wb).cast("bigint").alias("cn"),
        F.sum("pos").over(wb).cast("bigint").alias("cp"),
    )
    lo = pref.alias("lo")
    hi = pref.alias("hi")
    pairs = lo.join(
        F.broadcast(hi), F.col("lo.bin") <= F.col("hi.bin")
    ).select(
        F.col("lo.bin").alias("i"),
        F.col("hi.bin").alias("j"),
        (
            (F.col("hi.cp") - F.col("lo.cp") + F.col("lo.pos")).cast("double")
            / (F.col("hi.cn") - F.col("lo.cn") + F.col("lo.n_docs"))
        ).alias("avg_ij"),
    )
    ks = bins.select(F.col("bin").alias("k"))
    trip = (
        pairs.join(
            F.broadcast(ks),
            (F.col("i") <= F.col("k")) & (F.col("j") >= F.col("k")),
        )
        .groupBy("i", "k")
        .agg(F.min("avg_ij").alias("mn"))
    )
    fit = trip.groupBy(F.col("k").alias("bin")).agg(F.max("mn").alias("iso"))
    return (
        bins.join(fit, "bin")
        .select(
            "bin",
            "n_docs",
            dround(F.col("pos").cast("double") / F.col("n_docs"), 6).alias(
                "raw_rate"
            ),
            dround(F.col("iso"), 6).alias("iso_rate"),
        )
        .orderBy("bin")
    )


@register(
    "stats_cohens_kappa_quality_raters",
    oracle=f"""
    WITH {_QEVAL_SQL},
    kp_rated AS (
        SELECT label AS a,
               CAST(CASE WHEN q >= 0.55 THEN 1 ELSE 0 END AS INT) AS b
        FROM qe_labeled
    ),
    kp_cells AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CASE WHEN a = 1 AND b = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n11,
               CAST(SUM(CASE WHEN a = 1 AND b = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n10,
               CAST(SUM(CASE WHEN a = 0 AND b = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n01,
               CAST(SUM(CASE WHEN a = 0 AND b = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n00
        FROM kp_rated
    )
    SELECT n, n11, n10, n01, n00,
           {dround_sql("CAST(n11 + n00 AS DOUBLE) / n", 6)} AS po,
           {dround_sql("(CAST(n11 + n10 AS DOUBLE) / n) * (CAST(n11 + n01 AS DOUBLE) / n)"
                       " + (CAST(n01 + n00 AS DOUBLE) / n) * (CAST(n10 + n00 AS DOUBLE) / n)", 6)} AS pe,
           {dround_sql("(CAST(n11 + n00 AS DOUBLE) / n"
                       " - ((CAST(n11 + n10 AS DOUBLE) / n) * (CAST(n11 + n01 AS DOUBLE) / n)"
                       "    + (CAST(n01 + n00 AS DOUBLE) / n) * (CAST(n10 + n00 AS DOUBLE) / n)))"
                       " / (1.0 - ((CAST(n11 + n10 AS DOUBLE) / n) * (CAST(n11 + n01 AS DOUBLE) / n)"
                       "    + (CAST(n01 + n00 AS DOUBLE) / n) * (CAST(n10 + n00 AS DOUBLE) / n)))", 6)} AS kappa
    FROM kp_cells
    """,
    description="Cohen's kappa between two independent rule-based "
    "quality raters — the Gopher gate vs a 0.55 threshold on the "
    "continuous score — chance-corrected agreement for deciding "
    "whether a cheap distilled filter can replace an expensive one. "
    "The 2x2 contingency table is one scan of conditional-sum "
    "aggregates (integer-exact, so po/pe/kappa are bit-identical); "
    "no window, no join, no shuffle beyond the final 1-row reduce.",
)
def stats_cohens_kappa_quality_raters(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    labeled = _quality_vs_gopher(spark, sf_dir)
    rated = labeled.select(
        F.col("label").alias("a"),
        F.when(F.col("q") >= 0.55, 1).otherwise(0).cast("int").alias("b"),
    )
    cells = rated.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(((F.col("a") == 1) & (F.col("b") == 1)).cast("int"))
        .cast("bigint")
        .alias("n11"),
        F.sum(((F.col("a") == 1) & (F.col("b") == 0)).cast("int"))
        .cast("bigint")
        .alias("n10"),
        F.sum(((F.col("a") == 0) & (F.col("b") == 1)).cast("int"))
        .cast("bigint")
        .alias("n01"),
        F.sum(((F.col("a") == 0) & (F.col("b") == 0)).cast("int"))
        .cast("bigint")
        .alias("n00"),
    )
    nd = F.col("n").cast("double")
    po = (F.col("n11") + F.col("n00")).cast("double") / nd
    pe = ((F.col("n11") + F.col("n10")).cast("double") / nd) * (
        (F.col("n11") + F.col("n01")).cast("double") / nd
    ) + ((F.col("n01") + F.col("n00")).cast("double") / nd) * (
        (F.col("n10") + F.col("n00")).cast("double") / nd
    )
    return cells.select(
        "n",
        "n11",
        "n10",
        "n01",
        "n00",
        dround(po, 6).alias("po"),
        dround(pe, 6).alias("pe"),
        dround((po - pe) / (1.0 - pe), 6).alias("kappa"),
    )


# ------------------------------------- label propagation communities
_LPA_ROUNDS = 3


def _lpa_oracle() -> str:
    ctes, final = _lsh_pairs_ctes()
    head = f"""
    WITH {ctes},
    pairs AS ({final}),
    adj AS MATERIALIZED (
        SELECT id_a AS x, id_b AS y FROM pairs
        UNION ALL
        SELECT id_b AS x, id_a AS y FROM pairs
    ),
    l0 AS MATERIALIZED (
        SELECT DISTINCT x AS node, x AS label FROM adj
    )"""
    steps = []
    for r in range(_LPA_ROUNDS):
        steps.append(f"""    v{r + 1} AS MATERIALIZED (
        SELECT a.x AS node, l.label, CAST(COUNT(*) AS BIGINT) AS c
        FROM adj a JOIN l{r} l ON l.node = a.y
        GROUP BY a.x, l.label
    ),
    l{r + 1} AS MATERIALIZED (
        SELECT node, label FROM (
            SELECT node, label,
                   ROW_NUMBER() OVER (
                       PARTITION BY node ORDER BY c DESC, label
                   ) AS rn
            FROM v{r + 1}
        ) WHERE rn = 1
    )""")
    return (
        head + ",\n" + ",\n".join(steps) + f"""
    SELECT label AS community,
           CAST(COUNT(*) AS BIGINT) AS n_nodes
    FROM l{_LPA_ROUNDS}
    GROUP BY label
    """
    )


@register(
    "graph_label_propagation_communities",
    oracle=_lpa_oracle(),
    description=f"Synchronous label propagation ({_LPA_ROUNDS} unrolled "
    "rounds) over the MinHash-LSH near-dup graph: every node adopts the "
    "most frequent label among its neighbors each round, ties broken by "
    "smallest label — asynchronous LPA's update-order dependence is "
    "exactly what a distributed engine cannot reproduce, so the "
    "synchronous sweep with a total tie-break is the only shippable "
    "variant. Unlike min-label propagation (= connected components), "
    "frequency voting can split bridged near-dup blobs into dense "
    "cores. Each round is one neighbor-join + one (node,label) count + "
    "one per-node argmax window — key-partitioned shuffles mirroring "
    "the oracle's MATERIALIZED CTE chain; the Pregel-style state is one "
    "(node,label) table per round, checkpointed to cut lineage.",
)
def graph_label_propagation_communities(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    pairs = D.lsh_candidate_pairs(
        _docs_with_dups(spark, sf_dir, 20), threshold=0.5
    )
    adj = (
        pairs.select(F.col("id_a").alias("x"), F.col("id_b").alias("y"))
        .unionAll(
            pairs.select(F.col("id_b").alias("x"), F.col("id_a").alias("y"))
        )
        .localCheckpoint()
    )
    labels = (
        adj.select(F.col("x").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("label"))
    )
    w = Window.partitionBy("node").orderBy(F.col("c").desc(), F.col("label"))
    for _ in range(_LPA_ROUNDS):
        votes = (
            adj.join(labels.withColumnRenamed("node", "y"), "y")
            .groupBy(F.col("x").alias("node"), "label")
            .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        )
        labels = (
            votes.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("node", "label")
            .localCheckpoint()
        )
    return labels.groupBy(F.col("label").alias("community")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_nodes")
    )



# ------------------------------------- Adamic-Adar link prediction
_AA_PANEL_MOD = 97


@register(
    "graph_adamic_adar_link_prediction",
    oracle=f"""
    WITH edges AS MATERIALIZED (
        SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
        FROM lineitem a JOIN lineitem b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ),
    adj AS MATERIALIZED (
        SELECT u AS x, v AS y FROM edges
        UNION ALL
        SELECT v AS x, u AS y FROM edges
    ),
    deg AS MATERIALIZED (
        SELECT x AS node, CAST(COUNT(*) AS BIGINT) AS d FROM adj GROUP BY x
    ),
    wedges AS (
        SELECT l.x AS src, r.y AS dst, l.y AS z
        FROM adj l JOIN adj r ON r.x = l.y AND r.y <> l.x
        WHERE l.x % {_AA_PANEL_MOD} = 0
    ),
    nonedges AS (
        SELECT w.src, w.dst, w.z FROM wedges w
        WHERE NOT EXISTS (
            SELECT 1 FROM adj a WHERE a.x = w.src AND a.y = w.dst
        )
    ),
    scored AS (
        SELECT src, dst,
               CAST(COUNT(*) AS BIGINT) AS n_common,
               CAST(SUM(CAST(ROUND(CAST(1000000 / ln(d.d)
                    AS DECIMAL(38,8)), 0) AS BIGINT)) AS BIGINT) AS s_micro
        FROM nonedges n JOIN deg d ON d.node = n.z
        GROUP BY src, dst
    )
    SELECT src AS source_part, dst AS candidate_part, n_common,
           {dround_sql("s_micro / 1000000.0", 6)} AS adamic_adar, rnk
    FROM (
        SELECT *, CAST(ROW_NUMBER() OVER (
            PARTITION BY src ORDER BY s_micro DESC, dst
        ) AS BIGINT) AS rnk
        FROM scored
    )
    WHERE rnk <= 5
    """,
    description="Adamic-Adar link prediction on the part co-order graph "
    "(parts linked when they appear in the same order — a SPARSE "
    "market-basket graph, ~4% density, unlike the complete supplier "
    "graphs): for a deterministic panel of source parts (partkey % 97 "
    "= 0), every two-hop neighbor NOT already co-ordered is scored "
    "sum_z 1/ln(deg z) over common neighbors — rare shared baskets are "
    "stronger evidence than hub parts; these are the 'never bought "
    "together yet, most likely next' recommendations. Wedge fan-out is "
    "panel-bounded (|panel| x deg^2, linear in the panel — the honest "
    "production shape for a query set, never the all-pairs wedge "
    "blow-up); contributions round to integer MICRO-units before the "
    "per-pair sum (order-free BIGINT aggregate; common neighbors have "
    "deg >= 2 so ln never vanishes); top-5 per source via a "
    "source-partitioned window.",
)
def graph_adamic_adar_link_prediction(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    edges = SK.co_occurrence_pairs(li, "l_orderkey", "l_partkey")
    # r13 (guide §2.4): adjacency cached hash-partitioned on x — the
    # wedge join probes adj on x and the degree aggregate groups by x,
    # so both ride the cached partitioning instead of re-exchanging the
    # large side (the panel-filtered l side still shuffles by y, as it
    # must).
    adj = (
        edges.select(F.col("u").alias("x"), F.col("v").alias("y"))
        .unionAll(edges.select(F.col("v").alias("x"), F.col("u").alias("y")))
        .repartition(F.col("x"))
        .persist()
    )
    deg = adj.groupBy(F.col("x").alias("node")).agg(
        F.count(F.lit(1)).cast("bigint").alias("d")
    )
    l = adj.filter(F.col("x") % _AA_PANEL_MOD == 0).alias("l")
    r = adj.alias("r")
    wedges = l.join(
        r, (F.col("r.x") == F.col("l.y")) & (F.col("r.y") != F.col("l.x"))
    ).select(
        F.col("l.x").alias("src"),
        F.col("r.y").alias("dst"),
        F.col("l.y").alias("z"),
    )
    nonedges = wedges.join(
        adj.withColumnsRenamed({"x": "src", "y": "dst"}),
        ["src", "dst"],
        "left_anti",
    )
    micro = F.round(
        (F.lit(1000000) / F.log(F.col("d"))).cast("decimal(38,8)"), 0
    ).cast("bigint")
    scored = (
        nonedges.join(F.broadcast(deg).withColumnRenamed("node", "z"), "z")
        .groupBy("src", "dst")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_common"),
            F.sum(micro).cast("bigint").alias("s_micro"),
        )
    )
    w = Window.partitionBy("src").orderBy(F.col("s_micro").desc(), "dst")
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rnk") <= 5)
        .select(
            F.col("src").alias("source_part"),
            F.col("dst").alias("candidate_part"),
            "n_common",
            dround(F.col("s_micro") / 1000000.0, 6).alias("adamic_adar"),
            "rnk",
        )
    )


# ------------------------------------- Fleiss' kappa, three raters
@register(
    "stats_fleiss_kappa_quality_raters",
    oracle=f"""
    WITH {_QEVAL_SQL},
    fk_rated AS (
        SELECT (label
                + CASE WHEN q >= 0.55 THEN 1 ELSE 0 END
                + CASE WHEN q >= 0.45 THEN 1 ELSE 0 END) AS n1
        FROM qe_labeled
    ),
    fk_agg AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(n1) AS BIGINT) AS s1,
               CAST(SUM(n1 * n1 + (3 - n1) * (3 - n1)) AS BIGINT) AS sq
        FROM fk_rated
    )
    SELECT n AS n_docs, s1 AS votes_keep,
           {dround_sql("CAST(sq - 3 * n AS DOUBLE) / (6.0 * n)", 6)} AS p_bar,
           {dround_sql(
               "(CAST(s1 AS DOUBLE) / (3.0 * n)) * (CAST(s1 AS DOUBLE) / (3.0 * n))"
               " + (1.0 - CAST(s1 AS DOUBLE) / (3.0 * n))"
               "   * (1.0 - CAST(s1 AS DOUBLE) / (3.0 * n))", 6)} AS p_e,
           {dround_sql(
               "(CAST(sq - 3 * n AS DOUBLE) / (6.0 * n)"
               " - ((CAST(s1 AS DOUBLE) / (3.0 * n)) * (CAST(s1 AS DOUBLE) / (3.0 * n))"
               "    + (1.0 - CAST(s1 AS DOUBLE) / (3.0 * n))"
               "      * (1.0 - CAST(s1 AS DOUBLE) / (3.0 * n))))"
               " / (1.0 - ((CAST(s1 AS DOUBLE) / (3.0 * n)) * (CAST(s1 AS DOUBLE) / (3.0 * n))"
               "    + (1.0 - CAST(s1 AS DOUBLE) / (3.0 * n))"
               "      * (1.0 - CAST(s1 AS DOUBLE) / (3.0 * n))))", 6)}
               AS fleiss_kappa
    FROM fk_agg
    """,
    description="Fleiss' kappa across THREE rule-based quality raters "
    "(the Gopher gate, a strict 0.55 threshold, a lenient 0.45 "
    "threshold on the continuous score) — the multi-rater "
    "generalization of stats_cohens_kappa_quality_raters, the "
    "standard agreement statistic for LLM-judge panels and labeling "
    "crowds. Per-doc agreement P_i collapses to integer vote counts "
    "(n1 in 0..3), so N, sum n1, and sum of squared votes are the ONLY "
    "aggregates needed; kappa is one exact scalar expression over "
    "three BIGINTs — engines cannot diverge. One scan, one 1-row "
    "reduce; rater count is a constant, not a data dimension.",
)
def stats_fleiss_kappa_quality_raters(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    labeled = _quality_vs_gopher(spark, sf_dir)
    n1 = (
        F.col("label")
        + F.when(F.col("q") >= 0.55, 1).otherwise(0)
        + F.when(F.col("q") >= 0.45, 1).otherwise(0)
    )
    agg = labeled.select(n1.alias("n1")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("n1").cast("bigint").alias("s1"),
        F.sum(
            F.col("n1") * F.col("n1") + (3 - F.col("n1")) * (3 - F.col("n1"))
        )
        .cast("bigint")
        .alias("sq"),
    )
    nd = F.col("n").cast("double")
    p_bar = (F.col("sq") - 3 * F.col("n")).cast("double") / (6.0 * nd)
    p1 = F.col("s1").cast("double") / (3.0 * nd)
    p_e = p1 * p1 + (1.0 - p1) * (1.0 - p1)
    return agg.select(
        F.col("n").alias("n_docs"),
        F.col("s1").alias("votes_keep"),
        dround(p_bar, 6).alias("p_bar"),
        dround(p_e, 6).alias("p_e"),
        dround((p_bar - p_e) / (1.0 - p_e), 6).alias("fleiss_kappa"),
    )


# ------------------------------------- McNemar paired-rater test
@register(
    "stats_mcnemar_quality_raters",
    oracle=f"""
    WITH {_QEVAL_SQL},
    mc_cells AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CASE WHEN label = 1 AND q < 0.55 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n10,
               CAST(SUM(CASE WHEN label = 0 AND q >= 0.55 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n01
        FROM qe_labeled
    )
    SELECT n, n10 AS gopher_only_keeps, n01 AS score_only_keeps,
           {dround_sql(
               "CAST((n10 - n01) * (n10 - n01) AS DOUBLE) / (n10 + n01)", 4)}
               AS mcnemar_chi2,
           {dround_sql(
               "(abs(CAST(n10 - n01 AS DOUBLE)) - 1.0)"
               " * (abs(CAST(n10 - n01 AS DOUBLE)) - 1.0) / (n10 + n01)", 4)}
               AS mcnemar_chi2_cc
    FROM mc_cells
    """,
    description="McNemar's paired test on the SAME documents rated by "
    "the Gopher gate and the 0.55 score threshold: kappa "
    "(stats_cohens_kappa_quality_raters) asks 'do they agree'; McNemar "
    "asks the sharper replacement question — 'when they disagree, is "
    "one systematically stricter?' Only the discordant cells enter the "
    "statistic, so it detects marginal-rate bias that high agreement "
    "can hide. Integer cells from one scan; chi2 (plus the "
    "continuity-corrected variant) is one exact expression over two "
    "BIGINTs.",
)
def stats_mcnemar_quality_raters(spark: SparkSession, sf_dir: str) -> DataFrame:
    labeled = _quality_vs_gopher(spark, sf_dir)
    cells = labeled.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(((F.col("label") == 1) & (F.col("q") < 0.55)).cast("int"))
        .cast("bigint")
        .alias("n10"),
        F.sum(((F.col("label") == 0) & (F.col("q") >= 0.55)).cast("int"))
        .cast("bigint")
        .alias("n01"),
    )
    diff = (F.col("n10") - F.col("n01")).cast("double")
    tot = F.col("n10") + F.col("n01")
    return cells.select(
        "n",
        F.col("n10").alias("gopher_only_keeps"),
        F.col("n01").alias("score_only_keeps"),
        dround(diff * diff / tot, 4).alias("mcnemar_chi2"),
        dround(
            (F.abs(diff) - 1.0) * (F.abs(diff) - 1.0) / tot, 4
        ).alias("mcnemar_chi2_cc"),
    )


# ------------------------------------- Platt scaling via Newton steps
def _platt_round_sql(i: int) -> str:
    """One unrolled Newton-Raphson round for the 2-parameter logistic
    (intercept b0, slope b1 on the quality score), reading beta from
    pl_beta{i} and emitting pl_beta{i+1}. Closed-form 2x2 inverse."""
    return f"""
    pl_mom{i} AS (
        SELECT SUM(p * (1 - p)) AS sw,
               SUM(p * (1 - p) * q) AS swq,
               SUM(p * (1 - p) * q * q) AS swqq,
               SUM(label - p) AS g0,
               SUM((label - p) * q) AS g1
        FROM (
            SELECT d.q, d.label,
                   1.0 / (1.0 + exp(-(b.b0 + b.b1 * d.q))) AS p
            FROM pl_data d CROSS JOIN pl_beta{i} b
        )
    ),
    pl_beta{i + 1} AS (
        SELECT b.b0 + (m.swqq * m.g0 - m.swq * m.g1)
                      / (m.sw * m.swqq - m.swq * m.swq) AS b0,
               b.b1 + (m.sw * m.g1 - m.swq * m.g0)
                      / (m.sw * m.swqq - m.swq * m.swq) AS b1
        FROM pl_beta{i} b CROSS JOIN pl_mom{i} m
    )"""


@register(
    "stats_platt_scaling_newton",
    oracle=f"""
    WITH {_QEVAL_SQL},
    pl_data AS (
        SELECT q, CAST(label AS DOUBLE) AS label FROM qe_labeled
    ),
    pl_beta0 AS (SELECT 0.0 AS b0, 0.0 AS b1),
    {",".join(_platt_round_sql(i) for i in range(3))},
    pl_fit AS (SELECT b0, b1 FROM pl_beta3),
    pl_eval AS (
        SELECT SUM(CASE WHEN (1.0 / (1.0 + exp(-(f.b0 + f.b1 * d.q))) >= 0.5)
                             = (d.label = 1.0)
                        THEN 1 ELSE 0 END) AS n_correct,
               CAST(COUNT(*) AS BIGINT) AS n,
               SUM(-(d.label * ln(1.0 / (1.0 + exp(-(f.b0 + f.b1 * d.q))))
                     + (1.0 - d.label)
                       * ln(1.0 - 1.0 / (1.0 + exp(-(f.b0 + f.b1 * d.q))))))
                   AS nll
        FROM pl_data d CROSS JOIN pl_fit f
    )
    SELECT e.n AS n_docs,
           {dround_sql("f.b0", 4)} AS platt_b0,
           {dround_sql("f.b1", 4)} AS platt_b1,
           {dround_sql("CAST(e.n_correct AS DOUBLE) / e.n", 6)} AS accuracy,
           {dround_sql("e.nll / e.n", 6)} AS mean_nll
    FROM pl_fit f CROSS JOIN pl_eval e
    """,
    description="Platt scaling — the logistic recalibration that turns "
    "the raw quality score into a probability of passing the Gopher "
    "gate — trained IN THE ENGINE with three unrolled Newton-Raphson "
    "rounds: per round one scan computes the five weighted moments "
    "(X'WX entries and the gradient) and the closed-form 2x2 solve "
    "updates (b0, b1); no driver-side optimizer, constant-depth job "
    "graph, every pass map-side combinable. Reports the fitted "
    "coefficients plus held-in accuracy and mean negative log-"
    "likelihood. The parametric sibling of "
    "stats_isotonic_calibration_pav (monotone nonparametric) — Platt "
    "is what you use when the calibration set is small. Three "
    "fixed rounds from (0,0) are inside Newton's quadratic-"
    "convergence basin for this well-separated 1-D problem.",
)
def stats_platt_scaling_newton(spark: SparkSession, sf_dir: str) -> DataFrame:
    labeled = _quality_vs_gopher(spark, sf_dir).select(
        "q", F.col("label").cast("double").alias("label")
    )
    labeled = labeled.persist()
    beta = (0.0, 0.0)
    for _ in range(3):
        b0, b1 = beta
        p = 1.0 / (1.0 + F.exp(-(F.lit(b0) + F.lit(b1) * F.col("q"))))
        w = p * (1.0 - p)
        m = labeled.agg(
            F.sum(w).alias("sw"),
            F.sum(w * F.col("q")).alias("swq"),
            F.sum(w * F.col("q") * F.col("q")).alias("swqq"),
            F.sum(F.col("label") - p).alias("g0"),
            F.sum((F.col("label") - p) * F.col("q")).alias("g1"),
        ).collect()[0]
        det = m.sw * m.swqq - m.swq * m.swq
        beta = (
            b0 + (m.swqq * m.g0 - m.swq * m.g1) / det,
            b1 + (m.sw * m.g1 - m.swq * m.g0) / det,
        )
    b0, b1 = beta
    p = 1.0 / (1.0 + F.exp(-(F.lit(b0) + F.lit(b1) * F.col("q"))))
    ev = labeled.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(
            ((p >= 0.5) == (F.col("label") == 1.0)).cast("int")
        ).alias("n_correct"),
        F.sum(
            -(
                F.col("label") * F.log(p)
                + (1.0 - F.col("label")) * F.log(1.0 - p)
            )
        ).alias("nll"),
    )
    return ev.select(
        "n_docs",
        dround(F.lit(b0), 4).alias("platt_b0"),
        dround(F.lit(b1), 4).alias("platt_b1"),
        dround(F.col("n_correct").cast("double") / F.col("n_docs"), 6).alias(
            "accuracy"
        ),
        dround(F.col("nll") / F.col("n_docs"), 6).alias("mean_nll"),
    )


# -------------------------------------- k-hop BFS expansion profile
_KHOP_SEED_MOD = 997


@register(
    "graph_khop_expansion_profile",
    oracle=f"""
    WITH eg AS MATERIALIZED (
        SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
        FROM lineitem a JOIN lineitem b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ),
    adj AS MATERIALIZED (
        SELECT u AS x, v AS y FROM eg
        UNION ALL
        SELECT v AS x, u AS y FROM eg
    ),
    nn AS (SELECT CAST(COUNT(DISTINCT x) AS BIGINT) AS n_nodes FROM adj),
    v0 AS (
        SELECT DISTINCT x AS seed, x AS node FROM adj
        WHERE x % {_KHOP_SEED_MOD} = 0
    ),
    h1 AS (
        SELECT DISTINCT v0.seed, a.y AS node
        FROM v0 JOIN adj a ON a.x = v0.node
        EXCEPT SELECT seed, node FROM v0
    ),
    h2 AS (
        SELECT DISTINCT h1.seed, a.y AS node
        FROM h1 JOIN adj a ON a.x = h1.node
        EXCEPT (SELECT seed, node FROM v0
                UNION ALL SELECT seed, node FROM h1)
    ),
    counts AS (
        SELECT seed, 0 AS hop, CAST(COUNT(*) AS BIGINT) AS n_first
        FROM v0 GROUP BY seed
        UNION ALL
        SELECT seed, 1, CAST(COUNT(*) AS BIGINT) FROM h1 GROUP BY seed
        UNION ALL
        SELECT seed, 2, CAST(COUNT(*) AS BIGINT) FROM h2 GROUP BY seed
    )
    SELECT seed AS seed_part, CAST(hop AS BIGINT) AS hop,
           n_first AS n_first_reached,
           CAST(SUM(n_first) OVER (
               PARTITION BY seed ORDER BY hop
               ROWS UNBOUNDED PRECEDING
           ) AS BIGINT) AS cum_reached,
           {dround_sql(
               "SUM(n_first) OVER (PARTITION BY seed ORDER BY hop "
               "ROWS UNBOUNDED PRECEDING) / CAST(nn.n_nodes AS DOUBLE)",
               6,
           )} AS reach_frac
    FROM counts CROSS JOIN nn
    ORDER BY seed_part, hop
    """,
    description="k-hop BFS expansion profile of the part co-order graph "
    "(min-hop semantics): from a deterministic seed panel (partkey % "
    "997 = 0), count nodes FIRST reached at hop 1 and hop 2 — the "
    "graph's expansion rate, which is what decides whether "
    "friend-of-friend candidate generation / label propagation rounds "
    "/ dedup-cluster growth saturate in 2 hops or 10 on a given corpus "
    "(this co-order graph saturates by hop 2: reach_frac ~= 1). BFS is "
    "level-synchronous and UNROLLED (frontier equi-join + "
    "set-difference against the visited set), never a recursive "
    "path-enumeration — UNION ALL recursion enumerates PATHS and "
    "explodes combinatorially on dense graphs. Honest cost model: a "
    "BFS round's join fan-out is sum of deg(node) over the frontier, "
    "worst case |panel| x |edges| once the frontier saturates — which "
    "is WHY the profile stops at hop 2 here (a measured hop-3 round on "
    "the saturated frontier costs ~|panel|x|E| ~ 240M rows at sf0.1 "
    "for zero new information); panel size and hop cap are the "
    "explicit budget levers. Each hop's first-reached count is "
    "integer-exact; cum/frac derive from a seed-keyed window over the "
    "3-row-per-seed profile.",
)
def graph_khop_expansion_profile(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    edges = SK.co_occurrence_pairs(li, "l_orderkey", "l_partkey")
    # r13 (guide §2.4): cache the adjacency HASH-PARTITIONED on its join
    # key x — every BFS hop joins adj on x, and a round-robin cache made
    # each hop re-exchange the (large) adjacency side; partitioned-then-
    # cached, only the (small) frontier shuffles per hop, and the
    # count_distinct(x) below rides the same partitioning.
    adj = (
        edges.select(F.col("u").alias("x"), F.col("v").alias("y"))
        .unionAll(edges.select(F.col("v").alias("x"), F.col("u").alias("y")))
        .repartition(F.col("x"))
        .persist()
    )
    n_nodes = adj.agg(
        F.count_distinct("x").cast("bigint").alias("n_nodes")
    )
    v0 = (
        adj.filter(F.col("x") % _KHOP_SEED_MOD == 0)
        .select(F.col("x").alias("seed"), F.col("x").alias("node"))
        .distinct()
        .persist()
    )
    levels = [v0]
    visited = v0
    for _ in range(2):
        frontier = (
            levels[-1]
            .join(adj, levels[-1]["node"] == adj["x"])
            .select("seed", F.col("y").alias("node"))
            .distinct()
            .join(visited, ["seed", "node"], "left_anti")
            .persist()
        )
        levels.append(frontier)
        visited = visited.unionAll(frontier)
    counts = None
    for hop, lvl in enumerate(levels):
        c = lvl.groupBy("seed").agg(
            F.count(F.lit(1)).cast("bigint").alias("n_first")
        ).select("seed", F.lit(hop).cast("bigint").alias("hop"), "n_first")
        counts = c if counts is None else counts.unionAll(c)
    w = (
        Window.partitionBy("seed")
        .orderBy("hop")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        counts.crossJoin(F.broadcast(n_nodes))
        .select(
            F.col("seed").alias("seed_part"),
            "hop",
            F.col("n_first").alias("n_first_reached"),
            F.sum("n_first").over(w).cast("bigint").alias("cum_reached"),
            dround(
                F.sum("n_first").over(w)
                / F.col("n_nodes").cast("double"),
                6,
            ).alias("reach_frac"),
        )
        .orderBy("seed_part", "hop")
    )
