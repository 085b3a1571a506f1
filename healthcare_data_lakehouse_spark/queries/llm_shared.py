"""Shared helpers for the LLM-pipeline query families."""

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


_H48 = "CAST(('0x' || substr(md5({c}), 1, 12)) AS BIGINT)"


def _docs_with_dups(spark: SparkSession, sf_dir: str, mod: int) -> DataFrame:
    """documents ∪ exact copies of every (doc_id % mod == 0) doc under a
    shifted id — controlled near-duplicate injection."""
    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    dups = docs.filter(F.col("doc_id") % mod == 0).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"), "text"
    )
    return docs.unionAll(dups)


_DOCS_DUPS_SQL = """
docs AS (
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % {mod} = 0
)
"""

# DuckDB shingle table: distinct k=3 word shingles per doc (parity with
# dedup.word_shingles: 0x1F-joined, <k tokens -> single whole-text shingle).
_SHINGLES_SQL = """
toks AS (
    SELECT doc_id, string_split(text, ' ') AS t FROM docs
),
shingles AS (
    SELECT DISTINCT doc_id,
           array_to_string(t[i:i+2], chr(31)) AS shingle
    FROM toks, UNNEST(range(1, greatest(len(t) - 2, 1) + 1)) AS u(i)
    WHERE len(t) >= 3
    UNION
    SELECT DISTINCT doc_id, array_to_string(t, chr(31)) AS shingle
    FROM toks WHERE len(t) < 3
)
"""


def _lsh_pairs_ctes() -> tuple[str, str]:
    """(CTE chain, final pair-select) for the LSH near-dup pipeline —
    composable so the cluster oracle can extend it recursively."""
    band_selects = []
    for band in range(D.N_BANDS):
        cols = [f"mh_{band * D.BAND_ROWS + r}" for r in range(D.BAND_ROWS)]
        key = f"'{band}:' || " + " || ':' || ".join(
            f"CAST({c} AS VARCHAR)" for c in cols
        )
        band_selects.append(f"SELECT doc_id AS sid, {key} AS bkey FROM sig")
    bucket_sql = "\n        UNION ALL ".join(band_selects)
    mins = ",\n               ".join(
        f"MIN(({a} * h + {b}) % {D.MERSENNE_P}) AS mh_{j}"
        for j, (a, b) in enumerate(D.MINHASH_PERMS)
    )
    ctes = (
        _DOCS_DUPS_SQL.format(mod=20)
        + ", "
        + _SHINGLES_SQL
        + f""",
    hashed AS (
        SELECT doc_id, {_H48.format(c='shingle')} AS h FROM shingles
    ),
    sig AS (
        SELECT doc_id,
               {mins}
        FROM hashed GROUP BY doc_id
    ),
    bucket AS (
        {bucket_sql}
    ),
    cand AS (
        SELECT DISTINCT l.sid AS id_a, r.sid AS id_b
        FROM bucket l JOIN bucket r ON l.bkey = r.bkey AND l.sid < r.sid
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS sz FROM shingles GROUP BY doc_id),
    inter AS (
        SELECT c.id_a, c.id_b, COUNT(*) AS n_inter
        FROM cand c
        JOIN shingles a ON a.doc_id = c.id_a
        JOIN shingles b ON b.doc_id = c.id_b AND a.shingle = b.shingle
        GROUP BY c.id_a, c.id_b
    )
    """
    )
    final = """
    SELECT id_a, id_b,
           ROUND(CAST(n_inter AS DOUBLE) / (sa.sz + sb.sz - n_inter), 6) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
    WHERE CAST(n_inter AS DOUBLE) / (sa.sz + sb.sz - n_inter) >= 0.5
    """
    return ctes, final


def _bucket_sql(vec_expr: str = "embedding") -> str:
    """DuckDB expression for the 8-bit hyperplane bucket (same LCG planes)."""
    bits = []
    for i, plane in enumerate(S.HYPERPLANES):
        lit = "[" + ", ".join(repr(v) for v in plane) + "]"
        bits.append(
            f"CASE WHEN list_sum(list_transform(list_zip({vec_expr}, {lit}), "
            f"p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))) > 0 "
            f"THEN CAST({2**i} AS BIGINT) ELSE 0 END"
        )
    return "\n             + ".join(bits)


_PRETOKEN_RE = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"


# --------------------------------------- composite curation pipeline
_SCORE_SQL = """
    ROUND(0.4 * least(1.0, CAST(len(string_split(text, ' ')) AS DOUBLE) / 100)
        + 0.3 * (1.0 - CASE WHEN length(text) > 0
              THEN CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS DOUBLE) / length(text)
              ELSE 0.0 END)
        + 0.3 * least(1.0, 4.0 * CASE WHEN len(string_split(text, ' ')) > 0
              THEN CAST(len(list_filter(string_split(lower(text), ' '),
                   x -> x IN ('the','a','of','and','to','in','is','it'))) AS DOUBLE)
                   / len(string_split(text, ' '))
              ELSE 0.0 END), 6)
"""


# ----------------------------------------------- bloom-filter prefilter
_BLOOM_M = 4096
_BLOOM_K = 3


# ------------------------------------------------- product quantization
_PQ_M, _PQ_SUB, _PQ_K = 4, 16, 8  # 4 subspaces x 16 dims, 8 codes each


def _pq_d2_sql(a: str, b: str, m: int, sub: int = _PQ_SUB) -> str:
    """DuckDB squared-L2 over subspace ``m`` (sequential double sum, same
    fold order as the Spark side's F.aggregate)."""
    lo, hi = m * sub + 1, (m + 1) * sub
    return (
        f"list_sum(list_transform(list_zip(list_slice({a}, {lo}, {hi}), "
        f"list_slice({b}, {lo}, {hi})), "
        f"p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)) "
        f"* (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))))"
    )


# ------------------------------------------- gopher-style quality gate
# Rule names in the fixed order they are evaluated; ``reasons`` joins the
# fired ones with ',' so the output is a deterministic scalar per doc.
_GOPHER_RULES = [
    ("too_few_words", "n_words < 15"),
    ("too_many_words", "n_words > 500"),
    ("word_len_out_of_range", "mean_word_len < 2.5 OR mean_word_len > 8.0"),
    ("excessive_repetition", "dup_word_frac > 0.7"),
    ("no_stopwords", "stop_hits = 0"),
]
_GOPHER_PASS_SQL = " OR ".join(f"({pred})" for _, pred in _GOPHER_RULES)


# ------------------------------------- quality-classifier evaluation
# The continuous length/punct/stopword quality score (text_quality_scores)
# is the cheap "distilled classifier"; the Gopher rule gate
# (text_gopher_quality_filter) is the expensive "gold" labeler. This
# family measures how well the score ranks (ROC-AUC), how honest its
# probabilities are (ECE / Brier), how to repair them (isotonic PAV
# calibration), and how much two rule-based raters agree beyond chance
# (Cohen's kappa) — the evaluation loop every production quality filter
# for LLM training data goes through before it gates a 100 TB corpus.
# Corpus-scale work in every query is ONE scan + one groupBy; all the
# evaluation math happens on score-grain / bin-grain aggregates.

_QEVAL_SQL = f"""
qe_scored AS (
    SELECT doc_id, {_SCORE_SQL} AS q, string_split(text, ' ') AS w
    FROM documents
),
qe_feats AS (
    SELECT doc_id, q,
           CAST(len(w) AS BIGINT) AS n_words,
           {dround_sql("CAST(list_sum(list_transform(w, x -> length(x))) AS DOUBLE) / len(w)", 6)} AS mean_word_len,
           {dround_sql("1.0 - CAST(len(list_distinct(w)) AS DOUBLE) / len(w)", 6)} AS dup_word_frac,
           CAST(len(list_filter(w, x -> lower(x) IN
                ('the','a','of','and','to','in','is','it'))) AS BIGINT)
                AS stop_hits
    FROM qe_scored
),
qe_labeled AS (
    SELECT doc_id, q,
           CAST(CASE WHEN {_GOPHER_PASS_SQL} THEN 0 ELSE 1 END AS INT)
               AS label
    FROM qe_feats
)
"""


def _quality_vs_gopher(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, q, label): the continuous quality score next to the
    Gopher-gate 0/1 label, both reusing the exact expressions of their
    standalone queries so cross-engine parity is inherited."""
    docs = table(spark, sf_dir, "documents")
    q = TX.quality_score_cols(F.col("text"))["quality_score"]
    w = F.split(F.col("text"), " ")
    mean_word_len = dround(
        F.aggregate(w, F.lit(0), lambda a, x: a + F.length(x)).cast("double")
        / F.size(w),
        6,
    )
    dup_frac = dround(
        F.lit(1.0) - F.size(F.array_distinct(w)).cast("double") / F.size(w), 6
    )
    stop_hits = F.size(
        F.filter(w, lambda x: F.lower(x).isin(*TX.STOPWORDS))
    ).cast("bigint")
    feats = docs.select(
        "doc_id",
        q.alias("q"),
        F.size(w).cast("bigint").alias("n_words"),
        mean_word_len.alias("mean_word_len"),
        dup_frac.alias("dup_word_frac"),
        stop_hits.alias("stop_hits"),
    )
    fail = (
        (F.col("n_words") < 15)
        | (F.col("n_words") > 500)
        | (F.col("mean_word_len") < 2.5)
        | (F.col("mean_word_len") > 8.0)
        | (F.col("dup_word_frac") > 0.7)
        | (F.col("stop_hits") == 0)
    )
    return feats.select(
        "doc_id", "q", F.when(fail, 0).otherwise(1).cast("int").alias("label")
    )


# --------------------------------------------- Bloom-filter FPR audit
_BLOOM_M = 4096
_BLOOM_K = 3
