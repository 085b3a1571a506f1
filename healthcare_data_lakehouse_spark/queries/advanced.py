"""Advanced analytics: bitmap encodings, changepoint detection,
resampling inference, vocabulary-growth laws.

The reference has no analytics surface at all (its ``AGGREGATION`` /
``JOINING`` labels are lineage metadata only, reference
``src/lineage/lineage_tracker.py:45-46``); these queries extend the
engine's statistical/ops toolbox beyond `behavior_events` and
`behavior_stats`, each with a DuckDB oracle.

Scale notes (100 TB design point):
* The activity bitmap packs 63 days of per-user presence into ONE
  int64 — the roaring-bitmap primitive. Audience intersection /
  retention math then becomes bitwise AND + popcount on a
  customer-grain table instead of re-scanning the fact table.
* CUSUM runs its ordered window over the day-grain post-aggregation
  series (|days| rows), never over raw events.
* The Poisson bootstrap (Chamandy et al., Google 2012) replaces B full
  resamples with ONE scan: each row draws an independent Poisson(1)
  replication weight per replicate from a content hash, so the 32
  replicate means come out of a single map-side-combinable aggregate.
  No collect, no per-replicate shuffle, deterministic across engines
  (integer hash-threshold compare, no float RNG).
* Heaps' law fits distinct-vs-total vocabulary growth entirely from
  per-document array statistics (no explode): one scan, one
  regr_slope aggregate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from healthcare_data_lakehouse_spark.functions import dround, dround_sql
from healthcare_data_lakehouse_spark.queries.catalog import register
from healthcare_data_lakehouse_spark.tables import table

__all__: list[str] = []


# ------------------------------------------------- per-user activity bitmap
@register(
    "events_user_activity_bitmap",
    oracle="""
    WITH days AS (
        SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
    ),
    first AS (SELECT user_id, MIN(day) AS d0 FROM days GROUP BY user_id),
    idx AS (
        SELECT d.user_id, datediff('day', f.d0, d.day) AS di
        FROM days d JOIN first f ON d.user_id = f.user_id
        WHERE datediff('day', f.d0, d.day) < 63
    )
    SELECT user_id,
           bit_or(1::BIGINT << di) AS bitmap,
           CAST(bit_count(bit_or(1::BIGINT << di)) AS INT) AS active_days,
           CAST(bit_count(bit_or(1::BIGINT << di) & 127) AS INT)
               AS week1_days,
           CAST(floor(log2(bit_or(1::BIGINT << di))) AS INT)
               AS last_day_idx
    FROM idx GROUP BY user_id
    """,
    description="Per-user 63-day retention bitmap: day 0 = the user's "
    "first active day, bit i set iff active on day i. ONE int64 per "
    "user encodes presence (the roaring-bitmap audience primitive): "
    "active_days = popcount, week1_days = popcount(bitmap & 0x7F), "
    "last_day_idx = floor(log2). Downstream audience overlap / "
    "retention queries become bitwise AND + popcount over the "
    "customer-grain table — the fact table is scanned exactly once, "
    "ever. 63 (not 64) days keeps the int64 sign bit clear so the "
    "log2 span math stays exact on both engines.",
)
def events_user_activity_bitmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    days = ev.select(
        "user_id", F.col("ts").cast("date").alias("day")
    ).distinct()
    first = days.groupBy("user_id").agg(F.min("day").alias("d0"))
    idx = (
        days.join(first, "user_id")
        .select("user_id", F.datediff("day", "d0").alias("di"))
        .filter(F.col("di") < 63)
    )
    bm = idx.groupBy("user_id").agg(
        F.expr("bit_or(shiftleft(1L, di))").alias("bitmap")
    )
    return bm.select(
        "user_id",
        "bitmap",
        F.bit_count("bitmap").cast("int").alias("active_days"),
        F.bit_count(F.col("bitmap").bitwiseAND(F.lit(127)))
        .cast("int")
        .alias("week1_days"),
        F.floor(F.log2("bitmap")).cast("int").alias("last_day_idx"),
    )


# ---------------------------------------------------- CUSUM changepoint
@register(
    "events_changepoint_cusum",
    oracle="""
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS day,
               CAST(ROUND(CAST(ROUND(CAST(SUM(value) AS DECIMAL(38,8)), 4)
                    AS DOUBLE) * 10000) AS BIGINT) AS dvl
        FROM events GROUP BY 1
    ),
    tot AS (
        SELECT CAST(SUM(dvl) AS BIGINT) AS total, COUNT(*) AS n FROM daily
    ),
    cs AS (
        SELECT day, dvl,
               tot.n * CAST(SUM(dvl) OVER (ORDER BY day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT)
               - CAST(ROW_NUMBER() OVER (ORDER BY day) AS BIGINT) * tot.total
                   AS cusum_scaled,
               tot.n AS n
        FROM daily CROSS JOIN tot
    ),
    mx AS (SELECT MAX(ABS(cusum_scaled)) AS mx FROM cs)
    SELECT day, dvl / 10000.0 AS daily_value,
           cusum_scaled / (n * 10000.0) AS cusum,
           ABS(cusum_scaled) = mx.mx AS is_changepoint
    FROM cs CROSS JOIN mx
    """,
    description="CUSUM changepoint detection over the daily value "
    "series: cumulative sum of deviations from the series mean; the "
    "day where |CUSUM| peaks is the single most likely level-shift "
    "point (Page 1954). Complements events_value_anomalies (local "
    "z-score spikes) with a GLOBAL structural-break detector. The "
    "ordered window runs over the day-grain post-aggregation series, "
    "never the raw events; the totals and the peak are broadcast "
    "one-row joins. The whole detector runs in SCALED-INTEGER space "
    "(daily sums pinned to 4-dp via decimal, then cusum_i scaled "
    "through by n: n*prefix_i - i*total), so deviation-from-mean "
    "accumulation is exact integer arithmetic — float summation "
    "order can neither flip a near-zero cusum's sign nor move the "
    "peak (int64 headroom: |n*prefix| < 2^63 up to ~1e14 in scaled "
    "daily units; beyond that, widen to DECIMAL(38,0)).",
)
def events_changepoint_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    daily = ev.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.round(dround(F.sum("value"), 4) * 10000)
        .cast("bigint")
        .alias("dvl")
    )
    tot = daily.agg(
        F.sum("dvl").alias("total"), F.count(F.lit(1)).alias("n")
    )
    w_cum = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    w_rn = Window.orderBy("day")
    cs = (
        daily.crossJoin(F.broadcast(tot))
        .withColumn(
            "cusum_scaled",
            F.col("n") * F.sum("dvl").over(w_cum)
            - F.row_number().over(w_rn).cast("bigint") * F.col("total"),
        )
    )
    mx = cs.agg(F.max(F.abs("cusum_scaled")).alias("mx"))
    return cs.crossJoin(F.broadcast(mx)).select(
        "day",
        (F.col("dvl") / 10000.0).alias("daily_value"),
        (F.col("cusum_scaled") / (F.col("n") * 10000.0)).alias("cusum"),
        (F.abs("cusum_scaled") == F.col("mx")).alias("is_changepoint"),
    )


# ------------------------------------------------- Poisson bootstrap CI
_POIS_THRESHOLDS = (
    103548857136060,
    207097714272121,
    258872142840152,
    276130285696162,
    280444821410164,
    281307728552965,
)


def _poisson_case(h: str) -> str:
    """Integer-threshold inverse-CDF of Poisson(1) on a hash in [0, 16^12)."""
    branches = " ".join(
        f"WHEN {h} < {t} THEN {k}" for k, t in enumerate(_POIS_THRESHOLDS)
    )
    return f"CASE {branches} ELSE 6 END"


@register(
    "stats_bootstrap_ci",
    oracle=f"""
    WITH reps AS (
        SELECT o.o_totalprice AS x, t.r,
               {_poisson_case("CAST(('0x' || substr(md5(CAST(o.o_orderkey AS VARCHAR) || ':' || CAST(t.r AS VARCHAR)), 1, 12)) AS BIGINT)")} AS w
        FROM orders o CROSS JOIN UNNEST(generate_series(0, 31)) AS t(r)
    ),
    boot AS (
        SELECT r, ROUND(SUM(w * x) / SUM(w), 6) AS mean_r
        FROM reps GROUP BY r
    ),
    pt AS (SELECT COUNT(*) AS n_orders, AVG(o_totalprice) AS m FROM orders)
    SELECT pt.n_orders,
           ROUND(pt.m, 4) AS point_mean,
           ROUND(STDDEV_SAMP(mean_r), 4) AS boot_se,
           ROUND(quantile_cont(mean_r, 0.025), 4) AS ci_lo,
           ROUND(quantile_cont(mean_r, 0.975), 4) AS ci_hi
    FROM boot CROSS JOIN pt
    GROUP BY pt.n_orders, pt.m
    """,
    description="Poisson-bootstrap 95% CI for mean order value "
    "(Chamandy et al., 'Estimating Uncertainty for Massive Data "
    "Streams', Google 2012): instead of materializing 32 resamples, "
    "each (order, replicate) draws an independent Poisson(1) weight "
    "from an integer md5 threshold — the binomial(n, 1/n) resample "
    "count converges to Poisson(1) at scale and needs no global n. "
    "One explode×32 scan, one grouped aggregate, 32 replicate means; "
    "SE and percentile CI come from the 32-row table. Fully "
    "deterministic across engines: the weight compare is integer-"
    "integer, no float RNG anywhere.",
)
def stats_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders")
    h = (
        "CAST(conv(substr(md5(concat(CAST(o_orderkey AS STRING), ':', "
        "CAST(r AS STRING))), 1, 12), 16, 10) AS BIGINT)"
    )
    reps = orders.select(
        "o_orderkey",
        F.col("o_totalprice").alias("x"),
        F.explode(F.expr("sequence(0, 31)")).alias("r"),
    ).withColumn("w", F.expr(_poisson_case(h)))
    boot = reps.groupBy("r").agg(
        F.round(F.sum(F.col("w") * F.col("x")) / F.sum("w"), 6).alias("mean_r")
    )
    pt = orders.agg(
        F.count(F.lit(1)).alias("n_orders"), F.avg("o_totalprice").alias("m")
    )
    return (
        boot.crossJoin(F.broadcast(pt))
        .groupBy("n_orders", "m")
        .agg(
            F.round(F.stddev_samp("mean_r"), 4).alias("boot_se"),
            F.round(F.expr("percentile(mean_r, 0.025)"), 4).alias("ci_lo"),
            F.round(F.expr("percentile(mean_r, 0.975)"), 4).alias("ci_hi"),
        )
        .select(
            "n_orders",
            F.round("m", 4).alias("point_mean"),
            "boot_se",
            "ci_lo",
            "ci_hi",
        )
    )


# ---------------------------------------------------- Heaps' law fit
@register(
    "text_heaps_law_fit",
    oracle="""
    WITH per_doc AS (
        SELECT len(list_filter(string_split_regex(lower(text), '[^a-z]+'),
                   x -> x <> '')) AS total,
               len(list_distinct(list_filter(
                   string_split_regex(lower(text), '[^a-z]+'),
                   x -> x <> ''))) AS uniq
        FROM documents
    )
    SELECT COUNT(*) AS n_docs,
           ROUND(AVG(CAST(uniq AS DOUBLE) / total), 4) AS avg_ttr,
           ROUND(regr_slope(ln(uniq), ln(total)), 4) AS heaps_beta,
           ROUND(exp(regr_intercept(ln(uniq), ln(total))), 4) AS heaps_k
    FROM per_doc WHERE total > 0 AND uniq > 0
    """,
    description="Heaps'-law vocabulary-growth fit: distinct-token "
    "count grows as K·n^beta with document length; beta (the log-log "
    "regr_slope) and K characterize corpus lexical diversity — the "
    "companion diagnostic to text_zipf_slope (rank-frequency) and a "
    "standard repetitive/templated-text detector for pretraining "
    "curation (low beta = boilerplate). Token and distinct counts "
    "come from array functions on the text column (split / filter / "
    "array_distinct) with ZERO explode — one scan, one regression "
    "aggregate, map-side combinable running moments.",
)
def text_heaps_law_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    toks = F.expr("filter(split(lower(text), '[^a-z]+'), x -> x <> '')")
    per_doc = docs.select(
        F.size(toks).alias("total"),
        F.size(F.array_distinct(toks)).alias("uniq"),
    ).filter("total > 0 AND uniq > 0")
    return per_doc.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg(F.col("uniq").cast("double") / F.col("total")), 4).alias(
            "avg_ttr"
        ),
        F.round(F.expr("regr_slope(ln(uniq), ln(total))"), 4).alias(
            "heaps_beta"
        ),
        F.round(F.exp(F.expr("regr_intercept(ln(uniq), ln(total))")), 4).alias(
            "heaps_k"
        ),
    )


# ------------------------------------------- sweep-line session concurrency
@register(
    "events_concurrent_sessions_sweepline",
    oracle="""
    WITH marked AS (
        SELECT user_id, ts,
               CASE WHEN datediff('microsecond',
                        LAG(ts) OVER (PARTITION BY user_id ORDER BY ts), ts)
                        > 1800000000
                     OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                        IS NULL
                    THEN 1 ELSE 0 END AS new_sess
        FROM events
    ),
    sess AS (
        SELECT user_id,
               SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid,
               ts
        FROM marked
    ),
    iv AS (
        SELECT MIN(ts) AS s, MAX(ts) AS e
        FROM sess GROUP BY user_id, sid
    ),
    pts AS (
        SELECT s AS pt, 1 AS delta FROM iv
        UNION ALL
        SELECT e + INTERVAL 1 SECOND AS pt, -1 AS delta FROM iv
    ),
    agg AS (SELECT pt, SUM(delta) AS d FROM pts GROUP BY pt),
    run AS (
        SELECT pt, SUM(d) OVER (ORDER BY pt
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS conc
        FROM agg
    )
    SELECT CAST(pt AS DATE) AS day,
           CAST(MAX(conc) AS INT) AS peak_concurrent,
           CAST(COUNT(*) AS INT) AS n_boundaries
    FROM run GROUP BY 1
    """,
    description="Peak concurrent sessions per day via the sweep-line "
    "(+1/-1 boundary) decomposition: 30-min-gap sessionization gives "
    "intervals, each contributes +1 at start and -1 one second past "
    "end, the running sum over merged boundary points IS the exact "
    "concurrency curve. NEVER a range self-join (the O(n^2) trap) and "
    "never a minute-spine explode: boundary points number 2x sessions, "
    "orders of magnitude below the fact table, and the single ordered "
    "prefix sum runs over that boundary table (partition-offset scheme "
    "at 1e9+ sessions, see pipeline_global_row_index). Same interval "
    "concurrency primitive as hospital-bed census / max-occupancy "
    "queries.",
)
def events_concurrent_sessions_sweepline(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = table(spark, sf_dir, "events").select("user_id", "ts")
    wu = Window.partitionBy("user_id").orderBy("ts")
    gap_us = F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(wu))
    marked = ev.withColumn(
        "new_sess",
        F.when(gap_us.isNull() | (gap_us > 1_800_000_000), 1).otherwise(0),
    )
    sess = (
        marked.withColumn(
            "sid",
            F.sum("new_sess").over(wu.rowsBetween(Window.unboundedPreceding, 0)),
        )
        .groupBy("user_id", "sid")
        .agg(F.min("ts").alias("s"), F.max("ts").alias("e"))
    )
    pts = sess.select(
        F.col("s").alias("pt"), F.lit(1).alias("delta")
    ).unionAll(
        sess.select(
            F.expr("e + INTERVAL 1 SECOND").alias("pt"),
            F.lit(-1).alias("delta"),
        )
    )
    agg = pts.groupBy("pt").agg(F.sum("delta").alias("d"))
    # distributed prefix sum (partition-offset scheme) — the boundary table
    # is 2x sessions; a global Window.orderBy here would be one task
    from healthcare_data_lakehouse_spark.functions.ordered import running_sum_over

    run = running_sum_over(agg, "pt", "d", "conc")
    return run.groupBy(F.col("pt").cast("date").alias("day")).agg(
        F.max("conc").cast("int").alias("peak_concurrent"),
        F.count(F.lit(1)).cast("int").alias("n_boundaries"),
    )


# ------------------------------------------- dictionary-encoding audit
_LINEITEM_COLS = (
    # (name, type_bytes, is_string)
    ("l_orderkey", 8, False),
    ("l_partkey", 8, False),
    ("l_suppkey", 8, False),
    ("l_linenumber", 4, False),
    ("l_quantity", 8, False),
    ("l_extendedprice", 8, False),
    ("l_discount", 8, False),
    ("l_tax", 8, False),
    ("l_returnflag", 1, True),
    ("l_linestatus", 1, True),
    ("l_shipdate", 8, False),
)


@register(
    "storage_dictionary_encoding_audit",
    oracle="""
    WITH cols AS (
        """
    + "\n        UNION ALL\n        ".join(
        f"SELECT '{n}' AS col_name, CAST({n} AS VARCHAR) AS v, "
        f"{b} AS type_bytes, {str(s).upper()} AS is_string FROM lineitem"
        for n, b, s in _LINEITEM_COLS
    )
    + """
    )
    SELECT col_name,
           COUNT(v) AS n_values,
           COUNT(DISTINCT v) AS n_distinct,
           CAST(ceil(log2(greatest(COUNT(DISTINCT v), 2))) AS INT)
               AS dict_bits,
           CASE WHEN MAX(CAST(is_string AS INT)) = 1
                THEN ROUND(AVG(length(v)), 2)
                ELSE MAX(type_bytes) END AS plain_bytes,
           ROUND(CASE WHEN MAX(CAST(is_string AS INT)) = 1
                      THEN ROUND(AVG(length(v)), 2)
                      ELSE MAX(type_bytes) END
                 / ceil(ceil(log2(greatest(COUNT(DISTINCT v), 2))) / 8.0),
                 2) AS est_ratio
    FROM cols GROUP BY col_name
    """,
    description="Columnar-storage encoding audit over every lineitem "
    "column: exact NDV, the dictionary index width it implies "
    "(ceil(log2 NDV) bits), and the estimated dictionary-encoding "
    "compression ratio vs the plain value width — the planning input "
    "for parquet dictionary/RLE tuning and Z-order column selection "
    "(low-NDV columns compress AND cluster; high-NDV columns do "
    "neither). One scan: the table unpivots through an 11-way stack "
    "(values stringified — injective per engine, so NDV is exact), "
    "then a TWO-PHASE exact-NDV aggregate: group to (column, value) "
    "grain first — map-side combine collapses repeats before the "
    "shuffle, so shuffle volume is the distinct-value census, not "
    "11x the fact table (a single COUNT(DISTINCT) agg would Expand "
    "every row 11 ways through the exchange instead) — then one tiny "
    "per-column rollup. The NDV census at PB scale would swap the "
    "exact count for approx_count_distinct per column; exact here so "
    "the oracle hash-matches.",
)
def storage_dictionary_encoding_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    stack_args = ", ".join(
        f"'{n}', CAST({n} AS STRING), {b}, {str(s).lower()}"
        for n, b, s in _LINEITEM_COLS
    )
    cols = li.select(
        F.expr(
            f"stack({len(_LINEITEM_COLS)}, {stack_args}) "
            "AS (col_name, v, type_bytes, is_string)"
        )
    )
    per_val = cols.groupBy("col_name", "v").agg(
        F.count("v").alias("cnt"),
        F.max("type_bytes").alias("type_bytes"),
        F.max(F.col("is_string").cast("int")).alias("is_string"),
    )
    n_distinct = F.count(F.when(F.col("v").isNotNull(), F.lit(1)))
    dict_bits = F.ceil(F.log2(F.greatest(n_distinct, F.lit(2)))).cast("int")
    plain_bytes = F.when(
        F.max("is_string") == 1,
        F.round(
            F.sum(F.col("cnt") * F.length("v")) / F.sum("cnt"), 2
        ),
    ).otherwise(F.max("type_bytes").cast("double"))
    return per_val.groupBy("col_name").agg(
        F.sum("cnt").alias("n_values"),
        n_distinct.alias("n_distinct"),
        dict_bits.alias("dict_bits"),
        plain_bytes.alias("plain_bytes"),
        F.round(plain_bytes / F.ceil(dict_bits / F.lit(8.0)), 2).alias(
            "est_ratio"
        ),
    )


# ------------------------------------------------- Z-order layout audit
_Z_BITS = 8
_Z_FILES = 64


def _z_interleave_sql(xcol: str, ycol: str) -> str:
    """DuckDB expression interleaving the low 8 bits of two ints (Morton)."""
    terms = [
        f"((({xcol} >> {i}) & 1) << {2 * i}) + ((({ycol} >> {i}) & 1) << {2 * i + 1})"
        for i in range(_Z_BITS)
    ]
    return "(" + " + ".join(terms) + ")"


def _z_interleave_col(x, y):
    """Spark twin of :func:`_z_interleave_sql` (same bit math, Column API)."""
    z = F.lit(0)
    for i in range(_Z_BITS):
        z = z + F.shiftleft(F.shiftright(x, i).bitwiseAND(F.lit(1)), 2 * i)
        z = z + F.shiftleft(
            F.shiftright(y, i).bitwiseAND(F.lit(1)), 2 * i + 1
        )
    return z


@register(
    "storage_zorder_pruning_audit",
    oracle=f"""
    WITH mm AS (
        SELECT MIN(l_partkey) AS pmin, MAX(l_partkey) AS pmax,
               MIN(l_suppkey) AS smin, MAX(l_suppkey) AS smax,
               MIN(l_orderkey) AS omin, MAX(l_orderkey) AS omax
        FROM lineitem
    ),
    coded AS (
        SELECT ((l_partkey - mm.pmin) * 255)
                   // GREATEST(mm.pmax - mm.pmin, 1) AS px,
               ((l_suppkey - mm.smin) * 255)
                   // GREATEST(mm.smax - mm.smin, 1) AS sx,
               l_partkey, l_orderkey, mm.pmin, mm.pmax, mm.omin, mm.omax
        FROM lineitem, mm
    ),
    placed AS (
        SELECT l_partkey,
               ({_z_interleave_sql("px", "sx")} * {_Z_FILES}) // 65536
                   AS zfile,
               ((l_orderkey - omin) * {_Z_FILES})
                   // GREATEST(omax - omin + 1, 1) AS nfile,
               pmin + (pmax - pmin) // 10 AS hi
        FROM coded
    ),
    z AS (
        SELECT 'zorder' AS layout, zfile AS f, MIN(l_partkey) AS mn,
               MAX(hi) AS hi
        FROM placed GROUP BY zfile
    ),
    n AS (
        SELECT 'natural' AS layout, nfile AS f, MIN(l_partkey) AS mn,
               MAX(hi) AS hi
        FROM placed GROUP BY nfile
    ),
    files AS (SELECT * FROM z UNION ALL SELECT * FROM n)
    SELECT layout,
           CAST(COUNT(*) AS INT) AS n_files,
           CAST(SUM(CASE WHEN mn <= hi THEN 1 ELSE 0 END) AS INT)
               AS files_scanned,
           CAST(ROUND(CAST(1.0 - SUM(CASE WHEN mn <= hi THEN 1.0 ELSE 0 END)
                           / COUNT(*) AS DECIMAL(38,8)), 4) AS DOUBLE)
               AS skip_ratio
    FROM files GROUP BY layout
    """,
    description="Z-order (Morton-curve) data-layout audit — the planning "
    "input behind Delta OPTIMIZE ZORDER BY / Iceberg sort orders: rows "
    "are assigned to equal-z-range 'files' by interleaving the bits of "
    "two normalized key columns (partkey, suppkey), vs a 'natural' "
    "layout bucketed by arrival order (orderkey ranges). Per file the "
    "min/max zone-map of l_partkey decides whether a canonical 10%-range "
    "predicate could skip the file; the output quantifies how much "
    "file-level pruning the Z-layout buys over natural order on the SAME "
    "predicate (the natural layout's zone maps straddle the whole key "
    "range, so it scans everything). Pure arithmetic bucketing — no "
    "global sort anywhere; normalization, interleave, and file stats "
    "are one scan + one O(files) aggregate. At 100 TB this audit runs "
    "BEFORE paying for a rewrite: it prices the OPTIMIZE against the "
    "scan savings.",
)
def storage_zorder_pruning_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_orderkey"
    )
    mm = li.agg(
        F.min("l_partkey").alias("pmin"),
        F.max("l_partkey").alias("pmax"),
        F.min("l_suppkey").alias("smin"),
        F.max("l_suppkey").alias("smax"),
        F.min("l_orderkey").alias("omin"),
        F.max("l_orderkey").alias("omax"),
    )
    coded = li.crossJoin(F.broadcast(mm)).select(
        "l_partkey",
        "l_orderkey",
        "pmin",
        "pmax",
        "omin",
        "omax",
        F.expr(
            "((l_partkey - pmin) * 255) div greatest(pmax - pmin, 1)"
        ).alias("px"),
        F.expr(
            "((l_suppkey - smin) * 255) div greatest(smax - smin, 1)"
        ).alias("sx"),
    )
    placed = coded.select(
        "l_partkey",
        (
            (_z_interleave_col(F.col("px"), F.col("sx")) * _Z_FILES)
            / F.lit(65536)
        ).cast("long").alias("zfile"),
        F.expr(
            f"((l_orderkey - omin) * {_Z_FILES}) "
            "div greatest(omax - omin + 1, 1)"
        ).alias("nfile"),
        F.expr("pmin + (pmax - pmin) div 10").alias("hi"),
    )
    z = placed.groupBy("zfile").agg(
        F.min("l_partkey").alias("mn"), F.max("hi").alias("hi")
    ).select(F.lit("zorder").alias("layout"), "mn", "hi")
    n = placed.groupBy("nfile").agg(
        F.min("l_partkey").alias("mn"), F.max("hi").alias("hi")
    ).select(F.lit("natural").alias("layout"), "mn", "hi")
    scanned = F.sum(
        F.when(F.col("mn") <= F.col("hi"), 1).otherwise(0)
    )
    return (
        z.unionAll(n)
        .groupBy("layout")
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_files"),
            scanned.cast("int").alias("files_scanned"),
            dround(
                1.0 - scanned.cast("double") / F.count(F.lit(1)), 4
            ).alias("skip_ratio"),
        )
    )


# ------------------------------------------------- Wilson score interval
@register(
    "stats_wilson_ci_purchase_rate",
    oracle="""
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS day,
               SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS k,
               COUNT(*) AS n
        FROM events WHERE event_type IN ('view', 'purchase')
        GROUP BY 1
    )
    SELECT day, CAST(k AS INT) AS purchases, CAST(n AS INT) AS trials,
           ROUND(CAST(k AS DOUBLE) / n, 4) AS rate,
           ROUND((CAST(k AS DOUBLE) / n + 1.9208 / n
                  - 1.96 * sqrt((CAST(k AS DOUBLE) / n)
                        * (1 - CAST(k AS DOUBLE) / n) / n
                        + 0.9604 / (n * n)))
                 / (1 + 3.8416 / n), 4) AS wilson_lo,
           ROUND((CAST(k AS DOUBLE) / n + 1.9208 / n
                  + 1.96 * sqrt((CAST(k AS DOUBLE) / n)
                        * (1 - CAST(k AS DOUBLE) / n) / n
                        + 0.9604 / (n * n)))
                 / (1 + 3.8416 / n), 4) AS wilson_hi
    FROM daily
    """,
    description="Daily purchase-rate (purchase share of view+purchase "
    "events) with the Wilson score 95% interval — the binomial CI that "
    "stays inside [0,1] and behaves at small n and extreme rates, "
    "where the naive Wald interval collapses (the correct uncertainty "
    "band for conversion-rate dashboards and A/B readouts; z=1.96, "
    "z^2=3.8416 inlined as exact literals on both engines). One "
    "conditional-count aggregate over the filtered scan; the CI is "
    "pure per-row arithmetic on the day-grain result.",
)
def stats_wilson_ci_purchase_rate(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    daily = (
        ev.filter(F.col("event_type").isin("view", "purchase"))
        .groupBy(F.col("ts").cast("date").alias("day"))
        .agg(
            F.sum(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            ).alias("k"),
            F.count(F.lit(1)).alias("n"),
        )
    )
    p = F.col("k").cast("double") / F.col("n")
    n = F.col("n")
    center = p + 1.9208 / n
    margin = 1.96 * F.sqrt(p * (1 - p) / n + 0.9604 / (n * n))
    denom = 1 + 3.8416 / n
    return daily.select(
        "day",
        F.col("k").cast("int").alias("purchases"),
        F.col("n").cast("int").alias("trials"),
        F.round(p, 4).alias("rate"),
        F.round((center - margin) / denom, 4).alias("wilson_lo"),
        F.round((center + margin) / denom, 4).alias("wilson_hi"),
    )


# ------------------------------------------------- Theil-Sen robust trend
@register(
    "stats_theil_sen_daily_trend",
    oracle="""
    WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS day,
               ROUND(SUM(o_totalprice), 4) AS rev
        FROM orders GROUP BY 1
    ),
    slopes AS (
        SELECT (b.rev - a.rev) / datediff('day', a.day, b.day) AS slope
        FROM daily a JOIN daily b ON a.day < b.day
    ),
    x AS (
        SELECT datediff('day', DATE '1995-01-01', day) AS xi, rev FROM daily
    )
    SELECT (SELECT COUNT(*) FROM daily) AS n_days,
           (SELECT COUNT(*) FROM slopes) AS n_pairs,
           ROUND((SELECT quantile_cont(slope, 0.5) FROM slopes), 6)
               AS theil_sen_slope,
           ROUND((SELECT regr_slope(rev, xi) FROM x), 6) AS ols_slope
    """,
    description="Theil-Sen robust trend of daily order revenue: the "
    "median of all pairwise day-to-day slopes — a 29%-outlier-tolerant "
    "trend estimate, reported against the OLS slope whose gap flags "
    "outlier contamination in the series. The all-pairs join runs on "
    "the DAY-GRAIN aggregate (|days|^2/2 ~ 2.9M slopes for a 7-year "
    "span — constant in fact-table size), planned as a broadcast "
    "nested-loop against the broadcast-sized series, never touching "
    "the fact table quadratically. For multi-decade series the scale "
    "path is the repeated-median on a hash-sampled pair budget.",
)
def stats_theil_sen_daily_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.col("o_orderdate").cast("date").alias("day")
    ).agg(F.round(F.sum("o_totalprice"), 4).alias("rev"))
    a, b = daily.alias("a"), daily.alias("b")
    slopes = a.join(b, F.col("a.day") < F.col("b.day")).select(
        (
            (F.col("b.rev") - F.col("a.rev"))
            / F.datediff(F.col("b.day"), F.col("a.day"))
        ).alias("slope")
    )
    sl = slopes.agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.round(F.expr("percentile(slope, 0.5)"), 6).alias("theil_sen_slope"),
    )
    ols = daily.select(
        F.datediff(F.col("day"), F.lit("1995-01-01").cast("date")).alias("xi"),
        "rev",
    ).agg(
        F.count(F.lit(1)).alias("n_days"),
        F.round(F.expr("regr_slope(rev, xi)"), 6).alias("ols_slope"),
    )
    return (
        ols.crossJoin(F.broadcast(sl))
        .select("n_days", "n_pairs", "theil_sen_slope", "ols_slope")
    )


# ------------------------------------------- chi-square independence
@register(
    "stats_chisq_lang_source",
    oracle="""
    WITH obs AS (
        SELECT lang, source, COUNT(*) AS o
        FROM documents GROUP BY 1, 2
    ),
    rt AS (SELECT lang, SUM(o) AS r FROM obs GROUP BY lang),
    ct AS (SELECT source, SUM(o) AS c FROM obs GROUP BY source),
    n AS (SELECT SUM(o) AS n FROM obs),
    cells AS (
        SELECT rt.lang, ct.source, COALESCE(obs.o, 0) AS o,
               CAST(rt.r AS DOUBLE) * ct.c / n.n AS e
        FROM rt CROSS JOIN ct CROSS JOIN n
        LEFT JOIN obs ON obs.lang = rt.lang AND obs.source = ct.source
    ),
    tot AS (
        SELECT SUM((o - e) * (o - e) / e) AS chi2,
               (COUNT(DISTINCT lang) - 1) * (COUNT(DISTINCT source) - 1)
                   AS df
        FROM cells
    )
    SELECT c.lang, c.source, CAST(c.o AS INT) AS observed,
           ROUND(c.e, 4) AS expected,
           ROUND((c.o - c.e) / sqrt(c.e), 4) AS std_residual,
           ROUND(t.chi2, 4) AS chi2_total,
           CAST(t.df AS INT) AS df
    FROM cells c CROSS JOIN tot t
    """,
    description="Chi-square test of independence on the lang x source "
    "contingency table: per-cell expected counts from broadcast "
    "marginals, standardized residuals locating WHICH cells drive the "
    "dependence, and the pooled chi2 statistic + degrees of freedom — "
    "the categorical drift/bias detector (is a crawl source skewed "
    "toward a language?) complementing the numeric drift monitors "
    "(PSI, KS). One groupBy over the fact table; marginals and the "
    "total are broadcast one-row/short-table joins on the "
    "cell-grain result.",
)
def stats_chisq_lang_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    obs = docs.groupBy("lang", "source").agg(F.count(F.lit(1)).alias("o"))
    rt = obs.groupBy("lang").agg(F.sum("o").alias("r"))
    ct = obs.groupBy("source").agg(F.sum("o").alias("c"))
    n = obs.agg(F.sum("o").alias("n"))
    grid = rt.crossJoin(ct).crossJoin(F.broadcast(n))
    cells = grid.join(F.broadcast(obs), ["lang", "source"], "left").select(
        "lang",
        "source",
        F.coalesce("o", F.lit(0)).alias("o"),
        (F.col("r").cast("double") * F.col("c") / F.col("n")).alias("e"),
    )
    tot = cells.agg(
        F.sum((F.col("o") - F.col("e")) ** 2 / F.col("e")).alias("chi2"),
        (
            (F.countDistinct("lang") - 1) * (F.countDistinct("source") - 1)
        ).alias("df"),
    )
    return cells.crossJoin(F.broadcast(tot)).select(
        "lang",
        "source",
        F.col("o").cast("int").alias("observed"),
        F.round("e", 4).alias("expected"),
        F.round((F.col("o") - F.col("e")) / F.sqrt("e"), 4).alias(
            "std_residual"
        ),
        F.round("chi2", 4).alias("chi2_total"),
        F.col("df").cast("int").alias("df"),
    )


# ------------------------------------------- mutual information
@register(
    "stats_mutual_info_type_hour",
    oracle="""
    WITH joint AS (
        SELECT event_type, EXTRACT(hour FROM ts) AS hr, COUNT(*) AS c
        FROM events GROUP BY 1, 2
    ),
    n AS (SELECT SUM(c) AS n FROM joint),
    px AS (SELECT event_type, SUM(c) AS cx FROM joint GROUP BY 1),
    py AS (SELECT hr, SUM(c) AS cy FROM joint GROUP BY 1)
    SELECT ROUND(SUM((CAST(j.c AS DOUBLE) / n.n)
                 * log2(CAST(j.c AS DOUBLE) * n.n
                        / (CAST(px.cx AS DOUBLE) * py.cy))), 4) AS mi_bits,
           ROUND(-SUM((CAST(j.c AS DOUBLE) / n.n)
                      * log2(CAST(j.c AS DOUBLE) / n.n)), 4) AS h_joint,
           CAST(COUNT(DISTINCT j.event_type) AS INT) AS n_types,
           CAST(COUNT(DISTINCT j.hr) AS INT) AS n_hours
    FROM joint j JOIN px USING (event_type) JOIN py USING (hr) CROSS JOIN n
    """,
    description="Mutual information (bits) between event type and "
    "hour-of-day, with the joint entropy: MI > 0 means WHEN an event "
    "happens carries information about WHAT it is — the "
    "feature-relevance / leakage detector used in feature selection "
    "and in auditing time-based train/test splits. Everything reduces "
    "to ONE groupBy on the (type, hour) joint (|types|x24 cells); "
    "marginals re-aggregate the cell table and broadcast back. The "
    "plugin estimator is exact for the observed distribution, no "
    "sampling.",
)
def stats_mutual_info_type_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    joint = ev.groupBy(
        "event_type", F.hour("ts").alias("hr")
    ).agg(F.count(F.lit(1)).alias("c"))
    n = joint.agg(F.sum("c").alias("n"))
    px = joint.groupBy("event_type").agg(F.sum("c").alias("cx"))
    py = joint.groupBy("hr").agg(F.sum("c").alias("cy"))
    j = (
        joint.join(F.broadcast(px), "event_type")
        .join(F.broadcast(py), "hr")
        .crossJoin(F.broadcast(n))
    )
    p = F.col("c").cast("double") / F.col("n")
    return j.agg(
        F.round(
            F.sum(
                p
                * F.log2(
                    F.col("c").cast("double")
                    * F.col("n")
                    / (F.col("cx").cast("double") * F.col("cy"))
                )
            ),
            4,
        ).alias("mi_bits"),
        F.round(-F.sum(p * F.log2(p)), 4).alias("h_joint"),
        F.countDistinct("event_type").cast("int").alias("n_types"),
        F.countDistinct("hr").cast("int").alias("n_hours"),
    )


# ------------------------------------------- Kaplan-Meier survival
@register(
    "stats_kaplan_meier_session_duration",
    oracle="""
    WITH marked AS (
        SELECT user_id, ts,
               CASE WHEN datediff('microsecond',
                        LAG(ts) OVER (PARTITION BY user_id ORDER BY ts), ts)
                        > 1800000000
                     OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                        IS NULL
                    THEN 1 ELSE 0 END AS new_sess
        FROM events
    ),
    sess AS (
        SELECT user_id,
               SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid,
               ts
        FROM marked
    ),
    iv AS (
        SELECT user_id,
               CAST(datediff('microsecond', MIN(ts), MAX(ts)) // 60000000
                    AS BIGINT) AS dur,
               MAX(ts) AS e
        FROM sess GROUP BY user_id, sid
    ),
    lastev AS (SELECT user_id, MAX(ts) AS last_ts FROM events GROUP BY 1),
    obs AS (
        SELECT iv.dur,
               CASE WHEN iv.e = l.last_ts THEN 0 ELSE 1 END AS event
        FROM iv JOIN lastev l ON iv.user_id = l.user_id
    ),
    by_t AS (
        SELECT dur, SUM(event) AS d, COUNT(*) AS m
        FROM obs GROUP BY dur
    ),
    risk AS (
        SELECT dur, d,
               SUM(m) OVER (ORDER BY dur DESC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS n_at_risk
        FROM by_t
    )
    SELECT dur AS dur_minutes, CAST(n_at_risk AS INT) AS n_at_risk,
           CAST(d AS INT) AS n_ended,
           ROUND(exp(SUM(ln(greatest(1 - CAST(d AS DOUBLE) / n_at_risk, 1e-300)))
                 OVER (ORDER BY dur
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
                 4) AS km_survival
    FROM risk WHERE d > 0
    """,
    description="Kaplan-Meier survival curve of session duration "
    "(minute grain, 30-min-gap sessions): each user's final session "
    "is right-CENSORED — it may have continued past the observation "
    "horizon, so it leaves the risk set without counting as an ended "
    "session. That censoring correction is exactly what naive "
    "avg-session-length metrics get wrong (they undercount long "
    "sessions). Product-limit S(t) = prod(1 - d_i/n_i) as exp of a "
    "running log-sum window; the risk set is a reverse-cumulative "
    "count. Both KM windows run over the DURATION-grain table (<= "
    "max-session-minutes rows), never session grain — the standard "
    "churn / length-of-stay curve, engine-native.",
)
def stats_kaplan_meier_session_duration(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    wu = Window.partitionBy("user_id").orderBy("ts")
    gap_us = F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(wu))
    sess = (
        ev.withColumn(
            "new_sess",
            F.when(gap_us.isNull() | (gap_us > 1_800_000_000), 1).otherwise(0),
        )
        .withColumn(
            "sid",
            F.sum("new_sess").over(wu.rowsBetween(Window.unboundedPreceding, 0)),
        )
        .groupBy("user_id", "sid")
        .agg(
            (
                (F.unix_micros(F.max("ts")) - F.unix_micros(F.min("ts")))
                / F.lit(60_000_000)
            )
            .cast("long")
            .alias("dur"),
            F.max("ts").alias("e"),
        )
    )
    lastev = ev.groupBy("user_id").agg(F.max("ts").alias("last_ts"))
    obs = sess.join(lastev, "user_id").select(
        "dur",
        F.when(F.col("e") == F.col("last_ts"), 0).otherwise(1).alias("event"),
    )
    by_t = obs.groupBy("dur").agg(
        F.sum("event").alias("d"), F.count(F.lit(1)).alias("m")
    )
    w_desc = Window.orderBy(F.col("dur").desc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    risk = by_t.withColumn("n_at_risk", F.sum("m").over(w_desc))
    w_asc = Window.orderBy("dur").rowsBetween(Window.unboundedPreceding, 0)
    return (
        risk.withColumn(
            "km_survival",
            F.round(
                F.exp(
                    F.sum(
                        F.log(
                            F.greatest(
                                1
                                - F.col("d").cast("double")
                                / F.col("n_at_risk"),
                                F.lit(1e-300),
                            )
                        )
                    ).over(w_asc)
                ),
                4,
            ),
        )
        .filter(F.col("d") > 0)
        .select(
            F.col("dur").alias("dur_minutes"),
            F.col("n_at_risk").cast("int").alias("n_at_risk"),
            F.col("d").cast("int").alias("n_ended"),
            "km_survival",
        )
    )


# ------------------------------------------- one-way ANOVA
@register(
    "stats_anova_value_by_type",
    oracle="""
    WITH g AS (
        SELECT event_type, COUNT(*) AS n, AVG(value) AS m,
               var_samp(value) AS v
        FROM events GROUP BY event_type
    ),
    tot AS (
        SELECT SUM(n) AS nn, SUM(n * m) / SUM(n) AS gm, COUNT(*) AS k
        FROM g
    )
    SELECT CAST(t.k AS INT) AS n_groups,
           CAST(t.nn AS INT) AS n_obs,
           ROUND(SUM(g.n * (g.m - t.gm) * (g.m - t.gm)), 4) AS ss_between,
           ROUND(SUM(g.v * (g.n - 1)), 4) AS ss_within,
           ROUND((SUM(g.n * (g.m - t.gm) * (g.m - t.gm)) / (t.k - 1))
                 / (SUM(g.v * (g.n - 1)) / (t.nn - t.k)), 4) AS f_stat,
           ROUND(SUM(g.n * (g.m - t.gm) * (g.m - t.gm))
                 / (SUM(g.n * (g.m - t.gm) * (g.m - t.gm))
                    + SUM(g.v * (g.n - 1))), 4) AS eta_squared
    FROM g CROSS JOIN tot t
    GROUP BY t.k, t.nn
    """,
    description="One-way ANOVA of event value across event types: "
    "between/within sum-of-squares decomposition, the F statistic, "
    "and eta-squared effect size — does the metric MEAN differ by "
    "category beyond noise? Generalizes the two-group Welch t-test "
    "already shipped to k groups. One grouped-moments scan (count/"
    "mean/variance per type — map-side combinable Welford states); "
    "the decomposition is arithmetic over the k-row group table "
    "against its broadcast grand mean.",
)
def stats_anova_value_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    g = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.avg("value").alias("m"),
        F.var_samp("value").alias("v"),
    )
    tot = g.agg(
        F.sum("n").alias("nn"),
        (F.sum(F.col("n") * F.col("m")) / F.sum("n")).alias("gm"),
        F.count(F.lit(1)).alias("k"),
    )
    ssb = F.sum(F.col("n") * (F.col("m") - F.col("gm")) ** 2)
    ssw = F.sum(F.col("v") * (F.col("n") - 1))
    return (
        g.crossJoin(F.broadcast(tot))
        .groupBy("k", "nn")
        .agg(
            F.round(ssb, 4).alias("ss_between"),
            F.round(ssw, 4).alias("ss_within"),
            F.round(
                (ssb / (F.col("k") - 1)) / (ssw / (F.col("nn") - F.col("k"))),
                4,
            ).alias("f_stat"),
            F.round(ssb / (ssb + ssw), 4).alias("eta_squared"),
        )
        .select(
            F.col("k").cast("int").alias("n_groups"),
            F.col("nn").cast("int").alias("n_obs"),
            "ss_between",
            "ss_within",
            "f_stat",
            "eta_squared",
        )
    )


# ------------------------------------------- LATERAL correlated top-k
@register(
    "lateral_top2_acctbal_per_nation",
    oracle="""
    SELECT n.n_name, t.c_name, ROUND(t.c_acctbal, 2) AS acctbal
    FROM nation n, LATERAL (
        SELECT c_name, c_acctbal FROM customer c
        WHERE c.c_nationkey = n.n_nationkey
        ORDER BY c_acctbal DESC, c_name LIMIT 2
    ) t
    """,
    description="Correlated LATERAL subquery: the two richest "
    "customers per nation, written as a per-row dependent subquery "
    "with ORDER BY ... LIMIT — the SQL-standard lateral-join surface. "
    "Catalyst DECORRELATES it: the physical plan is one "
    "WindowGroupLimit (partial per-partition top-2 before the "
    "shuffle, final after) + broadcast hash join with the nation dim "
    "— NOT a per-nation re-execution of the inner query, so cost is "
    "one pass over customer regardless of |nation|. The same lateral "
    "written naively in a tuple-at-a-time engine runs the subquery "
    "|outer| times.",
)
def lateral_top2_acctbal_per_nation(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import uuid as _uuid

    suffix = _uuid.uuid4().hex[:8]
    for t in ("nation", "customer"):
        table(spark, sf_dir, t).createOrReplaceTempView(f"{t}_{suffix}")
    return spark.sql(f"""
        SELECT n.n_name, t.c_name, ROUND(t.c_acctbal, 2) AS acctbal
        FROM nation_{suffix} n, LATERAL (
            SELECT c_name, c_acctbal FROM customer_{suffix} c
            WHERE c.c_nationkey = n.n_nationkey
            ORDER BY c_acctbal DESC, c_name LIMIT 2
        ) t
    """)


# ------------------------------------------- penny-exact proration
@register(
    "finance_penny_allocation",
    oracle="""
    WITH base AS (
        SELECT l.l_orderkey, l.l_linenumber,
               o.o_totalprice,
               100.0 * o.o_totalprice * l.l_extendedprice
                   / SUM(l.l_extendedprice)
                     OVER (PARTITION BY l.l_orderkey) AS raw_cents
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    ),
    flo AS (
        SELECT l_orderkey, l_linenumber, o_totalprice,
               CAST(floor(raw_cents) AS BIGINT) AS base_cents,
               raw_cents - floor(raw_cents) AS rem,
               ROW_NUMBER() OVER (PARTITION BY l_orderkey
                   ORDER BY raw_cents - floor(raw_cents) DESC, l_linenumber)
                   AS rnk
        FROM base
    ),
    defc AS (
        SELECT l_orderkey, l_linenumber, o_totalprice, base_cents, rnk,
               CAST(round(100 * o_totalprice) AS BIGINT)
                   - SUM(base_cents) OVER (PARTITION BY l_orderkey)
                   AS deficit
        FROM flo
    ),
    fixed AS (
        SELECT l_orderkey, o_totalprice,
               SUM(base_cents
                   + CASE WHEN rnk <= deficit THEN 1 ELSE 0 END)
                   AS alloc_cents,
               COUNT(*) AS n_lines
        FROM defc GROUP BY l_orderkey, o_totalprice
    )
    SELECT l_orderkey, CAST(n_lines AS INT) AS n_lines,
           ROUND(alloc_cents / 100.0, 2) AS allocated_total,
           ROUND(o_totalprice, 2) AS order_total,
           alloc_cents = CAST(round(100 * o_totalprice) AS BIGINT)
               AS exact_match
    FROM fixed
    """,
    description="Penny-exact proration (largest-remainder method): "
    "each order's total is allocated across its line items "
    "proportionally to extended price, floored to whole cents, and "
    "the leftover pennies go to the lines with the largest "
    "fractional remainders — so every order's allocations sum to the "
    "order total TO THE CENT (exact_match is the shipped audit "
    "column). The rounding-residual correction every billing / "
    "cost-allocation / revenue-split pipeline needs; naive "
    "round(share) drifts by up to n_lines/2 cents per order. All "
    "windows partition by order key — one shuffle, no global stage.",
)
def finance_penny_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    orders = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    wo = Window.partitionBy("l_orderkey")
    base = li.join(
        orders, li.l_orderkey == orders.o_orderkey
    ).select(
        "l_orderkey",
        "l_linenumber",
        "o_totalprice",
        (
            100.0
            * F.col("o_totalprice")
            * F.col("l_extendedprice")
            / F.sum("l_extendedprice").over(wo)
        ).alias("raw_cents"),
    )
    flo = base.select(
        "l_orderkey",
        "l_linenumber",
        "o_totalprice",
        F.floor("raw_cents").cast("bigint").alias("base_cents"),
        (F.col("raw_cents") - F.floor("raw_cents")).alias("rem"),
        F.row_number()
        .over(
            Window.partitionBy("l_orderkey").orderBy(
                (F.col("raw_cents") - F.floor("raw_cents")).desc(),
                "l_linenumber",
            )
        )
        .alias("rnk"),
    )
    deficit = (
        F.round(100 * F.col("o_totalprice")).cast("bigint")
        - F.sum("base_cents").over(wo)
    )
    fixed = (
        flo.withColumn(
            "cents",
            F.col("base_cents")
            + F.when(F.col("rnk") <= deficit, 1).otherwise(0),
        )
        .groupBy("l_orderkey", "o_totalprice")
        .agg(
            F.sum("cents").alias("alloc_cents"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )
    return fixed.select(
        "l_orderkey",
        F.col("n_lines").cast("int").alias("n_lines"),
        F.round(F.col("alloc_cents") / 100.0, 2).alias("allocated_total"),
        F.round("o_totalprice", 2).alias("order_total"),
        (
            F.col("alloc_cents")
            == F.round(100 * F.col("o_totalprice")).cast("bigint")
        ).alias("exact_match"),
    )


# ------------------------------------------- cross-system table checksum
_CHECKSUM_TABLES = {
    "region": "concat_ws('|', r_regionkey, r_name)",
    "nation": "concat_ws('|', n_nationkey, n_name, n_regionkey)",
    "customer": (
        "concat_ws('|', c_custkey, c_name, c_nationkey, "
        "CAST(CAST(c_acctbal AS DECIMAL(18,2)) AS {str_t}), c_mktsegment)"
    ),
}


@register(
    "quality_table_checksum",
    oracle="\n    UNION ALL\n    ".join(
        f"""SELECT '{t}' AS table_name, COUNT(*) AS n_rows,
           bit_xor(CAST(('0x' || substr(md5({expr.format(str_t='VARCHAR')}),
                         1, 15)) AS BIGINT)) AS checksum
    FROM {t}"""
        for t, expr in _CHECKSUM_TABLES.items()
    ),
    description="Order-insensitive migration checksum per table: each "
    "row canonicalizes to a delimited string (doubles pinned through "
    "DECIMAL(18,2) so both engines print identical text), hashes to "
    "a 60-bit integer, and the table digest is the commutative "
    "bit_xor of row hashes + the row count — equal digests on two "
    "systems certify row-level equality with NO sort, NO join, NO "
    "data movement beyond one aggregate per side. The standard "
    "cross-engine reconciliation primitive for lakehouse migrations "
    "(xor is associative/commutative, so it maps and combines on "
    "any partitioning; a multiset-safe upgrade adds a sum-mod "
    "component, covered by n_rows here).",
)
def quality_table_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = None
    for t, expr in _CHECKSUM_TABLES.items():
        row_str = expr.format(str_t="STRING")
        df = table(spark, sf_dir, t).agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.expr(
                "bit_xor(CAST(conv(substr(md5("
                + row_str
                + "), 1, 15), 16, 10) AS BIGINT))"
            ).alias("checksum"),
        ).select(F.lit(t).alias("table_name"), "n_rows", "checksum")
        out = df if out is None else out.unionAll(df)
    return out


# ------------------------------------------- cohort LTV curves
@register(
    "orders_cohort_ltv",
    oracle="""
    WITH coh AS (
        SELECT o_custkey,
               CAST(date_trunc('month', MIN(o_orderdate)) AS DATE)
                   AS cohort_month
        FROM orders GROUP BY o_custkey
    ),
    rev AS (
        SELECT c.cohort_month,
               (EXTRACT(year FROM o.o_orderdate)
                - EXTRACT(year FROM c.cohort_month)) * 12
               + (EXTRACT(month FROM o.o_orderdate)
                  - EXTRACT(month FROM c.cohort_month)) AS month_offset,
               SUM(o.o_totalprice) AS m_rev
        FROM orders o JOIN coh c ON o.o_custkey = c.o_custkey
        GROUP BY 1, 2
    ),
    size AS (
        SELECT cohort_month, COUNT(*) AS cohort_customers
        FROM coh GROUP BY 1
    )
    SELECT r.cohort_month, CAST(r.month_offset AS INT) AS month_offset,
           CAST(s.cohort_customers AS INT) AS cohort_customers,
           CAST(ROUND(CAST(SUM(r.m_rev) OVER (PARTITION BY r.cohort_month
                 ORDER BY r.month_offset
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 / s.cohort_customers AS DECIMAL(38,8)), 2) AS DOUBLE)
               AS ltv_per_customer
    FROM rev r JOIN size s ON r.cohort_month = s.cohort_month
    """,
    description="Customer-lifetime-value curves by acquisition cohort: "
    "customers are grouped by first-order month, and each cohort's "
    "CUMULATIVE revenue per customer unfolds over months-since-"
    "acquisition — the payback-period / LTV:CAC readout, and the "
    "revenue-weighted twin of events_retention_cohorts (which counts "
    "presence, not value). Two hash aggregates (customer-grain "
    "first-order, then cohort x offset revenue) and a running-sum "
    "window PARTITIONED by cohort over the offset-grain matrix — "
    "every stage is keyed, no global ordered stage anywhere.",
)
def orders_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders")
    coh = orders.groupBy("o_custkey").agg(
        F.date_trunc("month", F.min("o_orderdate")).cast("date").alias(
            "cohort_month"
        )
    )
    rev = (
        orders.join(coh, "o_custkey")
        .groupBy(
            "cohort_month",
            (
                (F.year("o_orderdate") - F.year("cohort_month")) * 12
                + (F.month("o_orderdate") - F.month("cohort_month"))
            ).alias("month_offset"),
        )
        .agg(F.sum("o_totalprice").alias("m_rev"))
    )
    size = coh.groupBy("cohort_month").agg(
        F.count(F.lit(1)).alias("cohort_customers")
    )
    w = (
        Window.partitionBy("cohort_month")
        .orderBy("month_offset")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        rev.join(F.broadcast(size), "cohort_month")
        .select(
            "cohort_month",
            F.col("month_offset").cast("int").alias("month_offset"),
            F.col("cohort_customers").cast("int").alias("cohort_customers"),
            dround(
                F.sum("m_rev").over(w) / F.col("cohort_customers"), 2
            ).alias("ltv_per_customer"),
        )
    )


# ------------------------------------------- rank-shift leaderboard
@register(
    "brand_rank_shift_quarterly",
    oracle="""
    WITH q AS (
        SELECT p.p_brand,
               CAST(date_trunc('quarter', o.o_orderdate) AS DATE) AS qtr,
               SUM(l.l_extendedprice * (1 - l.l_discount)) AS rev
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN part p ON l.l_partkey = p.p_partkey
        GROUP BY 1, 2
    ),
    ranked AS (
        SELECT p_brand, qtr,
               CAST(ROUND(CAST(rev AS DECIMAL(38,8)), 2) AS DOUBLE)
                   AS revenue,
               RANK() OVER (PARTITION BY qtr
                            ORDER BY CAST(ROUND(CAST(rev AS DECIMAL(38,8)), 2)
                                          AS DOUBLE) DESC, p_brand) AS rnk
        FROM q
    )
    SELECT p_brand, qtr, revenue, CAST(rnk AS INT) AS rnk,
           CAST(LAG(rnk) OVER (PARTITION BY p_brand ORDER BY qtr)
                - rnk AS INT) AS rank_change
    FROM ranked
    """,
    description="Quarterly brand revenue leaderboard with rank "
    "momentum: every brand's within-quarter revenue rank plus its "
    "shift vs the previous quarter (positive = climbing) — the "
    "share-shift diagnostic behind 'who is winning the category'. "
    "Two window families on two DIFFERENT keys (rank partitioned by "
    "quarter, LAG partitioned by brand) over the brand x quarter "
    "aggregate — both shuffles touch only the |brands|x|quarters| "
    "grain, never the fact join. Ranks compare 2-dp-rounded revenue "
    "with a brand tiebreak so float noise cannot reorder them.",
)
def brand_rank_shift_quarterly(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    orders = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate"
    )
    part = table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    q = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy(
            "p_brand",
            F.date_trunc("quarter", "o_orderdate").cast("date").alias("qtr"),
        )
        .agg(
            dround(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )
    ranked = q.withColumn(
        "rnk",
        F.rank().over(
            Window.partitionBy("qtr").orderBy(
                F.col("revenue").desc(), "p_brand"
            )
        ),
    )
    return ranked.select(
        "p_brand",
        "qtr",
        "revenue",
        F.col("rnk").cast("int").alias("rnk"),
        (
            F.lag("rnk").over(Window.partitionBy("p_brand").orderBy("qtr"))
            - F.col("rnk")
        )
        .cast("int")
        .alias("rank_change"),
    )


# ------------------------------------------- two-pass exact median
@register(
    "stats_twopass_exact_median",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           quantile_disc(l_extendedprice, 0.5) AS exact_median
    FROM lineitem
    """,
    description="Exact (discrete, lower) median of l_extendedprice "
    "WITHOUT a global sort: pass 1 aggregates min/max/count plus a "
    "4096-bin histogram in one scan; the driver walks the tiny bin "
    "table to locate the bin holding the k-th element (k=ceil(n/2)) "
    "and how many elements precede it; pass 2 filters to that single "
    "bin (predicate pushed to the scan) and selects the (k-prior)-th "
    "smallest within it — sorting only |bin| rows. Total cost: two "
    "scans + one tiny sort, vs a full-table sort; this is how exact "
    "order statistics stay feasible at 100 TB when approx_percentile "
    "error bounds aren't acceptable (billing, SLA percentiles). "
    "Matches DuckDB's quantile_disc(0.5) element-for-element.",
)
def stats_twopass_exact_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").select("l_extendedprice")
    nbins = 4096
    stats = li.agg(
        F.count(F.lit(1)).alias("n"),
        F.min("l_extendedprice").alias("lo"),
        F.max("l_extendedprice").alias("hi"),
    ).first()
    n, lo, hi = stats.n, float(stats.lo), float(stats.hi)
    k = (n + 1) // 2  # 1-based rank of the lower median
    width = (hi - lo) / nbins or 1.0
    bin_col = F.least(
        F.floor((F.col("l_extendedprice") - F.lit(lo)) / F.lit(width)),
        F.lit(nbins - 1),
    ).cast("int")
    hist = (
        li.groupBy(bin_col.alias("b"))
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy("b")
        .collect()
    )
    cum = 0
    target_bin, prior = 0, 0
    for r in hist:
        if cum + r.c >= k:
            target_bin, prior = r.b, cum
            break
        cum += r.c
    b_lo = lo + target_bin * width
    b_hi = hi if target_bin == nbins - 1 else lo + (target_bin + 1) * width
    within = li.filter(
        (F.col("l_extendedprice") >= b_lo)
        & (
            F.col("l_extendedprice") <= F.lit(b_hi)
            if target_bin == nbins - 1
            else F.col("l_extendedprice") < F.lit(b_hi)
        )
    )
    kth = (
        within.orderBy("l_extendedprice")
        .limit(k - prior)
        .agg(F.max("l_extendedprice").alias("exact_median"))
    )
    return kth.select(
        F.lit(n).cast("bigint").alias("n"), "exact_median"
    )


# ------------------------------------------- first- vs last-touch attribution
@register(
    "events_attribution_first_vs_last",
    oracle="""
    WITH tagged AS (
        SELECT user_id, ts, event_type,
               SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                   OVER (PARTITION BY user_id ORDER BY ts DESC, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   AS purchases_after
        FROM events
    ),
    journeys AS (
        SELECT user_id, purchases_after AS journey_id,
               MIN(CASE WHEN event_type <> 'purchase' THEN ts END)
                   AS first_ts,
               MAX(CASE WHEN event_type <> 'purchase' THEN ts END)
                   AS last_ts
        FROM tagged
        WHERE purchases_after > 0
        GROUP BY user_id, purchases_after
    ),
    pick AS (
        SELECT j.user_id, j.journey_id,
               MIN(CASE WHEN t.ts = j.first_ts THEN t.event_type END)
                   AS first_touch,
               MIN(CASE WHEN t.ts = j.last_ts THEN t.event_type END)
                   AS last_touch
        FROM journeys j
        JOIN tagged t
          ON t.user_id = j.user_id AND t.purchases_after = j.journey_id
         AND t.event_type <> 'purchase'
        GROUP BY j.user_id, j.journey_id
    )
    SELECT first_touch, last_touch, COUNT(*) AS journeys
    FROM pick
    WHERE first_touch IS NOT NULL
    GROUP BY 1, 2
    """,
    description="Marketing attribution audit: for every purchase "
    "journey (the events between consecutive purchases of one user), "
    "which channel gets credit under FIRST-touch vs LAST-touch rules "
    "— the off-diagonal mass of this matrix is exactly the revenue "
    "that would be re-assigned by switching attribution models. "
    "Journeys come from a reverse-ordered running count of purchases "
    "(each non-purchase event is keyed to the purchase that follows "
    "it) — one user-partitioned window, one grouped min/max per "
    "journey, one conditional-pick join back; everything shuffles on "
    "user_id once and then on the tiny journey grain.",
)
def events_attribution_first_vs_last(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    w_rev = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").desc(), "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    tagged = ev.withColumn(
        "purchases_after",
        F.coalesce(
            F.sum(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            ).over(w_rev),
            F.lit(0),
        ),
    )
    nonp = tagged.filter(
        (F.col("purchases_after") > 0) & (F.col("event_type") != "purchase")
    )
    journeys = nonp.groupBy(
        "user_id", F.col("purchases_after").alias("journey_id")
    ).agg(F.min("ts").alias("first_ts"), F.max("ts").alias("last_ts"))
    pick = (
        journeys.join(
            nonp.select(
                "user_id",
                F.col("purchases_after").alias("journey_id"),
                "ts",
                "event_type",
            ),
            ["user_id", "journey_id"],
        )
        .groupBy("user_id", "journey_id")
        .agg(
            F.min(
                F.when(F.col("ts") == F.col("first_ts"), F.col("event_type"))
            ).alias("first_touch"),
            F.min(
                F.when(F.col("ts") == F.col("last_ts"), F.col("event_type"))
            ).alias("last_touch"),
        )
    )
    return (
        pick.filter(F.col("first_touch").isNotNull())
        .groupBy("first_touch", "last_touch")
        .agg(F.count(F.lit(1)).alias("journeys"))
    )


# ------------------------------------------- price/volume bridge
@register(
    "finance_price_volume_bridge",
    oracle="""
    WITH yr AS (
        SELECT c.c_mktsegment AS segment,
               EXTRACT(year FROM o.o_orderdate) AS y,
               SUM(l.l_extendedprice * (1 - l.l_discount)) AS rev,
               SUM(l.l_quantity) AS qty
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        WHERE EXTRACT(year FROM o.o_orderdate) IN (1997, 1998)
        GROUP BY 1, 2
    ),
    wide AS (
        SELECT segment,
               MAX(CASE WHEN y = 1997 THEN rev END) AS rev1,
               MAX(CASE WHEN y = 1998 THEN rev END) AS rev2,
               MAX(CASE WHEN y = 1997 THEN qty END) AS q1,
               MAX(CASE WHEN y = 1998 THEN qty END) AS q2
        FROM yr GROUP BY segment
    )
    SELECT segment,
           CAST(ROUND(CAST(rev1 AS DECIMAL(38,8)), 2) AS DOUBLE) AS rev_1997,
           CAST(ROUND(CAST(rev2 AS DECIMAL(38,8)), 2) AS DOUBLE) AS rev_1998,
           CAST(ROUND(CAST(rev2 - rev1 AS DECIMAL(38,8)), 2) AS DOUBLE)
               AS delta,
           CAST(ROUND(CAST((q2 - q1) * (rev1 / q1) AS DECIMAL(38,8)), 2)
                AS DOUBLE) AS volume_effect,
           CAST(ROUND(CAST((rev2 / q2 - rev1 / q1) * q2 AS DECIMAL(38,8)), 2)
                AS DOUBLE) AS price_effect,
           CAST(ROUND(CAST((rev2 - rev1) - (q2 - q1) * (rev1 / q1)
                 - (rev2 / q2 - rev1 / q1) * q2 AS DECIMAL(38,8)), 2)
                AS DOUBLE) AS residual
    FROM wide WHERE q1 > 0 AND q2 > 0
    """,
    description="Price/volume bridge (revenue variance decomposition) "
    "per market segment, 1997 -> 1998: delta revenue splits into a "
    "VOLUME effect ((q2-q1) x old unit price) and a PRICE effect "
    "((p2-p1) x new volume) that reconcile to the delta EXACTLY by "
    "construction — the algebraic identity (q2-q1)p1 + (p2-p1)q2 = "
    "q2p2 - q1p1, so the shipped residual column is 0.00 and any "
    "nonzero value flags a broken pipeline. The FP&A 'bridge/"
    "waterfall' primitive. One star-join aggregate to segment x year "
    "grain, then a conditional-pivot to wide and pure arithmetic.",
)
def finance_price_volume_bridge(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    orders = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate"
    )
    cust = table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    yr = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .filter(F.year("o_orderdate").isin(1997, 1998))
        .groupBy(
            F.col("c_mktsegment").alias("segment"),
            F.year("o_orderdate").alias("y"),
        )
        .agg(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "rev"
            ),
            F.sum("l_quantity").alias("qty"),
        )
    )
    wide = yr.groupBy("segment").agg(
        F.max(F.when(F.col("y") == 1997, F.col("rev"))).alias("rev1"),
        F.max(F.when(F.col("y") == 1998, F.col("rev"))).alias("rev2"),
        F.max(F.when(F.col("y") == 1997, F.col("qty"))).alias("q1"),
        F.max(F.when(F.col("y") == 1998, F.col("qty"))).alias("q2"),
    )
    p1 = F.col("rev1") / F.col("q1")
    p2 = F.col("rev2") / F.col("q2")
    vol = (F.col("q2") - F.col("q1")) * p1
    prc = (p2 - p1) * F.col("q2")
    return wide.filter((F.col("q1") > 0) & (F.col("q2") > 0)).select(
        "segment",
        dround("rev1", 2).alias("rev_1997"),
        dround("rev2", 2).alias("rev_1998"),
        dround(F.col("rev2") - F.col("rev1"), 2).alias("delta"),
        dround(vol, 2).alias("volume_effect"),
        dround(prc, 2).alias("price_effect"),
        dround((F.col("rev2") - F.col("rev1")) - vol - prc, 2).alias(
            "residual"
        ),
    )


# ------------------------------------------- degree assortativity
@register(
    "graph_degree_assortativity_coparts",
    oracle="""
    WITH op AS (
        SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
    ),
    e AS (
        SELECT a.p AS pa, b.p AS pb
        FROM op a JOIN op b ON a.o = b.o AND a.p < b.p
        GROUP BY 1, 2 HAVING COUNT(*) >= 2
    ),
    und AS (
        SELECT pa AS s, pb AS t FROM e
        UNION ALL
        SELECT pb AS s, pa AS t FROM e
    ),
    deg AS (SELECT s AS node, COUNT(*) AS d FROM und GROUP BY s)
    SELECT CAST(COUNT(*) / 2 AS INT) AS n_edges,
           CAST((SELECT COUNT(*) FROM deg) AS INT) AS n_nodes,
           ROUND(AVG(ds.d), 4) AS mean_edge_degree,
           ROUND(corr(ds.d, dt.d), 4) AS assortativity
    FROM und
    JOIN deg ds ON und.s = ds.node
    JOIN deg dt ON und.t = dt.node
    """,
    description="Degree assortativity (Newman 2002) of the part "
    "co-purchase graph (parts co-occurring in >= 2 distinct orders): "
    "the Pearson correlation of endpoint degrees over directed edge "
    "copies. Positive = popular parts co-sell with popular parts "
    "(hub-hub retail pattern, basket-recommendation friendly); "
    "negative = hub-and-spoke accessories. The >= 2 support floor is "
    "an A-priori floor, as in assoc_part_pairs_lift. Pairs "
    "come from one per-order part-set fold and an in-group pair "
    "explode, quadratic only within orders, never across the catalog; "
    "the floor then drops one-off pairs. Degrees are one hash agg on the "
    "edge list; the correlation is one running-moments agg over "
    "edges joined twice to the broadcast-sized degree table.",
)
def graph_degree_assortativity_coparts(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from healthcare_data_lakehouse_spark.functions.skew import in_group_pairs

    li = table(spark, sf_dir, "lineitem")
    orders = (
        li.select("l_orderkey", "l_partkey")
        .groupBy("l_orderkey")
        .agg(F.collect_set("l_partkey").alias("xs"))
    )
    e = (
        in_group_pairs(orders, "xs")
        .groupBy(F.col("a").alias("pa"), F.col("b").alias("pb"))
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= 2)
        .select("pa", "pb")
    )
    und = e.select(F.col("pa").alias("s"), F.col("pb").alias("t")).unionAll(
        e.select(F.col("pb").alias("s"), F.col("pa").alias("t"))
    )
    deg = und.groupBy(F.col("s").alias("node")).agg(
        F.count(F.lit(1)).alias("d")
    )
    n_nodes = deg.agg(F.count(F.lit(1)).alias("n_nodes"))
    joined = (
        und.join(
            F.broadcast(deg.select(F.col("node"), F.col("d").alias("ds"))),
            und.s == F.col("node"),
        )
        .drop("node")
        .join(
            F.broadcast(deg.select(F.col("node"), F.col("d").alias("dt"))),
            und.t == F.col("node"),
        )
    )
    return joined.crossJoin(F.broadcast(n_nodes)).groupBy("n_nodes").agg(
        (F.count(F.lit(1)) / 2).cast("int").alias("n_edges"),
        F.round(F.avg("ds"), 4).alias("mean_edge_degree"),
        F.round(F.corr("ds", "dt"), 4).alias("assortativity"),
    ).select(
        "n_edges",
        F.col("n_nodes").cast("int").alias("n_nodes"),
        "mean_edge_degree",
        "assortativity",
    )


# ------------------------------------------- sampled pairwise distance
@register(
    "embedding_sampled_pairwise_distance",
    oracle="""
    WITH n AS (SELECT COUNT(*) AS n, MIN(vec_id) AS v0 FROM embeddings),
    idx AS (
        SELECT i,
               (i * 2654435761) % n.n + n.v0 AS ia,
               (i * 40503 + 2654435769) % n.n + n.v0 AS ib
        FROM UNNEST(generate_series(0, 1999)) AS t(i) CROSS JOIN n
    ),
    pairs AS (
        SELECT idx.i,
               list_sum(list_transform(list_zip(a.embedding, b.embedding),
                        p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
               / (sqrt(list_sum(list_transform(a.embedding,
                        x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                * sqrt(list_sum(list_transform(b.embedding,
                        x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))
                   AS cosine
        FROM idx
        JOIN embeddings a ON a.vec_id = idx.ia
        JOIN embeddings b ON b.vec_id = idx.ib
        WHERE idx.ia <> idx.ib
    )
    SELECT COUNT(*) AS n_pairs,
           ROUND(AVG(1 - cosine), 4) AS mean_cos_dist,
           ROUND(STDDEV_SAMP(1 - cosine), 4) AS sd_cos_dist,
           ROUND(AVG(1 - cosine)
                 - 1.96 * STDDEV_SAMP(1 - cosine) / sqrt(COUNT(*)), 4)
               AS ci_lo,
           ROUND(AVG(1 - cosine)
                 + 1.96 * STDDEV_SAMP(1 - cosine) / sqrt(COUNT(*)), 4)
               AS ci_hi
    FROM pairs
    """,
    description="Mean pairwise cosine distance of the embedding "
    "corpus, estimated from 2000 HASH-CHOSEN pairs with a CLT "
    "interval — the O(K) answer to an O(n^2) question (corpus "
    "diversity / collapse monitoring: shrinking mean pairwise "
    "distance = mode collapse in a generator or over-deduplication). "
    "Pair indices come from fixed Knuth-multiplicative index maps, "
    "so the 'random' sample is exactly reproducible on any engine "
    "with NO RNG state; the two index joins broadcast the 2000-row "
    "pair table against the corpus — the fact table is never "
    "self-joined.",
)
def embedding_sampled_pairwise_distance(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    n = emb.agg(
        F.count(F.lit(1)).alias("n"), F.min("vec_id").alias("v0")
    )
    idx = (
        spark.range(0, 2000)
        .toDF("i")
        .crossJoin(F.broadcast(n))
        .select(
            "i",
            ((F.col("i") * 2654435761) % F.col("n") + F.col("v0")).alias("ia"),
            (
                (F.col("i") * 40503 + 2654435769) % F.col("n") + F.col("v0")
            ).alias("ib"),
        )
        .filter(F.col("ia") != F.col("ib"))
    )
    dot = (
        "aggregate(zip_with(a.embedding, b.embedding, "
        "(x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
        "CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
    )
    nrm = (
        "sqrt(aggregate(transform({v}, x -> CAST(x AS DOUBLE) "
        "* CAST(x AS DOUBLE)), CAST(0.0 AS DOUBLE), (acc, v) -> acc + v))"
    )
    pairs = (
        F.broadcast(idx)
        .join(emb.alias("a"), F.col("ia") == F.col("a.vec_id"))
        .join(emb.alias("b"), F.col("ib") == F.col("b.vec_id"))
        .select(
            (
                F.lit(1)
                - F.expr(dot)
                / (
                    F.expr(nrm.format(v="a.embedding"))
                    * F.expr(nrm.format(v="b.embedding"))
                )
            ).alias("dist")
        )
    )
    return pairs.agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.round(F.avg("dist"), 4).alias("mean_cos_dist"),
        F.round(F.stddev_samp("dist"), 4).alias("sd_cos_dist"),
        F.round(
            F.avg("dist")
            - 1.96 * F.stddev_samp("dist") / F.sqrt(F.count(F.lit(1))),
            4,
        ).alias("ci_lo"),
        F.round(
            F.avg("dist")
            + 1.96 * F.stddev_samp("dist") / F.sqrt(F.count(F.lit(1))),
            4,
        ).alias("ci_hi"),
    )


# ------------------------------------------- Monte Carlo VaR
@register(
    "stats_monte_carlo_var",
    oracle="""
    WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS day, SUM(o_totalprice) AS rev
        FROM orders GROUP BY 1
    ),
    params AS (
        SELECT AVG(rev) AS mu, STDDEV_SAMP(rev) AS sigma FROM daily
    ),
    draws AS (
        SELECT p.mu + p.sigma
               * sqrt(-2 * ln((CAST(('0x' || substr(md5('mc:' || i || ':1'),
                          1, 12)) AS BIGINT) + 1.0) / 281474976710657))
               * cos(6.283185307179586
                     * CAST(('0x' || substr(md5('mc:' || i || ':2'), 1, 12))
                            AS BIGINT) / 281474976710656)
               AS sim
        FROM UNNEST(generate_series(0, 9999)) AS t(i) CROSS JOIN params p
    )
    SELECT COUNT(*) AS n_draws,
           ROUND(p.mu, 2) AS mu,
           ROUND(p.sigma, 2) AS sigma,
           ROUND(p.mu - quantile_cont(sim, 0.05), 2) AS var95_mc,
           ROUND(1.6448536269514722 * p.sigma, 2) AS var95_normal
    FROM draws CROSS JOIN params p
    GROUP BY p.mu, p.sigma
    """,
    description="Monte Carlo 95% value-at-risk of daily revenue: "
    "10,000 normal draws generated WITHOUT any RNG state — each draw "
    "is Box-Muller over two md5-derived uniforms, so every engine "
    "(and every retry of a failed task: determinism IS the "
    "fault-tolerance story) produces the identical sample. The MC "
    "VaR lands on the closed-form normal VaR (1.6449 sigma), "
    "validating the simulation harness before it's pointed at "
    "non-Gaussian compound distributions where no closed form "
    "exists. One day-grain aggregate for (mu, sigma), one 10k-row "
    "generated scan, one percentile.",
)
def stats_monte_carlo_var(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders")
    daily = orders.groupBy(F.col("o_orderdate").cast("date").alias("day")).agg(
        F.sum("o_totalprice").alias("rev")
    )
    params = daily.agg(
        F.avg("rev").alias("mu"), F.stddev_samp("rev").alias("sigma")
    )
    h1 = (
        "CAST(conv(substr(md5(concat('mc:', CAST(i AS STRING), ':1')), "
        "1, 12), 16, 10) AS BIGINT)"
    )
    h2 = (
        "CAST(conv(substr(md5(concat('mc:', CAST(i AS STRING), ':2')), "
        "1, 12), 16, 10) AS BIGINT)"
    )
    draws = (
        spark.range(0, 10000)
        .toDF("i")
        .crossJoin(F.broadcast(params))
        .select(
            (
                F.col("mu")
                + F.col("sigma")
                * F.sqrt(-2 * F.log((F.expr(h1) + 1.0) / 281474976710657.0))
                * F.cos(
                    6.283185307179586 * F.expr(h2) / 281474976710656.0
                )
            ).alias("sim")
        )
    )
    return draws.crossJoin(F.broadcast(params)).groupBy("mu", "sigma").agg(
        F.count(F.lit(1)).alias("n_draws"),
        F.round(F.expr("mu - percentile(sim, 0.05)"), 2).alias("var95_mc"),
        F.round(1.6448536269514722 * F.col("sigma"), 2).alias("var95_normal"),
    ).select(
        "n_draws",
        F.round("mu", 2).alias("mu"),
        F.round("sigma", 2).alias("sigma"),
        "var95_mc",
        "var95_normal",
    )


# ------------------------------------------- Cramér's V (bias-corrected)
@register(
    "stats_cramers_v_lang_source",
    oracle=f"""
    WITH obs AS (
        SELECT lang, source, COUNT(*) AS o
        FROM documents GROUP BY 1, 2
    ),
    rt AS (SELECT lang, SUM(o) AS r FROM obs GROUP BY lang),
    ct AS (SELECT source, SUM(o) AS c FROM obs GROUP BY source),
    n AS (SELECT SUM(o) AS n FROM obs),
    cells AS (
        SELECT COALESCE(obs.o, 0) AS o,
               CAST(rt.r AS DOUBLE) * ct.c / n.n AS e
        FROM rt CROSS JOIN ct CROSS JOIN n
        LEFT JOIN obs ON obs.lang = rt.lang AND obs.source = ct.source
    ),
    dims AS (
        SELECT CAST((SELECT COUNT(*) FROM rt) AS BIGINT) AS r,
               CAST((SELECT COUNT(*) FROM ct) AS BIGINT) AS c,
               CAST((SELECT n FROM n) AS BIGINT) AS n,
               (SELECT SUM((o - e) * (o - e) / e) FROM cells) AS chi2
    ),
    corr AS (
        SELECT r, c, n, chi2,
               chi2 / n AS phi2,
               GREATEST(0.0, chi2 / n
                        - CAST((r - 1) * (c - 1) AS DOUBLE) / (n - 1))
                   AS phi2_t,
               r - CAST((r - 1) * (r - 1) AS DOUBLE) / (n - 1) AS r_t,
               c - CAST((c - 1) * (c - 1) AS DOUBLE) / (n - 1) AS c_t
        FROM dims
    )
    SELECT n AS n_docs, CAST(r AS INT) AS n_langs, CAST(c AS INT) AS n_sources,
           {dround_sql("chi2", 4)} AS chi2,
           {dround_sql("sqrt(phi2 / LEAST(r - 1, c - 1))", 6)} AS cramers_v,
           {dround_sql("sqrt(phi2_t / LEAST(r_t - 1.0, c_t - 1.0))", 6)}
               AS cramers_v_corrected
    FROM corr
    """,
    description="Cramér's V effect size for the lang x source association, "
    "plus the Bergsma bias-corrected variant: chi-square alone grows with "
    "N (stats_chisq_lang_source will flag ANY dependence at 100 TB row "
    "counts), while V in [0,1] answers the question monitoring actually "
    "asks — HOW skewed is the crawl-source/language mix, on a scale "
    "stable across corpus sizes. The uncorrected V overestimates on "
    "small tables; the corrected variant shrinks phi^2 by its "
    "independence-null expectation. Same plan skeleton as the chi-square "
    "query: one fact-table groupBy, broadcast marginals, a "
    "|langs|x|sources| cell grid.",
)
def stats_cramers_v_lang_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    obs = docs.groupBy("lang", "source").agg(F.count(F.lit(1)).alias("o"))
    rt = obs.groupBy("lang").agg(F.sum("o").alias("r"))
    ct = obs.groupBy("source").agg(F.sum("o").alias("c"))
    n = obs.agg(F.sum("o").alias("n"))
    cells = (
        rt.crossJoin(ct)
        .crossJoin(F.broadcast(n))
        .join(F.broadcast(obs), ["lang", "source"], "left")
        .select(
            F.coalesce("o", F.lit(0)).alias("o"),
            (F.col("r").cast("double") * F.col("c") / F.col("n")).alias("e"),
        )
    )
    dims = (
        cells.agg(F.sum((F.col("o") - F.col("e")) ** 2 / F.col("e")).alias("chi2"))
        .crossJoin(F.broadcast(rt.agg(F.count(F.lit(1)).cast("bigint").alias("r"))))
        .crossJoin(F.broadcast(ct.agg(F.count(F.lit(1)).cast("bigint").alias("c"))))
        .crossJoin(F.broadcast(n.select(F.col("n").cast("bigint").alias("n"))))
    )
    phi2 = F.col("chi2") / F.col("n")
    phi2_t = F.greatest(
        F.lit(0.0),
        phi2 - ((F.col("r") - 1) * (F.col("c") - 1)).cast("double") / (F.col("n") - 1),
    )
    r_t = F.col("r") - ((F.col("r") - 1) * (F.col("r") - 1)).cast("double") / (
        F.col("n") - 1
    )
    c_t = F.col("c") - ((F.col("c") - 1) * (F.col("c") - 1)).cast("double") / (
        F.col("n") - 1
    )
    return dims.select(
        F.col("n").alias("n_docs"),
        F.col("r").cast("int").alias("n_langs"),
        F.col("c").cast("int").alias("n_sources"),
        dround(F.col("chi2"), 4).alias("chi2"),
        dround(
            F.sqrt(phi2 / F.least(F.col("r") - 1, F.col("c") - 1)), 6
        ).alias("cramers_v"),
        dround(F.sqrt(phi2_t / F.least(r_t - 1.0, c_t - 1.0)), 6).alias(
            "cramers_v_corrected"
        ),
    )


# ------------------------------------------- Nelson-Aalen cumulative hazard
@register(
    "stats_nelson_aalen_cumhaz",
    oracle=f"""
    WITH marked AS (
        SELECT user_id, ts,
               CASE WHEN datediff('microsecond',
                        LAG(ts) OVER (PARTITION BY user_id ORDER BY ts), ts)
                        > 1800000000
                     OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                        IS NULL
                    THEN 1 ELSE 0 END AS new_sess
        FROM events
    ),
    sess AS (
        SELECT user_id,
               SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid,
               ts
        FROM marked
    ),
    iv AS (
        SELECT user_id,
               CAST(datediff('microsecond', MIN(ts), MAX(ts)) // 60000000
                    AS BIGINT) AS dur,
               MAX(ts) AS e
        FROM sess GROUP BY user_id, sid
    ),
    lastev AS (SELECT user_id, MAX(ts) AS last_ts FROM events GROUP BY 1),
    obs AS (
        SELECT iv.dur,
               CASE WHEN iv.e = l.last_ts THEN 0 ELSE 1 END AS event
        FROM iv JOIN lastev l ON iv.user_id = l.user_id
    ),
    by_t AS (
        SELECT dur, SUM(event) AS d, COUNT(*) AS m
        FROM obs GROUP BY dur
    ),
    risk AS (
        SELECT dur, d,
               SUM(m) OVER (ORDER BY dur DESC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS n_at_risk
        FROM by_t
    )
    SELECT dur AS dur_minutes, CAST(n_at_risk AS INT) AS n_at_risk,
           CAST(d AS INT) AS n_ended,
           {dround_sql(
               "SUM(CAST(d AS DOUBLE) / n_at_risk)"
               " OVER (ORDER BY dur"
               "       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)", 4)}
               AS na_cum_hazard,
           {dround_sql(
               "SUM(CAST(d AS DOUBLE) / (CAST(n_at_risk AS DOUBLE)"
               "                          * n_at_risk))"
               " OVER (ORDER BY dur"
               "       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)", 6)}
               AS na_variance,
           {dround_sql(
               "exp(-SUM(CAST(d AS DOUBLE) / n_at_risk)"
               "     OVER (ORDER BY dur"
               "           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))",
               4)} AS fh_survival
    FROM risk WHERE d > 0
    """,
    description="Nelson-Aalen cumulative hazard of session duration "
    "(minute grain, 30-min-gap sessions, final session per user "
    "right-censored) with its variance estimator and the derived "
    "Fleming-Harrington survival exp(-H) — the additive companion to "
    "stats_kaplan_meier_session_duration's product-limit curve (NA is "
    "preferred at small risk sets and is the quantity Cox models "
    "baseline on; FH >= KM pointwise is a built-in cross-check). Same "
    "scale shape as KM: one sessionization pass, then every window "
    "runs over the DURATION-grain table (<= max-session-minutes rows); "
    "the ordered prefix sums accumulate in sorted order, so both "
    "engines add the same doubles in the same sequence.",
)
def stats_nelson_aalen_cumhaz(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    wu = Window.partitionBy("user_id").orderBy("ts")
    gap_us = F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(wu))
    sess = (
        ev.withColumn(
            "new_sess",
            F.when(gap_us.isNull() | (gap_us > 1_800_000_000), 1).otherwise(0),
        )
        .withColumn(
            "sid",
            F.sum("new_sess").over(wu.rowsBetween(Window.unboundedPreceding, 0)),
        )
        .groupBy("user_id", "sid")
        .agg(
            (
                (F.unix_micros(F.max("ts")) - F.unix_micros(F.min("ts")))
                / F.lit(60_000_000)
            )
            .cast("long")
            .alias("dur"),
            F.max("ts").alias("e"),
        )
    )
    lastev = ev.groupBy("user_id").agg(F.max("ts").alias("last_ts"))
    obs = sess.join(lastev, "user_id").select(
        "dur",
        F.when(F.col("e") == F.col("last_ts"), 0).otherwise(1).alias("event"),
    )
    by_t = obs.groupBy("dur").agg(
        F.sum("event").alias("d"), F.count(F.lit(1)).alias("m")
    )
    w_desc = Window.orderBy(F.col("dur").desc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    risk = by_t.withColumn("n_at_risk", F.sum("m").over(w_desc))
    w_asc = Window.orderBy("dur").rowsBetween(Window.unboundedPreceding, 0)
    dd = F.col("d").cast("double")
    haz = F.sum(dd / F.col("n_at_risk")).over(w_asc)
    var = F.sum(
        dd / (F.col("n_at_risk").cast("double") * F.col("n_at_risk"))
    ).over(w_asc)
    return (
        risk.withColumn("na_cum_hazard", dround(haz, 4))
        .withColumn("na_variance", dround(var, 6))
        .withColumn("fh_survival", dround(F.exp(-haz), 4))
        .filter(F.col("d") > 0)
        .select(
            F.col("dur").alias("dur_minutes"),
            F.col("n_at_risk").cast("int").alias("n_at_risk"),
            F.col("d").cast("int").alias("n_ended"),
            "na_cum_hazard",
            "na_variance",
            "fh_survival",
        )
    )


# --------------------------------------- maximum drawdown (running extreme)
@register(
    "finance_max_drawdown_daily",
    oracle=f"""
    WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS day,
               CAST(SUM(CAST(ROUND(CAST(o_totalprice * 100 AS DECIMAL(38,8)),
                    0) AS BIGINT)) AS BIGINT) AS cents
        FROM orders GROUP BY 1
    ),
    curve2 AS (
        SELECT day, cents AS equity,
               CAST(MAX(cents) OVER (ORDER BY day
                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS runmax
        FROM daily
    ),
    trough AS (
        SELECT day, equity, runmax, dd FROM (
            SELECT day, equity, runmax, runmax - equity AS dd,
                   ROW_NUMBER() OVER (ORDER BY runmax - equity DESC, day)
                       AS rn
            FROM curve2
        ) WHERE rn = 1
    ),
    peak AS (
        SELECT MIN(c.day) AS peak_day
        FROM curve2 c, trough t
        WHERE c.equity = t.runmax AND c.day <= t.day
    )
    SELECT p.peak_day, t.day AS trough_day,
           t.runmax AS peak_day_cents,
           t.equity AS trough_day_cents,
           CAST(t.dd AS BIGINT) AS max_drawdown_cents,
           {dround_sql("CAST(t.dd AS DOUBLE) / t.runmax", 6)}
               AS drawdown_frac
    FROM trough t, peak p
    """,
    description="Maximum drawdown of the daily-revenue level series — "
    "the canonical running-extreme scan analytic (finance risk metric "
    "applied to the ops KPI: the deepest slump below the best revenue "
    "day seen so far; a CUMULATIVE revenue curve is monotone because "
    "daily revenue is nonnegative, so the level series is the curve "
    "with actual drawdowns): runmax_t = prefix max of day cents, "
    "drawdown_t = runmax_t - cents_t; report the deepest drawdown with "
    "its peak day (earliest day attaining the trough's running max) "
    "and trough day (earliest day attaining the max drawdown — "
    "ROW_NUMBER tiebreak on day). Revenue is integer CENTS so every "
    "prefix max / difference is exact on both engines; the only float "
    "op is the final drawdown fraction over identical integers. The "
    "running-max window runs over the DAY-GRAIN post-aggregation "
    "series (bounded by calendar span — one agg shuffle collapses "
    "100 TB of orders first); the peak lookup is a broadcast join of "
    "the 1-row trough against the same day-grain curve.",
)
def finance_max_drawdown_daily(
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
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    curve2 = daily.select(
        "day",
        F.col("cents").alias("equity"),
        F.max("cents").over(w).cast("bigint").alias("runmax"),
    )
    trough = (
        curve2.withColumn("dd", F.col("runmax") - F.col("equity"))
        .withColumn(
            "rn",
            F.row_number().over(Window.orderBy(F.desc("dd"), "day")),
        )
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    peak = (
        curve2.select(
            F.col("day").alias("pday"),
            F.col("equity").alias("pequity"),
        )
        .join(
            F.broadcast(
                trough.select(
                    F.col("day").alias("tday"),
                    F.col("runmax").alias("trunmax"),
                )
            ),
            (F.col("pequity") == F.col("trunmax"))
            & (F.col("pday") <= F.col("tday")),
        )
        .agg(F.min("pday").alias("peak_day"))
    )
    return trough.crossJoin(F.broadcast(peak)).select(
        "peak_day",
        F.col("day").alias("trough_day"),
        F.col("runmax").alias("peak_day_cents"),
        F.col("equity").alias("trough_day_cents"),
        F.col("dd").cast("bigint").alias("max_drawdown_cents"),
        dround(
            F.col("dd").cast("double") / F.col("runmax"), 6
        ).alias("drawdown_frac"),
    )
