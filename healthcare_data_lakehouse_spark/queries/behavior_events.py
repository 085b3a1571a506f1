"""User-behavior / event-sequence query family."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from healthcare_data_lakehouse_spark.functions import dround, dround_sql
from healthcare_data_lakehouse_spark.queries.catalog import register
from healthcare_data_lakehouse_spark.tables import table



# ------------------------------------------------------- retention cohorts
@register(
    "events_retention_cohorts",
    oracle="""
    WITH act AS (
      SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS week
      FROM events
    ),
    coh AS (SELECT user_id, MIN(week) AS cohort_week FROM act GROUP BY user_id)
    SELECT c.cohort_week AS cohort_week,
           datediff('day', c.cohort_week, a.week) // 7 AS week_offset,
           COUNT(DISTINCT a.user_id) AS active_users
    FROM act a JOIN coh c ON a.user_id = c.user_id
    GROUP BY 1, 2
    """,
    description="Weekly cohort retention matrix: cohort = first-active "
    "week, active_users per (cohort, week_offset). Monday-start weeks on "
    "both engines.",
)
def events_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    act = ev.select(
        "user_id", F.date_trunc("week", F.col("ts")).cast("date").alias("week")
    ).distinct()
    coh = act.groupBy("user_id").agg(F.min("week").alias("cohort_week"))
    return (
        act.join(coh, "user_id")
        .groupBy(
            "cohort_week",
            (F.datediff("week", "cohort_week") / 7)
            .cast("long")
            .alias("week_offset"),
        )
        .agg(F.countDistinct("user_id").alias("active_users"))
    )


# ------------------------------------------------------------ sliding WAU
@register(
    "events_dau_wau",
    oracle="""
    WITH pairs AS (
      SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events
    ),
    dau AS (SELECT day, COUNT(*) AS dau FROM pairs GROUP BY day),
    wau AS (
      SELECT d.day, COUNT(DISTINCT p.user_id) AS wau
      FROM (SELECT DISTINCT day FROM pairs) d
      JOIN pairs p ON p.day BETWEEN d.day - 6 AND d.day
      GROUP BY d.day
    )
    SELECT dau.day AS day, dau.dau AS dau, wau.wau AS wau
    FROM dau JOIN wau ON dau.day = wau.day
    """,
    description="Daily active users + trailing-7-day actives. Spark side "
    "avoids the O(days x events) range join: each (user, day) pair "
    "explodes the 7 future days it covers, then one distinct-count per "
    "day — fully map-side-combinable at 100 TB.",
)
def events_dau_wau(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    pairs = ev.select(F.col("ts").cast("date").alias("day"), "user_id").distinct()
    dau = pairs.groupBy("day").agg(F.count(F.lit(1)).alias("dau"))
    # a user active on day d counts toward WAU of every day in [d, d+6]
    cover = pairs.select(
        F.explode(F.expr("sequence(day, date_add(day, 6))")).alias("day"),
        "user_id",
    )
    wau = cover.groupBy("day").agg(F.countDistinct("user_id").alias("wau"))
    # inner join keeps only observed days (dau's domain)
    return dau.join(wau, "day")


# ------------------------------------------------ Markov transition matrix
@register(
    "events_type_transition_matrix",
    oracle="""
    WITH seq AS (
      SELECT event_type,
             LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts)
               AS prev_type
      FROM events
    ),
    agg AS (
      SELECT prev_type, event_type AS next_type, COUNT(*) AS transitions
      FROM seq WHERE prev_type IS NOT NULL GROUP BY 1, 2
    )
    SELECT prev_type, next_type, transitions,
           ROUND(transitions * 1.0 / SUM(transitions)
                 OVER (PARTITION BY prev_type), 6) AS prob
    FROM agg
    """,
    description="First-order Markov transition matrix over per-user event "
    "sequences; prob = row-conditional P(next|prev). (user_id, ts) is "
    "unique in the fixture so LAG ordering is total.",
)
def events_type_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts")
    seq = ev.withColumn("prev_type", F.lag("event_type").over(w)).filter(
        F.col("prev_type").isNotNull()
    )
    agg = seq.groupBy(
        "prev_type", F.col("event_type").alias("next_type")
    ).agg(F.count(F.lit(1)).alias("transitions"))
    wp = Window.partitionBy("prev_type")
    return agg.withColumn(
        "prob",
        F.round(F.col("transitions") / F.sum("transitions").over(wp), 6),
    )


# ------------------------------------------------------ Pareto / cum share
@register(
    "orders_pareto_top_customers",
    oracle="""
    WITH rev AS (
      SELECT o_custkey, ROUND(SUM(o_totalprice), 2) AS revenue
      FROM orders GROUP BY o_custkey
    ),
    tot AS (SELECT ROUND(SUM(revenue), 2) AS total_revenue FROM rev),
    ranked AS (
      SELECT o_custkey, revenue,
             ROW_NUMBER() OVER (ORDER BY revenue DESC, o_custkey)
               AS revenue_rank,
             ROUND(SUM(revenue) OVER (ORDER BY revenue DESC, o_custkey
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2)
               AS cum_revenue
      FROM rev
    )
    SELECT r.o_custkey, r.revenue, r.revenue_rank, r.cum_revenue,
           ROUND(r.cum_revenue / t.total_revenue, 6) AS cum_share
    FROM ranked r CROSS JOIN tot t
    WHERE r.revenue_rank <= 20
    """,
    description="Pareto concentration: top-20 customers by revenue with "
    "cumulative share of total. Ordered prefix-sum runs over the "
    "customer-grain aggregate (not the fact table); at 1e8+ customers "
    "the same result comes from a two-pass per-partition-offset scan.",
)
def orders_pareto_top_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders")
    rev = orders.groupBy("o_custkey").agg(
        F.round(F.sum("o_totalprice"), 2).alias("revenue")
    )
    total = rev.agg(F.round(F.sum("revenue"), 2).alias("total_revenue"))
    order_cols = [F.desc("revenue"), F.asc("o_custkey")]
    w_rank = Window.orderBy(*order_cols)
    w_cum = Window.orderBy(*order_cols).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        rev.withColumn("revenue_rank", F.row_number().over(w_rank))
        .withColumn("cum_revenue", F.round(F.sum("revenue").over(w_cum), 2))
        .filter(F.col("revenue_rank") <= 20)
        .crossJoin(F.broadcast(total))
        .withColumn(
            "cum_share", F.round(F.col("cum_revenue") / F.col("total_revenue"), 6)
        )
        .select(
            "o_custkey", "revenue", "revenue_rank", "cum_revenue", "cum_share"
        )
    )


# ------------------------------------------- correlated-subquery shape
@register(
    "orders_above_customer_avg",
    oracle="""
    SELECT o_custkey, o_orderkey, o_totalprice,
           cust_avg
    FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             CAST(ROUND(CAST(AVG(o_totalprice) OVER (PARTITION BY o_custkey)
                  AS DECIMAL(38,8)), 2) AS DOUBLE)
               AS cust_avg
      FROM orders
    )
    WHERE o_totalprice > 1.5 * cust_avg
    """,
    description="Correlated scalar subquery shape (orders 1.5x above the "
    "same customer's average), decorrelated to a partitioned window — "
    "one shuffle on the correlation key. Threshold compares against the "
    "ROUNDED average so the predicate is reproducible across engines.",
)
def orders_above_customer_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey")
    return (
        orders.withColumn(
            "cust_avg", dround(F.avg("o_totalprice").over(w), 2)
        )
        .filter(F.col("o_totalprice") > 1.5 * F.col("cust_avg"))
        .select("o_custkey", "o_orderkey", "o_totalprice", "cust_avg")
    )


# ------------------------------------------------------ purchase cadence
@register(
    "orders_interpurchase_days",
    oracle="""
    WITH gaps AS (
      SELECT o_custkey,
             datediff('day',
                      LAG(o_orderdate) OVER (PARTITION BY o_custkey
                                             ORDER BY o_orderdate, o_orderkey),
                      o_orderdate) AS gap
      FROM orders
    )
    SELECT o_custkey, COUNT(*) AS n_gaps,
           ROUND(AVG(gap), 4) AS avg_gap_days,
           MIN(gap) AS min_gap_days, MAX(gap) AS max_gap_days
    FROM gaps WHERE gap IS NOT NULL GROUP BY o_custkey
    """,
    description="Inter-purchase cadence per customer (LAG over orderdate "
    "with orderkey tiebreak — duplicate (custkey, date) pairs exist in "
    "the fixture, so the tiebreak makes the sequence total-ordered).",
)
def orders_interpurchase_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    gaps = orders.withColumn(
        "gap", F.datediff("o_orderdate", F.lag("o_orderdate").over(w))
    ).filter(F.col("gap").isNotNull())
    return gaps.groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("n_gaps"),
        F.round(F.avg("gap"), 4).alias("avg_gap_days"),
        F.min("gap").alias("min_gap_days"),
        F.max("gap").alias("max_gap_days"),
    )


# ----------------------------------------------- percent_rank / cume_dist
@register(
    "window_order_percentile_rank",
    oracle="""
    SELECT c.c_mktsegment AS mktsegment, o.o_orderkey, o.o_totalprice,
           ROUND(PERCENT_RANK() OVER w, 6) AS pct_rank,
           ROUND(CUME_DIST() OVER w, 6) AS cume_d
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    WINDOW w AS (PARTITION BY c.c_mktsegment
                 ORDER BY o.o_totalprice, o.o_orderkey)
    """,
    description="Relative standing of every order within its market "
    "segment (percent_rank + cume_dist). The orderkey tiebreak makes the "
    "within-partition order total, so ranks are deterministic under any "
    "partitioning.",
)
def window_order_percentile_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders")
    customer = table(spark, sf_dir, "customer")
    w = Window.partitionBy("mktsegment").orderBy("o_totalprice", "o_orderkey")
    return (
        orders.join(customer, orders.o_custkey == customer.c_custkey)
        .select(
            F.col("c_mktsegment").alias("mktsegment"),
            "o_orderkey",
            "o_totalprice",
        )
        .withColumn("pct_rank", F.round(F.percent_rank().over(w), 6))
        .withColumn("cume_d", F.round(F.cume_dist().over(w), 6))
    )


# ------------------------------------------------- time-weighted average
@register(
    "events_value_twap_per_user",
    oracle="""
    WITH spans AS (
      SELECT user_id, value,
             datediff('microsecond', ts,
                      LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts))
               AS dt_us
      FROM events
    )
    SELECT user_id,
           COUNT(*) AS n_spans,
           ROUND(SUM(value * dt_us) / SUM(dt_us), 4) AS twap
    FROM spans WHERE dt_us IS NOT NULL
    GROUP BY user_id
    """,
    description="Time-weighted average of the event value per user: each "
    "reading holds until the next one (LEAD span weighting, exact "
    "integer microseconds on both engines). The time-series TWAP/TVWAP "
    "primitive — one window pass + one agg, shuffled once on user_id.",
)
def events_value_twap_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts")
    spans = ev.withColumn(
        "dt_us",
        F.unix_micros(F.lead("ts").over(w)) - F.unix_micros(F.col("ts")),
    ).filter(F.col("dt_us").isNotNull())
    return spans.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_spans"),
        F.round(F.sum(F.col("value") * F.col("dt_us")) / F.sum("dt_us"), 4).alias(
            "twap"
        ),
    )


# ----------------------------------------------------------- YoY growth
@register(
    "orders_yoy_growth",
    oracle="""
    WITH yearly AS (
      SELECT CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS order_year,
             ROUND(SUM(o_totalprice), 2) AS revenue
      FROM orders GROUP BY 1
    )
    SELECT order_year, revenue,
           ROUND(100.0 * (revenue - LAG(revenue) OVER (ORDER BY order_year))
                 / LAG(revenue) OVER (ORDER BY order_year), 4) AS yoy_pct
    FROM yearly
    """,
    description="Year-over-year revenue growth: fact scan -> yearly agg "
    "(map-side combinable) -> LAG over the tiny year-grain series.",
)
def orders_yoy_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders")
    yearly = orders.groupBy(
        F.year("o_orderdate").cast("long").alias("order_year")
    ).agg(F.round(F.sum("o_totalprice"), 2).alias("revenue"))
    w = Window.orderBy("order_year")
    prev = F.lag("revenue").over(w)
    return yearly.withColumn(
        "yoy_pct", F.round(100.0 * (F.col("revenue") - prev) / prev, 4)
    )


# ------------------------------------------------------- OHLC downsampling
@register(
    "events_ohlc_bars",
    oracle="""
    SELECT event_type, CAST(ts AS DATE) AS day,
           ROUND(ARG_MIN(value, ts), 4) AS open_v,
           ROUND(MAX(value), 4) AS high_v,
           ROUND(MIN(value), 4) AS low_v,
           ROUND(ARG_MAX(value, ts), 4) AS close_v,
           COUNT(*) AS n
    FROM events
    GROUP BY 1, 2
    """,
    description="Daily OHLC bars per event type (min_by/max_by ordered "
    "aggregates — ts is collision-free in the fixture, so open/close are "
    "well-defined). The time-series downsampling primitive: one "
    "map-side-combinable agg pass, output cardinality |types| x |days| "
    "regardless of input scale.",
)
def events_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    return ev.groupBy("event_type", F.col("ts").cast("date").alias("day")).agg(
        F.round(F.min_by("value", "ts"), 4).alias("open_v"),
        F.round(F.max("value"), 4).alias("high_v"),
        F.round(F.min("value"), 4).alias("low_v"),
        F.round(F.max_by("value", "ts"), 4).alias("close_v"),
        F.count(F.lit(1)).alias("n"),
    )


# ------------------------------------------- RANGE-interval window
@register(
    "window_range_7day_user_value",
    oracle="""
    SELECT event_id, user_id,
           ROUND(SUM(value) OVER (
               PARTITION BY user_id
               ORDER BY datediff('microsecond', TIMESTAMP '1970-01-01', ts)
               RANGE BETWEEN 604800000000 PRECEDING AND CURRENT ROW
           ), 2) AS value_7d
    FROM events
    """,
    description="Trailing-7-day per-user value sum as a RANGE frame over "
    "epoch-microsecond ordering (a time-interval frame, not a row-count "
    "frame: gaps and same-timestamp peers are handled by VALUE distance, "
    "which ROWS BETWEEN cannot express). One shuffle on user_id; frame "
    "evaluation is the sliding two-pointer pass inside each partition.",
)
def window_range_7day_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros(F.col("ts")))
        .rangeBetween(-604_800_000_000, 0)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.round(F.sum("value").over(w), 2).alias("value_7d"),
    )


# --------------------------------------------- rolling anomaly scan
@register(
    "events_value_anomalies",
    oracle="""
    WITH stats AS (
        SELECT event_id, user_id, ts, value,
               AVG(value) OVER w AS mu,
               STDDEV_SAMP(value) OVER w AS sigma,
               COUNT(*) OVER w AS n_window
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN 30 PRECEDING AND 1 PRECEDING)
    )
    SELECT event_id, user_id,
           ROUND(value, 4) AS value,
           ROUND((value - mu) / sigma, 4) AS zscore
    FROM stats
    WHERE n_window >= 10 AND sigma > 0
      AND ABS((value - mu) / sigma) > 3
    """,
    description="Rolling anomaly detection: each event scored against "
    "the trailing-30-event mean/stddev of ITS OWN user's history "
    "(strictly preceding rows — no self-leakage), flagged at |z| > 3 "
    "with a 10-event warm-up. One user-keyed window pass computes "
    "mean, stddev and count in a single frame evaluation; the monitor "
    "shape for metric streams at any scale (per-entity state, never "
    "a global sort).",
)
def events_value_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-30, -1)
    )
    stats = ev.select(
        "event_id",
        "user_id",
        "value",
        F.avg("value").over(w).alias("mu"),
        F.stddev_samp("value").over(w).alias("sigma"),
        F.count(F.lit(1)).over(w).alias("n_window"),
    )
    z = (F.col("value") - F.col("mu")) / F.col("sigma")
    return stats.filter(
        (F.col("n_window") >= 10) & (F.col("sigma") > 0) & (F.abs(z) > 3)
    ).select(
        "event_id",
        "user_id",
        F.round("value", 4).alias("value"),
        F.round(z, 4).alias("zscore"),
    )


# -------------------------------------- cumulative distinct actives
@register(
    "events_cumulative_unique_users",
    oracle="""
    WITH first_seen AS (
        SELECT user_id, MIN(CAST(ts AS DATE)) AS first_day
        FROM events GROUP BY user_id
    ),
    daily_new AS (
        SELECT first_day AS day, COUNT(*) AS new_users
        FROM first_seen GROUP BY first_day
    )
    SELECT day, new_users,
           CAST(SUM(new_users) OVER (ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS cumulative_users
    FROM daily_new
    """,
    description="Cumulative distinct users over time WITHOUT "
    "COUNT(DISTINCT) OVER (which Spark — and most engines — reject): "
    "each user reduces to their first-seen day (one keyed agg), daily "
    "new-user counts re-aggregate, and the running total is a window "
    "over the DAY-grain series. The decomposition turns an "
    "unbounded-state distinct-over-window into two map-side-combinable "
    "aggs + a prefix sum over O(days) rows — the only shape that "
    "survives a 100 TB event table (declared small-grain: the ordered "
    "stage touches day-count rows).",
)
def events_cumulative_unique_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    first_seen = ev.groupBy("user_id").agg(
        F.min(F.col("ts").cast("date")).alias("first_day")
    )
    daily_new = first_seen.groupBy(F.col("first_day").alias("day")).agg(
        F.count(F.lit(1)).alias("new_users")
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return daily_new.select(
        "day", "new_users", F.sum("new_users").over(w).alias("cumulative_users")
    )


# ------------------------------------------------- path mining
@register(
    "events_top_paths_3step",
    oracle="""
    WITH seq AS (
        SELECT user_id, event_type AS t1,
               LEAD(event_type, 1) OVER w AS t2,
               LEAD(event_type, 2) OVER w AS t3
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    paths AS (
        SELECT t1 || '>' || t2 || '>' || t3 AS path, COUNT(*) AS n
        FROM seq WHERE t3 IS NOT NULL
        GROUP BY 1
    )
    SELECT path, n FROM (
        SELECT path, n, ROW_NUMBER() OVER (ORDER BY n DESC, path) AS rn
        FROM paths
    ) WHERE rn <= 5
    """,
    description="Top-5 three-step behavioral paths (the k=3 extension of "
    "the first-order Markov matrix): consecutive event-type triples "
    "per user via two LEADs sharing one user-keyed window, counted "
    "with map-side combine. Path mining at this shape never "
    "materializes per-user sequences as arrays — the window stays "
    "streaming-friendly and the agg output is O(|type|^3), tiny at "
    "any corpus size.",
)
def events_top_paths_3step(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("t1"),
        F.lead("event_type", 1).over(w).alias("t2"),
        F.lead("event_type", 2).over(w).alias("t3"),
    ).filter(F.col("t3").isNotNull())
    paths = seq.select(
        F.concat_ws(">", "t1", "t2", "t3").alias("path")
    ).groupBy("path").agg(F.count(F.lit(1)).alias("n"))
    wtop = Window.orderBy(F.col("n").desc(), F.col("path"))
    return (
        paths.withColumn("rn", F.row_number().over(wtop))
        .filter(F.col("rn") <= 5)
        .select("path", "n")
    )


# ------------------------------------------------ seasonality profile
@register(
    "events_hour_of_week_profile",
    oracle="""
    WITH counted AS (
        SELECT CAST(extract(dow FROM ts) + 1 AS INT) AS day_of_week,
               CAST(extract(hour FROM ts) AS INT) AS hour_of_day,
               COUNT(*) AS n
        FROM events GROUP BY 1, 2
    ),
    tot AS (SELECT SUM(n) AS t FROM counted)
    SELECT day_of_week, hour_of_day, n,
           ROUND(CAST(n AS DOUBLE) / tot.t, 6) AS share
    FROM counted CROSS JOIN tot
    """,
    description="Hour-of-week traffic seasonality (the 7x24 load "
    "profile behind capacity planning and anomaly baselines): one "
    "map-side-combined agg to 168 cells, total joined back as a "
    "broadcast scalar — never a window over the fact table. Spark "
    "dayofweek() (1=Sunday) matches DuckDB dow+1 exactly.",
)
def events_hour_of_week_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    counted = ev.groupBy(
        F.dayofweek("ts").alias("day_of_week"), F.hour("ts").alias("hour_of_day")
    ).agg(F.count(F.lit(1)).alias("n"))
    tot = counted.agg(F.sum("n").alias("t"))
    return counted.join(F.broadcast(tot)).select(
        "day_of_week",
        "hour_of_day",
        "n",
        F.round(F.col("n").cast("double") / F.col("t"), 6).alias("share"),
    )


# ------------------------------------------- deterministic set agg
@register(
    "events_user_type_sets",
    oracle="""
    SELECT user_id,
           list_sort(list(DISTINCT event_type)) AS type_set,
           CAST(len(list(DISTINCT event_type)) AS INT) AS n_types
    FROM events
    GROUP BY user_id
    """,
    description="Deterministic set aggregation: per-user distinct "
    "event-type vocabulary as a SORTED array (collect_set alone is "
    "partition-order-dependent; sort_array makes the value stable and "
    "hash-comparable across engines, runs, and partitionings — the "
    "discipline every array-valued gold column needs). One keyed agg; "
    "set cardinality is bounded by |event_type|, so state stays tiny "
    "per group at any fact volume.",
)
def events_user_type_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    return ev.groupBy("user_id").agg(
        F.sort_array(F.collect_set("event_type")).alias("type_set"),
        F.size(F.collect_set("event_type")).alias("n_types"),
    )


# --------------------------------------------- peak concurrency
@register(
    "events_peak_minute_users_per_day",
    oracle="""
    WITH pm AS (
        SELECT CAST(ts AS DATE) AS day,
               date_trunc('minute', ts) AS minute,
               COUNT(DISTINCT user_id) AS n_users
        FROM events GROUP BY 1, 2
    )
    SELECT day, peak_users, MIN(minute) AS first_peak_minute FROM (
        SELECT day, minute, n_users,
               MAX(n_users) OVER (PARTITION BY day) AS peak_users
        FROM pm
    ) WHERE n_users = peak_users
    GROUP BY day, peak_users
    """,
    description="Peak concurrent load per day: distinct active users per "
    "minute bucket, then the per-day maximum with its earliest "
    "attaining minute (deterministic argmax). Two keyed aggs + one "
    "day-partitioned window over the MINUTE-grain series (1440 rows "
    "per day regardless of event volume) — the capacity-planning "
    "query that never sorts the fact table.",
)
def events_peak_minute_users_per_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    pm = ev.groupBy(
        F.col("ts").cast("date").alias("day"),
        F.date_trunc("minute", "ts").alias("minute"),
    ).agg(F.count_distinct("user_id").alias("n_users"))
    w = Window.partitionBy("day")
    return (
        pm.withColumn("peak_users", F.max("n_users").over(w))
        .filter(F.col("n_users") == F.col("peak_users"))
        .groupBy("day", "peak_users")
        .agg(F.min("minute").alias("first_peak_minute"))
    )


# --------------------------------------------------- windowed EWMA
@register(
    "events_ewma_user_value",
    oracle="""
    WITH framed AS (
        SELECT event_id, user_id, value,
               list(value) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN 19 PRECEDING AND CURRENT ROW
               ) AS vs
        FROM events
    )
    SELECT event_id, user_id,
           ROUND(
               list_sum(list_transform(
                   list_zip(vs, range(len(vs) - 1, -1, -1)),
                   p -> p[1] * 0.3 * POWER(0.7, p[2])))
               / list_sum(list_transform(
                   range(len(vs) - 1, -1, -1),
                   k -> 0.3 * POWER(0.7, k))),
           4) AS ewma
    FROM framed
    """,
    description="Exponentially-weighted moving average (alpha=0.3) over "
    "the trailing 20 events per user — the recursive EWMA recurrence "
    "is inexpressible in plain SQL windows, but the BOUNDED-window "
    "form factors into an array: collect the frame once, weight by "
    "age with pow inside the array lambda, normalize by the weight "
    "mass (no cold-start bias). One user-keyed window pass; the array "
    "never exceeds 20 floats per row, so state is constant and the "
    "whole expression stays in codegen — the pattern generalizes to "
    "any finite-memory filter (Holt smoothing, windowed convolution).",
)
def events_ewma_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-19, 0)
    )
    framed = ev.select(
        "event_id", "user_id", F.collect_list("value").over(w).alias("vs")
    )
    return framed.select(
        "event_id",
        "user_id",
        F.round(
            F.expr(
                "aggregate(zip_with(vs, sequence(size(vs) - 1, 0, -1), "
                "(x, k) -> x * 0.3 * power(0.7, k)), 0D, (a, b) -> a + b)"
            )
            / F.expr(
                "aggregate(sequence(size(vs) - 1, 0, -1), 0D, "
                "(a, k) -> a + 0.3 * power(0.7, k))"
            ),
            4,
        ).alias("ewma"),
    )


# ------------------------------------------------- gaps-and-islands runs
@register(
    "events_type_runs",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn,
             ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                                ORDER BY ts, event_id) AS rn_type
      FROM events
    ),
    runs AS (
      SELECT user_id, event_type, rn - rn_type AS island,
             COUNT(*) AS run_len
      FROM seq GROUP BY user_id, event_type, island
    )
    SELECT event_type, run_len, COUNT(*) AS n_runs
    FROM runs GROUP BY event_type, run_len
    """,
    description="Gaps-and-islands: maximal runs of identical consecutive "
    "event types per user via the rank-difference trick (two windows "
    "sharing ONE user-partitioned shuffle — rn minus per-type rn is "
    "constant exactly on a run), reduced to the run-length distribution "
    "per type. The canonical sessionless streak primitive (repeat "
    "errors, retry storms, habit loops); event_id tiebreak makes runs "
    "deterministic under timestamp ties. Windows partition by user — "
    "no global ordering anywhere.",
)
def events_type_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    w_all = Window.partitionBy("user_id").orderBy("ts", "event_id")
    w_type = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id",
        "event_type",
        (F.row_number().over(w_all) - F.row_number().over(w_type)).alias("island"),
    )
    runs = seq.groupBy("user_id", "event_type", "island").agg(
        F.count(F.lit(1)).alias("run_len")
    )
    return runs.groupBy("event_type", "run_len").agg(
        F.count(F.lit(1)).alias("n_runs")
    )


# ------------------------------------------- bot / abuse heuristics
@register(
    "events_bot_detection_heuristic",
    oracle=f"""
    WITH g AS (
        SELECT user_id, ts, event_type,
               COUNT(*) OVER (PARTITION BY user_id, event_type) AS type_n,
               epoch(ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id))
                   AS gap_s
        FROM events
    ),
    feats AS (
        SELECT user_id,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               {dround_sql("epoch(MAX(ts) - MIN(ts)) / 86400.0", 6)} AS span_days,
               {dround_sql("CAST(COUNT(*) AS DOUBLE) / greatest(epoch(MAX(ts) - MIN(ts)) / 86400.0, 1.0)", 6)} AS rate_per_day,
               {dround_sql("AVG(gap_s)", 6)} AS avg_gap_s,
               {dround_sql("CAST(MAX(type_n) AS DOUBLE) / COUNT(*)", 6)} AS top_type_frac
        FROM g GROUP BY user_id
    )
    SELECT user_id, n_events, span_days, rate_per_day, avg_gap_s,
           top_type_frac,
           CAST(CASE WHEN rate_per_day > 2.75 OR top_type_frac > 0.33
                THEN 1 ELSE 0 END AS INT) AS bot_suspect
    FROM feats
    """,
    description="Bot/abuse heuristic per user: event rate, inter-event "
    "cadence (lag gaps), and single-type dominance, flagged against fixed "
    "thresholds — the pre-filter a training pipeline applies before user "
    "data enters a corpus. One window + one agg, both partitioned by "
    "user_id: a single shuffle at 100 TB.",
)
def events_bot_detection_heuristic(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    wt = Window.partitionBy("user_id", "event_type")
    wl = Window.partitionBy("user_id").orderBy("ts", "event_id")
    g = ev.select(
        "user_id",
        "ts",
        F.count("*").over(wt).alias("type_n"),
        (
            F.col("ts").cast("double")
            - F.lag("ts").over(wl).cast("double")
        ).alias("gap_s"),
    )
    span_days = (
        F.max("ts").cast("double") - F.min("ts").cast("double")
    ) / 86400.0
    feats = g.groupBy("user_id").agg(
        F.count("*").cast("bigint").alias("n_events"),
        dround(span_days, 6).alias("span_days"),
        dround(
            F.count("*").cast("double") / F.greatest(span_days, F.lit(1.0)), 6
        ).alias("rate_per_day"),
        dround(F.avg("gap_s"), 6).alias("avg_gap_s"),
        dround(F.max("type_n").cast("double") / F.count("*"), 6).alias(
            "top_type_frac"
        ),
    )
    return feats.select(
        "*",
        F.when(
            (F.col("rate_per_day") > 2.75) | (F.col("top_type_frac") > 0.33), 1
        )
        .otherwise(0)
        .cast("int")
        .alias("bot_suspect"),
    )


# ------------------------------------------- CUPED variance reduction
@register(
    "events_ab_experiment_cuped",
    oracle=f"""
    WITH per_user AS (
        SELECT user_id,
               CAST(user_id % 2 AS INT) AS variant,
               COALESCE(SUM(CASE WHEN ts < TIMESTAMP '2024-01-15'
                        THEN value END), 0.0) AS x_pre,
               COALESCE(SUM(CASE WHEN ts >= TIMESTAMP '2024-01-15'
                        THEN value END), 0.0) AS y_post
        FROM events GROUP BY user_id
    ),
    theta AS (
        SELECT covar_samp(x_pre, y_post) / var_samp(x_pre) AS th,
               AVG(x_pre) AS x_bar
        FROM per_user
    ),
    adj AS (
        SELECT variant, y_post,
               y_post - th * (x_pre - x_bar) AS y_cuped
        FROM per_user, theta
    )
    SELECT variant,
           CAST(COUNT(*) AS BIGINT) AS n_users,
           {dround_sql("AVG(y_post)", 4)} AS mean_y,
           {dround_sql("AVG(y_cuped)", 4)} AS mean_y_cuped,
           {dround_sql("var_samp(y_post)", 2)} AS var_y,
           {dround_sql("var_samp(y_cuped)", 2)} AS var_y_cuped
    FROM adj GROUP BY variant
    """,
    description="CUPED variance reduction for an A/B readout: per-user "
    "pre-period covariate X and post-period metric Y (fixed calendar "
    "split), pooled theta = cov(X,Y)/var(X), adjusted metric "
    "Y - theta(X - mean X). Two aggs (user grain, then variant grain) "
    "plus a 1-row broadcast for theta — the experimentation primitive "
    "that typically cuts required sample size 30-50%.",
)
def events_ab_experiment_cuped(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    cut = F.lit("2024-01-15").cast("timestamp")
    per_user = ev.groupBy("user_id").agg(
        (F.col("user_id") % 2).cast("int").alias("variant"),
        F.coalesce(
            F.sum(F.when(F.col("ts") < cut, F.col("value"))), F.lit(0.0)
        ).alias("x_pre"),
        F.coalesce(
            F.sum(F.when(F.col("ts") >= cut, F.col("value"))), F.lit(0.0)
        ).alias("y_post"),
    )
    theta = per_user.agg(
        (F.covar_samp("x_pre", "y_post") / F.var_samp("x_pre")).alias("th"),
        F.avg("x_pre").alias("x_bar"),
    )
    adj = per_user.crossJoin(F.broadcast(theta)).select(
        "variant",
        "y_post",
        (
            F.col("y_post")
            - F.col("th") * (F.col("x_pre") - F.col("x_bar"))
        ).alias("y_cuped"),
    )
    return adj.groupBy("variant").agg(
        F.count("*").cast("bigint").alias("n_users"),
        dround(F.avg("y_post"), 4).alias("mean_y"),
        dround(F.avg("y_cuped"), 4).alias("mean_y_cuped"),
        dround(F.var_samp("y_post"), 2).alias("var_y"),
        dround(F.var_samp("y_cuped"), 2).alias("var_y_cuped"),
    )


# ------------------------------------------- difference-in-differences
@register(
    "events_did_difference_in_differences",
    oracle=f"""
    WITH cells AS (
        SELECT CAST(user_id % 2 AS INT) AS variant,
               CAST(CASE WHEN ts >= TIMESTAMP '2024-01-15'
                    THEN 1 ELSE 0 END AS INT) AS post,
               AVG(value) AS mean_v,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM events GROUP BY 1, 2
    ),
    wide AS (
        SELECT
            MAX(CASE WHEN variant = 1 AND post = 1 THEN mean_v END) AS t_post,
            MAX(CASE WHEN variant = 1 AND post = 0 THEN mean_v END) AS t_pre,
            MAX(CASE WHEN variant = 0 AND post = 1 THEN mean_v END) AS c_post,
            MAX(CASE WHEN variant = 0 AND post = 0 THEN mean_v END) AS c_pre,
            CAST(SUM(n) AS BIGINT) AS n_events
        FROM cells
    )
    SELECT n_events,
           {dround_sql("t_post - t_pre", 6)} AS treated_delta,
           {dround_sql("c_post - c_pre", 6)} AS control_delta,
           {dround_sql("(t_post - t_pre) - (c_post - c_pre)", 6)} AS did_estimate
    FROM wide
    """,
    description="Difference-in-differences: 2x2 (variant x pre/post) cell "
    "means in ONE conditional-aggregate pass, estimator = treated delta "
    "minus control delta — the causal readout when assignment isn't "
    "randomized but trends are parallel. Output is a single row from a "
    "4-cell aggregate; any scale collapses in the first shuffle.",
)
def events_did_difference_in_differences(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    cut = F.lit("2024-01-15").cast("timestamp")
    cells = ev.groupBy(
        (F.col("user_id") % 2).cast("int").alias("variant"),
        (F.col("ts") >= cut).cast("int").alias("post"),
    ).agg(F.avg("value").alias("mean_v"), F.count("*").alias("n"))
    pick = lambda v, p: F.max(  # noqa: E731
        F.when((F.col("variant") == v) & (F.col("post") == p), F.col("mean_v"))
    )
    wide = cells.agg(
        pick(1, 1).alias("t_post"),
        pick(1, 0).alias("t_pre"),
        pick(0, 1).alias("c_post"),
        pick(0, 0).alias("c_pre"),
        F.sum("n").cast("bigint").alias("n_events"),
    )
    return wide.select(
        "n_events",
        dround(F.col("t_post") - F.col("t_pre"), 6).alias("treated_delta"),
        dround(F.col("c_post") - F.col("c_pre"), 6).alias("control_delta"),
        dround(
            (F.col("t_post") - F.col("t_pre"))
            - (F.col("c_post") - F.col("c_pre")),
            6,
        ).alias("did_estimate"),
    )


# ------------------------------- Markov removal-effect attribution
_ATTR_CHANNELS = ["view", "click", "signup", "error"]
_ATTR_STEPS = 10


def _attr_mat_sql() -> str:
    """Journey transition matrix: start -> ... -> purchase|end, truncated
    at each user's first purchase (purchase is absorbing)."""
    return """
    ordered AS MATERIALIZED (
        SELECT user_id, event_type,
               ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   AS rn,
               COALESCE(SUM(CASE WHEN event_type = 'purchase' THEN 1
                                 ELSE 0 END) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) AS purchases_before
        FROM events
    ),
    kept AS MATERIALIZED (
        SELECT user_id, event_type, rn FROM ordered
        WHERE purchases_before = 0
    ),
    pairs AS MATERIALIZED (
        SELECT f, t FROM (
            SELECT user_id,
                   COALESCE(LAG(event_type) OVER (
                       PARTITION BY user_id ORDER BY rn), 'start') AS f,
                   event_type AS t
            FROM kept
        )
        UNION ALL
        SELECT event_type AS f, 'end' AS t FROM (
            SELECT user_id, event_type,
                   ROW_NUMBER() OVER (
                       PARTITION BY user_id ORDER BY rn DESC) AS rvn
            FROM kept
        ) WHERE rvn = 1 AND event_type <> 'purchase'
    ),
    mat AS MATERIALIZED (
        SELECT f, t,
               CAST(COUNT(*) AS DOUBLE)
                   / SUM(COUNT(*)) OVER (PARTITION BY f) AS p
        FROM pairs GROUP BY f, t
    )"""


def _attr_scenario_sql(tag: str, removed: str | None) -> str:
    """10-step conversion-mass chain for one removal scenario."""
    cond = (
        f"WHERE f <> '{removed}' AND t <> '{removed}'" if removed else ""
    )
    parts = [
        f"""mat_{tag} AS MATERIALIZED (
        SELECT f, t, p FROM mat {cond}
    ),
    v_{tag}_0 AS MATERIALIZED (SELECT 'start' AS state, 1.0 AS mass)"""
    ]
    for i in range(1, _ATTR_STEPS + 1):
        parts.append(f"""c_{tag}_{i} AS MATERIALIZED (
        SELECT COALESCE(SUM(v.mass * m.p), 0.0) AS cm
        FROM v_{tag}_{i - 1} v JOIN mat_{tag} m ON v.state = m.f
        WHERE m.t = 'purchase'
    ),
    v_{tag}_{i} AS MATERIALIZED (
        SELECT m.t AS state, SUM(v.mass * m.p) AS mass
        FROM v_{tag}_{i - 1} v JOIN mat_{tag} m ON v.state = m.f
        WHERE m.t NOT IN ('purchase', 'end') GROUP BY m.t
    )""")
    parts.append(f"""conv_{tag} AS MATERIALIZED (
        SELECT SUM(cm) AS conv FROM (
            {" UNION ALL ".join(f"SELECT cm FROM c_{tag}_{i}" for i in range(1, _ATTR_STEPS + 1))}
        )
    )""")
    return ",\n    ".join(parts)


def _attr_oracle() -> str:
    scen = [_attr_scenario_sql("base", None)] + [
        _attr_scenario_sql(c, c) for c in _ATTR_CHANNELS
    ]
    effects = ", ".join(
        f"greatest(1.0 - (SELECT conv FROM conv_{c}) / (SELECT conv FROM conv_base), 0.0) AS eff_{c}"
        for c in _ATTR_CHANNELS
    )
    rows = "\n    UNION ALL\n".join(
        f"""    SELECT '{c}' AS channel,
           CAST(ROUND(CAST((SELECT conv FROM conv_base) AS DECIMAL(38,8)), 6) AS DOUBLE) AS conv_base,
           CAST(ROUND(CAST((SELECT conv FROM conv_{c}) AS DECIMAL(38,8)), 6) AS DOUBLE) AS conv_removed,
           CAST(ROUND(CAST(eff_{c} AS DECIMAL(38,8)), 6) AS DOUBLE) AS removal_effect,
           CAST(ROUND(CAST(eff_{c} / NULLIF(eff_view + eff_click + eff_signup + eff_error, 0) AS DECIMAL(38,8)), 6) AS DOUBLE) AS attribution
    FROM eff"""
        for c in _ATTR_CHANNELS
    )
    return (
        "WITH "
        + _attr_mat_sql().strip()
        + ",\n    "
        + ",\n    ".join(scen)
        + f",\n    eff AS MATERIALIZED (SELECT {effects})\n"
        + rows
    )


@register(
    "events_markov_removal_attribution",
    oracle=_attr_oracle(),
    description="Markov removal-effect channel attribution: user journeys "
    "truncated at first purchase form a start->...->purchase|end chain; "
    "baseline 10-step conversion mass vs the same chain with each channel "
    "removed (its transitions deleted, mass lost — the standard removal "
    "effect), normalized into attribution shares. Transition counting is "
    "the distributed part (two windows + one groupBy keyed on user_id); "
    "the chain arithmetic runs on the |states|^2 matrix driver-side, "
    "mirroring the oracle's MATERIALIZED CTE chains step for step.",
)
def events_markov_removal_attribution(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    wo = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wprev = wo.rowsBetween(Window.unboundedPreceding, -1)
    ordered = ev.select(
        "user_id",
        "event_type",
        F.row_number().over(wo).alias("rn"),
        F.coalesce(
            F.sum((F.col("event_type") == "purchase").cast("int")).over(
                wprev
            ),
            F.lit(0),
        ).alias("purchases_before"),
    )
    kept = ordered.filter(F.col("purchases_before") == 0)
    wk = Window.partitionBy("user_id").orderBy("rn")
    inner = kept.select(
        F.coalesce(F.lag("event_type").over(wk), F.lit("start")).alias("f"),
        F.col("event_type").alias("t"),
    )
    wlast = Window.partitionBy("user_id").orderBy(F.desc("rn"))
    ends = (
        kept.withColumn("rvn", F.row_number().over(wlast))
        .filter((F.col("rvn") == 1) & (F.col("event_type") != "purchase"))
        .select(F.col("event_type").alias("f"), F.lit("end").alias("t"))
    )
    counts = inner.unionAll(ends).groupBy("f", "t").count().collect()

    # |states|^2 matrix: driver-side chain arithmetic, like IVF centroids
    from collections import defaultdict

    row_tot: dict = defaultdict(int)
    for r in counts:
        row_tot[r.f] += r["count"]
    P: dict = defaultdict(dict)
    for r in counts:
        P[r.f][r.t] = r["count"] / row_tot[r.f]

    def conv(removed: str | None) -> float:
        v = {"start": 1.0}
        total = 0.0
        for _ in range(_ATTR_STEPS):
            nv: dict = defaultdict(float)
            for f, mass in v.items():
                if removed is not None and f == removed:
                    continue
                for t, p in P.get(f, {}).items():
                    if removed is not None and t == removed:
                        continue
                    if t == "purchase":
                        total += mass * p
                    elif t != "end":
                        nv[t] += mass * p
            v = dict(nv)
        return total

    base = conv(None)
    effs = {
        c: max(1.0 - conv(c) / base, 0.0) if base else 0.0
        for c in _ATTR_CHANNELS
    }
    tot_eff = sum(effs.values())
    rows = [
        (
            c,
            float(base),
            float(conv(c)),
            float(effs[c]),
            float(effs[c] / tot_eff) if tot_eff else None,
        )
        for c in _ATTR_CHANNELS
    ]
    out = spark.createDataFrame(
        rows,
        "channel string, conv_base double, conv_removed double, "
        "removal_effect double, attribution double",
    )
    return out.select(
        "channel",
        dround("conv_base", 6).alias("conv_base"),
        dround("conv_removed", 6).alias("conv_removed"),
        dround("removal_effect", 6).alias("removal_effect"),
        dround("attribution", 6).alias("attribution"),
    )


# ------------------------------- conversion-window sensitivity
@register(
    "events_conversion_window_sensitivity",
    oracle=f"""
    WITH views AS (
        SELECT user_id, event_id, ts FROM events WHERE event_type = 'view'
    ),
    buys AS (
        SELECT user_id, ts FROM events WHERE event_type = 'purchase'
    ),
    lagged AS (
        SELECT v.event_id,
               MIN(epoch(b.ts) - epoch(v.ts)) AS lag_s
        FROM views v JOIN buys b
          ON b.user_id = v.user_id
         AND b.ts > v.ts
         AND b.ts <= v.ts + INTERVAL 7 DAY
        GROUP BY v.event_id
    ),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_views FROM views),
    wins AS (
        SELECT * FROM (VALUES ('01_1h', 3600.0), ('02_6h', 21600.0),
                              ('03_1d', 86400.0), ('04_7d', 604800.0))
            AS w(window_label, w_s)
    )
    SELECT window_label, n_views,
           CAST(COALESCE((SELECT COUNT(*) FROM lagged
                          WHERE lag_s <= w_s), 0) AS BIGINT) AS n_converted,
           {dround_sql("CAST(COALESCE((SELECT COUNT(*) FROM lagged WHERE lag_s <= w_s), 0) AS DOUBLE) / n_views", 6)} AS conversion_rate
    FROM wins, tot
    """,
    description="Attribution-window sensitivity: view->purchase "
    "conversion rate at 1h/6h/1d/7d windows from ONE user-keyed interval "
    "join bounded by the widest window (min lag per view), then four "
    "conditional counts over the per-view lag table — never one join "
    "per window. The evidence for choosing a conversion window before "
    "locking in funnel metrics.",
)
def events_conversion_window_sensitivity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id", "event_id", F.col("ts").cast("double").alias("vt")
    )
    buys = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("bu"), F.col("ts").cast("double").alias("bt")
    )
    lagged = (
        views.join(
            buys,
            (F.col("bu") == F.col("user_id"))
            & (F.col("bt") > F.col("vt"))
            & (F.col("bt") <= F.col("vt") + 604800.0),
        )
        .groupBy("event_id")
        .agg(F.min(F.col("bt") - F.col("vt")).alias("lag_s"))
    )
    n_views = views.count()
    wins = spark.createDataFrame(
        [("01_1h", 3600.0), ("02_6h", 21600.0),
         ("03_1d", 86400.0), ("04_7d", 604800.0)],
        "window_label string, w_s double",
    )
    conv = lagged.crossJoin(F.broadcast(wins)).groupBy("window_label").agg(
        F.sum((F.col("lag_s") <= F.col("w_s")).cast("int"))
        .cast("bigint")
        .alias("n_converted")
    )
    return (
        wins.join(conv, "window_label", "left")
        .select(
            "window_label",
            F.lit(n_views).cast("bigint").alias("n_views"),
            F.coalesce("n_converted", F.lit(0)).cast("bigint").alias(
                "n_converted"
            ),
            dround(
                F.coalesce("n_converted", F.lit(0)).cast("double") / n_views,
                6,
            ).alias("conversion_rate"),
        )
    )


# ------------------------------------------- power analysis / MDE
@register(
    "events_power_analysis_mde",
    oracle=f"""
    WITH g AS (
        SELECT CAST(user_id % 2 AS INT) AS variant,
               AVG(value) AS mean_v, var_samp(value) AS var_v,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM events GROUP BY 1
    )
    SELECT variant, n,
           {dround_sql("mean_v", 4)} AS mean_v,
           {dround_sql("(1.959964 + 0.841621) * sqrt(2.0 * var_v / n)", 4)} AS mde_abs,
           {dround_sql("(1.959964 + 0.841621) * sqrt(2.0 * var_v / n) / mean_v", 6)} AS mde_rel
    FROM g
    """,
    description="A/B power analysis: minimum detectable effect at "
    "alpha=0.05 / power=0.8 ((z_a/2 + z_b) * sqrt(2 sigma^2 / n)) per "
    "variant from one conditional-moments pass — the pre-experiment "
    "sizing readout that pairs with the CUPED and DiD queries.",
)
def events_power_analysis_mde(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    g = ev.groupBy(
        (F.col("user_id") % 2).cast("int").alias("variant")
    ).agg(
        F.avg("value").alias("mean_v"),
        F.var_samp("value").alias("var_v"),
        F.count("*").cast("bigint").alias("n"),
    )
    mde = (1.959964 + 0.841621) * F.sqrt(2.0 * F.col("var_v") / F.col("n"))
    return g.select(
        "variant",
        "n",
        dround("mean_v", 4).alias("mean_v"),
        dround(mde, 4).alias("mde_abs"),
        dround(mde / F.col("mean_v"), 6).alias("mde_rel"),
    )


# ------------------------------------------- uplift by decile (Qini-style)
@register(
    "events_uplift_qini_deciles",
    oracle=f"""
    WITH per_user AS (
        SELECT user_id,
               CAST(user_id % 2 AS INT) AS variant,
               COALESCE(SUM(CASE WHEN ts < TIMESTAMP '2024-01-15'
                        THEN value END), 0.0) AS x_pre,
               CAST(MAX(CASE WHEN ts >= TIMESTAMP '2024-01-15'
                        AND event_type = 'purchase'
                    THEN 1 ELSE 0 END) AS INT) AS converted
        FROM events GROUP BY user_id
    ),
    tiled AS (
        SELECT variant, converted,
               NTILE(5) OVER (ORDER BY x_pre DESC, user_id) AS score_bucket
        FROM per_user
    )
    SELECT score_bucket,
           CAST(SUM(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_treat,
           CAST(SUM(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_ctrl,
           {dround_sql("CAST(SUM(CASE WHEN variant = 1 THEN converted ELSE 0 END) AS DOUBLE) / NULLIF(SUM(CASE WHEN variant = 1 THEN 1 ELSE 0 END), 0)", 6)} AS rate_treat,
           {dround_sql("CAST(SUM(CASE WHEN variant = 0 THEN converted ELSE 0 END) AS DOUBLE) / NULLIF(SUM(CASE WHEN variant = 0 THEN 1 ELSE 0 END), 0)", 6)} AS rate_ctrl,
           {dround_sql("CAST(SUM(CASE WHEN variant = 1 THEN converted ELSE 0 END) AS DOUBLE) / NULLIF(SUM(CASE WHEN variant = 1 THEN 1 ELSE 0 END), 0) - CAST(SUM(CASE WHEN variant = 0 THEN converted ELSE 0 END) AS DOUBLE) / NULLIF(SUM(CASE WHEN variant = 0 THEN 1 ELSE 0 END), 0)", 6)} AS uplift
    FROM tiled GROUP BY score_bucket
    """,
    description="Uplift-by-quintile (Qini-style) readout: users scored by "
    "pre-period activity, NTILE(5) over a total order, per-bucket "
    "treatment-vs-control conversion uplift — the targeting evaluation "
    "that decides WHO should get the treatment, complementing the "
    "average-effect CUPED/DiD queries. User-grain aggregate then a "
    "user-grain window (partition-offset scheme at 1e8+ users).",
)
def events_uplift_qini_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    cut = F.lit("2024-01-15").cast("timestamp")
    per_user = ev.groupBy("user_id").agg(
        (F.col("user_id") % 2).cast("int").alias("variant"),
        F.coalesce(
            F.sum(F.when(F.col("ts") < cut, F.col("value"))), F.lit(0.0)
        ).alias("x_pre"),
        F.max(
            F.when(
                (F.col("ts") >= cut) & (F.col("event_type") == "purchase"), 1
            ).otherwise(0)
        ).cast("int").alias("converted"),
    )
    wt = Window.orderBy(F.desc("x_pre"), F.asc("user_id"))
    tiled = per_user.withColumn("score_bucket", F.ntile(5).over(wt))
    t = F.when(F.col("variant") == 1, F.col("converted")).otherwise(0)
    c = F.when(F.col("variant") == 0, F.col("converted")).otherwise(0)
    nt = F.sum((F.col("variant") == 1).cast("int")).cast("bigint")
    nc = F.sum((F.col("variant") == 0).cast("int")).cast("bigint")
    rt = F.sum(t).cast("double") / F.nullif(nt, F.lit(0))
    rc = F.sum(c).cast("double") / F.nullif(nc, F.lit(0))
    return tiled.groupBy("score_bucket").agg(
        nt.alias("n_treat"),
        nc.alias("n_ctrl"),
        dround(rt, 6).alias("rate_treat"),
        dround(rc, 6).alias("rate_ctrl"),
        dround(rt - rc, 6).alias("uplift"),
    )


@register(
    "events_segment_migration_matrix",
    oracle="""
    WITH bounds AS (
        SELECT MIN(CAST(ts AS DATE)) AS d0,
               CAST(MIN(CAST(ts AS DATE))
                    + CAST(FLOOR(date_diff('day', MIN(CAST(ts AS DATE)),
                                           MAX(CAST(ts AS DATE))) / 2)
                           AS INTEGER) AS DATE) AS mid
        FROM events
    ),
    halves AS (
        SELECT user_id,
               CASE WHEN CAST(ts AS DATE) <= b.mid THEN 'h1' ELSE 'h2' END
                   AS half
        FROM events, bounds b
    ),
    per AS (
        SELECT user_id, half, COUNT(*) AS n FROM halves GROUP BY user_id, half
    ),
    hm AS (
        SELECT half, CAST(SUM(n) AS DOUBLE) / COUNT(*) AS mean_n
        FROM per GROUP BY half
    ),
    seg AS (
        SELECT p.user_id, p.half,
               CASE WHEN p.n >= 1.15 * hm.mean_n THEN 'heavy'
                    WHEN p.n <= 0.85 * hm.mean_n THEN 'light'
                    ELSE 'mid' END AS segment
        FROM per p JOIN hm ON hm.half = p.half
    ),
    users AS (SELECT DISTINCT user_id FROM halves),
    mat AS (
        SELECT COALESCE(s1.segment, 'absent') AS seg_h1,
               COALESCE(s2.segment, 'absent') AS seg_h2
        FROM users u
        LEFT JOIN seg s1 ON s1.user_id = u.user_id AND s1.half = 'h1'
        LEFT JOIN seg s2 ON s2.user_id = u.user_id AND s2.half = 'h2'
    )
    SELECT seg_h1, seg_h2, CAST(COUNT(*) AS BIGINT) AS n_users
    FROM mat GROUP BY seg_h1, seg_h2
    ORDER BY seg_h1, seg_h2
    """,
    description="Engagement-segment migration matrix: split the event "
    "timeline at its date midpoint, bucket each user's per-half "
    "activity into engagement tiers relative to that half's mean "
    "(heavy >= 1.15x, light <= 0.85x, mid between, absent if no "
    "events), and count users per (before, after) segment pair — the "
    "churn/upgrade flow table a lifecycle team reads. Mean-relative "
    "thresholds are scale-invariant yet quantile-free, keeping the "
    "segmentation deterministic and shuffle-light: one user-grain "
    "groupBy plus a users-sized self-join, no global sort at any "
    "scale; the midpoint is a 1-row broadcast scalar.",
)
def events_segment_migration_matrix(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = table(spark, sf_dir, "events").select(
        "user_id", F.to_date("ts").alias("day")
    )
    bounds = ev.agg(
        F.min("day").alias("d0"), F.max("day").alias("d1")
    ).select(
        F.expr("date_add(d0, CAST(floor(datediff(d1, d0) / 2) AS INT))").alias(
            "mid"
        )
    )
    halves = ev.crossJoin(F.broadcast(bounds)).select(
        "user_id",
        F.when(F.col("day") <= F.col("mid"), F.lit("h1"))
        .otherwise(F.lit("h2"))
        .alias("half"),
    )
    per = halves.groupBy("user_id", "half").agg(
        F.count(F.lit(1)).alias("n")
    )
    hm = per.groupBy("half").agg(
        (F.sum("n").cast("double") / F.count(F.lit(1))).alias("mean_n")
    )
    seg = per.join(F.broadcast(hm), "half").select(
        "user_id",
        "half",
        F.when(F.col("n") >= 1.15 * F.col("mean_n"), F.lit("heavy"))
        .when(F.col("n") <= 0.85 * F.col("mean_n"), F.lit("light"))
        .otherwise(F.lit("mid"))
        .alias("segment"),
    )
    users = halves.select("user_id").distinct()
    s1 = seg.filter(F.col("half") == "h1").select(
        "user_id", F.col("segment").alias("seg1")
    )
    s2 = seg.filter(F.col("half") == "h2").select(
        "user_id", F.col("segment").alias("seg2")
    )
    return (
        users.join(s1, "user_id", "left")
        .join(s2, "user_id", "left")
        .select(
            F.coalesce("seg1", F.lit("absent")).alias("seg_h1"),
            F.coalesce("seg2", F.lit("absent")).alias("seg_h2"),
        )
        .groupBy("seg_h1", "seg_h2")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_users"))
        .orderBy("seg_h1", "seg_h2")
    )


# ---------------------------------- Cochran-Mantel-Haenszel stratified test
@register(
    "events_cmh_purchase_by_variant_daystrata",
    oracle=f"""
    WITH pc AS (
        SELECT CAST(ts AS DATE) AS day,
               CAST(user_id % 2 AS INT) AS variant,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS hit
        FROM events WHERE event_type IN ('purchase', 'click')
    ),
    strata AS (
        SELECT day,
               CAST(SUM(CASE WHEN variant = 0 THEN hit ELSE 0 END)
                    AS BIGINT) AS a,
               CAST(SUM(CASE WHEN variant = 0 THEN 1 - hit ELSE 0 END)
                    AS BIGINT) AS b,
               CAST(SUM(CASE WHEN variant = 1 THEN hit ELSE 0 END)
                    AS BIGINT) AS c,
               CAST(SUM(CASE WHEN variant = 1 THEN 1 - hit ELSE 0 END)
                    AS BIGINT) AS d
        FROM pc GROUP BY day
    ),
    kept AS (SELECT * FROM strata WHERE a + b + c + d > 1),
    terms AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_strata,
               SUM(CAST(a AS DOUBLE)) AS sa,
               SUM(CAST((a + b) AS DOUBLE) * (a + c) / (a + b + c + d)) AS se,
               SUM(CAST((a + b) AS DOUBLE) * (c + d) * (a + c) * (b + d)
                   / (CAST((a + b + c + d) AS DOUBLE)
                      * (a + b + c + d) * (a + b + c + d - 1))) AS sv,
               SUM(CAST(a AS DOUBLE) * d / (a + b + c + d)) AS smh_num,
               SUM(CAST(b AS DOUBLE) * c / (a + b + c + d)) AS smh_den
        FROM kept
    )
    SELECT n_strata,
           {dround_sql("(sa - se) * (sa - se) / sv", 4)} AS cmh_chi2,
           {dround_sql("smh_num / smh_den", 4)} AS mh_odds_ratio
    FROM terms
    """,
    description="Cochran-Mantel-Haenszel test of variant -> purchase "
    "association stratified by DAY (variant = deterministic user_id "
    "parity split): the Simpson's-paradox-proof A/B readout — pooling "
    "days can manufacture or mask an effect when traffic mix shifts, "
    "while CMH compares within each day and pools evidence; the "
    "Mantel-Haenszel common odds ratio is the effect size. Each "
    "stratum's 2x2 cells are one integer groupBy(day) pass; the "
    "statistic sums ~|days| rational terms — dim-grain work at any "
    "corpus size, fact-grain cost is the single scan.",
)
def events_cmh_purchase_by_variant_daystrata(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("purchase", "click")
    )
    pc = ev.select(
        F.col("ts").cast("date").alias("day"),
        (F.col("user_id") % 2).cast("int").alias("variant"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("hit"),
    )
    strata = pc.groupBy("day").agg(
        F.sum(F.when(F.col("variant") == 0, F.col("hit")).otherwise(0))
        .cast("bigint")
        .alias("a"),
        F.sum(F.when(F.col("variant") == 0, 1 - F.col("hit")).otherwise(0))
        .cast("bigint")
        .alias("b"),
        F.sum(F.when(F.col("variant") == 1, F.col("hit")).otherwise(0))
        .cast("bigint")
        .alias("c"),
        F.sum(F.when(F.col("variant") == 1, 1 - F.col("hit")).otherwise(0))
        .cast("bigint")
        .alias("d"),
    )
    n = F.col("a") + F.col("b") + F.col("c") + F.col("d")
    kept = strata.filter(n > 1)
    nd = n.cast("double")
    terms = kept.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_strata"),
        F.sum(F.col("a").cast("double")).alias("sa"),
        F.sum(
            (F.col("a") + F.col("b")).cast("double") * (F.col("a") + F.col("c")) / n
        ).alias("se"),
        F.sum(
            (F.col("a") + F.col("b")).cast("double")
            * (F.col("c") + F.col("d"))
            * (F.col("a") + F.col("c"))
            * (F.col("b") + F.col("d"))
            / (nd * n * (n - 1))
        ).alias("sv"),
        F.sum(F.col("a").cast("double") * F.col("d") / n).alias("smh_num"),
        F.sum(F.col("b").cast("double") * F.col("c") / n).alias("smh_den"),
    )
    return terms.select(
        "n_strata",
        dround(
            (F.col("sa") - F.col("se")) * (F.col("sa") - F.col("se")) / F.col("sv"),
            4,
        ).alias("cmh_chi2"),
        dround(F.col("smh_num") / F.col("smh_den"), 4).alias("mh_odds_ratio"),
    )


# --------------------------------- Markov conditional entropy rate
@register(
    "events_markov_entropy_rate",
    oracle=f"""
    WITH seq AS (
        SELECT event_type,
               LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts)
                   AS prev_type
        FROM events
    ),
    pairs AS (
        SELECT prev_type, event_type AS next_type,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM seq WHERE prev_type IS NOT NULL GROUP BY 1, 2
    ),
    rowtot AS (
        SELECT prev_type, CAST(SUM(c) AS BIGINT) AS cr
        FROM pairs GROUP BY prev_type
    ),
    tot AS (SELECT CAST(SUM(c) AS BIGINT) AS ct FROM pairs),
    terms AS (
        SELECT SUM(-(CAST(p.c AS DOUBLE) / t.ct)
                   * log2(CAST(p.c AS DOUBLE) / r.cr)) AS h_cond,
               SUM(CASE WHEN p.prev_type = p.next_type
                        THEN CAST(p.c AS DOUBLE) / t.ct ELSE 0 END)
                   AS self_loop_mass
        FROM pairs p
        JOIN rowtot r ON r.prev_type = p.prev_type
        CROSS JOIN tot t
    ),
    marg AS (
        SELECT SUM(-(CAST(cr AS DOUBLE) / t.ct)
                   * log2(CAST(cr AS DOUBLE) / t.ct)) AS h_marg
        FROM rowtot CROSS JOIN tot t
    )
    SELECT {dround_sql("h_cond", 6)} AS entropy_rate_bits,
           {dround_sql("h_marg", 6)} AS marginal_entropy_bits,
           {dround_sql("1.0 - h_cond / h_marg", 6)} AS predictability_gain,
           {dround_sql("self_loop_mass", 6)} AS self_loop_mass
    FROM terms CROSS JOIN marg
    """,
    description="Entropy rate of the per-user event process: the "
    "conditional entropy H(next | prev) of the empirical first-order "
    "chain next to the marginal H(next), in bits. Their gap is the "
    "predictability the Markov structure buys — the model-selection "
    "scalar sitting on top of events_type_transition_matrix (which "
    "reports the matrix but no summary), and the quantity sequence-"
    "model papers quote as the corpus's intrinsic next-event "
    "difficulty. All mass terms are exact BIGINT transition counts "
    "over one LAG scan; the two entropies are single-pass sums over "
    "the |types|^2 cell table.",
)
def events_markov_entropy_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts")
    pairs = (
        ev.withColumn("prev_type", F.lag("event_type").over(w))
        .filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    rowtot = pairs.groupBy("prev_type").agg(
        F.sum("c").cast("bigint").alias("cr")
    )
    tot = pairs.agg(F.sum("c").cast("bigint").alias("ct"))
    terms = (
        pairs.join(F.broadcast(rowtot), "prev_type")
        .crossJoin(F.broadcast(tot))
        .agg(
            F.sum(
                -(F.col("c").cast("double") / F.col("ct"))
                * F.log2(F.col("c").cast("double") / F.col("cr"))
            ).alias("h_cond"),
            F.sum(
                F.when(
                    F.col("prev_type") == F.col("next_type"),
                    F.col("c").cast("double") / F.col("ct"),
                ).otherwise(0.0)
            ).alias("self_loop_mass"),
        )
    )
    marg = (
        rowtot.crossJoin(F.broadcast(tot))
        .agg(
            F.sum(
                -(F.col("cr").cast("double") / F.col("ct"))
                * F.log2(F.col("cr").cast("double") / F.col("ct"))
            ).alias("h_marg")
        )
    )
    return terms.crossJoin(F.broadcast(marg)).select(
        dround(F.col("h_cond"), 6).alias("entropy_rate_bits"),
        dround(F.col("h_marg"), 6).alias("marginal_entropy_bits"),
        dround(1.0 - F.col("h_cond") / F.col("h_marg"), 6).alias(
            "predictability_gain"
        ),
        dround(F.col("self_loop_mass"), 6).alias("self_loop_mass"),
    )


# --------------------------------- longest daily-activity streaks
@register(
    "events_longest_daily_streaks",
    oracle=f"""
    WITH ud AS (
        SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
    ),
    marked AS (
        SELECT user_id, day,
               CASE WHEN LAG(day) OVER (PARTITION BY user_id ORDER BY day)
                         = day - INTERVAL 1 DAY
                    THEN 0 ELSE 1 END AS is_start
        FROM ud
    ),
    islands AS (
        SELECT user_id, day,
               SUM(is_start) OVER (PARTITION BY user_id ORDER BY day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS streak_id
        FROM marked
    ),
    streaks AS (
        SELECT user_id, streak_id, CAST(COUNT(*) AS BIGINT) AS len
        FROM islands GROUP BY user_id, streak_id
    ),
    best AS (
        SELECT user_id, CAST(MAX(len) AS BIGINT) AS best_streak
        FROM streaks GROUP BY user_id
    ),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_users FROM best)
    SELECT b.best_streak,
           CAST(COUNT(*) AS BIGINT) AS n_users,
           {dround_sql(
               "CAST(COUNT(*) AS DOUBLE) / MAX(t.n_users)", 6)} AS user_share
    FROM best b CROSS JOIN tot t
    GROUP BY b.best_streak
    """,
    description="Longest consecutive-daily-activity streak per user, "
    "rolled up to the streak-length distribution — the engagement/"
    "habit metric (retention cohorts measure IF users return; streaks "
    "measure the rhythm). Gap-island decomposition: distinct (user, "
    "day), a lag-is-yesterday start flag, a per-user prefix sum "
    "labelling islands — every window PARTITIONED by user, never a "
    "global sort; the rollup is |distinct streak lengths| rows "
    "(bounded by the observation span, not the user count). The "
    "bitmap twin events_user_activity_bitmap answers set queries; "
    "this answers duration queries.",
)
def events_longest_daily_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    ud = ev.select("user_id", F.col("ts").cast("date").alias("day")).distinct()
    wu = Window.partitionBy("user_id").orderBy("day")
    marked = ud.withColumn(
        "is_start",
        F.when(
            F.lag("day").over(wu) == F.date_add(F.col("day"), -1), 0
        ).otherwise(1),
    )
    islands = marked.withColumn(
        "streak_id",
        F.sum("is_start").over(wu.rowsBetween(Window.unboundedPreceding, 0)),
    )
    streaks = islands.groupBy("user_id", "streak_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("len")
    )
    best = streaks.groupBy("user_id").agg(
        F.max("len").cast("bigint").alias("best_streak")
    )
    tot = best.agg(F.count(F.lit(1)).cast("bigint").alias("n_users"))
    return (
        best.groupBy("best_streak")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_users"))
        .crossJoin(F.broadcast(tot).withColumnRenamed("n_users", "nt"))
        .select(
            "best_streak",
            "n_users",
            dround(F.col("n_users").cast("double") / F.col("nt"), 6).alias(
                "user_share"
            ),
        )
    )


# --------------------------------- daily-volume periodogram
@register(
    "events_periodogram_daily",
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
        SELECT CAST(datediff('day', b.lo, c.day) AS BIGINT) AS t,
               CAST(COALESCE(r.n, 0) AS DOUBLE)
               - (SELECT AVG(CAST(COALESCE(r2.n, 0) AS DOUBLE))
                  FROM calendar c2 LEFT JOIN raw r2 ON r2.day = c2.day)
                   AS y
        FROM calendar c LEFT JOIN raw r ON r.day = c.day CROSS JOIN bounds b
    ),
    ndays AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM daily),
    spec AS (
        SELECT p.p,
               SUM(d.y * cos(2 * pi() * d.t / p.p)) AS c,
               SUM(d.y * sin(2 * pi() * d.t / p.p)) AS s
        FROM daily d
        CROSS JOIN (SELECT UNNEST(range(2, 15)) AS p) p
        GROUP BY p.p
    )
    SELECT CAST(spec.p AS BIGINT) AS period_days,
           {dround_sql("2.0 * (c * c + s * s) / n.n", 4)} AS power
    FROM spec CROSS JOIN ndays n
    """,
    description="Periodogram of daily event volume at candidate periods "
    "2-14 days: explicit cos/sin projections of the mean-centered "
    "gap-filled series — the frequency-domain twin of "
    "events_periodicity_autocorr (ACF says correlation at lag 7; the "
    "periodogram says how much VARIANCE the weekly cycle owns, the "
    "number a seasonal forecast term must justify). The fact table "
    "collapses to the day-grain spine before any trig; 13 candidate "
    "periods ride one explode over that spine, one grouped sum each — "
    "no FFT library, no driver math, scan-bound at any corpus size.",
)
def events_periodogram_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    import math

    ev = table(spark, sf_dir, "events")
    raw = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    bounds = ev.agg(
        F.to_date(F.min("ts")).alias("lo"), F.to_date(F.max("ts")).alias("hi")
    )
    calendar = bounds.select(
        F.explode(F.sequence("lo", "hi", F.expr("INTERVAL 1 DAY"))).alias("day"),
        "lo",
    )
    filled = calendar.join(F.broadcast(raw), "day", "left").select(
        F.datediff("day", "lo").cast("bigint").alias("t"),
        F.coalesce("n", F.lit(0)).cast("double").alias("yraw"),
    ).persist()
    mean = filled.agg(F.avg("yraw").alias("m"))
    nd = filled.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    daily = filled.crossJoin(F.broadcast(mean)).select(
        "t", (F.col("yraw") - F.col("m")).alias("y")
    )
    periods = spark.range(2, 15).select(F.col("id").cast("int").alias("p"))
    spec = (
        daily.crossJoin(F.broadcast(periods))
        .groupBy("p")
        .agg(
            F.sum(
                F.col("y") * F.cos(2 * math.pi * F.col("t") / F.col("p"))
            ).alias("c"),
            F.sum(
                F.col("y") * F.sin(2 * math.pi * F.col("t") / F.col("p"))
            ).alias("s"),
        )
    )
    return spec.crossJoin(F.broadcast(nd)).select(
        F.col("p").cast("bigint").alias("period_days"),
        dround(
            2.0 * (F.col("c") * F.col("c") + F.col("s") * F.col("s")) / F.col("n"),
            4,
        ).alias("power"),
    )


# --------------------------------- XYZ demand-variability classes
@register(
    "orders_xyz_classification",
    oracle=f"""
    WITH pm AS (
        SELECT l.l_partkey AS part,
               strftime(o.o_orderdate, '%Y-%m') AS mon,
               SUM(l.l_quantity) AS q
        FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
        GROUP BY 1, 2
    ),
    mspan AS (
        SELECT CAST(COUNT(DISTINCT strftime(o_orderdate, '%Y-%m')) AS BIGINT)
               AS m
        FROM orders
    ),
    per_part AS (
        SELECT part,
               SUM(q) AS sq,
               SUM(q * q) AS sqq
        FROM pm GROUP BY part
    ),
    cv AS (
        SELECT p.part,
               sqrt((p.sqq - p.sq * p.sq / s.m) / (s.m - 1))
                   / (p.sq / s.m) AS cv
        FROM per_part p CROSS JOIN mspan s
    ),
    classed AS (
        SELECT CASE WHEN cv <= 0.5 THEN 'X'
                    WHEN cv <= 1.0 THEN 'Y' ELSE 'Z' END AS xyz, cv
        FROM cv
    ),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM classed)
    SELECT c.xyz,
           CAST(COUNT(*) AS BIGINT) AS n_parts,
           {dround_sql("CAST(COUNT(*) AS DOUBLE) / MAX(t.n)", 6)}
               AS part_share,
           {dround_sql("AVG(c.cv)", 4)} AS avg_cv
    FROM classed c CROSS JOIN tot t
    GROUP BY c.xyz
    """,
    description="XYZ demand-variability classification per part "
    "(coefficient of variation of MONTHLY demand: X steady <= 0.5, Y "
    "seasonal <= 1.0, Z erratic) — the variability axis that pairs "
    "with orders_abc_classification's value axis into the standard "
    "ABC-XYZ inventory policy grid. The zero-demand months every naive "
    "implementation forgets are handled ALGEBRAICALLY: per-part sum "
    "and sum-of-squares over observed months plus the global month "
    "count M give the zero-filled variance as (sqq - sq^2/M)/(M-1) — "
    "no part x month grid is ever materialized, so the plan is one "
    "(part, month) groupBy + one part-grain reduce at any scale.",
)
def orders_xyz_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    orders = table(spark, sf_dir, "orders")
    pm = (
        li.join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy(
            F.col("l_partkey").alias("part"),
            F.date_format("o_orderdate", "yyyy-MM").alias("mon"),
        )
        .agg(F.sum("l_quantity").alias("q"))
    )
    mspan = orders.agg(
        F.countDistinct(F.date_format("o_orderdate", "yyyy-MM"))
        .cast("bigint")
        .alias("m")
    )
    per_part = pm.groupBy("part").agg(
        F.sum("q").alias("sq"), F.sum(F.col("q") * F.col("q")).alias("sqq")
    )
    cv_col = F.sqrt(
        (F.col("sqq") - F.col("sq") * F.col("sq") / F.col("m"))
        / (F.col("m") - 1)
    ) / (F.col("sq") / F.col("m"))
    classed = (
        per_part.crossJoin(F.broadcast(mspan))
        .select(
            F.when(cv_col <= 0.5, "X")
            .when(cv_col <= 1.0, "Y")
            .otherwise("Z")
            .alias("xyz"),
            cv_col.alias("cv"),
        )
    )
    tot = classed.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    return (
        classed.groupBy("xyz")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_parts"),
            F.avg("cv").alias("avg_cv_raw"),
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "xyz",
            "n_parts",
            dround(F.col("n_parts").cast("double") / F.col("n"), 6).alias(
                "part_share"
            ),
            dround(F.col("avg_cv_raw"), 4).alias("avg_cv"),
        )
    )


# --------------------------------- purchase/click lead-lag CCF
@register(
    "events_cross_correlation_purchase_click",
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
        SELECT CAST(ts AS DATE) AS day,
               CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                    AS BIGINT) AS xc,
               CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                    AS BIGINT) AS yp
        FROM events GROUP BY CAST(ts AS DATE)
    ),
    daily AS (
        SELECT c.day,
               CAST(COALESCE(r.xc, 0) AS DOUBLE) AS x,
               CAST(COALESCE(r.yp, 0) AS DOUBLE) AS y
        FROM calendar c LEFT JOIN raw r ON r.day = c.day
    ),
    mom AS (
        SELECT AVG(x) AS mx, AVG(y) AS my,
               SUM((x - (SELECT AVG(x) FROM daily))
                   * (x - (SELECT AVG(x) FROM daily))) AS sxx,
               SUM((y - (SELECT AVG(y) FROM daily))
                   * (y - (SELECT AVG(y) FROM daily))) AS syy
        FROM daily
    ),
    lags AS (SELECT UNNEST(range(-7, 8)) AS k),
    ccf AS (
        SELECT l.k,
               SUM((a.x - m.mx) * (b.y - m.my)) AS num
        FROM lags l
        JOIN daily a ON TRUE
        JOIN daily b ON b.day = a.day + CAST(l.k AS BIGINT) * INTERVAL 1 DAY
        CROSS JOIN mom m
        GROUP BY l.k
    )
    SELECT CAST(c.k AS BIGINT) AS lag_days,
           {dround_sql("c.num / sqrt(m.sxx * m.syy)", 6)} AS ccf
    FROM ccf c CROSS JOIN mom m
    """,
    description="Cross-correlation function between daily click volume "
    "and daily purchase volume at lags -7..+7: positive-lag peaks mean "
    "clicks LEAD purchases by that many days — the lead-lag "
    "identification step behind any 'does marketing activity predict "
    "revenue k days out' model, and the bivariate member of the "
    "time-series kit (ACF/PACF are its autocorrelation specializations). "
    "Both series reduce to the same gap-filled day spine in ONE "
    "conditional-count groupBy; 15 lags ride one explode + day-offset "
    "equi-joins over that spine; normalization uses the full-series "
    "variances so values are comparable across lags.",
)
def events_cross_correlation_purchase_click(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    raw = ev.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.sum((F.col("event_type") == "click").cast("int"))
        .cast("bigint")
        .alias("xc"),
        F.sum((F.col("event_type") == "purchase").cast("int"))
        .cast("bigint")
        .alias("yp"),
    )
    bounds = ev.agg(
        F.to_date(F.min("ts")).alias("lo"), F.to_date(F.max("ts")).alias("hi")
    )
    calendar = bounds.select(
        F.explode(F.sequence("lo", "hi", F.expr("INTERVAL 1 DAY"))).alias("day")
    )
    daily = calendar.join(F.broadcast(raw), "day", "left").select(
        "day",
        F.coalesce("xc", F.lit(0)).cast("double").alias("x"),
        F.coalesce("yp", F.lit(0)).cast("double").alias("y"),
    ).persist()
    means = daily.agg(F.avg("x").alias("mx"), F.avg("y").alias("my"))
    mom = daily.crossJoin(F.broadcast(means)).agg(
        F.max("mx").alias("mx"),
        F.max("my").alias("my"),
        F.sum((F.col("x") - F.col("mx")) * (F.col("x") - F.col("mx"))).alias(
            "sxx"
        ),
        F.sum((F.col("y") - F.col("my")) * (F.col("y") - F.col("my"))).alias(
            "syy"
        ),
    )
    lags = spark.range(-7, 8).select(F.col("id").cast("int").alias("k"))
    a, b = daily.alias("a"), daily.alias("b")
    ccf = (
        a.crossJoin(F.broadcast(lags))
        .join(b, F.col("b.day") == F.expr("date_add(a.day, k)"))
        .crossJoin(F.broadcast(mom))
        .groupBy("k")
        .agg(
            F.sum(
                (F.col("a.x") - F.col("mx")) * (F.col("b.y") - F.col("my"))
            ).alias("num")
        )
    )
    return ccf.crossJoin(F.broadcast(mom.select("sxx", "syy"))).select(
        F.col("k").cast("bigint").alias("lag_days"),
        dround(
            F.col("num") / F.sqrt(F.col("sxx") * F.col("syy")), 6
        ).alias("ccf"),
    )


# --------------------------------- weekly growth accounting
@register(
    "events_growth_accounting_weekly",
    oracle=f"""
    WITH uw AS (
        SELECT DISTINCT user_id,
               CAST(date_trunc('week', ts) AS DATE) AS wk
        FROM events
    ),
    fw AS (SELECT user_id, MIN(wk) AS first_wk FROM uw GROUP BY user_id),
    classified AS (
        SELECT cur.wk,
               CASE WHEN cur.wk = fw.first_wk THEN 'new'
                    WHEN prev.user_id IS NOT NULL THEN 'retained'
                    ELSE 'resurrected' END AS state
        FROM uw cur
        JOIN fw ON fw.user_id = cur.user_id
        LEFT JOIN uw prev ON prev.user_id = cur.user_id
                         AND prev.wk = cur.wk - INTERVAL 7 DAY
    ),
    active AS (
        SELECT wk,
               CAST(SUM(CASE WHEN state = 'new' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_new,
               CAST(SUM(CASE WHEN state = 'retained' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_retained,
               CAST(SUM(CASE WHEN state = 'resurrected' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_resurrected
        FROM classified GROUP BY wk
    ),
    churn AS (
        SELECT CAST(prev.wk + INTERVAL 7 DAY AS DATE) AS wk,
               CAST(COUNT(*) AS BIGINT) AS n_churned
        FROM uw prev
        LEFT JOIN uw cur ON cur.user_id = prev.user_id
                        AND cur.wk = prev.wk + INTERVAL 7 DAY
        WHERE cur.user_id IS NULL
        GROUP BY prev.wk
    )
    SELECT a.wk AS week_start, a.n_new, a.n_retained, a.n_resurrected,
           COALESCE(c.n_churned, 0) AS n_churned,
           (a.n_new + a.n_retained + a.n_resurrected) AS n_active,
           {dround_sql(
               "CAST(a.n_new + a.n_resurrected AS DOUBLE)"
               " / NULLIF(COALESCE(c.n_churned, 0), 0)", 4)} AS quick_ratio
    FROM active a LEFT JOIN churn c ON c.wk = a.wk
    """,
    description="Weekly growth accounting: every active user classified "
    "as new (first-ever week), retained (also active last week), or "
    "resurrected (returning after a gap), plus churned (active last "
    "week, absent this week) and the quick ratio (new + resurrected) / "
    "churned — the canonical growth-team decomposition that retention "
    "cohorts and DAU/WAU can't express (they never separate "
    "resurrection from acquisition). Identity n_active = new + retained "
    "+ resurrected holds by construction. All joins are (user, week) "
    "equi-joins on the distinct activity table; first-week is one "
    "groupBy — integer counts end to end, no windows.",
)
def events_growth_accounting_weekly(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    uw = ev.select(
        "user_id", F.date_trunc("week", "ts").cast("date").alias("wk")
    ).distinct().persist()
    fw = uw.groupBy("user_id").agg(F.min("wk").alias("first_wk"))
    prev = uw.select("user_id", F.col("wk").alias("pwk"))
    classified = (
        uw.join(fw, "user_id")
        .join(
            prev,
            (prev.user_id == uw.user_id)
            & (F.col("pwk") == F.date_sub(uw.wk, 7)),
            "left",
        )
        .select(
            uw.wk.alias("wk"),
            F.when(uw.wk == F.col("first_wk"), "new")
            .when(F.col("pwk").isNotNull(), "retained")
            .otherwise("resurrected")
            .alias("state"),
        )
    )
    active = classified.groupBy("wk").agg(
        F.sum((F.col("state") == "new").cast("int")).cast("bigint").alias("n_new"),
        F.sum((F.col("state") == "retained").cast("int"))
        .cast("bigint")
        .alias("n_retained"),
        F.sum((F.col("state") == "resurrected").cast("int"))
        .cast("bigint")
        .alias("n_resurrected"),
    )
    cur = uw.select("user_id", F.col("wk").alias("cwk"))
    churn = (
        uw.join(
            cur,
            (cur.user_id == uw.user_id)
            & (F.col("cwk") == F.date_add(uw.wk, 7)),
            "left_anti",
        )
        .groupBy(F.date_add("wk", 7).alias("wk"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_churned"))
    )
    return active.join(churn, "wk", "left").select(
        F.col("wk").alias("week_start"),
        "n_new",
        "n_retained",
        "n_resurrected",
        F.coalesce("n_churned", F.lit(0)).alias("n_churned"),
        (F.col("n_new") + F.col("n_retained") + F.col("n_resurrected")).alias(
            "n_active"
        ),
        dround(
            (F.col("n_new") + F.col("n_resurrected")).cast("double")
            / F.nullif(F.coalesce("n_churned", F.lit(0)), F.lit(0)),
            4,
        ).alias("quick_ratio"),
    )


# --------------------------------- retention power-law fit
@register(
    "events_retention_powerlaw_fit",
    oracle=f"""
    WITH act AS (
        SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS week
        FROM events
    ),
    coh AS (SELECT user_id, MIN(week) AS cohort_week FROM act GROUP BY user_id),
    cells AS (
        SELECT c.cohort_week,
               datediff('day', c.cohort_week, a.week) // 7 AS wk_off,
               CAST(COUNT(DISTINCT a.user_id) AS BIGINT) AS n
        FROM act a JOIN coh c ON a.user_id = c.user_id
        GROUP BY 1, 2
    ),
    rates AS (
        SELECT o.wk_off,
               CAST(SUM(o.n) AS DOUBLE) / SUM(z.n) AS r
        FROM cells o
        JOIN (SELECT cohort_week, n FROM cells WHERE wk_off = 0) z
          ON z.cohort_week = o.cohort_week
        WHERE o.wk_off >= 1
        GROUP BY o.wk_off
    ),
    fit AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS k,
               REGR_SLOPE(ln(r), ln(CAST(wk_off AS DOUBLE))) AS b,
               REGR_INTERCEPT(ln(r), ln(CAST(wk_off AS DOUBLE))) AS a,
               REGR_R2(ln(r), ln(CAST(wk_off AS DOUBLE))) AS r2
        FROM rates WHERE r > 0
    )
    SELECT k AS n_offsets,
           {dround_sql("-b", 4)} AS decay_exponent,
           {dround_sql("EXP(a)", 4)} AS week1_level,
           {dround_sql("r2", 4)} AS loglog_r2,
           {dround_sql("EXP(a) * POWER(12.0, b)", 4)} AS projected_week12
    FROM fit
    """,
    description="Power-law fit to the pooled retention curve r(t) = "
    "a * t^(-b) via log-log OLS over the cohort-offset aggregate: "
    "retention curves are famously power-law (rapid early decay, fat "
    "tail), so the exponent + level pair summarize the whole matrix "
    "that events_retention_cohorts reports raw, the log-log R^2 says "
    "whether the law actually holds, and the extrapolated week-12 "
    "rate is the number LTV models consume. Rates pool offsets across "
    "cohorts weighted by cohort size (sum active / sum cohort size — "
    "not a mean of ratios); all regression inputs live at the "
    "|offsets|-row grain, so the fit costs one regr_* reduce after "
    "the same two scans the retention matrix already pays.",
)
def events_retention_powerlaw_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    act = ev.select(
        "user_id", F.date_trunc("week", F.col("ts")).cast("date").alias("week")
    ).distinct()
    coh = act.groupBy("user_id").agg(F.min("week").alias("cohort_week"))
    cells = (
        act.join(coh, "user_id")
        .groupBy(
            "cohort_week",
            (F.datediff("week", "cohort_week") / 7).cast("long").alias("wk_off"),
        )
        .agg(F.countDistinct("user_id").cast("bigint").alias("n"))
        .persist()
    )
    base = cells.filter(F.col("wk_off") == 0).select(
        "cohort_week", F.col("n").alias("n0")
    )
    rates = (
        cells.filter(F.col("wk_off") >= 1)
        .join(F.broadcast(base), "cohort_week")
        .groupBy("wk_off")
        .agg(
            (F.sum("n").cast("double") / F.sum("n0")).alias("r")
        )
    )
    lnr = F.log("r")
    lnt = F.log(F.col("wk_off").cast("double"))
    fit = rates.filter(F.col("r") > 0).agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.regr_slope(lnr, lnt).alias("b"),
        F.regr_intercept(lnr, lnt).alias("a"),
        F.regr_r2(lnr, lnt).alias("r2"),
    )
    return fit.select(
        F.col("k").alias("n_offsets"),
        dround(-F.col("b"), 4).alias("decay_exponent"),
        dround(F.exp("a"), 4).alias("week1_level"),
        dround(F.col("r2"), 4).alias("loglog_r2"),
        dround(F.exp("a") * F.pow(F.lit(12.0), F.col("b")), 4).alias(
            "projected_week12"
        ),
    )


# --------------------------------- seasonal & trend strength
@register(
    "events_seasonal_strength_daily",
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
        SELECT c.day, CAST(COALESCE(r.n, 0) AS DOUBLE) AS y
        FROM calendar c LEFT JOIN raw r ON r.day = c.day
    ),
    trend AS (
        SELECT a.day, a.y, AVG(b.y) AS tr, COUNT(*) AS w
        FROM daily a
        JOIN daily b
          ON b.day BETWEEN a.day - INTERVAL 3 DAY
                       AND a.day + INTERVAL 3 DAY
        GROUP BY a.day, a.y
    ),
    interior AS (
        SELECT day, y, tr, y - tr AS detr,
               dayofweek(day) AS dow
        FROM trend WHERE w = 7
    ),
    seas AS (
        SELECT dow, AVG(detr) AS s FROM interior GROUP BY dow
    ),
    comp AS (
        SELECT i.y, i.tr, i.detr, i.detr - s.s AS resid, i.y - s.s AS deseas
        FROM interior i JOIN seas s ON s.dow = i.dow
    ),
    vars AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_interior,
               var_samp(detr) AS v_detr,
               var_samp(resid) AS v_resid,
               var_samp(deseas) AS v_deseas
        FROM comp
    )
    SELECT n_interior,
           {dround_sql("GREATEST(0.0, 1.0 - v_resid / v_detr)", 4)}
               AS seasonal_strength,
           {dround_sql("GREATEST(0.0, 1.0 - v_resid / v_deseas)", 4)}
               AS trend_strength
    FROM vars
    """,
    description="Hyndman-style seasonal and trend strength of daily "
    "event volume: F_s = max(0, 1 - Var(remainder)/Var(detrended)) and "
    "F_t = max(0, 1 - Var(remainder)/Var(deseasonalized)) from a "
    "classical decomposition (centered MA-7 trend via a +-3-day "
    "offset join on the calendar spine, day-of-week seasonal means, "
    "interior days only so every MA window is complete) — the pair of "
    "0-1 scalars feature stores use to route series to seasonal vs "
    "non-seasonal forecasters, condensing what the periodogram/STL "
    "queries report in full. Everything runs on the day-grain spine: "
    "one banded self-join, two tiny aggs.",
)
def events_seasonal_strength_daily(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
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
        "day", F.coalesce("n", F.lit(0)).cast("double").alias("y")
    ).persist()
    a, b = daily.alias("a"), daily.alias("b")
    trend = (
        a.join(
            F.broadcast(b),
            (F.col("b.day") >= F.date_sub(F.col("a.day"), 3))
            & (F.col("b.day") <= F.date_add(F.col("a.day"), 3)),
        )
        .groupBy(F.col("a.day").alias("day"), F.col("a.y").alias("y"))
        .agg(F.avg("b.y").alias("tr"), F.count(F.lit(1)).alias("w"))
    )
    interior = trend.filter(F.col("w") == 7).select(
        "day",
        "y",
        "tr",
        (F.col("y") - F.col("tr")).alias("detr"),
        F.dayofweek("day").alias("dow"),
    )
    seas = interior.groupBy("dow").agg(F.avg("detr").alias("s"))
    comp = interior.join(F.broadcast(seas), "dow").select(
        "detr",
        (F.col("detr") - F.col("s")).alias("resid"),
        (F.col("y") - F.col("s")).alias("deseas"),
    )
    vars_ = comp.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_interior"),
        F.var_samp("detr").alias("v_detr"),
        F.var_samp("resid").alias("v_resid"),
        F.var_samp("deseas").alias("v_deseas"),
    )
    return vars_.select(
        "n_interior",
        dround(
            F.greatest(F.lit(0.0), 1.0 - F.col("v_resid") / F.col("v_detr")), 4
        ).alias("seasonal_strength"),
        dround(
            F.greatest(F.lit(0.0), 1.0 - F.col("v_resid") / F.col("v_deseas")),
            4,
        ).alias("trend_strength"),
    )


# --------------------------------------------- skyline (Pareto front)
@register(
    "orders_skyline_price_quantity",
    oracle="""
    WITH oq AS (
        SELECT c.c_mktsegment AS mktsegment, o.o_orderkey,
               o.o_totalprice AS price,
               CAST(SUM(l.l_quantity) AS BIGINT) AS qty
        FROM orders o
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        GROUP BY c.c_mktsegment, o.o_orderkey, o.o_totalprice
    )
    SELECT mktsegment, o_orderkey, ROUND(price, 2) AS price, qty
    FROM oq a
    WHERE NOT EXISTS (
        SELECT 1 FROM oq b
        WHERE b.mktsegment = a.mktsegment
          AND b.price < a.price AND b.qty > a.qty
    )
    """,
    description="Skyline / Pareto-front operator (Borzsonyi et al. 2001 "
    "ICDE), per market segment: the orders no other same-segment order "
    "STRICTLY dominates on (lower price, higher total quantity) — the "
    "classic multi-criteria shortlist (cheapest-for-the-volume "
    "frontier). The Spark plan is the sort-filter skyline: collapse to "
    "price grain (max qty per price), one KEYED window per segment "
    "computes the running max quantity over strictly-cheaper price "
    "grains, and an order survives iff its quantity meets that "
    "dominance bound — O(n log n) per segment and shuffle-keyed, never "
    "the O(n^2) all-pairs. The ORACLE is the definitionally-correct "
    "NOT EXISTS anti-join — two independent algorithms, one hash: the "
    "strongest kind of oracle check in this repo.",
)
def orders_skyline_price_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders")
    cust = table(spark, sf_dir, "customer")
    li = table(spark, sf_dir, "lineitem")
    oq = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .join(li, li.l_orderkey == orders.o_orderkey)
        .groupBy(
            F.col("c_mktsegment").alias("mktsegment"),
            "o_orderkey",
            F.col("o_totalprice").alias("price"),
        )
        .agg(F.sum("l_quantity").cast("bigint").alias("qty"))
    )
    # price-grain best quantity, then the running dominance bound over
    # strictly cheaper grains (rows-based is exact AT price grain)
    grain = oq.groupBy("mktsegment", "price").agg(F.max("qty").alias("gqty"))
    w = (
        Window.partitionBy("mktsegment")
        .orderBy("price")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    bound = grain.withColumn("dom_qty", F.max("gqty").over(w))
    front = (
        oq.join(bound.select("mktsegment", "price", "dom_qty"),
                ["mktsegment", "price"])
        .filter(F.col("dom_qty").isNull() | (F.col("qty") >= F.col("dom_qty")))
        .select(
            "mktsegment",
            "o_orderkey",
            F.round("price", 2).alias("price"),
            "qty",
        )
    )
    return front


# ------------- burst-interval extraction via 2-state integer-cost DP
@register(
    "events_burst_intervals_dp",
    oracle="""
    WITH RECURSIVE hourly0 AS (
        SELECT date_trunc('hour', ts) AS hr,
               CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                    AS BIGINT) AS c
        FROM events GROUP BY 1
    ),
    span AS (SELECT MIN(hr) AS h0, MAX(hr) AS h1 FROM hourly0),
    spine AS (
        SELECT ROW_NUMBER() OVER (ORDER BY g.hr) AS rn, g.hr,
               COALESCE(h.c, 0) AS c
        FROM (SELECT UNNEST(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hr
              FROM span) g
        LEFT JOIN hourly0 h ON h.hr = g.hr
    ),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM spine),
    ranked AS (
        SELECT c, ROW_NUMBER() OVER (ORDER BY c, hr) AS cr FROM spine
    ),
    rates0 AS (
        SELECT (SELECT c FROM ranked, n WHERE cr = (n + 1) // 2) AS r0,
               (SELECT c FROM ranked, n
                WHERE cr = CAST(ceil(0.9 * n) AS BIGINT)) AS p90
    ),
    rates AS (
        SELECT r0, GREATEST(p90, r0 + 1) AS r1,
               GREATEST(1, (GREATEST(p90, r0 + 1) - r0) // 2) AS lam
        FROM rates0
    ),
    dp AS (
        SELECT CAST(0 AS BIGINT) AS rn,
               CAST(0 AS BIGINT) AS c0, CAST([] AS INTEGER[]) AS p0,
               lam AS c1, CAST([] AS INTEGER[]) AS p1
        FROM rates
        UNION ALL
        SELECT s.rn,
               LEAST(d.c0, d.c1 + r.lam) + abs(s.c - r.r0),
               list_append(CASE WHEN d.c1 + r.lam < d.c0
                                THEN d.p1 ELSE d.p0 END, 0),
               LEAST(d.c0 + r.lam, d.c1) + abs(s.c - r.r1),
               list_append(CASE WHEN d.c0 + r.lam < d.c1
                                THEN d.p0 ELSE d.p1 END, 1)
        FROM dp d JOIN spine s ON s.rn = d.rn + 1, rates r
    ),
    best AS (
        SELECT CASE WHEN d.c1 < d.c0 THEN d.p1 ELSE d.p0 END AS states
        FROM dp d, n WHERE d.rn = n
    ),
    unrolled AS (
        SELECT UNNEST(states) AS st,
               generate_subscripts(states, 1) AS ord
        FROM best
    ),
    labeled AS (
        SELECT s.rn, s.hr, s.c, u.st
        FROM unrolled u JOIN spine s ON s.rn = u.ord
    ),
    chg AS (
        SELECT rn, hr, c, st,
               CASE WHEN st <> COALESCE(LAG(st) OVER (ORDER BY rn), -1)
                    THEN 1 ELSE 0 END AS is_chg
        FROM labeled
    ),
    seg AS (
        SELECT rn, hr, c, st,
               SUM(is_chg) OVER (ORDER BY rn) AS seg_id
        FROM chg
    )
    SELECT MIN(hr) AS burst_start,
           MAX(hr) AS burst_end,
           CAST(COUNT(*) AS BIGINT) AS n_hours,
           CAST(SUM(c) AS BIGINT) AS total_events,
           CAST(MAX(c) AS BIGINT) AS peak_hourly
    FROM seg WHERE st = 1
    GROUP BY seg_id ORDER BY burst_start
    """,
    description="Burst-interval extraction over the hourly error-event "
    "series via a 2-state shortest-path DP (the HMM/Kleinberg-automaton "
    "shape with INTEGER costs — the text_unigram_viterbi_segment "
    "discipline, chosen over Poisson log-likelihoods so the argmin can "
    "never diverge across engines by a ulp of ln): states base/burst "
    "carry self-calibrated integer rates r0 = exact median hourly "
    "count, r1 = max(p90, r0+1); emission cost |c_t - r_state|, switch "
    "penalty lam = max(1, (r1-r0)/2); ties prefer staying put and the "
    "base state, so the optimal state sequence is engine-unique. The "
    "whole DP folds into ONE F.aggregate over the hour spine (bounded "
    "by calendar span, not data volume — one agg shuffle collapses "
    "100 TB of events first), path-tracked per state so the burst "
    "intervals come straight out of the winning path; output is one "
    "row per maximal burst run (start, end, hours, volume, peak).",
)
def events_burst_intervals_dp(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    hourly0 = ev.groupBy(F.date_trunc("hour", "ts").alias("hr")).agg(
        F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0))
        .cast("bigint")
        .alias("c")
    )
    span = hourly0.agg(F.min("hr").alias("h0"), F.max("hr").alias("h1"))
    spine = (
        span.select(
            F.explode(
                F.expr("sequence(h0, h1, interval 1 hour)")
            ).alias("hr")
        )
        .join(hourly0, "hr", "left")
        .select("hr", F.coalesce("c", F.lit(0)).cast("bigint").alias("c"))
    )
    wr = Window.orderBy("c", "hr")
    ranked = spine.select(
        "c",
        F.row_number().over(wr).alias("cr"),
        F.count(F.lit(1))
        .over(
            Window.rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        )
        .alias("n"),
    )
    r0 = ranked.filter(
        F.col("cr") == F.floor((F.col("n") + 1) / 2).cast("bigint")
    ).select(F.col("c").alias("r0"), "n")
    p90 = ranked.filter(
        F.col("cr") == F.ceil(0.9 * F.col("n")).cast("bigint")
    ).select(F.col("c").alias("p90"))
    rates = r0.crossJoin(F.broadcast(p90)).select(
        "n",
        "r0",
        F.greatest(F.col("p90"), F.col("r0") + 1).alias("r1"),
        F.greatest(
            F.lit(1).cast("bigint"),
            F.floor(
                (F.greatest(F.col("p90"), F.col("r0") + 1) - F.col("r0")) / 2
            ).cast("bigint"),
        ).alias("lam"),
    )
    arr = spine.agg(
        F.sort_array(F.collect_list(F.struct("hr", "c"))).alias("s")
    ).crossJoin(F.broadcast(rates))

    def step(acc, x):
        lam = F.col("lam")
        from1_0 = acc["c1"] + lam
        came0_from1 = from1_0 < acc["c0"]
        newc0 = F.least(acc["c0"], from1_0) + F.abs(x["c"] - F.col("r0"))
        newp0 = F.concat(
            F.when(came0_from1, acc["p1"]).otherwise(acc["p0"]),
            F.array(F.lit(0)),
        )
        from0_1 = acc["c0"] + lam
        came1_from0 = from0_1 < acc["c1"]
        newc1 = F.least(from0_1, acc["c1"]) + F.abs(x["c"] - F.col("r1"))
        newp1 = F.concat(
            F.when(came1_from0, acc["p0"]).otherwise(acc["p1"]),
            F.array(F.lit(1)),
        )
        return F.struct(
            newc0.alias("c0"),
            newp0.alias("p0"),
            newc1.alias("c1"),
            newp1.alias("p1"),
        )

    init = F.struct(
        F.lit(0).cast("bigint").alias("c0"),
        F.array().cast("array<int>").alias("p0"),
        F.col("lam").alias("c1"),
        F.array().cast("array<int>").alias("p1"),
    )
    folded = arr.select(
        "s", F.aggregate(F.col("s"), init, step).alias("dp")
    )
    best = folded.select(
        "s",
        F.when(
            F.col("dp")["c1"] < F.col("dp")["c0"], F.col("dp")["p1"]
        )
        .otherwise(F.col("dp")["p0"])
        .alias("states"),
    )
    labeled = best.select(
        F.posexplode(F.arrays_zip("s", "states")).alias("i", "z")
    ).select(
        F.col("z")["s"]["hr"].alias("hr"),
        F.col("z")["s"]["c"].alias("c"),
        F.col("z")["states"].alias("st"),
    )
    wseg = Window.orderBy("hr")
    seg = labeled.select(
        "hr",
        "c",
        "st",
        F.sum(
            F.when(
                F.col("st")
                != F.coalesce(F.lag("st").over(wseg), F.lit(-1)),
                1,
            ).otherwise(0)
        )
        .over(wseg.rowsBetween(Window.unboundedPreceding, 0))
        .alias("seg_id"),
    )
    return (
        seg.filter(F.col("st") == 1)
        .groupBy("seg_id")
        .agg(
            F.min("hr").alias("burst_start"),
            F.max("hr").alias("burst_end"),
            F.count(F.lit(1)).cast("bigint").alias("n_hours"),
            F.sum("c").cast("bigint").alias("total_events"),
            F.max("c").cast("bigint").alias("peak_hourly"),
        )
        .select(
            "burst_start", "burst_end", "n_hours", "total_events",
            "peak_hourly",
        )
        .orderBy("burst_start")
    )


# --------------------- row-pattern matching: V-shape days (MATCH_RECOGNIZE)
@register(
    "events_pattern_vshape_days",
    oracle="""
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS day,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM events GROUP BY 1
    ),
    ctx AS (
        SELECT day, n,
               LAG(n, 2)  OVER (ORDER BY day) AS l2,
               LAG(n, 1)  OVER (ORDER BY day) AS l1,
               LEAD(n, 1) OVER (ORDER BY day) AS r1,
               LEAD(n, 2) OVER (ORDER BY day) AS r2
        FROM daily
    )
    SELECT day AS trough_day, n AS n_trough,
           CAST(l2 - n AS BIGINT) AS depth_left,
           CAST(r2 - n AS BIGINT) AS depth_right
    FROM ctx
    WHERE l2 > l1 AND l1 > n AND n < r1 AND r1 < r2
    ORDER BY trough_day
    """,
    description="SQL:2016 MATCH_RECOGNIZE-style row-pattern matching, "
    "emulated with lag/lead chains (the standard rewrite on engines "
    "without native MATCH_RECOGNIZE; Spark has none): find every "
    "V-shape in the daily event-count series — a strict two-step "
    "decline into a trough followed by a strict two-step recovery "
    "(PATTERN (DOWN DOWN UP UP) with DOWN AS n < PREV(n), UP AS "
    "n > PREV(n), reported at the trough row). Fixed-length patterns "
    "compile to a constant number of LAG/LEAD taps on one ordered "
    "window — no joins, no state machine; variable-length quantifiers "
    "are the segment-id construction used by events_type_runs. Matches "
    "are over ROW adjacency in the day series (calendar gaps compress, "
    "as MATCH_RECOGNIZE over an ordered cursor would). Counts are "
    "integer-exact on both engines; the single ordered window runs "
    "over the DAY-GRAIN post-aggregation series (bounded by calendar "
    "span — the 100 TB event scan collapses in the one groupBy first).",
)
def events_pattern_vshape_days(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    events = table(spark, sf_dir, "events")
    daily = events.groupBy(F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    w = Window.orderBy("day")
    ctx = daily.select(
        "day",
        "n",
        F.lag("n", 2).over(w).alias("l2"),
        F.lag("n", 1).over(w).alias("l1"),
        F.lead("n", 1).over(w).alias("r1"),
        F.lead("n", 2).over(w).alias("r2"),
    )
    return (
        ctx.filter(
            (F.col("l2") > F.col("l1"))
            & (F.col("l1") > F.col("n"))
            & (F.col("n") < F.col("r1"))
            & (F.col("r1") < F.col("r2"))
        )
        .select(
            F.col("day").alias("trough_day"),
            F.col("n").alias("n_trough"),
            (F.col("l2") - F.col("n")).cast("bigint").alias("depth_left"),
            (F.col("r2") - F.col("n")).cast("bigint").alias("depth_right"),
        )
        .orderBy("trough_day")
    )


# ----------------- funnel latency: exact time-to-convert percentiles
@register(
    "events_funnel_time_to_convert",
    oracle=f"""
    WITH v AS (
        SELECT user_id, MIN(ts) AS vts FROM events
        WHERE event_type = 'view' GROUP BY 1
    ),
    conv AS (
        SELECT v.user_id,
               CAST(epoch_us(MIN(e.ts)) - epoch_us(v.vts) AS BIGINT)
                   AS delta_us
        FROM v JOIN events e
          ON e.user_id = v.user_id
         AND e.event_type = 'purchase' AND e.ts > v.vts
        GROUP BY v.user_id, v.vts
    ),
    n AS (
        SELECT CAST((SELECT COUNT(*) FROM v) AS BIGINT) AS n_viewers,
               CAST(COUNT(*) AS BIGINT) AS n_conv,
               CAST(SUM(delta_us) AS BIGINT) AS sum_us
        FROM conv
    ),
    dist AS (
        SELECT delta_us, CAST(COUNT(*) AS BIGINT) AS c FROM conv GROUP BY 1
    ),
    cum AS (
        SELECT delta_us,
               CAST(SUM(c) OVER (ORDER BY delta_us
                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cc
        FROM dist
    ),
    ks AS (
        SELECT n_viewers, n_conv, sum_us,
               CAST(FLOOR((n_conv + 1) / 2.0) AS BIGINT) AS k_med,
               CAST(FLOOR((9 * n_conv + 9) / 10.0) AS BIGINT) AS k_p90
        FROM n
    )
    SELECT k.n_viewers, k.n_conv,
           {dround_sql("CAST(k.n_conv AS DOUBLE) / k.n_viewers", 6)}
               AS conversion_rate,
           {dround_sql(
               "CAST((SELECT MIN(delta_us) FROM cum WHERE cc >= k.k_med)"
               " AS DOUBLE) / 1000000.0", 3)} AS median_s,
           {dround_sql(
               "CAST((SELECT MIN(delta_us) FROM cum WHERE cc >= k.k_p90)"
               " AS DOUBLE) / 1000000.0", 3)} AS p90_s,
           {dround_sql(
               "CAST(k.sum_us AS DOUBLE) / k.n_conv / 1000000.0", 3)}
               AS mean_s
    FROM ks k
    """,
    description="Funnel latency distribution — EXACT time-to-convert "
    "percentiles from first view to first subsequent purchase (the "
    "metric behind conversion-SLA dashboards; the latency complement "
    "to events_funnel_view_click_purchase's step counts and "
    "events_conversion_window_sensitivity's window sweep): per user, "
    "delta = first purchase after the first view, in INTEGER "
    "microseconds (epoch_us on both engines — sums and counts exact); "
    "median (lower, k=floor((n+1)/2)) and p90 (k=ceil(0.9n)) are "
    "order statistics selected from the distinct-delta aggregate's "
    "prefix-sum — the stats_twopass_exact_median selection, never a "
    "full sort of user rows. The one ordered window runs over the "
    "distinct-latency aggregate (continuous-microsecond scale: bin to "
    "seconds or use the partition-offset scheme at 1e9+ converters, "
    "the stats_ks_exponential_interarrival caveat). The only float "
    "ops are the final rate/second divisions over identical "
    "integers.",
)
def events_funnel_time_to_convert(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    events = table(spark, sf_dir, "events")
    v = (
        events.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("vts"))
    )
    conv = (
        v.join(
            events.filter(F.col("event_type") == "purchase").select(
                "user_id", F.col("ts").alias("pts")
            ),
            "user_id",
        )
        .filter(F.col("pts") > F.col("vts"))
        .groupBy("user_id", "vts")
        .agg(F.min("pts").alias("pts"))
        .select(
            (F.unix_micros("pts") - F.unix_micros("vts"))
            .cast("bigint")
            .alias("delta_us")
        )
    )
    nv = v.agg(F.count(F.lit(1)).cast("bigint").alias("n_viewers"))
    n = conv.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_conv"),
        F.sum("delta_us").cast("bigint").alias("sum_us"),
    ).crossJoin(F.broadcast(nv))
    dist = conv.groupBy("delta_us").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    wcum = Window.orderBy("delta_us").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = dist.select(
        "delta_us", F.sum("c").over(wcum).cast("bigint").alias("cc")
    )
    ks = n.select(
        "n_viewers",
        "n_conv",
        "sum_us",
        F.floor((F.col("n_conv") + 1) / 2.0).cast("bigint").alias("k_med"),
        F.floor((9 * F.col("n_conv") + 9) / 10.0)
        .cast("bigint")
        .alias("k_p90"),
    )
    sel = cum.crossJoin(F.broadcast(ks))
    med = sel.filter(F.col("cc") >= F.col("k_med")).agg(
        F.min("delta_us").alias("med_us")
    )
    p90 = sel.filter(F.col("cc") >= F.col("k_p90")).agg(
        F.min("delta_us").alias("p90_us")
    )
    return (
        ks.crossJoin(F.broadcast(med))
        .crossJoin(F.broadcast(p90))
        .select(
            "n_viewers",
            "n_conv",
            dround(
                F.col("n_conv").cast("double") / F.col("n_viewers"), 6
            ).alias("conversion_rate"),
            dround(
                F.col("med_us").cast("double") / 1000000.0, 3
            ).alias("median_s"),
            dround(
                F.col("p90_us").cast("double") / 1000000.0, 3
            ).alias("p90_s"),
            dround(
                F.col("sum_us").cast("double")
                / F.col("n_conv")
                / 1000000.0,
                3,
            ).alias("mean_s"),
        )
    )


# -------- confounder-adjusted ATE: stratified standardization (IPTW twin)
@register(
    "events_ate_stratified_standardization",
    oracle="""
    WITH u AS (
        SELECT user_id,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                    AS BIGINT) AS ncl,
               CAST(SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0
                    END) AS BIGINT) AS nsg,
               CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0
                    END) AS BIGINT) AS np
        FROM events GROUP BY user_id
    ),
    strat AS (
        SELECT CASE WHEN ncl > nsg THEN 1 ELSE 0 END AS t, np,
               NTILE(4) OVER (ORDER BY n_events, user_id) AS s
        FROM u
    ),
    per AS (
        SELECT s,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(t) AS BIGINT) AS nt,
               CAST(SUM(t * np) AS BIGINT) AS yt,
               CAST(SUM((1 - t) * np) AS BIGINT) AS yc
        FROM strat GROUP BY s
    ),
    tot AS (
        SELECT CAST(SUM(n) AS BIGINT) AS n_users,
               CAST(SUM(nt) AS BIGINT) AS ntt,
               CAST(SUM(yt) AS BIGINT) AS ytt,
               CAST(SUM(n - nt) AS BIGINT) AS nct,
               CAST(SUM(yc) AS BIGINT) AS yct
        FROM per
    ),
    ate AS (
        SELECT CAST(SUM(CASE WHEN nt > 0 AND n - nt > 0 THEN 1 ELSE 0
                    END) AS BIGINT) AS n_strata_used,
               CAST(SUM(CASE WHEN nt > 0 AND n - nt > 0 THEN
                   CAST(ROUND((CAST(n AS DOUBLE) / t2.n_users)
                        * (CAST(yt AS DOUBLE) / nt
                           - CAST(yc AS DOUBLE) / (n - nt))
                        * 100000000, 0) AS BIGINT)
                   ELSE 0 END) AS BIGINT) AS ate8
        FROM per, tot t2
        GROUP BY t2.n_users
    )
    SELECT t.n_users,
           CAST(ROUND(CAST((CAST(t.ytt AS DOUBLE) / t.ntt
                - CAST(t.yct AS DOUBLE) / t.nct)
                AS DECIMAL(38,8)), 6) AS DOUBLE) AS naive_diff,
           CAST(ROUND(CAST((a.ate8 / 100000000.0) AS DECIMAL(38,8)), 6)
                AS DOUBLE) AS stratified_ate,
           CAST(ROUND(CAST(((CAST(t.ytt AS DOUBLE) / t.ntt
                - CAST(t.yct AS DOUBLE) / t.nct)
                - a.ate8 / 100000000.0) AS DECIMAL(38,8)), 6)
                AS DOUBLE) AS confounding_bias,
           a.n_strata_used
    FROM tot t, ate a
    """,
    description="Confounder-adjusted treatment effect by stratified "
    "standardization (the discrete-stratum equivalent of inverse-"
    "propensity weighting; Rosenbaum & Rubin 1983 subclassification — "
    "the observational complement to events_did_difference_in_"
    "differences and events_ab_experiment_cuped, which assume a "
    "design): treatment = click-dominant behavior (more clicks than "
    "signups), outcome = purchase count, confounder = activity "
    "quartile. ATE = sum over strata of (n_s/N) * (mean_y_treated - "
    "mean_y_control), reported against the naive pooled difference — "
    "the gap IS the measured confounding bias (near zero on this "
    "homogeneous synthetic fixture; the planted pytest corpus builds "
    "REAL activity confounding and pins that the stratified estimate "
    "removes what the naive one absorbs). Positivity is enforced per "
    "stratum (strata missing either arm are excluded and counted). "
    "Every input is an exact integer count; per-stratum terms are "
    "pinned to integer 1e-8 units before the 4-term sum (the NMI "
    "discipline). The NTILE runs over the USER-GRAIN aggregate "
    "(partition-offset at 1e8+ users, the events_uplift_qini_deciles "
    "note); everything else is one user-grain agg and a 4-row "
    "rollup.",
)
def events_ate_stratified_standardization(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    events = table(spark, sf_dir, "events")
    u = events.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.sum((F.col("event_type") == "click").cast("bigint"))
        .cast("bigint")
        .alias("ncl"),
        F.sum((F.col("event_type") == "signup").cast("bigint"))
        .cast("bigint")
        .alias("nsg"),
        F.sum((F.col("event_type") == "purchase").cast("bigint"))
        .cast("bigint")
        .alias("np"),
    )
    strat = u.select(
        F.when(F.col("ncl") > F.col("nsg"), 1).otherwise(0).alias("t"),
        "np",
        F.ntile(4).over(Window.orderBy("n_events", "user_id")).alias("s"),
    )
    per = strat.groupBy("s").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("t").cast("bigint").alias("nt"),
        F.sum(F.col("t") * F.col("np")).cast("bigint").alias("yt"),
        F.sum((1 - F.col("t")) * F.col("np")).cast("bigint").alias("yc"),
    )
    tot = per.agg(
        F.sum("n").cast("bigint").alias("n_users"),
        F.sum("nt").cast("bigint").alias("ntt"),
        F.sum("yt").cast("bigint").alias("ytt"),
        F.sum(F.col("n") - F.col("nt")).cast("bigint").alias("nct"),
        F.sum("yc").cast("bigint").alias("yct"),
    )
    ok = (F.col("nt") > 0) & ((F.col("n") - F.col("nt")) > 0)
    term = (
        (F.col("n").cast("double") / F.col("n_users"))
        * (
            F.col("yt").cast("double") / F.col("nt")
            - F.col("yc").cast("double") / (F.col("n") - F.col("nt"))
        )
    )
    ate = (
        per.filter(ok)
        .crossJoin(F.broadcast(tot.select("n_users")))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_strata_used"),
            F.coalesce(
                F.sum(F.round(term * 100000000, 0).cast("bigint")),
                F.lit(0),
            )
            .cast("bigint")
            .alias("ate8"),
        )
    )
    naive = (
        F.col("ytt").cast("double") / F.col("ntt")
        - F.col("yct").cast("double") / F.col("nct")
    )
    return tot.crossJoin(F.broadcast(ate)).select(
        "n_users",
        dround(naive, 6).alias("naive_diff"),
        dround(F.col("ate8") / 100000000.0, 6).alias("stratified_ate"),
        dround(naive - F.col("ate8") / 100000000.0, 6)
        .alias("confounding_bias"),
        "n_strata_used",
    )
