"""Structured Streaming queries run to completion over bounded sources.

The stream drains via ``Trigger.AvailableNow`` so results are deterministic
and oracle-comparable against batch SQL over the same input — proving the
streaming plan computes the batch-equivalent answer (the core guarantee of
Spark's unified batch/stream model).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from healthcare_data_lakehouse_spark.queries.catalog import register
from healthcare_data_lakehouse_spark.scratch import scratch_dir

__all__: list[str] = []


@register(
    "streaming_event_window_counts",
    oracle="""
    SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
           event_type,
           COUNT(*) AS n_events,
           ROUND(SUM(value), 2) AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
    description="Structured Streaming: file-source stream -> event-time "
    "tumbling-window aggregation, drained with AvailableNow; equals the "
    "batch answer (unified engine guarantee).",
)
def streaming_event_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from healthcare_data_lakehouse_spark.streaming.ingest import run_stream_to_table

    return run_stream_to_table(
        spark, f"{sf_dir}/events.parquet", scratch_dir("stream_"), window="1 hour"
    )


@register(
    "streaming_stateful_user_totals",
    oracle="""
    SELECT user_id, COUNT(*) AS n_events, ROUND(SUM(value), 2) AS sum_value
    FROM events
    GROUP BY user_id
    """,
    description="Custom stateful streaming operator: applyInPandasWithState "
    "holds per-user running totals in group state (Arrow-batched, "
    "key-partitioned); drained bounded stream equals the batch aggregate.",
)
def streaming_stateful_user_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    from healthcare_data_lakehouse_spark.streaming.ingest import (
        stateful_user_totals,
    )

    return stateful_user_totals(
        spark, f"{sf_dir}/events.parquet", scratch_dir("stateful_")
    )


@register(
    "session_window_per_user",
    oracle="""
    WITH marked AS (
        SELECT user_id, ts, event_id,
               CASE WHEN LAG(ts) OVER w IS NULL
                    OR ts - LAG(ts) OVER w > INTERVAL 30 MINUTE
                    THEN 1 ELSE 0 END AS is_start
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    islands AS (
        SELECT user_id, ts,
               SUM(is_start) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                   ROWS UNBOUNDED PRECEDING) AS sess_id
        FROM marked
    ),
    sessions AS (
        SELECT user_id, sess_id, COUNT(*) AS n_ev,
               date_diff('second', MIN(ts), MAX(ts)) AS dur_s
        FROM islands GROUP BY user_id, sess_id
    )
    SELECT user_id, COUNT(*) AS n_sessions,
           CAST(SUM(n_ev) AS BIGINT) AS n_events,
           CAST(SUM(dur_s) AS BIGINT) AS total_session_seconds
    FROM sessions GROUP BY user_id
    """,
    description="Spark-native session windows (F.session_window, 30-min "
    "gap): one shuffle on user_id, merge-on-overlap state — the same "
    "operator runs unchanged in Structured Streaming with a watermark; "
    "oracle restates it as gap-island SQL.",
)
def session_window_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    from healthcare_data_lakehouse_spark.tables import table

    events = table(spark, sf_dir, "events")
    sessions = events.groupBy(
        "user_id", F.session_window("ts", "30 minutes").alias("sw")
    ).agg(
        F.count(F.lit(1)).alias("n_ev"),
        (F.unix_timestamp(F.max("ts")) - F.unix_timestamp(F.min("ts"))).alias(
            "dur_s"
        ),
    )
    return sessions.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.sum("n_ev").alias("n_events"),
        F.sum("dur_s").alias("total_session_seconds"),
    )


@register(
    "streaming_interval_join_clicks_purchases",
    oracle="""
    SELECT c.user_id AS user_id, c.l_ts AS l_ts, c.click_id AS click_id,
           p.r_ts AS r_ts, p.purchase_id AS purchase_id
    FROM (SELECT user_id, ts AS l_ts, event_id AS click_id
          FROM events WHERE event_type = 'click') c
    JOIN (SELECT user_id, ts AS r_ts, event_id AS purchase_id
          FROM events WHERE event_type = 'purchase') p
      ON c.user_id = p.user_id
     AND p.r_ts >= c.l_ts
     AND p.r_ts <= c.l_ts + INTERVAL 10 MINUTE
    """,
    description="Stream-stream watermarked interval join (purchase within "
    "10min of a click, same user), run as two real streams drained with "
    "AvailableNow; the time-bound predicate keeps both join-state buffers "
    "bounded on an unbounded feed.",
)
def streaming_interval_join_clicks_purchases(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from healthcare_data_lakehouse_spark.streaming.ingest import (
        run_interval_join_stream,
    )

    return run_interval_join_stream(
        spark, f"{sf_dir}/events.parquet", scratch_dir("stream_ssj_")
    ).select("user_id", "l_ts", "click_id", "r_ts", "purchase_id")


@register(
    "streaming_session_window_counts",
    oracle="""
    WITH marked AS (
        SELECT user_id, ts, value, event_id,
               CASE WHEN LAG(ts) OVER w IS NULL
                    OR ts - LAG(ts) OVER w > INTERVAL 10 MINUTE
                    THEN 1 ELSE 0 END AS is_start
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    islands AS (
        SELECT user_id, ts, value,
               SUM(is_start) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                   ROWS UNBOUNDED PRECEDING) AS sess_id
        FROM marked
    )
    SELECT user_id,
           MIN(ts) AS session_start,
           MAX(ts) + INTERVAL 10 MINUTE AS session_end,
           COUNT(*) AS n_events,
           ROUND(SUM(value), 2) AS sum_value
    FROM islands GROUP BY user_id, sess_id
    """,
    description="Session windows executed AS A STREAM (AvailableNow "
    "drain): merging window state per user — a late-but-in-watermark "
    "event can fuse two open sessions, which tumbling-window state never "
    "does; the watermark is what finalizes and evicts merged sessions. "
    "Session-grain output (start/end/count/sum); equals the batch "
    "session_window answer over the same input, oracle restates it as "
    "gap-island SQL. Completes the streaming ladder: tumbling "
    "(streaming_event_window_counts) -> session (this) -> custom state "
    "(streaming_stateful_user_totals).",
)
def streaming_session_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from healthcare_data_lakehouse_spark.streaming.ingest import run_session_stream

    return run_session_stream(
        spark, f"{sf_dir}/events.parquet", scratch_dir("stream_sess_"), gap="10 minutes"
    )


@register(
    "streaming_dedup_within_watermark",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n_events,
           COUNT(DISTINCT event_id) AS n_ids
    FROM events
    GROUP BY event_type
    """,
    description="Streaming exactly-once-per-key dedup "
    "(dropDuplicatesWithinWatermark): the full event feed is delivered "
    "TWICE (at-least-once upstream redelivery), streamed through "
    "key-state dedup on event_id, and drains to exactly the single-copy "
    "batch answer. State is bounded by the watermark horizon — the only "
    "dedup formulation that survives an unbounded feed (plain "
    "dropDuplicates keys state forever). n_events == n_ids proves no "
    "duplicate survived the replay.",
)
def streaming_dedup_within_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    from healthcare_data_lakehouse_spark.streaming.ingest import (
        _drain_to_table,
        _file_stream,
        dedup_stream_within_watermark,
    )
    from healthcare_data_lakehouse_spark.tables import table

    work = scratch_dir("stream_dedupq_")
    feed = os.path.join(work, "feed")
    ev = table(spark, sf_dir, "events").select("event_id", "event_type", "ts")
    # the same feed lands twice — upstream at-least-once redelivery
    for _ in range(2):
        ev.write.mode("append").parquet(feed)
    # wide horizon: every replayed key is still inside the watermark, so
    # dedup is total regardless of how the files split into micro-batches
    out = dedup_stream_within_watermark(
        _file_stream(spark, feed, work), ["event_id"], "ts", "365 days"
    )
    return (
        _drain_to_table(out, work, "append")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("event_id").alias("n_ids"),
        )
    )


@register(
    "streaming_upsert_merge_zone",
    oracle="""
    WITH target AS (
        SELECT event_id, event_type, 'orig' AS src FROM events
    ),
    source AS (
        SELECT event_id, event_type, 'upd' AS src
        FROM events WHERE event_id % 3 = 0
    ),
    merged AS (
        SELECT * FROM source
        UNION ALL
        SELECT t.* FROM target t ANTI JOIN source s
          ON t.event_id = s.event_id
    )
    SELECT event_type, src, COUNT(*) AS n
    FROM merged GROUP BY event_type, src
    """,
    description="Continuous MERGE into the lakehouse: an update feed "
    "streams through foreachBatch upsert (stream_upsert_to_zone) into a "
    "ZoneStore table keyed by event_id — matched rows replaced in place, "
    "no duplicates, checkpointed batch ids make replays idempotent (the "
    "exactly-once streaming-MERGE recipe; MERGE INTO on Delta in "
    "deployment). Oracle restates the merge as source UNION "
    "target-anti-source.",
)
def streaming_upsert_merge_zone(spark: SparkSession, sf_dir: str) -> DataFrame:
    from healthcare_data_lakehouse_spark.streaming.ingest import (
        stream_upsert_to_zone,
    )
    from healthcare_data_lakehouse_spark.tables import table
    from healthcare_data_lakehouse_spark.zones import (
        DataZone,
        LoadType,
        ZoneStore,
    )

    work = scratch_dir("stream_upsertq_")
    ev = table(spark, sf_dir, "events").select("event_id", "event_type")
    target = ev.withColumn("src", F.lit("orig"))
    updates = (
        ev.filter(F.col("event_id") % 3 == 0)
        .withColumn("src", F.lit("upd"))
    )
    landing = os.path.join(work, "landing")
    updates.write.parquet(landing)
    store = ZoneStore(spark, os.path.join(work, "zones"))
    store.write(DataZone.SILVER, "events_up", target, LoadType.FULL)
    merged = stream_upsert_to_zone(
        spark,
        landing,
        os.path.join(work, "w"),
        store,
        DataZone.SILVER,
        "events_up",
        id_col="event_id",
    )
    return merged.groupBy("event_type", "src").agg(
        F.count(F.lit(1)).alias("n")
    )


def _land_in_order(src: str, *batches: DataFrame) -> str:
    """Write each frame as one parquet file under ``src/b<i>`` with its
    mtime pinned in list order. The file source orders micro-batches by
    file mtime, so a one-file-per-trigger stream over the returned glob
    drains the frames deterministically in this order."""
    t = 1_700_000_000
    for i, df in enumerate(batches):
        sub = os.path.join(src, f"b{i}")
        df.coalesce(1).write.parquet(sub)
        for root, _, files in os.walk(sub):
            for f in files:
                os.utime(os.path.join(root, f), (t + 1000 * i, t + 1000 * i))
    return src + "/*"


def _admission_oracle() -> str:
    from healthcare_data_lakehouse_spark.queries.llm_dedup import _probe_ctes

    ctes = _probe_ctes(
        "SELECT doc_id, text FROM documents WHERE doc_id % 3 = 0",
        """SELECT doc_id, text FROM documents WHERE doc_id % 3 = 1
           UNION ALL
           SELECT doc_id + 3000000 AS doc_id, text FROM documents
           WHERE doc_id % 3 = 0 AND doc_id % 5 = 0""",
    )
    return f"""
    WITH {ctes}
    SELECT doc_id FROM corpus
    UNION ALL
    SELECT doc_id FROM incoming
    WHERE doc_id NOT IN (SELECT incoming_id FROM hits)
    """


@register(
    "streaming_neardup_admission_gate",
    oracle=_admission_oracle(),
    description="Streaming corpus ingestion with NEAR-dup admission "
    "control: micro-batch 0 seeds the corpus (every doc admitted into "
    "the ZoneStore-materialized index), micro-batch 1 mixes fresh docs "
    "with exact copies of seeded docs and probes the index via the LSH "
    "bucket equi-join (functions/dedup.py lsh_probe) — colliding docs "
    "(Jaccard >= 0.5) are refused admission, the rest append, and the "
    "index the NEXT batch would probe already contains them. "
    "foreachBatch + materialized index is the correct Spark formulation "
    "(the state is the whole corpus index keyed by LSH bucket — not "
    "expressible as watermark dedup or stateless operators); per-batch "
    "file ordering is pinned by source-file mtime so the drain is "
    "deterministic and the final admitted corpus equals the sequential "
    "batch answer the oracle computes. Within one batch, docs probe the "
    "same index snapshot and do not gate each other (micro-batch "
    "atomicity). Returns the admitted doc_ids.",
)
def streaming_neardup_admission_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from healthcare_data_lakehouse_spark.streaming.ingest import (
        stream_neardup_admission,
    )
    from healthcare_data_lakehouse_spark.tables import table
    from healthcare_data_lakehouse_spark.zones import DataZone, ZoneStore

    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    work = scratch_dir("stream_gate_")
    seed = docs.filter(F.col("doc_id") % 3 == 0)
    second = docs.filter(F.col("doc_id") % 3 == 1).unionAll(
        docs.filter((F.col("doc_id") % 3 == 0) & (F.col("doc_id") % 5 == 0))
        .select((F.col("doc_id") + 3_000_000).alias("doc_id"), "text")
    )
    store = ZoneStore(spark, os.path.join(work, "zones"))
    # the seed batch lands before the batch that probes it
    stream_neardup_admission(
        spark,
        _land_in_order(os.path.join(work, "src"), seed, second),
        seed.schema,
        store,
        DataZone.BRONZE,
        "corpus",
        os.path.join(work, "chk"),
        threshold=0.5,
    )
    return store.read(DataZone.BRONZE, "corpus").select("doc_id")


_GATE_POPULATED = "({c} IS NOT NULL AND trim(CAST({c} AS VARCHAR)) <> '')"
_GATE_FAIL_SQL = f"""(
    NOT ({_GATE_POPULATED.format(c='id')}
         AND {_GATE_POPULATED.format(c='patient_id')}
         AND {_GATE_POPULATED.format(c='birth_date')})
    OR ({_GATE_POPULATED.format(c='patient_id')}
        AND NOT regexp_matches(patient_id, '^MRN[0-9]{{9}}$'))
    OR (age IS NOT NULL AND NOT (age BETWEEN 0.0 AND 120.0))
    OR (heart_rate IS NOT NULL AND NOT (heart_rate BETWEEN 20.0 AND 250.0))
    OR (TRY_CAST(admission_date AS DATE) IS NOT NULL
        AND TRY_CAST(discharge_date AS DATE) IS NOT NULL
        AND TRY_CAST(discharge_date AS DATE) < TRY_CAST(admission_date AS DATE))
)"""


@register(
    "streaming_quality_admission_gate",
    oracle="WITH "
    + __import__(
        "healthcare_data_lakehouse_spark.fixtures", fromlist=["HEALTHCARE_CTE"]
    ).HEALTHCARE_CTE
    + f"""
    SELECT id, patient_id FROM records WHERE NOT {_GATE_FAIL_SQL}
    """,
    description="Streaming bronze-admission quality gate: the dirty "
    "healthcare frame arrives as two micro-batches (pinned file mtimes "
    "→ deterministic drain); each batch is split by the ROW-LOCAL "
    "admission predicate (completeness of id/patient_id/birth_date, "
    "MRN format validity, age/heart-rate range accuracy, "
    "discharge-before-admission consistency) — passing rows append to "
    "the zone, failing rows land in the per-batch quarantine sink, one "
    "audit row per batch records the split. Row-local rules are "
    "exactly the subset a stream CAN decide without state (uniqueness "
    "and referential integrity need materialized indexes — covered by "
    "the incremental LSH/MERGE gates), and row-locality is what makes "
    "the drained result equal the oracle's one-pass batch answer. The "
    "gate is a narrow filter fused into each micro-batch scan: no "
    "state store, no shuffle beyond the two sink writes.",
)
def streaming_quality_admission_gate(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from healthcare_data_lakehouse_spark.fixtures import healthcare_frame
    from healthcare_data_lakehouse_spark.streaming.ingest import (
        stream_quality_admission,
    )
    from healthcare_data_lakehouse_spark.zones import DataZone, ZoneStore

    frame = healthcare_frame(spark, sf_dir)
    work = scratch_dir("stream_qgate_")
    half = F.col("id").cast("bigint") % 2
    store = ZoneStore(spark, os.path.join(work, "zones"))
    stream_quality_admission(
        spark,
        _land_in_order(
            os.path.join(work, "src"), frame.filter(half == 0), frame.filter(half == 1)
        ),
        frame.schema,
        store,
        DataZone.BRONZE,
        "patients_stream",
        os.path.join(work, "chk"),
    )
    return store.read(DataZone.BRONZE, "patients_stream").select(
        "id", "patient_id"
    )


@register(
    "streaming_sliding_topk_event_types",
    oracle="""
    WITH slides AS (
        SELECT time_bucket(INTERVAL '15 minutes', ts)
                   - (j * INTERVAL '15 minutes') AS window_start,
               event_type
        FROM events, UNNEST(range(0, 4)) AS u(j)
    ),
    counts AS (
        SELECT window_start, event_type,
               CAST(COUNT(*) AS BIGINT) AS n_events
        FROM slides GROUP BY window_start, event_type
    )
    SELECT window_start, event_type, n_events, rank FROM (
        SELECT *, CAST(ROW_NUMBER() OVER (
            PARTITION BY window_start
            ORDER BY n_events DESC, event_type
        ) AS BIGINT) AS rank
        FROM counts
    ) WHERE rank <= 3
    """,
    description="Structured Streaming SLIDING windows (1h window, 15min "
    "slide): each event fans out to its 4 covering windows inside the "
    "watermarked streaming aggregation; the drained bounded stream is "
    "then ranked top-3 event types per window as a batch post-pass "
    "(ranking is not a streaming-supported aggregate — the two-phase "
    "shape is how production ranks streaming counts). The oracle "
    "reproduces the epoch-aligned slide fan-out relationally: "
    "time_bucket minus j*slide for j in 0..3.",
)
def streaming_sliding_topk_event_types(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from healthcare_data_lakehouse_spark.streaming.ingest import (
        sliding_topk_event_types,
    )

    return sliding_topk_event_types(
        spark, f"{sf_dir}/events.parquet", scratch_dir("slidetopk_")
    )


@register(
    "streaming_static_enrichment_join",
    oracle="""
    WITH cents AS (
        SELECT user_id, event_type, ts,
               CAST(ROUND(CAST(value * 100 AS DECIMAL(38,8)), 0) AS BIGINT)
                   AS cents
        FROM events
    ),
    tiers AS (
        SELECT user_id,
               CASE WHEN SUM(cents) / COUNT(*) >= 3000 THEN 'high'
                    WHEN SUM(cents) / COUNT(*) >= 1500 THEN 'mid'
                    ELSE 'low' END AS tier
        FROM cents GROUP BY user_id
    )
    SELECT time_bucket(INTERVAL '1 day', c.ts) AS window_start,
           t.tier,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(COUNT(DISTINCT c.user_id) AS BIGINT) AS n_users
    FROM cents c JOIN tiers t ON t.user_id = c.user_id
    GROUP BY window_start, t.tier
    """,
    description="Stream-static enrichment join — the third canonical "
    "streaming join shape beside stream-stream interval join and "
    "foreachBatch upsert: a STATIC user-tier dimension (batch-derived "
    "spend tiers, exact integer-cents thresholds) broadcast-joins onto "
    "the event stream row-by-row, then a watermarked daily window "
    "aggregates per tier. On a real deployment the static side is a "
    "slowly-refreshed dim table; Spark re-resolves it per micro-batch "
    "while the stream side holds only window state. Drained bounded "
    "(AvailableNow) and compared against the identical batch join+agg.",
)
def streaming_static_enrichment_join(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from healthcare_data_lakehouse_spark.streaming.ingest import (
        _drain_to_table,
        _file_stream,
        enrich_stream_with_dim,
    )
    from healthcare_data_lakehouse_spark.tables import table

    work_dir = scratch_dir("strstatic_")
    cents = F.round((F.col("value") * 100).cast("decimal(38,8)"), 0).cast(
        "bigint"
    )
    hist = table(spark, sf_dir, "events").select("user_id", cents.alias("c"))
    avg_c = F.sum("c") / F.count(F.lit(1))
    static_tiers = hist.groupBy("user_id").agg(
        F.when(avg_c >= 3000, "high")
        .when(avg_c >= 1500, "mid")
        .otherwise("low")
        .alias("tier")
    )
    stream = _file_stream(spark, f"{sf_dir}/events.parquet", work_dir)
    enriched = enrich_stream_with_dim(
        stream.withWatermark("ts", "10 minutes"), static_tiers, "user_id"
    )
    agg = enriched.groupBy(
        F.window(F.col("ts"), "1 day").alias("w"), F.col("tier")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n_events"))
    res = _drain_to_table(agg, work_dir, "complete").select(
        F.col("w.start").alias("window_start"), "tier", "n_events"
    )
    # exact distinct users per (window, tier) is not a streaming-supported
    # aggregate alongside complete-mode windows; compute it batch-side
    # from the same static tiers (the production pattern: the stream
    # maintains counts, a cheap batch pass fills exact distincts)
    ev = table(spark, sf_dir, "events").select(
        F.date_trunc("day", F.col("ts")).alias("window_start"), "user_id"
    )
    users = (
        enrich_stream_with_dim(ev, static_tiers, "user_id")
        .groupBy("window_start", "tier")
        .agg(F.countDistinct("user_id").cast("bigint").alias("n_users"))
    )
    return res.join(users, ["window_start", "tier"]).select(
        "window_start", "tier", F.col("n_events").cast("bigint").alias("n_events"), "n_users"
    )


@register(
    "streaming_left_outer_interval_join",
    oracle="""
    WITH c AS (SELECT user_id, ts AS l_ts, event_id AS click_id
               FROM events WHERE event_type = 'click'),
    p AS (SELECT user_id, ts AS r_ts, event_id AS purchase_id
          FROM events WHERE event_type = 'purchase'),
    wm AS (
        SELECT LEAST((SELECT MAX(l_ts) FROM c), (SELECT MAX(r_ts) FROM p))
               - INTERVAL 10 MINUTE AS w
    ),
    matched AS (
        SELECT c.user_id AS user_id, c.l_ts AS l_ts, c.click_id AS click_id,
               p.r_ts AS r_ts, p.purchase_id AS purchase_id
        FROM c JOIN p
          ON c.user_id = p.user_id
         AND p.r_ts >= c.l_ts
         AND p.r_ts <= c.l_ts + INTERVAL 10 MINUTE
    ),
    unmatched AS (
        SELECT c.user_id, c.l_ts, c.click_id,
               CAST(NULL AS TIMESTAMP) AS r_ts,
               CAST(NULL AS BIGINT) AS purchase_id
        FROM c
        WHERE NOT EXISTS (
            SELECT 1 FROM p
            WHERE p.user_id = c.user_id
              AND p.r_ts >= c.l_ts
              AND p.r_ts <= c.l_ts + INTERVAL 10 MINUTE
        )
        AND c.l_ts + INTERVAL 10 MINUTE < (SELECT w FROM wm)
    )
    SELECT * FROM matched UNION ALL SELECT * FROM unmatched
    """,
    description="Stream-stream LEFT OUTER interval join (clicks left, "
    "purchases right, 10-min bound), run as two real watermarked streams "
    "drained with AvailableNow: matches emit immediately; a matchless "
    "click is HELD IN STATE until the global watermark (min across both "
    "streams' event-time maxima, minus the 10-min delay) proves no "
    "future purchase can land inside its bound, then emits once with "
    "nulls on the right. Clicks still inside the final watermark horizon "
    "are never emitted as unmatched — that truncation is the streaming "
    "outer-join contract on an unbounded feed, and the oracle restates "
    "it exactly (anti-join filtered to l_ts + bound < final watermark). "
    "Completes the join ladder: inner interval "
    "(streaming_interval_join_clicks_purchases) -> stream-static "
    "enrichment (streaming_static_enrichment_join) -> outer with "
    "watermark-driven null emission (this).",
)
def streaming_left_outer_interval_join(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from healthcare_data_lakehouse_spark.streaming.ingest import (
        run_interval_join_stream,
    )

    return run_interval_join_stream(
        spark, f"{sf_dir}/events.parquet", scratch_dir("stream_lojo_"), how="left_outer"
    ).select("user_id", "l_ts", "click_id", "r_ts", "purchase_id")


# ------------------- streaming right-to-erasure over deletion vectors
@register(
    "streaming_dv_forget_flow",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
    FROM events
    WHERE user_id % 13 <> 0
    GROUP BY event_type ORDER BY event_type
    """,
    description="Continuous right-to-erasure (GDPR Article 17) over the "
    "deletion-vector store: forget requests stream through foreachBatch "
    "into DVZoneStore.delete_keys_dv — each micro-batch writes only its "
    "deleted-KEY vector (O(|requests|) per batch, data commits never "
    "rewritten), the erased users' events disappear from every "
    "subsequent read via the vector anti-join, and checkpointed batch "
    "ids plus the key-delete's idempotence (already-deleted keys add "
    "an empty vector -> no-op, no version bump) make replays "
    "exactly-once in effect. This is the streaming twin of "
    "privacy_forget_user_erasure's batch path and the reason the DV "
    "design exists: at 100 TB a copy-on-write erasure per request "
    "would rewrite the table continuously, while the MoR vector "
    "absorbs a request stream at key-write cost and defers the "
    "rewrite to scheduled purge_dv compaction. The erasure feed is "
    "split into TWO source files so the drain provably applies "
    "multiple sequential DV commits. Oracle restates the drained "
    "result as one batch anti-filter.",
)
def streaming_dv_forget_flow(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from healthcare_data_lakehouse_spark.streaming.ingest import (
        stream_forget_to_zone,
    )
    from healthcare_data_lakehouse_spark.tables import table
    from healthcare_data_lakehouse_spark.zones import DataZone, LoadType
    from healthcare_data_lakehouse_spark.zones_dv import DVZoneStore

    work = scratch_dir("stream_dvforget_")
    ev = table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type"
    )
    store = DVZoneStore(spark, os.path.join(work, "zones"))
    store.write(DataZone.SILVER, "events_dv", ev, LoadType.FULL)
    # forget feed: two request writes side by side in one flat dir, so
    # the one-file-per-trigger drain applies them as separate micro-batches
    # -> at least two DV commits
    forget = ev.filter(F.col("user_id") % 13 == 0).select("user_id")
    requests = os.path.join(work, "requests")
    for parity in (0, 1):
        forget.filter(F.col("user_id") % 2 == parity).distinct().write.mode(
            "append"
        ).parquet(requests)
    remaining = stream_forget_to_zone(
        spark,
        requests,
        os.path.join(work, "w"),
        store,
        DataZone.SILVER,
        "events_dv",
        key_col="user_id",
    )
    return (
        remaining.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.countDistinct("user_id").cast("bigint").alias("n_users"),
        )
        .orderBy("event_type")
    )
