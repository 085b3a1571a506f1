"""Structured Streaming ingestion into the medallion zones.

The reference is batch-only (SURVEY.md §2.7 — no streaming exists), so this
module is the engine's scale extension, not parity work: a landing-zone
file watcher that incrementally ingests into Bronze, and watermarked
event-time aggregation for streaming Gold marts.

Design for scale:
* File-source streaming (``maxFilesPerTrigger``) gives incremental,
  exactly-once ingestion with checkpointing — the pattern for continuous
  100 TB feeds.
* ``Trigger.AvailableNow`` drains the backlog then stops, which is also
  how tests execute deterministically.
* Watermarks bound state for late data; tumbling windows aggregate
  event-time KPIs with state cleanup.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

__all__ = [
    "stream_files_to_bronze",
    "windowed_event_counts",
    "run_stream_to_table",
    "stateful_user_totals",
    "enrich_stream_with_dim",
    "dedup_stream_within_watermark",
    "stream_upsert_to_zone",
    "join_streams_within_interval",
    "run_interval_join_stream",
    "stream_incremental_gold_counts",
    "stream_neardup_admission",
]


def _stream_source_dir(source_parquet: str, work_dir: str) -> str:
    """File-source streams need a directory; symlink a lone file into one."""
    if os.path.isdir(source_parquet):
        return source_parquet
    src_dir = os.path.join(work_dir, "src")
    os.makedirs(src_dir, exist_ok=True)
    link = os.path.join(src_dir, os.path.basename(source_parquet))
    if not os.path.exists(link):
        os.symlink(os.path.abspath(source_parquet), link)
    return src_dir


def stream_files_to_bronze(
    spark: SparkSession,
    source_dir: str,
    schema: StructType,
    bronze_dir: str,
    checkpoint_dir: str,
    fmt: str = "parquet",
    max_files_per_trigger: int = 100,
):
    """Incrementally ingest files landing in ``source_dir`` into a Bronze
    parquet table. Returns the started StreamingQuery (AvailableNow —
    drains the current backlog and stops; swap the trigger for a
    continuous deployment)."""
    reader = (
        spark.readStream.format(fmt)
        .schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .load(source_dir)
    )
    stamped = reader.withColumn("_ingested_at", F.current_timestamp())
    return (
        stamped.writeStream.format("parquet")
        .option("path", bronze_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def windowed_event_counts(
    events: DataFrame,
    window: str = "5 minutes",
    watermark: str = "10 minutes",
    ts_col: str = "ts",
) -> DataFrame:
    """Watermarked tumbling-window KPIs per event_type.

    On a stream, the watermark bounds aggregation state (late rows beyond
    it are dropped); the same plan runs unchanged on a batch frame.
    """
    src = events
    if src.isStreaming:
        src = src.withWatermark(ts_col, watermark)
    return (
        src.groupBy(
            F.window(F.col(ts_col), window).alias("w"),
            F.col("event_type"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def run_stream_to_table(
    spark: SparkSession,
    source_parquet: str,
    work_dir: str,
    window: str = "1 hour",
    prepare=None,
    query_name: str = "stream_result",
) -> DataFrame:
    """Execute the windowed-count pipeline AS A STREAM over a bounded
    parquet source (AvailableNow) and return the materialized result.

    Deterministic harness for tests and oracle compares: the stream drains
    completely, so the final table equals the batch answer over the same
    input. Complete output mode + memory sink so no window is withheld
    behind the watermark at end-of-stream (a bounded-drain artifact; a
    continuous deployment uses append mode + a file/Kafka sink).

    ``prepare`` optionally rewrites the raw stream DataFrame (e.g. the
    events fixture needs its nanosecond ts converted) before aggregation.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema = spark.read.parquet(source_parquet).schema
    stream = spark.readStream.schema(schema).parquet(
        _stream_source_dir(source_parquet, work_dir)
    )
    if prepare is not None:
        stream = prepare(stream)
    out = windowed_event_counts(stream, window=window)
    q = (
        out.writeStream.format("memory")
        .queryName(query_name)
        .outputMode("complete")
        .option(
            "checkpointLocation", os.path.join(work_dir, "chk")
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(query_name)


def stateful_user_totals(
    spark: SparkSession,
    source_parquet: str,
    work_dir: str,
    query_name: str = "stateful_result",
) -> DataFrame:
    """Custom stateful streaming operator: per-user running totals held in
    ``applyInPandasWithState`` group state across micro-batches.

    This is the pattern for stateful logic Spark's built-in aggregates can't
    express (per-key models, custom eviction): Arrow-batched pandas per
    group, explicit state schema, update output mode. State is partitioned
    by the grouping key, so it scales horizontally with executors; at 100 TB
    the state store (RocksDB in a cluster deployment) spills per-key state
    off-heap.

    Drained with AvailableNow over a bounded source; the final update per
    key (selected by the monotone event count) equals the batch aggregate —
    which is what the oracle asserts.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.window import Window

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema = spark.read.parquet(source_parquet).schema
    stream = (
        spark.readStream.schema(schema)
        .parquet(_stream_source_dir(source_parquet, work_dir))
        .select("user_id", "value")
    )

    def update(key, pdfs, state: GroupState):
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, total))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "sum_value": [total]}
        )

    out = stream.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType="user_id bigint, n_events bigint, sum_value double",
        stateStructType="n bigint, total double",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    q = (
        out.writeStream.format("memory")
        .queryName(query_name)
        .outputMode("update")
        .option("checkpointLocation", os.path.join(work_dir, "chk"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # last update per key = the row with the (monotone) max event count
    w = Window.partitionBy("user_id").orderBy(F.col("n_events").desc())
    return (
        spark.table(query_name)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id", "n_events", F.round("sum_value", 2).alias("sum_value")
        )
    )


def enrich_stream_with_dim(
    stream: DataFrame, dim: DataFrame, key: str
) -> DataFrame:
    """Stream-static join: enrich a streaming fact with a batch dimension.

    The static side is broadcast to every micro-batch (re-read per batch,
    so slowly-changing dims pick up updates between triggers); the stream
    side never shuffles for the join. This is the streaming counterpart
    of the Gold-mart star join — stateless, so no watermark is needed.
    """
    return stream.join(F.broadcast(dim), key, "left")


def dedup_stream_within_watermark(
    stream: DataFrame,
    keys: list[str],
    ts_col: str = "ts",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Exactly-once-per-key streaming dedup with BOUNDED state.

    ``dropDuplicates`` on a stream keeps every key seen forever;
    ``dropDuplicatesWithinWatermark`` expires key state once the
    watermark passes it — the only formulation that survives an
    unbounded feed. At-least-once upstream delivery (file redelivery,
    Kafka replays) becomes exactly-once per key within the lateness
    horizon.
    """
    if stream.isStreaming:
        return stream.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
            keys
        )
    return stream.dropDuplicates(keys)


def stream_upsert_to_zone(
    spark: SparkSession,
    source_parquet: str,
    work_dir: str,
    store,
    zone,
    dataset: str,
    id_col: str = "event_id",
    prepare=None,
):
    """Continuous MERGE: foreachBatch upsert of each micro-batch into a
    zone table keyed by ``id_col``.

    ``foreachBatch`` is the streaming escape hatch for sinks Spark has no
    native writer for (MERGE semantics here). Each batch id is recorded by
    the checkpoint, so a replayed batch re-merges idempotently — the
    classic exactly-once upsert recipe (maps to ``MERGE INTO`` on Delta in
    deployment; locally the parquet ZoneStore rewrite).
    """
    from healthcare_data_lakehouse_spark.zones import LoadType

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema = spark.read.parquet(source_parquet).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(_stream_source_dir(source_parquet, work_dir))
    )
    if prepare is not None:
        stream = prepare(stream)

    def upsert(batch_df: DataFrame, batch_id: int) -> None:
        store.write(zone, dataset, batch_df, LoadType.MERGE, id_field=id_col)

    q = (
        stream.writeStream.foreachBatch(upsert)
        .option("checkpointLocation", os.path.join(work_dir, "chk"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return store.read(zone, dataset)


def join_streams_within_interval(
    left: DataFrame,
    right: DataFrame,
    key: str = "user_id",
    left_ts: str = "l_ts",
    right_ts: str = "r_ts",
    max_delay: str = "10 minutes",
    watermark: str = "10 minutes",
    how: str = "inner",
) -> DataFrame:
    """Stream-stream join: a right-side event matches a left-side
    event with the same key when it lands within ``(left_ts, left_ts +
    max_delay]``.

    ``how='left_outer'`` adds the outer-join streaming semantics: a left
    row with NO match is held in state until the watermark proves no
    future right row can satisfy the time bound (watermark past
    ``left_ts + max_delay``), then emitted once with nulls on the right
    side. On a drained bounded feed this means left rows inside the
    final watermark horizon are never emitted as unmatched — that
    truncation IS the streaming contract, and the batch oracle must
    restate it.

    Both sides carry event-time watermarks and the join predicate carries
    the time bound — together they let Spark EXPIRE buffered rows on both
    sides (a left row can't match once the right watermark passes
    ``left_ts + max_delay``), so join state stays bounded on an unbounded
    feed. Without the interval condition a stream-stream join must buffer
    both streams forever. Inner-join matches emit immediately (append
    mode); the watermark governs only state eviction.

    The same plan runs unchanged on batch frames (no watermark applied),
    which is what the DuckDB oracle compares against.
    """
    if left.isStreaming:
        left = left.withWatermark(left_ts, watermark)
    if right.isStreaming:
        right = right.withWatermark(right_ts, watermark)
    cond = (
        (left[key] == right[key])
        & (right[right_ts] >= left[left_ts])
        & (right[right_ts] <= left[left_ts] + F.expr(f"INTERVAL {max_delay}"))
    )
    return left.join(right, cond, how).drop(right[key])


def run_interval_join_stream(
    spark: SparkSession,
    source_parquet: str,
    work_dir: str,
    query_name: str = "interval_join_result",
    max_delay: str = "10 minutes",
    how: str = "inner",
) -> DataFrame:
    """Run the click->purchase interval join AS two real streams over the
    bounded events source, drained with AvailableNow, and return the
    materialized result table."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema = spark.read.parquet(source_parquet).schema
    src_dir = _stream_source_dir(source_parquet, work_dir)

    def typed_stream() -> DataFrame:
        from healthcare_data_lakehouse_spark.tables import normalize_event_ts

        return normalize_event_ts(spark.readStream.schema(schema).parquet(src_dir))

    clicks = (
        typed_stream()
        .filter(F.col("event_type") == "click")
        .select(
            "user_id",
            F.col("ts").alias("l_ts"),
            F.col("event_id").alias("click_id"),
        )
    )
    purchases = (
        typed_stream()
        .filter(F.col("event_type") == "purchase")
        .select(
            "user_id",
            F.col("ts").alias("r_ts"),
            F.col("event_id").alias("purchase_id"),
        )
    )
    joined = join_streams_within_interval(
        clicks, purchases, max_delay=max_delay, how=how
    )
    q = (
        joined.writeStream.format("memory")
        .queryName(query_name)
        .outputMode("append")
        .option("checkpointLocation", os.path.join(work_dir, "chk"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(query_name)


def stream_incremental_gold_counts(
    spark: SparkSession,
    source_parquet: str,
    work_dir: str,
    store,
    zone,
    dataset: str,
    key_col: str = "event_type",
):
    """Streaming materialized view: maintain a Gold aggregate
    incrementally. Each micro-batch computes its partial counts/sums and
    merges them ADDITIVELY into the zone table (matched keys accumulate,
    new keys insert) — the foreachBatch pattern for `MERGE INTO ...
    UPDATE SET n = n + batch.n` where the sink has no native additive
    merge. State lives in the table, not the stream: a restart resumes
    from the checkpoint and the aggregate is never recomputed from
    scratch. At 100 TB this is how continuously-updated Gold marts avoid
    full-history reaggregation."""
    from pyspark.sql import functions as FX

    from healthcare_data_lakehouse_spark.zones import LoadType

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema = spark.read.parquet(source_parquet).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(_stream_source_dir(source_parquet, work_dir))
    )

    def merge_partials(batch_df: DataFrame, batch_id: int) -> None:
        partial = batch_df.groupBy(key_col).agg(
            FX.count(FX.lit(1)).alias("n_events"),
            FX.sum("value").alias("sum_value"),
        )
        existing = store.read(zone, dataset)
        if existing is not None:
            partial = (
                existing.unionByName(partial)
                .groupBy(key_col)
                .agg(
                    FX.sum("n_events").alias("n_events"),
                    FX.sum("sum_value").alias("sum_value"),
                )
            )
        store.write(zone, dataset, partial, LoadType.FULL)

    q = (
        stream.writeStream.foreachBatch(merge_partials)
        .option("checkpointLocation", os.path.join(work_dir, "chk"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return store.read(zone, dataset)


def stream_stateful_anomaly_monitor(
    spark,
    source_parquet: str,
    work_dir: str,
    query_name: str = "anomaly_monitor",
):
    """Streaming per-key anomaly detection with Welford state.

    Each user's (count, mean, M2) accumulates across micro-batches in
    ``applyInPandasWithState``; every incoming value is scored against the
    state BEFORE it updates (no self-leakage, matching the batch monitor
    ``events_value_anomalies``), flagged at |z| > 3 once 10+ observations
    back the estimate. Emits the running profile + flag count per key.

    Welford's update is numerically stable and exact for count/mean in any
    arrival order; M2 differs only at float rounding across orders — the
    test asserts agreement with the batch variance to 1e-6 relative.
    State is O(3 doubles) per key: a 100 TB stream with 1e9 users carries
    ~24 GB of state sharded across the cluster's state stores.
    """
    import os

    import pandas as pd
    from pyspark.sql import functions as F  # noqa: F401  (parity w/ siblings)
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.window import Window

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema = spark.read.parquet(source_parquet).schema
    stream = (
        spark.readStream.schema(schema)
        .parquet(_stream_source_dir(source_parquet, work_dir))
        .select("user_id", "value")
    )

    def update(key, pdfs, state: GroupState):
        n, mean, m2, flagged = (
            state.get if state.exists else (0, 0.0, 0.0, 0)
        )
        for pdf in pdfs:
            for x in pdf["value"].astype(float):
                if n >= 10:
                    var = m2 / (n - 1)
                    if var > 0 and abs(x - mean) > 3 * var**0.5:
                        flagged += 1
                n += 1
                delta = x - mean
                mean += delta / n
                m2 += delta * (x - mean)
        state.update((n, mean, m2, flagged))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "mean_value": [mean],
                "m2": [m2],
                "n_flagged": [flagged],
            }
        )

    out = stream.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=(
            "user_id bigint, n_events bigint, mean_value double, "
            "m2 double, n_flagged bigint"
        ),
        stateStructType="n bigint, mean double, m2 double, flagged bigint",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    q = (
        out.writeStream.format("memory")
        .queryName(query_name)
        .outputMode("update")
        .option("checkpointLocation", os.path.join(work_dir, "chk_anom"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    w = Window.partitionBy("user_id").orderBy(F.col("n_events").desc())
    return (
        spark.table(query_name)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "n_events", "mean_value", "m2", "n_flagged")
    )


def session_window_counts(
    events: DataFrame,
    gap: str = "10 minutes",
    watermark: str = "30 minutes",
    ts_col: str = "ts",
) -> DataFrame:
    """Per-user session windows (sessions close after ``gap`` of
    inactivity) — one plan for batch and stream.

    Streaming session windows are MERGING state: unlike tumbling windows,
    a late-but-in-watermark row can fuse two open sessions, so the state
    store must support window merge (Spark's session-window state does);
    the watermark is what lets merged sessions ever finalize and evict.
    """
    src = events
    if src.isStreaming:
        src = src.withWatermark(ts_col, watermark)
    return (
        src.groupBy(
            F.col("user_id"),
            F.session_window(F.col(ts_col), gap).alias("sw"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            "user_id",
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n_events",
            "sum_value",
        )
    )


def run_session_stream(
    spark: SparkSession,
    source_parquet: str,
    work_dir: str,
    gap: str = "10 minutes",
    prepare=None,
    query_name: str = "stream_sessions",
) -> DataFrame:
    """Drain the session-window pipeline as an AvailableNow stream over a
    bounded parquet source; complete mode + memory sink so the final
    table equals the batch answer (same harness as run_stream_to_table)."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema = spark.read.parquet(source_parquet).schema
    stream = spark.readStream.schema(schema).parquet(
        _stream_source_dir(source_parquet, work_dir)
    )
    if prepare is not None:
        stream = prepare(stream)
    out = session_window_counts(stream, gap=gap)
    q = (
        out.writeStream.format("memory")
        .queryName(query_name)
        .outputMode("complete")
        .option("checkpointLocation", os.path.join(work_dir, "chk_sess"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(query_name)


def stateful_totals_tws(
    spark: SparkSession,
    source_parquet: str,
    work_dir: str,
    query_name: str = "tws_result",
) -> DataFrame:
    """Per-user running totals via ``transformWithStateInPandas`` — the
    Spark 4 arbitrary-state API that supersedes ``applyInPandasWithState``
    (SPARK-46815): a ``StatefulProcessor`` object with named, composable
    state variables (ValueState here; ListState/MapState/timers available),
    instead of one monolithic state tuple threaded through a function.
    Requires the RocksDB state store provider, which is also the right
    production choice at 100 TB state (off-heap, incremental snapshots).

    Same drain-and-compare contract as :func:`stateful_user_totals`: the
    final update per key equals the batch aggregate.

    ENVIRONMENT GATE: the transformWithState protocol speaks protobuf
    between the JVM and the Python stateful-processor worker; without
    ``google.protobuf`` installed the worker crashes at init, so this
    raises ``NotImplementedError`` up front with the dependency named.
    ``applyInPandasWithState`` (:func:`stateful_user_totals`) covers the
    same semantics protobuf-free and is what the catalog verifies here.
    """
    import importlib.util

    if importlib.util.find_spec("google") is None or importlib.util.find_spec(
        "google.protobuf"
    ) is None:
        raise NotImplementedError(
            "transformWithStateInPandas needs the 'protobuf' package "
            "(google.protobuf) for the JVM<->Python state protocol; "
            "install protobuf or use stateful_user_totals "
            "(applyInPandasWithState) which needs no extra dependency"
        )

    import pandas as pd
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )
    from pyspark.sql.window import Window

    class RunningTotals(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._totals = handle.getValueState(
                "totals", "n BIGINT, total DOUBLE"
            )

        def handleInputRows(self, key, rows, timerValues):
            n, total = (
                self._totals.get() if self._totals.exists() else (0, 0.0)
            )
            for pdf in rows:
                n += len(pdf)
                total += float(pdf["value"].sum())
            self._totals.update((n, total))
            yield pd.DataFrame(
                {"user_id": [key[0]], "n_events": [n], "sum_value": [total]}
            )

        def close(self) -> None:
            pass

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    prev_provider = spark.conf.get(
        "spark.sql.streaming.stateStore.providerClass", None
    )
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    try:
        schema = spark.read.parquet(source_parquet).schema
        stream = (
            spark.readStream.schema(schema)
            .parquet(_stream_source_dir(source_parquet, work_dir))
            .select("user_id", "value")
        )
        out = stream.groupBy("user_id").transformWithStateInPandas(
            statefulProcessor=RunningTotals(),
            outputStructType="user_id bigint, n_events bigint, sum_value double",
            outputMode="Update",
            timeMode="None",
        )
        q = (
            out.writeStream.format("memory")
            .queryName(query_name)
            .outputMode("update")
            .option("checkpointLocation", os.path.join(work_dir, "chk"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        if prev_provider is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set(
                "spark.sql.streaming.stateStore.providerClass", prev_provider
            )
    w = Window.partitionBy("user_id").orderBy(F.col("n_events").desc())
    return (
        spark.table(query_name)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id", "n_events", F.round("sum_value", 2).alias("sum_value")
        )
    )


def stream_neardup_admission(
    spark: SparkSession,
    source_dir: str,
    schema: StructType,
    store,
    zone,
    dataset: str,
    checkpoint_dir: str,
    threshold: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
):
    """Streaming corpus ingestion with NEAR-duplicate admission control —
    the continuous form of the incremental dedup gate
    (``functions/dedup.py::lsh_probe``): every micro-batch probes the
    ALREADY-MATERIALIZED corpus's LSH index, only non-colliding documents
    are appended, and the index the next batch probes therefore includes
    this batch's admissions.

    Semantics: the corpus index advances at micro-batch boundaries —
    documents within one batch all probe the same index snapshot and do
    not gate each other (per-batch atomicity, the same granularity as
    every foreachBatch sink). Near-dup admission cannot be expressed as a
    stateless stream operator or watermark dedup (the state is the whole
    corpus index, keyed by LSH bucket, not by event key/time), so
    ``foreachBatch`` + the ZoneStore-materialized index is the correct
    Spark formulation; at 100 TB the corpus side is the appended
    signature/bucket table, so each batch pays its own signatures plus a
    candidate-bounded probe join — never a rescan of the corpus text.

    Each batch also appends one audit row (batch_id, n_in, n_admitted,
    n_rejected) to ``<dataset>_audit``. Returns the started AvailableNow
    StreamingQuery.
    """
    from healthcare_data_lakehouse_spark.functions import dedup as D
    from healthcare_data_lakehouse_spark.zones import LoadType

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(source_dir)
    )

    def gate(batch_df: DataFrame, batch_id: int) -> None:
        # n_in is observed by the first action over the batch (at the
        # latest, the admission write)
        seen = Observation()
        batch = (
            batch_df.select(id_col, text_col)
            .observe(seen, F.count(F.lit(1)).alias("rows"))
            .persist()
        )
        try:
            corpus = store.read(zone, dataset)
            if corpus is None:
                admitted = batch
            else:
                hits = D.lsh_probe(
                    corpus.select(id_col, text_col),
                    batch,
                    threshold=threshold,
                    id_col=id_col,
                    text_col=text_col,
                )
                dup_ids = hits.select(
                    F.col("incoming_id").alias(id_col)
                ).distinct()
                admitted = batch.join(dup_ids, id_col, "left_anti")
            n_adm = store.write(
                zone, dataset, admitted, LoadType.APPEND, id_field=id_col
            )
            n_in = seen.get["rows"]
            audit = spark.createDataFrame(
                [(int(batch_id), int(n_in), int(n_adm), int(n_in - n_adm))],
                "batch_id long, n_in long, n_admitted long, n_rejected long",
            )
            store.write(zone, f"{dataset}_audit", audit, LoadType.APPEND)
        finally:
            batch.unpersist()

    return (
        stream.writeStream.foreachBatch(gate)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def quality_admission_condition() -> "Column":
    """Row-local admission predicate for streaming quality gating: TRUE
    when the record FAILS any rule that can be decided from the row alone
    — completeness of (id, patient_id, birth_date), patient-id format
    validity, age / heart-rate range accuracy, and admission-vs-discharge
    date consistency. Mirrors DQ001/DQ003/DQ005 plus the CONSISTENCY rule
    from ``quality.py``; UNIQUENESS and referential INTEGRITY are
    deliberately absent — they cannot be decided row-locally on a stream
    and belong to the incremental index gates (``lsh_probe``, MERGE) that
    hold materialized state. Exposed as a plain Column so the batch
    validator, the streaming gate, and the oracle restatement stay in
    lockstep."""
    populated = lambda c: F.col(c).isNotNull() & (  # noqa: E731
        F.trim(F.col(c).cast("string")) != ""
    )
    completeness_fail = ~(
        populated("id") & populated("patient_id") & populated("birth_date")
    )
    validity_fail = populated("patient_id") & ~F.col("patient_id").rlike(
        r"^MRN[0-9]{9}$"
    )
    accuracy_fail = (
        F.col("age").isNotNull() & ~F.col("age").between(0.0, 120.0)
    ) | (
        F.col("heart_rate").isNotNull()
        & ~F.col("heart_rate").between(20.0, 250.0)
    )
    # try_cast, not cast: under ANSI mode (Spark 4 default) a plain cast
    # THROWS on the fixture's MM/dd/yyyy dates instead of yielding NULL
    adm = F.expr("try_cast(admission_date AS date)")
    dis = F.expr("try_cast(discharge_date AS date)")
    consistency_fail = (
        adm.isNotNull() & dis.isNotNull() & (dis < adm)
    )
    return completeness_fail | validity_fail | accuracy_fail | consistency_fail


def stream_quality_admission(
    spark: SparkSession,
    source_dir: str,
    schema: StructType,
    store,
    zone,
    dataset: str,
    checkpoint_dir: str,
):
    """Streaming ingestion with a per-row QUALITY admission gate: every
    micro-batch is split by :func:`quality_admission_condition` — passing
    rows append to the zone dataset, failing rows land in the quarantine
    sink under a per-batch job id, and one audit row per batch records
    the split. The batch-equivalence guarantee holds because the gate is
    row-local (no batch-level aggregate feeds the decision), so the
    drained result equals one batch pass over the union — which is
    exactly what the oracle computes. At scale this is the
    bronze-admission topology: the gate is a narrow filter fused into the
    micro-batch scan, the quarantine write is the only extra sink, and no
    state store is involved at all."""
    from healthcare_data_lakehouse_spark.zones import LoadType

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(source_dir)
    )
    fail = quality_admission_condition()

    def gate(batch_df: DataFrame, batch_id: int) -> None:
        # n_in is observed by the quarantine write, the first action over
        # the batch
        seen = Observation()
        batch = (
            batch_df.withColumn("__fail", fail)
            .observe(seen, F.count(F.lit(1)).alias("rows"))
            .persist()
        )
        try:
            quarantined = batch.filter(F.col("__fail")).drop("__fail")
            passed = batch.filter(~F.col("__fail")).drop("__fail")
            n_q = store.write_quarantine(
                f"{dataset}_gate_b{batch_id}",
                quarantined,
                reason="failed_row_rules",
                quality_score=0.0,
                batch_ts=str(batch_id),
            )
            n_adm = store.write(zone, dataset, passed, LoadType.APPEND)
            n_in = seen.get["rows"]
            audit = spark.createDataFrame(
                [(int(batch_id), int(n_in), int(n_adm), int(n_q))],
                "batch_id long, n_in long, n_admitted long, n_quarantined long",
            )
            store.write(zone, f"{dataset}_audit", audit, LoadType.APPEND)
        finally:
            batch.unpersist()

    return (
        stream.writeStream.foreachBatch(gate)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def sliding_topk_event_types(
    spark: SparkSession,
    source_parquet: str,
    work_dir: str,
    window: str = "1 hour",
    slide: str = "15 minutes",
    k: int = 3,
    prepare=None,
    query_name: str = "sliding_topk_result",
) -> DataFrame:
    """SLIDING-window event-type counts as a stream, then top-k per window.

    The stream computes the heavy part — each event fans out to the
    window/slide covering windows (4 here) inside the streaming agg, with
    the watermark bounding state. Ranking is not a streaming-supported
    aggregate, so the drained (bounded, AvailableNow) result is ranked as
    a batch post-pass — exactly the two-phase shape a production job uses
    (stream maintains counts; a cheap downstream consumer ranks).
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema = spark.read.parquet(source_parquet).schema
    stream = spark.readStream.schema(schema).parquet(
        _stream_source_dir(source_parquet, work_dir)
    )
    if prepare is not None:
        stream = prepare(stream)
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(
            F.window(F.col("ts"), window, slide).alias("w"),
            F.col("event_type"),
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    q = (
        agg.writeStream.format("memory")
        .queryName(query_name)
        .outputMode("complete")
        .option("checkpointLocation", os.path.join(work_dir, "chk"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    res = spark.table(query_name)
    from pyspark.sql.window import Window as W

    rank_w = W.partitionBy("w").orderBy(
        F.col("n_events").desc(), F.col("event_type")
    )
    return (
        res.withColumn("rank", F.row_number().over(rank_w).cast("bigint"))
        .filter(F.col("rank") <= k)
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            F.col("n_events").cast("bigint").alias("n_events"),
            "rank",
        )
    )


def stream_forget_to_zone(
    spark: SparkSession,
    source_parquet: str,
    work_dir: str,
    store,
    zone,
    dataset: str,
    key_col: str = "user_id",
):
    """Continuous right-to-erasure: each micro-batch of forget requests
    (rows carrying ``key_col``) is applied to a deletion-vector zone
    table via :meth:`zones_dv.DVZoneStore.delete_keys_dv` — the GDPR
    stream shape. Deletes never rewrite data commits (O(|keys|) per
    batch); checkpointed batch ids plus the key-delete's idempotence
    (already-deleted keys add an empty vector -> no-op) make replays
    exactly-once in effect. Compaction (`purge_dv`) runs on the
    maintenance schedule, not in the hot erasure path."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema = spark.read.parquet(source_parquet).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(_stream_source_dir(source_parquet, work_dir))
    )

    def forget(batch_df: DataFrame, batch_id: int) -> None:
        store.delete_keys_dv(zone, dataset, batch_df, key_col=key_col)

    q = (
        stream.writeStream.foreachBatch(forget)
        .option("checkpointLocation", os.path.join(work_dir, "chk"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return store.read(zone, dataset)
