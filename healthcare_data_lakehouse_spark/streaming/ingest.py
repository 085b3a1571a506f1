"""Structured Streaming ingestion into the medallion zones.

The reference is batch-only (SURVEY.md §2.7 — no streaming exists), so this
module is the engine's scale extension, not parity work: a landing-zone
file watcher that incrementally ingests into Bronze, ``foreachBatch``
sinks into the zone store (MERGE upserts, additive Gold counts, admission
gates, right-to-erasure), and watermarked event-time operators for
streaming Gold marts.

Every stream runs through one harness:

* ``_file_stream`` opens a parquet file or directory as a file source with
  the schema of its files. It is the only place that sets ``nanosAsLong``
  and normalizes the events ``ts`` (as ``tables.table`` does for batch
  reads); ``max_files`` caps the files per micro-batch.
* ``_drain`` runs a writer with ``Trigger.AvailableNow``: it drains the
  backlog and stops, so every result is deterministic and equals the
  batch answer over the same input. A continuous deployment swaps the
  trigger; checkpointing gives exactly-once ingestion either way.
* ``_drain_to_table`` drains into a memory sink under a generated name and
  returns the result frame. It drops the sink's temporary view before
  returning, so no result outlives the frame that holds it.

Watermarks bound state for late data; windowed aggregates, joins and
dedup clean their state up as the watermark passes.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType
from pyspark.sql.window import Window

from healthcare_data_lakehouse_spark.tables import _read_parquet, normalize_event_ts
from healthcare_data_lakehouse_spark.zones import LoadType

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


def _file_stream(
    spark: SparkSession, source: str, work_dir: str, max_files: int | None = None
) -> DataFrame:
    """Open the parquet file or directory ``source`` as a file stream with
    the schema of its files and ``ts`` normalized (a no-op on a frame
    without ``ts``); ``max_files`` caps the files per micro-batch. A
    file's schema comes from ``tables.table``'s memo, so reopening an
    unchanged file starts no Spark job; a directory is inferred anew."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    _, schema = _read_parquet(spark, source)
    reader = spark.readStream.schema(schema)
    if max_files is not None:
        reader = reader.option("maxFilesPerTrigger", max_files)
    return normalize_event_ts(reader.parquet(_stream_source_dir(source, work_dir)))


def _drain(writer, checkpoint: str) -> None:
    """Run the stream ``writer`` until its source is drained, then stop."""
    (
        writer.option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


def _drain_to_table(df: DataFrame, work_dir: str, mode: str) -> DataFrame:
    """Drain ``df`` in output ``mode`` into a memory sink and return the
    sink's rows. The frame keeps the sink's data; its temporary view is
    dropped, so the session's views are as they were."""
    name = f"drain_{uuid.uuid4().hex}"
    _drain(
        df.writeStream.format("memory").queryName(name).outputMode(mode),
        os.path.join(work_dir, "chk"),
    )
    out = df.sparkSession.table(name)
    df.sparkSession.catalog.dropTempView(name)
    return out


def _drain_user_state(
    spark: SparkSession,
    source: str,
    work_dir: str,
    update,
    output: str,
    state: str,
) -> DataFrame:
    """Drain ``update`` as per-user ``applyInPandasWithState`` group state
    over the ``user_id, value`` rows of ``source`` (update output mode) and
    keep each user's last update: the row with the largest ``n_events``,
    which grows with every update."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    out = (
        _file_stream(spark, source, work_dir)
        .select("user_id", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType=output,
            stateStructType=state,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    last = Window.partitionBy("user_id").orderBy(F.col("n_events").desc())
    return (
        _drain_to_table(out, work_dir, "update")
        .withColumn("rn", F.row_number().over(last))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


def stream_files_to_bronze(
    spark: SparkSession,
    source_dir: str,
    schema: StructType,
    bronze_dir: str,
    checkpoint_dir: str,
    fmt: str = "parquet",
    max_files_per_trigger: int = 100,
) -> None:
    """Incrementally ingest the files landed in ``source_dir`` into a
    Bronze parquet table, stamping each row with ``_ingested_at``, and
    return once the backlog is drained."""
    stream = (
        spark.readStream.format(fmt)
        .schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .load(source_dir)
    )
    _drain(
        stream.withColumn("_ingested_at", F.current_timestamp())
        .writeStream.format("parquet")
        .option("path", bronze_dir),
        checkpoint_dir,
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
) -> DataFrame:
    """Execute the windowed-count pipeline AS A STREAM over a bounded
    parquet source (AvailableNow) and return the materialized result.

    The stream drains completely, so the final table equals the batch
    answer over the same input. Complete output mode, so no window is
    withheld behind the watermark at end-of-stream (a bounded-drain
    artifact; a continuous deployment uses append mode and a file or
    Kafka sink).
    """
    out = windowed_event_counts(
        _file_stream(spark, source_parquet, work_dir), window=window
    )
    return _drain_to_table(out, work_dir, "complete")


def stateful_user_totals(
    spark: SparkSession,
    source_parquet: str,
    work_dir: str,
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

    def update(key, pdfs, state):
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, total))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "sum_value": [total]}
        )

    return _drain_user_state(
        spark,
        source_parquet,
        work_dir,
        update,
        "user_id bigint, n_events bigint, sum_value double",
        "n bigint, total double",
    ).select("user_id", "n_events", F.round("sum_value", 2).alias("sum_value"))


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
):
    """Continuous MERGE: foreachBatch upsert of each micro-batch into a
    zone table keyed by ``id_col``.

    ``foreachBatch`` is the streaming escape hatch for sinks Spark has no
    native writer for (MERGE semantics here). Each batch id is recorded by
    the checkpoint, so a replayed batch re-merges idempotently — the
    classic exactly-once upsert recipe (maps to ``MERGE INTO`` on Delta in
    deployment; locally the parquet ZoneStore rewrite).
    """

    def upsert(batch_df: DataFrame, batch_id: int) -> None:
        store.write(zone, dataset, batch_df, LoadType.MERGE, id_field=id_col)

    _drain(
        _file_stream(spark, source_parquet, work_dir, max_files=1)
        .writeStream.foreachBatch(upsert),
        os.path.join(work_dir, "chk"),
    )
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

    The right key is renamed before the join and dropped by that name
    after it: when both sides are projections of one frame, ``right[key]``
    cannot be told apart from ``left[key]``, and dropping it could drop
    the left key instead.
    """
    if left.isStreaming:
        left = left.withWatermark(left_ts, watermark)
    if right.isStreaming:
        right = right.withWatermark(right_ts, watermark)
    right_key = f"__right_{key}"
    right = right.withColumnRenamed(key, right_key)
    cond = (
        (left[key] == right[right_key])
        & (right[right_ts] >= left[left_ts])
        & (right[right_ts] <= left[left_ts] + F.expr(f"INTERVAL {max_delay}"))
    )
    return left.join(right, cond, how).drop(right_key)


def run_interval_join_stream(
    spark: SparkSession,
    source_parquet: str,
    work_dir: str,
    max_delay: str = "10 minutes",
    how: str = "inner",
) -> DataFrame:
    """Run the click->purchase interval join AS two real streams over the
    bounded events source, drained with AvailableNow, and return the
    materialized result table."""

    # each side is its own file stream over the source; the join renames
    # the right key, so the sides' user_id columns never collide
    def side(event_type: str, ts: str, id_col: str) -> DataFrame:
        return (
            _file_stream(spark, source_parquet, work_dir)
            .filter(F.col("event_type") == event_type)
            .select("user_id", F.col("ts").alias(ts), F.col("event_id").alias(id_col))
        )

    joined = join_streams_within_interval(
        side("click", "l_ts", "click_id"),
        side("purchase", "r_ts", "purchase_id"),
        max_delay=max_delay,
        how=how,
    )
    return _drain_to_table(joined, work_dir, "append")


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

    def merge_partials(batch_df: DataFrame, batch_id: int) -> None:
        partial = batch_df.groupBy(key_col).agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("sum_value"),
        )
        existing = store.read(zone, dataset)
        if existing is not None:
            partial = (
                existing.unionByName(partial)
                .groupBy(key_col)
                .agg(
                    F.sum("n_events").alias("n_events"),
                    F.sum("sum_value").alias("sum_value"),
                )
            )
        store.write(zone, dataset, partial, LoadType.FULL)

    _drain(
        _file_stream(spark, source_parquet, work_dir, max_files=1)
        .writeStream.foreachBatch(merge_partials),
        os.path.join(work_dir, "chk"),
    )
    return store.read(zone, dataset)


def stream_stateful_anomaly_monitor(
    spark,
    source_parquet: str,
    work_dir: str,
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
    import pandas as pd

    def update(key, pdfs, state):
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

    return _drain_user_state(
        spark,
        source_parquet,
        work_dir,
        update,
        "user_id bigint, n_events bigint, mean_value double, m2 double, "
        "n_flagged bigint",
        "n bigint, mean double, m2 double, flagged bigint",
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
) -> DataFrame:
    """Drain the session-window pipeline as an AvailableNow stream over a
    bounded parquet source; complete mode, so the final table equals the
    batch answer (same harness as run_stream_to_table)."""
    out = session_window_counts(
        _file_stream(spark, source_parquet, work_dir), gap=gap
    )
    return _drain_to_table(out, work_dir, "complete")


def _drain_gate(
    spark: SparkSession, source_dir: str, schema: StructType, checkpoint_dir: str, gate
) -> None:
    """Drain the files under ``source_dir`` through the ``foreachBatch``
    function ``gate``, one file per micro-batch in file-mtime order."""
    _drain(
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(source_dir)
        .writeStream.foreachBatch(gate),
        checkpoint_dir,
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
    n_rejected) to ``<dataset>_audit``. Returns once ``source_dir`` is
    drained.
    """
    from healthcare_data_lakehouse_spark.functions import dedup as D

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

    _drain_gate(spark, source_dir, schema, checkpoint_dir, gate)


def quality_admission_condition() -> Column:
    """Row-local admission predicate for streaming quality gating: TRUE
    when the record FAILS any check that can be decided from the row alone
    — completeness of (id, patient_id, birth_date), an ``MRN`` + nine-digit
    patient id, age within 0-120 and heart rate within 20-250, and
    discharge not before admission. It is a gate of its own, not a copy of
    the batch rules: the validator in ``quality.py`` never calls it, its id
    pattern and vital bounds are narrower than DQ003's and DQ006's, and it
    has no uniqueness check. UNIQUENESS and referential INTEGRITY cannot be
    decided row-locally on a stream and belong to the incremental index
    gates (``lsh_probe``, MERGE) that hold materialized state. Its oracle is
    the ``streaming_quality_admission_gate`` SQL restatement
    (``_GATE_FAIL_SQL``)."""
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
    state store is involved at all. Returns once ``source_dir`` is
    drained."""
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

    _drain_gate(spark, source_dir, schema, checkpoint_dir, gate)


def sliding_topk_event_types(
    spark: SparkSession,
    source_parquet: str,
    work_dir: str,
    window: str = "1 hour",
    slide: str = "15 minutes",
    k: int = 3,
) -> DataFrame:
    """SLIDING-window event-type counts as a stream, then top-k per window.

    The stream computes the heavy part — each event fans out to the
    window/slide covering windows (4 here) inside the streaming agg, with
    the watermark bounding state. Ranking is not a streaming-supported
    aggregate, so the drained (bounded, AvailableNow) result is ranked as
    a batch post-pass — exactly the two-phase shape a production job uses
    (stream maintains counts; a cheap downstream consumer ranks).
    """
    agg = (
        _file_stream(spark, source_parquet, work_dir)
        .withWatermark("ts", "10 minutes")
        .groupBy(
            F.window(F.col("ts"), window, slide).alias("w"),
            F.col("event_type"),
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    res = _drain_to_table(agg, work_dir, "complete")
    rank_w = Window.partitionBy("w").orderBy(
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
    exactly-once in effect. Compaction (``compact``, whose one rewrite
    retires the vectors, or ``purge_dv``) runs on the maintenance
    schedule, not in the hot erasure path."""

    def forget(batch_df: DataFrame, batch_id: int) -> None:
        store.delete_keys_dv(zone, dataset, batch_df, key_col=key_col)

    _drain(
        _file_stream(spark, source_parquet, work_dir, max_files=1)
        .writeStream.foreachBatch(forget),
        os.path.join(work_dir, "chk"),
    )
    return store.read(zone, dataset)
