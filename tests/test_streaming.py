"""Structured Streaming module tests."""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import functions as F


def test_stream_files_to_bronze(spark, sf_dir):
    from healthcare_data_lakehouse_spark.streaming.ingest import (
        stream_files_to_bronze,
    )

    work = tempfile.mkdtemp(prefix="stream_bronze_")
    src = os.path.join(work, "landing")
    os.makedirs(src)
    batch = spark.range(100).select(
        F.col("id"), (F.col("id") % 5).alias("grp")
    )
    batch.write.parquet(os.path.join(src, "batch1"))
    # file streams discover files, not nested dirs — point at the files
    stream_files_to_bronze(
        spark,
        os.path.join(src, "batch1"),
        batch.schema,
        os.path.join(work, "bronze"),
        os.path.join(work, "chk"),
    )
    out = spark.read.parquet(os.path.join(work, "bronze"))
    assert out.count() == 100
    assert "_ingested_at" in out.columns


def test_streaming_window_counts_equal_batch(spark, sf_dir):
    from healthcare_data_lakehouse_spark.queries.catalog import load_all
    from healthcare_data_lakehouse_spark.streaming.ingest import (
        windowed_event_counts,
    )
    from healthcare_data_lakehouse_spark.tables import table

    streamed = load_all()["streaming_event_window_counts"].fn(spark, sf_dir)
    batch = windowed_event_counts(table(spark, sf_dir, "events"), window="1 hour")
    s = {tuple(r) for r in streamed.collect()}
    b = {tuple(r) for r in batch.collect()}
    assert s == b
    assert len(s) > 0


def test_stateful_user_totals_equal_batch(spark, sf_dir):
    from healthcare_data_lakehouse_spark.queries.catalog import load_all
    from healthcare_data_lakehouse_spark.tables import table

    streamed = load_all()["streaming_stateful_user_totals"].fn(spark, sf_dir)
    batch = (
        table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
    )
    s = {tuple(r) for r in streamed.collect()}
    b = {tuple(r) for r in batch.collect()}
    assert s == b and len(s) > 0


def test_watermark_drops_late_data(spark):
    """Two micro-batches: batch 2 carries an event older than the
    watermark bound — append-mode output must exclude it from its window
    (state for that window was finalized and evicted)."""
    import os
    import tempfile

    from healthcare_data_lakehouse_spark.streaming.ingest import (
        windowed_event_counts,
    )

    work = tempfile.mkdtemp(prefix="late_")
    src = os.path.join(work, "src")
    os.makedirs(src)

    def write_batch(name, rows, mtime):
        df = spark.createDataFrame(
            rows, "ts string, event_type string, value double"
        ).select(
            F.col("ts").cast("timestamp").alias("ts"), "event_type", "value"
        )
        # flatten the part file into the stream dir (the file source lists
        # files, not nested dirs) with a distinct mtime (batch order is
        # by mod time and both writes can share a clock second)
        staging = os.path.join(work, f"stage_{name}")
        df.coalesce(1).write.parquet(staging)
        part = next(
            f for f in os.listdir(staging)
            if f.startswith("part-") and f.endswith(".parquet")
        )
        dest = os.path.join(src, f"{name}.parquet")
        os.rename(os.path.join(staging, part), dest)
        os.utime(dest, (mtime, mtime))

    # micro-batch 1: events up to 12:00 -> watermark will advance to 11:50
    write_batch("b1", [
        ("2026-01-01 10:00:00", "click", 1.0),
        ("2026-01-01 10:02:00", "click", 1.0),
        ("2026-01-01 12:00:00", "click", 1.0),
    ], mtime=1_000_000)
    # micro-batch 2: benign row; the 10:00 window's state is finalized
    # and emitted under watermark 11:50 at this batch's end
    write_batch("b2", [
        ("2026-01-01 12:01:00", "click", 1.0),
    ], mtime=2_000_000)
    # micro-batch 3: a FAR-late event (10:01 vs watermark 11:51) whose
    # window state no longer exists -> dropped, never re-emitted
    write_batch("b3", [
        ("2026-01-01 10:01:00", "click", 99.0),
        ("2026-01-01 12:02:00", "click", 1.0),
    ], mtime=3_000_000)

    schema = spark.read.parquet(os.path.join(src, "b1.parquet")).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("latestFirst", "false")
        .parquet(src)
    )
    out = windowed_event_counts(
        stream, window="5 minutes", watermark="10 minutes"
    )
    q = (
        out.writeStream.format("memory")
        .queryName("late_test")
        .outputMode("append")
        .option("checkpointLocation", os.path.join(work, "chk"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    rows = {
        (r.window_start.isoformat(), r.n_events, float(r.sum_value))
        for r in spark.table("late_test").collect()
    }
    # the late event (value 99) was dropped: the 10:00 window emitted
    # with only the two on-time events, and 99 appears in no window
    assert not any(v >= 99.0 for (_, _, v) in rows)
    assert ("2026-01-01T10:00:00", 2, 2.0) in rows


def test_stream_static_join_equal_batch(spark, sf_dir):
    from healthcare_data_lakehouse_spark.streaming.ingest import (
        _stream_source_dir,
        enrich_stream_with_dim,
    )
    from healthcare_data_lakehouse_spark.tables import table

    work = tempfile.mkdtemp(prefix="stream_dim_")
    events_batch = table(spark, sf_dir, "events")
    dim = (
        events_batch.select("user_id")
        .distinct()
        .withColumn("user_band", F.col("user_id") % 4)
    )
    expected = (
        enrich_stream_with_dim(events_batch, dim, "user_id")
        .groupBy("user_band")
        .count()
        .collect()
    )

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    src = f"{sf_dir}/events.parquet"
    schema = spark.read.parquet(src).schema
    stream = spark.readStream.schema(schema).parquet(
        _stream_source_dir(src, work)
    )
    out = enrich_stream_with_dim(stream, dim, "user_id")
    q = (
        out.writeStream.format("memory")
        .queryName("stream_dim_join")
        .outputMode("append")
        .option("checkpointLocation", os.path.join(work, "chk"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = (
        spark.table("stream_dim_join").groupBy("user_band").count().collect()
    )
    assert sorted(map(tuple, got)) == sorted(map(tuple, expected))


def test_stream_dedup_within_watermark(spark):
    from healthcare_data_lakehouse_spark.streaming.ingest import (
        dedup_stream_within_watermark,
    )

    work = tempfile.mkdtemp(prefix="stream_dedup_")
    src = os.path.join(work, "src")
    os.makedirs(src)
    rows = spark.range(50).select(
        F.col("id").alias("k"),
        F.timestamp_seconds(F.lit(1_700_000_000) + F.col("id")).alias("ts"),
    )
    # the same 50 keys delivered twice (at-least-once upstream)
    rows.write.parquet(os.path.join(src, "f1"))
    rows.write.parquet(os.path.join(src, "f2"))

    schema = rows.schema
    stream = spark.readStream.schema(schema).parquet(src + "/*")
    out = dedup_stream_within_watermark(stream, ["k"], "ts", "1 minute")
    q = (
        out.writeStream.format("memory")
        .queryName("stream_dedup")
        .outputMode("append")
        .option("checkpointLocation", os.path.join(work, "chk"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.table("stream_dedup")
    assert got.count() == 50
    assert got.select("k").distinct().count() == 50


def test_stream_upsert_merge_idempotent(spark):
    from healthcare_data_lakehouse_spark.streaming.ingest import (
        stream_upsert_to_zone,
    )
    from healthcare_data_lakehouse_spark.zones import DataZone, ZoneStore

    work = tempfile.mkdtemp(prefix="stream_upsert_")
    src = os.path.join(work, "landing")
    os.makedirs(src)
    v1 = spark.range(20).select(
        F.col("id").cast("string").alias("event_id"), F.lit("v1").alias("val")
    )
    v2 = spark.range(10, 25).select(
        F.col("id").cast("string").alias("event_id"), F.lit("v2").alias("val")
    )
    v1.coalesce(1).write.parquet(os.path.join(src, "b1"))
    v2.coalesce(1).write.parquet(os.path.join(src, "b2"))

    store = ZoneStore(spark, os.path.join(work, "zones"))
    out = stream_upsert_to_zone(
        spark,
        os.path.join(src, "b1"),
        os.path.join(work, "w1"),
        store,
        DataZone.SILVER,
        "stream_events",
    )
    assert out.count() == 20

    # second feed overlaps ids 10-19: MERGE must update them in place and
    # append 20-24, never duplicate
    out2 = stream_upsert_to_zone(
        spark,
        os.path.join(src, "b2"),
        os.path.join(work, "w2"),
        store,
        DataZone.SILVER,
        "stream_events",
    )
    assert out2.count() == 25
    assert out2.filter(F.col("event_id") == "15").collect()[0]["val"] == "v2"
    assert out2.filter(F.col("event_id") == "5").collect()[0]["val"] == "v1"


def _click_purchase_sides(spark, sf_dir):
    """Click and purchase sides, both projections of one events frame."""
    from healthcare_data_lakehouse_spark.tables import table

    ev = table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("l_ts"), F.col("event_id").alias("click_id")
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("r_ts"), F.col("event_id").alias("purchase_id")
    )
    return clicks, purchases


def test_stream_stream_interval_join_equals_batch(spark, sf_dir):
    from healthcare_data_lakehouse_spark.streaming.ingest import (
        join_streams_within_interval,
        run_interval_join_stream,
    )

    clicks, purchases = _click_purchase_sides(spark, sf_dir)
    expected = sorted(
        (r.click_id, r.purchase_id)
        for r in join_streams_within_interval(clicks, purchases).collect()
    )

    work = tempfile.mkdtemp(prefix="stream_ssj_t_")
    got_df = run_interval_join_stream(spark, f"{sf_dir}/events.parquet", work)
    got = sorted((r.click_id, r.purchase_id) for r in got_df.collect())
    assert got == expected
    assert len(got) > 0


def test_left_outer_interval_join_of_one_frame_keeps_the_click_user(spark, sf_dir):
    from healthcare_data_lakehouse_spark.streaming.ingest import (
        join_streams_within_interval,
    )

    clicks, purchases = _click_purchase_sides(spark, sf_dir)
    user_of = {r.click_id: r.user_id for r in clicks.collect()}
    rows = join_streams_within_interval(clicks, purchases, how="left_outer").collect()
    assert rows[0].__fields__ == ["user_id", "l_ts", "click_id", "r_ts", "purchase_id"]
    assert {r.click_id for r in rows} == set(user_of)
    assert any(r.purchase_id is None for r in rows)
    for r in rows:
        assert r.user_id is not None, r
        assert r.user_id == user_of[r.click_id], r


def test_stream_incremental_gold_counts_equals_batch(spark, sf_dir):
    from healthcare_data_lakehouse_spark.streaming.ingest import (
        stream_incremental_gold_counts,
    )
    from healthcare_data_lakehouse_spark.tables import table
    from healthcare_data_lakehouse_spark.zones import DataZone, ZoneStore

    work = tempfile.mkdtemp(prefix="stream_inc_")
    store = ZoneStore(spark, os.path.join(work, "wh"))
    out = stream_incremental_gold_counts(
        spark, f"{sf_dir}/events.parquet", work, store, DataZone.GOLD, "evt_counts"
    )
    got = {
        r.event_type: (r.n_events, round(r.sum_value, 2))
        for r in out.collect()
    }
    batch = (
        table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("s"))
    )
    expected = {r.event_type: (r.n, r.s) for r in batch.collect()}
    assert set(got) == set(expected)
    for k in expected:
        assert got[k][0] == expected[k][0], k
        assert abs(got[k][1] - expected[k][1]) < 0.05, k
    # restart/replay: a second drain over the same (fully-consumed) source
    # must be a no-op — the checkpoint prevents double counting
    out2 = stream_incremental_gold_counts(
        spark, f"{sf_dir}/events.parquet", work, store, DataZone.GOLD, "evt_counts"
    )
    got2 = {r.event_type: r.n_events for r in out2.collect()}
    assert got2 == {k: v[0] for k, v in expected.items()}


def test_stream_stateful_anomaly_profile_matches_batch(spark, tmp_path):
    """The streaming Welford profile converges to the batch moments: count
    and mean exactly, variance to float tolerance; flags are sane."""
    from pyspark.sql import functions as F

    from healthcare_data_lakehouse_spark.streaming.ingest import (
        stream_stateful_anomaly_monitor,
    )
    from healthcare_data_lakehouse_spark.tables import table

    src = "/root/testdata/sf0.001/events.parquet"
    got = {
        r.user_id: r
        for r in stream_stateful_anomaly_monitor(spark, src, str(tmp_path)).collect()
    }
    batch = {
        r.user_id: r
        for r in table(spark, "/root/testdata/sf0.001", "events")
        .groupBy("user_id")
        .agg(
            F.count("value").alias("n"),
            F.avg("value").alias("mean"),
            F.var_samp("value").alias("var"),
        )
        .collect()
    }
    assert set(got) == set(batch)
    for uid, b in batch.items():
        g = got[uid]
        assert g.n_events == b.n
        assert abs(g.mean_value - b.mean) < 1e-9 * max(1.0, abs(b.mean))
        if b.n > 1 and b.var is not None:
            stream_var = g.m2 / (g.n_events - 1)
            assert abs(stream_var - b.var) < 1e-6 * max(1.0, b.var)
        assert 0 <= g.n_flagged < g.n_events


def test_stream_session_windows_equal_batch(spark, sf_dir):
    from healthcare_data_lakehouse_spark.queries.catalog import load_all
    from healthcare_data_lakehouse_spark.streaming.ingest import (
        session_window_counts,
    )
    from healthcare_data_lakehouse_spark.tables import table

    streamed = load_all()["streaming_session_window_counts"].fn(spark, sf_dir)
    batch = session_window_counts(table(spark, sf_dir, "events"), gap="10 minutes")
    s = {tuple(r) for r in streamed.collect()}
    b = {tuple(r) for r in batch.collect()}
    assert s == b and len(s) > 0


def test_neardup_admission_gate_rejects_copies_and_audits(spark, sf_dir):
    from pyspark.sql import functions as F

    from healthcare_data_lakehouse_spark.queries.streaming_queries import (
        streaming_neardup_admission_gate,
    )
    from healthcare_data_lakehouse_spark.tables import table

    admitted = streaming_neardup_admission_gate(spark, sf_dir)
    ids = {r.doc_id for r in admitted.collect()}

    docs = table(spark, sf_dir, "documents")
    seed_ids = {
        r.doc_id for r in docs.filter(F.col("doc_id") % 3 == 0).collect()
    }
    copy_ids = {
        r.doc_id + 3_000_000
        for r in docs.filter(
            (F.col("doc_id") % 3 == 0) & (F.col("doc_id") % 5 == 0)
        ).collect()
    }
    # every seed admitted (batch 0 probes an empty index)
    assert seed_ids <= ids
    # every exact copy of a seeded doc refused admission (Jaccard 1.0)
    assert not (copy_ids & ids)


def test_quality_admission_gate_splits_and_audits(spark, sf_dir):
    """The drained stream's admitted + quarantined rows partition the
    input frame, per-batch audit rows reconcile exactly, and known dirty
    rows (bad MRN, out-of-range vitals, inverted stays) never pass."""
    from pyspark.sql import functions as F

    from healthcare_data_lakehouse_spark.fixtures import healthcare_frame
    from healthcare_data_lakehouse_spark.queries.streaming_queries import (
        streaming_quality_admission_gate,
    )

    admitted = streaming_quality_admission_gate(spark, sf_dir)
    n_admitted = admitted.count()
    n_total = healthcare_frame(spark, sf_dir).count()
    assert 0 < n_admitted < n_total
    # no admitted row violates the row-local rules
    bad = admitted.filter(
        F.col("patient_id").isNull()
        | ~F.col("patient_id").rlike(r"^MRN[0-9]{9}$")
    ).count()
    assert bad == 0
    # known dirty keys: k%7 (bad id!), k%11 (null patient_id), k%9 (age
    # 200), k%29 (heart rate 500) must all be quarantined
    leaked = admitted.filter(
        (F.col("id").cast("bigint") % 7 == 0)
        | (F.col("id").cast("bigint") % 11 == 0)
        | (F.col("id").cast("bigint") % 9 == 0)
        | (F.col("id").cast("bigint") % 29 == 0)
    ).count()
    assert leaked == 0


def test_quality_admission_audit_reconciles(spark, sf_dir):
    """Drive the ingest function directly and reconcile its audit table:
    n_in == n_admitted + n_quarantined per batch, and the zone + audit
    row counts match the audit's own totals."""
    import os

    from pyspark.sql import functions as F

    from healthcare_data_lakehouse_spark.fixtures import healthcare_frame
    from healthcare_data_lakehouse_spark.scratch import scratch_dir
    from healthcare_data_lakehouse_spark.streaming.ingest import (
        stream_quality_admission,
    )
    from healthcare_data_lakehouse_spark.zones import DataZone, ZoneStore

    frame = healthcare_frame(spark, sf_dir)
    work = scratch_dir("qgate_test_")
    src = os.path.join(work, "src")
    os.makedirs(src)
    half = F.col("id").cast("bigint") % 2
    frame.filter(half == 0).coalesce(1).write.parquet(os.path.join(src, "b0"))
    frame.filter(half == 1).coalesce(1).write.parquet(os.path.join(src, "b1"))
    t = 1_700_000_000
    for sub, ts in (("b0", t), ("b1", t + 1000)):
        for root, _, files in os.walk(os.path.join(src, sub)):
            for f in files:
                os.utime(os.path.join(root, f), (ts, ts))
    store = ZoneStore(spark, os.path.join(work, "zones"))
    stream_quality_admission(
        spark, src + "/*", frame.schema, store,
        DataZone.BRONZE, "p", os.path.join(work, "chk"),
    )
    audit = store.read(DataZone.BRONZE, "p_audit").collect()
    assert len(audit) == 2
    for r in audit:
        assert r.n_in == r.n_admitted + r.n_quarantined
        assert r.n_quarantined > 0  # the fixture is dirty in every half
    assert store.read(DataZone.BRONZE, "p").count() == sum(
        r.n_admitted for r in audit
    )
    assert sum(r.n_in for r in audit) == frame.count()


def test_sliding_topk_window_contract(spark, sf_dir):
    from healthcare_data_lakehouse_spark.queries.streaming_queries import (
        streaming_sliding_topk_event_types,
    )

    rows = streaming_sliding_topk_event_types(spark, sf_dir).collect()
    assert rows
    by_w = {}
    for r in rows:
        by_w.setdefault(r.window_start, []).append(r)
    for w, rs in by_w.items():
        rs.sort(key=lambda r: r.rank)
        assert [r.rank for r in rs] == list(range(1, len(rs) + 1))
        assert len(rs) <= 3
        counts = [r.n_events for r in rs]
        assert counts == sorted(counts, reverse=True)


def test_stream_static_join_equals_batch(spark, sf_dir):
    from healthcare_data_lakehouse_spark.queries.streaming_queries import (
        streaming_static_enrichment_join,
    )
    from healthcare_data_lakehouse_spark.tables import table

    rows = streaming_static_enrichment_join(spark, sf_dir).collect()
    assert rows
    total = sum(r.n_events for r in rows)
    assert total == table(spark, sf_dir, "events").count(), (
        "every event lands in exactly one (window, tier) cell"
    )
    assert {r.tier for r in rows} <= {"low", "mid", "high"}
    for r in rows:
        assert 1 <= r.n_users <= r.n_events


def test_left_outer_interval_join_watermark_contract(spark, sf_dir):
    import datetime

    from pyspark.sql import functions as F

    from healthcare_data_lakehouse_spark.queries.streaming_queries import (
        streaming_left_outer_interval_join,
    )
    from healthcare_data_lakehouse_spark.tables import table

    res = streaming_left_outer_interval_join(spark, sf_dir).cache()
    matched = res.filter(F.col("purchase_id").isNotNull())
    unmatched = res.filter(F.col("purchase_id").isNull())

    ev = table(spark, sf_dir, "events")
    c = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("l_ts"), F.col("event_id").alias("click_id")
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("pu"),
        F.col("ts").alias("r_ts"),
        F.col("event_id").alias("purchase_id"),
    )
    cond = (
        (c.user_id == p.pu)
        & (p.r_ts >= c.l_ts)
        & (p.r_ts <= c.l_ts + F.expr("INTERVAL 10 MINUTES"))
    )
    # matches are exactly the batch inner join
    batch_matched = c.join(p, cond, "inner")
    assert matched.count() == batch_matched.count()

    # every unmatched row is a batch anti-join row past the final watermark
    maxc = c.agg(F.max("l_ts")).first()[0]
    maxp = p.agg(F.max("r_ts")).first()[0]
    wm = min(maxc, maxp) - datetime.timedelta(minutes=10)
    anti = c.join(p, cond, "left_anti").filter(
        F.col("l_ts") + F.expr("INTERVAL 10 MINUTES") < F.lit(wm)
    )
    assert unmatched.count() == anti.count()
    got = {r.click_id for r in unmatched.collect()}
    exp = {r.click_id for r in anti.collect()}
    assert got == exp
    # and at least one anti row sits inside the horizon (truncation real)
    assert c.join(p, cond, "left_anti").count() > anti.count()


# every catalog query that drains into a memory sink
MEMORY_DRAINS = [
    "streaming_event_window_counts",
    "streaming_stateful_user_totals",
    "streaming_interval_join_clicks_purchases",
    "streaming_session_window_counts",
    "streaming_dedup_within_watermark",
    "streaming_sliding_topk_event_types",
    "streaming_static_enrichment_join",
    "streaming_left_outer_interval_join",
]


def test_memory_drains_leave_no_view_or_stream(spark, sf_dir):
    """The frame a memory-draining query returns holds its result; the
    sink's temporary view and the stream are gone once it returns, so a
    long-lived session does not accumulate results in driver memory."""
    from healthcare_data_lakehouse_spark.queries.catalog import load_all

    specs = load_all()

    def views():
        return {t.name for t in spark.catalog.listTables() if t.isTemporary}

    def streams():
        return {q.id for q in spark.streams.active}

    before = (views(), streams())
    # the first query twice: a repeat must not leave a view either
    for name in [MEMORY_DRAINS[0], *MEMORY_DRAINS]:
        assert specs[name].fn(spark, sf_dir).count() > 0, name
        assert (views(), streams()) == before, name


def test_every_stream_drains_through_the_harness():
    """AvailableNow triggers and memory sinks appear only in the stream
    harness of ``streaming/ingest.py``, and ``nanosAsLong`` only there and
    in ``tables.table``. ``tools/plan_lint.py`` skips the ``streaming_*``
    queries, so this check is what keeps new builders on the drain."""
    import ast
    from pathlib import Path

    import healthcare_data_lakehouse_spark as pkg

    root = Path(pkg.__file__).parent
    found = {"availableNow": set(), "memory": set(), "nanosAsLong": set()}

    def visit(node, where, docstrings):
        for child in ast.iter_child_nodes(node):
            if isinstance(child, ast.keyword) and child.arg == "availableNow":
                found["availableNow"].add(where)
            if (
                isinstance(child, ast.Call)
                and isinstance(child.func, ast.Attribute)
                and child.func.attr == "format"
                and any(
                    isinstance(a, ast.Constant) and a.value == "memory"
                    for a in child.args
                )
            ):
                found["memory"].add(where)
            if (
                isinstance(child, ast.Constant)
                and isinstance(child.value, str)
                and "nanosAsLong" in child.value
                and id(child) not in docstrings
            ):
                found["nanosAsLong"].add(where)
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                visit(child, f"{where.split('::')[0]}::{child.name}", docstrings)
            else:
                visit(child, where, docstrings)

    scopes = (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)
    for path in root.rglob("*.py"):
        tree = ast.parse(path.read_text())
        docstrings = {
            id(n.body[0].value)
            for n in ast.walk(tree)
            if isinstance(n, scopes) and ast.get_docstring(n, clean=False)
        }
        visit(tree, path.relative_to(root).as_posix(), docstrings)

    assert found == {
        "availableNow": {"streaming/ingest.py::_drain"},
        "memory": {"streaming/ingest.py::_drain_to_table"},
        "nanosAsLong": {
            "streaming/ingest.py::_file_stream",
            "tables.py::table",
        },
    }
