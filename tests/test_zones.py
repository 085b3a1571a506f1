"""ZoneStore load-pattern tests (SURVEY.md §2.2 L1-L7)."""

from __future__ import annotations

import os
import tempfile

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from healthcare_data_lakehouse_spark.zones import DataZone, LoadType, ZoneStore


@pytest.fixture()
def store(spark):
    return ZoneStore(spark, tempfile.mkdtemp(prefix="zs_test_"))


def rows(df):
    return sorted((r.id, r.v) for r in df.collect())


def test_full_replaces(spark, store):
    a = spark.createDataFrame([Row(id="1", v="a"), Row(id="2", v="b")])
    b = spark.createDataFrame([Row(id="3", v="c")])
    store.write(DataZone.BRONZE, "d", a, LoadType.FULL)
    store.write(DataZone.BRONZE, "d", b, LoadType.FULL)
    assert rows(store.read(DataZone.BRONZE, "d")) == [("3", "c")]


def test_append_inserts_all(spark, store):
    a = spark.createDataFrame([Row(id="1", v="a")])
    store.write(DataZone.BRONZE, "d", a, LoadType.APPEND)
    store.write(DataZone.BRONZE, "d", a, LoadType.APPEND)
    assert rows(store.read(DataZone.BRONZE, "d")) == [("1", "a"), ("1", "a")]


def test_merge_upserts(spark, store):
    a = spark.createDataFrame([Row(id="1", v="a"), Row(id="2", v="b")])
    b = spark.createDataFrame([Row(id="2", v="B"), Row(id="3", v="c")])
    store.write(DataZone.SILVER, "d", a, LoadType.FULL)
    store.write(DataZone.SILVER, "d", b, LoadType.MERGE)
    assert rows(store.read(DataZone.SILVER, "d")) == [
        ("1", "a"), ("2", "B"), ("3", "c")
    ]


def test_incremental_never_updates(spark, store):
    a = spark.createDataFrame([Row(id="1", v="a"), Row(id="2", v="b")])
    b = spark.createDataFrame([Row(id="2", v="CHANGED"), Row(id="3", v="c")])
    store.write(DataZone.SILVER, "d", a, LoadType.FULL)
    store.write(DataZone.SILVER, "d", b, LoadType.INCREMENTAL)
    assert rows(store.read(DataZone.SILVER, "d")) == [
        ("1", "a"), ("2", "b"), ("3", "c")
    ]


def test_quarantine_roundtrip(spark, store):
    bad = spark.createDataFrame([Row(id="9", v="x")])
    n = store.write_quarantine("job1", bad, "failed", 0.5, "2026-01-01T00:00:00")
    assert n == 1
    q = store.read_quarantine("job1").collect()[0]
    assert q._quarantine_reason == "failed"
    assert q._quality_score == 0.5
    assert store.read_quarantine("nope") is None


def test_read_missing_returns_none(store):
    assert store.read(DataZone.GOLD, "nope") is None
    assert not store.exists(DataZone.GOLD, "nope")


def test_bucketed_tables_join_without_shuffle(spark):
    """Bucketed co-located join: both sides bucketed 4-way on the key ->
    the sort-merge join reads pre-bucketed files with NO Exchange (the
    100 TB pattern for repeatedly-joined fact tables)."""
    from pyspark.sql import functions as F

    spark.sql("DROP TABLE IF EXISTS bkt_a")
    spark.sql("DROP TABLE IF EXISTS bkt_b")
    a = spark.range(1000).select(F.col("id").alias("k"), (F.col("id") * 2).alias("va"))
    b = spark.range(1000).select(F.col("id").alias("k"), (F.col("id") * 3).alias("vb"))
    a.write.bucketBy(4, "k").sortBy("k").mode("overwrite").saveAsTable("bkt_a")
    b.write.bucketBy(4, "k").sortBy("k").mode("overwrite").saveAsTable("bkt_b")
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # force a sort-merge join so bucket co-location (not broadcast)
        # is what eliminates the shuffle
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = spark.table("bkt_a").join(spark.table("bkt_b"), "k")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert "Exchange hashpartitioning" not in plan  # no shuffle: co-located
        assert joined.count() == 1000
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS bkt_a")
        spark.sql("DROP TABLE IF EXISTS bkt_b")


def test_write_right_sizes_commit_files(spark, store):
    """r13 staged-write REBALANCE: a small df whose lineage ends in a
    wide repartition lands as ONE parquet file per commit instead of one
    tiny file per shuffle partition, and the rows survive unchanged."""
    batch = (
        spark.range(0, 200)
        .select(F.col("id").cast("string").alias("id"))
        .withColumn("v", F.concat(F.lit("v"), F.col("id")))
        .repartition(8)
    )
    store.write(DataZone.BRONZE, "sized", batch, LoadType.APPEND)
    path = store.dataset_path(DataZone.BRONZE, "sized")
    manifest = store._read_manifest(path)
    assert len(manifest["commits"]) == 1
    cdir = os.path.join(path, manifest["commits"][0])
    n_parquet = sum(
        f.endswith(".parquet") for _, _, fs in os.walk(cdir) for f in fs
    )
    assert n_parquet == 1
    assert store.read(DataZone.BRONZE, "sized").count() == 200


def test_compact_bin_packs_small_files(spark, store):
    import pyspark.sql.functions as F

    # 5 appended batches, each written with parallelism -> many small files
    for i in range(5):
        batch = (
            spark.range(i * 100, (i + 1) * 100)
            .select(F.col("id").cast("string").alias("id"))
            .withColumn("v", F.concat(F.lit("v"), F.col("id")))
            .repartition(4)
        )
        store.write(DataZone.BRONZE, "many", batch, LoadType.APPEND)

    # materialize before compacting so the comparison reads pre-swap state
    # (old commits stay on disk for time travel until vacuum())
    before_rows = sorted(rows(store.read(DataZone.BRONZE, "many")))
    n_before = len(before_rows)
    stats = store.compact(DataZone.BRONZE, "many")
    # r13: the staged write right-sizes each commit's files (REBALANCE
    # before the write), so the 4-partition input lands as ONE file per
    # commit — compaction's job is now packing the per-commit files of
    # many APPENDs into one, not undoing per-write fragmentation.
    assert stats["files_before"] == 5
    assert stats["files_after"] == 1  # 500 tiny rows fit one target file
    assert stats["commits_before"] == 5

    after = store.read(DataZone.BRONZE, "many")
    assert after.count() == n_before
    assert sorted(rows(after)) == before_rows
    # manifest now points at a single commit; a second compact is a no-op
    # rewrite that still preserves everything
    stats2 = store.compact(DataZone.BRONZE, "many")
    assert stats2["commits_before"] == 1
    assert store.read(DataZone.BRONZE, "many").count() == n_before


def test_compact_missing_dataset_raises(store):
    import pytest

    with pytest.raises(ValueError):
        store.compact(DataZone.GOLD, "nope")


def test_time_travel_reads_past_versions(spark, store):
    a = spark.createDataFrame([Row(id="1", v="a")])
    b = spark.createDataFrame([Row(id="2", v="b")])
    c = spark.createDataFrame([Row(id="9", v="z")])
    store.write(DataZone.SILVER, "tt", a, LoadType.FULL)      # v1
    store.write(DataZone.SILVER, "tt", b, LoadType.APPEND)    # v2
    store.write(DataZone.SILVER, "tt", c, LoadType.FULL)      # v3

    assert rows(store.read_version(DataZone.SILVER, "tt", 1)) == [("1", "a")]
    assert sorted(rows(store.read_version(DataZone.SILVER, "tt", 2))) == [
        ("1", "a"), ("2", "b")
    ]
    # latest version == current read
    assert rows(store.read_version(DataZone.SILVER, "tt", 3)) == rows(
        store.read(DataZone.SILVER, "tt")
    )
    import pytest

    with pytest.raises(ValueError):
        store.read_version(DataZone.SILVER, "tt", 99)


def test_vacuum_reclaims_old_versions_keeps_current(spark, store):
    import pytest

    a = spark.createDataFrame([Row(id="1", v="a")])
    b = spark.createDataFrame([Row(id="2", v="b")])
    store.write(DataZone.SILVER, "vac", a, LoadType.FULL)     # v1
    store.write(DataZone.SILVER, "vac", b, LoadType.FULL)     # v2 (supersedes)
    store.write(DataZone.SILVER, "vac", a, LoadType.APPEND)   # v3

    stats = store.vacuum(DataZone.SILVER, "vac", retain_last=1)
    assert stats["removed_commits"] >= 1
    # current read unaffected
    assert sorted(rows(store.read(DataZone.SILVER, "vac"))) == [
        ("1", "a"), ("2", "b")
    ]
    # reclaimed version is gone, retained latest still time-travels
    with pytest.raises(ValueError):
        store.read_version(DataZone.SILVER, "vac", 1)
    assert sorted(rows(store.read_version(DataZone.SILVER, "vac", 3))) == [
        ("1", "a"), ("2", "b")
    ]


def test_diff_versions_classifies_changes(spark, store):
    v1 = spark.createDataFrame(
        [Row(id="1", v="a"), Row(id="2", v="b"), Row(id="3", v="c")]
    )
    v2 = spark.createDataFrame(
        [Row(id="2", v="B"), Row(id="3", v="c"), Row(id="4", v="d")]
    )
    store.write(DataZone.SILVER, "cdc", v1, LoadType.FULL)
    store.write(DataZone.SILVER, "cdc", v2, LoadType.FULL)
    changes = {
        r.id: r._change_type
        for r in store.diff_versions(DataZone.SILVER, "cdc", 1, 2).collect()
    }
    assert changes == {
        "1": "delete", "2": "update", "3": "unchanged", "4": "insert"
    }


def test_schema_evolution_across_appends(spark, store):
    """APPEND commits may add columns; reads merge schemas and old rows
    surface NULL for late-arriving fields (the lakehouse evolution
    contract; maps to Delta mergeSchema)."""
    base = spark.createDataFrame([Row(id="1", v="a")])
    widened = spark.createDataFrame([Row(id="2", v="b", extra=42)])
    store.write(DataZone.BRONZE, "evo", base, LoadType.APPEND)
    store.write(DataZone.BRONZE, "evo", widened, LoadType.APPEND)
    out = store.read(DataZone.BRONZE, "evo")
    assert "extra" in out.columns
    got = {r.id: r.extra for r in out.collect()}
    assert got == {"1": None, "2": 42}


def test_dynamic_partition_overwrite_backfill(spark, tmp_path):
    """Backfill one day of a day-partitioned table without touching the
    others: dynamic partitionOverwriteMode rewrites ONLY partitions
    present in the incoming frame — at 100 TB a backfill job touches the
    affected day directories, never the table."""
    from pyspark.sql import functions as F

    path = str(tmp_path / "day_partitioned")
    base = spark.createDataFrame(
        [(1, "2024-01-01", 10.0), (2, "2024-01-02", 20.0), (3, "2024-01-03", 30.0)],
        "id int, day string, v double",
    )
    base.write.partitionBy("day").parquet(path)
    fix = spark.createDataFrame([(9, "2024-01-02", 99.0)], "id int, day string, v double")
    with_conf = spark.conf
    old = with_conf.get("spark.sql.sources.partitionOverwriteMode", "STATIC")
    with_conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        fix.write.mode("overwrite").partitionBy("day").parquet(path)
    finally:
        with_conf.set("spark.sql.sources.partitionOverwriteMode", old)
    got = {
        (r.id, r.day, r.v)
        for r in spark.read.parquet(path)
        .select("id", F.col("day").cast("string").alias("day"), "v")
        .collect()
    }
    # day 02 replaced wholesale; days 01/03 untouched
    assert got == {(1, "2024-01-01", 10.0), (9, "2024-01-02", 99.0), (3, "2024-01-03", 30.0)}


def test_read_pruned_skips_non_overlapping_commits(spark, store):
    """Commit-level zone-map pruning: 4 APPEND commits with disjoint key
    ranges; a range predicate opens only the overlapping commit, and the
    result equals the unpruned filter exactly."""
    for base in (0, 100, 200, 300):
        batch = spark.range(base, base + 50).select(
            F.col("id").cast("string").alias("id"),
            F.col("id").alias("k"),
            F.lit(f"b{base}").alias("v"),
        )
        store.write(DataZone.SILVER, "pruned", batch, LoadType.APPEND)

    got, report = store.read_pruned(
        DataZone.SILVER, "pruned", "k", lo=210, hi=240
    )
    assert report == {
        "commits_total": 4,
        "commits_scanned": 1,
        "commits_skipped": 3,
    }
    full = store.read(DataZone.SILVER, "pruned").filter(
        (F.col("k") >= 210) & (F.col("k") <= 240)
    )
    assert sorted(r.k for r in got.collect()) == sorted(
        r.k for r in full.collect()
    )
    assert got.count() == 31

    # open-ended predicate and a no-match range
    _, r2 = store.read_pruned(DataZone.SILVER, "pruned", "k", lo=300)
    assert r2["commits_scanned"] == 1
    none_df, r3 = store.read_pruned(
        DataZone.SILVER, "pruned", "k", lo=1000, hi=2000
    )
    assert r3["commits_scanned"] == 0 and none_df.count() == 0


def test_commit_stats_footer_only(spark, store):
    batch = spark.range(10, 20).select(
        F.col("id").cast("string").alias("id"), F.col("id").alias("k")
    )
    store.write(DataZone.SILVER, "stats_ds", batch, LoadType.FULL)
    st = store.commit_stats(DataZone.SILVER, "stats_ds", "k")
    assert len(st) == 1
    assert st[0]["present"] and st[0]["has_stats"]
    assert st[0]["min"] == 10 and st[0]["max"] == 19
    # unknown column -> conservative (absent, still readable)
    st2 = store.commit_stats(DataZone.SILVER, "stats_ds", "nope")
    assert not st2[0]["present"]


def test_read_changes_returns_only_appended_rows(spark, store):
    from healthcare_data_lakehouse_spark.zones import DataZone, LoadType
    from pyspark.sql import Row

    b1 = spark.createDataFrame([Row(id=1, v="a"), Row(id=2, v="b")])
    b2 = spark.createDataFrame([Row(id=3, v="c")])
    store.write(DataZone.SILVER, "chg", b1, LoadType.FULL)
    store.write(DataZone.SILVER, "chg", b2, LoadType.APPEND)
    delta = store.read_changes(DataZone.SILVER, "chg", 1, 2)
    assert {r.id for r in delta.collect()} == {3}
    # no commits added between identical versions
    assert store.read_changes(DataZone.SILVER, "chg", 2, 2) is None
    # a FULL rewrite replaces commits: the new commit IS the change set
    b3 = spark.createDataFrame([Row(id=9, v="z")])
    store.write(DataZone.SILVER, "chg", b3, LoadType.FULL)
    assert {r.id for r in store.read_changes(DataZone.SILVER, "chg", 2, 3).collect()} == {9}


def test_delete_where_commit_pruning_and_time_travel(spark, tmp_path):
    from pyspark.sql import Row
    from healthcare_data_lakehouse_spark.zones import (
        DataZone,
        LoadType,
        ZoneStore,
    )

    store = ZoneStore(spark, str(tmp_path))
    lo = spark.createDataFrame([Row(id=i, v=i * 10) for i in range(5)])
    hi = spark.createDataFrame([Row(id=i, v=i * 10) for i in range(100, 105)])
    store.write(DataZone.SILVER, "t", lo, LoadType.FULL)
    store.write(DataZone.SILVER, "t", hi, LoadType.APPEND)
    before = store._read_manifest(store.dataset_path(DataZone.SILVER, "t"))

    # predicate only touches the high commit; stats bound skips the low one
    n = store.delete_where(
        DataZone.SILVER, "t", "id >= 102", prune_column="id",
        prune_lo=102,
    )
    assert n == 3
    after = store._read_manifest(store.dataset_path(DataZone.SILVER, "t"))
    # the untouched commit is carried over by NAME (no rewrite)
    assert before["commits"][0] in after["commits"]
    assert before["commits"][1] not in after["commits"]
    remaining = {r.id for r in store.read(DataZone.SILVER, "t").collect()}
    assert remaining == {0, 1, 2, 3, 4, 100, 101}
    # previous version still shows the deleted rows (time travel)
    old = store.read_version(DataZone.SILVER, "t", after["version"] - 1)
    assert old.count() == 10


def test_delete_where_null_predicate_rows_survive(spark, tmp_path):
    from pyspark.sql import Row
    from healthcare_data_lakehouse_spark.zones import (
        DataZone,
        LoadType,
        ZoneStore,
    )

    store = ZoneStore(spark, str(tmp_path))
    df = spark.createDataFrame(
        [Row(id=1, v=10), Row(id=2, v=None), Row(id=3, v=30)],
        "id int, v int",
    )
    store.write(DataZone.SILVER, "t", df, LoadType.FULL)
    # v > 15 is NULL for id=2 -> Delta semantics: the row SURVIVES
    assert store.delete_where(DataZone.SILVER, "t", "v > 15") == 1
    assert {r.id for r in store.read(DataZone.SILVER, "t").collect()} == {1, 2}



def test_delete_of_every_row_leaves_a_readable_empty_version(spark, store):
    # the emptied version keeps a (row-less) commit: it reads with its
    # schema, diffs, and lets vacuum reclaim the commit it replaced
    z = DataZone.SILVER
    df = spark.createDataFrame([(i, i) for i in range(10)], "id long, v long")
    store.write(z, "t", df, LoadType.FULL)
    path = store.dataset_path(z, "t")
    (v1_commit,) = store._read_entry(path, 1)["commits"]
    assert store.delete_where(z, "t", "id >= 0") == 10
    assert store.read(z, "t").columns == ["id", "v"]
    assert rows(store.read(z, "t")) == []
    assert rows(store.read_version(z, "t", 2)) == []
    changes = store.diff_versions(z, "t", 1, 2).collect()
    assert {r._change_type for r in changes} == {"delete"}
    assert len(changes) == 10
    assert store.vacuum(z, "t", retain_last=1)["removed_commits"] == 1
    assert not os.path.isdir(os.path.join(path, v1_commit))
    store.write(z, "t", df.filter("id < 2"), LoadType.APPEND)
    assert rows(store.read(z, "t")) == [(0, 0), (1, 1)]

def test_update_set_rewrites_only_matching_commits(spark, tmp_path):
    from pyspark.sql import Row
    from healthcare_data_lakehouse_spark.zones import (
        DataZone,
        LoadType,
        ZoneStore,
    )

    store = ZoneStore(spark, str(tmp_path))
    a = spark.createDataFrame([Row(id=i, v=1) for i in range(3)])
    b = spark.createDataFrame([Row(id=i, v=1) for i in range(10, 13)])
    store.write(DataZone.SILVER, "t", a, LoadType.FULL)
    store.write(DataZone.SILVER, "t", b, LoadType.APPEND)
    before = store._read_manifest(store.dataset_path(DataZone.SILVER, "t"))

    n = store.update_set(
        DataZone.SILVER, "t", "id >= 11", {"v": "v + 100"}
    )
    assert n == 2
    after = store._read_manifest(store.dataset_path(DataZone.SILVER, "t"))
    assert before["commits"][0] in after["commits"]  # untouched by name
    got = {r.id: r.v for r in store.read(DataZone.SILVER, "t").collect()}
    assert got == {0: 1, 1: 1, 2: 1, 10: 1, 11: 101, 12: 101}


def test_constraint_blocks_write(spark, tmp_path):
    import pytest as _pytest
    from pyspark.sql import Row
    from healthcare_data_lakehouse_spark.zones import (
        ConstraintViolationError,
        DataZone,
        LoadType,
        ZoneStore,
    )

    store = ZoneStore(spark, str(tmp_path))
    store.set_constraint(DataZone.SILVER, "t", "v_positive", "v > 0")
    ok = spark.createDataFrame([Row(id=1, v=5), Row(id=2, v=1)])
    assert store.write(DataZone.SILVER, "t", ok, LoadType.FULL) == 2

    # violation (including NULL, Delta CHECK semantics) fails atomically
    bad = spark.createDataFrame(
        [Row(id=3, v=-1), Row(id=4, v=None)], "id int, v int"
    )
    with _pytest.raises(ConstraintViolationError, match="v_positive"):
        store.write(DataZone.SILVER, "t", bad, LoadType.APPEND)
    # nothing committed: table still holds exactly the clean rows
    assert store.read(DataZone.SILVER, "t").count() == 2
    audit = store.check_constraints(DataZone.SILVER, "t", bad)
    assert audit == [
        {"name": "v_positive", "expr": "v > 0", "n_violations": 2}
    ]


def test_shallow_clone_isolation(spark, tmp_path):
    import os
    from pyspark.sql import Row
    from healthcare_data_lakehouse_spark.zones import (
        DataZone,
        LoadType,
        ZoneStore,
    )

    store = ZoneStore(spark, str(tmp_path))
    src = spark.createDataFrame([Row(id=i, v=i) for i in range(10)])
    store.write(DataZone.SILVER, "src", src, LoadType.FULL)
    n_refs = store.clone(DataZone.SILVER, "src", DataZone.GOLD, "cln")
    assert n_refs == 1
    # zero copy: the clone dir holds only a manifest, no commit dirs yet
    cdir = store.dataset_path(DataZone.GOLD, "cln")
    assert [e for e in os.listdir(cdir) if e.startswith("c") and
            os.path.isdir(os.path.join(cdir, e))] == []
    assert store.read(DataZone.GOLD, "cln").count() == 10

    # writes to the clone never touch the source (copy-on-write)
    extra = spark.createDataFrame([Row(id=100, v=100)])
    store.write(DataZone.GOLD, "cln", extra, LoadType.APPEND)
    store.delete_where(DataZone.GOLD, "cln", "id < 3")
    assert store.read(DataZone.GOLD, "cln").count() == 8
    assert store.read(DataZone.SILVER, "src").count() == 10
    # and the clone inherited the source's constraints dict (empty here)
    assert store.constraints(DataZone.GOLD, "cln") == {}


def test_merge_into_clause_counts(spark, tmp_path):
    from pyspark.sql import Row
    from healthcare_data_lakehouse_spark.zones import (
        DataZone,
        LoadType,
        ZoneStore,
    )

    store = ZoneStore(spark, str(tmp_path))
    tgt = spark.createDataFrame(
        [Row(id=1, v=10, flag="keep"), Row(id=2, v=20, flag="drop"),
         Row(id=3, v=30, flag="keep"), Row(id=4, v=40, flag="keep")]
    )
    src = spark.createDataFrame(
        [Row(id=1, v=100, flag="s"), Row(id=2, v=200, flag="s"),
         Row(id=9, v=900, flag="s")]
    )
    store.write(DataZone.SILVER, "t", tgt, LoadType.FULL)
    stats = store.merge_into(
        DataZone.SILVER, "t", src, id_field="id",
        matched_delete="flag = 'drop'",
        matched_update={"v": "src_v"},
        insert_not_matched=True,
        not_matched_by_source_delete="id = 4",
    )
    assert stats == {
        "updated": 1,         # id=1 updated from source
        "deleted_matched": 1,  # id=2 matched + flag=drop
        "inserted": 1,        # id=9
        "deleted_by_source": 1,  # id=4
    }
    got = {r.id: (r.v, r.flag) for r in store.read(DataZone.SILVER, "t").collect()}
    assert got == {1: (100, "keep"), 3: (30, "keep"), 9: (900, "s")}


def test_restore_version_is_metadata_only_and_undoable(spark, tmp_path):
    from pyspark.sql import Row
    import pytest as _pytest
    from healthcare_data_lakehouse_spark.zones import (
        DataZone,
        LoadType,
        ZoneStore,
    )

    store = ZoneStore(spark, str(tmp_path))
    v1 = spark.createDataFrame([Row(id=i) for i in range(5)])
    store.write(DataZone.SILVER, "t", v1, LoadType.FULL)          # v1
    store.write(DataZone.SILVER, "t",
                spark.createDataFrame([Row(id=99)]), LoadType.APPEND)  # v2
    assert store.read(DataZone.SILVER, "t").count() == 6
    store.restore_version(DataZone.SILVER, "t", 1)                 # v3
    assert store.read(DataZone.SILVER, "t").count() == 5
    # the restore is itself a version: time travel back to v2 still works
    assert store.read_version(DataZone.SILVER, "t", 2).count() == 6
    # unknown version raises
    with _pytest.raises(ValueError, match="not in retained history"):
        store.restore_version(DataZone.SILVER, "t", 42)


def test_optimistic_concurrency_and_idempotent_txn(spark, tmp_path):
    import pytest as _pytest
    from pyspark.sql import Row
    from healthcare_data_lakehouse_spark.zones import (
        ConcurrentModificationError,
        DataZone,
        LoadType,
        ZoneStore,
    )

    store = ZoneStore(spark, str(tmp_path))
    df1 = spark.createDataFrame([Row(id=1, v=1)])
    store.write(DataZone.SILVER, "t", df1, LoadType.FULL)  # -> v1

    # a writer that read at v1 succeeds; one still expecting v0 conflicts
    store.write(
        DataZone.SILVER, "t", df1, LoadType.APPEND, expected_version=1
    )  # -> v2
    with _pytest.raises(ConcurrentModificationError, match="expected 1"):
        store.write(
            DataZone.SILVER, "t", df1, LoadType.APPEND, expected_version=1
        )
    assert store.read(DataZone.SILVER, "t").count() == 2

    # idempotent retry: the same txn id commits once
    n1 = store.write(
        DataZone.SILVER, "t", df1, LoadType.APPEND, txn_id="batch-42"
    )
    n2 = store.write(
        DataZone.SILVER, "t", df1, LoadType.APPEND, txn_id="batch-42"
    )
    assert (n1, n2) == (1, 0)
    assert store.read(DataZone.SILVER, "t").count() == 3


def test_empty_write_to_constrained_table_commits_zero_rows(spark, tmp_path):
    # ADVICE r4: SUM over an empty frame is NULL; the constraint audit must
    # report 0 violations and let the empty FULL commit through.
    from pyspark.sql import Row
    from healthcare_data_lakehouse_spark.zones import DataZone, LoadType, ZoneStore

    store = ZoneStore(spark, str(tmp_path))
    store.set_constraint(DataZone.SILVER, "t", "v_positive", "v > 0")
    ok = spark.createDataFrame([Row(id=1, v=5)])
    store.write(DataZone.SILVER, "t", ok, LoadType.FULL)
    empty = spark.createDataFrame([], "id int, v int")
    audit = store.check_constraints(DataZone.SILVER, "t", empty)
    assert audit == [{"name": "v_positive", "expr": "v > 0", "n_violations": 0}]
    assert store.write(DataZone.SILVER, "t", empty, LoadType.FULL) == 0
    assert store.read(DataZone.SILVER, "t").count() == 0


def test_update_set_enforces_check_constraints(spark, tmp_path):
    # ADVICE r4: Delta enforces CHECK on UPDATE; update_set must not bypass.
    import pytest as _pytest
    from pyspark.sql import Row
    from healthcare_data_lakehouse_spark.zones import (
        ConstraintViolationError, DataZone, LoadType, ZoneStore,
    )

    store = ZoneStore(spark, str(tmp_path))
    store.set_constraint(DataZone.SILVER, "t", "v_positive", "v > 0")
    df = spark.createDataFrame([Row(id=1, v=5), Row(id=2, v=7)])
    store.write(DataZone.SILVER, "t", df, LoadType.FULL)
    path = store.dataset_path(DataZone.SILVER, "t")
    version = store._read_manifest(path)["version"]
    with _pytest.raises(ConstraintViolationError, match="v_positive"):
        store.update_set(DataZone.SILVER, "t", "id = 2", {"v": "-1"})
    # nothing committed: values and version unchanged
    got = {r.id: r.v for r in store.read(DataZone.SILVER, "t").collect()}
    assert got == {1: 5, 2: 7}
    assert store._read_manifest(path)["version"] == version
    # a legal UPDATE still lands
    assert store.update_set(DataZone.SILVER, "t", "id = 2", {"v": "99"}) == 1
    got = {r.id: r.v for r in store.read(DataZone.SILVER, "t").collect()}
    assert got == {1: 5, 2: 99}


def test_write_detects_conflict_landing_during_spark_write(
    spark, tmp_path, monkeypatch
):
    # ADVICE r4: entry-time OCC is check-then-act; a commit landing while
    # the parquet write is in flight must be detected at publish time, not
    # silently overwritten by the stale manifest.
    import pytest as _pytest
    from pyspark.sql import Row
    from healthcare_data_lakehouse_spark.zones import (
        ConcurrentModificationError, DataZone, LoadType, ZoneStore,
    )

    store = ZoneStore(spark, str(tmp_path))
    df = spark.createDataFrame([Row(id=1, v=1)])
    store.write(DataZone.SILVER, "t", df, LoadType.FULL)  # -> v1

    racer = ZoneStore(spark, str(tmp_path))
    racer_df = spark.createDataFrame([Row(id=99, v=99)])
    orig = ZoneStore._stage_commit

    def racing_stage(self, *args, **kwargs):
        orig(self, *args, **kwargs)
        # a REAL concurrent commit (data files + log entry) by a second
        # store landing while our parquet write is in flight
        if self is store:
            racer.write(DataZone.SILVER, "t", racer_df, LoadType.APPEND)

    monkeypatch.setattr(ZoneStore, "_stage_commit", racing_stage)
    with _pytest.raises(ConcurrentModificationError, match="advanced"):
        store.write(
            DataZone.SILVER, "t", df, LoadType.APPEND, expected_version=1
        )
    monkeypatch.setattr(ZoneStore, "_stage_commit", orig)
    # the WINNER's commit survives byte-for-byte: the loser staged to its
    # own unique dir, so the winner's files were never overwritten
    got = {r.id: r.v for r in store.read(DataZone.SILVER, "t").collect()}
    assert got == {1: 1, 99: 99}
    # the loser's staging dir was cleaned up on abort
    path = store.dataset_path(DataZone.SILVER, "t")
    live = store._read_manifest(path)["commits"]
    assert sorted(os.listdir(path)) == sorted(["_log", *live])


def test_claim_version_is_put_if_absent(spark, tmp_path):
    # Two writers can both read version V and stage; creating the entry
    # of V+1 must then act as a put-if-absent so at most one claims it and
    # the winner's version is never clobbered.
    import pytest as _pytest
    from pyspark.sql import Row
    from healthcare_data_lakehouse_spark.zones import (
        ConcurrentModificationError, DataZone, LoadType, ZoneStore,
    )

    store = ZoneStore(spark, str(tmp_path))
    store.write(
        DataZone.SILVER, "t", spark.createDataFrame([Row(id=1)]),
        LoadType.FULL,
    )
    path = store.dataset_path(DataZone.SILVER, "t")
    read = store._read_manifest(path)
    staging = store._staging_dir(path, "c", read["version"] + 1)
    store._stage_commit(staging, spark.createDataFrame([Row(id=3)]), None)
    # the winner claims version 2 first
    store.write(
        DataZone.SILVER, "t", spark.createDataFrame([Row(id=2)]),
        LoadType.APPEND,
    )
    entry = store._next_entry(
        read, read["commits"] + [os.path.basename(staging)]
    )
    with _pytest.raises(ConcurrentModificationError, match="claimed"):
        store._claim_version(path, read["version"], entry, [staging])
    # winner's rows intact, loser's staging removed
    assert {r.id for r in store.read(DataZone.SILVER, "t").collect()} == {1, 2}
    assert not os.path.exists(staging)


@pytest.mark.parametrize("op", ["update", "delete", "compact"])
def test_rewrite_paths_detect_concurrent_commit(
    spark, tmp_path, monkeypatch, op
):
    # ADVICE r5: update_set / delete_where / compact read the manifest
    # once, run a long Spark rewrite, then published blindly — a commit
    # landing during the rewrite was silently dropped (lost update).
    import pytest as _pytest
    from pyspark.sql import Row
    from healthcare_data_lakehouse_spark.zones import (
        ConcurrentModificationError, DataZone, LoadType, ZoneStore,
    )

    store = ZoneStore(spark, str(tmp_path))
    store.write(
        DataZone.SILVER, "t",
        spark.createDataFrame([Row(id=1, v=5), Row(id=2, v=7)]),
        LoadType.FULL,
    )
    racer = ZoneStore(spark, str(tmp_path))
    racer_df = spark.createDataFrame([Row(id=99, v=99)])
    orig = ZoneStore._stage_commit

    def racing_stage(self, *args, **kwargs):
        orig(self, *args, **kwargs)
        if self is store:
            racer.write(DataZone.SILVER, "t", racer_df, LoadType.APPEND)

    monkeypatch.setattr(ZoneStore, "_stage_commit", racing_stage)
    with _pytest.raises(ConcurrentModificationError, match="advanced"):
        if op == "update":
            store.update_set(DataZone.SILVER, "t", "id = 2", {"v": "9"})
        elif op == "delete":
            store.delete_where(DataZone.SILVER, "t", "id = 2")
        else:
            store.compact(DataZone.SILVER, "t")
    monkeypatch.setattr(ZoneStore, "_stage_commit", orig)
    # racer's commit survives; no partial rewrite published
    got = {r.id: r.v for r in store.read(DataZone.SILVER, "t").collect()}
    assert got == {1: 5, 2: 7, 99: 99}


def test_delete_where_pruning_survives_statless_empty_commit(spark, tmp_path):
    # ADVICE r4: a commit whose parquet has zero row groups yields
    # min=None with has_stats=True; pruning must scan it conservatively
    # instead of raising TypeError on None comparison.
    from pyspark.sql import Row
    from healthcare_data_lakehouse_spark.zones import DataZone, LoadType, ZoneStore

    store = ZoneStore(spark, str(tmp_path))
    empty = spark.createDataFrame([], "id long, v long").coalesce(1)
    store.write(DataZone.SILVER, "t", empty, LoadType.FULL)
    data = spark.createDataFrame([Row(id=i, v=i) for i in range(10)])
    store.write(DataZone.SILVER, "t", data, LoadType.APPEND)
    n = store.delete_where(
        DataZone.SILVER, "t", "v >= 8",
        prune_column="v", prune_lo=8, prune_hi=None,
    )
    assert n == 2
    assert store.read(DataZone.SILVER, "t").count() == 8


def test_merge_into_rejects_duplicate_source_match(spark, tmp_path):
    # ADVICE r4: Delta MERGE raises when multiple source rows match one
    # target row; silent duplication of the target row is a deviation.
    import pytest as _pytest
    from pyspark.sql import Row
    from healthcare_data_lakehouse_spark.zones import DataZone, LoadType, ZoneStore

    store = ZoneStore(spark, str(tmp_path))
    tgt = spark.createDataFrame([Row(id=1, v=10), Row(id=2, v=20)])
    store.write(DataZone.SILVER, "t", tgt, LoadType.FULL)
    dup_src = spark.createDataFrame(
        [Row(id=1, v=100), Row(id=1, v=101), Row(id=9, v=900)]
    )
    with _pytest.raises(ValueError, match="multiple rows matching"):
        store.merge_into(
            DataZone.SILVER, "t", dup_src, id_field="id",
            matched_update={"v": "src_v"},
        )
    # duplicate keys only on the INSERT side don't match a target row;
    # Delta permits them (both insert) — so do we
    ins_only_dup = spark.createDataFrame([Row(id=9, v=900), Row(id=9, v=901)])
    stats = store.merge_into(
        DataZone.SILVER, "t", ins_only_dup, id_field="id",
        matched_update={"v": "src_v"},
    )
    assert stats["inserted"] == 2
    assert store.read(DataZone.SILVER, "t").count() == 4


def test_with_retry_loser_retries_and_both_commits_land(
    spark, tmp_path, monkeypatch
):
    # VERDICT r6 ask #5: every rewrite path raises
    # ConcurrentModificationError correctly, but callers had no retry
    # story. The OCC loser must re-read and re-attempt; afterwards BOTH
    # the racer's and the retried writer's rows are in the table.
    from pyspark.sql import Row
    from healthcare_data_lakehouse_spark.zones import (
        ConcurrentModificationError, DataZone, LoadType, ZoneStore,
    )

    store = ZoneStore(spark, str(tmp_path))
    store.write(
        DataZone.SILVER, "t", spark.createDataFrame([Row(id=1, v=1)]),
        LoadType.FULL,
    )
    racer = ZoneStore(spark, str(tmp_path))
    racer_df = spark.createDataFrame([Row(id=99, v=99)])
    orig = ZoneStore._stage_commit
    raced = {"n": 0}

    def racing_stage_once(self, *args, **kwargs):
        orig(self, *args, **kwargs)
        if self is store and raced["n"] == 0:
            # racer lands only during the FIRST attempt
            raced["n"] += 1
            racer.write(DataZone.SILVER, "t", racer_df, LoadType.APPEND)

    monkeypatch.setattr(ZoneStore, "_stage_commit", racing_stage_once)
    mine = spark.createDataFrame([Row(id=2, v=2)])
    n = store.with_retry(
        lambda: store.write(DataZone.SILVER, "t", mine, LoadType.APPEND)
    )
    assert n == 1
    got = {r.id: r.v for r in store.read(DataZone.SILVER, "t").collect()}
    assert got == {1: 1, 2: 2, 99: 99}  # both commits landed
    # exhausted retries re-raise the conflict

    def always_racing_stage(self, *args, **kwargs):
        orig(self, *args, **kwargs)
        if self is store:
            racer.write(DataZone.SILVER, "t", racer_df, LoadType.APPEND)

    monkeypatch.setattr(ZoneStore, "_stage_commit", always_racing_stage)
    with pytest.raises(ConcurrentModificationError):
        store.with_retry(
            lambda: store.write(
                DataZone.SILVER, "t", mine, LoadType.APPEND
            ),
            max_attempts=2,
        )


def test_vacuum_spares_young_staging_dirs(spark, tmp_path):
    # ADVICE r6 (medium): vacuum unconditionally rmtree'd every
    # _staging_* dir, racing live in-flight writes. Staging dirs younger
    # than the retention window must survive; older ones are reclaimed.
    from pyspark.sql import Row
    from healthcare_data_lakehouse_spark.zones import DataZone, LoadType, ZoneStore

    store = ZoneStore(spark, str(tmp_path))
    store.write(
        DataZone.SILVER, "t", spark.createDataFrame([Row(id=1)]),
        LoadType.FULL,
    )
    path = store.dataset_path(DataZone.SILVER, "t")
    young = os.path.join(path, "_staging_young")
    old = os.path.join(path, "_staging_old")
    os.makedirs(young)
    os.makedirs(old)
    os.utime(old, (0, 0))  # epoch mtime — far past any retention window
    stats = store.vacuum(DataZone.SILVER, "t")
    assert os.path.isdir(young)  # in-flight stage untouched
    assert not os.path.exists(old)  # orphan reclaimed
    assert stats["removed_commits"] == 1
    # explicit zero retention reclaims immediately (operator override)
    store.vacuum(DataZone.SILVER, "t", staging_retention_sec=0.0)
    assert not os.path.exists(young)


def _ten_rows(spark, start=0, n=10):
    return spark.range(start, start + n).select(
        F.col("id").cast("string").alias("id"), F.lit("a").alias("v")
    )


def test_vacuum_keeps_a_commit_landing_during_vacuum(spark, store, monkeypatch):
    # vacuum lists the log, then deletes; a commit landing in between
    # must be neither deleted nor dropped from the table. Vacuum claims
    # no version, so it completes and both live commits stay
    z = DataZone.SILVER
    for _ in range(3):
        store.write(z, "t", _ten_rows(spark), LoadType.FULL)  # v1..v3
    path = store.dataset_path(z, "t")
    (v3_commit,) = store._read_manifest(path)["commits"]
    listing = store._log_versions

    def list_then_append(path):
        versions = listing(path)
        monkeypatch.setattr(store, "_log_versions", listing)
        store.write(z, "t", _ten_rows(spark, 10, 5), LoadType.APPEND)  # v4
        return versions

    monkeypatch.setattr(store, "_log_versions", list_then_append)
    store.vacuum(z, "t", retain_last=1)
    m = store._read_manifest(path)
    assert m["version"] == 4
    assert len(m["commits"]) == 2 and m["commits"][0] == v3_commit
    assert all(os.path.isdir(os.path.join(path, c)) for c in m["commits"])
    assert store.read(z, "t").count() == 15


def test_vacuum_spares_a_fresh_unreferenced_commit_dir(spark, store):
    # a dir no entry names may be a stage whose claim is still to come;
    # like a staging dir it is reclaimed only once it is older than the
    # retention window
    z = DataZone.SILVER
    store.write(z, "t", _ten_rows(spark), LoadType.FULL)  # v1
    store.write(z, "t", _ten_rows(spark), LoadType.FULL)  # v2
    path = store.dataset_path(z, "t")
    (v1_commit,) = store._read_entry(path, 1)["commits"]
    fresh = store._staging_dir(path, "c", 3)
    _ten_rows(spark, 10).coalesce(1).write.parquet(fresh)
    store.vacuum(z, "t", retain_last=1)
    assert os.path.isdir(fresh)
    assert not os.path.exists(os.path.join(path, v1_commit))
    store.vacuum(z, "t", retain_last=1, staging_retention_sec=0.0)
    assert not os.path.exists(fresh)
    assert store.read(z, "t").count() == 10


def test_claim_version_reraises_non_conflict_oserror(
    spark, tmp_path, monkeypatch
):
    # ADVICE r6 (low): a bare OSError catch misreported ENOSPC/EACCES as
    # "version already claimed" and deleted the staged data — destroying
    # the evidence. Non-conflict errnos must propagate with staging intact.
    import errno as _errno
    from pyspark.sql import Row
    from healthcare_data_lakehouse_spark.zones import DataZone, LoadType, ZoneStore

    store = ZoneStore(spark, str(tmp_path))
    store.write(
        DataZone.SILVER, "t", spark.createDataFrame([Row(id=1)]),
        LoadType.FULL,
    )
    path = store.dataset_path(DataZone.SILVER, "t")
    read = store._read_manifest(path)
    staging = store._staging_dir(path, "c", read["version"] + 1)
    store._stage_commit(staging, spark.createDataFrame([Row(id=2)]), None)
    entry = store._next_entry(
        read, read["commits"] + [os.path.basename(staging)]
    )

    def enospc_link(src, dst):
        raise OSError(_errno.ENOSPC, "No space left on device", dst)

    monkeypatch.setattr(os, "link", enospc_link)
    with pytest.raises(OSError) as exc_info:
        store._claim_version(path, read["version"], entry, [staging])
    monkeypatch.undo()
    assert exc_info.value.errno == _errno.ENOSPC
    assert os.path.isdir(staging)  # evidence preserved, not deleted
    assert store._read_manifest(path)["version"] == read["version"]


def test_cdf_replication_apply_reaches_source_state(spark, sf_dir):
    from healthcare_data_lakehouse_spark.queries.etl_queries import (
        load_cdf_replication_apply,
    )

    r = load_cdf_replication_apply(spark, sf_dir).collect()[0]
    # the replication contract: applying the feed == re-reading the table
    assert r.n_mismatch == 0
    assert r.n_replica == r.n_source
    assert r.replica_cents == r.source_cents
    # all three clause kinds actually fired
    assert r.applied_inserts > 0
    assert r.applied_updates > 0
    assert r.applied_deletes > 0


def test_bloom_index_skips_commits_and_preserves_results(spark, sf_dir):
    from pyspark.sql import functions as F

    from healthcare_data_lakehouse_spark.scratch import scratch_dir
    from healthcare_data_lakehouse_spark.tables import table
    from healthcare_data_lakehouse_spark.zones import DataZone, LoadType, ZoneStore

    orders = table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    store = ZoneStore(spark, scratch_dir("zs_bloom_t_"))
    for i in range(4):
        store.write(
            DataZone.SILVER,
            "ob",
            orders.filter(F.col("o_orderkey") % 4 == i),
            LoadType.APPEND,
        )
    stats = store.build_bloom_index(DataZone.SILVER, "ob", "o_orderkey")
    assert stats["commits_indexed"] == 4
    assert 0 < stats["total_set_bits"] <= 4 * stats["m_bits"]

    keys = [r.o_orderkey for r in orders.limit(20).collect()]
    skipped_any = False
    for key in keys[:5]:
        df, report = store.read_bloom_pruned(
            DataZone.SILVER, "ob", "o_orderkey", key
        )
        exact = orders.filter(F.col("o_orderkey") == key).count()
        assert df.count() == exact  # pruning never changes the answer
        assert report["commits_scanned"] >= 1
        skipped_any = skipped_any or report["commits_skipped"] > 0
    # the true commit always passes; with 3 hashes over a 65536-bit
    # filter at this fill factor at least one probe must skip something
    assert skipped_any

    # a key that exists nowhere: typically all commits skipped; result
    # is empty regardless
    df, report = store.read_bloom_pruned(
        DataZone.SILVER, "ob", "o_orderkey", -987654321
    )
    assert df.count() == 0
