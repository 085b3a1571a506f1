"""Zone-store commit protocol: reads use the schemas the manifest records,
commit row counts come from the write job itself, and the manifest keeps
per-version operation metrics.

Schema parity: every read path must return exactly what parquet
``mergeSchema`` inference over the same commit dirs returns — names,
order, types, nullability — and the same rows. The job-budget tests pin
the Spark jobs each op may start, so a per-read inference job or a
pre-write count job that creeps back fails here."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
)

from healthcare_data_lakehouse_spark.etl import (
    ETLJobConfig,
    ETLStatus,
    HealthcareETLManager,
)
from healthcare_data_lakehouse_spark.zones import DataZone, LoadType, ZoneStore
from healthcare_data_lakehouse_spark.zones_branch import BranchingZoneStore
from healthcare_data_lakehouse_spark.zones_dv import DVZoneStore

Z = DataZone.SILVER

#: non-nullable fields at every nesting level, so the recorded schema
#: must be made nullable the way a parquet read does
NESTED = StructType([
    StructField("id", LongType(), False),
    StructField("v", DoubleType(), False),
    StructField("tags", ArrayType(StringType(), False), False),
    StructField("m", MapType(StringType(), LongType(), False), True),
    StructField("s", StructType([StructField("a", LongType(), False)]), False),
])


def _nested(spark, ids):
    return spark.createDataFrame(
        [(i, float(i), [f"t{i}"], {"k": i}, (i,)) for i in ids], NESTED
    )


def _widened(spark, ids):
    return spark.createDataFrame(
        [(i, float(i), f"x{i}") for i in ids], "id long, v double, extra string"
    )


def _inferred(spark, path, commits):
    return spark.read.option("mergeSchema", "true").parquet(
        *[os.path.join(path, c) for c in commits]
    )


def _rows(df):
    return sorted((tuple(r) for r in df.collect()), key=repr)


def _assert_parity(got, want):
    assert got.schema == want.schema
    assert got.columns == want.columns
    assert _rows(got) == _rows(want)


def _manifest(store, dataset, zone=Z):
    return store._read_manifest(store.dataset_path(zone, dataset))


def _jobs(spark) -> int:
    return spark.sparkContext._jsc.sc().dagScheduler().nextJobId()


# ------------------------------------------------------------ schema parity
def test_read_matches_inference_after_widening_append(spark, tmp_path):
    store = ZoneStore(spark, str(tmp_path))
    store.write(Z, "t", _nested(spark, range(5)), LoadType.FULL)
    store.write(Z, "t", _widened(spark, range(5, 8)), LoadType.APPEND)
    m = _manifest(store, "t")
    assert set(m["schemas"]) == set(m["commits"])
    path = store.dataset_path(Z, "t")
    _assert_parity(store.read(Z, "t"), _inferred(spark, path, m["commits"]))
    _assert_parity(
        store.read_version(Z, "t", 1), _inferred(spark, path, m["history"]["1"])
    )
    _assert_parity(
        store.read_changes(Z, "t", 1, 2), _inferred(spark, path, m["commits"][1:])
    )


def test_read_version_across_full_replace_with_new_schema(spark, tmp_path):
    store = ZoneStore(spark, str(tmp_path))
    store.write(Z, "t", _nested(spark, range(4)), LoadType.FULL)
    other = spark.createDataFrame([("a", 1.5), ("b", None)], "k string, w double")
    store.write(Z, "t", other, LoadType.FULL)
    m = _manifest(store, "t")
    path = store.dataset_path(Z, "t")
    _assert_parity(store.read(Z, "t"), _inferred(spark, path, m["commits"]))
    for v in ("1", "2"):
        _assert_parity(
            store.read_version(Z, "t", int(v)),
            _inferred(spark, path, m["history"][v]),
        )


def test_partitioned_commits_read_like_inference(spark, tmp_path):
    # a multi-commit partitioned table is unreadable (Spark finds
    # conflicting directory structures), so each version is one commit
    store = ZoneStore(spark, str(tmp_path))
    base = spark.createDataFrame(
        [(i, float(i), i % 2) for i in range(6)], "id long, v double, p int"
    )
    store.write(Z, "t", base, LoadType.FULL, partition_columns=["p"])
    more = spark.createDataFrame(
        [(10, 1.0, "z", "b")], "id long, v double, extra string, p string"
    )
    store.write(Z, "t", more, LoadType.FULL, partition_columns=["p"])
    m = _manifest(store, "t")
    assert all(m["schemas"][c]["partitionColumns"] == ["p"] for c in m["schemas"])
    path = store.dataset_path(Z, "t")
    got = store.read(Z, "t")
    _assert_parity(got, _inferred(spark, path, m["commits"]))
    assert got.columns[-1] == "p"  # partition column last, as inferred
    _assert_parity(
        store.read_version(Z, "t", 1), _inferred(spark, path, m["history"]["1"])
    )


def test_clone_and_branch_fast_forward_read_like_inference(spark, tmp_path):
    store = BranchingZoneStore(spark, str(tmp_path))
    store.write(Z, "t", _nested(spark, range(4)), LoadType.FULL)
    # the clone "a" sorts before its source "t", so path order (which
    # inference folds footers in) differs from commit order
    store.clone(Z, "t", Z, "a")
    store.write(Z, "a", _widened(spark, [20]), LoadType.APPEND)
    m = _manifest(store, "a")
    _assert_parity(
        store.read(Z, "a"),
        _inferred(spark, store.dataset_path(Z, "a"), m["commits"]),
    )

    store.create_branch(Z, "t", "exp")
    store.branch_write(Z, "t", "exp", _widened(spark, [30]), LoadType.APPEND)
    store.merge_branch(Z, "t", "exp")
    m = _manifest(store, "t")
    assert set(m["schemas"]) >= set(m["commits"])
    _assert_parity(store.read(Z, "t"), _inferred(spark, "/", m["commits"]))


def test_restore_version_reads_like_inference(spark, tmp_path):
    store = ZoneStore(spark, str(tmp_path))
    store.write(Z, "t", _nested(spark, range(3)), LoadType.FULL)
    store.write(Z, "t", _widened(spark, [7]), LoadType.APPEND)
    store.write(Z, "t", _widened(spark, [8]), LoadType.FULL)
    store.restore_version(Z, "t", 2)
    m = _manifest(store, "t")
    path = store.dataset_path(Z, "t")
    assert m["commits"] == m["history"]["2"]
    _assert_parity(store.read(Z, "t"), _inferred(spark, path, m["commits"]))
    store.vacuum(Z, "t", retain_last=1)
    m = _manifest(store, "t")
    assert set(m["schemas"]) == set(m["commits"])
    _assert_parity(store.read(Z, "t"), _inferred(spark, path, m["commits"]))


def test_dv_table_reads_like_inference(spark, tmp_path):
    store = DVZoneStore(spark, str(tmp_path))
    store.write(Z, "t", _nested(spark, range(6)), LoadType.FULL)
    store.write(Z, "t", _widened(spark, range(6, 9)), LoadType.APPEND)
    assert store.delete_where_dv(Z, "t", "id % 3 = 0") == 3
    m = _manifest(store, "t")
    path = store.dataset_path(Z, "t")
    want = _inferred(spark, path, m["commits"]).filter("id % 3 != 0")
    _assert_parity(store.read(Z, "t"), want)
    _assert_parity(
        store.read_version(Z, "t", 2), _inferred(spark, path, m["commits"])
    )
    assert store.dv_stats(Z, "t")["n_deleted_keys"] == 3


def test_quarantine_table_reads_like_inference(spark, tmp_path):
    store = ZoneStore(spark, str(tmp_path))
    store.write_quarantine("j", _nested(spark, [1, 2]), "failed", 0.5, "t0")
    store.write_quarantine("j", _widened(spark, [3]), "failed", 0.25, "t1")
    path = store._quarantine_path("j")
    m = store._read_manifest(path)
    _assert_parity(store.read_quarantine("j"), _inferred(spark, path, m["commits"]))


def test_commits_without_recorded_schema_fall_back_to_inference(
    spark, tmp_path
):
    # a commit another writer published without a schema entry
    store = ZoneStore(spark, str(tmp_path))
    store.write(Z, "t", _nested(spark, range(3)), LoadType.FULL)
    path = store.dataset_path(Z, "t")
    _widened(spark, [9]).write.parquet(os.path.join(path, "c000002"))
    m = _manifest(store, "t")
    m["version"] = 2
    m["commits"].append("c000002")
    store._write_manifest(path, m)
    _assert_parity(store.read(Z, "t"), _inferred(spark, path, m["commits"]))


# ---------------------------------------------------------- merge counts
def test_merge_into_clause_counts_with_all_clauses(spark, tmp_path):
    store = ZoneStore(spark, str(tmp_path))
    tgt = spark.createDataFrame(
        [(i, None if i == 3 else float(i)) for i in range(10)],
        "id long, v double",
    )
    store.write(Z, "t", tgt, LoadType.FULL)
    src = spark.createDataFrame(
        [(i, -1.0 if i == 5 else float(i * 10)) for i in range(5, 15)],
        "id long, v double",
    )
    counts = store.merge_into(
        Z, "t", src,
        matched_delete="src_v < 0",
        matched_update={"v": "src_v"},
        insert_not_matched=True,
        not_matched_by_source_delete="v < 2",  # NULL v (id 3) survives
    )
    assert counts == {"updated": 4, "deleted_matched": 1,
                      "inserted": 5, "deleted_by_source": 2}
    got = {r.id: r.v for r in store.read(Z, "t").collect()}
    want = {2: 2.0, 3: None, 4: 4.0}
    want.update({i: float(i * 10) for i in range(6, 15)})
    assert got == want
    m = _manifest(store, "t")
    assert m["metrics"][str(m["version"])]["numOutputRows"] == len(want)


def test_duplicate_source_merge_raises_and_publishes_nothing(spark, tmp_path):
    store = ZoneStore(spark, str(tmp_path))
    store.write(Z, "t", spark.createDataFrame([(1, 1.0), (2, 2.0)],
                                              "id long, v double"), LoadType.FULL)
    path = store.dataset_path(Z, "t")
    before, entries = _manifest(store, "t"), sorted(os.listdir(path))
    dup = spark.createDataFrame([(1, 5.0), (1, 6.0), (9, 9.0)], "id long, v double")
    with pytest.raises(ValueError, match=r"multiple rows matching.*\[1\]"):
        store.merge_into(Z, "t", dup, matched_update={"v": "src_v"})
    assert _manifest(store, "t") == before
    assert sorted(os.listdir(path)) == entries


# ------------------------------------------------------------- metrics
def test_manifest_records_operation_metrics_and_vacuum_trims_them(
    spark, tmp_path
):
    store = DVZoneStore(spark, str(tmp_path))
    store.write(Z, "t", _nested(spark, range(5)), LoadType.FULL)
    store.write(Z, "t", _nested(spark, range(5, 8)), LoadType.APPEND)
    store.delete_where_dv(Z, "t", "id < 2")
    m = _manifest(store, "t")
    path = store.dataset_path(Z, "t")
    for version, rows, where in [(1, 5, m["history"]["1"][0]),
                                 (2, 3, m["commits"][1]),
                                 (3, 2, os.path.join("_dv", "dv000003"))]:
        files = [f for f in os.listdir(os.path.join(path, where))
                 if f.endswith(".parquet")]
        size = sum(os.path.getsize(os.path.join(path, where, f)) for f in files)
        assert m["metrics"][str(version)] == {
            "numOutputRows": rows, "numFiles": len(files), "numOutputBytes": size,
        }
    store.compact(Z, "t")  # purge (v4) then compact (v5)
    store.vacuum(Z, "t", retain_last=1)
    m = _manifest(store, "t")
    assert list(m["history"]) == ["5"]
    assert list(m["metrics"]) == ["5"]
    assert m["metrics"]["5"]["numOutputRows"] == 6
    assert list(m["schemas"]) == m["commits"]


# ----------------------------------------------------- vector-aware reads
def test_pruned_reads_apply_deletion_vectors(spark, tmp_path):
    store = DVZoneStore(spark, str(tmp_path))
    df = spark.createDataFrame([(i, i) for i in range(20)], "id long, k long")
    store.write(Z, "t", df.filter("id < 10"), LoadType.FULL)
    store.write(Z, "t", df.filter("id >= 10"), LoadType.APPEND)
    store.build_bloom_index(Z, "t", "id")
    assert store.delete_where_dv(Z, "t", "k BETWEEN 3 AND 12") == 10

    ranged, _ = store.read_pruned(Z, "t", "k", 0, 15)
    assert sorted(r.id for r in ranged.collect()) == [0, 1, 2, 13, 14, 15]
    ranged, report = store.read_pruned(Z, "t", "k", 4, 8)
    assert report["commits_skipped"] == 1
    assert ranged.count() == 0
    for key, n in [(5, 0), (11, 0), (2, 1), (17, 1)]:
        point, _ = store.read_bloom_pruned(Z, "t", "id", key)
        assert point.count() == n


# ------------------------------------------------------------ job budget
@pytest.fixture()
def staged_jobs(spark, monkeypatch):
    """Jobs started inside the staged parquet writes, by the spied store."""
    inside = {"jobs": 0, "writes": 0}
    orig = ZoneStore._stage_commit

    def spy(self, *args, **kwargs):
        first = _jobs(spark)
        try:
            return orig(self, *args, **kwargs)
        finally:
            inside["jobs"] += _jobs(spark) - first
            inside["writes"] += 1

    monkeypatch.setattr(ZoneStore, "_stage_commit", spy)
    return inside


def test_reads_start_no_job(spark, tmp_path):
    store = DVZoneStore(spark, str(tmp_path))
    store.write(Z, "t", _nested(spark, range(10)), LoadType.FULL)
    store.write(Z, "t", _widened(spark, range(10, 12)), LoadType.APPEND)
    store.delete_where_dv(Z, "t", "id < 3")
    first = _jobs(spark)
    store.read(Z, "t")
    store.read_version(Z, "t", 1)
    store.read_pruned(Z, "t", "id", 0, 5)
    assert _jobs(spark) == first


@pytest.mark.parametrize("op", ["append", "dv_delete", "merge"])
def test_commit_starts_only_its_write_jobs(spark, tmp_path, staged_jobs, op):
    store = DVZoneStore(spark, str(tmp_path))
    store.write(Z, "t", _nested(spark, range(10)), LoadType.FULL)
    staged_jobs.update(jobs=0, writes=0)
    first = _jobs(spark)
    if op == "append":
        assert store.write(Z, "t", _nested(spark, [20, 21]), LoadType.APPEND) == 2
    elif op == "dv_delete":
        assert store.delete_where_dv(Z, "t", "id < 4") == 4
    else:
        src = _nested(spark, [1, 2, 30]).select("id", F.col("v") + 1)
        counts = store.merge_into(Z, "t", src.toDF("id", "v"),
                                  matched_update={"v": "src_v"})
        assert (counts["updated"], counts["inserted"]) == (2, 1)
    assert staged_jobs["writes"] == 1
    assert staged_jobs["jobs"] >= 1
    assert _jobs(spark) - first == staged_jobs["jobs"]


# ------------------------------------------------------------ run_job cache
def test_run_job_releases_its_cached_frames(spark, tmp_path):
    mgr = HealthcareETLManager(spark, str(tmp_path), quarantine_cap=None)
    rows = [(str(i), f"MRN{i:09d}" if i % 5 else None, "1990-01-02", 40.0, 70.0)
            for i in range(25)]
    batch = spark.createDataFrame(
        rows, "id string, patient_id string, birth_date string, "
        "age double, heart_rate double",
    )
    cache = spark._jsparkSession.sharedState().cacheManager()
    before = (cache.cachedData().size(),
              spark.sparkContext._jsc.getPersistentRDDs().size())
    config = ETLJobConfig(
        job_id="j", source_name="pat", target_zone=Z, load_type=LoadType.MERGE,
        required_fields=["patient_id"],
    )
    result = mgr.run_job(config, batch)
    assert result.status == ETLStatus.COMPLETED, result.error_message
    assert (result.records_read, result.records_quarantined,
            result.records_written) == (25, 5, 20)
    after = (cache.cachedData().size(),
             spark.sparkContext._jsc.getPersistentRDDs().size())
    assert after == before
    # the FAILED exit path releases them too
    config.enable_quarantine = False
    assert mgr.run_job(config, batch).status == ETLStatus.FAILED
    assert (cache.cachedData().size(),
            spark.sparkContext._jsc.getPersistentRDDs().size()) == before
