"""Deletion-vector ZoneStore (zones_dv.DVZoneStore): the merge-on-read
properties the query cannot show are pinned here — deletes rewrite NO
data files, deletes are idempotent, time travel replays vectors, restore,
clone and vacuum treat a version's vectors with its commits, a rewrite of
the whole table retires them in its one commit, and purge compaction
folds them away without changing read results."""

from __future__ import annotations

import os

import pytest

from healthcare_data_lakehouse_spark.zones import DataZone, LoadType
from healthcare_data_lakehouse_spark.zones_dv import DVZoneStore


def _mk(spark, tmp_path):
    store = DVZoneStore(spark, str(tmp_path))
    df = spark.createDataFrame(
        [(i, float(i * 10), "A" if i % 2 == 0 else "B") for i in range(20)],
        "id long, val double, grp string",
    )
    store.write(DataZone.SILVER, "t", df.filter("id < 10"), LoadType.FULL)
    store.write(DataZone.SILVER, "t", df.filter("id >= 10"), LoadType.APPEND)
    return store


def _data_files(store, zone, dataset):
    path = store.dataset_path(zone, dataset)
    manifest = store._read_manifest(path)
    files = []
    for c in manifest["commits"]:
        cdir = os.path.join(path, c)
        for root, _, names in os.walk(cdir):
            files += [
                (os.path.join(root, n), os.path.getmtime(os.path.join(root, n)))
                for n in names
            ]
    return manifest["commits"], sorted(files)


def test_dv_delete_rewrites_no_data_files(spark, tmp_path):
    store = _mk(spark, tmp_path)
    before_commits, before_files = _data_files(store, DataZone.SILVER, "t")
    n = store.delete_where_dv(DataZone.SILVER, "t", "id % 5 = 0")
    assert n == 4  # 0, 5, 10, 15
    after_commits, after_files = _data_files(store, DataZone.SILVER, "t")
    assert after_commits == before_commits
    assert after_files == before_files  # paths AND mtimes untouched
    live = {r.id for r in store.read(DataZone.SILVER, "t").collect()}
    assert live == {i for i in range(20) if i % 5 != 0}


def test_dv_delete_is_idempotent(spark, tmp_path):
    store = _mk(spark, tmp_path)
    assert store.delete_where_dv(DataZone.SILVER, "t", "id < 3") == 3
    v = store._read_manifest(store.dataset_path(DataZone.SILVER, "t"))[
        "version"
    ]
    # same predicate again: evaluates over the DV-applied scan -> no-op
    assert store.delete_where_dv(DataZone.SILVER, "t", "id < 3") == 0
    v2 = store._read_manifest(store.dataset_path(DataZone.SILVER, "t"))[
        "version"
    ]
    assert v2 == v


def test_dv_time_travel_replays_vectors(spark, tmp_path):
    store = _mk(spark, tmp_path)
    store.delete_where_dv(DataZone.SILVER, "t", "id < 5")        # v3
    store.delete_where_dv(DataZone.SILVER, "t", "grp = 'B'")     # v4
    v2 = {r.id for r in store.read_version(DataZone.SILVER, "t", 2).collect()}
    v3 = {r.id for r in store.read_version(DataZone.SILVER, "t", 3).collect()}
    v4 = {r.id for r in store.read_version(DataZone.SILVER, "t", 4).collect()}
    assert v2 == set(range(20))
    assert v3 == set(range(5, 20))
    assert v4 == {i for i in range(5, 20) if i % 2 == 0}
    assert v4 == {r.id for r in store.read(DataZone.SILVER, "t").collect()}


def test_dv_purge_preserves_reads_and_clears_vectors(spark, tmp_path):
    store = _mk(spark, tmp_path)
    store.delete_where_dv(DataZone.SILVER, "t", "id % 3 = 0")
    before = sorted(
        (r.id, r.val, r.grp)
        for r in store.read(DataZone.SILVER, "t").collect()
    )
    n = store.purge_dv(DataZone.SILVER, "t")
    assert n == len(before)
    after = sorted(
        (r.id, r.val, r.grp)
        for r in store.read(DataZone.SILVER, "t").collect()
    )
    assert after == before
    st = store.dv_stats(DataZone.SILVER, "t")
    assert st["n_dvs"] == 0 and st["n_deleted_keys"] == 0
    assert st["n_commits"] == 1  # compacted to one commit
    # purge with nothing outstanding is a no-op
    assert store.purge_dv(DataZone.SILVER, "t") == 0


def test_dv_key_column_cannot_mix(spark, tmp_path):
    store = _mk(spark, tmp_path)
    store.delete_where_dv(DataZone.SILVER, "t", "id = 1", key_col="id")
    with pytest.raises(ValueError, match="keyed on"):
        store.delete_where_dv(DataZone.SILVER, "t", "id = 2", key_col="grp")


def test_dv_stats_reports_scan_tax(spark, tmp_path):
    store = _mk(spark, tmp_path)
    store.delete_where_dv(DataZone.SILVER, "t", "id < 4")
    store.delete_where_dv(DataZone.SILVER, "t", "id >= 18")
    st = store.dv_stats(DataZone.SILVER, "t")
    assert st["n_dvs"] == 2
    assert st["n_deleted_keys"] == 6
    assert st["dv_key"] == "id"
    assert st["n_commits"] == 2


def test_dv_delete_keys_set_based_and_idempotent(spark, tmp_path):
    store = _mk(spark, tmp_path)
    keys = spark.createDataFrame([(2,), (4,), (99,)], "id long")
    # 99 has no live row: contributes nothing
    assert store.delete_keys_dv(DataZone.SILVER, "t", keys) == 2
    v = store._read_manifest(store.dataset_path(DataZone.SILVER, "t"))[
        "version"
    ]
    # replay of the same request batch: all keys already dead -> no-op
    assert store.delete_keys_dv(DataZone.SILVER, "t", keys) == 0
    v2 = store._read_manifest(store.dataset_path(DataZone.SILVER, "t"))[
        "version"
    ]
    assert v2 == v
    live = {r.id for r in store.read(DataZone.SILVER, "t").collect()}
    assert live == set(range(20)) - {2, 4}


def test_dv_merge_reinsert_after_delete_is_not_refiltered(spark, tmp_path):
    # stale-vector resurrection bug: a MERGE that re-inserts a key the
    # vector deleted must produce a LIVE row — the rewrite reads through
    # the vector and retires it, so no old vector can touch newer data
    store = _mk(spark, tmp_path)
    store.delete_where_dv(DataZone.SILVER, "t", "id = 3")
    assert 3 not in {
        r.id for r in store.read(DataZone.SILVER, "t").collect()
    }
    upsert = spark.createDataFrame(
        [(3, 999.0, "A")], "id long, val double, grp string"
    )
    store.write(DataZone.SILVER, "t", upsert, LoadType.MERGE)
    rows = {r.id: r for r in store.read(DataZone.SILVER, "t").collect()}
    assert 3 in rows and rows[3].val == 999.0
    assert store.dv_stats(DataZone.SILVER, "t")["n_dvs"] == 0


def test_dv_append_after_delete_keeps_new_rows(spark, tmp_path):
    store = _mk(spark, tmp_path)
    store.delete_where_dv(DataZone.SILVER, "t", "id = 7")
    fresh = spark.createDataFrame(
        [(7, 777.0, "B")], "id long, val double, grp string"
    )
    store.write(DataZone.SILVER, "t", fresh, LoadType.APPEND)
    rows = [r for r in store.read(DataZone.SILVER, "t").collect()
            if r.id == 7]
    assert len(rows) == 1 and rows[0].val == 777.0


def test_dv_cow_delete_counts_only_live_rows(spark, tmp_path):
    # copy-on-write DELETE after a vector delete: the CoW pass reads
    # through the vector, so it never sees (or counts) rows it removed
    store = _mk(spark, tmp_path)
    store.delete_where_dv(DataZone.SILVER, "t", "id < 10")   # 10 rows
    n = store.delete_where(DataZone.SILVER, "t", "id < 12")
    assert n == 2  # only 10, 11 were still live
    live = {r.id for r in store.read(DataZone.SILVER, "t").collect()}
    assert live == set(range(12, 20))


# ------------------------------------------ a version owns its vectors
Z = DataZone.SILVER
SCHEMA = "id long, val double, grp string"


def _ids(df):
    return {r.id for r in df.collect()}


def _commit_dirs(store, dataset="t"):
    path = store.dataset_path(Z, dataset)
    return {e for e in os.listdir(path) if e.startswith("c")}


def test_restore_after_purge_reads_like_read_version(spark, tmp_path):
    store = _mk(spark, tmp_path)
    store.delete_where_dv(Z, "t", "id < 3")  # v3
    store.purge_dv(Z, "t")                   # v4
    want = _ids(store.read_version(Z, "t", 3))
    assert want == set(range(3, 20))
    store.restore_version(Z, "t", 3)         # v5
    assert _ids(store.read(Z, "t")) == want
    assert _ids(store.read_version(Z, "t", 5)) == want


def test_clone_with_outstanding_vector_reads_like_source(spark, tmp_path):
    store = _mk(spark, tmp_path)
    store.delete_where_dv(Z, "t", "id % 4 = 0")
    store.clone(Z, "t", DataZone.GOLD, "c")
    src = _ids(store.read(Z, "t"))
    assert _ids(store.read(DataZone.GOLD, "c")) == src
    # a vector on the clone lands in the clone's own directory
    assert store.delete_where_dv(DataZone.GOLD, "c", "id = 1") == 1
    assert _ids(store.read(DataZone.GOLD, "c")) == src - {1}
    assert _ids(store.read(Z, "t")) == src


def test_vacuum_reclaims_vectors_of_dropped_versions(spark, tmp_path):
    store = _mk(spark, tmp_path)
    store.delete_where_dv(Z, "t", "id < 3")   # v3
    store.delete_where_dv(Z, "t", "id = 10")  # v4
    path = store.dataset_path(Z, "t")
    dv_root = os.path.join(path, store.DV_DIR)
    # the retained version still reads through both vectors, which sort
    # in the order their versions were claimed
    store.vacuum(Z, "t", retain_last=1)
    dvs = store._read_manifest(path)["dvs"]
    assert len(dvs) == 2 and sorted(os.listdir(dv_root)) == dvs
    assert _ids(store.read_version(Z, "t", 4)) == set(range(3, 20)) - {10}
    store.compact(Z, "t")                     # v5 retires them
    store.vacuum(Z, "t", retain_last=1)
    assert os.listdir(dv_root) == []
    m = store._read_manifest(path)
    assert store._log_versions(path) == [5] and "dvs" not in m
    assert _ids(store.read(Z, "t")) == set(range(3, 20)) - {10}


def test_plain_store_on_the_root_applies_vectors(spark, tmp_path):
    from healthcare_data_lakehouse_spark.zones import ZoneStore

    store = _mk(spark, tmp_path)
    store.delete_where_dv(Z, "t", "grp = 'A'")
    plain = ZoneStore(spark, str(tmp_path))
    assert _ids(plain.read(Z, "t")) == _ids(store.read(Z, "t"))
    assert _ids(plain.read_version(Z, "t", 3)) == set(range(1, 20, 2))



@pytest.mark.parametrize("load_type", [LoadType.APPEND, LoadType.INCREMENTAL])
def test_plain_store_write_after_dv_delete_keeps_new_row(
    spark, tmp_path, load_type
):
    # a vector hides every row with its key: any store on the root folds
    # it before a write that adds a row with a deleted key
    from healthcare_data_lakehouse_spark.zones import ZoneStore

    store = _mk(spark, tmp_path)
    store.delete_where_dv(Z, "t", "id = 3")
    plain = ZoneStore(spark, str(tmp_path))
    new = spark.createDataFrame([(3, 9.0, "Z")], SCHEMA)
    assert plain.write(Z, "t", new, load_type) == 1
    assert _ids(plain.read(Z, "t")) == set(range(20))
    assert store.dv_stats(Z, "t")["n_dvs"] == 0

@pytest.mark.parametrize(
    "op, want",
    [
        ("full", {1, 3, 50}),
        ("merge", {1, 50} | set(range(3, 20))),
        ("merge_into", {1, 50} | set(range(3, 20))),
        ("compact", set(range(3, 20))),
        ("delete_where", set(range(3, 20)) - {5}),
        ("update_set", set(range(3, 20))),
    ],
)
def test_rewrite_with_outstanding_vector_commits_once(
    spark, tmp_path, op, want
):
    store = _mk(spark, tmp_path)
    store.delete_where_dv(Z, "t", "id < 3")
    before = _commit_dirs(store)
    v = store._read_manifest(store.dataset_path(Z, "t"))["version"]
    src = spark.createDataFrame(
        [(1, 1.0, "A"), (3, 3.0, "B"), (50, 5.0, "A")], SCHEMA
    )
    if op in ("full", "merge"):
        store.write(Z, "t", src, LoadType[op.upper()])
    elif op == "merge_into":
        counts = store.merge_into(Z, "t", src, matched_update={"val": "src_val"})
        assert (counts["updated"], counts["inserted"]) == (1, 2)
    elif op == "compact":
        store.compact(Z, "t")
    elif op == "delete_where":
        assert store.delete_where(Z, "t", "id = 5") == 1
    else:
        assert store.update_set(Z, "t", "id < 6", {"val": "-val"}) == 3
    m = store._read_manifest(store.dataset_path(Z, "t"))
    assert m["version"] == v + 1
    assert len(_commit_dirs(store) - before) == 1
    assert _ids(store.read(Z, "t")) == want


def test_dv_update_of_key_column_is_not_refiltered(spark, tmp_path):
    # an UPDATE may move a row onto a deleted key: the fold runs first,
    # so the row stays live
    store = _mk(spark, tmp_path)
    store.delete_where_dv(Z, "t", "id = 1")
    assert store.update_set(Z, "t", "id = 5", {"id": "1"}) == 1
    assert _ids(store.read(Z, "t")) == set(range(20)) - {5}
