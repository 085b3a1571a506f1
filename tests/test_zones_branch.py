"""Branching ZoneStore (zones_branch.BranchingZoneStore): isolation,
fast-forward merge, divergence OCC, and constraint inheritance."""

from __future__ import annotations

import pytest

from healthcare_data_lakehouse_spark.zones import (
    ConcurrentModificationError,
    ConstraintViolationError,
    DataZone,
    LoadType,
)
from healthcare_data_lakehouse_spark.zones_branch import BranchingZoneStore


def _mk(spark, tmp_path):
    store = BranchingZoneStore(spark, str(tmp_path))
    df = spark.createDataFrame(
        [(i, float(i)) for i in range(10)], "id long, val double"
    )
    store.write(DataZone.SILVER, "t", df, LoadType.FULL)
    return store, spark


def test_branch_writes_are_isolated_from_main(spark, tmp_path):
    store, spark = _mk(spark, tmp_path)
    store.create_branch(DataZone.SILVER, "t", "exp")
    extra = spark.createDataFrame([(100, 100.0)], "id long, val double")
    store.branch_write(DataZone.SILVER, "t", "exp", extra, LoadType.APPEND)
    main_ids = {r.id for r in store.read(DataZone.SILVER, "t").collect()}
    br_ids = {
        r.id
        for r in store.branch_read(DataZone.SILVER, "t", "exp").collect()
    }
    assert main_ids == set(range(10))          # main untouched
    assert br_ids == set(range(10)) | {100}    # branch diverged
    st = store.branch_status(DataZone.SILVER, "t", "exp")
    assert st["branch_ahead"] is True
    assert st["source_diverged"] is False


def test_merge_fast_forwards_main(spark, tmp_path):
    store, spark = _mk(spark, tmp_path)
    store.create_branch(DataZone.SILVER, "t", "exp")
    extra = spark.createDataFrame(
        [(100, 100.0), (101, 101.0)], "id long, val double"
    )
    store.branch_write(DataZone.SILVER, "t", "exp", extra, LoadType.APPEND)
    n = store.merge_branch(DataZone.SILVER, "t", "exp")
    assert n == 2  # base commit + branch append commit
    main_ids = {r.id for r in store.read(DataZone.SILVER, "t").collect()}
    assert main_ids == set(range(10)) | {100, 101}


def test_merge_raises_when_main_diverged(spark, tmp_path):
    store, spark = _mk(spark, tmp_path)
    store.create_branch(DataZone.SILVER, "t", "exp")
    store.branch_write(
        DataZone.SILVER, "t", "exp",
        spark.createDataFrame([(100, 100.0)], "id long, val double"),
        LoadType.APPEND,
    )
    # main advances after the cut
    store.write(
        DataZone.SILVER, "t",
        spark.createDataFrame([(200, 200.0)], "id long, val double"),
        LoadType.APPEND,
    )
    st = store.branch_status(DataZone.SILVER, "t", "exp")
    assert st["source_diverged"] is True
    with pytest.raises(ConcurrentModificationError, match="advanced"):
        store.merge_branch(DataZone.SILVER, "t", "exp")
    # main keeps its own state
    main_ids = {r.id for r in store.read(DataZone.SILVER, "t").collect()}
    assert main_ids == set(range(10)) | {200}


def test_branch_inherits_check_constraints(spark, tmp_path):
    store, spark = _mk(spark, tmp_path)
    store.set_constraint(DataZone.SILVER, "t", "val_nonneg", "val >= 0")
    store.create_branch(DataZone.SILVER, "t", "exp")
    bad = spark.createDataFrame([(300, -1.0)], "id long, val double")
    with pytest.raises(ConstraintViolationError):
        store.branch_write(
            DataZone.SILVER, "t", "exp", bad, LoadType.APPEND
        )


def test_merge_unknown_branch_raises(spark, tmp_path):
    store, _ = _mk(spark, tmp_path)
    with pytest.raises(ValueError, match="does not exist"):
        store.merge_branch(DataZone.SILVER, "t", "nope")


def test_branch_carries_deletion_vectors_both_ways(spark, tmp_path):
    from healthcare_data_lakehouse_spark.zones_dv import DVZoneStore

    store, spark = _mk(spark, tmp_path)
    dv = DVZoneStore(spark, str(tmp_path))
    dv.delete_where_dv(DataZone.SILVER, "t", "id < 2")
    store.create_branch(DataZone.SILVER, "t", "exp")
    assert {
        r.id for r in store.branch_read(DataZone.SILVER, "t", "exp").collect()
    } == set(range(2, 10))
    dv.delete_where_dv(DataZone.SILVER, "t__br_exp", "id = 5")
    store.merge_branch(DataZone.SILVER, "t", "exp")
    main_ids = {r.id for r in store.read(DataZone.SILVER, "t").collect()}
    assert main_ids == set(range(2, 10)) - {5}
    # a vector written on main after the cut is a divergence
    store.create_branch(DataZone.SILVER, "t", "b2")
    dv.delete_where_dv(DataZone.SILVER, "t", "id = 6")
    assert store.branch_status(DataZone.SILVER, "t", "b2")["source_diverged"]
    with pytest.raises(ConcurrentModificationError, match="advanced"):
        store.merge_branch(DataZone.SILVER, "t", "b2")


def test_vacuum_after_merge_keeps_the_source_dirs(spark, tmp_path):
    # a fast-forward adopts the branch's entries; those naming the
    # source's own commits and vectors must stay live for its vacuum
    from healthcare_data_lakehouse_spark.zones_dv import DVZoneStore

    store, spark = _mk(spark, tmp_path)
    dv = DVZoneStore(spark, str(tmp_path))
    dv.delete_where_dv(DataZone.SILVER, "t", "id < 2")
    store.create_branch(DataZone.SILVER, "t", "exp")
    dv.delete_where_dv(DataZone.SILVER, "t__br_exp", "id = 5")
    store.merge_branch(DataZone.SILVER, "t", "exp")
    store.vacuum(DataZone.SILVER, "t", retain_last=1)
    want = set(range(2, 10)) - {5}
    assert {r.id for r in store.read(DataZone.SILVER, "t").collect()} == want
    v3 = store.read_version(DataZone.SILVER, "t", 3)
    assert {r.id for r in v3.collect()} == want
