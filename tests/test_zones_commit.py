"""Zone-store commit protocol: reads use the schemas the log records,
commit row counts come from the write job itself, each version's log
entry keeps its operation metrics, and every table change claims its
version with one put-if-absent.

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


def _commits(store, version, dataset="t", zone=Z):
    """The live commits of ``version``, read from its log entry."""
    return store._read_entry(store.dataset_path(zone, dataset), version)[
        "commits"
    ]


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
        store.read_version(Z, "t", 1), _inferred(spark, path, _commits(store, 1))
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
            _inferred(spark, path, _commits(store, int(v))),
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
        store.read_version(Z, "t", 1), _inferred(spark, path, _commits(store, 1))
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
    path = store.dataset_path(Z, "t")
    _assert_parity(store.read(Z, "t"), _inferred(spark, path, m["commits"]))


def test_restore_version_reads_like_inference(spark, tmp_path):
    store = ZoneStore(spark, str(tmp_path))
    store.write(Z, "t", _nested(spark, range(3)), LoadType.FULL)
    store.write(Z, "t", _widened(spark, [7]), LoadType.APPEND)
    store.write(Z, "t", _widened(spark, [8]), LoadType.FULL)
    store.restore_version(Z, "t", 2)
    m = _manifest(store, "t")
    path = store.dataset_path(Z, "t")
    assert m["commits"] == _commits(store, 2)
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
    m = _manifest(store, "t")
    staged = store._staging_dir(path, "c", m["version"] + 1)
    _widened(spark, [9]).write.parquet(staged)
    commits = m["commits"] + [os.path.basename(staged)]
    store._claim_version(path, m["version"], store._next_entry(m, commits))
    assert set(_manifest(store, "t")["schemas"]) == set(m["commits"])
    _assert_parity(store.read(Z, "t"), _inferred(spark, path, commits))


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
    assert m["metrics"]["numOutputRows"] == len(want)


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
    (dv,) = m["dvs"]
    for version, rows, where in [(1, 5, _commits(store, 1)[0]),
                                 (2, 3, m["commits"][1]),
                                 (3, 2, os.path.join("_dv", dv))]:
        files = [f for f in os.listdir(os.path.join(path, where))
                 if f.endswith(".parquet")]
        size = sum(os.path.getsize(os.path.join(path, where, f)) for f in files)
        assert store._read_entry(path, version)["metrics"] == {
            "numOutputRows": rows, "numFiles": len(files), "numOutputBytes": size,
        }
    store.compact(Z, "t")  # retires the vector in its own rewrite (v4)
    store.vacuum(Z, "t", retain_last=1)
    m = _manifest(store, "t")
    assert store._log_versions(path) == [4]
    assert m["metrics"]["numOutputRows"] == 6
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


# ---------------------------------------------------------- version claims
#: ids a second store APPENDs while the victim holds a stale read
RACED = set(range(500, 505))


def _ids_rows(spark, start, n):
    return spark.createDataFrame(
        [(i, float(i)) for i in range(start, start + n)], "id long, v double"
    )


def _ids(df):
    return {r.id for r in df.collect()}


def _append_raced(racer):
    return lambda: racer.write(
        Z, "t", _ids_rows(racer.spark, 500, 5), LoadType.APPEND
    )


def _race_once(monkeypatch, victim, hook, race):
    """Run ``race`` inside the victim's first call of ``hook`` on table t,
    before that call runs."""
    orig = getattr(victim, hook)
    path = victim.dataset_path(Z, "t")
    fired = []

    def hooked(p, *args, **kwargs):
        if p == path and not fired:
            fired.append(p)
            race()
        return orig(p, *args, **kwargs)

    monkeypatch.setattr(victim, hook, hooked)
    return fired


@pytest.mark.parametrize(
    "op", ["delete_where_dv", "restore_version", "set_constraint",
           "merge_branch", "vacuum"],
)
def test_table_change_keeps_an_append_landing_before_its_claim(
    spark, tmp_path, monkeypatch, op
):
    # the racer APPENDs after the victim read the table and right before it
    # claims its version (vacuum claims none: right after it listed the log)
    from healthcare_data_lakehouse_spark.zones import ConcurrentModificationError

    store = DVZoneStore if op == "delete_where_dv" else BranchingZoneStore
    victim = store(spark, str(tmp_path))
    victim.write(Z, "t", _ids_rows(spark, 0, 10), LoadType.FULL)
    victim.write(Z, "t", _ids_rows(spark, 10, 10), LoadType.APPEND)
    if op == "merge_branch":
        victim.create_branch(Z, "t", "exp")
        victim.branch_write(Z, "t", "exp", _ids_rows(spark, 100, 2),
                            LoadType.APPEND)
    run = {
        "delete_where_dv": lambda: victim.delete_where_dv(Z, "t", "id < 3"),
        "restore_version": lambda: victim.restore_version(Z, "t", 1),
        "set_constraint": lambda: victim.set_constraint(Z, "t", "pos", "v >= 0"),
        "merge_branch": lambda: victim.merge_branch(Z, "t", "exp"),
        "vacuum": lambda: victim.vacuum(Z, "t", retain_last=1),
    }[op]
    hook = "_read_entry" if op == "vacuum" else "_claim_version"
    fired = _race_once(
        monkeypatch, victim, hook, _append_raced(ZoneStore(spark, str(tmp_path)))
    )
    path = victim.dataset_path(Z, "t")
    before = set(os.listdir(path))
    if op == "vacuum":
        run()
    else:
        with pytest.raises(ConcurrentModificationError, match="version 3"):
            run()
    assert fired
    plain = ZoneStore(spark, str(tmp_path))
    m = plain._read_manifest(path)
    assert m["version"] == 3  # the racer's APPEND, and nothing after it
    assert "constraints" not in m and "dvs" not in m
    assert _ids(plain.read(Z, "t")) == set(range(20)) | RACED
    # the loser's staged files are gone; the racer's commit is the one new dir
    assert len(set(os.listdir(path)) - before - {plain.DV_DIR}) == 1
    dv_root = os.path.join(path, plain.DV_DIR)
    assert not os.path.isdir(dv_root) or os.listdir(dv_root) == []


def test_stale_write_raises_after_vacuum_retires_its_slot(
    spark, tmp_path, monkeypatch
):
    # the victim reads version 1 and stages; meanwhile a racer commits
    # versions 2 and 3 and vacuums down to version 3. Version 2's number
    # stays taken, so the victim's claim of it fails instead of publishing
    # a version below the latest that no read would ever see
    from healthcare_data_lakehouse_spark.zones import ConcurrentModificationError

    victim = ZoneStore(spark, str(tmp_path))
    victim.write(Z, "t", _ids_rows(spark, 0, 10), LoadType.FULL)
    racer = ZoneStore(spark, str(tmp_path))

    def race():
        _append_raced(racer)()
        racer.write(Z, "t", _ids_rows(spark, 600, 5), LoadType.APPEND)
        racer.vacuum(Z, "t", retain_last=1)

    fired = _race_once(monkeypatch, victim, "_claim_version", race)
    path = victim.dataset_path(Z, "t")
    with pytest.raises(ConcurrentModificationError, match="version 2"):
        victim.write(Z, "t", _ids_rows(spark, 10, 10), LoadType.APPEND)
    assert fired
    assert racer._log_versions(path) == [3]
    assert racer._read_manifest(path)["version"] == 3
    m = racer._read_manifest(path)
    assert sorted(os.listdir(path)) == sorted([racer.LOG_DIR, *m["commits"]])
    assert _ids(racer.read(Z, "t")) == set(range(10)) | RACED | set(
        range(600, 605)
    )


def test_vacuum_keeps_the_dirs_of_a_restore_claimed_during_it(
    spark, tmp_path, monkeypatch
):
    # vacuum lists the log and reads its entries; a restore of a version
    # it then retires claims in between. The restored version names the
    # retired version's commit, which must survive the vacuum
    victim = ZoneStore(spark, str(tmp_path))
    for start in (0, 10, 20):
        victim.write(Z, "t", _ids_rows(spark, start, 10), LoadType.FULL)
    racer = ZoneStore(spark, str(tmp_path))
    fired = _race_once(
        monkeypatch, victim, "_read_entry",
        lambda: racer.restore_version(Z, "t", 1),
    )
    path = victim.dataset_path(Z, "t")
    victim.vacuum(Z, "t", retain_last=1)
    assert fired
    m = racer._read_manifest(path)
    assert m["version"] == 4
    assert all(os.path.isdir(os.path.join(path, c)) for c in m["commits"])
    assert _ids(racer.read(Z, "t")) == set(range(10))


def test_recutting_a_branch_raises_and_keeps_the_branch(spark, tmp_path):
    # the branch is vacuumed first: its retired version 1 keeps its
    # number, so the re-cut still finds the branch there, and the merge
    # base survives the vacuum
    store = BranchingZoneStore(spark, str(tmp_path))
    store.write(Z, "t", _ids_rows(spark, 0, 10), LoadType.FULL)
    store.create_branch(Z, "t", "exp")
    store.branch_write(Z, "t", "exp", _ids_rows(spark, 100, 2), LoadType.APPEND)
    store.branch_write(Z, "t", "exp", _ids_rows(spark, 102, 2), LoadType.APPEND)
    store.vacuum(Z, "t__br_exp", retain_last=1)
    with pytest.raises(ValueError, match="silver/t__br_exp"):
        store.create_branch(Z, "t", "exp")
    branched = set(range(10)) | set(range(100, 104))
    assert _ids(store.branch_read(Z, "t", "exp")) == branched
    assert store.branch_write(
        Z, "t", "exp", _ids_rows(spark, 200, 2), LoadType.APPEND
    ) == 2
    assert _ids(store.branch_read(Z, "t", "exp")) == branched | {200, 201}
    status = store.branch_status(Z, "t", "exp")
    assert status["base_commits"] == 1 and not status["source_diverged"]
    assert store.merge_branch(Z, "t", "exp") == 4
    assert _ids(store.read(Z, "t")) == branched | {200, 201}


def test_orphan_commit_dir_blocks_no_write(spark, tmp_path):
    # a crash between staging a commit and claiming its version leaves a
    # dir no entry names; it is invisible, and the next write stages
    # beside it
    store = ZoneStore(spark, str(tmp_path))
    store.write(Z, "t", _ids_rows(spark, 0, 10), LoadType.FULL)
    path = store.dataset_path(Z, "t")
    orphan = os.path.join(path, "c000002")
    _ids_rows(spark, 50, 3).coalesce(1).write.parquet(orphan)
    assert store.write(Z, "t", _ids_rows(spark, 10, 5), LoadType.APPEND) == 5
    assert _ids(store.read(Z, "t")) == set(range(15))
    assert store.vacuum(Z, "t", staging_retention_sec=0)["removed_commits"] == 1
    assert not os.path.exists(orphan)
    assert _ids(store.read(Z, "t")) == set(range(15))


def test_only_the_version_claim_writes_the_log():
    """No package function other than ``ZoneStore._claim_version`` both
    names the log and creates, renames or links a file, except the
    tombstone of ``ZoneStore._retire_entry``, which only replaces an
    entry (it links nothing)."""
    import ast
    from pathlib import Path

    import healthcare_data_lakehouse_spark as pkg

    creates = {"open", "link", "symlink", "rename", "replace", "dump",
               "write_text", "write_bytes", "copy", "copyfile", "copy2",
               "copytree", "move"}

    def call_name(call):
        f = call.func
        return f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", "")

    def reads_only(call):
        mode = call.args[1] if len(call.args) > 1 else next(
            (k.value for k in call.keywords if k.arg == "mode"), None)
        return mode is None or (
            isinstance(mode, ast.Constant) and set(mode.value) <= set("rbt"))

    found = {}
    root = Path(pkg.__file__).parent
    for path in root.rglob("*.py"):
        tree = ast.parse(path.read_text())
        for fn in ast.walk(tree):
            if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            nodes = list(ast.walk(fn))
            names_log = any(
                (isinstance(n, ast.Attribute) and n.attr in ("LOG_DIR", "_log_file"))
                or (isinstance(n, ast.Constant) and isinstance(n.value, str)
                    and n.value.strip("/") == "_log")
                for n in nodes
            )
            writes = {
                call_name(n) for n in nodes
                if isinstance(n, ast.Call) and call_name(n) in creates
                and not (call_name(n) == "open" and reads_only(n))
            }
            if names_log and writes:
                found[f"{path.relative_to(root).as_posix()}::{fn.name}"] = writes
    assert set(found) == {"zones.py::_claim_version", "zones.py::_retire_entry"}
    assert "link" in found["zones.py::_claim_version"]
    assert found["zones.py::_retire_entry"] == {"open", "replace"}


def test_log_entry_size_does_not_grow_with_versions(spark, tmp_path):
    # each entry holds one version's state, so a commit's metadata write
    # is O(1) in the number of versions
    store = ZoneStore(spark, str(tmp_path))
    df = _ids_rows(spark, 0, 3)
    for _ in range(30):
        store.write(Z, "t", df, LoadType.FULL)
    path = store.dataset_path(Z, "t")
    assert store._log_versions(path) == list(range(1, 31))
    size = {v: os.path.getsize(store._log_file(path, v)) for v in (2, 30)}
    assert size[30] <= size[2] + 4


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
    mgr = HealthcareETLManager(spark, str(tmp_path))
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
