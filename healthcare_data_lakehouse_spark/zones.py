"""Medallion zones and load patterns on a log-structured Parquet store.

The reference keeps zones as an in-memory nested dict
(``src/etl/etl_manager.py:156-160`` — "In-memory storage for demo") with four
load patterns (FULL/APPEND/MERGE/INCREMENTAL, ``src/etl/etl_manager.py:40-43,
445-476``) and a quarantine dict (``src/etl/etl_manager.py:160, 371-393``).

Here a dataset is a directory of immutable Parquet *commits* plus a log
of one JSON entry per version: the put-if-absent transaction log of Delta
Lake (VLDB 2020), minimal edition (delta-spark is not available in this
environment):

    <root>/<zone>/<dataset>/
        _log/000001.json            # empty: version 1 was vacuumed
        _log/000002.json            # the whole state of version 2
        c000001_1f3a9b2c/*.parquet  # immutable commit dirs, named for the
        c000002_77d0e4aa/*.parquet  # version that staged them
        _dv/dv000003_5be0c1d4/      # deletion vectors (zones_dv)

    _log/{V:06d}.json, the state of version V
        commits      live commit dirs, in version order
        schemas      {commit: read schema} for each live commit — the Spark
                     StructType JSON a parquet read of that commit returns
                     (every field nullable); a partitioned commit also
                     lists its "partitionColumns"
        metrics      {numOutputRows, numFiles, numOutputBytes} of the
                     files this version wrote; absent when it wrote none
        dvs          live deletion vectors under _dv/; absent when none
        dv_key, constraints, txns, when used
        cloned_from  a clone's source: its path, commits and vectors

The latest version is the highest entry number, and time travel to
version v reads ``_log/{v}.json``. Every table change stages its files
under fresh names, then publishes them by creating the next entry with
put-if-absent (``ZoneStore._claim_version``): of two writers that read
version V, exactly one creates V+1 and the other raises
:class:`ConcurrentModificationError`. :meth:`ZoneStore.vacuum` retires
an old entry by emptying it in place, so a version number, once claimed,
is never claimed again. A dir that no entry names is invisible to
readers; vacuum reclaims it once it is old.

A version owns its commits and its vectors together: every read of it
anti-joins its vectors on ``dv_key``. A new version that keeps none of
the previous version's commits retires the vectors (each of its rows was
read through them or is new data); any other version carries them over,
so APPEND, INCREMENTAL and an UPDATE of ``dv_key`` fold them first
(``purge_dv``): a vector would hide a newer row with its key.

* ``FULL``        → write one commit, the version lists only it.
* ``APPEND``      → write one commit, the version appends it (no data rewrite —
                    O(new data), scales to 100 TB tables).
* ``INCREMENTAL`` → left-anti join on the id column finds genuinely new rows;
                    only those are written as an appended commit.
* ``MERGE``       → upsert; rows with matching ids are replaced. Without
                    Delta's file-level pruning this rewrites the unmatched
                    remainder (read + anti-join + union + new FULL commit).
                    At scale you'd bound the rewrite by partitioning the
                    table on a merge-prunable key (``partition_columns``) so
                    only touched partitions rewrite.

A commit costs one Spark write action. Its row count is an observation on
the written frame, read once the write has succeeded, and readers load
``spark.read.schema(merged).parquet(*commit_dirs)`` with the schemas the
entry recorded, so no read pays a footer-merging inference job. Column
pruning and predicate pushdown reach the Parquet scan unchanged.
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import uuid
from enum import Enum

from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DataType,
    MapType,
    StructField,
    StructType,
)

__all__ = ["DataZone", "LoadType", "ZoneStore", "ZONE_ORDER"]

#: One target output file's worth of bytes — commits estimated at or
#: under this are written through coalesce(1) (no extra exchange);
#: larger ones go through REBALANCE so AQE produces advisory-sized,
#: skew-split files. Matches compact()'s target_file_bytes default.
TARGET_COMMIT_FILE_BYTES = 128 * 1024 * 1024


def plan_bytes(df: DataFrame) -> int | None:
    """The optimizer's size estimate of ``df`` (no CBO: an inner join
    estimates the product of its inputs), None when unavailable."""
    try:
        return int(
            str(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
        )
    except Exception:  # noqa: BLE001
        return None


def right_size_for_write(
    df: DataFrame,
    partition_columns: list[str] | None = None,
    est_bytes: int | None = None,
) -> DataFrame:
    """Size a commit's output files (guide §6) without paying an AQE
    rebalance stage on small commits (r14, VERDICT r13 ask #5): a df
    whose lineage ends in a wide shuffle otherwise lands one tiny file
    per shuffle partition. Small commits (planning-time size estimate
    at most one target file) coalesce to a single partition — coalesce
    merges the final stage's partitions with NO extra exchange; the
    estimate errs high (no CBO selectivity), which only ever pushes
    big-looking commits to the rebalance arm. Large commits (or no
    usable estimate) take the REBALANCE hint, keyed by the partition
    columns when present so a partitioned write doesn't fan every task
    across every directory. A caller that knows a tighter bound than the
    plan's estimate passes it as ``est_bytes``."""
    if est_bytes is None:
        est_bytes = plan_bytes(df)
    if est_bytes is not None and est_bytes <= TARGET_COMMIT_FILE_BYTES:
        return df.coalesce(1)
    if partition_columns:
        return df.hint("rebalance", *partition_columns)
    return df.hint("rebalance")


def _as_nullable(dt: DataType) -> DataType:
    """``dt`` with every field, element and value nullable: a parquet
    read returns this whatever nullability the writer had."""
    if isinstance(dt, StructType):
        return StructType(
            [
                StructField(f.name, _as_nullable(f.dataType), True, f.metadata)
                for f in dt.fields
            ]
        )
    if isinstance(dt, ArrayType):
        return ArrayType(_as_nullable(dt.elementType), True)
    if isinstance(dt, MapType):
        return MapType(
            _as_nullable(dt.keyType), _as_nullable(dt.valueType), True
        )
    return dt


def _merge_types(left: DataType, right: DataType) -> DataType:
    """Spark's schema merge (``StructType.merge``) for nullable types:
    left's fields in order, merged by name, then right's new fields.
    Raises ValueError where Spark might not agree — different types, or
    names that differ only in case."""
    if isinstance(left, StructType) and isinstance(right, StructType):
        rmap = {f.name: f for f in right.fields}
        lower = {f.name.lower(): f.name for f in left.fields}
        for f in right.fields:
            if lower.get(f.name.lower(), f.name) != f.name:
                raise ValueError(f"case-only name clash on {f.name!r}")
        fields = [
            StructField(
                f.name,
                _merge_types(f.dataType, rmap[f.name].dataType),
                True,
                f.metadata,
            )
            if f.name in rmap
            else f
            for f in left.fields
        ]
        fields += [f for f in right.fields if f.name.lower() not in lower]
        return StructType(fields)
    if isinstance(left, ArrayType) and isinstance(right, ArrayType):
        return ArrayType(
            _merge_types(left.elementType, right.elementType), True
        )
    if isinstance(left, MapType) and isinstance(right, MapType):
        return MapType(
            _merge_types(left.keyType, right.keyType),
            _merge_types(left.valueType, right.valueType),
            True,
        )
    if left != right:
        raise ValueError(f"cannot merge {left} and {right}")
    return left


def _merged_schema(
    entries: dict, commits: list[str], dirs: list[str]
) -> StructType | None:
    """Merge the recorded read schemas of ``commits`` the way Spark's
    schema-merging parquet inference does: footers fold in path order (for a
    table's own commits, commit order), data fields first and partition
    columns last. None when a commit has no recorded schema, when the
    commits disagree on partition columns, or when a merge could differ
    from Spark's; the caller then infers."""
    if not all(c in entries for c in commits):
        return None
    layouts = {tuple(entries[c].get("partitionColumns", [])) for c in commits}
    if len(layouts) != 1:
        return None
    (part_cols,) = layouts
    data = part = None
    order = sorted(
        range(len(commits)), key=lambda i: os.path.abspath(dirs[i]) + os.sep
    )
    try:
        for i in order:
            full = StructType.fromJson(entries[commits[i]])
            d = StructType([f for f in full.fields if f.name not in part_cols])
            p = StructType([f for f in full.fields if f.name in part_cols])
            data = d if data is None else _merge_types(data, d)
            part = p if part is None else _merge_types(part, p)
    except ValueError:
        return None
    return StructType(data.fields + part.fields)


def _tree_stats(dirs: list[str]) -> tuple[int, int]:
    """Parquet files and bytes under ``dirs`` (driver-side metadata)."""
    files = total = 0
    for d in dirs:
        for root_, _, fs in os.walk(d):
            for f in fs:
                if f.endswith(".parquet"):
                    files += 1
                    total += os.path.getsize(os.path.join(root_, f))
    return files, total


def _write_metrics(rows: int, written: list[str]) -> dict:
    """Delta-style operationMetrics of a version: rows from the write's
    observation, files and bytes of the dirs it wrote."""
    files, size = _tree_stats(written)
    return {"numOutputRows": rows, "numFiles": files, "numOutputBytes": size}


class DataZone(str, Enum):
    """Unified medallion zones.

    The reference ships two incompatible enums (RAW/... in
    ``src/quality/data_quality.py:27-34``, LANDING/... in
    ``src/lineage/lineage_tracker.py:28-35``); per SURVEY.md header note 6 we
    unify on LANDING(=RAW)/BRONZE/SILVER/GOLD/PLATINUM.
    """

    LANDING = "landing"
    BRONZE = "bronze"
    SILVER = "silver"
    GOLD = "gold"
    PLATINUM = "platinum"

    # Alias: the quality module calls the first zone RAW.
    @classmethod
    def from_name(cls, name: str) -> "DataZone":
        name = name.strip().lower()
        if name == "raw":
            return cls.LANDING
        return cls(name)


#: Promotion order (reference ``src/etl/etl_manager.py:140-146``).
ZONE_ORDER: list[DataZone] = [
    DataZone.LANDING,
    DataZone.BRONZE,
    DataZone.SILVER,
    DataZone.GOLD,
    DataZone.PLATINUM,
]


class LoadType(str, Enum):
    """Load patterns (reference ``src/etl/etl_manager.py:38-43``)."""

    FULL = "full"
    APPEND = "append"
    MERGE = "merge"
    INCREMENTAL = "incremental"


class ConstraintViolationError(ValueError):
    """A write violated a table-level CHECK constraint; nothing committed."""


class ConcurrentModificationError(RuntimeError):
    """The table advanced past the writer's expected version (optimistic
    concurrency conflict, Delta parity); nothing committed."""


class ZoneStore:
    """Parquet-backed zone storage with a put-if-absent version log."""

    LOG_DIR = "_log"
    DV_DIR = "_dv"

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)

    # ------------------------------------------------------------------ paths
    def dataset_path(self, zone: DataZone, dataset: str) -> str:
        return os.path.join(self.root, zone.value, dataset)

    def _quarantine_path(self, job_id: str) -> str:
        return os.path.join(self.root, "_quarantine", job_id)

    # -------------------------------------------------------------------- log
    def _log_file(self, path: str, version: int) -> str:
        return os.path.join(path, self.LOG_DIR, f"{version:06d}.json")

    def _log_slots(self, path: str) -> list[int]:
        """The version numbers ever claimed, ascending: the readable
        entries and the empty tombstones vacuum() leaves in place of the
        ones it drops."""
        try:
            names = os.listdir(os.path.join(path, self.LOG_DIR))
        except FileNotFoundError:
            return []
        return sorted(
            int(n[:-5]) for n in names
            if n.endswith(".json") and n[:-5].isdigit()
        )

    def _log_versions(self, path: str) -> list[int]:
        """The versions whose entries are still readable, ascending."""
        return [
            v for v in self._log_slots(path)
            if os.path.getsize(self._log_file(path, v))
        ]

    def _read_entry(self, path: str, version: int) -> dict | None:
        """Version ``version``'s entry; None when it was never claimed or
        was vacuumed (its slot then holds an empty tombstone)."""
        try:
            with open(self._log_file(path, version)) as f:
                text = f.read()
        except FileNotFoundError:
            return None
        return json.loads(text) if text else None

    def _read_manifest(self, path: str) -> dict:
        """The latest version's entry, with its number as ``version``; a
        table never written is version 0 with no commits. The highest
        slot is always readable: vacuum() keeps the newest entry."""
        slots = self._log_slots(path)
        if not slots:
            return {"version": 0, "commits": []}
        return {**self._read_entry(path, slots[-1]), "version": slots[-1]}

    def _claim_version(
        self,
        path: str,
        read_version: int,
        entry: dict,
        staged: list[str] = (),
    ) -> int:
        """Publish ``entry`` as version ``read_version + 1``: the only way
        a version comes into being. The entry is written to a temp file
        and hard-linked to its name, a put-if-absent (the contract of
        Delta's LogStore): of two writers that read the same version,
        exactly one creates the next, and no reader sees a partial entry.
        The loser's ``staged`` dirs are removed and it raises
        :class:`ConcurrentModificationError`. Any other OSError (ENOSPC,
        EACCES, ...) is a real I/O failure: it propagates, and ``staged``
        stays on disk as evidence. A claimed slot is never freed (vacuum
        leaves a tombstone), so a writer whose read went stale can never
        link into a number below the latest."""
        version = read_version + 1
        tmp = os.path.join(path, self.LOG_DIR, f".{uuid.uuid4().hex}.tmp")
        os.makedirs(os.path.dirname(tmp), exist_ok=True)
        with open(tmp, "w") as f:
            json.dump(entry, f)
        try:
            os.link(tmp, self._log_file(path, version))
        except FileExistsError:
            for d in staged:
                shutil.rmtree(d, ignore_errors=True)
            raise ConcurrentModificationError(
                f"{path} advanced past version {read_version}: version "
                f"{version} was claimed by a concurrent writer — re-read "
                "and retry"
            ) from None
        finally:
            os.unlink(tmp)
        return version

    def _retire_entry(self, path: str, version: int) -> None:
        """Replace version ``version``'s entry with an empty tombstone:
        time travel to it ends, and its slot stays taken, so no stale
        claim can publish a version below the latest there. Atomic, so a
        reader sees the whole entry or the tombstone."""
        tmp = os.path.join(path, self.LOG_DIR, f".{uuid.uuid4().hex}.tmp")
        open(tmp, "w").close()
        os.replace(tmp, self._log_file(path, version))

    @staticmethod
    def _next_entry(
        manifest: dict,
        commits: list[str],
        dvs: list[str] | None = None,
        schemas: dict | None = None,
    ) -> dict:
        """The entry of a version after ``manifest`` whose live commits are
        ``commits`` and whose deletion vectors are ``dvs``. The table's
        properties carry over; the commits' schemas come from ``schemas``
        (default: the manifest's). Without ``dvs``, a version that keeps
        none of the previous live commits retires the vectors and any
        other carries them over. Superseded commit dirs and vectors stay
        on disk until vacuum() — the same contract as Delta's transaction
        log + VACUUM."""
        if dvs is None:
            kept = set(commits) & set(manifest["commits"])
            dvs = manifest.get("dvs", []) if kept else []
        if schemas is None:
            schemas = manifest.get("schemas", {})
        entry = {
            k: v for k, v in manifest.items()
            if k not in ("version", "metrics", "dvs")
        }
        entry["commits"] = list(commits)
        entry["schemas"] = {c: schemas[c] for c in commits if c in schemas}
        if dvs:
            entry["dvs"] = list(dvs)
        return entry

    # ---------------------------------------------------------------- staging
    @staticmethod
    def _staging_dir(root: str, prefix: str, version: int) -> str:
        """A fresh dir under ``root`` for files that version ``version``
        will publish. Names sort in version order, which is the order
        reads fold schemas in, and never collide, so racing writers each
        stage to their own dir and the entry that names it publishes it
        with no rename."""
        return os.path.join(
            root, f"{prefix}{version:06d}_{uuid.uuid4().hex[:8]}"
        )

    def _stage_commit(
        self,
        staging: str,
        df: DataFrame,
        partition_columns: list[str] | None,
        rebalance: bool = True,
    ) -> None:
        """Write commit data to the staging dir ``staging``."""
        # Size the commit's output files (guide §6): a df whose lineage
        # ends in a wide shuffle otherwise lands one (tiny) file per
        # shuffle partition — measured 64 sub-100KB parquet files for one
        # run_job at sf0.1, and the same layout at 100 TB means footer/
        # listing overhead on every later read. Two regimes (r14,
        # VERDICT r13 ask #5 — the unconditional REBALANCE cost ~0.5-3 s
        # of extra AQE stage per write query at sf0.1, write bench
        # 41 -> 54 s on the driver host):
        #   * SMALL commit (planning-time size estimate at most one
        #     target file): coalesce(1) — merges the final stage's
        #     partitions with NO extra exchange, same one-file layout.
        #     The estimate errs high (no CBO selectivity), which only
        #     ever pushes big-looking commits to the rebalance arm.
        #   * LARGE commit (or no usable estimate): REBALANCE, so AQE
        #     coalesces (or splits skewed) output partitions to the
        #     advisory size; keyed by the partition columns when present
        #     so a partitioned write doesn't fan every task across every
        #     directory.
        # compact() opts out of both: it sizes its output with an
        # explicit repartition(ceil(bytes / target_file_bytes)).
        if rebalance:
            df = right_size_for_write(df, partition_columns)
        writer = df.write.mode("overwrite")
        if partition_columns:
            writer = writer.partitionBy(*partition_columns)
        writer.parquet(staging)

    def _stage_counted(
        self,
        staging: str,
        df: DataFrame,
        partition_columns: list[str] | None = None,
        **stage_kw,
    ) -> tuple[int, dict | None]:
        """Stage ``df`` to ``staging`` and count its rows in the same Spark
        job: the count is an observation on the written frame, read only
        once the write has succeeded. Returns (rows, read schema). The
        read schema is the frame's schema made nullable; a partitioned
        commit's partition columns are typed by directory inference, so
        its schema is inferred from the staged files instead (None when
        it wrote no rows, leaving reads to infer as before)."""
        obs = Observation()
        self._stage_commit(
            staging,
            df.observe(obs, F.count(F.lit(1)).alias("rows")),
            partition_columns,
            **stage_kw,
        )
        rows = obs.get["rows"]
        if not partition_columns:
            schema = _as_nullable(df.schema).jsonValue()
        elif rows:
            schema = self.spark.read.parquet(staging).schema.jsonValue()
            schema["partitionColumns"] = list(partition_columns)
        else:
            schema = None
        return rows, schema

    def _read_commits(
        self, path: str, manifest: dict, commits: list[str]
    ) -> DataFrame:
        """Scan ``commits`` with the merge of their recorded read schemas:
        no footer-merging inference job. Falls back to that inference when
        a commit has no recorded schema (written before schemas were
        recorded, or by another writer) or the recorded schemas do not
        merge cleanly, so a real conflict is reported by Spark exactly as
        before."""
        dirs = [os.path.join(path, c) for c in commits]
        schema = _merged_schema(manifest.get("schemas", {}), commits, dirs)
        if schema is None:
            return self.spark.read.option("mergeSchema", "true").parquet(*dirs)
        return self.spark.read.schema(schema).parquet(*dirs)

    def _dv_dirs(self, path: str, names: list[str]) -> list[str]:
        """Vector dirs; a cloned table's vectors are absolute already."""
        return [os.path.join(path, self.DV_DIR, n) for n in names]

    def _dv_keys(
        self, path: str, names: list[str], key: StructField
    ) -> DataFrame:
        """The distinct keys of vectors ``names``, read with the key
        column's known type (a vector holds just that column)."""
        return (
            self.spark.read.schema(StructType([key]))
            .parquet(*self._dv_dirs(path, names))
            .distinct()
        )

    def _live(self, path: str, manifest: dict, commits: list[str]) -> DataFrame:
        """The rows of ``commits`` that are live at the version ``manifest``
        holds: the scan anti-joins the keys of that version's deletion
        vectors. The join side is the DISTINCT deleted-key set — typically
        small enough that Catalyst broadcasts it; a long delete history
        past the broadcast threshold degrades to a shuffled hash join, the
        merge-on-read tax that a rewrite retiring the vectors resets."""
        df = self._read_commits(path, manifest, commits)
        if not manifest.get("dvs"):
            return df
        key_col = manifest.get("dv_key", "id")
        keys = self._dv_keys(path, manifest["dvs"], df.schema[key_col])
        return df.join(keys, on=key_col, how="left_anti")

    def with_retry(self, op, max_attempts: int = 3):
        """Bounded OCC retry loop (Delta parity: conflicting txns re-read
        the log and re-attempt). ``op`` is a zero-argument callable that
        performs ONE ZoneStore operation end-to-end. Every table change
        reads the latest log entry when it starts and claims the next
        version with put-if-absent, so a loser changed nothing and simply
        re-invoking ``op`` gives the next attempt a fresh snapshot. Returns
        ``op()``'s result on the first attempt that commits; re-raises the
        last :class:`ConcurrentModificationError` after ``max_attempts``
        losses. Non-conflict exceptions propagate immediately — retrying
        a constraint violation or I/O error would just repeat it."""
        if max_attempts < 1:
            raise ValueError("max_attempts must be >= 1")
        last: ConcurrentModificationError | None = None
        for _ in range(max_attempts):
            try:
                return op()
            except ConcurrentModificationError as exc:
                last = exc
        assert last is not None
        raise last

    # ------------------------------------------------------------------- read
    def exists(self, zone: DataZone, dataset: str) -> bool:
        return bool(self._read_manifest(self.dataset_path(zone, dataset))["commits"])

    def read(self, zone: DataZone, dataset: str) -> DataFrame | None:
        """L1 source read (reference ``get_zone_data``,
        ``src/etl/etl_manager.py:582-588`` — returns ``[]`` when absent;
        here ``None`` when absent so callers can build an empty DF with the
        right schema if they have one)."""
        path = self.dataset_path(zone, dataset)
        manifest = self._read_manifest(path)
        if not manifest["commits"]:
            return None
        return self._live(path, manifest, manifest["commits"])

    def list_datasets(self, zone: DataZone) -> list[str]:
        zdir = os.path.join(self.root, zone.value)
        if not os.path.isdir(zdir):
            return []
        return sorted(
            d for d in os.listdir(zdir)
            if os.path.isdir(os.path.join(zdir, d, self.LOG_DIR))
        )

    # ------------------------------------------------------------------ write
    def write(
        self,
        zone: DataZone,
        dataset: str,
        df: DataFrame,
        load_type: LoadType = LoadType.FULL,
        id_field: str = "id",
        partition_columns: list[str] | None = None,
        expected_version: int | None = None,
        txn_id: str | None = None,
    ) -> int:
        """Write ``df`` under the given load pattern; returns rows written.

        Reference semantics ``src/etl/etl_manager.py:441-476``:
        FULL replaces, APPEND inserts all, MERGE upserts on ``id_field``,
        INCREMENTAL inserts only ids not already present.
        """
        path = self.dataset_path(zone, dataset)
        os.makedirs(path, exist_ok=True)
        manifest = self._read_manifest(path)

        # Optimistic concurrency (Delta parity): a writer that read the
        # table at version V commits only if the table is still at V.
        if (
            expected_version is not None
            and manifest["version"] != expected_version
        ):
            raise ConcurrentModificationError(
                f"{zone.value}/{dataset} is at version "
                f"{manifest['version']}, writer expected "
                f"{expected_version} — re-read and retry"
            )

        # Idempotent writes (Delta txnAppId parity): a retried batch with
        # a txn id already recorded commits nothing and reports 0 rows.
        if txn_id is not None and txn_id in manifest.get("txns", []):
            return 0

        self._enforce_constraints(zone, dataset, df, "write to")
        # A vector hides every row with its key, newer ones too: the writes
        # that keep the old commits and add rows fold the vectors first.
        if manifest.get("dvs") and load_type in (
            LoadType.APPEND, LoadType.INCREMENTAL
        ):
            self.purge_dv(zone, dataset)
            manifest = self._read_manifest(path)

        if load_type == LoadType.FULL or not manifest["commits"]:
            out, replace = df, True
        elif load_type == LoadType.APPEND:
            out, replace = df, False
        elif load_type == LoadType.INCREMENTAL:
            # Only genuinely-new ids land; existing rows are never touched
            # (reference :468-476). Anti join streams map-side when the id
            # set is broadcastable; otherwise a shuffled hash join — either
            # way no rewrite of existing data.
            existing = self._live(path, manifest, manifest["commits"])
            out = df.join(
                existing.select(id_field).distinct(), on=id_field, how="left_anti"
            )
            replace = False
        elif load_type == LoadType.MERGE:
            # Upsert (reference :456-467): matched rows replaced, new rows
            # appended. Parquet has no in-place update → keep the untouched
            # remainder + all incoming rows as a fresh FULL commit.
            existing = self._live(path, manifest, manifest["commits"])
            keep = existing.join(
                df.select(id_field).distinct(), on=id_field, how="left_anti"
            )
            out = keep.unionByName(df, allowMissingColumns=True)
            replace = True
        else:  # pragma: no cover
            raise ValueError(f"unknown load type: {load_type}")

        return self._commit_frame(
            path, manifest, out, [] if replace else manifest["commits"],
            skip_empty=not replace,
            partition_columns=partition_columns, txn_id=txn_id,
        )

    def _commit_frame(
        self,
        path: str,
        manifest: dict,
        out: DataFrame,
        keep: list[str],
        skip_empty: bool = False,
        partition_columns: list[str] | None = None,
        txn_id: str | None = None,
        before_publish=None,
        **stage_kw,
    ) -> int:
        """Commit ``out`` as version V+1, whose live commits are ``keep``
        plus the new one. Returns rows written; with ``skip_empty``, a
        frame of no rows publishes nothing and returns 0.
        ``before_publish`` runs after the write job, and an exception from
        it discards the staged commit.

        The frame is staged to a fresh dir while the table may move on;
        the claim of V+1 then fails if any change landed since
        ``manifest`` was read, so a commit that landed during the (long)
        Spark write is never dropped from the new commit list."""
        staging = self._staging_dir(path, "c", manifest["version"] + 1)
        n, schema = self._stage_counted(
            staging, out, partition_columns, **stage_kw
        )
        if n == 0 and skip_empty:
            shutil.rmtree(staging, ignore_errors=True)
            return 0
        if before_publish is not None:
            try:
                before_publish()
            except BaseException:
                shutil.rmtree(staging, ignore_errors=True)
                raise
        commit = os.path.basename(staging)
        entry = self._next_entry(manifest, keep + [commit])
        if schema is not None:
            entry["schemas"][commit] = schema
        entry["metrics"] = _write_metrics(n, [staging])
        if txn_id is not None:
            entry["txns"] = entry.get("txns", []) + [txn_id]
        self._claim_version(path, manifest["version"], entry, [staging])
        return n

    # ------------------------------------------------------------ time travel
    def read_version(
        self, zone: DataZone, dataset: str, version: int
    ) -> DataFrame:
        """Read the dataset exactly as it stood after commit ``version``
        (1-based), with the deletion vectors live at that version. Raises
        if the version never existed or its files were reclaimed by
        :meth:`vacuum` — the Delta/Iceberg time-travel contract on the
        parquet ZoneStore."""
        path = self.dataset_path(zone, dataset)
        entry = self._read_entry(path, version)
        if entry is None:
            raise ValueError(
                f"version {version} not available for {zone.value}/{dataset} "
                f"(current: {self._read_manifest(path)['version']}; "
                "vacuumed or never written)"
            )
        dirs = [os.path.join(path, c) for c in entry["commits"]]
        dv_dirs = self._dv_dirs(path, entry.get("dvs", []))
        if not all(os.path.isdir(d) for d in dirs + dv_dirs):
            raise ValueError(
                f"version {version} of {zone.value}/{dataset} was vacuumed"
            )
        return self._live(path, entry, entry["commits"])

    def read_changes(
        self,
        zone: DataZone,
        dataset: str,
        from_version: int,
        to_version: int,
    ) -> DataFrame | None:
        """Rows ADDED between two retained versions, read at file level:
        the commits in ``to_version``'s membership that ``from_version``
        lacks. For append-only workloads this is the true Delta-CDF fast
        path — the change feed costs ZERO compute (no join, no diff scan;
        just read the new commit dirs), which is what makes incremental
        view maintenance at 100 TB proportional to the delta, not the
        history. Returns ``None`` when no commits were added (or the span
        only replaced commits — use :meth:`diff_versions` for row-level
        classification of rewrites)."""
        path = self.dataset_path(zone, dataset)
        old, new = (self._read_entry(path, v) for v in (from_version, to_version))
        for v, entry in ((from_version, old), (to_version, new)):
            if entry is None:
                raise ValueError(
                    f"version {v} not available for {zone.value}/{dataset}"
                )
        added = [c for c in new["commits"] if c not in set(old["commits"])]
        if not added:
            return None
        dirs = [os.path.join(path, c) for c in added]
        if not all(os.path.isdir(d) for d in dirs):
            raise ValueError(
                f"changes {from_version}->{to_version} of "
                f"{zone.value}/{dataset} were vacuumed"
            )
        return self._read_commits(path, new, added)

    # ------------------------------------------------- stats-based pruning
    def commit_stats(
        self, zone: DataZone, dataset: str, column: str
    ) -> list[dict]:
        """Per-commit (min, max, null-only) zone maps for ``column``, read
        from parquet FOOTERS only (pyarrow metadata — no data pages touched).
        The log-level analog of Delta/Iceberg file statistics: O(commits)
        metadata reads regardless of table size."""
        import pyarrow.parquet as pq

        path = self.dataset_path(zone, dataset)
        manifest = self._read_manifest(path)
        out: list[dict] = []
        for commit in manifest["commits"]:
            cdir = os.path.join(path, commit)
            mn = mx = None
            have_stats = True
            present = False
            for f in os.listdir(cdir):
                if not f.endswith(".parquet"):
                    continue
                meta = pq.ParquetFile(os.path.join(cdir, f)).metadata
                names = {
                    meta.schema.column(i).name: i
                    for i in range(meta.num_columns)
                }
                if column not in names:
                    continue
                present = True
                ci = names[column]
                for rg in range(meta.num_row_groups):
                    st = meta.row_group(rg).column(ci).statistics
                    if st is None or not st.has_min_max:
                        have_stats = False
                        break
                    mn = st.min if mn is None else min(mn, st.min)
                    mx = st.max if mx is None else max(mx, st.max)
                if not have_stats:
                    break
            out.append(
                {
                    "commit": commit,
                    "present": present,
                    "has_stats": have_stats,
                    "min": mn,
                    "max": mx,
                }
            )
        return out

    # ------------------------------------------------- bloom data skipping
    @staticmethod
    def _bloom_positions_expr(column: str, k: int, m_bits: int):
        """Portable bloom bit positions for a value: md5 of
        ``"<value>:<j>"``, first 12 hex chars, mod m — identical in
        Spark, DuckDB SQL, and Python hashlib, so an index built by any
        engine serves probes from any other."""
        return [
            F.conv(
                F.substring(
                    F.md5(F.concat(F.col(column).cast("string"), F.lit(f":{j}"))),
                    1,
                    12,
                ),
                16,
                10,
            ).cast("bigint")
            % m_bits
            for j in range(k)
        ]

    def build_bloom_index(
        self,
        zone: DataZone,
        dataset: str,
        column: str,
        m_bits: int = 65536,
        k: int = 3,
    ) -> dict:
        """Build a per-commit Bloom data-skipping index for ``column``
        (the Delta Bloom-filter-index analog): each commit's distinct set
        bit positions are computed DISTRIBUTED (one column scan per
        commit, k md5 positions per value, distinct-collapsed before
        they reach the driver — at most ``m_bits`` ints per commit) and
        persisted as a side JSON next to the log. Zone maps skip
        commits for RANGE predicates; the bloom index skips them for
        POINT lookups, where min/max ranges almost always overlap."""
        path = self.dataset_path(zone, dataset)
        manifest = self._read_manifest(path)
        index: dict[str, list[int]] = {}
        for commit in manifest["commits"]:
            df = self._read_commits(path, manifest, [commit])
            if column not in df.columns:
                index[commit] = []
                continue
            pos_cols = self._bloom_positions_expr(column, k, m_bits)
            positions = (
                df.select(
                    F.explode(F.array(*pos_cols)).alias("p")
                )
                .distinct()
                .collect()
            )
            index[commit] = sorted(int(r.p) for r in positions)
        side = os.path.join(path, f"_bloom_{column}.json")
        with open(side, "w") as fh:
            json.dump(
                {"m_bits": m_bits, "k": k, "commits": index}, fh
            )
        return {
            "commits_indexed": len(index),
            "total_set_bits": sum(len(v) for v in index.values()),
            "m_bits": m_bits,
            "k": k,
        }

    def read_bloom_pruned(
        self, zone: DataZone, dataset: str, column: str, value
    ) -> tuple[DataFrame, dict]:
        """Point-lookup read through the Bloom index: commits whose
        filter lacks ANY of the probe's k bit positions provably do not
        contain the value and are never opened; surviving commits (true
        commit + bloom false positives) still get the exact equality
        filter, so the result is EXACTLY ``read(...).filter(col ==
        value)``. Report records scanned vs skipped commits."""
        import hashlib

        path = self.dataset_path(zone, dataset)
        side = os.path.join(path, f"_bloom_{column}.json")
        with open(side) as fh:
            idx = json.load(fh)
        m_bits, k = idx["m_bits"], idx["k"]
        probe = [
            int(
                hashlib.md5(f"{value}:{j}".encode()).hexdigest()[:12], 16
            )
            % m_bits
            for j in range(k)
        ]
        keep = [
            c
            for c, bits in idx["commits"].items()
            if all(p in set(bits) for p in probe)
        ]
        report = {
            "commits_total": len(idx["commits"]),
            "commits_scanned": len(keep),
            "commits_skipped": len(idx["commits"]) - len(keep),
        }
        manifest = self._read_manifest(path)
        df = self._live(path, manifest, keep or manifest["commits"])
        if not keep:
            df = df.filter(F.lit(False))
        return df.filter(F.col(column) == F.lit(value)), report

    def _zone_map_skips(
        self, zone: DataZone, dataset: str, column: str | None, lo, hi
    ) -> set[str]:
        """Commits whose footer [min, max] of ``column`` cannot meet
        [lo, hi]. A commit without the column or its stats, or with no
        row group (has_stats but min None), is never skipped."""
        if column is None:
            return set()
        return {
            s["commit"]
            for s in self.commit_stats(zone, dataset, column)
            if s["present"] and s["has_stats"] and s["min"] is not None
            and (
                (lo is not None and s["max"] < lo)
                or (hi is not None and s["min"] > hi)
            )
        }

    def read_pruned(
        self,
        zone: DataZone,
        dataset: str,
        column: str,
        lo=None,
        hi=None,
    ) -> tuple[DataFrame, dict]:
        """Read with commit-level zone-map pruning: commits whose
        [min, max] footer range cannot intersect [lo, hi] are never opened
        (commits without the column or without stats are read
        conservatively — a range predicate is false on NULL, so skipping
        column-absent commits would also be sound, but conservative keeps
        the method obviously correct under schema evolution). The residual
        predicate still applies to the surviving commits, so the result is
        EXACTLY ``read(...).filter(lo <= column <= hi)`` — pruning only
        changes how much data is opened. Returns (DataFrame, report) where
        the report records scanned vs skipped commit counts."""
        path = self.dataset_path(zone, dataset)
        manifest = self._read_manifest(path)
        skip = self._zone_map_skips(zone, dataset, column, lo, hi)
        keep = [c for c in manifest["commits"] if c not in skip]
        report = {
            "commits_total": len(manifest["commits"]),
            "commits_scanned": len(keep),
            "commits_skipped": len(manifest["commits"]) - len(keep),
        }
        df = self._live(path, manifest, keep or manifest["commits"])
        if not keep:
            df = df.filter(F.lit(False))
        cond = F.lit(True)
        if lo is not None:
            cond = cond & (F.col(column) >= F.lit(lo))
        if hi is not None:
            cond = cond & (F.col(column) <= F.lit(hi))
        return df.filter(cond), report

    def diff_versions(
        self,
        zone: DataZone,
        dataset: str,
        from_version: int,
        to_version: int,
        id_field: str = "id",
    ) -> DataFrame:
        """Row-level change feed between two retained versions (Delta CDF
        analog on the parquet ZoneStore): full outer join on ``id_field``
        classifying each id as insert / delete / update / unchanged.
        Both versions must still be retained (see :meth:`vacuum`)."""
        old = self.read_version(zone, dataset, from_version)
        new = self.read_version(zone, dataset, to_version)
        o = old.select(F.col(id_field).alias("_id"), F.struct("*").alias("_old"))
        n = new.select(F.col(id_field).alias("_id"), F.struct("*").alias("_new"))
        joined = o.join(n, "_id", "full_outer")
        change = (
            F.when(F.col("_old").isNull(), F.lit("insert"))
            .when(F.col("_new").isNull(), F.lit("delete"))
            .when(F.col("_old") == F.col("_new"), F.lit("unchanged"))
            .otherwise(F.lit("update"))
        )
        return joined.select(
            F.col("_id").alias(id_field), change.alias("_change_type")
        )

    def vacuum(
        self,
        zone: DataZone,
        dataset: str,
        retain_last: int = 2,
        staging_retention_sec: float = 3600.0,
    ) -> dict:
        """Retire the log entries older than the newest ``retain_last``
        (the latest entry always stays) and reclaim the commit dirs and
        deletion vectors that only those entries name — bounding
        time-travel storage the way Delta's ``VACUUM`` bounds tombstoned
        files. A retired entry becomes an empty tombstone, so its version
        number is never claimed again. Returns stats.

        Vacuum claims no version, so it never conflicts with a writer. A
        dir that no entry names is being staged by a concurrent writer or
        was left by one that crashed, so it is reclaimed only once older
        than ``staging_retention_sec`` (mtime-based, like Delta VACUUM's
        retention window): a racing vacuum never deletes a healthy
        in-flight stage. A version claimed after vacuum listed the log
        (a data commit, or a restore of a version vacuum retires) keeps
        its dirs: vacuum reads the log again before it deletes any."""
        import time

        path = self.dataset_path(zone, dataset)
        versions = self._log_versions(path)
        keep = max(retain_last, 1)
        retained, dropped = versions[-keep:], versions[:-keep]

        def named(vs) -> set[str]:
            out: set[str] = set()
            for v in vs:
                entry = self._read_entry(path, v) or {"commits": []}
                out.update(entry["commits"])
                out.update(self._dv_dirs("", entry.get("dvs", [])))
            return out

        live, retired = named(retained), named(dropped)
        for v in dropped:
            self._retire_entry(path, v)
        newest = versions[-1] if versions else 0
        live |= named(v for v in self._log_slots(path) if v > newest)

        def old(full: str) -> bool:
            try:
                age = time.time() - os.path.getmtime(full)
            except OSError:  # concurrently removed
                return False
            return age >= staging_retention_sec

        def dirs(rel: str) -> list[str]:
            root = os.path.join(path, rel)
            names = os.listdir(root) if os.path.isdir(root) else []
            return [os.path.join(rel, n) for n in names]

        removed = 0
        for name in dirs("") + dirs(self.DV_DIR):
            full = os.path.join(path, name)
            if (
                name not in (self.LOG_DIR, self.DV_DIR)
                and name not in live
                and os.path.isdir(full)
                and (name in retired or old(full))
            ):
                shutil.rmtree(full, ignore_errors=True)
                removed += not name.startswith(self.DV_DIR + os.sep)
        return {"removed_commits": removed, "retained_versions": len(retained)}

    # ------------------------------------------------------------- compaction
    def restore_version(
        self, zone: DataZone, dataset: str, version: int
    ) -> int:
        """RESTORE TABLE ... TO VERSION (Delta parity): a NEW version whose
        commit set is the historical version's — data files untouched, so
        restore is metadata-only and itself time-travelable/undoable. The
        target version's entry must still be readable (vacuum() retires
        it, same as Delta RESTORE after VACUUM). Returns commits restored.
        """
        path = self.dataset_path(zone, dataset)
        manifest = self._read_manifest(path)
        target = self._read_entry(path, version)
        if target is None:
            raise ValueError(
                f"version {version} not in retained history for "
                f"{zone.value}/{dataset} (have: {self._log_versions(path)})"
            )
        entry = self._next_entry(
            manifest, target["commits"], target.get("dvs", []),
            target.get("schemas", {}),
        )
        if "dv_key" in target:
            entry["dv_key"] = target["dv_key"]
        self._claim_version(path, manifest["version"], entry)
        return len(target["commits"])

    def merge_into(
        self,
        zone: DataZone,
        dataset: str,
        source: DataFrame,
        id_field: str = "id",
        matched_delete: str | None = None,
        matched_update: dict[str, str] | None = None,
        insert_not_matched: bool = True,
        not_matched_by_source_delete: str | None = None,
    ) -> dict:
        """Full Delta ``MERGE INTO`` clause semantics over the ZoneStore:

        * ``WHEN MATCHED AND <matched_delete> THEN DELETE`` — predicate over
          target columns and ``src_<col>`` source columns;
        * ``WHEN MATCHED THEN UPDATE SET col = <expr>`` for the remaining
          matched rows (exprs may reference ``src_<col>``);
        * ``WHEN NOT MATCHED THEN INSERT *`` (toggleable);
        * ``WHEN NOT MATCHED BY SOURCE AND <pred> THEN DELETE``.

        Predicates follow CHECK/DELETE NULL discipline (NULL → clause does
        not fire). The result lands as one FULL commit (copy-on-write);
        clause row counts are returned. Each input branch is a plain
        join/anti-join on the merge key, so at 100 TB the whole MERGE is
        key-partitioned joins + one rewrite — the same shape Delta executes.
        """
        path = self.dataset_path(zone, dataset)
        manifest = self._read_manifest(path)
        if not manifest["commits"]:
            n = (
                self.write(zone, dataset, source, LoadType.FULL)
                if insert_not_matched
                else 0
            )
            return {"updated": 0, "deleted_matched": 0,
                    "inserted": n, "deleted_by_source": 0}
        tgt = self._live(path, manifest, manifest["commits"])

        # Delta MERGE raises when multiple source rows match one target row
        # (DELTA_MULTIPLE_SOURCE_ROW_MATCHING_TARGET_ROW); without this the
        # inner join below would silently duplicate the matched target row.
        # Each source row carries its key's multiplicity, and the write job
        # observes the largest one among matched rows; above 1, the staged
        # commit is discarded before it is published.
        src_rows = "__merge_src_rows"
        src_pref = source.select(
            [F.col(c).alias(f"src_{c}") for c in source.columns]
            + [
                F.count(F.lit(1))
                .over(Window.partitionBy(id_field))
                .alias(src_rows)
            ]
        )
        key = F.col(id_field) == F.col(f"src_{id_field}")
        # Clause counts are observations on the union's branches, filled
        # in by the write job itself.
        observations: list[Observation] = []

        def observe(df: DataFrame, **metrics) -> DataFrame:
            observations.append(Observation())
            return df.observe(
                observations[-1], *[m.alias(k) for k, m in metrics.items()]
            )

        fire = (
            F.coalesce(F.expr(matched_delete), F.lit(False))
            if matched_delete
            else F.lit(False)
        )
        matched = observe(
            tgt.join(src_pref, key, "inner"),
            max_src_rows=F.max(src_rows),
            deleted_matched=F.count_if(fire),
        ).filter(~fire)
        matched_obs = observations[-1]
        if matched_update:
            matched = matched.withColumns(
                {
                    col: F.expr(expr)
                    for col, expr in matched_update.items()
                }
            )
        matched_out = matched.select(tgt.columns)
        if matched_update:
            matched_out = observe(matched_out, updated=F.count(F.lit(1)))

        unmatched_t = tgt.join(src_pref, key, "left_anti")
        if not_matched_by_source_delete:
            fire = F.coalesce(
                F.expr(not_matched_by_source_delete), F.lit(False)
            )
            unmatched_t = observe(
                unmatched_t, deleted_by_source=F.count_if(fire)
            ).filter(~fire)

        pieces = [matched_out, unmatched_t]
        if insert_not_matched:
            inserts = source.join(
                tgt.select(id_field).distinct(), on=id_field, how="left_anti"
            )
            pieces.append(observe(inserts, inserted=F.count(F.lit(1))))
        out = pieces[0]
        for p in pieces[1:]:
            out = out.unionByName(p, allowMissingColumns=True)

        def reject_duplicate_matches() -> None:
            if (matched_obs.get["max_src_rows"] or 0) <= 1:
                return
            dup_keys = (
                source.groupBy(id_field)
                .count()
                .filter(F.col("count") > 1)
                .join(tgt.select(id_field).distinct(), id_field, "left_semi")
            )
            sample = [r[id_field] for r in dup_keys.limit(5).collect()]
            raise ValueError(
                "MERGE source has multiple rows matching the same target "
                f"row on {id_field!r} (e.g. {sample}); Delta MERGE rejects "
                "this — dedupe the source first"
            )

        self._enforce_constraints(zone, dataset, out, "write to")
        # The matched branch's inner join estimates the product of its
        # inputs, but each target row meets at most one source row, so
        # the output is bounded by target plus source.
        sizes = [plan_bytes(tgt), plan_bytes(source)]
        sized = None not in sizes
        if sized:
            out = right_size_for_write(out, est_bytes=sum(sizes))
        self._commit_frame(
            path, manifest, out, [],
            before_publish=reject_duplicate_matches, rebalance=not sized,
        )
        counts = {"updated": 0, "deleted_matched": 0,
                  "inserted": 0, "deleted_by_source": 0}
        for obs in observations:
            counts.update(obs.get)
        del counts["max_src_rows"]
        return counts

    def clone(
        self,
        zone: DataZone,
        dataset: str,
        dst_zone: DataZone,
        dst_dataset: str,
    ) -> int:
        """SHALLOW CLONE (Delta parity): version 1 of the clone references
        the source's commit directories and deletion vectors by absolute
        path — zero data copied. The clone claims that version, so cloning
        onto an existing table raises ValueError and leaves it as it was.
        Subsequent writes/DELETEs on the clone create commits in the
        clone's own directory (copy-on-write), so the source is never
        mutated through the clone. Faithful to Delta's contract, including
        the sharp edge: VACUUM on the SOURCE can reclaim commits a shallow
        clone still references. Every version of the clone carries
        ``cloned_from``: the source's path and the commits and vectors it
        was cloned at. Returns the number of referenced commits.
        """
        src_path = self.dataset_path(zone, dataset)
        src = self._read_manifest(src_path)
        if not src["commits"]:
            raise ValueError(f"nothing to clone: {zone.value}/{dataset}")
        abs_commits = [os.path.join(src_path, c) for c in src["commits"]]
        abs_dvs = self._dv_dirs(src_path, src.get("dvs", []))
        schemas = src.get("schemas", {})
        entry = self._next_entry(
            {
                "commits": [],
                "cloned_from": {
                    "path": src_path, "commits": abs_commits, "dvs": abs_dvs,
                },
                "constraints": dict(src.get("constraints", {})),
                "dv_key": src.get("dv_key", "id"),
            },
            abs_commits,
            abs_dvs,
            {a: schemas[c] for c, a in zip(src["commits"], abs_commits)
             if c in schemas},
        )
        try:
            self._claim_version(
                self.dataset_path(dst_zone, dst_dataset), 0, entry
            )
        except ConcurrentModificationError:
            raise ValueError(
                f"cannot clone onto {dst_zone.value}/{dst_dataset}: "
                "that table already exists"
            ) from None
        return len(abs_commits)

    def set_constraint(
        self, zone: DataZone, dataset: str, name: str, expr: str
    ) -> None:
        """Register a table-level CHECK constraint (Delta
        ``delta.constraints.*`` parity): a SQL boolean expression every row
        of every subsequent write must satisfy. Like Delta's metadata
        commit, it is a new version of the table, so it travels with the
        table, not the caller."""
        path = self.dataset_path(zone, dataset)
        manifest = self._read_manifest(path)
        entry = self._next_entry(manifest, manifest["commits"])
        entry["constraints"] = {**manifest.get("constraints", {}), name: expr}
        self._claim_version(path, manifest["version"], entry)

    def constraints(self, zone: DataZone, dataset: str) -> dict[str, str]:
        return dict(
            self._read_manifest(self.dataset_path(zone, dataset)).get(
                "constraints", {}
            )
        )

    def check_constraints(
        self, zone: DataZone, dataset: str, df: DataFrame
    ) -> list[dict]:
        """Audit ``df`` against the table's CHECK constraints in ONE fused
        scan (conditional aggregates — never one pass per constraint).
        A row violates when the expression is FALSE **or NULL** (Delta
        counts NULL as a violation for CHECK). Returns
        ``[{name, expr, n_violations}, ...]`` sorted by name."""
        cons = self.constraints(zone, dataset)
        if not cons:
            return []
        aggs = [
            F.sum(
                (~F.coalesce(F.expr(expr), F.lit(False))).cast("long")
            ).alias(name)
            for name, expr in sorted(cons.items())
        ]
        row = df.agg(*aggs).collect()[0]
        # SUM over zero rows is NULL — an empty write audits as 0 violations
        # (and must commit an empty version, not crash).
        return [
            {"name": n, "expr": cons[n], "n_violations": int(row[n] or 0)}
            for n in sorted(cons)
        ]

    def _enforce_constraints(
        self, zone: DataZone, dataset: str, df: DataFrame, what: str
    ) -> None:
        """CHECK constraints gate every write path (Delta parity: the txn
        fails atomically; no partial commit). One fused audit scan, and
        none when the table has no constraints."""
        bad = [
            a
            for a in self.check_constraints(zone, dataset, df)
            if a["n_violations"] > 0
        ]
        if bad:
            detail = "; ".join(
                f"{a['name']} ({a['expr']}): {a['n_violations']} rows"
                for a in bad
            )
            raise ConstraintViolationError(
                f"{what} {zone.value}/{dataset} violates CHECK "
                f"constraints: {detail}"
            )

    def _split_touched(
        self, path: str, manifest: dict, match, skip: set[str] = frozenset()
    ) -> tuple[list[str], list[str], int]:
        """Copy-on-write scan: split the live commits into those with no
        live row matching ``match`` (``skip`` ones unscanned) and those
        with some. Returns (untouched, touched, matching live rows)."""
        untouched: list[str] = []
        touched: list[str] = []
        hits = 0
        for c in manifest["commits"]:
            n = 0
            if c not in skip:
                n = self._live(path, manifest, [c]).filter(match).count()
            (touched if n else untouched).append(c)
            hits += n
        return untouched, touched, hits

    def delete_where(
        self,
        zone: DataZone,
        dataset: str,
        predicate: str,
        prune_column: str | None = None,
        prune_lo=None,
        prune_hi=None,
    ) -> int:
        """Row-level DELETE with copy-on-write at commit granularity.

        Delta-DELETE semantics: rows where ``predicate`` is TRUE are
        removed; rows where it is FALSE **or NULL** survive. Commits with
        no matching row are carried into the new version untouched (their
        files are never rewritten); all matching commits are rewritten as
        ONE fresh commit holding their surviving rows. With
        ``prune_column``/``prune_lo``/``prune_hi`` given, commits whose
        parquet-footer [min, max] range cannot intersect the bound are
        skipped without opening a data page — the same file-statistics
        gate Delta applies from its transaction log. Only live rows count:
        touched commits are read through the deletion vectors, which stay
        on for the untouched ones. A DELETE of every row leaves one empty
        commit, so the table and each version keep their schema. Returns
        rows deleted.

        Old commit dirs stay on disk for time travel until :meth:`vacuum`,
        exactly like :meth:`write`.
        """
        path = self.dataset_path(zone, dataset)
        manifest = self._read_manifest(path)
        if not manifest["commits"]:
            return 0
        match = F.coalesce(F.expr(predicate), F.lit(False))
        skip = self._zone_map_skips(
            zone, dataset, prune_column, prune_lo, prune_hi
        )
        untouched, changed, deleted = self._split_touched(
            path, manifest, match, skip
        )
        if not changed:
            return 0
        kept = self._live(path, manifest, changed).filter(~match)
        self._commit_frame(path, manifest, kept, untouched)
        return deleted

    def update_set(
        self,
        zone: DataZone,
        dataset: str,
        predicate: str,
        assignments: dict[str, str],
    ) -> int:
        """Row-level UPDATE with copy-on-write at commit granularity.

        Delta-UPDATE semantics: rows where ``predicate`` is TRUE get each
        ``column -> SQL expression`` assignment applied; FALSE/NULL rows
        are byte-preserved. Commits containing no matching row ride into
        the new version untouched; matching commits are rewritten (all
        their live rows, updated or not) as one fresh commit. Returns rows
        updated.
        """
        path = self.dataset_path(zone, dataset)
        manifest = self._read_manifest(path)
        if not manifest["commits"]:
            return 0
        if manifest.get("dvs") and manifest.get("dv_key", "id") in assignments:
            # a row moved onto a deleted key must stay live: fold first
            self.purge_dv(zone, dataset)
            manifest = self._read_manifest(path)
        match = F.coalesce(F.expr(predicate), F.lit(False))
        untouched, changed, updated = self._split_touched(path, manifest, match)
        if not changed:
            return 0
        out = self._live(path, manifest, changed).withColumns(
            {
                col: F.when(match, F.expr(expr)).otherwise(F.col(col))
                for col, expr in assignments.items()
            }
        )
        # CHECK constraints gate UPDATE like every other write path (Delta
        # enforces CHECK on UPDATE): audit the rewritten commit before any
        # file is written. Untouched commits already passed at
        # their own write time.
        self._enforce_constraints(zone, dataset, out, "UPDATE on")
        self._commit_frame(path, manifest, out, untouched)
        return updated

    def compact(
        self,
        zone: DataZone,
        dataset: str,
        target_file_bytes: int = 128 * 1024 * 1024,
    ) -> dict:
        """OPTIMIZE-style bin-packing compaction.

        APPEND/INCREMENTAL loads accumulate one commit directory (and many
        small files) per batch; reads then pay per-file open cost and lose
        row-group-level locality. Compaction rewrites the dataset as ONE
        fresh commit with ``ceil(total_bytes / target_file_bytes)`` files,
        swapped in atomically by the version's log entry — readers see the
        old or the new file set, never a mix. Maps to Delta/Iceberg
        ``OPTIMIZE`` (bin-packing) in a cluster deployment.

        File/byte accounting walks only this dataset's commit directories
        (driver-side metadata, not data). Returns before/after stats.
        """
        import math

        path = self.dataset_path(zone, dataset)
        manifest = self._read_manifest(path)
        if not manifest["commits"]:
            raise ValueError(f"no data to compact: {zone.value}/{dataset}")

        stale = list(manifest["commits"])
        files_before, bytes_before = _tree_stats(
            [os.path.join(path, c) for c in stale]
        )
        n_files = max(1, math.ceil(bytes_before / target_file_bytes))
        df = self._live(path, manifest, stale).repartition(n_files)
        # like Delta OPTIMIZE: the rewrite is a new version; superseded
        # commits stay readable via read_version until vacuum()
        self._commit_frame(path, manifest, df, [], rebalance=False)
        after = self._read_entry(path, manifest["version"] + 1)["metrics"]
        return {
            "files_before": files_before,
            "files_after": after["numFiles"],
            "bytes_before": bytes_before,
            "bytes_after": after["numOutputBytes"],
            "commits_before": len(stale),
        }

    def purge_dv(self, zone: DataZone, dataset: str) -> int:
        """Fold outstanding deletion vectors into the data (MoR -> CoW
        compaction): rewrite the live rows as ONE fresh commit, a version
        that retires the vectors. Read results are identical before and
        after; the read-time anti-join disappears. Returns live rows
        written; no-op (0, no version bump) when no vectors are
        outstanding. Old commit dirs and vectors stay on disk for time
        travel until :meth:`vacuum`."""
        path = self.dataset_path(zone, dataset)
        manifest = self._read_manifest(path)
        if not manifest.get("dvs"):
            return 0
        live = self._live(path, manifest, manifest["commits"])
        return self._commit_frame(path, manifest, live, [])

    # -------------------------------------------------------------- quarantine
    def write_quarantine(
        self,
        job_id: str,
        df: DataFrame,
        reason: str,
        quality_score: float,
        batch_ts: str,
    ) -> int:
        """L6 quarantine sink: stamp ``_quarantine_time``,
        ``_quarantine_reason``, ``_quality_score`` and append
        (reference ``src/etl/etl_manager.py:371-393``)."""
        path = self._quarantine_path(job_id)
        os.makedirs(path, exist_ok=True)
        manifest = self._read_manifest(path)
        stamped = (
            df.withColumn("_quarantine_time", F.lit(batch_ts))
            .withColumn("_quarantine_reason", F.lit(reason))
            .withColumn("_quality_score", F.lit(float(quality_score)))
        )
        return self._commit_frame(path, manifest, stamped, manifest["commits"])

    def read_quarantine(self, job_id: str) -> DataFrame | None:
        """L7 quarantine read (reference ``src/etl/etl_manager.py:590-595``)."""
        path = self._quarantine_path(job_id)
        manifest = self._read_manifest(path)
        if not manifest["commits"]:
            return None
        return self._read_commits(path, manifest, manifest["commits"])
