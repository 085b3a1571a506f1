"""Deletion vectors on the ZoneStore: merge-on-read row-level deletes.

:class:`ZoneStore.delete_where` (zones.py) is copy-on-write — a DELETE
rewrites every commit the predicate touches. Deletion vectors are the
other half of the Delta/Iceberg design space (Delta "deletion vectors",
Iceberg v2 "position/equality deletes"): a DELETE writes only the set of
deleted row KEYS as a side artifact, data commits are never rewritten,
and readers apply the vector as an anti-join at scan time
(merge-on-read). At 100 TB the difference is a delete costing
O(|deleted keys|) instead of O(|touched commits|) of write
amplification; the price is one extra join per read until a compaction
(:meth:`DVZoneStore.purge_dv`) folds the vectors back into the data —
exactly the MoR/CoW trade every production lakehouse tunes.

This emulation uses EQUALITY deletes on a declared key column (Iceberg
v2 equality-delete semantics; per-file positional bitmaps à la Delta
need file-physical row indexes parquet alone does not expose — the
manifest/anti-join plumbing would be identical). Everything rides the
existing ZoneStore commit protocol: DV artifacts stage to a unique dir
and publish by atomic rename, the manifest version advances under the
same OCC revalidation as data writes, and per-version DV membership is
recorded so time travel replays reads exactly as they stood.

Subclass (rather than editing zones.py) keeps the reference-parity
surface byte-stable; nothing here changes base-class behavior.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

from healthcare_data_lakehouse_spark.zones import (
    ConcurrentModificationError,
    DataZone,
    ZoneStore,
)


class DVZoneStore(ZoneStore):
    """ZoneStore with merge-on-read deletion vectors (equality deletes)."""

    DV_DIR = "_dv"

    # ------------------------------------------------------------ internals
    def _dv_dirs(self, path: str, names: list[str]) -> list[str]:
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

    def _apply_dv(
        self, df: DataFrame, path: str, names: list[str], key_col: str
    ) -> DataFrame:
        """Anti-join the DV key set onto a scan. The join side is the
        DISTINCT deleted-key set — typically small enough that Catalyst
        broadcasts it; when a long un-compacted delete history grows past
        the broadcast threshold it degrades to a shuffled hash join, which
        is the documented MoR read tax that purge_dv() resets."""
        if not names:
            return df
        keys = self._dv_keys(path, names, df.schema[key_col])
        return df.join(keys, on=key_col, how="left_anti")

    # ----------------------------------------------------------------- reads
    def _live(self, path: str, manifest: dict, commits: list[str]) -> DataFrame:
        """Every scan of live rows (read, read_pruned, read_bloom_pruned,
        compact, and the key sets of new vectors) applies the outstanding
        vectors."""
        return self._apply_dv(
            super()._live(path, manifest, commits),
            path,
            manifest.get("dvs", []),
            manifest.get("dv_key", "id"),
        )

    def read_version(
        self, zone: DataZone, dataset: str, version: int
    ) -> DataFrame:
        """Time travel with DV replay: versions committed before the first
        DV delete read with no vector applied; later versions apply
        exactly the vectors live at that version."""
        path = self.dataset_path(zone, dataset)
        manifest = self._read_manifest(path)
        df = super().read_version(zone, dataset, version)
        names = manifest.get("dv_history", {}).get(str(version), [])
        return self._apply_dv(df, path, names, manifest.get("dv_key", "id"))

    # --------------------------------------------------------------- deletes
    def delete_where_dv(
        self,
        zone: DataZone,
        dataset: str,
        predicate: str,
        key_col: str = "id",
    ) -> int:
        """DELETE WHERE ``predicate`` as a deletion vector: the matching
        LIVE rows' keys are written as a new DV artifact; no data commit
        is touched. Returns the number of keys added (0 = no-op, no
        version bump — deleting already-deleted rows is idempotent
        because the predicate evaluates over the DV-applied scan)."""
        path = self.dataset_path(zone, dataset)
        manifest = self._read_manifest(path)
        if not manifest["commits"]:
            raise ValueError(
                f"{zone.value}/{dataset} does not exist or is empty"
            )
        if manifest.get("dvs") and manifest.get("dv_key", key_col) != key_col:
            raise ValueError(
                f"deletion vectors for {zone.value}/{dataset} are keyed on "
                f"{manifest['dv_key']!r}; cannot mix with {key_col!r}"
            )
        live = self._live(path, manifest, manifest["commits"])
        doomed = live.filter(predicate).select(key_col).distinct()
        return self._commit_dv(zone, dataset, path, manifest, doomed,
                               key_col)

    def delete_keys_dv(
        self,
        zone: DataZone,
        dataset: str,
        keys: DataFrame,
        key_col: str = "id",
    ) -> int:
        """Set-based equality delete: every LIVE row whose ``key_col``
        appears in ``keys`` is deleted via a new vector artifact — the
        GDPR-erasure shape, where the delete list arrives as data (a
        stream of forget requests) rather than a predicate string. Keys
        with no live rows contribute nothing (idempotent replays add
        empty vectors -> no-op, no version bump). No driver-side
        collection: the key set stays a DataFrame end-to-end."""
        path = self.dataset_path(zone, dataset)
        manifest = self._read_manifest(path)
        if not manifest["commits"]:
            raise ValueError(
                f"{zone.value}/{dataset} does not exist or is empty"
            )
        if manifest.get("dvs") and manifest.get("dv_key", key_col) != key_col:
            raise ValueError(
                f"deletion vectors for {zone.value}/{dataset} are keyed on "
                f"{manifest['dv_key']!r}; cannot mix with {key_col!r}"
            )
        live = self._live(path, manifest, manifest["commits"])
        doomed = (
            live.join(
                keys.select(F.col(key_col)).distinct(), key_col, "left_semi"
            )
            .select(key_col)
            .distinct()
        )
        return self._commit_dv(zone, dataset, path, manifest, doomed,
                               key_col)

    def _commit_dv(
        self,
        zone: DataZone,
        dataset: str,
        path: str,
        manifest: dict,
        doomed: DataFrame,
        key_col: str,
    ) -> int:
        # size the vector artifact's files (guide §6): doomed comes off a
        # distinct (one tiny file per shuffle partition otherwise — 32
        # sub-KB files per vector at sf0.1, paid back on EVERY subsequent
        # read's DV scan)
        staging, n, _ = self._stage_counted(path, doomed)
        if n == 0:
            shutil.rmtree(staging, ignore_errors=True)
            return 0
        try:
            self._check_unchanged(
                path,
                manifest["version"],
                f"dv delete {zone.value}/{dataset}",
            )
        except ConcurrentModificationError:
            shutil.rmtree(staging, ignore_errors=True)
            raise
        os.makedirs(os.path.join(path, self.DV_DIR), exist_ok=True)
        dv_name = f"dv{manifest['version'] + 1:06d}"
        dv_dir = os.path.join(path, self.DV_DIR, dv_name)
        os.rename(staging, dv_dir)
        # data membership is UNCHANGED at this version — that is the whole
        # point; both histories are recorded for time travel
        self._record_version(manifest, manifest["commits"])
        self._record_metrics(manifest, n, [dv_dir])
        manifest.setdefault("dvs", []).append(dv_name)
        manifest["dv_key"] = key_col
        manifest.setdefault("dv_history", {})[
            str(manifest["version"])
        ] = list(manifest["dvs"])
        self._write_manifest(path, manifest)
        return n

    # ------------------------------------------------------------ compaction
    def purge_dv(self, zone: DataZone, dataset: str) -> int:
        """Fold outstanding deletion vectors into the data (MoR -> CoW
        compaction): rewrite the live rows as ONE fresh commit and clear
        the vector list. Read results are identical before and after; the
        read-time anti-join disappears. Returns live rows written; no-op
        (0, no version bump) when no vectors are outstanding. Old commit
        dirs and DV artifacts stay on disk for time travel until
        :meth:`vacuum`."""
        path = self.dataset_path(zone, dataset)
        manifest = self._read_manifest(path)
        if not manifest.get("dvs"):
            return 0
        live = self._live(path, manifest, manifest["commits"])
        # the rewritten version holds no vectors (written with its commit)
        manifest["dvs"] = []
        manifest.setdefault("dv_history", {})[str(manifest["version"] + 1)] = []
        return self._commit_frame(
            path, manifest, live, [], f"purge_dv {zone.value}/{dataset}"
        )

    # ----------------- copy-on-write interop: fold vectors first
    #
    # The base class's rewrite paths (FULL/MERGE write, merge_into,
    # delete_where, update_set, compact) reason about data FILES and the
    # plain `history` map; run over a table with outstanding vectors they
    # would (a) leave stale vectors that wrongly re-delete a key a
    # MERGE just re-inserted, and (b) record new versions with no
    # dv_history entry, so time travel at those versions would replay
    # the data without the vectors. Folding the vectors into the data
    # (purge) before any such path keeps every invariant trivially —
    # the same simplification Iceberg makes when equality deletes only
    # apply to data files with OLDER sequence numbers: after a rewrite
    # the surviving rows ARE the table and old vectors must not touch
    # them. APPEND needs no fold (it rewrites nothing and appends rows
    # that, like Iceberg's, are newer than every outstanding delete —
    # but the read-path vector would still hit matching NEW keys, so
    # fold there too for strict newer-than semantics).

    def _fold_outstanding(self, zone: DataZone, dataset: str) -> None:
        path = self.dataset_path(zone, dataset)
        if self._read_manifest(path).get("dvs"):
            self.purge_dv(zone, dataset)

    def write(self, zone, dataset, df, *args, **kwargs):
        self._fold_outstanding(zone, dataset)
        return super().write(zone, dataset, df, *args, **kwargs)

    def delete_where(self, zone, dataset, predicate, *args, **kwargs):
        self._fold_outstanding(zone, dataset)
        return super().delete_where(zone, dataset, predicate, *args, **kwargs)

    def update_set(self, zone, dataset, predicate, assignments):
        self._fold_outstanding(zone, dataset)
        return super().update_set(zone, dataset, predicate, assignments)

    def compact(self, zone, dataset, *args, **kwargs):
        self._fold_outstanding(zone, dataset)
        return super().compact(zone, dataset, *args, **kwargs)

    def merge_into(self, zone, dataset, source, *args, **kwargs):
        self._fold_outstanding(zone, dataset)
        return super().merge_into(zone, dataset, source, *args, **kwargs)

    # ----------------------------------------------------------------- audit
    def dv_stats(self, zone: DataZone, dataset: str) -> dict:
        """MoR bookkeeping: commit/vector counts and the deleted-key
        volume a reader currently pays for at scan time."""
        path = self.dataset_path(zone, dataset)
        manifest = self._read_manifest(path)
        dvs = manifest.get("dvs", [])
        n_keys = 0
        if dvs:
            table = self._read_commits(path, manifest, manifest["commits"])
            key = table.schema[manifest["dv_key"]]
            n_keys = self._dv_keys(path, dvs, key).count()
        return {
            "version": manifest["version"],
            "n_commits": len(manifest["commits"]),
            "n_dvs": len(dvs),
            "n_deleted_keys": n_keys,
            "dv_key": manifest.get("dv_key"),
        }
