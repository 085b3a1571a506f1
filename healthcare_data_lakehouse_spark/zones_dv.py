"""Deletion vectors on the ZoneStore: merge-on-read row-level deletes.

:class:`ZoneStore.delete_where` (zones.py) is copy-on-write — a DELETE
rewrites every commit the predicate touches. Deletion vectors are the
other half of the Delta/Iceberg design space (Delta "deletion vectors",
Iceberg v2 "position/equality deletes"): a DELETE writes only the set of
deleted row KEYS as a side artifact, data commits are never rewritten,
and readers apply the vector as an anti-join at scan time
(merge-on-read). At 100 TB the difference is a delete costing
O(|deleted keys|) instead of O(|touched commits|) of write
amplification; the price is one extra join per read until a rewrite of
the whole table (``purge_dv``, ``compact``, a FULL or MERGE write,
``merge_into``) retires the vectors — exactly the MoR/CoW
trade every production lakehouse tunes.

This emulation uses EQUALITY deletes on a declared key column (Iceberg
v2 equality-delete semantics; per-file positional bitmaps à la Delta
need file-physical row indexes parquet alone does not expose — the
log/anti-join plumbing would be identical). Everything rides the
existing ZoneStore commit protocol: a vector stages to a fresh dir under
``_dv/`` and is published by the log entry of its version, which claims
that version with the same put-if-absent as a data write, and each
version records its vectors next to its commits, so every ZoneStore
reads, time-travels, restores, clones, vacuums and folds them. This
subclass only writes them.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from healthcare_data_lakehouse_spark.zones import (
    DataZone,
    ZoneStore,
    _write_metrics,
)


class DVZoneStore(ZoneStore):
    """ZoneStore with merge-on-read deletion vectors (equality deletes)."""

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
        return self._delete_dv(
            zone, dataset, key_col, lambda live: live.filter(predicate)
        )

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
        return self._delete_dv(
            zone, dataset, key_col,
            lambda live: live.join(
                keys.select(F.col(key_col)).distinct(), key_col, "left_semi"
            ),
        )

    def _delete_dv(self, zone, dataset, key_col: str, doomed_rows) -> int:
        """Write the distinct keys of ``doomed_rows(live rows)`` as a new
        vector, at a version whose data commits are unchanged."""
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
        doomed = doomed_rows(live).select(key_col).distinct()
        # size the vector artifact's files (guide §6): doomed comes off a
        # distinct (one tiny file per shuffle partition otherwise — 32
        # sub-KB files per vector at sf0.1, paid back on EVERY subsequent
        # read's DV scan)
        staging = self._staging_dir(
            os.path.join(path, self.DV_DIR), "dv", manifest["version"] + 1
        )
        n, _ = self._stage_counted(staging, doomed)
        if n == 0:
            shutil.rmtree(staging, ignore_errors=True)
            return 0
        entry = self._next_entry(
            manifest, manifest["commits"],
            manifest.get("dvs", []) + [os.path.basename(staging)],
        )
        entry["dv_key"] = key_col
        entry["metrics"] = _write_metrics(n, [staging])
        self._claim_version(path, manifest["version"], entry, [staging])
        return n

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
