"""Branch-and-merge on the ZoneStore: zero-copy experimentation.

The Iceberg/Nessie "git for data" workflow on top of the existing
shallow-clone machinery (``ZoneStore.clone``, zones.py): a BRANCH is a
shallow clone that remembers its base commit list, writes to the branch
land as copy-on-write commits in the branch's own directory (the source
is never mutated through it), and MERGE adopts the branch's commit list
back into the source by reference — zero data copied in either
direction. Merge is FAST-FORWARD-ONLY: if the source advanced since the
branch was cut, the merge raises ``ConcurrentModificationError`` and
the resolution is to re-branch and replay (the same discipline as the
store's OCC writes — no silent three-way data merges). The shallow
sharp edge is symmetric with clone's: VACUUM on either side can reclaim
commit dirs the other still references; production deployments put
branches under the same retention policy as their source.

Subclass (like zones_dv) so the reference-parity zones.py stays
byte-stable.
"""

from __future__ import annotations

import os

from healthcare_data_lakehouse_spark.zones import (
    ConcurrentModificationError,
    DataZone,
    ZoneStore,
)


class BranchingZoneStore(ZoneStore):
    """ZoneStore with named branches and fast-forward merge."""

    def _branch_dataset(self, dataset: str, branch: str) -> str:
        return f"{dataset}__br_{branch}"

    # ---------------------------------------------------------------- branch
    def create_branch(
        self, zone: DataZone, dataset: str, branch: str
    ) -> int:
        """Cut a branch at the source's current state (zero-copy). The
        clone's version-1 history entry IS the recorded merge base.
        Returns the number of referenced commits."""
        return self.clone(
            zone, dataset, zone, self._branch_dataset(dataset, branch)
        )

    def branch_read(self, zone: DataZone, dataset: str, branch: str):
        return self.read(zone, self._branch_dataset(dataset, branch))

    def branch_write(
        self, zone: DataZone, dataset: str, branch: str, df, *a, **kw
    ) -> int:
        return self.write(
            zone, self._branch_dataset(dataset, branch), df, *a, **kw
        )

    # ---------------------------------------------------------------- status
    def branch_status(
        self, zone: DataZone, dataset: str, branch: str
    ) -> dict:
        src_path = self.dataset_path(zone, dataset)
        br_path = self.dataset_path(
            zone, self._branch_dataset(dataset, branch)
        )
        src = self._read_manifest(src_path)
        br = self._read_manifest(br_path)
        base = br.get("history", {}).get("1", [])
        return {
            "base_commits": len(base),
            "branch_version": br.get("version", 0),
            "branch_ahead": br.get("commits", []) != base,
            "source_diverged": [
                c if os.path.isabs(c) else os.path.join(src_path, c)
                for c in src.get("commits", [])
            ]
            != base,
        }

    # ----------------------------------------------------------------- merge
    def merge_branch(
        self, zone: DataZone, dataset: str, branch: str
    ) -> int:
        """Fast-forward the source to the branch's commit list.

        Precondition: the source's commits are still exactly the branch's
        recorded base — otherwise the histories diverged and the merge
        raises (re-branch and replay to resolve; with_retry applies the
        same way it does to writes). Adoption is by REFERENCE: the
        branch's commit dirs (living under the branch's directory) enter
        the source manifest as absolute paths, the same zero-copy
        mechanism clone uses in the other direction. Returns the number
        of commits the source now references."""
        src_path = self.dataset_path(zone, dataset)
        br_path = self.dataset_path(
            zone, self._branch_dataset(dataset, branch)
        )
        br = self._read_manifest(br_path)
        if not br.get("commits"):
            raise ValueError(
                f"branch {branch!r} of {zone.value}/{dataset} does not exist"
            )
        base = br.get("history", {}).get("1", [])
        src = self._read_manifest(src_path)
        src_abs = [
            c if os.path.isabs(c) else os.path.join(src_path, c)
            for c in src["commits"]
        ]
        if src_abs != base:
            raise ConcurrentModificationError(
                f"{zone.value}/{dataset} advanced since branch {branch!r} "
                "was cut — re-branch and replay to merge"
            )
        new_commits = [os.path.join(br_path, c) for c in br["commits"]]
        schemas = src.setdefault("schemas", {})
        for c, a in zip(br["commits"], new_commits):
            if c in br.get("schemas", {}):
                schemas[a] = br["schemas"][c]
        self._record_version(src, new_commits)
        self._write_manifest(src_path, src)
        return len(new_commits)
