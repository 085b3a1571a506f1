"""Branch-and-merge on the ZoneStore: zero-copy experimentation.

The Iceberg/Nessie "git for data" workflow on top of the existing
shallow-clone machinery (``ZoneStore.clone``, zones.py): a BRANCH is a
shallow clone that remembers its base commit list, writes to the branch
land as copy-on-write commits in the branch's own directory (the source
is never mutated through it), and MERGE adopts the branch's commit list
back into the source by reference — zero data copied in either
direction. The ``cloned_from`` state every branch entry carries is its
merge base, so vacuuming the branch keeps it. Merge is
FAST-FORWARD-ONLY: if the source advanced since the branch was cut, or
advances before the merge claims its version, the merge raises
``ConcurrentModificationError`` and the resolution is to re-branch and
replay (the same discipline as the store's OCC writes — no silent
three-way data merges). The shallow
sharp edge is symmetric with clone's: VACUUM on either side can reclaim
commit dirs the other still references; production deployments put
branches under the same retention policy as their source.
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
        """Cut a branch at the source's current state (zero-copy): the
        clone's ``cloned_from`` is the recorded merge base. The clone
        claims the branch's version 1, so a branch of an existing name
        raises ValueError. Returns the number of referenced commits."""
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
        br = self._read_manifest(br_path)
        base = br.get("cloned_from", {"commits": []})
        return {
            "base_commits": len(base["commits"]),
            "branch_version": br["version"],
            "branch_ahead": br["commits"] != base["commits"],
            "source_diverged": self._diverged(
                src_path, self._read_manifest(src_path), br
            ),
        }

    def _diverged(self, src_path: str, src: dict, br: dict) -> bool:
        """True when the source's commits or deletion vectors are no
        longer the ones the branch ``br`` was cut at."""
        base = br.get("cloned_from", {"commits": []})
        now = (
            [os.path.join(src_path, c) for c in src["commits"]],
            self._dv_dirs(src_path, src.get("dvs", [])),
        )
        return now != (base["commits"], base.get("dvs", []))

    # ----------------------------------------------------------------- merge
    def merge_branch(
        self, zone: DataZone, dataset: str, branch: str
    ) -> int:
        """Fast-forward the source to the branch's commit list.

        Precondition: the source's commits and vectors are still exactly
        the branch's recorded base — otherwise the histories diverged and
        the merge raises (re-branch and replay to resolve; with_retry
        applies the same way it does to writes). Adoption is by REFERENCE: the
        branch's commit dirs (living under the branch's directory) enter
        the source's next entry as absolute paths, the same zero-copy
        mechanism clone uses in the other direction, and so do its
        deletion vectors. The source's own dirs keep their plain names,
        so its vacuum still sees them as live. Returns the number of
        commits the source now references."""
        src_path = self.dataset_path(zone, dataset)
        br_path = self.dataset_path(
            zone, self._branch_dataset(dataset, branch)
        )
        br = self._read_manifest(br_path)
        if not br.get("commits"):
            raise ValueError(
                f"branch {branch!r} of {zone.value}/{dataset} does not exist"
            )
        src = self._read_manifest(src_path)
        if self._diverged(src_path, src, br):
            raise ConcurrentModificationError(
                f"{zone.value}/{dataset} advanced since branch {branch!r} "
                "was cut — re-branch and replay to merge"
            )

        def adopt(dirs: list[str], own: str) -> list[str]:
            return [
                os.path.relpath(d, own) if d.startswith(own + os.sep) else d
                for d in dirs
            ]

        new_commits = adopt(
            [os.path.join(br_path, c) for c in br["commits"]], src_path
        )
        schemas = br.get("schemas", {})
        entry = self._next_entry(
            src, new_commits,
            adopt(
                self._dv_dirs(br_path, br.get("dvs", [])),
                os.path.join(src_path, self.DV_DIR),
            ),
            {a: schemas[c] for c, a in zip(br["commits"], new_commits)
             if c in schemas},
        )
        entry["dv_key"] = br.get("dv_key", "id")
        self._claim_version(src_path, src["version"], entry)
        return len(new_commits)
