"""``zone_ingest``: writes with reads interleaved on one growing
deletion-vector silver table.

The benchmark generates every input from the seed before the timed phase:
the key range of the table, each cycle's batches (parquet files) and the
forget-request files. The same pass runs an independent model of the op
sequence (a dict from key to row) that gives each op's expected result
and the live table after every op, as a key count plus an order-free
checksum.

One cycle: ``write`` APPEND and INCREMENTAL, a ``read_pruned`` range
read over the commits they left, ``merge_into``, ``update_set``,
``delete_where_dv``, ``HealthcareETLManager.run_job`` with MERGE (quality
gate, quarantine, lineage), one ``stream_forget_to_zone`` drain of two
request files, then a scan and a point read of the merge-on-read table,
then ``compact`` and ``vacuum``. A run is a fixed number of whole cycles,
so the seed changes the data each op sees, not the mix of ops.

The range read comes right after the APPEND and INCREMENTAL writes, which fold the
outstanding deletion vectors: ``read_pruned`` on a ``DVZoneStore`` reads commit files
directly and does not apply vectors, so a range read with vectors
outstanding would return deleted rows.
"""

from __future__ import annotations

import os
import random
from dataclasses import dataclass, field
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq

COLS = ["id", "k", "patient_id", "admission_date", "age", "heart_rate",
        "diagnosis_code", "units"]
SCHEMA = pa.schema([
    ("id", pa.string()), ("k", pa.int64()), ("patient_id", pa.string()),
    ("admission_date", pa.string()), ("age", pa.float64()),
    ("heart_rate", pa.float64()), ("diagnosis_code", pa.string()),
    ("units", pa.int64()),
])
BASE_ROWS = 20_000
BATCH = 1_000        # APPEND, INCREMENTAL and merge_into source rows
JOB_ROWS = 300       # run_job batch
JOB_BAD = 24         # of which lack patient_id and are quarantined
FORGET = 40          # ids per forget-request file, two files per drain
RANGE_KEYS = 400     # key span of update, delete and range-read predicates
DATASET = "patients"
MASK = (1 << 64) - 1
COMMIT_KINDS = {"append", "incremental", "merge", "update", "delete",
                "run_job", "forget", "compact", "vacuum"}


@dataclass
class Op:
    kind: str
    path: str | None = None
    lo: int = 0
    hi: int = 0
    expect: dict = field(default_factory=dict)
    ingest_rows: int = 0
    ingest_bytes: int = 0
    state: tuple[int, int] = (0, 0)  # live keys, checksum after the op


class Model:
    """The live table as the op sequence defines it."""

    def __init__(self):
        self.rows: dict[str, tuple] = {}
        self.sum = 0

    def put(self, row: tuple) -> None:
        self.drop(row[0])
        self.rows[row[0]] = row
        self.sum = (self.sum + hash(row)) & MASK

    def drop(self, key: str) -> None:
        old = self.rows.pop(key, None)
        if old is not None:
            self.sum = (self.sum - hash(old)) & MASK

    def in_range(self, lo: int, hi: int) -> list[tuple]:
        return [r for r in self.rows.values() if lo <= r[1] <= hi]

    def state(self) -> tuple[int, int]:
        return len(self.rows), self.sum


def checksum(rows) -> tuple[int, int]:
    total, n = 0, 0
    for r in rows:
        total = (total + hash(tuple(r))) & MASK
        n += 1
    return n, total


class Inputs:
    """Seeded generator of the table's rows, batches and op sequence."""

    def __init__(self, seed: int, root: Path):
        self.rng = random.Random(seed)
        self.root = root
        self.next_key = self.rng.randrange(1_000_000, 1_000_000_000)
        self.files = 0
        self.model = Model()

    def row(self, k: int, patient: bool = True) -> tuple:
        r = self.rng
        day = r.randrange(0, 2400)
        return (
            str(k), k, f"MRN{k % 10**9:09d}" if patient else None,
            f"{2015 + day // 360:04d}-{day % 360 // 30 + 1:02d}-"
            f"{day % 30 + 1:02d}",
            float(r.randrange(10, 100)), float(r.randrange(60, 150)),
            f"A{r.randrange(100):02d}", r.randrange(1, 100),
        )

    def fresh(self, n: int) -> list[int]:
        keys = list(range(self.next_key, self.next_key + n))
        self.next_key += n
        return keys

    def live(self, n: int) -> list[int]:
        return [self.model.rows[i][1]
                for i in self.rng.sample(list(self.model.rows), n)]

    def save(self, rows: list[tuple], name: str | None = None) -> tuple[str, int]:
        self.files += 1
        path = self.root / (name or f"b{self.files:05d}.parquet")
        path.parent.mkdir(parents=True, exist_ok=True)
        cols = list(zip(*rows)) if rows else [[] for _ in COLS]
        names = SCHEMA.names if name is None else ["id"]
        schema = SCHEMA if name is None else pa.schema([("id", pa.string())])
        pq.write_table(pa.table(dict(zip(names, cols)), schema=schema), path)
        return str(path), path.stat().st_size

    def base(self) -> str:
        rows = [self.row(k) for k in self.fresh(BASE_ROWS)]
        for r in rows:
            self.model.put(r)
        return self.save(rows)[0]

    def cycle(self, index: int) -> list[Op]:
        m, ops = self.model, []

        def add(op: Op) -> None:
            op.state = m.state()
            ops.append(op)

        def batch(kind: str, data: list[tuple], **expect) -> Op:
            path, size = self.save(data)
            return Op(kind, path, expect=expect, ingest_rows=len(data),
                      ingest_bytes=size)

        def key_range() -> tuple[int, int]:
            lo = self.live(1)[0]
            return lo, lo + RANGE_KEYS

        rows = [self.row(k) for k in self.fresh(BATCH)]
        op = batch("append", rows, rows=len(rows))
        for r in rows:
            m.put(r)
        add(op)

        rows = [self.row(k) for k in self.fresh(BATCH // 2) + self.live(BATCH // 2)]
        new = [r for r in rows if r[0] not in m.rows]
        op = batch("incremental", rows, rows=len(new))
        for r in new:
            m.put(r)
        add(op)

        # three commits and no vectors outstanding: the APPEND folded them
        lo, hi = key_range()
        add(Op("range", lo=lo, hi=hi, expect={"rows": len(m.in_range(lo, hi))}))

        rows = [self.row(k) for k in self.fresh(BATCH // 2) + self.live(BATCH // 2)]
        matched = [r for r in rows if r[0] in m.rows]
        op = batch("merge", rows, updated=len(matched),
                   inserted=len(rows) - len(matched))
        for r in rows:
            old = m.rows.get(r[0])
            m.put(r if old is None else old[:7] + (old[7] + r[7],))
        add(op)

        lo, hi = key_range()
        hit = m.in_range(lo, hi)
        for r in hit:
            m.put(r[:7] + (r[7] + 1,))
        add(Op("update", lo=lo, hi=hi, expect={"rows": len(hit)}))

        lo, hi = key_range()
        hit = m.in_range(lo, hi)
        for r in hit:
            m.drop(r[0])
        add(Op("delete", lo=lo, hi=hi, expect={"rows": len(hit)}))

        # exactly JOB_BAD rows lack the required patient_id: the batch then
        # scores below the silver completeness gate, and every bad row fits
        # under the validator's quarantine cap of 100 ids
        keys = self.fresh(JOB_ROWS // 2) + self.live(JOB_ROWS // 2)
        bad = set(self.rng.sample(range(JOB_ROWS), JOB_BAD))
        rows = [self.row(k, patient=i not in bad) for i, k in enumerate(keys)]
        op = batch("run_job", rows, read=len(rows), quarantined=JOB_BAD)
        for r in rows:
            if r[2] is not None:
                m.put(r)
        add(op)

        drain = self.root / f"forget{index:04d}"
        for part in range(2):
            keys = self.live(FORGET - 5) + self.fresh(5)  # 5 unknown ids
            self.save([(str(k),) for k in keys], f"{drain.name}/f{part}.parquet")
            for k in keys:
                m.drop(str(k))
        add(Op("forget", str(drain)))

        add(Op("scan", expect={"rows": len(m.rows)}))
        key = self.live(1)[0]
        add(Op("point", lo=key, expect={"rows": 1}))

        add(Op("compact"))
        add(Op("vacuum"))
        return ops


class ZoneIngest:
    """Runs the op sequence against the package and checks each result."""

    def __init__(self, spark, work: Path, seed: int, cycles: int):
        from healthcare_data_lakehouse_spark.etl import (
            ETLJobConfig, HealthcareETLManager,
        )
        from healthcare_data_lakehouse_spark.zones import DataZone, LoadType
        from healthcare_data_lakehouse_spark.zones_dv import DVZoneStore

        self.spark, self.work = spark, work
        self.zone, self.load = DataZone.SILVER, LoadType
        self.inputs = Inputs(seed, work / "inputs")
        self.root = str(work / "store")
        self.store = DVZoneStore(spark, self.root)
        self.manager = HealthcareETLManager(spark, self.root)
        self.manager.store = self.store
        self.job = ETLJobConfig(
            job_id="silver_patients", source_name=DATASET,
            target_zone=DataZone.SILVER, load_type=LoadType.MERGE,
            required_fields=["patient_id"],
        )
        self.drains = 0
        self.read_reports: list[dict] = []
        self.job_results: list = []
        base = self.inputs.base()
        self.cycles = [self.inputs.cycle(i) for i in range(cycles)]
        self.store.write(self.zone, DATASET, spark.read.parquet(base),
                         LoadType.FULL)

    def run(self, op: Op) -> bool:
        """Execute one op; True when its result matches the model."""
        from pyspark.sql import functions as F

        spark, store, z = self.spark, self.store, self.zone
        pred = f"k BETWEEN {op.lo} AND {op.hi}"
        if op.kind in ("append", "incremental"):
            load = self.load.APPEND if op.kind == "append" else self.load.INCREMENTAL
            got = {"rows": store.write(z, DATASET, spark.read.parquet(op.path), load)}
        elif op.kind == "merge":
            res = store.merge_into(z, DATASET, spark.read.parquet(op.path),
                                   matched_update={"units": "units + src_units"})
            got = {"updated": res["updated"], "inserted": res["inserted"]}
        elif op.kind == "update":
            got = {"rows": store.update_set(z, DATASET, pred, {"units": "units + 1"})}
        elif op.kind == "delete":
            got = {"rows": store.delete_where_dv(z, DATASET, pred)}
        elif op.kind == "run_job":
            res = self.manager.run_job(self.job, spark.read.parquet(op.path))
            self.job_results.append(res)
            got = {"read": res.records_read,
                   "quarantined": res.records_quarantined}
            if res.status.value != "completed":
                return False
        elif op.kind == "range":
            df, report = store.read_pruned(z, DATASET, "k", op.lo, op.hi)
            self.read_reports.append(report)
            got = {"rows": df.count()}
        elif op.kind == "forget":
            from healthcare_data_lakehouse_spark.streaming.ingest import (
                stream_forget_to_zone,
            )

            self.drains += 1
            stream_forget_to_zone(spark, op.path,
                                  str(self.work / f"stream{self.drains}"),
                                  store, z, DATASET, key_col="id")
            got = {}
        elif op.kind == "scan":
            got = {"rows": store.read(z, DATASET).count()}
        elif op.kind == "point":
            got = {"rows": store.read(z, DATASET)
                   .filter(F.col("id") == str(op.lo)).count()}
        elif op.kind == "compact":
            got = {}
            store.compact(z, DATASET)
        elif op.kind == "vacuum":
            got = {}
            store.vacuum(z, DATASET, retain_last=2)
        else:
            raise ValueError(op.kind)
        return got == op.expect

    def live_state(self) -> tuple[int, int]:
        rows = self.store.read(self.zone, DATASET).select(*COLS).collect()
        return checksum(rows)

    def manifest(self) -> dict:
        return self.store._read_manifest(
            self.store.dataset_path(self.zone, DATASET))

    def fresh_full_bytes(self) -> int:
        """Bytes of one FULL write of the live table into an empty store."""
        from healthcare_data_lakehouse_spark.zones import ZoneStore

        root = self.work / "fresh"
        ZoneStore(self.spark, str(root)).write(
            self.zone, DATASET, self.store.read(self.zone, DATASET),
            self.load.FULL)
        return tree_bytes(root)


def tree_bytes(root) -> int:
    total = 0
    for dirpath, _, files in os.walk(root):
        for f in files:
            total += os.path.getsize(os.path.join(dirpath, f))
    return total


class FsWatch:
    """Files and bytes written under a directory, by (path, inode)."""

    def __init__(self, root: str):
        self.root = root
        self.seen = self._scan()
        self.files = self.bytes = 0

    def _scan(self) -> dict:
        out = {}
        for dirpath, _, files in os.walk(self.root):
            for f in files:
                p = os.path.join(dirpath, f)
                try:
                    st = os.stat(p)
                except FileNotFoundError:
                    continue
                out[(p, st.st_ino)] = (st.st_size, f.endswith(".parquet"))
        return out

    def step(self) -> tuple[int, int]:
        """Parquet files and bytes written since the previous step."""
        now = self._scan()
        new = [v for k, v in now.items() if k not in self.seen]
        self.seen = now
        files = sum(1 for _, is_data in new if is_data)
        size = sum(s for s, _ in new)
        self.files += files
        self.bytes += size
        return files, size
