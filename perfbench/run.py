"""Per-PR benchmark of the lakehouse engine.

    python3 perfbench/run.py --workload short_reads --seed 1 --seconds 25 --trace 0

One closed-loop client in one Python process drives ``local[<cores>]``
at sf0.1 on tables the benchmark generates itself (``datagen.py``). The
run sets the session up ``SETUPS`` times (the first one launches the JVM)
and reports the median as ``setup_s``, then runs a fixed number of whole
rounds of the workload's ops and checks every result. ``--seconds`` sizes
the work: it is divided by the workload's ``ROUND_S``, the length of one
round at the commit that defined the benchmark on a 4-core host, so a run
there measures about ``--seconds`` and a faster or slower program times
the same ops. The host is shared and its speed drifts, so the gated
times are scaled to a reference host speed by a probe timed before and
after each op and each set-up (``PROBE_INTS``). ``--trace 0`` reports the
end-to-end metrics; ``--trace 1`` wraps the calls the benchmark makes into
the package with spans and reports per-layer metrics instead. The last
line of standard output is one JSON object; the line before it holds
details that are not gated (failed fraction, the op tail with its
percentile and sample count, the unscaled wall-clock figures, the zone
write metrics).
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback
from contextlib import nullcontext
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
PKG = "healthcare_data_lakehouse_spark"
WORKLOADS = ("short_reads", "zone_ingest")
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
UNITS = {m["name"]: m["unit"] for m in SPEC["end_to_end"] + SPEC["per_layer"]}
SETUPS = 3
#: a run that is still going after this many times ``--seconds`` starts
#: no further round, so a much slower program still ends in time
ROUND_CAP = 3
#: Queries ``short_reads`` runs once before its timed phase: they exercise
#: scans, joins, aggregates, windows and sorts, so the timed phase does not
#: start on a cold JIT. ``zone_ingest`` reads none of the catalog tables,
#: so they would not warm its paths.
WARMUP = [
    "tpch_q1_pricing_summary", "tpch_q13_customer_order_distribution",
    "window_top3_orders_per_customer", "events_dau_wau",
]
TAIL_BEYOND = 10  # samples beyond the reported tail percentile
#: The host is shared: its speed drifts by up to 2x within minutes. A speed
#: probe sorts this many ints in the driver JVM (about 18 ms on an idle
#: 4-core host) before and after every op and every set-up, and the gated
#: times are scaled by ``REF_PROBE_S`` over the mean of the two readings.
PROBE_INTS = 150_000
PROBE_WARMUP = 30  # probes run after the first set-up, so the JIT compiles sort
#: the probe's median on the 4-core host that defined the benchmark, idle
REF_PROBE_S = 0.018


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=0.1,
                    help="scale factor (smaller ones are for smoke tests)")
    ap.add_argument("--fail-op", default=None,
                    help="make every op of this name raise (tests only)")
    args = ap.parse_args(argv)

    if not (ROOT / PKG / "__init__.py").is_file() or not (
        ROOT / "tools" / "compare.py"
    ).is_file():
        print(f"perfbench: {PKG} or tools/compare.py missing under {ROOT}",
              file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    import datagen

    work = ROOT / ".perfbench"
    run_dir = work / f"run-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    (run_dir / "tmp").mkdir(parents=True)
    os.environ["TMPDIR"] = str(run_dir / "tmp")
    tempfile.tempdir = None
    # every JVM the run starts (the launcher's too) keeps its temporary
    # files in the checkout and writes no performance-counter file to /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={run_dir / 'tmp'}")
    cpus = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    try:
        sf_dir = datagen.ensure(work / "data", args.sf)
        result = Bench(args, sf_dir, run_dir, cpus).run()
    finally:
        stop_jvm()
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result))
    return 0


def stop_jvm() -> None:
    """Stop the session and the driver JVM, and wait for the JVM to exit."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    if spark is not None:
        for q in spark.streams.active:
            q.stop()
        spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)


class Bench:
    def __init__(self, args, sf_dir: str, run_dir: Path, cpus: int):
        self.args, self.sf_dir, self.run_dir, self.cpus = (
            args, sf_dir, run_dir, cpus)
        self.tracer = None
        if args.trace:
            from tracer import Tracer

            self.tracer = Tracer()
            self.tracer.count_py4j()
        self.conf = {
            "spark.driver.memory": "2g",
            "spark.local.dir": str(run_dir / "spark-local"),
            "spark.sql.warehouse.dir": str(run_dir / "warehouse"),
            # a fixed young generation keeps the heap's resident high-water
            # mark a function of what the run retains, not of GC timing; a
            # large initial metaspace keeps the classes that code generation
            # loads from forcing full collections in the timed phase
            "spark.driver.extraJavaOptions":
                "-XX:+UseParallelGC -Xms2g -Xmn512m -XX:MetaspaceSize=512m",
        }

    def span(self, name: str):
        return self.tracer.span(name) if self.tracer else nullcontext()

    # ------------------------------------------------------------ set-up
    def setup_once(self, first: bool) -> float:
        """Session start, catalog import and warm-up; returns seconds."""
        t0 = time.perf_counter()
        if not first:
            for name in [m for m in sys.modules
                         if m == PKG or m.startswith(PKG + ".")]:
                del sys.modules[name]
        with self.span("session.start"):
            from healthcare_data_lakehouse_spark.session import get_spark

            self.spark = get_spark("perfbench", extra_conf=self.conf)
        with self.span("session.catalog_import"):
            from healthcare_data_lakehouse_spark import tables

            if self.tracer:
                # query modules bind ``table`` at import time
                self.tracer.wrap(tables, "table", "tables.table")
            from healthcare_data_lakehouse_spark.queries.catalog import (
                load_all,
            )

            self.specs = load_all()
        with self.span("session.warmup"):
            for t in tables.TABLE_NAMES:
                tables.table(self.spark, self.sf_dir, t).count()
        return time.perf_counter() - t0

    # --------------------------------------------------------------- run
    def run(self) -> dict:
        args = self.args
        samples = [self.setup_once(first=True)]
        for _ in range(PROBE_WARMUP):
            self.probe()
        # a set-up is one sample against one pair of probe readings, so
        # each reading is the median of several probes; the first set-up
        # launched the JVM and takes the readings made right after it
        probes = [(self.probe_median(),) * 2]
        for _ in range(1, SETUPS):
            before = self.probe_median()
            self.spark.stop()
            samples.append(self.setup_once(first=False))
            probes.append((before, self.probe_median()))
        t0 = time.perf_counter()
        if self.tracer:
            self.tracer.spark = self.spark
        workload = (ShortReads if args.workload == "short_reads"
                    else ZoneOps)(self)
        prep_s = time.perf_counter() - t0
        stats = self.loop(workload)
        out = workload.finish(stats)
        if self.tracer:
            self.tracer.write(self.run_dir.parent / (
                f"spans-{args.workload}-{args.seed}.jsonl"))
        stats.update(setup_s=statistics.median(normalise(samples, probes)),
                     setup_samples=samples, setup_probes=probes,
                     prep_s=prep_s,
                     peak_rss_mb=peak_rss_mb(self.spark))
        return self.result(stats, out)

    def loop(self, workload) -> dict:
        """Closed loop over the run's rounds of ops."""
        st = {"times": [], "probes": [], "kinds": [], "names": [],
              "failed": 0, "errors": {}, "spark": [], "untimed_s": 0.0,
              "rounds": 0}
        steal0, start = host_steal(), time.perf_counter()
        for ops in workload.rounds:
            if (time.perf_counter() - start - st["untimed_s"]
                    > ROUND_CAP * self.args.seconds):
                break
            st["rounds"] += 1
            for op in ops:
                self.run_op(workload, op, st)
        st["wall_s"] = time.perf_counter() - start - st["untimed_s"]
        st["steal_frac"] = host_steal(steal0)
        return st

    def run_op(self, workload, op, st: dict) -> None:
        """Time one op between two speed probes, then let the workload
        check it; the probes and the check are untimed."""
        from tracer import OpSpark, next_job

        spark, tracer = self.spark, self.tracer
        u0 = time.perf_counter()
        spark.catalog.clearCache()
        before = self.probe()
        st["untimed_s"] += time.perf_counter() - u0
        first_job = next_job(spark) if tracer else 0
        if tracer:
            tracer.op = len(st["times"])
        t0 = time.perf_counter()
        try:
            if op.name == self.args.fail_op:
                raise RuntimeError(f"injected failure in {op.name}")
            with self.span(f"op.{op.kind}"):
                ok = op.run()
        except Exception as exc:  # noqa: BLE001 - a failed op is counted
            ok = False
            key = type(exc).__name__
            st["errors"][key] = st["errors"].get(key, 0) + 1
            print(f"perfbench: {op.name} failed: "
                  f"{traceback.format_exception_only(exc)[-1].strip()}",
                  file=sys.stderr)
        st["times"].append(time.perf_counter() - t0)
        st["kinds"].append(op.kind)
        st["names"].append(op.name)
        if tracer:
            tracer.op = None
            st["spark"].append(tracer.op_spark(spark, first_job))
        else:
            st["spark"].append(OpSpark())
        u0 = time.perf_counter()
        st["probes"].append((before, self.probe()))
        ok = workload.after(op, ok) and ok
        st["untimed_s"] += time.perf_counter() - u0
        st["failed"] += not ok

    def probe(self) -> float:
        """Seconds the driver JVM takes to sort a fixed array of ints: how
        fast the host runs the JVM at this moment."""
        jvm = self.spark._jvm
        ints = jvm.java.util.Random(42).ints(PROBE_INTS).toArray()
        t0 = time.perf_counter()
        jvm.java.util.Arrays.sort(ints)
        return time.perf_counter() - t0

    def probe_median(self, k: int = 5) -> float:
        return statistics.median(self.probe() for _ in range(k))

    # ------------------------------------------------------------ output
    def result(self, st: dict, out: dict) -> dict:
        times = st["times"]
        n = len(times)
        norm = normalise(times, st["probes"])
        tail_idx = max(0, n - 1 - TAIL_BEYOND)
        detail = {
            "workload": self.args.workload, "seed": self.args.seed,
            "cores": self.cpus, "rounds": st["rounds"], "ops": n,
            "failed_frac": (st["failed"] + out["failed"]) / (n + out["checks"]),
            "errors": st["errors"],
            "op_tail_s": sorted(norm)[tail_idx],
            "op_tail_percentile": round(100 * (tail_idx + 1) / n, 1),
            "op_tail_samples_beyond": n - 1 - tail_idx,
            "setup_samples_s": st["setup_samples"],
            "setup_probes_s": st["setup_probes"],
            "prep_s": st["prep_s"],
            "timed_s": st["wall_s"],
            "wall_ops_per_s": n / st["wall_s"],
            "wall_op_p50_s": statistics.median(times),
            "probe_p50_s": statistics.median(
                x for pair in st["probes"] for x in pair),
            "steal_frac": st["steal_frac"],
            **out["detail"],
            "op_seconds": [[name, round(t, 3), round(b, 4), round(a, 4)]
                           for name, t, (b, a)
                           in zip(st["names"], times, st["probes"])],
        }
        print(json.dumps({"detail": detail}))
        if self.args.trace:
            metrics = out["layers"]
        else:
            metrics = {
                "setup_s": st["setup_s"],
                "ops_per_s": n / sum(norm),
                "op_p50_s": hd_median(norm),
                "peak_rss_mb": st["peak_rss_mb"],
            }
        return {
            "correct": st["failed"] + out["failed"] == 0,
            "attempted": n + out["checks"],
            "failed": st["failed"] + out["failed"],
            "metrics": {k: {"value": v, "unit": UNITS[k]}
                        for k, v in metrics.items()},
        }


def host_steal(since=None):
    """System-wide CPU ticks ``(stolen, total)`` from ``/proc/stat``; with
    ``since``, the share of ticks stolen by the hypervisor since then."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    now = (ticks[7], sum(ticks))
    if since is None:
        return now
    return (now[0] - since[0]) / max(1, now[1] - since[1])


def normalise(times: list[float], probes: list[tuple[float, float]]):
    """Each time as it would read on a host whose probe reads
    ``REF_PROBE_S``, from the probes just before and just after it."""
    return [t * REF_PROBE_S / ((b + a) / 2) for t, (b, a) in zip(times, probes)]


def hd_median(values: list[float]) -> float:
    """Harrell-Davis estimate of the median: the mean of all order
    statistics weighted by the Beta((n+1)/2, (n+1)/2) mass of their slice
    of [0, 1]. With a dozen ops the plain median is the mean of the two
    middle ops, which jumps when they trade places; this one moves
    smoothly."""
    x = sorted(values)
    n, a, steps = len(x), (len(x) + 1) / 2, 64
    log_norm = math.lgamma(2 * a) - 2 * math.lgamma(a)
    weights = [
        sum(math.exp(log_norm + (a - 1) * math.log(u * (1 - u)))
            for u in ((i + (k + 0.5) / steps) / n for k in range(steps)))
        for i in range(n)
    ]
    return sum(w * v for w, v in zip(weights, x)) / sum(weights)


class Op:
    """One timed call into the package."""

    def __init__(self, name: str, kind: str, run, payload=None):
        self.name, self.kind, self.run, self.payload = name, kind, run, payload


def peak_rss_mb(spark) -> float:
    """High-water resident set of the driver JVM."""
    pid = spark.sparkContext._gateway.proc.pid
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("VmHWM missing from /proc status")


def spark_layers(bench: Bench, st: dict) -> dict:
    """Per-op Spark and cache metrics shared by both workloads."""
    from tracer import mean

    ops = st["spark"]
    busy = sum(o.run_s for o in ops) / (sum(st["times"]) * bench.cpus)
    return {
        "spark.jobs": mean(o.jobs for o in ops),
        "spark.stages": mean(o.stages for o in ops),
        "spark.tasks": mean(o.tasks for o in ops),
        "spark.core_busy_frac": busy,
        "spark.shuffle_read_bytes": mean(o.shuffle_read for o in ops),
        "spark.shuffle_write_bytes": mean(o.shuffle_write for o in ops),
        "spark.spill_bytes": mean(o.spill for o in ops),
        "spark.task_skew": statistics.median(o.skew for o in ops),
        "cache.plans_held": max(o.plans_held for o in ops),
        "cache.persistent_rdds": max(o.persistent_rdds for o in ops),
        "trace.overhead_frac": bench.tracer.total_overhead_s() / st["wall_s"],
    }


def session_layers(tracer) -> dict:
    """Median over the set-ups of each set-up phase."""
    return {
        f"{name}_s": statistics.median(tracer.durations(name))
        for name in ("session.start", "session.catalog_import",
                     "session.warmup")
    }


def complete(layers: dict) -> dict:
    """Every per-layer metric of ``BENCHMARK.json``, zero where the
    workload does not run the layer."""
    names = [m["name"] for m in SPEC["per_layer"]]
    unknown = set(layers) - set(names)
    if unknown:
        raise KeyError(f"not in BENCHMARK.json per_layer: {sorted(unknown)}")
    return {name: layers.get(name, 0.0) for name in names}


def n_rounds(seconds: float, round_s: float) -> int:
    return max(1, round(seconds / round_s))


# ------------------------------------------------------------- workloads
class ShortReads:
    #: one round (one pick per cost stratum) at the defining commit, 4 cores
    ROUND_S = 14.0

    def __init__(self, bench: Bench):
        import short_reads

        self.bench, self.mod = bench, short_reads
        for name in WARMUP:
            bench.specs[name].fn(bench.spark, bench.sf_dir).count()
        expected = json.loads((HERE / "expected.json").read_text())
        self.expected = expected[f"sf{bench.args.sf}"]
        self.oracle = None
        if bench.tracer:
            from healthcare_data_lakehouse_spark.tables import TABLE_NAMES

            self.oracle = short_reads.Oracle(bench.sf_dir, TABLE_NAMES)
        self.plans: list[int] = []
        cost = {n: self.expected[n]["cost_s"] for n in short_reads.POOL}
        self.rounds = [
            [Op(name, "read", lambda name=name: self.read(name))
             for name in names]
            for names in short_reads.rounds(
                bench.args.seed, cost,
                n_rounds(bench.args.seconds, self.ROUND_S))
        ]

    def read(self, name: str) -> bool:
        b = self.bench
        _, rows, self.df, plan = self.mod.run_op(
            b.spark, b.specs[name].fn, b.sf_dir, b.span)
        if b.tracer:
            t0 = time.perf_counter()
            self.plans.append(str(plan.toString()).count("Exchange"))
            b.tracer.overhead_s += time.perf_counter() - t0
        return rows == self.expected[name]["rows"]

    def after(self, op: Op, ok: bool) -> bool:
        """Traced runs also compare values with the DuckDB twin."""
        spec = self.bench.specs[op.name]
        if not (ok and self.oracle and spec.oracle):
            return True
        try:
            return self.oracle.matches(spec.oracle, self.df)
        except Exception:  # noqa: BLE001 - a broken check is a failure
            traceback.print_exc()
            return False

    def finish(self, st: dict) -> dict:
        out = {"failed": 0, "checks": 0, "detail": {}}
        tr = self.bench.tracer
        if not tr:
            return out
        from tracer import mean

        ops = len(st["times"])
        selfs = tr.self_times(in_ops=True)
        construct = tr.durations("queries.construct", in_ops=True)
        layers = session_layers(tr) | spark_layers(self.bench, st) | {
            "tables.calls": len(tr.durations("tables.table", in_ops=True)) / ops,
            "tables.self_s": selfs.get("tables.table", 0.0) / ops,
            "queries.construct_s": mean(construct),
            "queries.construct_share": sum(construct) / sum(st["times"]),
            "queries.py4j_calls": mean(
                s.py4j for s in tr.named("queries.construct")),
            "queries.eager_jobs": mean(
                s.jobs for s in tr.named("queries.construct")),
            "spark.plan_s": mean(tr.durations("spark.plan")),
            "spark.plan_exchanges": mean(self.plans),
            "spark.execute_s": mean(tr.durations("spark.execute")),
        }
        out["layers"] = complete(layers)
        return out


class ZoneOps:
    #: one cycle of ``zone_ingest.Inputs.cycle`` at the defining commit,
    #: 4 cores, as the first cycle of a run (the second runs in about 14 s)
    ROUND_S = 21.0

    def __init__(self, bench: Bench):
        import zone_ingest

        self.bench, self.mod = bench, zone_ingest
        self.z = zone_ingest.ZoneIngest(
            bench.spark, bench.run_dir, bench.args.seed,
            n_rounds(bench.args.seconds, self.ROUND_S))
        self.rounds = [[Op(op.kind, op.kind, lambda op=op: self.z.run(op), op)
                        for op in cycle] for cycle in self.z.cycles]
        self.fs = zone_ingest.FsWatch(self.z.root)
        self.version0 = self.z.manifest()["version"]
        self.last = None
        self.ingest_rows = self.ingest_bytes = 0
        self.live = []  # (commits, files, vectors) seen by each read op
        tr = bench.tracer
        if tr:
            from healthcare_data_lakehouse_spark.lineage import LineageTracker
            from healthcare_data_lakehouse_spark.quality import (
                DataQualityValidator,
            )
            from healthcare_data_lakehouse_spark.zones_dv import DVZoneStore

            tr.wrap(DataQualityValidator, "validate", "quality.validate")
            tr.wrap(LineageTracker, "register_asset", "lineage.record")
            tr.wrap(LineageTracker, "record_transformation", "lineage.record")
            tr.wrap(DVZoneStore, "delete_keys_dv", "streaming.trigger")

    def after(self, op: Op, ok: bool) -> bool:
        self.last = op.payload
        self.fs.step()
        zop = op.payload
        self.ingest_rows += zop.ingest_rows
        self.ingest_bytes += zop.ingest_bytes
        if op.kind not in self.mod.COMMIT_KINDS:
            m = self.z.manifest()
            path = self.z.store.dataset_path(self.z.zone, self.mod.DATASET)
            files = sum(1 for c in m["commits"]
                        for f in os.listdir(os.path.join(path, c))
                        if f.endswith(".parquet"))
            self.live.append((len(m["commits"]), files, len(m.get("dvs", []))))
        return True

    def finish(self, st: dict) -> dict:
        from tracer import mean

        z, mod = self.z, self.mod
        timed = st["wall_s"]
        failed = 0
        if self.last is not None and z.live_state() != self.last.state:
            print("perfbench: live table differs from the model",
                  file=sys.stderr)
            failed = 1
        stored = mod.tree_bytes(z.root)
        kinds = st["kinds"]

        def p50(sel) -> float:
            vals = [t for t, k in zip(st["times"], kinds) if sel(k)]
            return statistics.median(vals) if vals else 0.0

        zone = {
            "zones.commit_p50_s": p50(lambda k: k in mod.COMMIT_KINDS),
            "zones.read_p50_s": p50(lambda k: k not in mod.COMMIT_KINDS),
            "zones.rows_committed_per_s": self.ingest_rows / timed,
            "zones.write_amp": self.fs.bytes / max(1, self.ingest_bytes),
            "zones.space_amp": stored / z.fresh_full_bytes(),
        }
        out = {"failed": failed, "checks": 1, "detail": zone}
        tr = self.bench.tracer
        if tr:
            ops = len(st["times"])

            def kind_mean(*names):
                return mean(t for t, k in zip(st["times"], kinds)
                            if k in names)

            jobs = z.job_results
            batches = tr.durations("streaming.trigger")
            reports = z.read_reports
            layers = session_layers(tr) | spark_layers(self.bench, st) | zone
            layers |= {
                "zones.write_s": kind_mean("append", "incremental"),
                "zones.merge_s": kind_mean("merge"),
                "zones.update_s": kind_mean("update"),
                "zones.compact_s": kind_mean("compact"),
                "zones.vacuum_s": kind_mean("vacuum"),
                "zones.commits": (z.manifest()["version"] - self.version0) / ops,
                "zones.files_written": self.fs.files / ops,
                "zones.bytes_written": self.fs.bytes / ops,
                "zones.occ_conflicts": st["errors"].get(
                    "ConcurrentModificationError", 0),
                "zones.read_s": kind_mean("scan", "point", "range"),
                "zones.live_commits": mean(c for c, _, _ in self.live),
                "zones.live_files": mean(f for _, f, _ in self.live),
                "zones.pruned_commit_frac": (
                    sum(r["commits_skipped"] for r in reports)
                    / max(1, sum(r["commits_total"] for r in reports))),
                "zones_dv.delete_s": kind_mean("delete"),
                "zones_dv.live_vectors": mean(v for _, _, v in self.live),
                "etl.run_job_s": kind_mean("run_job"),
                "etl.quarantine_frac": (
                    sum(j.records_quarantined for j in jobs)
                    / max(1, sum(j.records_read for j in jobs))),
                "quality.validate_s": mean(tr.durations("quality.validate")),
                "quality.jobs": mean(
                    s.jobs for s in tr.named("quality.validate")),
                "lineage.record_s": (sum(tr.durations("lineage.record"))
                                     / max(1, len(jobs))),
                "streaming.batches": len(batches) / max(1, z.drains),
                "streaming.trigger_s": mean(batches),
                "streaming.drain_s": kind_mean("forget"),
            }
            out["layers"] = complete(layers)
        return out


if __name__ == "__main__":
    sys.exit(main())
