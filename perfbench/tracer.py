"""Spans and per-op Spark counters for the traced benchmark run.

Everything here wraps calls made *into* the package from the benchmark:
nothing inside the package is edited. A span records (name, start, end,
parent, op id) in memory; ``self_times`` subtracts child spans from their
parent. Spark numbers come from the driver's status store, which is
populated with the UI disabled: job ids are read from the DAG scheduler's
job counter at op boundaries, stage metrics from ``lastStageAttempt``.
Time spent in this module is accumulated so the run can report its own
overhead.
"""

from __future__ import annotations

import functools
import statistics
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    op: int | None = None
    py4j: int = 0   # round-trips made inside the span
    jobs: int = 0   # Spark jobs started inside the span (JOB_SPANS only)


#: spans that also count the Spark jobs started inside them
JOB_SPANS = {"queries.construct", "quality.validate"}


@dataclass
class OpSpark:
    """Spark work done by the jobs one op started."""

    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    run_s: float = 0.0
    shuffle_read: int = 0
    shuffle_write: int = 0
    spill: int = 0
    skew: float = 1.0
    plans_held: int = 0
    persistent_rdds: int = 0


@dataclass
class Tracer:
    spans: list[Span] = field(default_factory=list)
    py4j_calls: int = 0
    overhead_s: float = 0.0
    op: int | None = None
    spark: object = None
    _local: threading.local = field(default_factory=threading.local)
    _wrap_cost_s: float = 0.0

    # ------------------------------------------------------------ spans
    @contextmanager
    def span(self, name: str):
        t0 = time.perf_counter()
        stack = self._stack()
        s = Span(name, 0.0, parent=stack[-1] if stack else None, op=self.op)
        stack.append(len(self.spans))
        self.spans.append(s)
        counts_jobs = name in JOB_SPANS and self.spark is not None
        if counts_jobs:
            s.jobs = -next_job(self.spark)
        s.py4j = -self.py4j_calls
        s.start = time.perf_counter()
        try:
            yield s
        finally:
            t2 = s.end = time.perf_counter()
            s.py4j += self.py4j_calls
            if counts_jobs:
                s.jobs += next_job(self.spark)
            stack.pop()
            self.overhead_s += (s.start - t0) + (time.perf_counter() - t2)

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` by a spanned call of the original."""
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def spanned(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        setattr(owner, attr, spanned)

    def count_py4j(self) -> None:
        """Count every py4j round-trip from this process."""
        from py4j.clientserver import ClientServerConnection

        def counting(send):
            def counted(*args, **kwargs):
                self.py4j_calls += 1
                return send(*args, **kwargs)

            return counted

        # calibrate the wrapper's own cost for the overhead figure
        def noop(*_):
            return None

        n, wrapped = 20000, counting(noop)
        t0 = time.perf_counter()
        for _ in range(n):
            noop(None)
        t1 = time.perf_counter()
        for _ in range(n):
            wrapped(None)
        t2 = time.perf_counter()
        self._wrap_cost_s = max(0.0, ((t2 - t1) - (t1 - t0)) / n)
        self.py4j_calls = 0
        ClientServerConnection.send_command = counting(
            ClientServerConnection.send_command
        )

    def total_overhead_s(self) -> float:
        return self.overhead_s + self.py4j_calls * self._wrap_cost_s

    # ------------------------------------------------------- aggregation
    def self_times(self, in_ops: bool = False) -> dict[str, float]:
        """Total self time per span name: duration minus child spans."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] += s.end - s.start
        out: dict[str, float] = {}
        for s, c in zip(self.spans, child):
            if s.op is not None or not in_ops:
                out[s.name] = out.get(s.name, 0.0) + (s.end - s.start) - c
        return out

    def named(self, name: str, in_ops: bool = False) -> list[Span]:
        return [s for s in self.spans
                if s.name == name and (s.op is not None or not in_ops)]

    def durations(self, name: str, in_ops: bool = False) -> list[float]:
        return [s.end - s.start for s in self.named(name, in_ops)]

    def write(self, path) -> None:
        import json

        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s.__dict__) + "\n")

    # ------------------------------------------------------------ spark
    def op_spark(self, spark, first_job: int) -> OpSpark:
        """Spark counters for jobs ``first_job ..`` (the current op's)."""
        t0 = time.perf_counter()
        sc = spark.sparkContext
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty(5000)
        last = jsc.dagScheduler().nextJobId()
        store, tracker = jsc.statusStore(), sc.statusTracker()
        out = OpSpark(jobs=last - first_job)
        seen: set[int] = set()
        for job in range(first_job, last):
            info = tracker.getJobInfo(job)
            for sid in info.stageIds if info else ():
                if sid in seen:
                    continue
                seen.add(sid)
                try:
                    st = store.lastStageAttempt(sid)
                except Exception:  # noqa: BLE001 - stage pruned from store
                    continue
                if st.status().toString() == "SKIPPED":
                    continue
                out.stages += 1
                out.tasks += st.numTasks()
                out.run_s += st.executorRunTime() / 1000
                out.shuffle_read += st.shuffleReadBytes()
                out.shuffle_write += st.shuffleWriteBytes()
                out.spill += st.memoryBytesSpilled() + st.diskBytesSpilled()
                if st.numTasks() > 1:
                    out.skew = max(out.skew, _skew(sc, store, sid, st))
        out.plans_held = (
            spark._jsparkSession.sharedState().cacheManager().cachedData().size()
        )
        out.persistent_rdds = sc._jsc.getPersistentRDDs().size()
        self.overhead_s += time.perf_counter() - t0
        return out


def next_job(spark) -> int:
    return spark.sparkContext._jsc.sc().dagScheduler().nextJobId()


def _skew(sc, store, sid: int, st) -> float:
    """Slowest task's run time over the median task's, for one stage."""
    q = sc._gateway.new_array(sc._gateway.jvm.double, 2)
    q[0], q[1] = 0.5, 1.0
    summary = store.taskSummary(sid, st.attemptId(), q)
    if not summary.isDefined():
        return 1.0
    run = summary.get().executorRunTime()
    med, top = run.apply(0), run.apply(1)
    return top / med if med > 0 else 1.0


def mean(values) -> float:
    values = list(values)
    return statistics.fmean(values) if values else 0.0
