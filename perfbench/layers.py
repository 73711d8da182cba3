"""Spans around the benchmark's calls into each layer, and the Spark
counters read for them.

Spans are kept in memory and written once when the run ends.  Job and
stage counts come from the DAG scheduler's id counters, so jobs that a
call starts on other threads (the streaming replay's micro-batches)
count too.  Task metrics come from the application status store, which
Spark keeps even with the UI off.
"""

from __future__ import annotations

import gc
import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

from pyspark.sql import DataFrame, SparkSession


@dataclass
class Span:
    id: int
    parent: int | None
    name: str
    start: float
    end: float = 0.0
    jobs: int = 0
    attrs: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class SparkCounters:
    """Read-only view of one SparkContext's scheduler and status store."""

    def __init__(self, spark: SparkSession):
        self.sc = spark.sparkContext
        self.jsc = self.sc._jsc.sc()
        self.jvm = self.sc._jvm

    def next_job_id(self) -> int:
        return self.jsc.dagScheduler().nextJobId()

    def next_stage_id(self) -> int:
        return self.jsc.dagScheduler().nextStageId()

    def settle(self) -> None:
        """Wait until every scheduler event has reached the status store."""
        self.jsc.listenerBus().waitUntilEmpty()

    def storage_used(self) -> int:
        """Bytes of block-manager storage memory in use, all executors."""
        conv = self.jvm.scala.jdk.javaapi.CollectionConverters
        status = conv.asJava(self.jsc.getExecutorMemoryStatus())
        return sum(v._1() - v._2() for v in (status.get(k) for k in status.keySet()))

    def release_blocks(self) -> None:
        """Drop cached tables and every persisted RDD, which includes the
        blocks of localCheckpoint, then let both collectors run so the
        context cleaner frees broadcasts and shuffle files."""
        spark = SparkSession.getActiveSession()
        if spark is not None:
            spark.catalog.clearCache()
        for rdd in list(self.sc._jsc.getPersistentRDDs().values()):
            rdd.unpersist(True)
        gc.collect()
        self.jvm.System.gc()

    def stages(self, lo: int, hi: int) -> list[dict]:
        """Task metrics of the stages with ids in ``[lo, hi)`` that ran."""
        store = self.jsc.statusStore()
        no_list = self.jvm.java.util.ArrayList()
        no_q = self.sc._gateway.new_array(self.jvm.double, 0)
        q = self.sc._gateway.new_array(self.jvm.double, 2)
        q[0], q[1] = 0.5, 1.0
        out = []
        for sid in range(lo, hi):
            attempts = store.stageData(sid, False, no_list, False, no_q)
            for i in range(attempts.size()):
                s = attempts.apply(i)
                if s.status().toString() != "COMPLETE":
                    continue
                t0, t1 = s.submissionTime(), s.completionTime()
                dur = (t1.get().getTime() - t0.get().getTime()) / 1e3 if t0.isDefined() and t1.isDefined() else 0.0
                summ = store.taskSummary(sid, s.attemptId(), q)
                if summ.isDefined():
                    rt = summ.get().executorRunTime()
                    skew = rt.apply(1) / rt.apply(0) if rt.apply(0) > 0 else 1.0
                else:
                    skew = 1.0
                out.append({
                    "stage": sid,
                    "seconds": dur,
                    "tasks": s.numCompleteTasks(),
                    "run_s": s.executorRunTime() / 1e3,
                    "cpu_s": s.executorCpuTime() / 1e9,
                    "gc_s": s.jvmGcTime() / 1e3,
                    "input_b": s.inputBytes(),
                    "shuffle_read_b": s.shuffleReadBytes(),
                    "shuffle_write_b": s.shuffleWriteBytes(),
                    "spill_b": s.diskBytesSpilled(),
                    "skew": skew,
                })
        return out


class Tracer:
    """Nested spans with a job count each.  Disabled, ``span`` costs one
    generator step and records nothing."""

    def __init__(self, counters: SparkCounters, enabled: bool):
        self.counters = counters
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), parent, name, time.perf_counter(), attrs=attrs)
        self.spans.append(s)
        self._stack.append(s.id)
        j0 = self.counters.next_job_id()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            s.jobs = self.counters.next_job_id() - j0
            self._stack.pop()

    def wrap(self, name: str, fn):
        """``fn`` with every call recorded as a span ``name``."""

        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        traced.__wrapped__ = fn
        return traced

    def write(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({**extra, "spans": [asdict(s) for s in self.spans]}, f)


def plan_seconds(df: DataFrame) -> float:
    """Catalyst analysis + optimization + planning time of ``df``'s
    query execution, from its phase tracker (forces planning)."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    total = 0
    for k in ("analysis", "optimization", "planning"):
        opt = phases.get(k)
        if opt.isDefined():
            p = opt.get()
            total += p.endTimeMs() - p.startTimeMs()
    return total / 1e3


@contextmanager
def patched(module, attr: str, replacement):
    """Temporarily replace ``module.attr``."""
    orig = getattr(module, attr)
    setattr(module, attr, replacement)
    try:
        yield
    finally:
        setattr(module, attr, orig)
