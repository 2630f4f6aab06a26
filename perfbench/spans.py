"""Spans recorded from the benchmark's side of each layer boundary.

One root span per op; one child span per call into an engine layer
(route, compile, gate, execute/collect, each store call, extract,
embed).  A span records its name, start, end, parent and op id.  Spans
stay in memory and are summarised at run end.

Before each child span the tracer tags the Spark job group, so the
jobs that call launches are found again with
``statusTracker().getJobIdsForGroup``; jobs launched from helper
threads carry no group (local properties are not inherited by plain
Python threads), so the jobs that appear ungrouped while a child span is
open are attributed to it too.  Stage metrics come from the status store
(``statusStore().job(j).stageIds()`` → ``lastStageAttempt(s)``), which
works with the UI off.  Catalyst phase timings come from the
``QueryExecution`` tracker of a DataFrame the span hands back.

With tracing off, :class:`Tracer` hands out a no-op context and records
nothing.
"""

from __future__ import annotations

import contextlib
import itertools
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    sid: int
    name: str
    op: int
    parent: int | None
    start: float
    end: float = 0.0
    # per-span counters: Spark job/stage metrics, Catalyst phases, and
    # anything a workload attaches (rows, bytes, ...)
    metrics: dict = field(default_factory=dict)

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1000.0


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    clipped = sorted(
        (max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi
    )
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_ms(span: Span, children: list[Span]) -> float:
    """Span duration minus the part of it its children cover."""
    inner = covered([(c.start, c.end) for c in children], span.start, span.end)
    return (span.end - span.start - inner) * 1000.0


class _Off:
    """The tracing-off tracer: every context is a no-op."""

    enabled = False

    def op(self, op_id: int, kind: str):
        return contextlib.nullcontext()

    def span(self, name: str, df_out: list | None = None):
        return contextlib.nullcontext()

    def note(self, key: str, value: float) -> None:
        pass


class Tracer(_Off):
    enabled = True

    def __init__(self, spark, cores: int):
        self.spark = spark
        self.sc = spark.sparkContext
        self.cores = cores
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._stack: list[Span] = []
        self._op = 0
        self._seen_ungrouped: set[int] = set()
        self.sc.setJobGroup("perfbench-idle", "")

    def _ungrouped(self) -> list[int]:
        return list(self.sc.statusTracker().getJobIdsForGroup(None))

    @contextlib.contextmanager
    def op(self, op_id: int, kind: str):
        self._op = op_id
        root = Span(next(self._ids), f"op.{kind}", op_id, None, time.perf_counter())
        self.spans.append(root)
        self._stack.append(root)
        try:
            yield root
        finally:
            root.end = time.perf_counter()
            self._stack.pop()

    @contextlib.contextmanager
    def span(self, name: str, df_out: list | None = None):
        """Child span around one layer call.  A caller that builds a
        DataFrame inside the span may append it to ``df_out``; its
        Catalyst phase timings are attached at span end."""
        parent = self._stack[-1].sid if self._stack else None
        sp = Span(next(self._ids), name, self._op, parent, time.perf_counter())
        group = f"perfbench-{sp.sid}"
        self._seen_ungrouped.update(self._ungrouped())
        self.sc.setJobGroup(group, name)
        self.spans.append(sp)
        self._stack.append(sp)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            self.sc.setJobGroup(
                f"perfbench-{self._stack[-1].sid}" if self._stack else "perfbench-idle",
                "",
            )
            jobs = list(self.sc.statusTracker().getJobIdsForGroup(group))
            fresh = [j for j in self._ungrouped() if j not in self._seen_ungrouped]
            self._seen_ungrouped.update(fresh)
            sp.metrics.update(self._job_metrics(jobs + fresh))
            for df in df_out or ():
                sp.metrics.update(catalyst_phases(df))

    def note(self, key: str, value: float) -> None:
        """Add ``value`` to a counter on the innermost open span."""
        if self._stack:
            m = self._stack[-1].metrics
            m[key] = m.get(key, 0) + value

    def _job_metrics(self, jobs: list[int]) -> dict:
        store = self.sc._jsc.sc().statusStore()
        out = {
            "spark.jobs": len(jobs),
            "spark.stages": 0,
            "spark.tasks": 0,
            "spark.executor_run_ms": 0.0,
            "spark.executor_cpu_ms": 0.0,
            "spark.shuffle_bytes": 0,
            "critical_ms": 0.0,
        }
        for j in jobs:
            try:
                sids = store.job(j).stageIds()
            except Exception:  # job evicted from the store
                continue
            for i in range(sids.size()):
                try:
                    sd = store.lastStageAttempt(sids.apply(i))
                except Exception:
                    continue
                if sd.status().toString() != "COMPLETE":
                    continue  # skipped stages reuse earlier shuffle output
                tasks = sd.numTasks()
                run_ms = float(sd.executorRunTime())
                out["spark.stages"] += 1
                out["spark.tasks"] += tasks
                out["spark.executor_run_ms"] += run_ms
                out["spark.executor_cpu_ms"] += sd.executorCpuTime() / 1e6
                out["spark.shuffle_bytes"] += (
                    sd.shuffleReadBytes() + sd.shuffleWriteBytes()
                )
                # busy time of the slowest parallel slot, assuming tasks
                # spread evenly over min(tasks, cores) slots
                out["critical_ms"] += run_ms / max(1, min(tasks, self.cores))
        return out


def catalyst_phases(df) -> dict:
    """Catalyst analysis / optimization / planning ms of ``df``'s query."""
    out = {}
    try:
        phases = df._jdf.queryExecution().tracker().phases()
        it = phases.iterator()
        while it.hasNext():
            kv = it.next()
            out[f"spark.{kv._1()}_ms"] = float(kv._2().durationMs())
    except Exception:
        pass
    return out


def python_udf_ms(spark, functions: dict[str, str]) -> dict[str, float]:
    """Python time of the profiled Python UDFs since the last call, from
    the ``spark.sql.pyspark.udf.profiler=perf`` profile, keyed by the
    label of the function (in ``functions``: name -> label) each UDF's
    profile contains.  Clears the collected profiles."""
    out: dict[str, float] = {}
    try:
        results = spark._profiler_collector._perf_profile_results
    except AttributeError:
        return out
    for st in results.values():
        if st is None:
            continue
        names = {key[2] for key in st.stats}
        for fn, label in functions.items():
            if fn in names:
                out[label] = out.get(label, 0.0) + st.total_tt * 1000.0
    spark.profile.clear()
    return out


def make_tracer(spark, enabled: bool, cores: int):
    return Tracer(spark, cores) if enabled else _Off()
