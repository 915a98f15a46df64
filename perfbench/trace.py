"""Spans around the benchmark's calls into each layer, with Spark's own
status-store deltas for each span.

A span records (id, name, parent, start, end) plus what Spark's
AppStatusStore and SQL status store saw between its start and end: jobs,
completed stages and tasks, failed tasks, executor CPU, GC, shuffle write,
spill, output bytes, and the Exchange / Sort nodes of the final physical
plan of every SQL execution in the span. Spans stay in memory and are
written out when the run ends.
"""

from __future__ import annotations

import contextlib
import re
import time

_PLAN_NODE = re.compile(r"^[\s+\-:|]*(?:\*\s*)?(\w+) \(\d+\)")


def plan_node_counts(plan_description: str) -> dict[str, int]:
    """Count shuffle Exchange and Sort nodes in the final plan of a
    formatted physical-plan description (the whole plan when not
    adaptive). BroadcastExchange is not a shuffle and is not counted."""
    lines = plan_description.splitlines()
    if any("== Final Plan ==" in ln for ln in lines):
        start = next(i for i, ln in enumerate(lines) if "== Final Plan ==" in ln) + 1
        stop = next(
            (i for i, ln in enumerate(lines) if "== Initial Plan ==" in ln), len(lines)
        )
        lines = lines[start:stop]
    counts = {"exchanges": 0, "sorts": 0}
    for ln in lines:
        if not ln.strip():
            break  # end of the plan tree; node details follow
        m = _PLAN_NODE.match(ln)
        if m and m.group(1) == "Exchange":
            counts["exchanges"] += 1
        elif m and m.group(1) == "Sort":
            counts["sorts"] += 1
    return counts


class StatusStore:
    """Cumulative counters read from Spark's status stores over py4j."""

    def __init__(self, spark):
        self.spark = spark
        jvm = spark._jvm
        self._jsc = spark.sparkContext._jsc.sc()
        self._conv = jvm.scala.jdk.javaapi.CollectionConverters
        self._empty = jvm.java.util.ArrayList
        self._no_quantiles = spark.sparkContext._gateway.new_array(jvm.double, 0)

    def _read(self):
        """(stages newest first, SQL executions oldest first, counters)
        once the listener bus has delivered every event so far."""
        self._jsc.listenerBus().waitUntilEmpty()
        st = self._jsc.statusStore()
        stages = self._conv.asJava(
            st.stageList(self._empty(), False, False, self._no_quantiles, self._empty())
        )
        execs = self._conv.asJava(
            self.spark._jsparkSession.sharedState().statusStore().executionsList()
        )
        counters = {
            "jobs": self._conv.asJava(st.jobsList(self._empty())).size(),
            "tasks_failed": sum(e.failedTasks() for e in self._conv.asJava(st.executorList(True))),
        }
        return stages, execs, counters

    def snapshot(self) -> dict:
        stages, execs, counters = self._read()
        return {
            "stage_max": stages[0].stageId() if len(stages) else -1,
            "exec_max": execs[len(execs) - 1].executionId() if len(execs) else -1,
            **counters,
        }

    def delta(self, before: dict) -> dict:
        """Counters accrued since `before` (a snapshot of this store)."""
        stages, execs, counters = self._read()
        out = {k: counters[k] - before[k] for k in counters}
        out.update(
            stages=0, tasks=0, cpu_s=0.0, run_s=0.0, gc_s=0.0, shuffle_write_bytes=0,
            spill_bytes=0, output_bytes=0, sql_executions=0, exchanges=0, sorts=0,
        )
        for s in stages:
            if s.stageId() <= before["stage_max"]:
                break
            if s.status().toString() != "COMPLETE":
                continue  # skipped stages reused an earlier shuffle
            out["stages"] += 1
            out["tasks"] += s.numCompleteTasks()
            out["cpu_s"] += s.executorCpuTime() / 1e9
            out["run_s"] += s.executorRunTime() / 1e3
            out["gc_s"] += s.jvmGcTime() / 1e3
            out["shuffle_write_bytes"] += s.shuffleWriteBytes()
            out["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
            out["output_bytes"] += s.outputBytes()
        for i in range(len(execs) - 1, -1, -1):
            x = execs[i]
            if x.executionId() <= before["exec_max"]:
                break
            out["sql_executions"] += 1
            for k, v in plan_node_counts(x.physicalPlanDescription()).items():
                out[k] += v
        return out


class Tracer:
    """Records spans; `span()` is a context manager around one layer call."""

    def __init__(self, store: StatusStore | None):
        self.store = store
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def rebind(self, store: StatusStore | None) -> None:
        """Point at the status store of a new SparkSession (None while
        there is no live session)."""
        self.store = store

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        """Spark counters are kept only when one session lives through the
        whole span (setup spans restart the session)."""
        store = self.store
        before = store.snapshot() if store is not None else None
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            same = store is not None and store is self.store
            rec["spark"] = store.delta(before) if same else None

    def self_times(self) -> dict[int, float]:
        """Span duration minus the part its child spans cover (children
        run one after another, so their durations add)."""
        out = {s["id"]: s["end"] - s["start"] for s in self.spans}
        for s in self.spans:
            if s["parent"] is not None:
                out[s["parent"]] -= s["end"] - s["start"]
        return out


class NullTracer:
    """Tracing off: spans cost one context-manager entry."""

    def __init__(self):
        self.spans: list[dict] = []

    def rebind(self, store) -> None:
        pass

    def span(self, name: str, **attrs):
        return contextlib.nullcontext({})
