"""Tracing for the per-layer run (``--trace 1``).

Spans are recorded by the benchmark's own wrappers around public calls into
the engine (the engine itself is not instrumented), kept in memory, and
written out when the run ends.  Execution counters come from two places:
Spark's status store, diffed around each item, and the SQL executions the
item ran: a ``QueryExecutionListener`` hands over the ``QueryExecution`` of
every finished action (a noop or parquet write, a count), whose planning
phases are read from its tracker and whose final physical plan is walked
for its SQL metrics.
"""

from __future__ import annotations

import contextlib
import json
import sys
import time


class Tracer:
    """In-memory span recorder.  ``enabled=False`` makes every hook a no-op,
    so the untraced run pays nothing but a function call per item.  Spans
    are recorded while ``active`` (the measured passes, not the warm-up)."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.active = False
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.item_id: str | None = None
        self._patches: list[tuple[object, str, object]] = []

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.active:
            yield
            return
        rec = {"name": name, "item": self.item_id,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter()}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def total(self, name: str, item_ids) -> float:
        """Summed duration of the spans called ``name`` within ``item_ids``."""
        ids = set(item_ids)
        return sum(s["end"] - s["start"] for s in self.spans
                   if s["name"] == name and s["item"] in ids and "end" in s)

    def wrap(self, owner, attr: str, span_name: str) -> None:
        """Replace ``owner.attr`` by a spanned pass-through for this run."""
        if not self.enabled:
            return
        orig = getattr(owner, attr)

        def spanned(*args, **kwargs):
            with self.span(span_name):
                return orig(*args, **kwargs)

        self._patches.append((owner, attr, orig))
        setattr(owner, attr, spanned)

    def unwrap_all(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as fh:
            json.dump({"spans": self.spans, **extra}, fh)


class Py4jCounter:
    """Counts py4j commands sent from the driver while ``active``, except
    the release of a garbage-collected Java object proxy, which Python's
    garbage collector sends at times of its own."""

    def __init__(self, spark):
        from py4j.protocol import (
            MEMORY_COMMAND_NAME,
            MEMORY_DEL_SUBCOMMAND_NAME,
        )

        self.client = spark.sparkContext._gateway._gateway_client
        self.count = 0
        self.active = False
        orig = self.client.send_command
        release = MEMORY_COMMAND_NAME + MEMORY_DEL_SUBCOMMAND_NAME

        def counting(command, *args, **kwargs):
            if self.active and not command.startswith(release):
                self.count += 1
            return orig(command, *args, **kwargs)

        self._orig = orig
        self.client.send_command = counting

    @contextlib.contextmanager
    def counting(self):
        self.active = True
        try:
            yield
        finally:
            self.active = False

    def close(self) -> None:
        self.client.send_command = self._orig


class QueryListener:
    """Collects the ``QueryExecution`` of every SQL execution the session
    finishes, through a py4j-implemented ``QueryExecutionListener``, and
    the run time of the root executions from the SQL status store (a
    command can run nested executions, which the listener reports too).
    Listener calls arrive on Spark's listener bus; :meth:`drain` waits for
    the bus to empty first."""

    def __init__(self, spark):
        from pyspark.java_gateway import ensure_callback_server_started

        sc = spark.sparkContext
        ensure_callback_server_started(sc._gateway)
        self.bus = sc._jsc.sc().listenerBus()
        self.sql = spark._jsparkSession.sharedState().statusStore()
        self.manager = spark._jsparkSession.listenerManager()
        self.finished: list = []
        self.drained = 0  # executions in the SQL status store drained
        self.manager.register(self)
        self.drain()

    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802 — Java API
        self.finished.append(qe)

    def onFailure(self, func_name, qe, exception):  # noqa: N802 — Java API
        pass  # a failed action fails its item; it has no final plan to walk

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]

    def drain(self) -> tuple[list, float]:
        """The executions finished since the last call, and the seconds
        from submission to completion summed over the root ones."""
        self.bus.waitUntilEmpty()
        qes, self.finished = self.finished, []
        run_s = 0.0
        # the store lists executions by id; a run keeps fewer than the
        # 1,000 it retains, so none is evicted between two drains
        count = self.sql.executionsCount()
        if count > self.drained:
            it = self.sql.executionsList(self.drained,
                                         count - self.drained).iterator()
            while it.hasNext():
                e = it.next()
                done = e.completionTime()
                if (e.executionId() == e.rootExecutionId()
                        and done.isDefined()):
                    run_s += (done.get().getTime()
                              - e.submissionTime()) / 1e3
        self.drained = count
        return qes, run_s

    def close(self) -> None:
        self.manager.unregister(self)
        print(f"perfbench: {self.drained} SQL executions in the status "
              "store", file=sys.stderr)


def execution_metrics(jvm, drained) -> dict:
    """The executions of one item: their root run time, the optimization
    and physical-planning phases of each execution's planning tracker, and
    the :func:`walk_plan` metrics of their final plans, each plan node
    counted once even when executions share it (a cached plan)."""
    qes, run_s = drained
    out = {"run_s": run_s, "optimize_s": 0.0, "physical_s": 0.0,
           "broadcast_bytes": 0.0, "scan_rows": 0.0, "python_init_s": 0.0,
           "python_run_s": 0.0, "executions": len(qes)}
    seen: set = set()
    for qe in qes:
        it = qe.tracker().phases().iterator()
        while it.hasNext():
            kv = it.next()
            key = {"optimization": "optimize_s",
                   "planning": "physical_s"}.get(kv._1())
            if key:
                out[key] += kv._2().durationMs() / 1e3
        for key, value in walk_plan(jvm, qe.executedPlan(), seen).items():
            out[key] += value
    return out


STAGE_FIELDS = {
    "task_cpu_s": ("executorCpuTime", 1e-9),
    "gc_s": ("jvmGcTime", 1e-3),
    "shuffle_write_bytes": ("shuffleWriteBytes", 1),
    "spill_bytes": ("memoryBytesSpilled", 1),
    "tasks": ("numTasks", 1),
}


class StageDiff:
    """Sums status-store stage data over the stages that completed since
    the previous call (stage ids only grow within one application)."""

    def __init__(self, spark):
        self.store = spark.sparkContext._jsc.sc().statusStore()
        # the Scala default arguments of stageList, fetched once
        self.defaults = (getattr(self.store, "stageList$default$4")(),
                         getattr(self.store, "stageList$default$5")())
        self.seen: set[tuple[int, int]] = set()
        self.take()

    def take(self) -> dict:
        out = {k: 0.0 for k in STAGE_FIELDS}
        out["stages"] = 0
        it = self.store.stageList(None, False, False,
                                  *self.defaults).iterator()
        while it.hasNext():
            st = it.next()
            key = (st.stageId(), st.attemptId())
            if key in self.seen or st.status().toString() not in (
                    "COMPLETE", "FAILED", "SKIPPED"):
                continue
            self.seen.add(key)
            if st.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            for name, (field, scale) in STAGE_FIELDS.items():
                out[name] += getattr(st, field)() * scale
        return out


def _metric_value(metric) -> float:
    """A SQLMetric in base units: seconds for timings, else the raw value."""
    kind = metric.metricType()
    value = float(metric.value())
    if kind == "timing":
        return value / 1e3
    if kind == "nsTiming":
        return value / 1e9
    return value


def walk_plan(jvm, plan, seen: set) -> dict:
    """Sum the plan metrics the per-layer report uses over a physical plan,
    descending into adaptive plans, query stages, reused exchanges,
    subqueries and the cached plans of ``InMemoryRelation`` scans (so a
    persisted frame's build cost stays visible).  Python-worker times are
    summed over tasks.  Nodes whose identity is in ``seen`` are skipped."""
    out = {"broadcast_bytes": 0.0, "scan_rows": 0.0, "python_init_s": 0.0,
           "python_run_s": 0.0}
    stack = [plan]
    while stack:
        node = stack.pop()
        ident = jvm.System.identityHashCode(node)
        if ident in seen:
            continue
        seen.add(ident)
        cls = node.getClass().getSimpleName()
        metrics = node.metrics()
        names = metrics.keySet().iterator()
        vals = {}
        while names.hasNext():
            key = names.next()
            vals[key] = _metric_value(metrics.apply(key))
        if cls == "BroadcastExchangeExec":
            out["broadcast_bytes"] += vals.get("dataSize", 0.0)
        if "Scan" in cls and cls != "InMemoryTableScanExec":
            out["scan_rows"] += vals.get("numOutputRows", 0.0)
        out["python_init_s"] += vals.get("pythonInitTime", 0.0) + vals.get(
            "pythonBootTime", 0.0)
        out["python_run_s"] += vals.get("pythonTotalTime", 0.0)
        if cls == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
        elif cls.endswith("QueryStageExec"):
            stack.append(node.plan())
        elif cls == "ReusedExchangeExec":
            stack.append(node.child())
        elif cls == "InMemoryTableScanExec":
            stack.append(node.relation().cachedPlan())
        children = node.children().iterator()
        while children.hasNext():
            stack.append(children.next())
        subs = node.subqueries().iterator()
        while subs.hasNext():
            stack.append(subs.next())
    return out
