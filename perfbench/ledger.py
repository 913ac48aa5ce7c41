"""Spans and the per-layer ledger of a traced run.

A span is one call into a layer: name, start, end, parent and the
operation it belongs to. Each span runs its Spark jobs under a job
group of its own, so after the operation the status store tells which
jobs, stages and tasks each layer started. Layers are timed from
outside: ``instrument`` swaps the public functions named in
``TRACED_CALLS`` for wrappers that open a span, and counts py4j round
trips by wrapping the gateway client's ``send_command``.

With tracing off, ``span`` is a no-op and nothing is wrapped.
"""

from __future__ import annotations

import functools
import importlib
import statistics
import sys
import time
from contextlib import contextmanager

# (module, function, span name)
TRACED_CALLS = [
    ("pipeline_dataengineer_spark.catalog", "table", "catalog"),
    ("pipeline_dataengineer_spark.sources.kafka_sim", "produce", "source.produce"),
    ("pipeline_dataengineer_spark.pipelines.recall_ingest", "ingest_batch", "ingest"),
    ("pipeline_dataengineer_spark.sinks.jdbc_tx", "staged_jdbc_append", "sink.publish"),
]

MB = 1 << 20


class Tracer:
    def __init__(self, spark=None, enabled: bool = False):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[dict] = []
        self.op: str | None = None
        self.py4j_calls = 0
        self._stack: list[dict] = []

    # ---- spans --------------------------------------------------------

    def _set_group(self, gid: str | None) -> None:
        self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", gid)

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": len(self.spans) + len(self._stack),
            "name": name,
            "parent": parent["id"] if parent else None,
            "op": self.op,
            "group": f"pb-{self.op}-{len(self.spans) + len(self._stack)}",
        }
        self._set_group(rec["group"])
        rec["start"] = time.perf_counter()
        rec["py4j0"] = self.py4j_calls
        self._stack.append(rec)
        try:
            yield rec
        finally:
            rec["py4j"] = self.py4j_calls - rec.pop("py4j0")
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self._set_group(parent["group"] if parent else None)
            self.spans.append(rec)

    def instrument(self) -> None:
        """Wrap the traced public functions and the py4j client."""
        if not self.enabled:
            return
        from py4j.java_gateway import GatewayClient

        send = GatewayClient.send_command

        def counted(client, *a, **kw):
            self.py4j_calls += 1
            return send(client, *a, **kw)

        GatewayClient.send_command = counted
        for mod_name, fn_name, span_name in TRACED_CALLS:
            mod = importlib.import_module(mod_name)
            orig = getattr(mod, fn_name)
            wrapped = self._wrap(orig, span_name)
            # rebind every module that imported the function by name
            for m in list(sys.modules.values()):
                if getattr(m, fn_name, None) is orig and (
                    getattr(m, "__name__", "").startswith("pipeline_dataengineer_spark")
                ):
                    setattr(m, fn_name, wrapped)

    def _wrap(self, fn, name):
        @functools.wraps(fn)
        def wrapper(*a, **kw):
            with self.span(name):
                return fn(*a, **kw)

        return wrapper

    # ---- ledger -------------------------------------------------------

    def op_spans(self, op: str) -> list[dict]:
        return [s for s in self.spans if s["op"] == op]

    def job_metrics(self, groups: list[str]) -> dict[str, float]:
        """Jobs, stages, tasks and stage metrics of the jobs started
        under ``groups``, read from Spark's status store."""
        sc = self.spark.sparkContext
        tracker = sc.statusTracker()
        store = sc._jsc.sc().statusStore()
        out = dict.fromkeys(
            ["jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
             "input_mb", "shuffle_write_mb", "shuffle_read_mb", "spill_mb"], 0.0)
        longest = (-1.0, None)
        for gid in groups:
            for jid in tracker.getJobIdsForGroup(gid):
                out["jobs"] += 1
                info = tracker.getJobInfo(jid)
                for sid in info.stageIds if info else []:
                    try:
                        sd = store.lastStageAttempt(sid)
                    except Exception:
                        continue  # skipped stage: never attempted
                    out["stages"] += 1
                    out["tasks"] += sd.numCompleteTasks()
                    run_s = sd.executorRunTime() / 1e3
                    out["executor_run_s"] += run_s
                    out["executor_cpu_s"] += sd.executorCpuTime() / 1e9
                    out["gc_s"] += sd.jvmGcTime() / 1e3
                    out["input_mb"] += sd.inputBytes() / MB
                    out["shuffle_write_mb"] += sd.shuffleWriteBytes() / MB
                    out["shuffle_read_mb"] += sd.shuffleReadBytes() / MB
                    out["spill_mb"] += (sd.memoryBytesSpilled() + sd.diskBytesSpilled()) / MB
                    if run_s > longest[0]:
                        longest = (run_s, (sid, sd.attemptId()))
        out["task_skew"] = self._task_skew(store, longest[1]) if longest[1] else 1.0
        return out

    def _task_skew(self, store, stage) -> float:
        """Max over median task run time of one stage."""
        gw = self.spark.sparkContext._gateway
        qs = gw.new_array(gw.jvm.double, 2)
        qs[0], qs[1] = 0.5, 1.0
        summary = store.taskSummary(stage[0], stage[1], qs)
        if summary.isEmpty():
            return 1.0
        run = summary.get().executorRunTime()
        med, mx = run.apply(0), run.apply(1)
        return mx / med if med > 0 else 1.0

    def catalyst_ms(self, df) -> dict[str, float]:
        """Catalyst phase times of ``df``'s plan, as its query
        execution's phase tracker records them. Optimization and
        planning are forced here, after the operation, on the same
        logical plan the action ran."""
        qe = df._jdf.queryExecution()
        qe.executedPlan()
        phases = qe.tracker().phases()
        out = {}
        for phase in ("analysis", "optimization", "planning"):
            out[phase] = phases.apply(phase).durationMs() if phases.contains(phase) else 0.0
        return out


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> its time minus the time of its direct children."""
    own = {s["id"]: s["end"] - s["start"] for s in spans}
    for s in spans:
        if s["parent"] is not None and s["parent"] in own:
            own[s["parent"]] -= s["end"] - s["start"]
    return own


def mean(values) -> float:
    values = list(values)
    return statistics.fmean(values) if values else 0.0
