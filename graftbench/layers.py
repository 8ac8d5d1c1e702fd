"""Per-layer instrumentation for ``--trace 1`` runs.

Two sources, both read from the benchmark's side of each call into the
engine (no engine file is patched on disk):

- :class:`Tracer` records spans (name, start, end, parent) around the
  calls the benchmark makes into each layer. Spans stay in memory and are
  written with the run record when the run ends.
- :class:`SparkCounters` reads Spark's own counters after each item: the
  Catalyst phase tracker of the collected DataFrame, the AppStatusStore
  stage and task metrics of the stages the item scheduled, the SQL
  metrics of the Python nodes in its final (adaptive) plan, and the
  block manager's persisted RDDs.
"""

from __future__ import annotations

import statistics
import time
from contextlib import contextmanager

# Node names whose SQL metrics carry the Python worker boundary
# (pythonBootTime, pythonInitTime, pythonTotalTime, pythonDataSent, ...).
_PY_METRICS = {
    "pythonBootTime": "python.boot_s",
    "pythonInitTime": "python.init_s",
    "pythonTotalTime": "python.total_s",
    "pythonDataSent": "python.sent_bytes",
    "pythonDataReceived": "python.received_bytes",
}


class Tracer:
    """In-memory span recorder. When disabled every span is a no-op, so
    the untraced passes run the same code path."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def total(self, name: str, since: int = 0) -> float:
        return sum(s["end"] - s["start"] for s in self.spans[since:] if s["name"] == name)

    def durations(self, name: str, since: int = 0) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans[since:] if s["name"] == name]


def _seq(scala_seq):
    return [scala_seq.apply(i) for i in range(scala_seq.size())]


class SparkCounters:
    def __init__(self, spark):
        sc = spark.sparkContext
        self._sc = sc._jsc.sc()
        self._gw = sc._gateway

    # --- AppStatusStore -------------------------------------------------
    def settle(self) -> None:
        """Wait until the listener bus has delivered every event, so the
        status store holds the stages of the job that just finished."""
        self._sc.listenerBus().waitUntilEmpty()

    def _stages(self):
        gw = self._gw
        empty = gw.jvm.java.util.ArrayList()
        return _seq(self._sc.statusStore().stageList(
            empty, False, False, gw.new_array(gw.jvm.double, 0), empty))

    def stage_keys(self) -> set[tuple[int, int]]:
        return {(s.stageId(), s.attemptId()) for s in self._stages()}

    def stage_metrics(self, before: set[tuple[int, int]]) -> dict:
        """Sums over the stages scheduled since ``before`` (stages skipped
        because their shuffle output was reused are not counted)."""
        gw = self._gw
        q = gw.new_array(gw.jvm.double, 2)
        q[0], q[1] = 0.5, 1.0
        store = self._sc.statusStore()
        out = {"exec.stages": 0, "exec.tasks": 0, "exec.executor_run_s": 0.0,
               "exec.executor_cpu_s": 0.0, "exec.jvm_gc_s": 0.0,
               "exec.shuffle_write_bytes": 0, "exec.shuffle_read_bytes": 0,
               "exec.spill_bytes": 0}
        skews = []
        for s in self._stages():
            if (s.stageId(), s.attemptId()) in before or str(s.status()) == "SKIPPED":
                continue
            out["exec.stages"] += 1
            out["exec.tasks"] += s.numCompleteTasks()
            out["exec.executor_run_s"] += s.executorRunTime() / 1e3
            out["exec.executor_cpu_s"] += s.executorCpuTime() / 1e9
            out["exec.jvm_gc_s"] += s.jvmGcTime() / 1e3
            out["exec.shuffle_write_bytes"] += s.shuffleWriteBytes()
            out["exec.shuffle_read_bytes"] += s.shuffleReadBytes()
            out["exec.spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
            if s.numCompleteTasks() >= 2:
                summary = store.taskSummary(s.stageId(), s.attemptId(), q)
                if summary.isDefined():
                    run = summary.get().executorRunTime()
                    med, mx = run.apply(0), run.apply(1)
                    if med > 0:
                        skews.append(mx / med)
        out["_skews"] = skews
        return out

    # --- block manager --------------------------------------------------
    def persisted_rdds(self) -> int:
        return self._sc.getPersistentRDDs().size()

    def storage_bytes(self) -> int:
        return sum(r.memoryUsed() + r.diskUsed()
                   for r in _seq(self._sc.statusStore().rddList(True)))

    # --- per-DataFrame plan counters ------------------------------------
    @staticmethod
    def catalyst_phases(df) -> dict:
        phases = df._jdf.queryExecution().tracker().phases()
        out = {"catalyst.analysis_s": 0.0, "catalyst.optimization_s": 0.0,
               "catalyst.planning_s": 0.0}
        it = phases.iterator()
        while it.hasNext():
            kv = it.next()
            key = f"catalyst.{kv._1()}_s"
            if key in out:
                out[key] += kv._2().durationMs() / 1e3
        return out

    @staticmethod
    def plan_counters(df) -> dict:
        """Python-boundary SQL metrics and round-robin exchanges of the
        final physical plan (query stages and subqueries included)."""
        out = {"python.nodes": 0, "tables.round_robin_exchanges": 0,
               **{v: 0.0 for v in _PY_METRICS.values()}}
        plan = df._jdf.queryExecution().executedPlan()
        if plan.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
            plan = plan.finalPhysicalPlan()
        todo = [plan]
        while todo:
            p = todo.pop()
            if p.getClass().getSimpleName() == "ShuffleExchangeExec" and (
                p.outputPartitioning().getClass().getSimpleName()
                == "RoundRobinPartitioning"
            ):
                out["tables.round_robin_exchanges"] += 1
            metrics = p.metrics()
            if metrics.contains("pythonTotalTime"):
                out["python.nodes"] += 1
                for key, name in _PY_METRICS.items():
                    m = metrics.get(key)
                    if m.isDefined():
                        v = m.get().value()
                        # timing metrics are milliseconds, sizes bytes
                        out[name] += v / 1e3 if name.endswith("_s") else v
            if p.getClass().getSimpleName().endswith("QueryStageExec"):
                todo.append(p.plan())
            if p.getClass().getSimpleName() == "ReusedExchangeExec":
                continue  # its child was counted where it first ran
            todo.extend(_seq(p.children()))
            todo.extend(_seq(p.subqueries()))
        return out


# Every per-layer value a pass can report; a layer the workload does not
# touch reports 0 (no work was done there).
PASS_METRICS = (
    "registry.build_s", "registry.build_max_s",
    "catalyst.analysis_s", "catalyst.optimization_s", "catalyst.planning_s",
    "exec.collect_s", "exec.stages", "exec.tasks", "exec.executor_run_s",
    "exec.executor_cpu_s", "exec.jvm_gc_s", "exec.shuffle_write_bytes",
    "exec.shuffle_read_bytes", "exec.spill_bytes", "exec.task_skew",
    "tables.load_table_s", "tables.round_robin_exchanges",
    "cache.persisted_rdds", "cache.storage_bytes",
    "python.nodes", *_PY_METRICS.values(),
    "ingest.readback_s", "ingest.write_s", "ingest.collect_s",
    "ingest.files_written", "ingest.bytes_written_per_input_byte",
    "ingest.skipped_frac", "ingest.corrupt_rows",
    "stream.drain_s", "stream.batches",
)

# span name -> the per-pass metric that sums its durations
_SPAN_SUMS = {
    "registry.build": "registry.build_s",
    "exec.collect": "exec.collect_s",
    "tables.load_table": "tables.load_table_s",
    "ingest.readback": "ingest.readback_s",
    "ingest.write": "ingest.write_s",
    "ingest.collect": "ingest.collect_s",
    "stream.drain": "stream.drain_s",
}


class LayerRecorder:
    """Runs the items of one pass and, when the tracer is on, gathers the
    pass's per-layer values. With the tracer off it only builds and
    collects, so untraced passes pay nothing for it."""

    def __init__(self, spark, tracer: Tracer):
        self.spark = spark
        self.tracer = tracer
        self.counters = SparkCounters(spark)

    def begin_pass(self) -> None:
        self.values = dict.fromkeys(PASS_METRICS, 0)
        self._mark = len(self.tracer.spans)
        if self.tracer.enabled:
            self.counters.settle()
            self._stages = self.counters.stage_keys()

    def run_query(self, name: str, fn, sf_dir: str):
        """Build a registry query and collect it; returns (columns, rows)."""
        if not self.tracer.enabled:
            df = fn(self.spark, sf_dir)
            return df.columns, df.collect()
        with self.tracer.span("registry.build", item=name):
            df = fn(self.spark, sf_dir)
        with self.tracer.span("exec.collect", item=name):
            rows = df.collect()
        for counts in (self.counters.catalyst_phases(df), self.counters.plan_counters(df)):
            for k, v in counts.items():
                self.values[k] += v
        self._sample_cache()
        return df.columns, rows

    def note(self, values: dict) -> None:
        self.values.update(values)

    def _sample_cache(self) -> None:
        self.counters.settle()
        v = self.values
        v["cache.persisted_rdds"] = max(v["cache.persisted_rdds"], self.counters.persisted_rdds())
        v["cache.storage_bytes"] = max(v["cache.storage_bytes"], self.counters.storage_bytes())

    def end_pass(self) -> dict:
        if not self.tracer.enabled:
            return {}
        self._sample_cache()
        stages = self.counters.stage_metrics(self._stages)
        skews = stages.pop("_skews")
        self.values.update(stages)
        self.values["exec.task_skew"] = statistics.fmean(skews) if skews else 1.0
        for span, metric in _SPAN_SUMS.items():
            self.values[metric] = self.tracer.total(span, self._mark)
        builds = self.tracer.durations("registry.build", self._mark)
        self.values["registry.build_max_s"] = max(builds, default=0.0)
        return dict(self.values)
