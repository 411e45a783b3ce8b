"""Layer tracer for the benchmark's traced runs.

- Spans: (name, start, end, parent, run id) recorded around each call
  the benchmark makes into one of the engine's public functions.  The
  benchmark's own files open the spans; nothing inside the engine does.
- SQL metrics: per-operator metrics of every SQL execution that ran
  inside a span, read from Spark's SQL status store (the plan graph the
  UI would draw, including AQE query stages and broadcast exchanges).
  Reading the store rather than a DataFrame's ``executedPlan`` also
  sees the actions the engine runs inside its own calls (the kNN
  rounds, the snapshot writes of ``Pipeline.stage``).
- Stage counters: jobs, tasks, failed tasks, shuffle and spill bytes of
  the Spark jobs a span launched, from the status tracker and the
  application status store.

Everything is kept in memory; ``dump`` writes it out when the run ends.
``NullTracer`` is what untraced runs use: every hook is a no-op.
"""

from __future__ import annotations

import contextlib
import json
import re
import time

_UNITS = {
    "B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
}
_NUM_UNIT = re.compile(r"([-\d.,]+)\s*([A-Za-z]+)?")


def metric_value(text: str) -> float:
    """Parse a SQL metric string as the status store formats it: a plain
    count ("1,234") or, for size and time metrics, the total before the
    per-task breakdown ("total (min, med, max ...)\\n12.5 MiB (...)").
    Sizes are returned in bytes, times in seconds."""
    body = text.split("\n", 1)[-1].strip()
    m = _NUM_UNIT.match(body)
    if not m:
        return 0.0
    v = float(m.group(1).replace(",", ""))
    return v * _UNITS.get(m.group(2) or "", 1.0)


class NullTracer:
    phase = "setup"

    @contextlib.contextmanager
    def span(self, name: str):
        yield

    def dump(self, path: str) -> None:
        pass


class Tracer:
    def __init__(self, spark, run_id: str):
        self.run_id = run_id
        self.phase = "setup"  # the harness sets "warm" once set-up is done
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.sc = spark.sparkContext
        self._sql_store = spark._jsparkSession.sharedState().statusStore()
        self._app_store = self.sc._jsc.sc().statusStore()
        self._empty_quantiles = self.sc._gateway.new_array(self.sc._jvm.double, 0)

    @contextlib.contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        group = f"{self.run_id}-{sid}"
        rec = {
            "id": sid, "name": name, "run": self.run_id, "phase": self.phase,
            "parent": self._stack[-1] if self._stack else None,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        first_exec = self._execution_count()
        self.sc.setJobGroup(group, name)
        rec["start"] = time.time()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            parent = self.spans[self._stack[-1]] if self._stack else None
            if parent is not None:
                self.sc.setJobGroup(f"{self.run_id}-{parent['id']}", parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            rec["stages"] = self._stage_counters(group)
            rec["sql"] = self._sql_metrics(first_exec)

    # -- status tracker / application status store -----------------------
    def _stage_counters(self, group: str) -> dict:
        tracker = self.sc.statusTracker()
        from py4j.protocol import Py4JJavaError

        out = {"jobs": 0, "tasks": 0, "failed_tasks": 0,
               "input_records": 0, "shuffle_write_bytes": 0,
               "shuffle_write_records": 0, "spill_bytes": 0, "scan_tasks": 0}
        for job_id in tracker.getJobIdsForGroup(group):
            info = tracker.getJobInfo(job_id)
            if info is None:
                continue
            out["jobs"] += 1
            for sid in info.stageIds:
                try:
                    attempts = self._app_store.stageData(
                        sid, False, None, False, self._empty_quantiles)
                except Py4JJavaError:  # a skipped stage never ran: nothing stored
                    continue
                for i in range(attempts.size()):
                    sd = attempts.apply(i)
                    if str(sd.status()) == "SKIPPED":
                        continue
                    tasks = sd.numCompleteTasks() + sd.numFailedTasks()
                    out["tasks"] += tasks
                    if sd.inputRecords() > 0:
                        out["scan_tasks"] += tasks
                    out["failed_tasks"] += sd.numFailedTasks() + sd.numKilledTasks()
                    out["input_records"] += sd.inputRecords()
                    out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                    out["shuffle_write_records"] += sd.shuffleWriteRecords()
                    out["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
        return out

    # -- SQL status store ------------------------------------------------
    def _execution_count(self) -> int:
        return self._sql_store.executionsCount()

    def _sql_metrics(self, first: int, timeout_s: float = 5.0) -> list[dict]:
        """Per-operator metrics of the executions started since ``first``."""
        execs = self._sql_store.executionsList(first, 1 << 20)
        out = []
        for i in range(execs.size()):
            ex = execs.apply(i)
            eid = ex.executionId()
            deadline = time.time() + timeout_s
            # the listener bus is asynchronous: wait for the end event
            while ex.completionTime().isEmpty() and time.time() < deadline:
                time.sleep(0.02)
                ex = self._sql_store.execution(eid).get()
            values = self._sql_store.executionMetrics(eid)
            nodes = self._sql_store.planGraph(eid).allNodes()
            for j in range(nodes.size()):
                node = nodes.apply(j)
                ms = node.metrics()
                metrics = {}
                for k in range(ms.size()):
                    m = ms.apply(k)
                    v = values.get(m.accumulatorId())
                    if not v.isEmpty():
                        metrics[m.name()] = metric_value(v.get())
                out.append({"execution": eid, "node": node.name(), "metrics": metrics})
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"run": self.run_id, "spans": self.spans}, f, indent=1)


def sql_sum(spans, node_prefix: str, metric: str) -> float:
    """Sum ``metric`` over every node whose name starts with
    ``node_prefix`` in the SQL metrics of ``spans``."""
    return sum(
        n["metrics"].get(metric, 0.0)
        for s in spans for n in s.get("sql", ())
        if n["node"].startswith(node_prefix)
    )


def count_nodes(spans, node_prefix: str) -> int:
    return sum(1 for s in spans for n in s.get("sql", ()) if n["node"].startswith(node_prefix))
