"""Outside-in Spark counters, read through public status APIs.

Nothing here changes the program: the helper reads what Spark already
records about itself.

* ``AppStatusStore.stageList`` sums finished stages' task metrics.
  On Spark 4.1 it takes five arguments ``(statuses, details,
  withSummaries, double[] quantiles, taskStatus)``; an empty status
  list means every stage. The list comes back newest stage first, so a
  scan stops at the first stage it has already counted.
* ``SQLAppStatusStore`` gives the SQL execution count and, per
  execution, the plan graph with formatted SQL-metric strings; the
  Python/Arrow nodes' metrics come from there.
* ``CodegenMetrics`` (a Scala object, reached through its static
  forwarders) holds a histogram of compile times in ms.

Every read first drains the listener bus with ``waitUntilEmpty``, and
the status store works with ``spark.ui.enabled=false``.
"""

from __future__ import annotations

import re

STAGE_FIELDS = {
    "exec.stages": None,
    "exec.tasks": "numCompleteTasks",
    "exec.executor_run_s": "executorRunTime",  # ms
    "exec.executor_cpu_s": "executorCpuTime",  # ns
    "exec.gc_s": "jvmGcTime",  # ms
    "exec.shuffle_read_bytes": "shuffleReadBytes",
    "exec.shuffle_write_bytes": "shuffleWriteBytes",
    "exec.spill_bytes": "diskBytesSpilled",
}
_SCALE = {"exec.executor_run_s": 1e-3, "exec.executor_cpu_s": 1e-9, "exec.gc_s": 1e-3}
_UNFINISHED = {"ACTIVE", "PENDING"}

# Physical nodes that hand rows to Python workers over Arrow or pickle.
PYTHON_NODES = re.compile(r"InPandas|InArrow|ArrowEvalPython|BatchEvalPython|WindowInPandas|Python")
_TIME_UNITS = {"ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0}


def parse_metric(text: str) -> float:
    """A formatted SQL-metric string as a number: timings in seconds,
    counts as integers. Per-task breakdowns ("total (min, med, max
    ...)\\n1.2 s (...)") read their total."""
    line = text.split("\n")[-1].strip()
    head = line.split(" (")[0].strip()
    parts = head.split()
    value = float(parts[0].replace(",", ""))
    if len(parts) > 1 and parts[1] in _TIME_UNITS:
        value *= _TIME_UNITS[parts[1]]
    return value


class SparkCounters:
    """Cumulative counters of one SparkSession; ``snapshot`` returns
    them all and ``delta`` subtracts two snapshots."""

    def __init__(self, spark) -> None:
        self._spark = spark
        sc = spark.sparkContext
        self._jvm = sc._jvm
        self._gateway = sc._gateway
        self._sc = sc._jsc.sc()
        self._app = self._sc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._codegen = self._jvm.org.apache.spark.metrics.source.CodegenMetrics
        self._stage_totals = {k: 0.0 for k in STAGE_FIELDS}
        self._counted: set[tuple[int, int]] = set()
        self._floor = 0
        self._python = {"arrow.python_s": 0.0, "arrow.rows_to_python": 0.0}
        self._exec_seen = 0

    def drain(self) -> None:
        self._sc.listenerBus().waitUntilEmpty()

    def _scan_stages(self) -> None:
        no_quantiles = self._gateway.new_array(self._jvm.double, 0)
        stages = self._app.stageList(
            self._jvm.java.util.ArrayList(), False, False, no_quantiles, None
        )
        it = stages.iterator()
        unfinished = None
        newest = self._floor - 1
        while it.hasNext():
            s = it.next()
            sid = s.stageId()
            if sid < self._floor:
                break
            newest = max(newest, sid)
            key = (sid, s.attemptId())
            if key in self._counted:
                continue
            if s.status().toString() in _UNFINISHED:
                unfinished = sid
                continue
            self._counted.add(key)
            for name, getter in STAGE_FIELDS.items():
                if getter is None:
                    self._stage_totals[name] += 1
                else:
                    raw = getattr(s, getter)()
                    self._stage_totals[name] += raw * _SCALE.get(name, 1)
        self._floor = unfinished if unfinished is not None else newest + 1

    def _python_node_rows(self, graph, metrics, node) -> float:
        """Rows the Python node read: the output-row count of the
        nearest node below it that reports one."""
        below = {}
        edges = graph.edges().iterator()
        while edges.hasNext():
            e = edges.next()
            below.setdefault(e.toId(), []).append(e.fromId())
        nodes = {}
        it = graph.allNodes().iterator()
        while it.hasNext():
            n = it.next()
            nodes[n.id()] = n
        frontier = list(below.get(node.id(), []))
        while frontier:
            child = nodes.get(frontier.pop(0))
            if child is None:
                continue
            mi = child.metrics().iterator()
            while mi.hasNext():
                m = mi.next()
                if m.name() == "number of output rows":
                    v = metrics.get(m.accumulatorId())
                    if v.isDefined():
                        return parse_metric(v.get())
            frontier.extend(below.get(child.id(), []))
        return 0.0

    def _scan_executions(self) -> int:
        count = int(self._sql.executionsCount())
        if count <= self._exec_seen:
            return count
        fresh = self._sql.executionsList(self._exec_seen, count - self._exec_seen)
        ex = fresh.iterator()
        while ex.hasNext():
            eid = ex.next().executionId()
            graph = self._sql.planGraph(eid)
            metrics = self._sql.executionMetrics(eid)
            it = graph.allNodes().iterator()
            while it.hasNext():
                node = it.next()
                if not PYTHON_NODES.search(node.name()):
                    continue
                mi = node.metrics().iterator()
                while mi.hasNext():
                    m = mi.next()
                    v = metrics.get(m.accumulatorId())
                    if m.name() == "time to run Python workers" and v.isDefined():
                        self._python["arrow.python_s"] += parse_metric(v.get())
                self._python["arrow.rows_to_python"] += self._python_node_rows(
                    graph, metrics, node
                )
        self._exec_seen = max(self._exec_seen, count)
        return count

    def snapshot(self) -> dict[str, float]:
        self.drain()
        self._scan_stages()
        executions = self._scan_executions()
        hist = self._codegen.METRIC_COMPILATION_TIME()
        values = hist.getSnapshot().getValues()
        out = dict(self._stage_totals)
        out.update(self._python)
        out["sql.executions"] = float(executions)
        out["codegen.compiles"] = float(hist.getCount())
        # the histogram keeps every sample until it holds 1028; past
        # that the sum of its reservoir undercounts (delta clamps at 0)
        out["codegen.compile_s"] = self._jvm.java.util.Arrays.stream(values).sum() / 1e3
        return out


def delta(before: dict[str, float], after: dict[str, float]) -> dict[str, float]:
    """Counter growth between two snapshots, never negative."""
    return {k: max(0.0, after[k] - before.get(k, 0.0)) for k in after}
