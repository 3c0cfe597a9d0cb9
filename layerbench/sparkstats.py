"""Spark's own job and plan metrics, read from outside the program.

Two sources, both on the driver:

* the SQL status store (``sharedState().statusStore()``): one record per
  executed query with its plan, interval, job ids and the physical plan's
  SQL metrics (Python boot/init/run time, Arrow bytes each way,
  whole-stage-codegen pipeline time, rows);
* the core status store: one record per job with its interval, call site,
  task count and failed-task count.

A metric's exact value comes from its live accumulator when the plan still
holds it; otherwise from the status store's formatted string.
"""

from __future__ import annotations

import re

_UNITS = {
    "ms": 1.0, "s": 1e3, "m": 60e3, "h": 3600e3,  # timing -> ms
    "B": 1.0, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,  # size -> bytes
}
_NUM_RE = re.compile(r"([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]+)?")

#: SQL metric names (Spark 4.x) -> short keys
PY_BOOT = "time to start Python workers"
PY_INIT = "time to initialize Python workers"
PY_RUN = "time to run Python workers"
PY_SENT = "data sent to Python workers"
PY_RECV = "data returned from Python workers"
WSCG_DURATION = "duration"


def _iter(seq):
    it = seq.iterator()
    while it.hasNext():
        yield it.next()


def _opt_ms(opt) -> int | None:
    return opt.get().getTime() if opt.isDefined() else None


def parse_metric(text: str) -> float:
    """'total (min, med, max ...)\\n1.2 s (...)' / '8,000' / '3.3 MiB' ->
    ms, bytes or count."""
    body = text.split("\n", 1)[1] if "\n" in text else text
    m = _NUM_RE.search(body)
    if m is None:
        return 0.0
    value = float(m.group(1).replace(",", ""))
    return value * _UNITS.get(m.group(2) or "", 1.0)


class SparkStats:
    def __init__(self, spark) -> None:
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._core = spark.sparkContext._jsc.sc().statusStore()
        self._acc = spark.sparkContext._jvm.org.apache.spark.util.AccumulatorContext

    def mark(self) -> tuple[int, int]:
        """(last SQL execution id, last job id) seen so far."""
        ex = self._sql.executionsList()
        last_ex = ex.apply(ex.size() - 1).executionId() if ex.size() else -1
        jobs = [j.jobId() for j in _iter(self._core.jobsList(None))]
        return last_ex, max(jobs, default=-1)

    def jobs_since(self, mark: tuple[int, int]) -> list[dict]:
        out = []
        for j in _iter(self._core.jobsList(None)):
            if j.jobId() <= mark[1]:
                continue
            out.append({
                "id": j.jobId(),
                "call_site": j.name(),
                "start_ms": _opt_ms(j.submissionTime()),
                "end_ms": _opt_ms(j.completionTime()),
                "tasks": j.numTasks(),
                "failed_tasks": j.numFailedTasks(),
            })
        return sorted(out, key=lambda d: d["id"])

    def _metric_value(self, metric, text: str | None) -> float:
        acc = self._acc.get(metric.accumulatorId())
        if acc.isDefined():
            v = float(acc.get().value())
            return v / 1e6 if metric.metricType() == "nsTiming" else v
        return parse_metric(text) if text else 0.0

    def executions_since(self, mark: tuple[int, int]) -> list[dict]:
        out = []
        ex = self._sql.executionsList()
        for i in range(ex.size() - 1, -1, -1):
            e = ex.apply(i)
            eid = e.executionId()
            if eid <= mark[0]:
                break
            values = self._sql.executionMetrics(eid)
            nodes = []
            for node in _iter(self._sql.planGraph(eid).allNodes()):
                ms = {}
                for m in _iter(node.metrics()):
                    v = values.get(m.accumulatorId())
                    ms[m.name()] = self._metric_value(m, v.get() if v.isDefined() else None)
                inner = ([n.name() for n in _iter(node.nodes())]
                         if node.getClass().getSimpleName() == "SparkPlanGraphCluster" else [])
                ms["_scan"] = any(n.startswith(("Scan", "ColumnarToRow", "InMemoryTableScan"))
                                  for n in inner)
                nodes.append((node.name(), ms))
            out.append({
                "plan": e.physicalPlanDescription(),
                "start_ms": e.submissionTime(),
                "end_ms": _opt_ms(e.completionTime()),
                "jobs": sorted(int(j) for j in _iter(e.jobs().keySet())),
                "nodes": nodes,
            })
        return out[::-1]


def sum_metric(executions: list[dict], node_prefix: str, metric: str,
               skip_scans: bool = False) -> float:
    """Sum of ``metric`` over plan nodes named ``node_prefix*``; with
    ``skip_scans``, codegen stages that contain a scan are left out."""
    return sum(
        ms.get(metric, 0.0)
        for e in executions for name, ms in e["nodes"]
        if name.startswith(node_prefix) and not (skip_scans and ms["_scan"])
    )


def union_ms(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of [start, end] intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total
