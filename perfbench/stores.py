"""Per-job reads of Spark's own status stores, through py4j.

* ``sharedState().statusStore()`` (SQL) gives each execution's plan graph
  and per-node SQL metrics: rows, shuffle records and bytes, spill, peak
  memory, aggregation build time, broadcast build time, Python eval time.
* ``SparkContext.statusStore()`` gives per-stage task totals: executor run
  time, GC time, shuffle fetch wait, spill and failed tasks.

Both stores work with ``spark.ui.enabled=false``. Raw metric values come
from the live accumulators; when one has been collected the formatted value
in the SQL store is parsed instead. Times are kept in milliseconds.
"""

from __future__ import annotations

import re
from collections import defaultdict

_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
          "ms": 1, "s": 1000, "m": 60_000, "h": 3_600_000}
_NUM = re.compile(r"(-?[\d,]+(?:\.\d+)?)\s*([A-Za-z]*)")


def parse_metric(text: str) -> float:
    """Value of a formatted SQL metric: the total on the last line. Both
    timing kinds are shown, and returned, in milliseconds."""
    line = text.strip().splitlines()[-1]
    m = _NUM.search(line)
    if not m:
        return 0.0
    v = float(m.group(1).replace(",", ""))
    return v * _UNITS.get(m.group(2), 1)


class Stores:
    def __init__(self, spark):
        jsc = spark.sparkContext._jsc.sc()
        self._bus = jsc.listenerBus()
        self._stages = jsc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._acc = spark._jvm.org.apache.spark.util.AccumulatorContext
        self._seen = self._sql.executionsCount()

    def mark(self) -> None:
        """Forget every execution so far; ``take`` returns later ones."""
        self._bus.waitUntilEmpty()
        self._seen = self._sql.executionsCount()

    def take(self) -> list[dict]:
        """Executions finished since the last ``mark``/``take``, each as
        ``{"id", "nodes": [(node name, {metric: raw value})], "stages"}``."""
        self._bus.waitUntilEmpty()
        n = self._sql.executionsCount()
        if n == self._seen:
            return []
        lst = self._sql.executionsList(self._seen, n - self._seen)
        self._seen = n
        return [self._execution(lst.apply(i)) for i in range(lst.size())]

    def _execution(self, ex) -> dict:
        eid = ex.executionId()
        shown = self._sql.executionMetrics(eid)
        graph = self._sql.planGraph(eid).allNodes()
        nodes = []
        for i in range(graph.size()):
            node = graph.apply(i)
            ms = node.metrics()
            vals = {}
            for j in range(ms.size()):
                m = ms.apply(j)
                acc = self._acc.get(m.accumulatorId())
                if acc.isDefined():
                    v = float(acc.get().value())
                    if m.metricType() == "nsTiming":
                        v /= 1e6
                else:
                    s = shown.get(m.accumulatorId())
                    v = parse_metric(s.get()) if s.isDefined() else 0.0
                vals[m.name()] = v
            nodes.append((node.name(), vals))
        stages = []
        it = ex.stages().iterator()
        while it.hasNext():
            sd = self._stages.lastStageAttempt(it.next())
            stages.append({
                "run_ms": sd.executorRunTime(), "gc_ms": sd.jvmGcTime(),
                "fetch_wait_ms": sd.shuffleFetchWaitTime(),
                "spill_bytes": sd.memoryBytesSpilled() + sd.diskBytesSpilled(),
                "failed_tasks": sd.numFailedTasks()})
        return {"id": eid, "nodes": nodes, "stages": stages}


def profile(executions: list[dict]) -> dict[str, float]:
    """Sum the metrics of a job's executions into one flat profile."""
    p: dict[str, float] = defaultdict(float)
    for ex in executions:
        for st in ex["stages"]:
            p["task_s"] += st["run_ms"] / 1e3
            p["gc_s"] += st["gc_ms"] / 1e3
            p["fetch_wait_s"] += st["fetch_wait_ms"] / 1e3
            p["stage_spill_bytes"] += st["spill_bytes"]
            p["tasks_failed"] += st["failed_tasks"]
        for name, m in ex["nodes"]:
            if name.startswith("Scan parquet"):
                p["scan_rows"] += m.get("number of output rows", 0)
                p["scan_bytes"] += m.get("size of files read", 0)
            elif name == "BroadcastExchange":
                p["broadcast_bytes"] += m.get("data size", 0)
                p["broadcast_build_s"] += sum(
                    m.get(k, 0) for k in ("time to collect", "time to build",
                                          "time to broadcast")) / 1e3
            elif name == "BroadcastHashJoin":
                p["join_rows"] += m.get("number of output rows", 0)
            elif "EvalPython" in name:
                p["python_rows"] += m.get("number of output rows", 0)
                p["python_s"] += m.get("time to run Python workers", 0) / 1e3
            elif name == "Exchange":
                p["shuffle_records"] += m.get("shuffle records written", 0)
                p["shuffle_bytes"] += m.get("shuffle bytes written", 0)
            elif name in ("HashAggregate", "ObjectHashAggregate", "SortAggregate"):
                p["agg_build_s"] += m.get("time in aggregation build", 0) / 1e3
                p["agg_peak_mem_bytes"] += m.get("peak memory", 0)
                p["agg_spill_bytes"] += m.get("spill size", 0)
    return dict(p)
