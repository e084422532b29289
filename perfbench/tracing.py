"""Per-call layer tracing from outside the library.

Each traced call runs in its own Spark job group. When it returns, the
tracer drains the listener bus and reads, from the application status
store (works with ``spark.ui.enabled=false``):

- per stage: executor run and CPU time, shuffle bytes written, and the
  per-task run times (``task_skew`` = max / median over the call's
  busiest stage);
- per SQL execution: the Python-node metrics ("data sent to / returned
  from Python workers", worker start, init and run time) and the rows
  that entered each Python node (the ``number of output rows`` of the
  nearest child that counts rows).

Spans are kept in memory; ``run.py`` writes them out when the run ends.
With tracing off, ``span`` only times the call, so the untraced run pays
nothing for it. Each span names its ``parent``: the workload phase that
issued the call.
"""

from __future__ import annotations

import re
import statistics
import time
from contextlib import contextmanager

_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
          "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0, "min": 60.0}
_TOTAL = re.compile(r"([0-9][0-9.,]*)\s*([A-Za-z]+)")

PY_METRICS = {
    "data sent to Python workers": "to_python_bytes",
    "data returned from Python workers": "from_python_bytes",
    "time to start Python workers": "py_worker_s",
    "time to initialize Python workers": "py_worker_s",
    "time to run Python workers": "py_run_s",
}
ROW_METRICS = ("number of output rows", "records read")
PY_NODES = ("Python", "Pandas", "Arrow")


def parse_metric(text: str) -> float:
    """Total of a formatted SQL metric ('1.2 MiB' or 'total (...)\\n3.0 s (...)')."""
    line = text.strip().splitlines()[-1]
    m = _TOTAL.match(line.strip())
    if not m:
        return float(line.split()[0].replace(",", ""))
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


def _seq(s) -> list:
    return [s.apply(i) for i in range(s.size())]


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.spans: list[dict] = []
        self.parent = ""
        self._n = 0

    @contextmanager
    def span(self, name: str, input_rows: int = 0):
        """Time one call; when tracing, tag its jobs and record its layers.
        Yields a dict that receives ``wall_s`` (and, traced, the layer
        measures) once the block ends."""
        rec: dict = {"name": name, "parent": self.parent, "traced": self.enabled}
        self.spans.append(rec)
        if not self.enabled:
            t0 = time.perf_counter()
            yield rec
            rec["wall_s"] = time.perf_counter() - t0
            return
        self._n += 1
        group = f"perfbench-{self._n}"
        self.sc.setJobGroup(group, name, interruptOnCancel=False)
        start = time.time()
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["wall_s"] = time.perf_counter() - t0
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        rec.update(start=start, end=start + rec["wall_s"], group=group,
                   input_rows=input_rows)
        rec.update(self._layers(group, input_rows))

    def _layers(self, group: str, input_rows: int) -> dict:
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty(60_000)
        store = jsc.statusStore()
        gw = self.sc._gateway
        no_q = gw.new_array(gw.jvm.double, 0)
        job_ids, stage_ids = set(), set()
        for j in _seq(store.jobsList(None)):
            g = j.jobGroup()
            if g.isDefined() and g.get() == group:
                job_ids.add(j.jobId())
                stage_ids.update(_seq(j.stageIds()))
        out = {"jobs": len(job_ids), "stages": 0, "exec_run_s": 0.0,
               "exec_cpu_s": 0.0, "shuffle_bytes": 0, "task_skew": 1.0}
        busiest = (-1, None)
        for sid in stage_ids:
            for sd in _seq(store.stageData(sid, False, None, False, no_q)):
                if str(sd.status()) != "COMPLETE":
                    continue
                out["stages"] += 1
                out["exec_run_s"] += sd.executorRunTime() / 1e3
                out["exec_cpu_s"] += sd.executorCpuTime() / 1e9
                out["shuffle_bytes"] += sd.shuffleWriteBytes()
                if sd.executorRunTime() > busiest[0]:
                    busiest = (sd.executorRunTime(), (sid, sd.attemptId()))
        if busiest[1] is not None:
            times = []
            for t in _seq(store.taskList(busiest[1][0], busiest[1][1], 100_000)):
                tm = t.taskMetrics()
                if tm.isDefined():
                    times.append(tm.get().executorRunTime())
            if len(times) > 1 and statistics.median(times) > 0:
                out["task_skew"] = max(times) / statistics.median(times)
        out.update(self._python_metrics(job_ids))
        rows = out.pop("pipe_rows")
        out["pipe_rows_per_input_row"] = rows / input_rows if input_rows else 0.0
        return out

    def _python_metrics(self, job_ids: set) -> dict:
        out = {v: 0.0 for v in PY_METRICS.values()}
        out["pipe_rows"] = 0.0
        sql = self.spark._jsparkSession.sharedState().statusStore()
        for ex in _seq(sql.executionsList()):
            jobs = ex.jobs().keySet()
            if not any(jobs.contains(j) for j in job_ids):
                continue
            eid = ex.executionId()
            graph = sql.planGraph(eid)
            nodes = {n.id(): n for n in _seq(graph.allNodes())}
            children: dict[int, list[int]] = {}
            for e in _seq(graph.edges()):
                children.setdefault(e.toId(), []).append(e.fromId())
            values = dict(_iter_map(sql.executionMetrics(eid)))
            for node in nodes.values():
                if not any(k in node.name() for k in PY_NODES):
                    continue
                metrics = _seq(node.metrics())
                if not any(m.name() in PY_METRICS for m in metrics):
                    continue
                for m in metrics:
                    key = PY_METRICS.get(m.name())
                    if key and m.accumulatorId() in values:
                        out[key] += parse_metric(values[m.accumulatorId()])
                out["pipe_rows"] += _rows_into(node.id(), nodes, children, values)
        return out


def _iter_map(m):
    it = m.iterator()
    while it.hasNext():
        kv = it.next()
        yield kv._1(), kv._2()


def _rows_into(node_id, nodes, children, values, depth: int = 0) -> float:
    """Rows entering ``node_id``: output rows of its nearest counting child."""
    total = 0.0
    for c in children.get(node_id, []):
        counted = [m for m in _seq(nodes[c].metrics()) if m.name() in ROW_METRICS
                   and m.accumulatorId() in values]
        if counted:
            total += parse_metric(values[counted[0].accumulatorId()])
        elif depth < 8:
            total += _rows_into(c, nodes, children, values, depth + 1)
    return total


def persistent_rdds(spark) -> set[int]:
    return {int(k) for k in spark.sparkContext._jsc.getPersistentRDDs().keySet()}


def release_cached(spark, keep: set[int], result=None) -> int:
    """Unpersist what a call left cached (besides ``keep``); returns how
    many RDDs it had left. A returned DataFrame is unpersisted the way a
    caller would; anything else left is unpersisted at the RDD level."""
    left = persistent_rdds(spark) - keep
    if not left:
        return 0
    if hasattr(result, "unpersist"):
        result.unpersist(blocking=True)
    rdds = spark.sparkContext._jsc.getPersistentRDDs()
    for rid in persistent_rdds(spark) - keep:
        rdds.get(rid).unpersist(True)
    return len(left)
