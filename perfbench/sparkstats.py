"""Read Spark's own job, stage and SQL metrics for the jobs a call launched.

Two internal Spark APIs, both readable with the UI off:

* ``AppStatusStore`` (``sc.statusStore()``): job and stage data. Jobs are
  attributed to a call through the job group the benchmark sets around
  it (``SparkContext.setJobGroup``); Spark carries the group into the
  broadcast and subquery threads a query starts.
* ``SQLAppStatusStore`` (``sharedState.statusStore()``): the plan graph of
  every SQL execution with its aggregated metric values. Executions are
  attributed to a call by their id: the driver runs one call at a time.

Both are pinned to the Spark release in ``SPARK_VERSION`` by
``test_perfbench.py``, so a Spark upgrade that renames a field or a
metric fails that test instead of reporting zeros.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

SPARK_VERSION = "4.1.2"

# SQL metric display names of Spark's Python nodes (PythonSQLMetrics),
# mapped to the names the benchmark reports.
PYTHON_METRICS = {
    "time to run Python workers": "python.udf_s",
    "time to start Python workers": "python.boot_s",
    "time to initialize Python workers": "python.init_s",
    "data sent to Python workers": "python.bytes_sent",
    "data returned from Python workers": "python.bytes_recv",
}
ROWS = "number of output rows"

_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
          "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_VALUE = re.compile(r"^(-?[0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]*)")


def parse_metric(text: str) -> float:
    """Aggregated SQL metric string -> number (bytes, seconds or count).

    Spark formats a metric as either a bare value ("1,504", "0 ms") or
    "total (min, med, max ...)\\n<total> (<min>, ...)"; the total is the
    first value on the last line."""
    m = _VALUE.match(text.strip().split("\n")[-1])
    if m is None:
        raise ValueError(f"unparseable SQL metric value: {text!r}")
    num = float(m.group(1).replace(",", ""))
    return num * _UNITS[m.group(2)] if m.group(2) else num


@dataclass
class SqlNode:
    id: int
    name: str
    metrics: dict            # display name -> parsed value
    children: list = field(default_factory=list)   # ids of input nodes


@dataclass
class CallStats:
    """Spark-side record of one call (all values summed over its jobs)."""
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    covered_s: float = 0.0       # union of the call's job intervals
    run_s: float = 0.0           # executor run time
    cpu_s: float = 0.0           # executor JVM CPU time
    gc_s: float = 0.0
    shuffle_read_bytes: float = 0.0
    shuffle_write_bytes: float = 0.0
    spill_bytes: float = 0.0
    widest_tasks: int = 0
    max_over_median: float = 0.0  # task run time skew of the widest stage
    nodes: list = field(default_factory=list)   # SqlNode of every execution


class SparkStats:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        jsc = self.sc._jsc.sc()
        self.store = jsc.statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()
        gw = self.sc._gateway
        self._no_status = gw.jvm.java.util.ArrayList()
        self._no_quantiles = gw.new_array(gw.jvm.double, 0)
        self._exec_mark = self._exec_count()

    def _exec_count(self) -> int:
        return int(self.sql.executionsCount())

    def begin(self, group: str) -> None:
        self.sc.setJobGroup(group, group)
        self._exec_mark = self._exec_count()

    def end(self, group: str) -> CallStats:
        # the status stores are fed asynchronously by the listener bus
        self.sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)
        st = CallStats()
        intervals = []
        stage_ids = set()
        for jid in self.sc.statusTracker().getJobIdsForGroup(group):
            job = self.store.job(jid)
            st.jobs += 1
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined() and done.isDefined():
                intervals.append((sub.get().getTime(), done.get().getTime()))
            it = job.stageIds().iterator()
            while it.hasNext():
                stage_ids.add(int(it.next()))
        st.covered_s = _union_ms(intervals) / 1000.0
        widest = None
        for sid in sorted(stage_ids):
            attempts = self.store.stageData(sid, False, self._no_status, False,
                                            self._no_quantiles)
            it = attempts.iterator()
            while it.hasNext():
                s = it.next()
                if str(s.status()) == "SKIPPED":
                    continue
                st.stages += 1
                n = int(s.numTasks())
                st.tasks += n
                st.run_s += s.executorRunTime() / 1000.0
                st.cpu_s += s.executorCpuTime() / 1e9
                st.gc_s += s.jvmGcTime() / 1000.0
                st.shuffle_read_bytes += s.shuffleReadBytes()
                st.shuffle_write_bytes += s.shuffleWriteBytes()
                st.spill_bytes += s.memoryBytesSpilled() + s.diskBytesSpilled()
                if widest is None or n > widest[0]:
                    widest = (n, sid, int(s.attemptId()))
        if widest is not None:
            st.widest_tasks = widest[0]
            st.max_over_median = self._task_skew(widest[1], widest[2])
        st.nodes = self._sql_nodes()
        return st

    def _task_skew(self, sid: int, attempt: int) -> float:
        tasks = self.store.taskList(sid, attempt, 1 << 20)
        runs = []
        it = tasks.iterator()
        while it.hasNext():
            tm = it.next().taskMetrics()
            if tm.isDefined():
                runs.append(tm.get().executorRunTime())
        if not runs:
            return 0.0
        runs.sort()
        med = runs[len(runs) // 2]
        return runs[-1] / med if med > 0 else float(runs[-1] > 0)

    def _sql_nodes(self) -> list:
        count = self._exec_count()
        out = []
        if count <= self._exec_mark:
            return out
        execs = self.sql.executionsList(self._exec_mark, count - self._exec_mark)
        it = execs.iterator()
        while it.hasNext():
            eid = it.next().executionId()
            values = self.sql.executionMetrics(eid)
            graph = self.sql.planGraph(eid)
            nodes = {}
            nit = graph.allNodes().iterator()
            while nit.hasNext():
                n = nit.next()
                metrics = {}
                mit = n.metrics().iterator()
                while mit.hasNext():
                    m = mit.next()
                    v = values.get(m.accumulatorId())
                    if v.isDefined():
                        metrics[m.name()] = parse_metric(v.get())
                nodes[int(n.id())] = SqlNode(int(n.id()), n.name(), metrics)
            eit = graph.edges().iterator()
            while eit.hasNext():
                e = eit.next()
                if int(e.toId()) in nodes:
                    nodes[int(e.toId())].children.append(int(e.fromId()))
            out.append(nodes)
        self._exec_mark = count
        return out


def _union_ms(intervals) -> float:
    """Length of the union of [start, end] intervals."""
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b > end:
            total += b - max(a, end)
            end = b
    return total


def is_python_node(node: SqlNode) -> bool:
    return "time to run Python workers" in node.metrics


def python_totals(st: CallStats) -> dict:
    """Python/Arrow boundary metrics summed over every Python node."""
    out = dict.fromkeys(PYTHON_METRICS.values(), 0.0)
    out["python.rows_recv"] = 0.0
    for nodes in st.nodes:
        for n in nodes.values():
            if is_python_node(n):
                for disp, key in PYTHON_METRICS.items():
                    out[key] += n.metrics.get(disp, 0.0)
                out["python.rows_recv"] += n.metrics.get(ROWS, 0.0)
    return out


def node_rows(st: CallStats, names: tuple) -> list:
    """Output row counts of every node whose name is in ``names``."""
    return [n.metrics.get(ROWS, 0.0) for nodes in st.nodes
            for n in nodes.values() if n.name in names]


def _below(nodes: dict, n: SqlNode):
    """Nodes under ``n`` (its inputs, transitively), nearest first."""
    frontier, seen = list(n.children), set()
    while frontier:
        c = nodes.get(frontier.pop(0))
        if c is None or c.id in seen:
            continue
        seen.add(c.id)
        yield c
        frontier.extend(c.children)


def python_inputs(st: CallStats, name: str) -> list:
    """Rows sent to each Python node called ``name`` that consumes a
    join's output (the refine step, not a per-polygon cover UDF): the
    output rows of its nearest input node that counts rows."""
    out = []
    for nodes in st.nodes:
        for n in nodes.values():
            if n.name != name or not is_python_node(n):
                continue
            below = list(_below(nodes, n))
            if any(b.name in JOIN_NODES for b in below):
                out.append(next((b.metrics[ROWS] for b in below
                                 if ROWS in b.metrics), 0.0))
    return out


JOIN_NODES = ("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin",
              "BroadcastNestedLoopJoin", "CartesianProduct")
