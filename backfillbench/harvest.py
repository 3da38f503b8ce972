"""Read Spark's own metrics from the application's status stores.

Works with ``spark.ui.enabled=false``: the SQL status store
(``sharedState().statusStore()``) and the core status store
(``SparkContext.statusStore()``) are fed by listeners whether or not the
UI serves them. Nothing here touches the engine; it only reads what Spark
recorded about the jobs the engine ran.

Spark reports SQL metrics as formatted strings (``"825.0 B"``, ``"10 ms"``,
``"1,234"``, or ``"total (min, med, max (stageId: taskId))\\n1.2 s (...)"``);
:func:`parse_metric` turns them into plain numbers (bytes, seconds, counts).
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError

_SIZE = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40, "PiB": 1 << 50}
_TIME = {"ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0}
_VALUE = re.compile(r"^\s*(-?[\d,]*\.?\d+(?:[eE][-+]?\d+)?)\s*([A-Za-z]*)")


def parse_metric(text: str | None) -> float | None:
    """Spark's formatted SQL metric value → number (bytes, seconds or count).

    For aggregated task metrics (``total (min, med, max ...)`` header) the
    total is returned. Unknown formats return None."""
    if text is None:
        return None
    lines = text.strip().splitlines()
    if not lines:
        return None
    line = lines[1] if lines[0].startswith("total") and len(lines) > 1 else lines[0]
    m = _VALUE.match(line)
    if m is None:
        return None
    num = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    if not unit:
        return num
    if unit in _SIZE:
        return num * _SIZE[unit]
    if unit in _TIME:
        return num * _TIME[unit]
    return None


@dataclass
class Node:
    id: int
    name: str
    desc: str
    metrics: dict[str, float] = field(default_factory=dict)
    children: list[int] = field(default_factory=list)

    def m(self, key: str) -> float:
        return self.metrics.get(key) or 0.0


@dataclass
class Execution:
    id: int
    start_ms: int
    end_ms: int
    nodes: list[Node]

    def input_rows(self, node: Node) -> float:
        """Rows flowing into ``node``: output rows of the nearest node below
        it on each input path that counts its rows."""
        by_id = {n.id: n for n in self.nodes}
        total, todo = 0.0, list(node.children)
        while todo:
            c = by_id.get(todo.pop())
            if c is None:
                continue
            if "number of output rows" in c.metrics:
                total += c.metrics["number of output rows"]
            else:
                todo.extend(c.children)
        return total


@dataclass
class Stage:
    id: int
    status: str
    run_s: float
    gc_s: float
    shuffle_write_bytes: int
    shuffle_write_records: int
    spill_bytes: int


@dataclass
class Job:
    id: int
    start_ms: int
    end_ms: int
    stages: list[Stage]


def _opt(o, default=None):
    return o.get() if o.isDefined() else default


def _seq(s) -> list:
    return [s.apply(i) for i in range(s.size())]


class Harvester:
    """Incremental reader: each :meth:`take` returns the SQL executions and
    jobs that started since the previous call, once Spark's listener bus has
    delivered their end events."""

    def __init__(self, spark):
        self._sc = spark.sparkContext._jsc.sc()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._core = self._sc.statusStore()
        self.last_exec = self._max_exec_id()
        self.last_job = self._max_job_id()

    def _drain(self) -> None:
        self._sc.listenerBus().waitUntilEmpty()

    def _max_exec_id(self) -> int:
        self._drain()
        ids = [e.executionId() for e in _seq(self._sql.executionsList())]
        return max(ids, default=-1)

    def _max_job_id(self) -> int:
        ids = [j.jobId() for j in _seq(self._core.jobsList(None))]
        return max(ids, default=-1)

    def take(self) -> tuple[list[Execution], list[Job]]:
        self._drain()
        execs = []
        for e in _seq(self._sql.executionsList()):
            eid = e.executionId()
            if eid <= self.last_exec:
                continue
            execs.append(self._execution(e))
        jobs = []
        for j in _seq(self._core.jobsList(None)):
            jid = j.jobId()
            if jid <= self.last_job:
                continue
            jobs.append(self._job(j))
        if execs:
            self.last_exec = max(x.id for x in execs)
        if jobs:
            self.last_job = max(x.id for x in jobs)
        execs.sort(key=lambda x: x.id)
        jobs.sort(key=lambda x: x.id)
        return execs, jobs

    def _execution(self, e) -> Execution:
        eid = e.executionId()
        values = self._sql.executionMetrics(eid)
        graph = self._sql.planGraph(eid)
        children: dict[int, list[int]] = {}
        for edge in _seq(graph.edges()):  # an edge runs from a child to its parent
            children.setdefault(int(edge.toId()), []).append(int(edge.fromId()))
        nodes = []
        for n in _seq(graph.allNodes()):
            ms = {}
            for m in _seq(n.metrics()):
                v = parse_metric(_opt(values.get(m.accumulatorId())))
                if v is not None:
                    ms[m.name()] = v
            nodes.append(Node(int(n.id()), n.name(), n.desc(), ms, children.get(int(n.id()), [])))
        end = _opt(e.completionTime())
        return Execution(
            id=eid,
            start_ms=int(e.submissionTime()),
            end_ms=int(end.getTime()) if end is not None else int(e.submissionTime()),
            nodes=nodes,
        )

    def _job(self, j) -> Job:
        stages = []
        for sid in _seq(j.stageIds()):
            try:
                s = self._core.lastStageAttempt(int(sid))
            except Py4JJavaError:  # a stage the store has not kept (NoSuchElementException)
                continue
            stages.append(Stage(
                id=int(sid),
                status=s.status().toString(),
                run_s=s.executorRunTime() / 1e3,
                gc_s=s.jvmGcTime() / 1e3,
                shuffle_write_bytes=int(s.shuffleWriteBytes()),
                shuffle_write_records=int(s.shuffleWriteRecords()),
                spill_bytes=int(s.diskBytesSpilled()),
            ))
        sub = _opt(j.submissionTime())
        end = _opt(j.completionTime())
        start_ms = int(sub.getTime()) if sub is not None else 0
        return Job(
            id=int(j.jobId()),
            start_ms=start_ms,
            end_ms=int(end.getTime()) if end is not None else start_ms,
            stages=stages,
        )
