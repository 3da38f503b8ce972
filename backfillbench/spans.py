"""Spans around public engine calls, and the per-layer metrics derived from
them.

A :class:`Tracer` records one span per public call or materialization
(name, start, end, parent, run id). When tracing is on, each span also
takes the SQL executions and jobs Spark ran inside it from the status
stores (see ``harvest.py``): calls run one at a time on the driver, so the
executions and jobs that started between a span's start and end are that
span's. With tracing off a span costs nothing and records nothing.
"""

from __future__ import annotations

import re
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from harvest import Execution, Harvester, Job, Node


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: str | None = None
    run_id: str = ""
    iteration: int = 0
    execs: list[Execution] = field(default_factory=list)
    jobs: list[Job] = field(default_factory=list)

    @property
    def wall(self) -> float:
        return self.end - self.start

    def record(self) -> dict:
        return {"name": self.name, "start": self.start, "end": self.end, "parent": self.parent,
                "run_id": self.run_id, "iteration": self.iteration,
                "executions": [e.id for e in self.execs], "jobs": [j.id for j in self.jobs]}


class Tracer:
    def __init__(self, harvester: Harvester | None, run_id: str):
        self.harvester = harvester
        self.run_id = run_id
        self.spans: list[Span] = []
        self.iteration = 0
        self.harvest_s: dict[int, float] = {}  # iteration -> time spent reading the stores
        self._stack: list[Span] = []

    @property
    def on(self) -> bool:
        return self.harvester is not None

    @contextmanager
    def span(self, name: str):
        if not self.on:
            yield
            return
        s = Span(name, time.time(), parent=self._stack[-1].name if self._stack else None,
                 run_id=self.run_id, iteration=self.iteration)
        self._stack.append(s)
        try:
            yield
        finally:
            s.end = time.time()
            self._stack.pop()
            s.execs, s.jobs = self.harvester.take()
            self.spans.append(s)
            self.harvest_s[s.iteration] = self.harvest_s.get(s.iteration, 0.0) + time.time() - s.end

    def start_iteration(self, i: int) -> None:
        """Begin iteration ``i``; drops what Spark ran since the last span
        (an untraced iteration's work) so no span claims it."""
        self.iteration = i
        if self.on:
            self.harvester.take()

    def of_iteration(self, i: int) -> list[Span]:
        return [s for s in self.spans if s.iteration == i]


# ------------------------------------------------------------ layer metrics
PER_LAYER = {
    "session.start_s": "s",
    "session.python_init_s": "s",
    "sources.scan.scans": "count",
    "sources.scan.bytes": "B",
    "sources.scan.s": "s",
    "pipelines.webtext.build_s": "s",
    "pipelines.webtext.build_jobs": "count",
    "pipelines.webtext.payload_bytes": "B",
    "pipelines.webtext.payload_s": "s",
    "operators.features.window_ops": "count",
    "operators.features.sort_s": "s",
    "operators.temporal.python_s": "s",
    "operators.temporal.arrow_bytes_in": "B",
    "operators.temporal.arrow_bytes_out": "B",
    "operators.temporal.rows_out": "count",
    "operators.tiled.python_s": "s",
    "operators.tiled.arrow_bytes_in": "B",
    "operators.tiled.arrow_bytes_out": "B",
    "operators.tiled.events_per_tile": "ratio",
    "operators.groupby.agg_s": "s",
    "operators.groupby.ir_rows": "count",
    "runner.steps": "count",
    "runner.jobs": "count",
    "runner.driver_s": "s",
    "sources.warehouse.write_s": "s",
    "sources.warehouse.bytes": "B",
    "sources.warehouse.files": "count",
    "operators.upload.upload_s": "s",
    "operators.upload.upload_bytes": "B",
    "operators.upload.fetch_s": "s",
    "operators.upload.fetch_python_s": "s",
    "operators.upload.fetch_rows": "count",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.exchanges": "count",
    "spark.shuffle_bytes": "B",
    "spark.shuffle_records": "count",
    "spark.spill_bytes": "B",
    "spark.broadcast_bytes": "B",
    "spark.task_s": "s",
    "spark.gc_s": "s",
    "spark.core_util": "ratio",
    "spark.peak_rss_mb": "MB",
    "spark.cold_s": "s",
    "spark.warm_cpu_s": "s",
    "trace.overhead_s": "s",
}
# counts repeat exactly run to run; they are taken from the last traced
# iteration, timings are the median over traced warm iterations
COUNTS = {k for k, u in PER_LAYER.items() if u == "count"}

DENSE_SPANS = {"pipelines.webtext.backfill_features", "materialize"}
JOIN_SPANS = {"runner.run_join_backfill"}
FETCH_SPANS = {"operators.upload.fetch_features", "fetch_collect"}
UPLOAD_SPANS = {"operators.upload.group_by_upload", "upload_write"}

PY_RUN, PY_IN, PY_OUT = "time to run Python workers", "data sent to Python workers", "data returned from Python workers"
PY_BOOT, PY_INIT = "time to start Python workers", "time to initialize Python workers"
ROWS = "number of output rows"
DAILY_IR = re.compile(r"keys=\[[^\]]*__day_idx")  # groupby's per-(keys, day) IR aggregates


def _nodes(spans: list[Span]):
    for s in spans:
        for e in s.execs:
            for n in e.nodes:
                yield s, e, n


def is_python(n: Node) -> bool:
    return any(t in n.name for t in ("InPandas", "InArrow", "EvalPython"))


def is_tiled(n: Node) -> bool:
    """The tiled kernel's cogroup input carries the ``__kind`` tile/head
    discriminator; the raw kernel's does not."""
    return "__kind" in n.desc


def is_agg(n: Node) -> bool:
    return n.name.strip().endswith("Aggregate")


def is_write(n: Node) -> bool:
    return "InsertIntoHadoopFsRelation" in n.name


def _union_s(intervals: list[tuple[float, float]]) -> float:
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def python_init_s(spans: list[Span]) -> float:
    return sum(n.m(PY_BOOT) + n.m(PY_INIT) for _, _, n in _nodes(spans) if is_python(n))


def layer_metrics(spans: list[Span], wall: float, nproc: int) -> dict[str, float]:
    """Per-layer metrics of one iteration from its spans. A layer whose
    public call the workload does not make reads 0."""
    m = {k: 0.0 for k in PER_LAYER}
    for s, e, n in _nodes(spans):
        name = n.name.strip()
        if name.startswith("Scan"):
            m["sources.scan.scans"] += 1
            m["sources.scan.bytes"] += n.m("size of files read")
            m["sources.scan.s"] += n.m("scan time")
        if name == "Exchange":
            m["spark.exchanges"] += 1
        if name == "BroadcastExchange":
            m["spark.broadcast_bytes"] += n.m("data size")
        if s.name in DENSE_SPANS:
            if name == "BroadcastExchange":
                m["pipelines.webtext.payload_bytes"] += n.m("data size")
                m["pipelines.webtext.payload_s"] += (
                    n.m("time to collect") + n.m("time to build") + n.m("time to broadcast"))
            elif name == "Exchange" and "__th" in n.desc:
                m["pipelines.webtext.payload_bytes"] += n.m("shuffle bytes written")
            if name == "Window":
                m["operators.features.window_ops"] += 1
            if name == "Sort":
                m["operators.features.sort_s"] += n.m("sort time")
            if is_python(n):
                m["operators.temporal.python_s"] += n.m(PY_RUN)
                m["operators.temporal.arrow_bytes_in"] += n.m(PY_IN)
                m["operators.temporal.arrow_bytes_out"] += n.m(PY_OUT)
                m["operators.temporal.rows_out"] += n.m(ROWS)
        if s.name in JOIN_SPANS:
            if is_python(n):
                layer = "operators.tiled" if is_tiled(n) else "operators.temporal"
                m[f"{layer}.python_s"] += n.m(PY_RUN)
                m[f"{layer}.arrow_bytes_in"] += n.m(PY_IN)
                m[f"{layer}.arrow_bytes_out"] += n.m(PY_OUT)
                if layer == "operators.temporal":
                    m["operators.temporal.rows_out"] += n.m(ROWS)
            if is_agg(n) and DAILY_IR.search(n.desc):
                m["operators.groupby.agg_s"] += n.m("time in aggregation build")
                if "partial_" not in n.desc:
                    m["operators.groupby.ir_rows"] += n.m(ROWS)
            if is_write(n):
                m["runner.steps"] += 1
                m["sources.warehouse.write_s"] += (e.end_ms - e.start_ms) / 1e3
                m["sources.warehouse.bytes"] += n.m("written output")
                m["sources.warehouse.files"] += n.m("number of written files")
        if s.name in FETCH_SPANS and is_python(n):
            m["operators.upload.fetch_python_s"] += n.m(PY_RUN)
            m["operators.upload.fetch_rows"] += n.m(ROWS)
        if s.name == "upload_write" and is_write(n):
            m["operators.upload.upload_bytes"] += n.m("written output")
    tiles, tile_events = 0.0, 0.0
    for s in spans:
        if s.name not in JOIN_SPANS:
            continue
        for e in s.execs:
            for n in e.nodes:
                # the tile build aggregates events per (keys, __tile); the
                # function-less (keys, __tile) aggregates are head-tile distincts
                if is_agg(n) and "__tile" in n.desc and "functions=[]" not in n.desc:
                    if "partial_" in n.desc:
                        tile_events += e.input_rows(n)
                    else:
                        tiles += n.m(ROWS)
        m["runner.jobs"] += len(s.jobs)
        m["runner.driver_s"] += s.wall - _union_s(
            [(max(j.start_ms / 1e3, s.start), min(j.end_ms / 1e3, s.end)) for j in s.jobs])
    if tiles:
        m["operators.tiled.events_per_tile"] = tile_events / tiles
    seen_stages: set[int] = set()
    for s in spans:
        if s.name == "pipelines.webtext.backfill_features":
            m["pipelines.webtext.build_s"] += s.wall
            m["pipelines.webtext.build_jobs"] += len(s.jobs)
        if s.name in UPLOAD_SPANS:
            m["operators.upload.upload_s"] += s.wall
        if s.name in FETCH_SPANS:
            m["operators.upload.fetch_s"] += s.wall
        for j in s.jobs:
            m["spark.jobs"] += 1
            for st in j.stages:
                # a shuffle stage reused by a later job is listed by both
                if st.status != "COMPLETE" or st.id in seen_stages:
                    continue
                seen_stages.add(st.id)
                m["spark.stages"] += 1
                m["spark.shuffle_bytes"] += st.shuffle_write_bytes
                m["spark.shuffle_records"] += st.shuffle_write_records
                m["spark.spill_bytes"] += st.spill_bytes
                m["spark.task_s"] += st.run_s
                m["spark.gc_s"] += st.gc_s
    m["spark.core_util"] = m["spark.task_s"] / (wall * nproc) if wall > 0 else 0.0
    return m


def aggregate(per_iter: list[dict[str, float]]) -> dict[str, float]:
    """Counts from the last iteration, everything else the median."""
    out = {}
    for k in PER_LAYER:
        vals = [d[k] for d in per_iter if k in d]
        if not vals:
            out[k] = 0.0
        elif k in COUNTS:
            out[k] = vals[-1]
        else:
            out[k] = statistics.median(vals)
    return out
