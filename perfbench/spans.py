"""Spans around the calls the benchmark makes into each engine layer.

The tracer lives entirely in the benchmark process: it wraps the engine's
layer entry points (module attributes the engine looks up at call time),
the py4j gateway client, and the benchmark's own Catalyst / action / load
steps. Nothing in the engine changes. Spans are kept in memory and
written out once, at the end of a traced run.

Each span records its name, layer, start, end, parent, op id, the
driver thread's CPU time, and the py4j round trips made while it was the
innermost open span. Spark jobs started inside a span carry the job group
`<op id>|<span id>`, so Spark's own task metrics can be attributed to the
span afterwards (see `spark_job_metrics`).
"""

from __future__ import annotations

import dataclasses
import functools
import json
import time
import urllib.request
from contextlib import contextmanager
from typing import Callable, Optional


@dataclasses.dataclass
class Span:
    sid: int
    name: str
    layer: str
    op_id: str
    parent: Optional[int]
    start: float
    cpu_start: float
    end: float = 0.0
    cpu_end: float = 0.0
    jvm_calls: int = 0
    jvm_wait_s: float = 0.0
    attrs: dict = dataclasses.field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start

    @property
    def cpu(self) -> float:
        return self.cpu_end - self.cpu_start


class Tracer:
    """Records spans when enabled; otherwise every hook is a plain call."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._undo: list[Callable[[], None]] = []
        if enabled:
            self._install()

    # -- spans ----------------------------------------------------------

    @contextmanager
    def span(self, name: str, layer: str, op_id: Optional[str] = None,
             **attrs):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        op = op_id or (parent.op_id if parent else "-")
        s = Span(len(self.spans), name, layer, op,
                 parent.sid if parent else None,
                 time.perf_counter(), time.thread_time(), attrs=attrs)
        self.spans.append(s)
        self._stack.append(s)
        sc = self.spark.sparkContext
        sc.setJobGroup(f"{op}|{s.sid}", name)
        try:
            yield s
        finally:
            s.end, s.cpu_end = time.perf_counter(), time.thread_time()
            self._stack.pop()
            if parent is not None:
                sc.setJobGroup(f"{parent.op_id}|{parent.sid}", parent.name)
            else:
                sc._jsc.clearJobGroup()

    def annotate(self, **attrs) -> None:
        """Adds attributes to the innermost open span."""
        self._stack[-1].attrs.update(attrs)

    def _wrap(self, module, attr: str, layer: str, on_call=None) -> None:
        orig = getattr(module, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with self.span(attr, layer) as s:
                out = orig(*args, **kwargs)
                if on_call is not None:
                    on_call(s, args, out)
                return out

        setattr(module, attr, traced)
        self._undo.append(lambda: setattr(module, attr, orig))

    def _install(self) -> None:
        from rdf_fusion_spark.plans import subsumption, translator, update
        from rdf_fusion_spark.sparql import parser

        self._wrap(parser, "parse_query", "sparql")
        self._wrap(parser, "parse_update", "sparql")
        self._wrap(translator, "evaluate_query", "translator")
        self._wrap(subsumption, "subsume_group_aggregates", "subsumption",
                   _count_groups)
        self._wrap(update, "execute_update", "update")

        client = self.spark.sparkContext._gateway._gateway_client
        send = client.send_command

        def counted(*args, **kwargs):
            t = time.perf_counter()
            try:
                return send(*args, **kwargs)
            finally:
                if self._stack:
                    top = self._stack[-1]
                    top.jvm_calls += 1
                    top.jvm_wait_s += time.perf_counter() - t

        client.send_command = counted
        self._undo.append(lambda: delattr(client, "send_command"))

    def close(self) -> None:
        """Stops recording and removes the wrappers; spans stay readable."""
        self.enabled = False
        while self._undo:
            self._undo.pop()()

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({
                    "sid": s.sid, "name": s.name, "layer": s.layer,
                    "op": s.op_id, "parent": s.parent, "start": s.start,
                    "end": s.end, "cpu_s": s.cpu, "jvm_calls": s.jvm_calls,
                    "jvm_wait_s": s.jvm_wait_s, "attrs": s.attrs},
                    default=str) + "\n")


def _groups(p) -> int:
    from rdf_fusion_spark.sparql import algebra as A
    n, todo = 0, [p]
    while todo:
        x = todo.pop()
        if isinstance(x, (list, tuple)):
            todo.extend(x)
        elif dataclasses.is_dataclass(x) and not isinstance(x, type):
            n += isinstance(x, A.Group)
            todo.extend(getattr(x, f.name) for f in dataclasses.fields(x))
    return n


def _count_groups(span, args, out) -> None:
    if span is not None:
        span.attrs["groups_in"] = _groups(args[0])
        span.attrs["groups_out"] = _groups(out)


def catalyst_phases(qe) -> dict:
    """Analysis / optimization / planning ms from the query's tracker and
    the optimized plan's node count."""
    phases = qe.tracker().phases()
    out = {}
    for name in ("analysis", "optimization", "planning"):
        opt = phases.get(name)
        out[name] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
    out["plan_nodes"] = len(qe.optimizedPlan().treeString().splitlines())
    return out


_STAGE_FIELDS = ("executorCpuTime", "executorRunTime", "jvmGcTime",
                 "inputRecords", "shuffleReadBytes", "shuffleWriteBytes",
                 "memoryBytesSpilled", "diskBytesSpilled", "numTasks",
                 "numFailedTasks")


def _get(url: str):
    with urllib.request.urlopen(url, timeout=30) as r:
        return json.load(r)


def spark_job_metrics(spark) -> dict[str, dict]:
    """Task metrics summed per job group from Spark's status REST API.

    Returns {job group: {"jobs", stage fields..., "peakExecutionMemory"}}.
    The listener bus is drained first so every finished job is visible."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
    stages = {}
    for st in _get(f"{base}/stages"):
        if st["status"] in ("COMPLETE", "FAILED"):
            stages.setdefault(st["stageId"], []).append(st)
    out: dict[str, dict] = {}
    for job in _get(f"{base}/jobs"):
        g = out.setdefault(job.get("jobGroup") or "-", {
            "jobs": 0, "peakExecutionMemory": 0,
            **{f: 0 for f in _STAGE_FIELDS}})
        g["jobs"] += 1
        for sid in job["stageIds"]:
            for st in stages.get(sid, ()):
                for f in _STAGE_FIELDS:
                    g[f] += st.get(f, 0)
                g["peakExecutionMemory"] = max(
                    g["peakExecutionMemory"], st.get("peakExecutionMemory", 0))
    return out


def storage_bytes(spark) -> int:
    """Bytes of blocks the block managers hold (memory plus disk)."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
    return sum(e["memoryUsed"] + e["diskUsed"]
               for e in _get(f"{base}/executors"))
