"""Spans, Spark status-store readers and a peak-RSS sampler.

Spans live in memory and are written out when the run ends. Every figure
read from Spark comes from its own stores after an action has finished:

- ``sharedState().statusStore()`` (the SQL store): ``executionsList``,
  ``planGraph`` and ``executionMetrics`` give per-node SQL metrics;
- ``SparkContext.statusStore()`` (the app store): stage and job lists give
  shuffle bytes, shuffle write time, GC time and task run time.

Both work with ``spark.ui.enabled=false``.
"""

from __future__ import annotations

import json
import os
import re
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    run_id: str
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """Nested spans, kept in memory. A disabled tracer records nothing and
    only yields None, so the untraced path pays one branch per layer call."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        sp = Span(name, time.perf_counter(), 0.0,
                  self._stack[-1] if self._stack else None, self.run_id)
        self.spans.append(sp)
        self._stack.append(len(self.spans) - 1)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()

    def self_times(self) -> list[float]:
        """Duration minus the union of the direct children's intervals."""
        kids: dict[int, list[tuple[float, float]]] = {}
        for sp in self.spans:
            if sp.parent is not None:
                kids.setdefault(sp.parent, []).append((sp.start, sp.end))
        out = []
        for i, sp in enumerate(self.spans):
            covered, last = 0.0, sp.start
            for a, b in sorted(kids.get(i, [])):
                a = max(a, last)
                if b > a:
                    covered += b - a
                    last = b
            out.append(sp.dur - covered)
        return out

    def dump(self, path: str) -> None:
        selfs = self.self_times()
        rows = [{**asdict(sp), "id": i, "self_s": s} for i, (sp, s) in enumerate(zip(self.spans, selfs))]
        with open(path, "w") as f:
            json.dump(rows, f, indent=1, default=str)


_UNIT = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
         "B": 1.0, "KiB": 1024.0, "MiB": 1024.0 ** 2, "GiB": 1024.0 ** 3, "TiB": 1024.0 ** 4}


def parse_metric(text: str) -> float:
    """A formatted SQL metric value ("2.7 s", "12,345", "1.4 MiB", or the
    "total (min, med, max ...)" form) -> seconds, bytes or a count."""
    if "\n" in text:
        text = text.split("\n", 1)[1]
    m = re.match(r"\s*(-?[\d,]+(?:\.\d+)?)\s*([A-Za-z]*)", text)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNIT.get(m.group(2), 1.0)


@dataclass
class PlanNode:
    execution: int
    id: int
    name: str
    desc: str
    metrics: dict[str, float]
    children: list[int]


class SparkStores:
    """Reads what ran since a mark: SQL plan nodes and stage totals."""

    def __init__(self, spark):
        self.spark = spark
        self._gw = spark.sparkContext._gateway

    def _sql(self):
        return self.spark._jsparkSession.sharedState().statusStore()

    def _app(self):
        return self.spark.sparkContext._jsc.sc().statusStore()

    def mark(self) -> tuple[int, int, int]:
        """(last SQL execution id, last stage id, last job id)."""
        ex = self._sql().executionsList()
        eid = max((ex.apply(i).executionId() for i in range(ex.size())), default=-1)
        return eid, self._max_stage(), self._max_job()

    def _stages(self):
        return self._app().stageList(None, False, False, self._gw.new_array(self._gw.jvm.double, 0), None)

    def _max_stage(self) -> int:
        st = self._stages()
        return max((st.apply(i).stageId() for i in range(st.size())), default=-1)

    def _max_job(self) -> int:
        jl = self._app().jobsList(None)
        return max((jl.apply(i).jobId() for i in range(jl.size())), default=-1)

    def nodes_since(self, mark) -> list[PlanNode]:
        store = self._sql()
        ex = store.executionsList()
        out = []
        for i in range(ex.size()):
            eid = ex.apply(i).executionId()
            if eid <= mark[0]:
                continue
            values = store.executionMetrics(eid)
            graph = store.planGraph(eid)
            nodes, edges = graph.allNodes(), graph.edges()
            kids: dict[int, list[int]] = {}
            for j in range(edges.size()):
                e = edges.apply(j)
                kids.setdefault(e.toId(), []).append(e.fromId())
            for j in range(nodes.size()):
                n = nodes.apply(j)
                ms = n.metrics()
                vals = {}
                for k in range(ms.size()):
                    mm = ms.apply(k)
                    v = values.get(mm.accumulatorId())
                    if v.isDefined():
                        vals[mm.name()] = parse_metric(v.get())
                out.append(PlanNode(eid, n.id(), n.name().strip(), n.desc(), vals, kids.get(n.id(), [])))
        return out

    def stages_since(self, mark) -> dict[str, float]:
        st = self._stages()
        tot = {"run_s": 0.0, "gc_s": 0.0, "shuffle_write_bytes": 0.0, "shuffle_write_s": 0.0}
        for i in range(st.size()):
            s = st.apply(i)
            if s.stageId() <= mark[1]:
                continue
            tot["run_s"] += s.executorRunTime() / 1e3
            tot["gc_s"] += s.jvmGcTime() / 1e3
            tot["shuffle_write_bytes"] += s.shuffleWriteBytes()
            tot["shuffle_write_s"] += s.shuffleWriteTime() / 1e9
        return tot

    def jobs_since(self, mark) -> int:
        jl = self._app().jobsList(None)
        return sum(1 for i in range(jl.size()) if jl.apply(i).jobId() > mark[2])


def _children(pid: int) -> list[int]:
    """Every descendant of ``pid``, from /proc."""
    parent: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    parent[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except OSError:
                continue
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        kids = [c for c, pp in parent.items() if pp == p]
        out.extend(kids)
        todo.extend(kids)
    return out


def _status_kb(pid: int, field: str, path: str = "status") -> int:
    try:
        with open(f"/proc/{pid}/{path}") as f:
            for line in f:
                if line.startswith(field):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _is_python_worker(pid: int) -> bool:
    """Python daemon or worker. Matching "pyspark" alone is not enough: a
    child the JVM has just spawned still shows the JVM's own command line,
    which ends in "pyspark-shell"."""
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return b"pyspark.daemon" in f.read()
    except OSError:
        return False


def resident_kb(jvm_pid: int) -> int:
    """RSS of the JVM plus the proportional share (PSS) of its Python
    workers. Workers are forks of one daemon, so their plain RSS counts the
    shared pages once per worker. Short-lived helpers the JVM spawns
    (jspawnhelper, shell commands) are skipped, since right after the spawn
    they report the JVM's own RSS."""
    kids = [c for c in _children(jvm_pid) if _is_python_worker(c)]
    return _status_kb(jvm_pid, "VmRSS:") + sum(
        _status_kb(c, "Pss:", "smaps_rollup") for c in kids)


SAMPLE_EVERY_S = 0.2


class RssSampler:
    """Peak resident memory of the driver JVM plus its Python workers,
    sampled every SAMPLE_EVERY_S."""

    def __init__(self, jvm_pid: int):
        self.pid = jvm_pid
        self.peak_kb = 0
        self._stop = threading.Event()
        self._t = threading.Thread(target=self._loop, daemon=True)

    def sample(self) -> None:
        self.peak_kb = max(self.peak_kb, resident_kb(self.pid))

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(SAMPLE_EVERY_S)

    def __enter__(self):
        self._t.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._t.join()
        self.sample()
