"""Traced runs: spans around every layer call and per-op counters read
from outside the engine (Spark's AppStatusStore, the SQL status store and
the QueryExecution planning tracker), taken after each op completes.

Jobs are attributed to the builder or to the action through job groups
set on the calling thread before each phase (``b:<op>`` / ``x:<op>``).
"""

from __future__ import annotations

import json
import re
import time
from contextlib import contextmanager

_SIZE = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}
_TIME = {"ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_PY_SENT = "data sent to Python workers"
_PY_RECV = "data returned from Python workers"
_PY_RUN = "time to run Python workers"
_ROWS = ("number of output rows", "records read")


def parse_metric(text: str | None) -> float:
    """A SQL metric as the status store formats it ("10,000", "4.7 MiB",
    "total (min, med, max ...)\\n19.4 s (...)") as a plain number, sizes
    in bytes and times in seconds."""
    if not text:
        return 0.0
    line = text.split("\n", 1)[1] if "\n" in text else text
    m = re.match(r"\s*(-?[\d,]+(?:\.\d+)?)\s*([A-Za-z]*)", line)
    if not m:
        return 0.0
    v = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    return v * _SIZE.get(unit, _TIME.get(unit, 1.0))


def _union_s(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def _opt(o):
    return o.get() if o.isDefined() else None


def _iter(jcoll):
    it = jcoll.iterator()
    while it.hasNext():
        yield it.next()


class Tracer:
    def __init__(self, spark, slots: int) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        self.slots = slots
        jsc = self.sc._jsc.sc()
        self._bus = jsc.listenerBus()
        self._store = jsc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self.spans: list[dict] = []
        self._t0 = time.perf_counter()
        self._epoch0 = time.time() - self._t0  # perf_counter -> epoch
        self._stack: list[int] = []
        self.absorb()

    # ---- spans ---------------------------------------------------------
    @contextmanager
    def span(self, name: str, op: str | None = None):
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "op": op,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter() - self._t0, "end": None}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter() - self._t0

    def absorb(self) -> None:
        """Attribute everything the engine did so far to no op."""
        self._quiesce()
        self._job_mark = self._max_job()
        self._stage_mark = self._max_stage()
        self._exec_mark = self._max_exec()

    def group(self, tag: str) -> None:
        self.sc.setJobGroup(tag, tag)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)

    # ---- status store ----------------------------------------------------
    def _quiesce(self) -> None:
        self._bus.waitUntilEmpty()

    def _jobs(self):
        return list(_iter(self._store.jobsList(None)))

    def _max_job(self) -> int:
        return max((j.jobId() for j in self._jobs()), default=-1)

    def _stages(self):
        jvm, gw = self.spark._jvm, self.sc._gateway
        return list(_iter(self._store.stageList(
            jvm.java.util.ArrayList(), False, False,
            gw.new_array(jvm.double, 0), jvm.java.util.ArrayList(),
        )))

    def _max_stage(self) -> int:
        return max((s.stageId() for s in self._stages()), default=-1)

    def _max_exec(self) -> int:
        return max((e.executionId() for e in _iter(self._sql.executionsList())), default=-1)

    def op_layers(self, op: str, wall: float, builder_s: float, df=None,
                  verb_layer: str | None = None, op_span: dict | None = None) -> dict:
        """Per-op layer figures for everything the engine did since the
        previous call. ``df`` is the registered builder's DataFrame (its
        planning tracker gives the Catalyst phases); ``verb_layer`` names
        the layer of a direct verb call (snapshots / index)."""
        self._quiesce()
        jobs = [j for j in self._jobs() if j.jobId() > self._job_mark]
        self._job_mark = max([self._job_mark] + [j.jobId() for j in jobs])
        ivs: dict[str, list[tuple[float, float]]] = {"b": [], "x": []}
        n_builder_jobs = 0
        for j in jobs:
            grp = _opt(j.jobGroup()) or ""
            sub, done = _opt(j.submissionTime()), _opt(j.completionTime())
            side = "b" if grp == f"b:{op}" else "x"
            n_builder_jobs += side == "b"
            if sub is not None and done is not None:
                a, b = sub.getTime() / 1e3, done.getTime() / 1e3
                ivs[side].append((a, b))
                if op_span is not None:
                    self.spans.append({
                        "id": len(self.spans), "name": f"execution.job{j.jobId()}",
                        "op": op, "parent": op_span["id"],
                        "start": a - self._epoch0 - self._t0,
                        "end": b - self._epoch0 - self._t0,
                    })
        exec_s = _union_s(ivs["b"] + ivs["x"])
        bjob_s = _union_s(ivs["b"])

        stages = [s for s in self._stages() if s.stageId() > self._stage_mark]
        self._stage_mark = max([self._stage_mark] + [s.stageId() for s in stages])
        ran = [s for s in stages if str(s.status()) in ("COMPLETE", "FAILED", "ACTIVE")]
        ex = {
            "execution.jobs": len(jobs),
            "execution.stages": len(ran),
            "execution.tasks": sum(s.numCompleteTasks() + s.numFailedTasks() for s in ran),
            "execution.failed_tasks": sum(s.numFailedTasks() for s in ran),
            "execution.executor_run_s": sum(s.executorRunTime() for s in ran) / 1e3,
            "execution.executor_cpu_s": sum(s.executorCpuTime() for s in ran) / 1e9,
            "execution.gc_s": sum(s.jvmGcTime() for s in ran) / 1e3,
            "execution.shuffle_write_bytes": sum(s.shuffleWriteBytes() for s in ran),
            "execution.shuffle_read_bytes": sum(s.shuffleReadBytes() for s in ran),
            "execution.spill_bytes": sum(s.diskBytesSpilled() for s in ran),
            "execution.input_bytes": sum(s.inputBytes() for s in ran),
        }

        sql = self._sql_nodes()
        phases = self._phases(df) if df is not None else {}
        analysis = phases.get("analysis", 0.0)
        catalyst = analysis + phases.get("optimization", 0.0) + phases.get("planning", 0.0)
        out = {
            "op.wall_s": wall,
            "registry.builder_s": builder_s,
            "registry.builder_jobs": n_builder_jobs,
            "catalyst.analysis_s": analysis,
            "catalyst.optimization_s": phases.get("optimization", 0.0),
            "catalyst.planning_s": phases.get("planning", 0.0),
            "catalyst.exchanges": sql["exchanges"],
            **ex,
            "arrow.python_nodes": sql["python_nodes"],
            "arrow.rows_to_python": sql["rows_to_python"],
            "arrow.bytes_to_python": sql["bytes_to_python"],
            "arrow.bytes_from_python": sql["bytes_from_python"],
            "arrow.python_stage_run_s": sql["python_run_s"],
        }
        # self times: each second of the op wall lands in exactly one layer
        if verb_layer is None:
            reg_self = builder_s - analysis - bjob_s
            out["self.registry_s"] = reg_self
            out["self.catalyst_s"] = catalyst
            out["self.execution_s"] = exec_s
            out["driver.unattributed_s"] = wall - reg_self - catalyst - exec_s
        else:
            out[f"self.{verb_layer}_s"] = wall - exec_s
            out["self.execution_s"] = exec_s
            out["driver.unattributed_s"] = 0.0
        return out

    def _phases(self, df) -> dict[str, float]:
        ph = df._jdf.queryExecution().tracker().phases()
        out = {}
        for k in _iter(ph.keySet()):
            v = ph.apply(k)
            out[str(k)] = (v.endTimeMs() - v.startTimeMs()) / 1e3
        return out

    def _sql_nodes(self) -> dict:
        res = {"exchanges": 0, "python_nodes": 0, "rows_to_python": 0,
               "bytes_to_python": 0.0, "bytes_from_python": 0.0, "python_run_s": 0.0}
        execs = [e for e in _iter(self._sql.executionsList())
                 if e.executionId() > self._exec_mark]
        for e in execs:
            eid = e.executionId()
            self._exec_mark = max(self._exec_mark, eid)
            graph = self._sql.planGraph(eid)
            values = self._sql.executionMetrics(eid)
            nodes = {n.id(): n for n in _iter(graph.allNodes())}
            children: dict[int, list[int]] = {}
            for edge in _iter(graph.edges()):
                children.setdefault(edge.toId(), []).append(edge.fromId())

            def metric(node, name):
                for m in _iter(node.metrics()):
                    if m.name() == name:
                        aid = m.accumulatorId()
                        return parse_metric(values.apply(aid)) if values.contains(aid) else 0.0
                return None

            for nid, node in nodes.items():
                name = node.name()
                if name in ("Exchange", "BroadcastExchange"):
                    res["exchanges"] += 1
                sent = metric(node, _PY_SENT)
                if sent is None:
                    continue
                res["python_nodes"] += 1
                res["bytes_to_python"] += sent
                res["bytes_from_python"] += metric(node, _PY_RECV) or 0.0
                res["python_run_s"] += metric(node, _PY_RUN) or 0.0
                res["rows_to_python"] += int(self._input_rows(nid, nodes, children, metric))
        return res

    @staticmethod
    def _input_rows(nid, nodes, children, metric) -> float:
        """Rows a Python node consumed: the row count of the nearest
        descendant along a single-child chain that reports one
        (projections in between keep the row count)."""
        kids = children.get(nid, [])
        while len(kids) == 1:
            node = nodes.get(kids[0])
            if node is None:
                break
            for name in _ROWS:
                v = metric(node, name)
                if v is not None:
                    return v
            kids = children.get(kids[0], [])
        return 0.0
