"""Tracing from outside the program: spans around the layers' public
functions, job groups per op, and Spark's own status store.

Nothing here edits program code. ``Tracer.wrap`` rebinds a function at
every module attribute that holds it (so ``from x import f`` call sites
are covered too) and ``Tracer.uninstall`` puts the originals back. Spans
stay in memory and are written out once, at the end of the run.
"""

from __future__ import annotations

import functools
import json
import re
import statistics
import sys
import time
from collections import defaultdict
from contextlib import contextmanager

# physical operators that cross into a Python worker
PYTHON_EXEC_NODES = (
    "ArrowEvalPython",
    "BatchEvalPython",
    "MapInPandas",
    "MapInArrow",
    "FlatMapGroupsInPandas",
    "FlatMapCoGroupsInPandas",
    "AggregateInPandas",
    "WindowInPandas",
    "ArrowEvalPythonUDTF",
    "BatchEvalPythonUDTF",
)


def _seq(x) -> list:
    """A Scala or Java collection from py4j, as a Python list."""
    it = x.iterator()
    out = []
    while it.hasNext():
        out.append(it.next())
    return out


def _python_exec_nodes(plan: str) -> int:
    """Python-exec operators in the tree section of a formatted plan."""
    tree = plan.split("\n\n")[0]
    n = 0
    for line in tree.splitlines():
        words = re.findall(r"[A-Za-z]+", line)
        if words and words[0] in PYTHON_EXEC_NODES:
            n += 1
    return n


class Tracer:
    """In-memory span recorder. A span is (id, name, parent, op, start, end)."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op: str | None = None
        self._groups: list[str] = []
        self._patches: list[tuple[object, str, object]] = []
        self.captured: dict[str, list] = defaultdict(list)
        self.self_s = 0.0  # time spent in the tracer's own bookkeeping

    # -- spans ------------------------------------------------------------

    def open(self, name: str) -> int:
        t = time.perf_counter()
        sid = len(self.spans)
        self.spans.append({
            "id": sid,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "op": self.op,
            "start": t,
            "end": None,
        })
        self._stack.append(sid)
        self.self_s += time.perf_counter() - t
        return sid

    def close(self, sid: int) -> None:
        t = time.perf_counter()
        self.spans[sid]["end"] = t
        while self._stack and self._stack[-1] != sid:
            self._stack.pop()
        if self._stack:
            self._stack.pop()
        self.self_s += time.perf_counter() - t

    @contextmanager
    def span(self, name: str, job_tag: bool = False):
        sid = self.open(name)
        if job_tag:
            self._push_group(f"{self._groups[-1] if self._groups else self.op}|{name}")
        try:
            yield sid
        finally:
            if job_tag:
                self._pop_group()
            self.close(sid)

    def begin_op(self, op: str) -> int:
        self.op = op
        self._groups = [op]
        self.sc.setJobGroup(op, op)
        return self.open("op")

    def end_op(self, sid: int) -> None:
        self.close(sid)
        self.op = None
        self._groups = []
        self.sc.setJobGroup("between-ops", "between-ops")

    def _push_group(self, group: str) -> None:
        self._groups.append(group)
        self.sc.setJobGroup(group, group)

    def _pop_group(self) -> None:
        self._groups.pop()
        if self._groups:
            self.sc.setJobGroup(self._groups[-1], self._groups[-1])

    # -- wrapping ---------------------------------------------------------

    def wrap(self, owner, attr: str, name: str, job_tag: bool = False, capture: bool = False) -> None:
        """Rebind ``owner.attr`` (and every package module attribute bound
        to the same function) to a span-recording wrapper. ``job_tag``
        tags the jobs the call launches with ``<op>|<name>``; ``capture``
        keeps each call's first argument in ``captured[name]``."""
        orig = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
        is_classmethod = isinstance(orig, classmethod)
        func = orig.__func__ if is_classmethod else orig
        tracer = self

        @functools.wraps(func)
        def wrapper(*a, **k):
            with tracer.span(name, job_tag=job_tag):
                out = func(*a, **k)
            if capture:
                tracer.captured[name].append((tracer.op, a[0]))
            return out

        if isinstance(owner, type):
            self._patches.append((owner, attr, orig))
            setattr(owner, attr, classmethod(wrapper) if is_classmethod else wrapper)
            return
        for mod in list(sys.modules.values()):
            if mod is owner or getattr(mod, "__name__", "").startswith("mysql_to_s3_spark"):
                for key, val in list(vars(mod).items()):
                    if val is func:
                        self.patch(mod, key, wrapper)

    def patch(self, owner, key, new) -> None:
        """Replace an attribute, or an entry when ``owner`` is a dict."""
        if isinstance(owner, dict):
            self._patches.append((owner, key, owner[key]))
            owner[key] = new
        else:
            self._patches.append((owner, key, getattr(owner, key)))
            setattr(owner, key, new)

    def uninstall(self) -> None:
        for owner, key, orig in reversed(self._patches):
            if isinstance(owner, dict):
                owner[key] = orig
            else:
                setattr(owner, key, orig)
        self._patches.clear()

    # -- span arithmetic --------------------------------------------------

    def self_times(self) -> dict[tuple[str | None, str], float]:
        """(op, name) -> summed self time (duration minus direct children)."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict = defaultdict(float)
        for s in self.spans:
            if s["end"] is not None:
                out[(s["op"], s["name"])] += s["end"] - s["start"] - child[s["id"]]
        return out

    def totals(self) -> tuple[dict, dict]:
        """(op, name) -> (summed duration, call count)."""
        dur: dict = defaultdict(float)
        calls: dict = defaultdict(int)
        for s in self.spans:
            if s["end"] is not None:
                dur[(s["op"], s["name"])] += s["end"] - s["start"]
                calls[(s["op"], s["name"])] += 1
        return dur, calls

    def dump(self, path: str, meta: dict) -> None:
        t0 = self.spans[0]["start"] if self.spans else 0.0
        rows = [
            {**s, "start": round(s["start"] - t0, 6), "end": round((s["end"] or s["start"]) - t0, 6)}
            for s in self.spans
        ]
        with open(path, "w") as f:
            json.dump({"meta": meta, "spans": rows}, f)


# ---------------------------------------------------------------------------
# Spark status store (no UI, no REST)


class SparkLedger:
    """One read of the status stores Spark keeps in the driver: jobs with
    their group and stages, per-stage task metrics, SQL executions and
    cached RDDs. Each is fetched once, then joined in Python."""

    def __init__(self, spark):
        sc = spark.sparkContext
        store = sc._jsc.sc().statusStore()
        self.jobs: dict[int, dict] = {}
        for j in _seq(store.jobsList(None)):
            g, done = j.jobGroup(), j.completionTime()
            self.jobs[j.jobId()] = {
                "group": g.get() if g.isDefined() else None,
                "stages": set(_seq(j.stageIds())),
                "done": done.get().getTime() / 1e3 if done.isDefined() else None,
            }
        ArrayList = sc._jvm.java.util.ArrayList
        empty = sc._gateway.new_array(sc._jvm.double, 0)
        self.stages: dict[int, dict] = defaultdict(lambda: defaultdict(float))
        for st in _seq(store.stageList(ArrayList(), False, False, empty, ArrayList())):
            if st.numCompleteTasks() == 0:  # skipped, or never ran
                continue
            m = self.stages[st.stageId()]
            m["tasks"] += st.numCompleteTasks()
            m["run_s"] += st.executorRunTime() / 1e3
            m["cpu_s"] += st.executorCpuTime() / 1e9
            m["gc_s"] += st.jvmGcTime() / 1e3
            m["shuffle_mb"] += (st.shuffleReadBytes() + st.shuffleWriteBytes()) / 2**20
            m["spill_mb"] += (st.memoryBytesSpilled() + st.diskBytesSpilled()) / 2**20
        sql = spark._jsparkSession.sharedState().statusStore()
        # (job ids, Python-exec operator count) of every SQL execution
        self.executions = [
            ({int(k) for k in _seq(e.jobs().keys())}, _python_exec_nodes(e.physicalPlanDescription()))
            for e in _seq(sql.executionsList())
        ]
        rdds = _seq(store.rddList(True))
        self.cached_rdds = len(rdds)
        self.cached_mb = sum(r.memoryUsed() + r.diskUsed() for r in rdds) / 2**20

    def job_ids(self, op: str, layer: str | None = None) -> list[int]:
        """Jobs of one op; with ``layer``, only those launched inside that
        layer's calls (job groups nest as ``op|layer|inner-layer``)."""
        out = []
        for j, d in self.jobs.items():
            path = (d["group"] or "").split("|")
            if path[0] == op and (layer is None or layer in path[1:]):
                out.append(j)
        return out

    def exec_metrics(self, job_ids: list[int]) -> dict[str, float]:
        stage_ids = set().union(*(self.jobs[j]["stages"] for j in job_ids)) if job_ids else set()
        m = defaultdict(float, jobs=len(job_ids))
        for sid in stage_ids & set(self.stages):
            m["stages"] += 1
            for k, v in self.stages[sid].items():
                m[k] += v
        ids = set(job_ids)
        m["python_nodes"] = sum(n for jobs, n in self.executions if jobs & ids)
        return m

    def last_completion(self, job_ids: list[int]) -> float | None:
        """Wall-clock seconds at which the last of the jobs completed."""
        times = [self.jobs[j]["done"] for j in job_ids if self.jobs[j]["done"] is not None]
        return max(times) if times else None


def catalyst_phases(df) -> dict[str, float]:
    """analysis / optimization / planning seconds of a DataFrame's query
    execution (QueryPlanningTracker)."""
    out = {"analysis": 0.0, "optimization": 0.0, "planning": 0.0}
    it = df._jdf.queryExecution().tracker().phases().iterator()
    while it.hasNext():
        kv = it.next()
        if kv._1() in out:
            out[kv._1()] += kv._2().durationMs() / 1e3
    return out


def median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0
