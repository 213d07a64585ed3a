"""Spans around calls into the program's public functions, plus the
executor-side numbers Spark keeps for the jobs each span launched.

The program is not edited: ``Tracer.wrap`` replaces a function or
method on its module or class (and on every ``zensearch_spark`` module
that imported it by name) with a wrapper that records a span. Every
span tags the Spark jobs it launches with its own job group, so after
the run the jobs, tasks and SQL operator metrics of each span are read
back from ``statusTracker()`` and the SQL status store. Spans stay in
memory and are written once, by ``dump``.
"""

from __future__ import annotations

import functools
import json
import sys
import time
from contextlib import contextmanager

from stats import self_time

GROUP_PREFIX = "perfbench-span-"

# scan tables some metric reads, matched against the directories of
# the scan node's file location
SCAN_TABLES = ("doc_lens", "blocks", "ann_index", "ivf_index")

_UNITS = {
    "B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
    "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
}


def parse_metric(text: str | None) -> float:
    """A formatted SQL metric value as a number of bytes, seconds or
    items. Spark formats multi-task values as 'total (min, med, max
    ...)' followed by a line that starts with the total."""
    if not text:
        return 0.0
    line = text.split("\n", 1)[1] if text.startswith("total") else text
    head = line.split(" (", 1)[0].strip()
    num, _, unit = head.partition(" ")
    return float(num.replace(",", "")) * _UNITS.get(unit, 1.0)


def _iter(scala_iterable):
    it = scala_iterable.iterator()
    while it.hasNext():
        yield it.next()


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self.enabled = False
        self.request: str | None = None
        self._stack: list[int] = []
        self._patches: list[tuple[object, str, object]] = []
        self._exec_offset = 0

    # -- spans ---------------------------------------------------------
    def add_span(self, name: str, start: float, end: float) -> None:
        """A span measured before the tracer existed (session start)."""
        self.spans.append({
            "id": len(self.spans), "name": name, "parent": None,
            "request": None, "start": start, "end": end,
        })

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans), "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "request": self.request, "start": time.monotonic(), "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        self.sc.setJobGroup(f"{GROUP_PREFIX}{rec['id']}", name, False)
        try:
            yield rec
        finally:
            rec["end"] = time.monotonic()
            self._stack.pop()
            if self._stack:
                parent = self.spans[self._stack[-1]]
                self.sc.setJobGroup(f"{GROUP_PREFIX}{parent['id']}", parent["name"], False)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    @contextmanager
    def traced_request(self, request_id: str, name: str):
        """A root span for one benchmark request; its descendants carry
        the same request id."""
        prev, self.request = self.request, request_id
        try:
            with self.span(name) as rec:
                yield rec
        finally:
            self.request = prev

    def start(self) -> None:
        self._exec_offset = self._store().executionsCount()
        self.enabled = True

    # -- attribute replacement -----------------------------------------
    def wrap(self, owner, attr: str, name: str) -> None:
        """Record a span named ``name`` around every call of
        ``owner.attr``."""
        original = getattr(owner, attr)
        tracer = self

        @functools.wraps(original)
        def traced(*args, **kwargs):
            with tracer.span(name):
                return original(*args, **kwargs)

        targets = [owner] + [
            mod for key, mod in list(sys.modules.items())
            if key.startswith("zensearch_spark") and mod is not owner
            and getattr(mod, attr, None) is original
        ]
        for t in targets:
            self._patches.append((t, attr, original))
            setattr(t, attr, traced)

    def unwrap_all(self) -> None:
        for owner, attr, original in reversed(self._patches):
            setattr(owner, attr, original)
        self._patches.clear()

    # -- executor-side numbers -----------------------------------------
    def _store(self):
        return self.spark._jsparkSession.sharedState().statusStore()

    def collect_executor_metrics(self) -> None:
        """Attach jobs, tasks and SQL operator metrics to every span
        that launched Spark jobs. Call once, after the traced work."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        st = self.sc.statusTracker()
        job_span: dict[int, int] = {}
        for rec in self.spans:
            jobs = list(st.getJobIdsForGroup(f"{GROUP_PREFIX}{rec['id']}"))
            tasks = 0
            for j in jobs:
                job_span[int(j)] = rec["id"]
                info = st.getJobInfo(j)
                for s in info.stageIds if info else ():
                    sinfo = st.getStageInfo(s)
                    tasks += sinfo.numCompletedTasks if sinfo else 0
            rec["jobs"] = len(jobs)
            rec["tasks"] = tasks
        store = self._store()
        n_exec = store.executionsCount() - self._exec_offset
        for e in _iter(store.executionsList(self._exec_offset, max(n_exec, 0))):
            owner = None
            for j in _iter(e.jobs().keys()):
                owner = job_span.get(int(j))
                if owner is not None:
                    break
            if owner is None:
                continue
            self._add_execution(self.spans[owner], store, e)

    def _add_execution(self, rec: dict, store, e) -> None:
        values = {}
        for pair in _iter(store.executionMetrics(e.executionId())):
            values[int(pair._1())] = pair._2()
        ex = rec.setdefault("exec", {})

        def add(key, amount):
            ex[key] = ex.get(key, 0.0) + amount

        for m in _iter(e.metrics()):
            name = m.name()
            if name in ("time to run Python workers", "shuffle bytes written",
                        "spill size", "number of written files", "written output"):
                add(name, parse_metric(values.get(int(m.accumulatorId()))))
        for node in _iter(store.planGraph(e.executionId()).allNodes()):
            if not node.name().startswith("Scan"):
                continue
            desc = node.desc()
            table = next((t for t in SCAN_TABLES if f"/{t}" in desc), "other")
            for m in _iter(node.metrics()):
                if m.name() in ("size of files read", "number of files read"):
                    add(f"{m.name()}:{table}",
                        parse_metric(values.get(int(m.accumulatorId()))))

    # -- reading spans back --------------------------------------------
    def children(self) -> dict[int, list[dict]]:
        kids: dict[int, list[dict]] = {}
        for rec in self.spans:
            if rec["parent"] is not None:
                kids.setdefault(rec["parent"], []).append(rec)
        return kids

    def subtree_exec(self, rec: dict, key: str, kids=None) -> float:
        """Sum of an executor metric over a span and its descendants."""
        kids = kids if kids is not None else self.children()
        total = rec.get("exec", {}).get(key, 0.0)
        for c in kids.get(rec["id"], ()):
            total += self.subtree_exec(c, key, kids)
        return total

    def subtree_count(self, rec: dict, key: str, kids=None) -> int:
        kids = kids if kids is not None else self.children()
        return rec.get(key, 0) + sum(
            self.subtree_count(c, key, kids) for c in kids.get(rec["id"], ())
        )

    def self_times(self) -> dict[str, float]:
        """Total self time per span name."""
        kids = self.children()
        out: dict[str, float] = {}
        for rec in self.spans:
            if rec["end"] is None:
                continue
            own = self_time(rec["start"], rec["end"], [
                (c["start"], c["end"]) for c in kids.get(rec["id"], ())
                if c["end"] is not None
            ])
            out[rec["name"]] = out.get(rec["name"], 0.0) + own
        return out

    def named(self, name: str) -> list[dict]:
        return [r for r in self.spans if r["name"] == name and r["end"] is not None]

    def under(self, name: str, kind: str) -> list[dict]:
        """Finished spans named ``name`` inside requests of ``kind``."""
        def root(span):
            while span["parent"] is not None:
                span = self.spans[span["parent"]]
            return span

        return [s for s in self.named(name) if root(s)["name"] == f"request.{kind}"]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "self_time_s": self.self_times()}, f)
