"""Outside-in tracing for the benchmark's traced run.

Spans are recorded from the benchmark's own files: ``Tracer.install``
rebinds the program's layer entry points to timing wrappers (and
``uninstall`` puts the originals back), so the program files are never
edited. Names are rebound where callers look them up:

* ``run_supersteps`` and ``auto_state_broadcast`` are imported by name
  into the pagerank, components and lpa modules, so they are rebound in
  each of those modules (and ``auto_state_broadcast`` also in
  ``plans.broadcast``, where triangles imports it at call time);
* ``stage_blocks`` is imported at call time, so it is rebound on
  ``plans.csr_blocks``;
* ``CheckpointStore`` methods and ``Graph.derived``/``from_edges``/
  ``symmetrize`` are rebound on their classes.

Every span carries its own Spark job group, so the Spark work of a span
and its descendants is read back from the status store: job, stage and
task counts, shuffle bytes, executor run and GC time, and the part of
the span's wall during which no stage of its jobs was running.
Work inside Python workers (the staged-block kernels, mapInPandas
bodies) is invisible to these driver-side wrappers; it only shows up as
``spark.executor_run_s``.
"""

from __future__ import annotations

import itertools
import os
import time
from contextlib import contextmanager

from okapi_spark import bsp
from okapi_spark.graph.graph import Graph
from okapi_spark.operators import components, lpa, pagerank
from okapi_spark.plans import broadcast, csr_blocks
from py4j.protocol import Py4JError


class Tracer:
    """In-memory span recorder. ``spans[i]["id"] == i``."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._uid = itertools.count()
        self._saved: list[tuple[object, str, object]] = []

    # -- recording ------------------------------------------------------
    def _new(self, name: str, attrs: dict, start: float, end: float | None) -> dict:
        rec = {"id": len(self.spans), "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "start": start, "end": end, "attrs": attrs, "group": None}
        self.spans.append(rec)
        return rec

    @contextmanager
    def span(self, name: str, **attrs):
        rec = self._new(name, attrs, time.time(), None)
        rec["group"] = f"perfbench-{os.getpid()}-{next(self._uid)}"
        self._stack.append(rec["id"])
        self.sc.setJobGroup(rec["group"], name)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if self._stack:
                outer = self.spans[self._stack[-1]]
                self.sc.setJobGroup(outer["group"], outer["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)

    def event(self, name: str, **attrs) -> None:
        now = time.time()
        self._new(name, attrs, now, now)

    # -- patching -------------------------------------------------------
    def _rebind(self, owner, attr: str, value) -> None:
        # vars(): the raw attribute, so a staticmethod is restored as one
        self._saved.append((owner, attr, vars(owner)[attr]))
        setattr(owner, attr, value)

    def install(self) -> None:
        tr = self
        run_supersteps = bsp.run_supersteps
        auto_state_broadcast = broadcast.auto_state_broadcast
        stage_blocks = csr_blocks.stage_blocks

        def traced_run_supersteps(*a, **kw):
            with tr.span("bsp.loop"):
                return run_supersteps(*a, **kw)

        def traced_auto_state_broadcast(*a, **kw):
            out = auto_state_broadcast(*a, **kw)
            tr.event("plan.broadcast", outcome=bool(out))
            return out

        def traced_stage_blocks(edges_by_pid, num_partitions, pack_fn, tag, epoch, block_dir):
            with tr.span("stage", tag=tag, block_dir=block_dir) as rec:
                rows = stage_blocks(edges_by_pid, num_partitions, pack_fn, tag, epoch, block_dir)
                rec["attrs"]["rows"] = rows
                return rows

        for mod in (pagerank, components, lpa):
            self._rebind(mod, "run_supersteps", traced_run_supersteps)
            self._rebind(mod, "auto_state_broadcast", traced_auto_state_broadcast)
        self._rebind(broadcast, "auto_state_broadcast", traced_auto_state_broadcast)
        self._rebind(csr_blocks, "stage_blocks", traced_stage_blocks)

        store_cls = bsp.CheckpointStore
        for meth in ("write_state", "log", "load"):
            self._rebind(store_cls, meth, self._spanned(f"checkpoint.{meth}",
                                                        vars(store_cls)[meth], store=True))

        derived = vars(Graph)["derived"]

        def traced_derived(graph, key, builder, cleanup=None):
            if key in graph._derived:
                tr.event("layout.hit", key=str(key[0]))
                return derived(graph, key, builder, cleanup)

            def timed_builder():
                with tr.span("layout.build", key=str(key[0])):
                    return builder()

            return derived(graph, key, timed_builder, cleanup)

        self._rebind(Graph, "derived", traced_derived)
        from_edges = vars(Graph)["from_edges"].__func__
        self._rebind(Graph, "from_edges", staticmethod(self._spanned("graph.from_edges", from_edges)))
        self._rebind(Graph, "symmetrize",
                     self._spanned("graph.symmetrize", vars(Graph)["symmetrize"]))

    def _spanned(self, name: str, fn, store: bool = False):
        tr = self

        def wrapper(*a, **kw):
            attrs = {"root": a[0].root} if store else {}
            with tr.span(name, **attrs):
                return fn(*a, **kw)

        return wrapper

    def uninstall(self) -> None:
        while self._saved:
            owner, attr, value = self._saved.pop()
            setattr(owner, attr, value)

    # -- reading --------------------------------------------------------
    def subtree(self, root: dict) -> list[dict]:
        """``root`` and every span recorded under it (spans are appended
        in start order, so descendants follow their ancestor)."""
        inside = {root["id"]}
        out = [root]
        for rec in self.spans[root["id"] + 1:]:
            if rec["parent"] in inside:
                inside.add(rec["id"])
                out.append(rec)
        return out

    def spark_counters(self, root: dict) -> dict:
        """Spark work of the jobs launched under ``root``'s subtree."""
        tracker = self.sc.statusTracker()
        status = self.sc._jsc.sc().statusStore()
        jobs: set[int] = set()
        for rec in self.subtree(root):
            if rec["group"]:
                jobs.update(tracker.getJobIdsForGroup(rec["group"]))
        stage_ids: set[int] = set()
        for jid in jobs:
            info = tracker.getJobInfo(jid)
            if info is not None:
                stage_ids.update(info.stageIds)
        out = {"jobs": len(jobs), "stages": 0, "tasks": 0, "failed_tasks": 0,
               "shuffle_write_bytes": 0, "shuffle_read_bytes": 0,
               "executor_run_s": 0.0, "gc_s": 0.0}
        busy = []
        for sid in sorted(stage_ids):
            try:
                attempts = status.stageData(sid, False, None, False, None)
            except Py4JError:  # evicted from the status store
                continue
            for i in range(attempts.size()):
                st = attempts.apply(i)
                if st.status().toString() == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += st.numCompleteTasks() + st.numFailedTasks()
                out["failed_tasks"] += st.numFailedTasks()
                out["shuffle_write_bytes"] += st.shuffleWriteBytes()
                out["shuffle_read_bytes"] += st.shuffleReadBytes()
                out["executor_run_s"] += st.executorRunTime() / 1e3
                out["gc_s"] += st.jvmGcTime() / 1e3
                if st.submissionTime().isDefined():
                    t0 = st.submissionTime().get().getTime() / 1e3
                    t1 = (st.completionTime().get().getTime() / 1e3
                          if st.completionTime().isDefined() else root["end"])
                    busy.append((t0, t1))
        wall = root["end"] - root["start"]
        out["no_stage_s"] = max(0.0, wall - covered(busy, root["start"], root["end"]))
        return out


def covered(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, reach = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, reach), min(b, hi)
        if b > a:
            total += b - a
            reach = b
    return total


def self_time(tracer: Tracer, rec: dict) -> float:
    """A span's wall minus the part covered by its direct children."""
    kids = [(c["start"], c["end"]) for c in tracer.subtree(rec)[1:] if c["parent"] == rec["id"]]
    return (rec["end"] - rec["start"]) - covered(kids, rec["start"], rec["end"])


def du(path: str) -> int:
    """Bytes of regular files under ``path`` (0 if it is gone)."""
    total = 0
    for base, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(base, f))
            except OSError:
                pass
    return total
