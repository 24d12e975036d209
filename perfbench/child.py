"""One workload run in a fresh process; started by run.py.

Set-up (interpreter start, imports, SparkSession start) ends at the
"ready" record. A repetition builds a fresh Graph from the cached
input, calls every operator once on it (cold: the call pays the
layout, staging and memo builds it triggers, and in the first
repetition the JVM's first-use costs, as a batch job does), then calls
them again in warm rounds (the per-Graph memos hit). The end-to-end
run is one repetition with MIN_WARM_ROUNDS warm rounds, and more while
the measuring window is still open; the warm metrics use the first
MIN_WARM_ROUNDS only. The traced run makes an untraced
repetition that only warms the JVM, then an untraced, a traced and an
untraced one of one warm round each.

Every record goes to the JSON-lines log as soon as it exists, so the
parent still knows what ran if this process is killed. Each call's
answer is checked against the oracle outside the timed region.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
from contextlib import nullcontext

import numpy as np
from okapi_spark.bsp import CheckpointStore
from okapi_spark.graph.graph import Graph
from okapi_spark.graph.induce import copurchase_edges
from okapi_spark.operators.components import connected_components
from okapi_spark.operators.lpa import label_propagation
from okapi_spark.operators.pagerank import pagerank
from okapi_spark.operators.triangles import triangle_count
from okapi_spark.session import get_spark

import oracles
import spans
from workloads import MIN_WARM_ROUNDS, WORKLOADS

OPERATORS = {"pagerank": pagerank, "components": connected_components,
             "lpa": label_propagation, "triangles": triangle_count}

VALUE_COLUMN = {"pagerank": "rank", "components": "comp", "lpa": "lbl"}


def _superstep_s(res) -> list[float]:
    """Walls of the supersteps this call ran; entries restored from a
    checkpoint ledger carry no wall."""
    return [float(m["superstep_sec"]) for m in res.metrics_log if "superstep_sec" in m]


def _raised(e: Exception) -> str:
    first = str(e).splitlines()[0][:300] if str(e) else ""
    return f"raised {type(e).__name__}: {first}"


class Runner:
    """Repetitions of one workload on one session; every record it makes
    goes to ``emit``. ``tracer`` is set for traced repetitions."""

    def __init__(self, spark, spec: dict, ckpt_dir: str, emit):
        self.spark = spark
        self.spec = spec
        self.ckpt_dir = ckpt_dir
        self.emit = emit
        self.tracer: spans.Tracer | None = None
        self._stores = 0

    def _span(self, name: str, **attrs):
        return self.tracer.span(name, **attrs) if self.tracer else nullcontext()

    # -- graph build ------------------------------------------------------
    def build(self, input_dir: str):
        """Input parquet -> materialized Graph. Returns (graph, graphs to
        release, (|E|, |V|), build span)."""
        with self._span("build") as sp:
            if self.spec["kind"] == "copurchase":
                with self._span("induce"):
                    g = copurchase_edges(self.spark, input_dir)
                    with self._span("graph.count"):
                        shape = (g.num_edges(), g.num_vertices())
                owned = [g]
            else:
                df = self.spark.read.parquet(os.path.join(input_dir, "edges.parquet"))
                directed = Graph.from_edges(df)
                g = directed.symmetrize()
                with self._span("graph.count"):
                    shape = (g.num_edges(), g.num_vertices())
                owned = [directed, g]
        return g, owned, shape, sp

    # -- operator calls -------------------------------------------------
    def _iterative(self, op: str, g, kw: dict, ans: dict, rec: dict):
        fn = OPERATORS[op]
        if op not in self.spec["resume"]:
            res = fn(g, **kw)
            res.state.count()
            return res, None
        # simulated crash: the first call stops at the midpoint, the
        # second resumes from the same store and runs to the end
        self._stores += 1
        store = CheckpointStore(os.path.join(self.ckpt_dir, f"{op}-{self._stores}"))
        first = dict(kw)
        if op == "components":
            first["max_supersteps"] = max(1, int(ans["components_supersteps"]) // 2)
        else:
            first["iterations"] = kw["iterations"] // 2
        with self._span("call.first"):
            fn(g, store=store, **first)
        t0 = time.perf_counter()
        with self._span("call.resume"):
            res = fn(g, store=store, **kw)
            res.state.count()
        rec["resume_s"] = time.perf_counter() - t0
        return res, store.root

    def call(self, op: str, g, phase: str, rep: int, ans: dict) -> dict:
        rec = {"event": "call", "rep": rep, "op": op, "phase": phase,
               "traced": self.tracer is not None}
        store_root = None
        try:
            with self._span(f"op.{op}", phase=phase) as sp:
                t0 = time.perf_counter()
                if op == "triangles":
                    res = OPERATORS[op](g, **self.spec["ops"][op])
                else:
                    res, store_root = self._iterative(op, g, self.spec["ops"][op], ans, rec)
                rec["wall_s"] = time.perf_counter() - t0
            if op == "triangles":
                got = res
            else:
                rec["supersteps"] = int(res.supersteps)
                rec["superstep_s"] = _superstep_s(res)
                pdf = res.state.toPandas()
                got = (pdf["id"].to_numpy(np.int64), pdf[VALUE_COLUMN[op]].to_numpy())
            err = oracles.check(op, got, ans)
        except Exception as e:  # a failed operation is a measured outcome
            err = _raised(e)
            rec.pop("wall_s", None)
        rec["ok"] = err is None
        rec["error"] = err
        if self.tracer is not None and rec["ok"]:
            rec["layers"] = self.layers(sp, res if op != "triangles" else None)
        if store_root:
            shutil.rmtree(store_root, ignore_errors=True)
        return rec

    # -- traced-run readings ----------------------------------------------
    def layers(self, sp: dict, res) -> dict:
        tr = self.tracer
        sub = tr.subtree(sp)

        def dur(name):
            return sum(s["end"] - s["start"] for s in sub if s["name"] == name)

        builds = [s for s in sub if s["name"] == "layout.build"]
        hits = sum(1 for s in sub if s["name"] == "layout.hit")
        stages = [s for s in sub if s["name"] == "stage"]
        plans = [s["attrs"]["outcome"] for s in sub if s["name"] == "plan.broadcast"]
        roots = {s["attrs"]["root"] for s in sub if s["name"].startswith("checkpoint.")}
        steps = [] if res is None else _superstep_s(res)
        supersteps = 0 if res is None else int(res.supersteps)
        spark = tr.spark_counters(sp)
        out = {
            "wall_s": sp["end"] - sp["start"],
            "self_s": spans.self_time(tr, sp),
            "layout.build_s": dur("layout.build"),
            "layout.misses": len(builds),
            "layout.hits": hits,
            "layout.hit_ratio": hits / (hits + len(builds)) if (hits or builds) else 0.0,
            "stage.wall_s": dur("stage"),
            "stage.rows": sum(s["attrs"].get("rows", 0) for s in stages),
            "stage.bytes_on_disk": sum(spans.du(s["attrs"]["block_dir"]) for s in stages),
            "plan.broadcast_true": sum(1 for p in plans if p),
            "plan.broadcast_false": sum(1 for p in plans if not p),
            "bsp.supersteps": supersteps,
            "bsp.superstep_s.p50": statistics.median(steps) if steps else 0.0,
            "bsp.superstep_s.sum": sum(steps),
            "bsp.loop_s": dur("bsp.loop"),
            "bsp.spark_jobs_per_superstep": spark["jobs"] / supersteps if supersteps else 0.0,
            "checkpoint.write_s": dur("checkpoint.write_state"),
            "checkpoint.log_s": dur("checkpoint.log"),
            "checkpoint.load_s": dur("checkpoint.load"),
            "checkpoint.bytes": sum(spans.du(r) for r in roots),
            "checkpoint.resume_s": dur("call.resume"),
        }
        out.update({f"spark.{k}": v for k, v in spark.items()})
        return out

    def build_layers(self, sp: dict, shape) -> dict:
        tr = self.tracer
        sub = tr.subtree(sp)
        induce = [s for s in sub if s["name"] == "induce"]
        counters = tr.spark_counters(induce[0]) if induce else {}

        def dur(name):
            return sum(s["end"] - s["start"] for s in sub if s["name"] == name)

        return {
            "induce.wall_s": dur("induce"),
            "induce.spark_jobs": counters.get("jobs", 0),
            "induce.shuffle_write_bytes": counters.get("shuffle_write_bytes", 0),
            "induce.edges_out": shape[0] if induce else 0,
            "graph.from_edges_s": dur("graph.from_edges"),
            "graph.symmetrize_s": dur("graph.symmetrize"),
            "graph.count_s": dur("graph.count"),
        }

    # -- one repetition -----------------------------------------------------
    def _op_round(self, g, phase: str, rep: int, ans: dict, rnd: int = 0) -> tuple[bool, float]:
        """Call every operator once; returns (all ok, sum of walls)."""
        total = 0.0
        for op in self.spec["ops"]:
            rec = self.call(op, g, phase, rep, ans)
            rec["round"] = rnd
            self.emit(rec)
            if not rec["ok"]:
                return False, total
            total += rec["wall_s"]
        return True, total

    def rep(self, rep: int, role: str, input_dir: str, ans: dict, warm_rounds: int,
            warm_until: float = 0.0) -> bool:
        """Build a fresh Graph, call every operator on it cold, then in
        ``warm_rounds`` warm rounds, and more while a round still ends
        before ``warm_until`` (perf_counter time). Returns False once an
        operation failed."""
        rec = {"event": "call", "rep": rep, "op": "build", "phase": "cold",
               "traced": self.tracer is not None}
        owned = []
        try:
            t0 = time.perf_counter()
            g, owned, shape, sp = self.build(input_dir)
            rec["wall_s"] = time.perf_counter() - t0
            err = oracles.check("build", shape, ans)
        except Exception as e:
            err = _raised(e)
        rec["ok"] = err is None
        rec["error"] = err
        if rec["ok"]:
            rec["edges"] = shape[0]
            if self.tracer is not None:
                rec["layers"] = self.build_layers(sp, shape)
        self.emit(rec)
        if not rec["ok"]:
            return False
        try:
            ok, cold = self._op_round(g, "cold", rep, ans)
            if ok:
                self.emit({"event": "rep", "rep": rep, "role": role,
                           "traced": self.tracer is not None, "suite_s": rec["wall_s"] + cold})
            rounds, last = 0, 0.0
            while ok and (rounds < warm_rounds or time.perf_counter() + last < warm_until):
                t0 = time.perf_counter()
                ok, warm = self._op_round(g, "warm", rep, ans, rounds)
                last = time.perf_counter() - t0
                if ok:
                    self.emit({"event": "round", "rep": rep, "round": rounds, "wall_s": warm})
                rounds += 1
        finally:
            for graph in owned:
                graph.unpersist()
        return ok


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--input", required=True, help="cache entry dir of the measured input")
    ap.add_argument("--ckpt-dir", required=True)
    ap.add_argument("--log", required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int, required=True)
    ap.add_argument("--perturb-oracle", action="store_true")
    args = ap.parse_args()

    spec = WORKLOADS[args.workload]
    with np.load(os.path.join(args.input, "oracle.npz")) as z:
        ans = {k: z[k] for k in z.files}
    if args.perturb_oracle:
        ans = oracles.perturb(ans)

    with open(args.log, "a", buffering=1) as log:
        def emit(rec: dict) -> None:
            log.write(json.dumps(rec) + "\n")
            log.flush()

        t0 = time.perf_counter()
        spark = get_spark(cores=args.cores, shuffle_partitions=args.cores,
                          app_name="okapi_perfbench")
        emit({"event": "session", "start_s": time.perf_counter() - t0})
        emit({"event": "ready", "t": time.time()})
        runner = Runner(spark, spec, args.ckpt_dir, emit)
        if not args.trace:
            # one repetition, cold in a fresh process as a batch job runs
            # it; MIN_WARM_ROUNDS warm rounds, more while the window is open
            runner.rep(0, "measure", args.input, ans, MIN_WARM_ROUNDS,
                       warm_until=time.perf_counter() + args.seconds)
        else:
            # the first repetition only warms the JVM; then a traced one
            # between two untraced ones, so that the suite difference (the
            # tracing overhead) is not an artefact of the JIT still settling
            tracer = spans.Tracer(spark.sparkContext)
            ok = runner.rep(0, "jvm-warmup", args.input, ans, warm_rounds=0)
            for rep, traced in ((1, False), (2, True), (3, False)):
                if not ok:
                    break
                runner.tracer = tracer if traced else None
                if traced:
                    tracer.install()
                try:
                    ok = runner.rep(rep, "measure", args.input, ans, warm_rounds=1)
                finally:
                    if traced:
                        tracer.uninstall()
        spark.stop()
        emit({"event": "done"})
    return 0


if __name__ == "__main__":
    sys.exit(main())
