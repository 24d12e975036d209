"""One staged-fixpoint executor for every csr-mode iterative operator.

Pregelix's shape (PAPERS.md): one fixed dataflow plan, with the vertex
program as a plug-in. The plan runs over a Graph's memoized staged
blocks (plans/csr_blocks.py: edges hash-partitioned by dst, so a
block's per-dst aggregate is final) and keeps the vertex state as
NumPy arrays indexed by position in the Graph's sorted vertex-id
array. One round is::

    for each block: tgt, vals = program.scatter(state, res, blk)
    state, metrics = program.apply(state, concat(tgt), concat(vals))
    halted = program.halt(metrics, earlier_metrics)

The program contract (``VertexProgram``):

* ``tag``, ``resolve_names`` and ``resolve(blk, ids)`` — the staged
  block set the program reads, and the round-invariant arrays it
  derives from each block (gather/scatter positions into ``ids``).
  They are memoized once per staging as sidecar files
  (``csr_blocks.resolved_arrays``).
* ``init(ids)`` — the round-0 state: a tuple of arrays whose last axis
  is the vertex position. Runs on the driver.
* ``scatter(state, res, blk)`` — one block's per-dst aggregate as flat
  state positions and values, or None when the block sends nothing.
  Blocks own disjoint dst sets, so the positions never collide.
* ``apply(state, tgt, vals)`` — the next state and the round's metric
  (``max_delta``/``l1_delta``, or ``changed``).
* ``halt(metrics, log)`` — stop after this round; ``log`` holds the
  earlier rounds' metrics (restored ledger entries included).
* ``output(ids, state)`` and ``schema`` — the result frame.

Two physical shapes run these same functions, so they return
bit-identical answers:

* **fused** — |E| ≤ ``_FUSE_MAX_EDGES`` and no store: ONE Spark task
  holds every block and runs all rounds locally. The window exists
  because a per-round ``mapInPandas`` job has a floor of ~0.35-0.6s
  (scheduling, Python round trip, Arrow collect; measured at 32 cores)
  whatever the kernel size, while one core runs a round over 8M edges
  in ~120ms. Inside the window the floor dominates, so paying it once
  wins; past it, one task per ~2M edges (``choose_task_count``) wins
  the parallelism back.
* **per round** — beyond the window, or with a ``CheckpointStore``:
  one job per round over ``choose_task_count`` tasks, each scattering
  its blocks against the broadcast state; the driver applies. With a
  store, each round's state is written (``write_state``) and ledgered
  (``log``), and a rerun resumes from the ledger's tip (``load``).

Every ``metrics_log`` row has ``superstep``, ``superstep_sec``,
``_halted``, ``edges_processed`` and the program's metric.
"""

from __future__ import annotations

import pickle
import time

import numpy as np
import pandas as pd

from okapi_spark.bsp import BSPResult, CheckpointStore, no_adaptive
from okapi_spark.plans.csr_blocks import (
    _gather_sorted_arrays,
    choose_task_count,
    load_block,
    pid_frame,
    resolved_arrays,
)

# Below this many edges the fused single-task shape runs (see the
# module docstring): 8M edges ≈ 120ms/round on one core, still well
# under the per-round job floor.
_FUSE_MAX_EDGES = 8_000_000


def _ids_sorted(graph, num_partitions: int) -> np.ndarray:
    """Memoized driver-side sorted vertex-id array: every executor run
    needs it, and it is exactly the |V|·8B payload the state broadcast
    already budgets for — holding it on the Graph skips a per-call
    gather job."""
    return graph.derived(
        ("ids_sorted",),
        lambda: _gather_sorted_arrays(
            graph.vertices_by_id(num_partitions).select("id"), graph.num_vertices(), []
        )[0],
        cleanup=lambda v: None,
    )


class VertexProgram:
    """Base of the executor's plug-ins; see the module docstring."""

    tag: str
    schema: str
    resolve_names: tuple[str, ...] = ("spos", "dpos")

    def resolve(self, blk, ids) -> dict:
        return {
            "spos": np.searchsorted(ids, blk["src"]),
            "dpos": np.searchsorted(ids, blk["dst"]),
        }

    def init(self, ids) -> tuple:
        raise NotImplementedError

    def scatter(self, state, res, blk):
        raise NotImplementedError

    def apply(self, state, tgt, vals) -> tuple[tuple, dict]:
        raise NotImplementedError

    def halt(self, metrics: dict, log: list[dict]) -> bool:
        return False

    def output(self, ids, state) -> pd.DataFrame:
        raise NotImplementedError


def _load_blocks(prog: VertexProgram, pdf_iter, ids, epoch: int, block_dir: str) -> list:
    blocks = []
    for pdf in pdf_iter:
        for pid in pdf["pid"].tolist():
            blk = load_block(prog.tag, epoch, int(pid), block_dir)
            if blk is not None and len(blk["dst"]):
                res = resolved_arrays(
                    prog.tag, epoch, int(pid), block_dir, list(prog.resolve_names),
                    lambda: prog.resolve(blk, ids),
                )
                blocks.append((res, blk))
    return blocks


def _concat(parts: list) -> tuple:
    parts = [p for p in parts if p is not None and len(p[0])]
    if not parts:
        return np.empty(0, dtype=np.int64), np.empty(0)
    return np.concatenate([p[0] for p in parts]), np.concatenate([p[1] for p in parts])


def _scatter_all(prog: VertexProgram, state, blocks) -> tuple:
    return _concat([prog.scatter(state, res, blk) for res, blk in blocks])


def _step(prog: VertexProgram, state, scattered, log: list, n_edges: int) -> tuple:
    state, m = prog.apply(state, *scattered)
    m["edges_processed"] = n_edges
    m["_halted"] = bool(prog.halt(m, log))
    return state, m


def round_job(spark, prog: VertexProgram, b, epoch: int, block_dir: str,
              num_blocks: int, num_tasks: int):
    """One per-round job: a P-row Range → ``mapInPandas`` whose tasks
    scatter their staged blocks against the broadcast ``(ids, state)``
    ``b`` — no exchange, no edge scan. Each task returns its
    concatenated (tgt, vals) as one pickled row."""

    def kernel(pdf_iter):
        ids, state = b.value
        blocks = _load_blocks(prog, pdf_iter, ids, epoch, block_dir)
        yield pd.DataFrame({"out": [pickle.dumps(_scatter_all(prog, state, blocks))]})

    return pid_frame(spark, num_blocks, num_tasks).mapInPandas(kernel, schema="out binary")


def _run_fused(spark, prog, ids, state, epoch, block_dir, num_blocks, max_rounds, n_edges):
    b = spark.sparkContext.broadcast((ids, state))

    def kernel(pdf_iter):
        ids, state = b.value
        blocks = _load_blocks(prog, pdf_iter, ids, epoch, block_dir)
        log: list[dict] = []
        for ss in range(max_rounds):
            t0 = time.time()
            state, m = _step(prog, state, _scatter_all(prog, state, blocks), log, n_edges)
            m["superstep_sec"] = time.time() - t0
            m["superstep"] = ss
            log.append(m)
            if m["_halted"]:
                break
        yield pd.DataFrame({"out": [pickle.dumps((state, log))]})

    try:
        row = pid_frame(spark, num_blocks, 1).mapInPandas(kernel, schema="out binary").collect()[0]
    finally:
        b.destroy()
    return pickle.loads(row.out)


def _state_frame(spark, ids, state):
    """The state as a (id, s0[, s0_1, ...], s1, ...) frame for the
    checkpoint store: one column per array, or per row of a 2-D one."""
    cols = {"id": ids}
    for k, a in enumerate(state):
        if a.ndim == 1:
            cols[f"s{k}"] = a
        else:
            cols.update({f"s{k}_{j}": a[j] for j in range(a.shape[0])})
    return spark.createDataFrame(pd.DataFrame(cols))


def _frame_state(df, ids, like: tuple) -> tuple:
    """Inverse of ``_state_frame``, aligned to ``ids``; ``like`` gives
    the shapes and dtypes."""
    pdf = df.toPandas().sort_values("id", kind="stable")
    if not np.array_equal(pdf["id"].to_numpy(), ids):
        raise ValueError("checkpointed state does not cover this graph's vertex set")
    out = []
    for k, a in enumerate(like):
        if a.ndim == 1:
            out.append(pdf[f"s{k}"].to_numpy().astype(a.dtype))
        else:
            out.append(np.stack([pdf[f"s{k}_{j}"].to_numpy() for j in range(a.shape[0])])
                       .astype(a.dtype))
    return tuple(out)


def run_fixpoint(
    graph,
    prog: VertexProgram,
    stage,
    num_partitions: int,
    max_rounds: int,
    store: CheckpointStore | None = None,
) -> BSPResult:
    """Run ``prog`` to its halt or ``max_rounds`` over the block set
    ``stage()`` returns as ``(block_dir, epoch)``. Staging is lazy, so
    re-invoking a finished checkpointed run resumes without an edge
    pass."""
    spark = graph.edges.sparkSession
    ids = _ids_sorted(graph, num_partitions)
    n_edges = graph.num_edges()
    state = prog.init(ids)
    start, log = 0, []
    if store is not None:
        tip = store.latest()
        if tip is not None:
            start = int(tip["superstep"]) + 1
            state = _frame_state(store.load(spark, start - 1), ids, state)
            log = [e["metrics"] | {"superstep": e["superstep"]} for e in store.lineage()]
    if not (log and log[-1].get("_halted")):
        with no_adaptive(spark):
            block_dir, epoch = stage()
            if store is None and n_edges <= _FUSE_MAX_EDGES:
                state, log = _run_fused(
                    spark, prog, ids, state, epoch, block_dir, num_partitions,
                    max_rounds, n_edges,
                )
            else:
                k_tasks = choose_task_count(n_edges, num_partitions)
                for ss in range(start, max_rounds):
                    t0 = time.time()
                    b = spark.sparkContext.broadcast((ids, state))
                    try:
                        rows = round_job(
                            spark, prog, b, epoch, block_dir, num_partitions, k_tasks
                        ).collect()
                    finally:
                        b.destroy()
                    scattered = _concat([pickle.loads(r.out) for r in rows])
                    state, m = _step(prog, state, scattered, log, n_edges)
                    if store is not None:
                        store.log(ss, store.write_state(ss, _state_frame(spark, ids, state)), m)
                    m["superstep_sec"] = time.time() - t0
                    m["superstep"] = ss
                    log.append(m)
                    if m["_halted"]:
                        break
    out = spark.createDataFrame(prog.output(ids, state), schema=prog.schema)
    supersteps = (log[-1]["superstep"] + 1) if log else start
    return BSPResult(out, supersteps, bool(log and log[-1]["_halted"]), log)


# -- the programs -------------------------------------------------------------


class SumProgram(VertexProgram):
    """PageRank-shaped power iteration: ``new = base + damping·Σ
    in-shares`` with ``add.reduceat`` over each dst's contiguous run.
    SybilRank is base 0, damping 1 (``0.0 + 1.0·msum`` is IEEE-identical
    to the plain sum). ``tol=None`` runs a fixed number of rounds;
    ``seeds`` start with ``seed_value`` each and everyone else at 0,
    otherwise every vertex starts at 1/|V|."""

    resolve_names = ("spos", "starts", "udpos")

    def __init__(self, tag: str, base: float, damping: float, tol: float | None = None,
                 tol_norm: str = "max", col: str = "rank", seeds=None, seed_value: float = 0.0):
        self.tag, self.base, self.damping = tag, base, damping
        self.tol, self.norm_key = tol, "l1_delta" if tol_norm == "l1" else "max_delta"
        self.schema = f"id long, {col} double"
        self.col, self.seeds, self.seed_value = col, seeds, seed_value

    def resolve(self, blk, ids) -> dict:
        dpos = np.searchsorted(ids, blk["dst"])
        starts = np.flatnonzero(np.r_[True, dpos[1:] != dpos[:-1]])
        return {"spos": np.searchsorted(ids, blk["src"]), "starts": starts, "udpos": dpos[starts]}

    def init(self, ids) -> tuple:
        n = len(ids)
        if self.seeds is None:
            return (np.full(n, 1.0 / n if n else 0.0),)
        r = np.zeros(n)
        if n and len(self.seeds):
            pos = np.clip(np.searchsorted(ids, self.seeds), 0, n - 1)
            r[pos[ids[pos] == self.seeds]] = self.seed_value  # seeds absent from V drop out
        return (r,)

    def scatter(self, state, res, blk):
        (r,) = state
        return res["udpos"], np.add.reduceat(r[res["spos"]] * blk["w"], res["starts"])

    def apply(self, state, tgt, vals):
        (r,) = state
        new = np.full(len(r), self.base)
        new[tgt] = self.base + self.damping * vals
        d = np.abs(new - r)
        return (new,), {"max_delta": float(d.max()) if len(d) else 0.0, "l1_delta": float(d.sum())}

    def halt(self, metrics, log) -> bool:
        return self.tol is not None and metrics[self.norm_key] < self.tol

    def output(self, ids, state) -> pd.DataFrame:
        return pd.DataFrame({"id": ids, self.col: state[0]})


class MinPlusProgram(VertexProgram):
    """Send-on-improvement relaxation, ``min`` over in-edges of
    ``value(src) + w``: the state is (value, changed), one row per
    origin. HashMin components is one row of int64 ids with w ≡ 0
    (``origins=None``); SSSP is one origin, MSSP several (2-D state).
    Only edges whose src changed last round send — the frontier mask
    keeps the dst-sorted order, so the per-dst min is a
    ``minimum.reduceat``. Min is exact, so every plan reaches the
    bit-identical fixpoint.

    Shortest-path output keeps only reached vertices, plus a (o, o, 0)
    row per origin that is not a vertex and per duplicate origin — the
    rows the sql plan's source-seeded state carries."""

    def __init__(self, tag: str, origins=None, weighted: bool = True, col: str = "dist",
                 with_origin: bool = False):
        self.tag, self.weighted, self.col, self.with_origin = tag, weighted, col, with_origin
        self.origins = None if origins is None else np.asarray(origins, dtype=np.int64)
        if with_origin:
            self.schema = f"id long, origin long, {col} double"
        else:
            self.schema = f"id long, {col} {'double' if weighted else 'long'}"

    def init(self, ids) -> tuple:
        n = len(ids)
        if self.origins is None:  # components: own id, everyone on the frontier
            return ids[None, :].copy(), np.ones((1, n), dtype=bool)
        uniq = np.unique(self.origins)
        dist = np.full((len(uniq), n), np.inf)
        changed = np.zeros((len(uniq), n), dtype=bool)
        if n:
            pos = np.clip(np.searchsorted(ids, uniq), 0, n - 1)
            rows = np.flatnonzero(ids[pos] == uniq)
            dist[rows, pos[rows]] = 0.0
            changed[rows, pos[rows]] = True
        return dist, changed

    def scatter(self, state, res, blk):
        dist, changed = state
        spos, dpos = res["spos"], res["dpos"]
        n = dist.shape[1]
        tgts, cands = [], []
        for j in range(dist.shape[0]):
            valid = changed[j][spos]
            if not valid.any():
                continue
            dst_v = dpos[valid]  # dst-sorted layout survives the mask
            cand_v = dist[j][spos[valid]]
            if self.weighted:
                cand_v = cand_v + blk["w"][valid]
            starts = np.flatnonzero(np.r_[True, dst_v[1:] != dst_v[:-1]])
            tgts.append(j * n + dst_v[starts])
            cands.append(np.minimum.reduceat(cand_v, starts))
        return _concat(list(zip(tgts, cands)))

    def apply(self, state, tgt, vals):
        dist, changed = state
        better = vals < dist.reshape(-1)[tgt]  # send-on-improvement
        idx = tgt[better]
        new, new_changed = dist.copy(), np.zeros_like(changed)
        np.put(new, idx, vals[better])
        np.put(new_changed, idx, True)
        return (new, new_changed), {"changed": int(idx.size)}

    def halt(self, metrics, log) -> bool:
        return metrics["changed"] == 0

    def output(self, ids, state) -> pd.DataFrame:
        dist = state[0]
        if self.origins is None:
            return pd.DataFrame({"id": ids, self.col: dist[0]})
        uniq, counts = np.unique(self.origins, return_counts=True)
        fin = np.isfinite(dist)
        row, col = np.nonzero(fin)
        extra = np.concatenate([uniq[~np.isin(uniq, ids)], np.repeat(uniq, counts - 1)])
        out = {"id": np.concatenate([ids[col], extra])}
        if self.with_origin:
            out["origin"] = np.concatenate([uniq[row], extra])
        out[self.col] = np.concatenate([dist[fin], np.zeros(len(extra))])
        return pd.DataFrame(out)


class LabelProgram(VertexProgram):
    """Synchronous LPA in INDEX space: labels are positions into the
    sorted id array, so index order IS id order and the min-label
    tie-break carries over unchanged. Per block, the (dst, label-of-src)
    weight histogram is a sort + ``add.reduceat``, then the per-dst
    argmax takes the max summed weight, ties to the smallest label.
    ``converge=False`` runs fixed rounds; otherwise it halts when no
    label changes or the exact label state repeats an earlier one
    (bipartite 2-cycles), detected by a digest per round."""

    tag = "lpa"
    schema = "id long, lbl long"

    def __init__(self, converge: bool):
        self.converge = converge

    def init(self, ids) -> tuple:
        return (np.arange(len(ids), dtype=np.int64),)  # initial label = own id

    def scatter(self, state, res, blk):
        (lbl,) = state
        n = len(lbl)
        key = res["dpos"] * n + lbl[res["spos"]]
        if n <= 46340:
            # the fused (dst, lbl) key fits 32 bits, where numpy's
            # argsort is ~8x faster than on int64 keys (measured 0.05s
            # vs 0.42s on the 2.4M-edge bench block set; this sort is
            # the round's hot loop)
            key = key.astype(np.int32)
        order = np.argsort(key)
        g_key = key[order]
        grp = np.flatnonzero(np.r_[True, g_key[1:] != g_key[:-1]])
        sums = np.add.reduceat(blk["w"][order], grp)
        grp_dst = g_key[grp] // n
        grp_lbl = g_key[grp] - grp_dst * n
        # per-dst argmax over the group sums, min-label tie-break
        dgrp = np.flatnonzero(np.r_[True, grp_dst[1:] != grp_dst[:-1]])
        wmax = np.maximum.reduceat(sums, dgrp)
        seg_id = np.zeros(len(sums), dtype=np.int64)
        seg_id[dgrp[1:]] = 1
        seg_id = np.cumsum(seg_id)
        cand = np.where(sums == wmax[seg_id], grp_lbl, np.iinfo(np.int64).max)
        return grp_dst[dgrp], np.minimum.reduceat(cand, dgrp)

    def apply(self, state, tgt, vals):
        import hashlib

        (lbl,) = state
        new = lbl.copy()
        new[tgt] = vals
        m = {"changed": int(np.count_nonzero(new != lbl))}
        if self.converge:
            digest = hashlib.blake2b(new.tobytes(), digest_size=8).digest()
            m["state_hash"] = int.from_bytes(digest, "little", signed=True)
        return (new,), m

    def halt(self, metrics, log) -> bool:
        # oscillation = the exact label STATE repeats; equal consecutive
        # changed-counts while labels still move must NOT halt
        return self.converge and (
            metrics["changed"] == 0
            or metrics["state_hash"] in {e.get("state_hash") for e in log}
        )

    def output(self, ids, state) -> pd.DataFrame:
        return pd.DataFrame({"id": ids, "lbl": ids[state[0]]})
