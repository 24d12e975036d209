"""Vectorized NumPy oracles for the benchmark's correctness gate.

Same semantics as the repository's test oracles (``tests/oracles.py``
and ``tests/test_lpa.py::lpa_oracle``), rewritten over index arrays so
they finish in about a second at benchmark sizes:

* PageRank: rank = (1-d)/N + d * sum(rank[src] / outdeg[src]); dangling
  mass is not redistributed; stop after ``iterations`` supersteps, or at
  the first superstep whose max |delta| is below ``tol``.
* Connected components: HashMin with a changed-vertex frontier; the
  component id is the minimum vertex id; the superstep count includes
  the final no-change superstep, as ``bsp.run_supersteps`` counts it.
* LPA: synchronous; label <- argmax of summed in-edge weight per label,
  ties to the minimum label; vertices without in-edges keep theirs.
* Triangles: exact count over the degree-oriented edge set.

Everything runs in index space: vertex ids are sorted, so the minimum
index is the minimum id and results map back through ``Graph.ids``.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np


@dataclass
class Graph:
    """A symmetric, distinct, loop-free edge set over ``n`` vertices:
    ``src``/``dst`` index into the sorted ``ids`` and hold both
    directions of every undirected edge."""

    ids: np.ndarray
    src: np.ndarray
    dst: np.ndarray

    @property
    def n(self) -> int:
        return int(self.ids.size)


def _from_pairs(ids: np.ndarray, lo: np.ndarray, hi: np.ndarray) -> Graph:
    """Close index pairs (lo < hi) under reversal, deduplicated."""
    n = ids.size
    key = np.unique(lo * n + hi)
    lo, hi = key // n, key % n
    used = np.zeros(n, bool)
    used[lo] = used[hi] = True
    # drop ids that only appeared in removed self-loops, then re-index
    remap = np.cumsum(used) - 1
    return Graph(ids[used], np.concatenate([remap[lo], remap[hi]]),
                 np.concatenate([remap[hi], remap[lo]]))


def symmetric_graph(src: np.ndarray, dst: np.ndarray) -> Graph:
    """What ``Graph.from_edges(edges).symmetrize()`` builds."""
    ids, inv = np.unique(np.concatenate([src, dst]), return_inverse=True)
    s, d = inv[: src.size], inv[src.size:]
    keep = s != d
    return _from_pairs(ids, np.minimum(s, d)[keep], np.maximum(s, d)[keep])


def _group_pairs(group: np.ndarray):
    """All position pairs (p, q), p < q, inside runs of equal ``group``
    (``group`` sorted). Returns the two position arrays."""
    size = group.size
    starts = np.flatnonzero(np.r_[True, group[1:] != group[:-1]])
    ends = np.r_[starts[1:], size]
    end_of = np.repeat(ends, ends - starts)
    cnt = end_of - np.arange(size) - 1
    p = np.repeat(np.arange(size), cnt)
    q = p + 1 + (np.arange(p.size) - np.repeat(np.cumsum(cnt) - cnt, cnt))
    return p, q


def copurchase_graph(orderkey: np.ndarray, partkey: np.ndarray) -> Graph:
    """What ``copurchase_edges`` builds: parts linked when they share an
    order (distinct pairs, both directions)."""
    ids, part = np.unique(partkey, return_inverse=True)
    n = ids.size
    okey = np.unique(orderkey.astype(np.int64) * n + part)
    order, part = okey // n, okey % n
    p, q = _group_pairs(order)
    return _from_pairs(ids, part[p], part[q])


def pagerank(g: Graph, damping=0.85, tol=1e-6, max_supersteps=100, iterations=None):
    n = g.n
    outdeg = np.bincount(g.src, minlength=n).astype(np.float64)
    share = 1.0 / outdeg[g.src]
    base = (1.0 - damping) / n
    r = np.full(n, 1.0 / n)
    steps = iterations if iterations is not None else max_supersteps
    done = 0
    for done in range(1, steps + 1):
        new = base + damping * np.bincount(g.dst, weights=r[g.src] * share, minlength=n)
        delta = np.abs(new - r).max()
        r = new
        if iterations is None and delta < tol:
            break
    return r, done


def components(g: Graph):
    n = g.n
    comp = np.arange(n)
    changed = np.ones(n, bool)
    steps = 0
    while True:
        steps += 1
        m = changed[g.src]
        cand = np.full(n, n)
        np.minimum.at(cand, g.dst[m], comp[g.src[m]])
        changed = cand < comp
        comp = np.minimum(comp, cand)
        if not changed.any():
            return g.ids[comp], steps


def lpa(g: Graph, iterations: int):
    """Unit edge weights (the benchmark graphs carry weight 1.0)."""
    n = g.n
    lbl = np.arange(n)
    for _ in range(iterations):
        key, w = np.unique(g.dst * n + lbl[g.src], return_counts=True)
        dst, cand = key // n, key % n
        order = np.lexsort((cand, -w, dst))
        first = order[np.r_[True, dst[order][1:] != dst[order][:-1]]]
        new = lbl.copy()
        new[dst[first]] = cand[first]
        lbl = new
    return g.ids[lbl]


def triangles(g: Graph, chunk_wedges: int = 4_000_000) -> int:
    n = g.n
    deg = np.bincount(g.src, minlength=n)
    rank = np.empty(n, np.int64)
    rank[np.lexsort((np.arange(n), deg))] = np.arange(n)
    u, v = rank[g.src], rank[g.dst]
    keep = u < v
    key = np.sort(u[keep] * n + v[keep])
    u, v = key // n, key % n
    # wedges (v_p, v_q) under a common low-rank pivot u, closed by key v_p*n+v_q;
    # processed in pivot-aligned chunks to bound memory
    starts = np.flatnonzero(np.r_[True, u[1:] != u[:-1]])
    ends = np.r_[starts[1:], u.size]
    wedges = (ends - starts) * (ends - starts - 1) // 2
    total = 0
    lo = 0
    cum = np.cumsum(wedges)
    while lo < starts.size:
        base = cum[lo - 1] if lo else 0
        hi = max(lo + 1, int(np.searchsorted(cum, base + chunk_wedges, side="right")))
        a, b = starts[lo], ends[hi - 1]
        p, q = _group_pairs(u[a:b])
        closing = v[a:b][p] * n + v[a:b][q]
        at = np.minimum(np.searchsorted(key, closing), key.size - 1)
        total += int(np.count_nonzero(key[at] == closing))
        lo = hi
    return total


def answers(g: Graph, spec: dict) -> dict[str, np.ndarray]:
    """The oracle answers for one workload's operator calls."""
    ops = spec["ops"]
    pr_kw = {k: v for k, v in ops["pagerank"].items()
             if k in ("tol", "max_supersteps", "iterations")}
    ranks, pr_steps = pagerank(g, **pr_kw)
    comp, cc_steps = components(g)
    out = {
        "ids": g.ids,
        "edges": np.int64(g.src.size),
        "pagerank": ranks,
        "pagerank_supersteps": np.int64(pr_steps),
        "components": comp,
        "components_supersteps": np.int64(cc_steps),
    }
    if "lpa" in ops:
        out["lpa"] = lpa(g, ops["lpa"]["iterations"])
    if "triangles" in ops:
        out["triangles"] = np.int64(triangles(g))
    return out


def perturb(ans: dict[str, np.ndarray]) -> dict[str, np.ndarray]:
    """A deliberately wrong copy of ``ans`` for checking that the gate
    fails: every answer is off by one element or one unit."""
    out = {k: np.array(v, copy=True) for k, v in ans.items()}
    out["edges"] += 1
    out["pagerank"][0] *= 1.01
    out["components"][-1] = out["ids"][0] - 1
    if "lpa" in out:
        out["lpa"][-1] = out["ids"][0] - 1
    if "triangles" in out:
        out["triangles"] += 1
    return out


def check(op: str, got, ans: dict[str, np.ndarray]) -> str | None:
    """None when ``got`` matches the oracle, else a one-line reason.

    ``got``: (ids, values) arrays for the iterative operators, the
    count for triangles, (|E|, |V|) for the graph build."""
    if op == "build":
        want = (int(ans["edges"]), int(ans["ids"].size))
        return None if tuple(got) == want else f"|E|,|V| {tuple(got)} != {want}"
    if op == "triangles":
        return None if int(got) == int(ans["triangles"]) else f"{got} != {int(ans['triangles'])}"
    ids, vals = got
    order = np.argsort(ids)
    ids, vals = ids[order], vals[order]
    if not np.array_equal(ids, ans["ids"]):
        return f"vertex set differs ({ids.size} vs {ans['ids'].size} ids)"
    want = ans[op]
    if op == "pagerank":
        ok = np.allclose(vals, want, rtol=1e-6, atol=0.0)
    else:
        ok = np.array_equal(vals, want)
    return None if ok else f"{int(np.count_nonzero(vals != want))} vertices differ"
