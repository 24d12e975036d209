"""Seeded benchmark inputs, generated with NumPy and cached as parquet.

The program under test only ever reads the parquet written here, so a
change to the program's own generators (``okapi_spark.sources``) cannot
shift the benchmark's inputs. Each input is written once per
(workload, seed) into the cache directory, together with its SHA-256
digest and the oracle answers computed from the same arrays.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import oracles


def lineitem(seed: int, orders: int, parts: int) -> dict[str, np.ndarray]:
    """TPC-H-shaped (orderkey, partkey) rows: 1..7 lines per order and
    uniform part keys, the shape of the ``sf*/lineitem`` tables that
    ``copurchase_edges`` was written for."""
    rng = np.random.default_rng([seed, 1])
    lines = rng.integers(1, 8, orders)
    okey = np.repeat(np.arange(1, orders + 1, dtype=np.int64), lines)
    pkey = rng.integers(1, parts + 1, okey.size, dtype=np.int64)
    return {"l_orderkey": okey, "l_partkey": pkey}


def powerlaw(seed: int, vertices: int, edges: int, alpha: float) -> dict[str, np.ndarray]:
    """Directed edge list with power-law (Zipf-like) sources and uniform
    destinations; self-loops dropped. Vertex ids are a seeded
    permutation, so the hubs are not the smallest ids (min-id
    components and min-label LPA ties would otherwise be trivial)."""
    rng = np.random.default_rng([seed, 2])
    p = np.arange(1, vertices + 1, dtype=np.float64) ** -alpha
    src = rng.choice(vertices, size=edges, p=p / p.sum())
    dst = rng.integers(0, vertices, edges)
    ids = rng.permutation(vertices).astype(np.int64) + 1
    keep = src != dst
    return {"src": ids[src[keep]], "dst": ids[dst[keep]]}


def digest(cols: dict[str, np.ndarray]) -> str:
    h = hashlib.sha256()
    for name in sorted(cols):
        h.update(name.encode())
        h.update(np.ascontiguousarray(cols[name]).tobytes())
    return h.hexdigest()


def generate(spec: dict, seed: int) -> dict[str, np.ndarray]:
    if spec["kind"] == "copurchase":
        return lineitem(seed, **spec["size"])
    return powerlaw(seed, **spec["size"])


def undirected(spec: dict, cols: dict[str, np.ndarray]) -> oracles.Graph:
    """The graph the program should build from ``cols``."""
    if spec["kind"] == "copurchase":
        return oracles.copurchase_graph(cols["l_orderkey"], cols["l_partkey"])
    return oracles.symmetric_graph(cols["src"], cols["dst"])


def prepare(cache_root: str, name: str, spec: dict, seed: int) -> dict:
    """Return {"dir", "table", "digest", ...} for the workload's input at
    ``seed``, generating the parquet, its digest and the oracle answers
    on first use. The cache entry is built in a temporary directory and
    renamed into place, so a killed run never leaves a partial entry."""
    final = os.path.join(cache_root, f"{name}-s{seed}")
    meta_path = os.path.join(final, "meta.json")
    if not os.path.exists(meta_path):
        tmp = f"{final}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        cols = generate(spec, seed)
        table = "lineitem" if spec["kind"] == "copurchase" else "edges"
        pq.write_table(pa.table(cols), os.path.join(tmp, f"{table}.parquet"))
        g = undirected(spec, cols)
        answers = oracles.answers(g, spec)
        np.savez(os.path.join(tmp, "oracle.npz"), **answers)
        meta = {
            "workload": name,
            "seed": seed,
            "size": spec["size"],
            "table": table,
            "rows": int(next(iter(cols.values())).size),
            "digest": digest(cols),
            "edges": int(g.src.size),
            "vertices": int(g.n),
        }
        with open(os.path.join(tmp, "meta.json"), "w") as f:
            json.dump(meta, f)
        try:
            os.rename(tmp, final)
        except OSError:  # another run finished the same entry first
            shutil.rmtree(tmp, ignore_errors=True)
    with open(meta_path) as f:
        meta = json.load(f)
    meta["dir"] = final
    return meta
