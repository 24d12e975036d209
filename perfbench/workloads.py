"""The benchmark's workloads: input shape plus the operator calls.

Every workload runs PageRank and connected components, so their
end-to-end metrics exist on every workload; what differs is which
physical plan each call resolves to, and so which layers do the work.
``ops`` holds the keyword arguments of each call, in call order;
arguments not given keep the operator's defaults, which is what a user
gets. README.md in this
directory records the plan each call resolved to at the time the
benchmark was written.
"""

from __future__ import annotations

OPS = ("pagerank", "components", "lpa", "triangles")
# Warm rounds keep getting faster while the JIT settles. Every
# end-to-end run makes at least this many, and the warm metrics are the
# median over exactly these: extra rounds that a fast machine fits into
# the window would otherwise also lower its medians.
MIN_WARM_ROUNDS = 3

WORKLOADS = {
    # The headline co-purchase shape (dense per-order cliques) at a size
    # that fits the run budget. Induction and the one-time layout and
    # staging builds dominate the cold calls; CC and LPA resolve to the
    # fused single-job kernels and triangles to the staged kernel, so
    # the per-superstep loop runs only for PageRank.
    "copurchase": {
        "kind": "copurchase",
        "size": {"orders": 25_000, "parts": 8_000},
        "resume": (),
        "ops": {
            "pagerank": {"iterations": 5},
            "components": {},
            "lpa": {"iterations": 4},
            "triangles": {},
        },
    },
    # A sparse power-law graph (Zipf sources, uniform destinations) on
    # the per-superstep loop, writing a CheckpointStore (parquet state
    # plus an fsync'd ledger per superstep) instead of localCheckpoint.
    # Each call stops at its midpoint (a simulated crash) and a second
    # call resumes from the store; the result must equal the
    # uninterrupted oracle. A store also disables the fused CC kernel,
    # so a kernel change should leave this workload alone, and a
    # checkpoint change should move only this one.
    "checkpoint-resume": {
        "kind": "powerlaw",
        "size": {"vertices": 8_000, "edges": 120_000, "alpha": 0.9},
        "resume": ("pagerank", "components"),
        "ops": {
            "pagerank": {"iterations": 2},
            "components": {},
        },
    },
}

