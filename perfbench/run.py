"""okapi_spark benchmark: one workload run, printed as one JSON line.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload copurchase --seed 1 --seconds 35 --trace 0

The runner generates (or reuses) the seeded input and its oracle
answers, then runs the workload in a child process with its own
session (``child.py``) at ``local[<usable cores>]`` and a fixed driver
heap, while sampling the memory of the child's whole process tree. All
scratch state (TMPDIR, which the staged-block layouts use, Spark local
dirs, the JVM's tmpdir and checkpoint stores) lives in a per-run
directory that is deleted afterwards, also when the child was killed.

The last line of standard output is
``{"correct", "attempted", "failed", "metrics"}``: with ``--trace 0``
the end-to-end metrics of BENCHMARK.json, with ``--trace 1`` the
per-layer ones. Every operator call and graph build is one attempted
operation; it fails if it raises, returns a wrong answer, or never ran
because the child died or timed out; the first failure ends the run.
``--perturb-oracle`` checks the gate itself: it compares against
deliberately wrong answers, so the run must report failures.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

import inputs
from workloads import MIN_WARM_ROUNDS, OPS, WORKLOADS

HERE = os.path.dirname(os.path.abspath(__file__))
STATE_DIR = ".perfbench_state"
# Fixed so figures compare across machines and leave room for other
# tenants; a workload whose needs grow past it fails loudly (the JVM
# raises or is killed) and its operations count as failed. The
# program's own default, 48g, lets the JVM grow past the physical
# memory of a 15 GB machine (see README.md).
DRIVER_HEAP = "3g"
# Every run, set-up included, must end within 180 s.
RUN_LIMIT_S = 170.0
SAMPLE_EVERY_S = 0.25


def usable_cores() -> int:
    return len(os.sched_getaffinity(0))


def _proc_tree(session: int) -> list[tuple[int, str, int]]:
    """(pid, kind, rss bytes) of every running process in ``session``;
    kind is "jvm", "driver" (the child itself) or "worker"."""
    page = os.sysconf("SC_PAGE_SIZE")
    out = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        pid = int(name)
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            if int(fields[3]) != session or fields[0] == "Z":
                continue  # another session, or exited and awaiting its parent
            with open(f"/proc/{pid}/statm") as f:
                rss = int(f.read().split()[1]) * page
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                exe = os.path.basename(f.read().split(b"\0")[0].decode(errors="replace"))
        except (OSError, IndexError, ValueError):
            continue  # exited while being read
        kind = "driver" if pid == session else ("jvm" if exe == "java" else "worker")
        out.append((pid, kind, rss))
    return out


def _kill_session(session: int, wait_s: float = 20.0) -> None:
    """SIGKILL every process of the child's session and wait until the
    last one is gone (the JVM and Python workers are not our children,
    so there is nothing to waitpid on)."""
    deadline = time.time() + wait_s
    while True:
        procs = _proc_tree(session)
        if not procs or time.time() > deadline:
            return
        for pid, _kind, _rss in procs:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        time.sleep(0.05)


def _sweep_stale(runs_dir: str) -> None:
    """Remove run directories whose runner process no longer exists."""
    if not os.path.isdir(runs_dir):
        return
    for name in os.listdir(runs_dir):
        if name.isdigit() and not os.path.exists(f"/proc/{name}"):
            shutil.rmtree(os.path.join(runs_dir, name), ignore_errors=True)


def run_child(args, entry: str, run_dir: str, cores: int) -> dict:
    tmp = os.path.join(run_dir, "tmp")
    for d in ("tmp", "spark-local", "ckpt"):
        os.makedirs(os.path.join(run_dir, d), exist_ok=True)
    log_path = os.path.join(run_dir, "records.jsonl")
    env = dict(os.environ)
    env.update({
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "spark-local"),
        "OKAPI_DRIVER_MEM": DRIVER_HEAP,
        "OKAPI_JVM_OPTS": f"-XX:+AlwaysPreTouch -XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        "PYSPARK_PYTHON": sys.executable,
        "PYTHONPATH": os.getcwd(),
    })
    cmd = [sys.executable, os.path.join(HERE, "child.py"),
           "--workload", args.workload, "--input", entry,
           "--ckpt-dir", os.path.join(run_dir, "ckpt"), "--log", log_path,
           "--seconds", str(args.seconds), "--trace", str(args.trace), "--cores", str(cores)]
    if args.perturb_oracle:
        cmd.append("--perturb-oracle")
    limit = RUN_LIMIT_S - (time.time() - args.t_start)
    mem = {"total": 0, "jvm": 0, "worker": 0, "driver": 0}
    with open(os.path.join(run_dir, "child.out"), "wb") as out:
        t_spawn = time.time()
        child = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=out, stderr=subprocess.STDOUT,
                                 start_new_session=True)
        timed_out = False
        try:
            while child.poll() is None:
                procs = _proc_tree(child.pid)
                by_kind = {k: sum(r for _p, kk, r in procs if kk == k) for k in mem if k != "total"}
                by_kind["total"] = sum(by_kind.values())
                for k, v in by_kind.items():
                    mem[k] = max(mem[k], v)
                if time.time() - t_spawn > limit:
                    timed_out = True
                    break
                time.sleep(SAMPLE_EVERY_S)
        finally:
            _kill_session(child.pid)
            child.wait()
    records = []
    if os.path.exists(log_path):
        with open(log_path) as f:
            records = [json.loads(line) for line in f if line.strip()]
    with open(os.path.join(run_dir, "child.out"), "rb") as f:
        tail = f.read()[-4000:].decode(errors="replace")
    return {"records": records, "t_spawn": t_spawn, "returncode": child.returncode,
            "timed_out": timed_out, "mem": mem, "tail": tail}


def _median(xs):
    return statistics.median(xs) if xs else None


def end_to_end(recs: list[dict], ready: dict | None, t_spawn: float, mem: dict) -> dict:
    """Every end-to-end figure the records support; BENCHMARK.json
    declares (and bounds) the ones that exist on every workload."""
    calls = [r for r in recs if r["event"] == "call" and r["ok"]]
    warm = [r for r in calls if r["phase"] == "warm" and r["round"] < MIN_WARM_ROUNDS]
    m = {}
    if ready is not None:
        m["setup_s"] = ready["t"] - t_spawn
    m["graph_build_s"] = _median([r["wall_s"] for r in calls if r["op"] == "build"])
    for op in OPS:
        m[f"{op}_s"] = _median([r["wall_s"] for r in calls if r["op"] == op and r["phase"] == "cold"])
        m[f"{op}_warm_s"] = _median([r["wall_s"] for r in warm if r["op"] == op])
    m["suite_s"] = _median([r["suite_s"] for r in recs
                            if r["event"] == "rep" and r["role"] == "measure"])
    m["warm_suite_s"] = _median([r["wall_s"] for r in recs
                                 if r["event"] == "round" and r["round"] < MIN_WARM_ROUNDS])
    edges = {r["rep"]: r["edges"] for r in calls if r["op"] == "build"}
    m["pagerank_edges_per_s"] = _median([
        edges[r["rep"]] * r["supersteps"] / r["wall_s"] for r in warm if r["op"] == "pagerank"])
    m["resume_s"] = _median([r["resume_s"] for r in calls if "resume_s" in r])
    m["peak_rss_mb"] = mem["total"] / 2**20
    return {k: v for k, v in m.items() if v is not None}


def per_layer(recs: list[dict], session: dict | None, mem: dict) -> dict:
    traced = [r for r in recs if r["event"] == "call" and r["ok"] and r["traced"]]
    m = {}
    if session is not None:
        m["session.start_s"] = session["start_s"]
    builds = [r["layers"] for r in traced if r["op"] == "build"]
    for key in (builds[0] if builds else {}):
        m[key] = _median([b[key] for b in builds])
    for op in OPS:
        cold = [r["layers"] for r in traced if r["op"] == op and r["phase"] == "cold"]
        warm = [r["layers"] for r in traced if r["op"] == op and r["phase"] == "warm"]
        for key in (cold[0] if cold else {}):
            m[f"{op}.{key}"] = _median([c[key] for c in cold])
        if warm:
            m[f"{op}.warm.wall_s"] = _median([w["wall_s"] for w in warm])
            m[f"{op}.warm.layout.misses"] = _median([w["layout.misses"] for w in warm])
    suites = {t: _median([r["suite_s"] for r in recs if r["event"] == "rep"
                          and r["role"] == "measure" and r["traced"] == t])
              for t in (True, False)}
    if None not in suites.values():
        m["trace.overhead_s"] = suites[True] - suites[False]
    m["mem.jvm_peak_rss_mb"] = mem["jvm"] / 2**20
    m["mem.py_workers_peak_rss_mb"] = mem["worker"] / 2**20
    return m


def main() -> int:
    t_start = time.time()
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--perturb-oracle", action="store_true",
                    help="compare against deliberately wrong answers (checks the gate)")
    args = ap.parse_args()
    args.t_start = t_start

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "okapi_spark", "__init__.py")):
        print("perfbench: okapi_spark/ not found; run from the root of a checkout",
              file=sys.stderr)
        return 2
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        declared = json.load(f)

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    spec = WORKLOADS[args.workload]
    state = os.path.join(root, STATE_DIR)
    runs_dir = os.path.join(state, "runs")
    _sweep_stale(runs_dir)
    run_dir = os.path.join(runs_dir, str(os.getpid()))
    os.makedirs(run_dir, exist_ok=True)

    def on_signal(signum, _frame):
        raise SystemExit(128 + signum)

    signal.signal(signal.SIGTERM, on_signal)
    cores = usable_cores()
    try:
        cache = os.path.join(state, "cache")
        meta = inputs.prepare(cache, args.workload, spec, args.seed)
        out = run_child(args, meta["dir"], run_dir, cores)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    recs = out["records"]
    ready = next((r for r in recs if r["event"] == "ready"), None)
    session = next((r for r in recs if r["event"] == "session"), None)
    calls = [r for r in recs if r["event"] == "call"]
    finished = any(r["event"] == "done" for r in recs)
    # a child that died or timed out owes the operations it did not reach
    n_ops = len(spec["ops"])
    if args.trace:  # warm-up, then untraced, traced and untraced repetitions
        planned = (1 + n_ops) + 3 * (1 + 2 * n_ops)
    else:
        planned = 1 + n_ops * (1 + MIN_WARM_ROUNDS)
    missing = 0 if finished else max(1, planned - len(calls))
    failed = sum(1 for r in calls if not r["ok"]) + missing
    attempted = len(calls) + missing

    if args.trace:
        metrics = per_layer(recs, session, out["mem"])
        wanted = declared["per_layer"]
        # an operator the workload does not call spends nothing in any layer
        for op in set(OPS) - set(spec["ops"]):
            metrics.update({n["name"]: 0 for n in wanted if n["name"].startswith(f"{op}.")})
    else:
        metrics = end_to_end(recs, ready, out["t_spawn"], out["mem"])
        wanted = declared["end_to_end"]
    result = {name["name"]: {"value": metrics[name["name"]], "unit": name["unit"]}
              for name in wanted if name["name"] in metrics}
    absent = [n["name"] for n in wanted if n["name"] not in metrics]

    print(f"# workload={args.workload} seed={args.seed} input_digest={meta['digest']} "
          f"edges={meta['edges']} vertices={meta['vertices']} cores={cores} "
          f"driver_heap={DRIVER_HEAP} child_exit={out['returncode']} timed_out={out['timed_out']}")
    for r in calls:
        if not r["ok"]:
            print(f"# FAILED rep={r['rep']} {r['op']} {r['phase']}: {r['error']}")
    if not finished:
        print("# child did not finish; output tail:\n# " + out["tail"].replace("\n", "\n# "))
    if not args.trace:
        units = {"pagerank_edges_per_s": "edges/s", "peak_rss_mb": "MB"}
        print("# " + " ".join(f"{k}={v:.6g}{units.get(k, 's')}" for k, v in metrics.items())
              + f" failed_ops_ratio={failed / attempted:.6g}")
    if absent:
        print(f"# metrics not measured: {', '.join(absent)}")
    print(json.dumps({"correct": failed == 0 and not absent, "attempted": attempted,
                      "failed": failed, "metrics": result}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
