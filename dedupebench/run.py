"""Dedupe-job benchmark.

Run from the root of a checkout::

    python3 dedupebench/run.py --workload er_people --seed 1 --seconds 10 --trace 0

It generates the workload's inputs from the seed, runs the jobs in one fresh
Spark process (``jobs.py``), checks every output, and prints as its last
line one JSON object ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1`` they
are the per-layer ones of a traced job. The line before it is a JSON record
of the input regime, the resolved environment and Spark conf, and the raw
samples. METRICS.md defines every metric.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

# behaviour switches the package reads from the environment, at their
# defaults; a run with any other value set is refused
KNOB_DEFAULTS = {
    "SPARK_GRAFT_ANN_ENGINE": "arrow",
    "SPARK_GRAFT_SHINGLE_ENGINE": "arrow",
    "SPARK_GRAFT_MINHASH_ENGINE": "arrow",
    "SPARK_GRAFT_GOPHER_ENGINE": "arrow",
    "SPARK_GRAFT_DSIR_ENGINE": "arrow",
    "SPARK_GRAFT_CC_SMALL_EDGES": "500000",
    "SPARK_GRAFT_SHJ_LOCALMAP_THRESHOLD": "0",
    "SPARK_GRAFT_PAGERANK_PERSIST": "auto",
}
DRIVER_MEM = "2g"
# every run must end well inside three minutes
DEADLINE_S = 170.0
# how long to keep killing the job's processes before giving up
STOP_TIMEOUT_S = 5.0
PR_SET_CHILD_SUBREAPER = 36


def _child_env(work: str, cpus: int) -> dict:
    env = dict(os.environ)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env.update(
        SPARK_GRAFT_CPUS=str(cpus),
        # a deployment setting, pinned: with the default 8g ceiling the
        # driver heap grew to anywhere between 2 and 6 GB from run to run,
        # which made peak memory measure heap sizing rather than the job
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        TMPDIR=tmp,
        SPARK_SUBMIT_OPTS=f"-Djava.io.tmpdir={tmp} -Xlog:all=warning:stderr",
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p),
        PYSPARK_PYTHON=sys.executable,
    )
    return env


def _become_subreaper() -> None:
    """Have orphaned descendants re-parented to this process, so that
    ``_stop_all`` can kill and reap them."""
    import ctypes

    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def _live_descendants(sid: int) -> list[int]:
    """Processes, zombies excluded, in session ``sid`` or whose parent is
    this process."""
    me = os.getpid()
    pids = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                # pid (comm) state ppid pgrp session ...
                fields = f.read().rsplit(")", 1)[1].split()
        except (OSError, IndexError):
            continue
        state, ppid, session = fields[0], int(fields[1]), int(fields[3])
        if state not in ("Z", "X") and (session == sid or ppid == me):
            pids.append(int(name))
    return pids


def _reap() -> bool:
    """Reap every exited child; True once this process has no children."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return True
        if pid == 0:
            return False


def _stop_all(sid: int) -> None:
    """Kill the job process's whole session (the JVM exits after its Python
    driver does, and the PySpark worker daemon runs in a process group of
    its own) and wait until every process of it has ended."""
    deadline = time.time() + STOP_TIMEOUT_S
    while True:
        pids = _live_descendants(sid)
        for pid in pids:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        if _reap() and not pids:
            return
        if time.time() > deadline:
            print(f"processes still running after kill: {pids}", file=sys.stderr)
            return
        time.sleep(0.05)


def _run_child(args, work: str, env: dict, deadline: float) -> dict | None:
    """Run the ``jobs.py`` process and return its report, or None if it
    died or ran out of time. Every process it started is stopped before
    this returns."""
    out = os.path.join(work, "report.json")
    log_path = os.path.join(work, "jobs.log")
    cmd = [
        sys.executable, os.path.join(HERE, "jobs.py"), "--workload", args.workload,
        "--work", work, "--out", out, "--seconds", str(args.seconds),
    ] + (["--trace"] if args.trace else [])
    with open(log_path, "w") as log:
        proc = subprocess.Popen(
            cmd, cwd=ROOT, env=env, stdout=log, stderr=subprocess.STDOUT, start_new_session=True
        )
        try:
            proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            pass
        finally:
            if proc.poll() is None:
                proc.kill()
            proc.wait()
            _stop_all(proc.pid)
    if proc.returncode == 0 and os.path.exists(out):
        with open(out) as f:
            return json.load(f)
    with open(log_path) as f:
        tail = f.read()[-3000:]
    print(f"jobs.py failed (exit {proc.returncode}):\n{tail}", file=sys.stderr)
    return None


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    t_start = time.time()

    sys.path.insert(0, ROOT)
    if importlib.util.find_spec("pgdedupe_spark") is None:
        print("pgdedupe_spark is not importable from the checkout root", file=sys.stderr)
        return 2
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}; have {workloads.WORKLOADS}", file=sys.stderr)
        return 2
    bad = {k: os.environ[k] for k, v in KNOB_DEFAULTS.items() if os.environ.get(k, v) != v}
    nproc = len(os.sched_getaffinity(0))
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", nproc))
    if cpus > nproc:
        bad["SPARK_GRAFT_CPUS"] = str(cpus)
    if bad:
        print(f"refusing to publish: non-default knobs set {bad}", file=sys.stderr)
        return 3

    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    try:
        meta = workloads.generate(args.workload, args.seed, work)
        with open(os.path.join(work, "meta.json"), "w") as f:
            json.dump(meta, f)
        _become_subreaper()
        rep = _run_child(args, work, _child_env(work, cpus), t_start + DEADLINE_S)
        record, result = _summarize(args, meta, rep, cpus)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    record["env"] = {k: os.environ.get(k, v) for k, v in KNOB_DEFAULTS.items()}
    record["env"].update(SPARK_GRAFT_CPUS=str(cpus), SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM)
    print(json.dumps(record, sort_keys=True, default=str))
    print(json.dumps(result))
    return 0


def _summarize(args, meta: dict, rep: dict | None, cpus: int):
    import workloads

    # a process that died counts as one failed job
    jobs = rep["jobs"] if rep is not None else []
    crashed = int(rep is None)
    # determinism contract: every job of a run hashes its (key, cluster)
    # output identically
    ref = next((j["hash"] for j in jobs if j["ok"]), None)
    for j in jobs:
        if j["ok"] and j["hash"] != ref:
            j["ok"] = False
            j.setdefault("errors", []).append(f"output hash {j['hash']} != {ref}")
    ok = [j for j in jobs if j["ok"]]
    attempted = len(jobs) + crashed
    failed = attempted - len(ok)
    warm = [j["wall_s"] for j in ok if not j.get("cold") and not j.get("traced")]
    run_s = _median(warm)
    record = {
        "workload": args.workload, "seed": args.seed, "cpus": cpus,
        "regime": dict(meta["regime"], **(ok[0].get("observed", {}) if ok else {})),
        "conf": rep.get("conf", {}) if rep is not None else {},
        "samples": {
            "run_s": warm,
            "setup_s": [rep["setup_s"]] if jobs and jobs[0]["ok"] else [],
        },
        "errors": [e for j in jobs for e in j.get("errors", [])],
    }
    if args.trace:
        traced = next((j for j in ok if j.get("traced")), None)
        metrics = {}
        if traced is not None:
            metrics = dict(traced["layers"], **traced["counters"])
            metrics["trace.overhead_s"] = traced["wall_s"] - run_s
            raw = traced["raw_counts"]
            doc = args.workload == "doc_near_dup"
            record["spans"] = traced["spans"]
            record["regime"].update(
                candidate_pairs=raw.get("_lsh.candidates" if doc else "_pairs.candidates", 0),
                accepted_edges=raw.get("_lsh.verified" if doc else "_score.kept", 0),
                cc_gate_edges=workloads.CC_GATE_EDGES,
                cc_union_find_calls=raw.get("_cc.union_find", 0),
                cc_calls=raw.get("_cc.calls", 0),
            )
        declared = _declared("per_layer")
    else:
        metrics = {
            "run_s": run_s,
            "records_per_s": meta["regime"]["rows"] / run_s if run_s else 0.0,
            "setup_s": _median(record["samples"]["setup_s"]),
            "peak_rss_mb": rep.get("peak_rss_mb", 0.0) if rep is not None else 0.0,
            "pair_precision": _median([j["precision"] for j in ok]),
            "pair_recall": _median([j["recall"] for j in ok]),
            "ok_ratio": len(ok) / attempted if attempted else 0.0,
        }
        declared = _declared("end_to_end")
    result = {
        "correct": failed == 0 and bool(ok),
        "attempted": max(attempted, 1),
        "failed": failed if attempted else 1,
        "metrics": {
            m["name"]: {"value": metrics.get(m["name"], 0.0), "unit": m["unit"]} for m in declared
        },
    }
    return record, result


def _declared(kind: str) -> list[dict]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)[kind]


if __name__ == "__main__":
    # a terminated run still stops its Spark process (see _run_child)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    sys.exit(main())
