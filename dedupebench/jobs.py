"""One benchmark process: start a SparkSession, run jobs, report as JSON.

``run.py`` starts this script from the root of the checkout, with the
inputs already written under ``--work``::

    python3 dedupebench/jobs.py --workload er_people --work DIR --out FILE \\
        --seconds 5 [--trace]

It times set-up (session start plus the first, cold job), runs warm jobs
back to back for ``--seconds`` (at least one), and reads the peak resident
memory of the driver JVM and of this Python driver. With ``--trace`` it then
runs one more job with every layer traced.
"""

from __future__ import annotations

import time

T0 = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import resource  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import workloads  # noqa: E402


def _vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


class Runner:
    def __init__(self, spark, workload: str, work: str, meta: dict):
        self.spark = spark
        self.workload = workload
        self.work = work
        self.meta = meta
        self.n = 0

    def job(self, tracer=None) -> dict:
        """One timed job plus its output checks. A job that raises or fails
        a check is reported as failed, with its error."""
        out = os.path.join(self.work, f"out-{os.getpid()}-{self.n}")
        self.n += 1
        rec: dict = {"ok": False}
        t = time.time()
        try:
            if tracer is not None:
                with tracer.span("job"):
                    rec["observed"] = workloads.run_job(
                        self.spark, self.workload, self.work, out, tracer
                    )
            else:
                rec["observed"] = workloads.run_job(self.spark, self.workload, self.work, out)
            rec["wall_s"] = time.time() - t
            rec.update(workloads.check(self.spark, self.workload, out, self.meta))
        except Exception:  # noqa: BLE001 - a failed job is a result, not a crash
            rec["wall_s"] = time.time() - t
            rec["errors"] = [traceback.format_exc(limit=8)]
        finally:
            self.spark.catalog.clearCache()
            shutil.rmtree(out, ignore_errors=True)
        return rec


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=workloads.WORKLOADS)
    ap.add_argument("--work", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", action="store_true")
    args = ap.parse_args(argv)

    with open(os.path.join(args.work, "meta.json")) as f:
        meta = json.load(f)

    from pgdedupe_spark.session import get_spark

    spark = get_spark("dedupebench")
    spark.sparkContext.setLogLevel("ERROR")
    runner = Runner(spark, args.workload, args.work, meta)
    session_s = time.time() - T0
    cold = runner.job()
    report = {"setup_s": session_s + cold["wall_s"], "jobs": [dict(cold, cold=True)]}
    try:
        start = time.time()
        while True:
            report["jobs"].append(runner.job())
            if time.time() - start >= args.seconds:
                break
        jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
        report["peak_rss_mb"] = (
            _vm_hwm_mb(jvm_pid) + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
        )
        report["conf"] = dict(sorted(spark.sparkContext.getConf().getAll()))
        if args.trace:
            import spans

            tracer = spans.Tracer(spark, job_id=runner.n)
            uninstall = spans.install(tracer)
            try:
                rec = runner.job(tracer)
            finally:
                uninstall()
            cores = spark.sparkContext.defaultParallelism
            rec["layers"] = tracer.layer_metrics(cores)
            tracer.counters.update(rec.get("observed", {}))
            rec["counters"] = spans.counter_metrics(tracer)
            rec["raw_counts"] = {k: v for k, v in tracer.counters.items() if k.startswith("_")}
            rec["spans"] = tracer.span_records()
            report["jobs"].append(dict(rec, traced=True))
    finally:
        spark.stop()
    with open(args.out, "w") as f:
        json.dump(report, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
