"""Seeded, checked benchmark of the cloudbrush_spark engine.

    python3 brushbench/run.py --workload assembly --seed 1 --seconds 1 --trace 0

Run from the root of a checkout.  One process = one fresh Spark session
on ``local[$(nproc)]`` with the engine's own ``session.get_spark`` conf
(plus the status-store UI, which the end-to-end CPU figure and the
traces read back).  The workload's inputs are generated from ``--seed``
into a working directory under the checkout; ops then run as a closed
loop with one client until ``--seconds`` have passed (at least one op);
every op's outputs are checked outside Spark.

The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}`` — the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``
(see README.md).  An earlier stdout line records host health.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _isolate(workdir: str) -> None:
    """Keep every file the run writes inside the checkout: Spark's block
    and shuffle directories, Python and JVM temp files; no JVM perf-data
    file under /tmp."""
    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={tmp} "
        + os.environ.get("JAVA_TOOL_OPTIONS", "")).strip()


def _stop(spark) -> None:
    """Stop the session and wait for the JVM the gateway launched."""
    from pyspark import SparkContext
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()   # the gateway JVM exits on stdin EOF
            proc.wait(timeout=60)
        except (OSError, subprocess.TimeoutExpired):
            proc.kill()
            proc.wait()


def _vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("VmHWM not reported")


def _median_of(rows: list[dict], key: str) -> float:
    return statistics.median(r.get(key, 0.0) for r in rows)


def run(args, workdir: str, t_start: float) -> dict:
    from cloudbrush_spark.session import (get_spark, host_parallel_probe,
                                          host_witness, host_witness_delta)

    import spans
    import workloads

    wl = workloads.WORKLOADS[args.workload](args.seed, workdir)
    spark = get_spark(f"brushbench-{args.workload}", extra_conf={
        "spark.ui.enabled": "true",
        "spark.ui.port": "0",
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
    })
    try:
        sc = spark.sparkContext
        cores = sc.defaultParallelism
        jvm_pid = sc._jvm.java.lang.ProcessHandle.current().pid()
        store = spans.StatusStore(sc)
        tracer = spans.Tracer(sc) if args.trace else None
        if tracer:
            for mod, path, name in workloads.WRAPPED[args.workload]:
                tracer.wrap(mod, path, name)
        span = tracer.span if tracer else spans.no_span
        last_job = store.last_job_id()
        setup_s = time.perf_counter() - t_start

        witness0 = host_witness()
        per_op: list[dict] = []
        attempted = failed = 0
        t_loop = time.perf_counter()
        while attempted == 0 or time.perf_counter() - t_loop < args.seconds:
            attempted += 1
            try:
                t0w, t0 = time.time(), time.perf_counter()
                with span("op"):
                    res = wl.op(spark, attempted, span)
                op_s = time.perf_counter() - t0
                t1w = time.time()
                jobs, stages = store.settled()
                work = spans.op_work(jobs, stages, last_job, t0w, t1w,
                                     cores)
                got = wl.fetch(spark, res)
                last_job = store.last_job_id()
                bad = wl.check(res, got)
                row = {"op_s": op_s, "cpu_s": work["cpu_s"],
                       **wl.counts(res, got)}
                if tracer:
                    table, unattributed = spans.span_table(tracer.take(),
                                                           work)
                    for name, vals in table.items():
                        for f, v in vals.items():
                            row[f"{name}.{f}"] = v
                    row.update({
                        "spark.jobs": work["jobs"],
                        "spark.tasks": work["tasks"],
                        "spark.failed_tasks": work["failed_tasks"],
                        "spark.gap_s": work["gap_s"],
                        "spark.cpu_util": work["cpu_util"],
                        "trace.unattributed_jobs": unattributed,
                        "trace.op_s": op_s,
                    })
                    if unattributed:
                        bad.append(f"{unattributed} of {work['jobs']} jobs "
                                   "carry no span tag")
                per_op.append(row)
                if bad:
                    failed += 1
                    print(f"op {attempted} FAILED checks: {bad}",
                          file=sys.stderr)
            except Exception:
                failed += 1
                traceback.print_exc()
        peak_rss_mb = _vm_hwm_mb(jvm_pid)
        witness = host_witness_delta(witness0, host_witness())
        par, single = host_parallel_probe(spark, rows=50_000)
    finally:
        _stop(spark)

    host = {"host_parallel_s": par, "host_parallel_ratio": par / single,
            "cores": cores, **witness}
    print(json.dumps({"workload": args.workload, "seed": args.seed,
                      "host": host}))
    if not per_op:
        metrics = {}
    elif args.trace:
        metrics = {}
        for name in workloads.SPAN_NAMES:
            for f in spans.SPAN_FIELDS:
                key = f"{name}.{f}"
                metrics[key] = (_median_of(per_op, key), _unit(f))
        for key, unit in _layer_extra().items():
            metrics[key] = (_median_of(per_op, key), unit)
        metrics["trace.overhead_s"] = (tracer.overhead_s / attempted, "s")
        metrics["jvm.peak_rss_mb"] = (peak_rss_mb, "MB")
        metrics["host.parallel_s"] = (par, "s")
        metrics["host.steal_pct"] = (witness.get("steal_pct", 0.0), "%")
        metrics["host.throttled_s"] = (
            witness.get("cgroup_throttled_usec_delta", 0) / 1e6, "s")
    else:
        metrics = {
            "setup_s": (setup_s, "s"),
            "op_s": (_median_of(per_op, "op_s"), "s"),
            "cpu_s_per_op": (_median_of(per_op, "cpu_s"), "s"),
        }
    return {"correct": failed == 0 and len(per_op) == attempted,
            "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": v, "unit": u}
                        for k, (v, u) in metrics.items()}}


def _unit(field: str) -> str:
    return {"jobs": "count", "shuffle_mb": "MB"}.get(field, "s")


def _layer_extra() -> dict:
    import workloads
    extra = {"spark.jobs": "count", "spark.tasks": "count",
             "spark.failed_tasks": "count", "spark.gap_s": "s",
             "spark.cpu_util": "share", "trace.unattributed_jobs": "count",
             "trace.op_s": "s"}
    for c in workloads.COUNTS:
        extra[c] = ("bp" if c.endswith("_bp") else
                    "share" if c.endswith(("_share", "_frac", "_identity",
                                           "_per_read")) else "count")
    return extra


def main() -> int:
    t_start = time.perf_counter()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["assembly", "release"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "cloudbrush_spark",
                                       "session.py")):
        print(f"cloudbrush_spark not found under {ROOT}: run from the root "
              "of a full checkout", file=sys.stderr)
        return 2
    sys.path[1:1] = [ROOT]
    workdir = os.path.join(ROOT, ".bench_work",
                           f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(workdir)
    try:
        _isolate(workdir)
        result = run(args, workdir, t_start)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(workdir))
        except OSError:
            pass
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
