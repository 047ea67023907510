"""Same-host benchmark of the transcript pipeline.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Runs one workload (see ``workloads.py``) on ``local[4]`` in this process:
set-up, then timed runs for ``--seconds`` seconds, each run's output
checked against the set-up reference. The last line of standard output
is one JSON object ``{"correct", "attempted", "failed", "metrics"}``; the
line before it records the host, the inputs and every timing. With
``--trace 1`` the metrics are the per-layer ones of one extra traced run
(spans are written to ``.perfbench_out/`` at exit).

Everything the run writes stays under the checkout: inputs and outputs in
``.perfbench_work/`` (removed at exit), spans in ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CPUS = 4
SETUP_PASSES = 3

END_TO_END = {"items_per_s": "items/s", "setup_s": "s", "ok_frac": "ratio"}
PER_LAYER = {
    "scan.self_s": "s",
    "parse.self_s": "s", "parse.reject_frac": "ratio",
    "sequence.self_s": "s", "sequence.shuffle_bytes": "bytes", "sequence.spill_bytes": "bytes",
    "verify.self_s": "s",
    "enrich.self_s": "s", "route.self_s": "s",
    "catalog.fanout_s": "s", "catalog.commit_s": "s", "catalog.write_self_s": "s",
    "catalog.files_written": "count", "catalog.bytes_written": "bytes",
    "pipeline.tail_s": "s", "pipeline.tail_jobs": "count",
    "dedup.cc_s": "s", "dedup.cc_rounds": "count", "dedup.cc_jobs": "count",
    "dedup.jobs_per_round": "jobs/round", "prep.self_s": "s",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.driver_idle_s": "s", "spark.shuffle_write_bytes": "bytes", "spark.spill_bytes": "bytes",
    "spark.executor_cpu_s": "s", "spark.gc_s": "s", "spark.busy_frac": "ratio",
    "trace.wall_s": "s", "trace.overhead_frac": "ratio", "trace.coverage_frac": "ratio",
}


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=("full", "tiny"), default="full",
                   help="input size; tiny only exercises the code paths")
    return p.parse_args(argv)


def _environment(work: str, trace: bool) -> None:
    """Pin the run to local[4] and keep every file it writes under the
    checkout; Python workers import the package from the checkout."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(CPUS)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_UI"] = "true" if trace else "false"


def _retained_heap_mb(spark) -> float:
    """JVM heap still in use after a full GC once the timed runs are over.
    Informational only: it varies by up to ~2x between runs (G1 sizing of
    the default driver heap), too much to gate on."""
    jvm = spark.sparkContext._jvm
    jvm.System.gc()
    usage = jvm.java.lang.management.ManagementFactory.getMemoryMXBean().getHeapMemoryUsage()
    return usage.getUsed() / 2**20


def _host(spark, workload, args) -> dict:
    with open("/proc/meminfo") as f:
        mem_kb = int(next(line for line in f if line.startswith("MemTotal:")).split()[1])
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "cpu_count": os.cpu_count(),
        "mem_gb": round(mem_kb / 2**20, 1),
        "spark": spark.version,
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
        "python": platform.python_version(),
        "master": spark.sparkContext.master,
        "catalog": os.environ.get("SPARK_GRAFT_CATALOG", "posix"),
        "workload": workload.name,
        "seed": args.seed,
        "size": args.size,
        "inputs": workload.inputs(),
    }


def _stop(spark) -> None:
    """Stop the session, then the gateway JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _timed_runs(workload, seconds: float, record: dict) -> None:
    """Run, time and check the workload until ``seconds`` have passed
    (at least once). Appends to ``record``."""
    start = time.perf_counter()
    i = 0
    while True:
        record["attempted"] += 1
        try:
            t = time.perf_counter()
            items = workload.run_once(i)
            wall = time.perf_counter() - t
            record["walls"].append(wall)
            record["items"] = items
            ok = workload.check(i)
        except Exception:
            traceback.print_exc()
            ok = False
        if not ok:
            record["failed"] += 1
        i += 1
        if time.perf_counter() - start >= seconds:
            return


def _traced_run(spark, workload, record: dict, out_path: str) -> dict:
    import layers
    from tracing import Spans, Tracer

    tracer = Tracer(spark)
    tracer.install()
    try:
        tracer.capturing = True
        record["attempted"] += 1
        t = time.perf_counter()
        with tracer.span("iteration") as it:
            workload.run_once(10_000)
        wall = time.perf_counter() - t
        tracer.capturing = False
        # captured plans may read the run's committed output, which the
        # check removes, so prefixes are forced first
        run_span, force, compute = layers.BY_WORKLOAD[workload.name]
        forced = force(tracer)
        if not workload.check(10_000):
            record["failed"] += 1
    finally:
        tracer.uninstall()
    spans = Spans(tracer, tracer.pull())
    metrics = compute(spans, spans.named(run_span, within=it)[-1], forced, CPUS)
    metrics["trace.wall_s"] = wall
    # against this process's own timed runs, which also run with the UI
    # on and are less warm: the figure is the wrappers' and job groups'
    # cost only, not the UI/listener cost, and it leans low
    metrics["trace.overhead_frac"] = wall / statistics.median(record["walls"]) - 1
    tracer.dump(out_path, {"workload": workload.name, "metrics": metrics})
    return metrics


def main(argv=None) -> int:
    args = _args(argv)
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    sys.path.insert(0, ROOT)
    # fails here, before anything is written or started, when the
    # package is absent
    from otel2pv_spark.session import get_spark
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        raise SystemExit(f"unknown workload {args.workload!r}: one of {sorted(WORKLOADS)}")
    _environment(work, bool(args.trace))

    t = time.perf_counter()
    spark = get_spark(
        master=f"local[{CPUS}]",
        app_name=f"perfbench-{args.workload}",
        extra={"spark.sql.warehouse.dir": os.path.join(work, "warehouse")},
    )
    try:
        session_s = time.perf_counter() - t
        workload = WORKLOADS[args.workload](spark, work, args.seed, args.size)
        prepare_s = []
        for _ in range(SETUP_PASSES):
            t = time.perf_counter()
            workload.prepare()
            prepare_s.append(time.perf_counter() - t)
        t = time.perf_counter()
        workload.warm_up()
        warm_up_s = time.perf_counter() - t
        setup_s = session_s + statistics.median(prepare_s) + warm_up_s

        record = {"attempted": 0, "failed": 0, "walls": [], "items": 0}
        _timed_runs(workload, args.seconds, record)
        heap_mb = _retained_heap_mb(spark)

        if args.trace:
            out_dir = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out_dir, exist_ok=True)
            layer = _traced_run(
                spark, workload, record,
                os.path.join(out_dir, f"trace-{args.workload}-seed{args.seed}.json"),
            )
            metrics = {k: {"value": float(layer.get(k, 0.0)), "unit": u} for k, u in PER_LAYER.items()}
        else:
            walls = record["walls"]
            values = {
                "items_per_s": record["items"] / statistics.median(walls) if walls else 0.0,
                "setup_s": setup_s,
                "ok_frac": 1 - record["failed"] / record["attempted"],
            }
            metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}
        detail = {
            "host": _host(spark, workload, args),
            "setup": {"session_s": session_s, "prepare_s": prepare_s, "warm_up_s": warm_up_s},
            "run_walls_s": record["walls"],
            "retained_heap_mb": heap_mb,
            "failed_frac": record["failed"] / record["attempted"],
            "reference_ok": workload.reference_ok,
        }
    finally:
        _stop(spark)
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(work))

    print("detail " + json.dumps(detail))
    print(json.dumps({
        "correct": record["failed"] == 0 and workload.reference_ok,
        "attempted": record["attempted"],
        "failed": record["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
