"""Per-layer metrics of one traced run, computed from its spans, the
REST records of the jobs each span launched, and prefix forcing."""

from __future__ import annotations

from pyspark.sql import functions as F

from tracing import Spans, Tracer

WRITE_NODE = "Execute InsertIntoHadoopFsRelationCommand"


def _wall(span: dict) -> float:
    return span["end"] - span["start"]


def _node_sum(spans: Spans, jobs, node: str, metrics) -> float:
    return sum(
        m.get(name, 0.0) for n, m in spans.sql_nodes(jobs) if n == node for name in metrics
    )


def _stage_sum(spans: Spans, jobs, field: str) -> float:
    return float(sum(s[field] for s in spans.stages(jobs)))


def _spark(spans: Spans, run: dict, cpus: int) -> dict:
    jobs = spans.jobs(run)
    stages = spans.stages(jobs)
    wall = _wall(run)
    run_s = sum(s["executorRunTime"] for s in stages) / 1e3
    return {
        "spark.jobs": len(jobs),
        "spark.stages": len(stages),
        "spark.tasks": sum(s["numCompleteTasks"] for s in stages),
        "spark.driver_idle_s": wall - spans.busy_s(jobs, run["start"], run["end"]),
        "spark.shuffle_write_bytes": _stage_sum(spans, jobs, "shuffleWriteBytes"),
        "spark.spill_bytes": _stage_sum(spans, jobs, "diskBytesSpilled"),
        "spark.executor_cpu_s": _stage_sum(spans, jobs, "executorCpuTime") / 1e9,
        "spark.gc_s": _stage_sum(spans, jobs, "jvmGcTime") / 1e3,
        "spark.busy_frac": run_s / (wall * cpus),
    }


def force_pipeline_prefixes(tracer: Tracer) -> dict:
    """Prefix walls along the single-pass plan the traced run built:
    scan, then each layer's captured output in plan order. Also counts
    parse rejects on the parse output."""
    cap = {name: calls[-1] for name, calls in tracer.captures.items()}
    chain = [
        ("scan", cap["parse"][0]),
        ("parse", cap["parse"][1]),
        ("sequence", cap["sequence"][1]),
        ("verify", cap["verify"][1]),
        ("enrich", cap["enrich"][1]),
        ("route", cap["route"][1]),
    ]
    walls = {name: tracer.force(name, df) for name, df in chain}
    tracer.sc.setLocalProperty("spark.jobGroup.id", "prefix:reject_frac")
    rows, rejects = cap["parse"][1].agg(
        F.count("*"), F.sum((~F.col("parse_ok")).cast("long"))
    ).head()
    tracer.sc.setLocalProperty("spark.jobGroup.id", None)
    return {"order": [n for n, _ in chain], "walls": walls, "reject_frac": (rejects or 0) / rows}


def pipeline_metrics(spans: Spans, run: dict, prefixes: dict, cpus: int) -> dict:
    order, walls = prefixes["order"], prefixes["walls"]
    self_s, prev = {}, 0.0
    for name in order:
        self_s[name] = walls[name] - prev
        prev = walls[name]

    run_jobs = spans.jobs(run)
    fan = spans.named("catalog.fanout", within=run)[-1]
    fan_jobs = spans.jobs(fan)
    last_task_end = max(spans.job_interval(j)[1] for j in fan_jobs)
    tail_s = run["end"] - fan["end"]
    write_self = _wall(fan) - walls["route"]

    m = {
        "scan.self_s": self_s["scan"],
        "parse.self_s": self_s["parse"],
        "parse.reject_frac": prefixes["reject_frac"],
        "sequence.self_s": self_s["sequence"],
        "verify.self_s": self_s["verify"],
        "enrich.self_s": self_s["enrich"],
        "route.self_s": self_s["route"],
        "catalog.fanout_s": _wall(fan),
        "catalog.commit_s": fan["end"] - last_task_end,
        "catalog.write_self_s": write_self,
        "catalog.files_written": _node_sum(spans, fan_jobs, WRITE_NODE, ["number of written files"]),
        "catalog.bytes_written": _node_sum(spans, fan_jobs, WRITE_NODE, ["written output"]),
        "pipeline.tail_s": tail_s,
        "pipeline.tail_jobs": sum(spans.job_interval(j)[0] >= fan["end"] for j in run_jobs),
        # the layer self times and the tail only: adding write_self_s
        # would cancel the layers out (it is the fan-out minus their sum)
        "trace.coverage_frac": (sum(self_s.values()) + tail_s) / _wall(run),
    }
    # the conv_id exchange is the sequence layer's; parse adds none
    seq_jobs, parse_jobs = spans.prefix_jobs("sequence"), spans.prefix_jobs("parse")
    for key, field in (("sequence.shuffle_bytes", "shuffleWriteBytes"),
                       ("sequence.spill_bytes", "diskBytesSpilled")):
        m[key] = _stage_sum(spans, seq_jobs, field) - _stage_sum(spans, parse_jobs, field)
    return {**m, **_spark(spans, run, cpus)}


def force_prep_calls(tracer: Tracer) -> float:
    """Summed self time of the top-level prep calls of the traced run:
    each call's forced output minus its forced input. Each DataFrame is
    forced once, not five times: the decontaminate prefixes recompute
    the dedup fixpoint, and three forcings of all of them took 40 s on a
    4-CPU host."""
    walls = {}

    def force(tag, df):
        if id(df) not in walls:
            walls[id(df)] = tracer.force(tag, df, reps=1)
        return walls[id(df)]

    total = 0.0
    for name, calls in tracer.captures.items():
        if name.startswith("prep."):
            for k, (inp, out) in enumerate(calls):
                total += force(f"{name}:{k}:out", out) - force(f"{name}:{k}:in", inp)
    return total


def curation_metrics(spans: Spans, run: dict, prep_self_s: float, cpus: int) -> dict:
    ccs = spans.named("dedup.cc", within=run)
    # one snapshot cuts the input edges, then one per round
    rounds = sum(len(spans.named("dedup.snapshot", within=cc)) - 1 for cc in ccs)
    cc_jobs = sum(len(spans.jobs(cc)) for cc in ccs)
    accounted = sum(map(_wall, spans.named("dedup.clusters", within=run))) + sum(
        map(_wall, spans.named("catalog.write", within=run))
    )
    return {
        "dedup.cc_s": sum(map(_wall, ccs)),
        "dedup.cc_rounds": rounds,
        "dedup.cc_jobs": cc_jobs,
        "dedup.jobs_per_round": cc_jobs / rounds if rounds else 0.0,
        "prep.self_s": prep_self_s,
        "trace.coverage_frac": accounted / _wall(run),
        **_spark(spans, run, cpus),
    }


# workload → (span of the traced run, prefix forcing, metrics from both)
BY_WORKLOAD = {
    "batch_window": ("pipeline.run", force_pipeline_prefixes, pipeline_metrics),
    "curation": ("curation.run", force_prep_calls, curation_metrics),
}
