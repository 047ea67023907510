"""Traced-run collector.

Everything here lives outside the package: spans come from wrappers the
benchmark installs around the package's public functions, Spark work is
tagged with one job group per span, and job, stage and SQL metrics are
pulled from the driver's in-process REST API after the run. Layer self
times come from prefix forcing: each layer's captured output DataFrame is
forced with a ``noop`` write, and a layer's self time is the difference
from the previous layer's prefix.

Spans stay in memory until :meth:`Tracer.dump`.
"""

from __future__ import annotations

import contextlib
import datetime
import functools
import json
import statistics
import time
import urllib.request

from otel2pv_spark.functions import dedup, prep
from otel2pv_spark.operators import enrich, parse, route, sequence, verify
from otel2pv_spark.plans import curation, pipeline
from otel2pv_spark.sources import catalog

# (owner, attribute, span name, capture the call's input and output)
WRAPPED = [
    (pipeline, "run", "pipeline.run", False),
    (parse, "parse", "parse", True),
    (sequence, "sequence_window", "sequence", True),
    (verify, "chain_verify_flags", "verify", True),
    (enrich, "enrich", "enrich", True),
    (route, "assign_reject_sinks", "route", True),
    (catalog.PosixCatalog, "commit_fanout_split", "catalog.fanout", False),
    (catalog.ManifestCatalog, "commit_fanout_split", "catalog.fanout", False),
    (catalog.PosixCatalog, "write", "catalog.write", False),
    (catalog.ManifestCatalog, "write", "catalog.write", False),
    (curation, "run_curation", "curation.run", False),
    (dedup, "dedup_clusters", "dedup.clusters", False),
    (dedup, "connected_components", "dedup.cc", False),
    (dedup, "snapshot", "dedup.snapshot", False),
    (prep, "curate", "prep.curate", True),
    (prep, "scrub_text", "prep.scrub_text", True),
    (prep, "decontaminate", "prep.decontaminate", True),
    (prep, "pack_sequences", "prep.pack_sequences", True),
]

_SIZE = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}


def _rest_time(s: str) -> float:
    """``2026-10-17T03:17:39.684GMT`` → epoch seconds."""
    dt = datetime.datetime.strptime(s[:-3], "%Y-%m-%dT%H:%M:%S.%f")
    return dt.replace(tzinfo=datetime.timezone.utc).timestamp()


def sql_metric(value: str) -> float:
    """SQL UI metric text (``4,482``, ``130.6 KiB``, ``total (min, med,
    max ...)\\n400.3 KiB (...)``) → number, sizes in bytes."""
    line = value.split("\n")[1] if value.startswith("total") else value
    num, _, unit = line.split(" (")[0].strip().partition(" ")
    return float(num.replace(",", "")) * _SIZE.get(unit, 1)


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self.captures: dict[str, list[tuple]] = {}
        self.capturing = False
        self._stack: list[dict] = []
        self._patches: list[tuple] = []

    # ------------------------------------------------------------ spans
    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        sp = {
            "id": f"s{len(self.spans)}",
            "name": name,
            "parent": parent["id"] if parent else None,
            "start": time.time(),
            "end": None,
        }
        self.spans.append(sp)
        self._stack.append(sp)
        self.sc.setLocalProperty("spark.jobGroup.id", sp["id"])
        self.sc.setLocalProperty("spark.job.description", name)
        try:
            yield sp
        finally:
            sp["end"] = time.time()
            self._stack.pop()
            self.sc.setLocalProperty("spark.jobGroup.id", parent["id"] if parent else None)
            self.sc.setLocalProperty("spark.job.description", parent["name"] if parent else None)

    def install(self) -> None:
        for owner, attr, name, capture in WRAPPED:
            orig = owner.__dict__[attr]
            setattr(owner, attr, self._wrap(orig, name, capture))
            self._patches.append((owner, attr, orig))

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    def _wrap(self, fn, name: str, capture: bool):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            # a call made inside another call of the same layer (curate
            # calls scrub_text) is part of its caller's self time
            nested = bool(self._stack) and self._stack[-1]["name"].split(".")[0] == name.split(".")[0]
            with self.span(name):
                out = fn(*args, **kwargs)
            if capture and self.capturing and not nested:
                self.captures.setdefault(name, []).append((args[0], out))
            return out

        return wrapper

    # --------------------------------------------------- prefix forcing
    def force(self, name: str, df, reps: int = 5) -> float:
        """Median wall of ``reps`` noop writes of ``df``; each rep's jobs
        are tagged ``prefix:<name>:<rep>``."""
        walls = []
        for rep in range(reps):
            self.sc.setLocalProperty("spark.jobGroup.id", f"prefix:{name}:{rep}")
            t = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            walls.append(time.perf_counter() - t)
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        return statistics.median(walls)

    # -------------------------------------------------------- REST pull
    def pull(self, settle_s: float = 10.0) -> dict:
        """Jobs, stages and SQL executions from the in-process REST API,
        once the status listener has caught up with every job."""
        url = self.sc.uiWebUrl
        host = url.split("//", 1)[1].rsplit(":", 1)[0]
        base = url.replace(host, "127.0.0.1", 1) + f"/api/v1/applications/{self.sc.applicationId}/"

        def get(path):
            with urllib.request.urlopen(base + path, timeout=30) as r:
                return json.load(r)

        deadline = time.time() + settle_s
        while True:
            jobs = get("jobs")
            if all(j["status"] != "RUNNING" for j in jobs) or time.time() > deadline:
                break
            time.sleep(0.2)
        stages = {}
        for s in get("stages"):
            if s["status"] == "COMPLETE":
                stages[s["stageId"]] = s
        return {
            "jobs": jobs,
            "stages": stages,
            "sql": get("sql?details=true&planDescription=false&offset=0&length=100000"),
        }

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({**extra, "spans": self.spans}, f, indent=1)


class Spans:
    """Queries over one traced run: the spans, and the REST records of
    the jobs each span launched (its own and its descendants')."""

    def __init__(self, tracer: Tracer, rest: dict):
        self.spans = tracer.spans
        self.rest = rest
        self.by_id = {s["id"]: s for s in self.spans}
        self.jobs_of_group: dict[str, list] = {}
        for j in rest["jobs"]:
            self.jobs_of_group.setdefault(j.get("jobGroup"), []).append(j)

    def named(self, name: str, within: dict | None = None) -> list[dict]:
        return [s for s in self.spans if s["name"] == name and (within is None or self.inside(s, within))]

    def inside(self, span: dict, ancestor: dict) -> bool:
        while span is not None:
            if span["id"] == ancestor["id"]:
                return True
            span = self.by_id.get(span["parent"])
        return False

    def jobs(self, span: dict) -> list[dict]:
        out = []
        for s in self.spans:
            if self.inside(s, span):
                out += self.jobs_of_group.get(s["id"], [])
        return out

    def prefix_jobs(self, name: str) -> list[dict]:
        """Jobs of the first forcing of a prefix."""
        return self.jobs_of_group.get(f"prefix:{name}:0", [])

    def stages(self, jobs: list[dict]) -> list[dict]:
        ids = {sid for j in jobs for sid in j["stageIds"]}
        return [self.rest["stages"][i] for i in sorted(ids) if i in self.rest["stages"]]

    def sql_nodes(self, jobs: list[dict]):
        """(node name, {metric name: value}) of every SQL plan node in
        the executions that ran any of ``jobs``."""
        ids = {j["jobId"] for j in jobs}
        for e in self.rest["sql"]:
            if ids & set(e.get("successJobIds", []) + e.get("failedJobIds", [])):
                for n in e["nodes"]:
                    yield n["nodeName"], {m["name"]: sql_metric(m["value"]) for m in n.get("metrics", [])}

    @staticmethod
    def job_interval(j: dict) -> tuple[float, float]:
        return _rest_time(j["submissionTime"]), _rest_time(j["completionTime"])

    def busy_s(self, jobs: list[dict], lo: float, hi: float) -> float:
        """Wall inside [lo, hi] during which at least one job ran."""
        ivs = sorted(
            (max(a, lo), min(b, hi)) for a, b in map(self.job_interval, jobs) if b > lo and a < hi
        )
        total, cur_a, cur_b = 0.0, None, None
        for a, b in ivs:
            if cur_b is None or a > cur_b:
                if cur_b is not None:
                    total += cur_b - cur_a
                cur_a, cur_b = a, b
            else:
                cur_b = max(cur_b, b)
        if cur_b is not None:
            total += cur_b - cur_a
        return total
