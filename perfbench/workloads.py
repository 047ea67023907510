"""The benchmark's workloads.

Each workload has the same life cycle: ``prepare`` materializes the seeded
inputs (repeatable, so set-up can be timed several times), ``warm_up``
runs the operation once and records the reference the timed runs are
checked against, ``run_once`` is the timed operation, and ``check``
compares that run's committed output with the reference.
"""

from __future__ import annotations

import os
import shutil

import checks
import inputs
from otel2pv_spark.plans import curation, pipeline
from otel2pv_spark.sources.catalog import Catalog

# input sizes; "tiny" only exercises the code paths (smoke test)
SIZES = {
    "full": {"convs": 5000, "docs": 5000},
    "tiny": {"convs": 200, "docs": 300},
}


class _Workload:
    name = ""

    def __init__(self, spark, work: str, seed: int, size: str):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.size = SIZES[size]
        self.reference = None
        self.reference_ok = False

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)


class BatchWindow(_Workload):
    """``pipeline.run`` with the default config: the window path."""

    name = "batch_window"

    def prepare(self) -> None:
        self.input_path = self.path("transcripts")
        self.rows = inputs.write_transcripts(
            self.spark, self.input_path, self.size["convs"], self.seed
        )
        self.transcripts = self.spark.read.parquet(self.input_path)

    def inputs(self) -> dict:
        return {"conversations": self.size["convs"], "turns": self.rows}

    def run_once(self, i: int) -> int:
        pipeline.run(
            self.spark, self.transcripts,
            pipeline.PipelineConfig(out_root=self.path(f"run{i}"), run_id=f"r{i}"),
        )
        return self.rows

    def warm_up(self) -> None:
        """The first run's output becomes the reference, provided it
        agrees with the prev-link/reject oracle. One more run lets the
        JIT settle: on a 4-CPU host, a process's
        second run took 4.8-6.3 s across seeds, its third and fourth
        3.9-4.7 s."""
        self.run_once(-1)
        out = self.path("run-1")
        try:
            cat = Catalog(self.spark, out)
            self.reference = checks.pipeline_fingerprint(cat)
            self.reference_ok = checks.links_match(cat, checks.expected_links(self.input_path))
        finally:
            shutil.rmtree(out, ignore_errors=True)
        self.run_once(-2)
        self.check(-2)

    def check(self, i: int) -> bool:
        out = self.path(f"run{i}")
        try:
            got = checks.pipeline_fingerprint(Catalog(self.spark, out))
        finally:
            shutil.rmtree(out, ignore_errors=True)
        return self.reference_ok and got == self.reference


class Curation(_Workload):
    """``curation.run_curation`` on the fixed document corpus; the seed
    picks the held-out eval slice."""

    name = "curation"

    def prepare(self) -> None:
        docs, evals = self.path("documents.parquet"), self.path("eval.parquet")
        self.n_docs, self.n_eval = inputs.write_documents(docs, evals, self.size["docs"], self.seed)
        self.expected_dups = checks.expected_duplicates(docs)
        self.docs = self.spark.read.parquet(docs)
        self.eval = self.spark.read.parquet(evals)

    def inputs(self) -> dict:
        return {"documents": self.n_docs, "eval_documents": self.n_eval}

    def run_once(self, i: int) -> int:
        self.result = curation.run_curation(
            self.spark, self.docs, self.eval,
            curation.CurationConfig(out_root=self.path(f"run{i}"), run_id=f"r{i}"),
        )
        return self.n_docs

    def _outcome(self, i: int) -> tuple:
        out = self.path(f"run{i}")
        try:
            return self.result["n_kept"], checks.audit_fingerprint(Catalog(self.spark, out))
        finally:
            shutil.rmtree(out, ignore_errors=True)

    def warm_up(self) -> None:
        """The first run's outcome becomes the reference, provided its
        exact-duplicate count matches the oracle."""
        self.run_once(-1)
        self.reference = self._outcome(-1)
        self.reference_ok = (
            self.result["n_in"] == self.n_docs
            and self.result["by_reason"].get("duplicate", 0) == self.expected_dups
        )

    def check(self, i: int) -> bool:
        return self.reference_ok and self._outcome(i) == self.reference


WORKLOADS = {w.name: w for w in (BatchWindow, Curation)}
