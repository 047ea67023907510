"""The pipeline tail after the fan-out write: one grouped readback of
the written output, then _metrics and _lineage committed from the
driver (``Catalog.write_rows``) under their own run-manifest steps.
Pins the run's Spark job count and resumes from the crash point
between the two run-table commits."""

from __future__ import annotations

import json
import os

import pytest

from conftest import count_jobs, table_mtime_fingerprint
from otel2pv_spark import datagen
from otel2pv_spark.plans import pipeline
from otel2pv_spark.sources.catalog import Catalog

SF = "/root/testdata/sf0.001"


def _cfg(out: str) -> pipeline.PipelineConfig:
    return pipeline.PipelineConfig(out_root=out, run_id="r")


@pytest.mark.parametrize("strategy", ["posix", "manifest"])
def test_run_job_count(spark, tmp_path, monkeypatch, strategy):
    """Exact job count of one default run on the fixture: the fan-out
    write's jobs plus the readback's three (schema inference,
    shuffle-map stage, result stage). The two run-table commits launch
    none — they cost two full write jobs before write_rows."""
    monkeypatch.setenv("SPARK_GRAFT_CATALOG", strategy)
    tr = datagen.transcripts_from_events(spark, SF)
    tm, rm = datagen.tool_meta(spark), datagen.role_meta(spark)
    with count_jobs(spark) as jobs:
        pipeline.run(spark, tr, _cfg(str(tmp_path / "out")), tm, rm)
    assert len(jobs) == 8


@pytest.mark.parametrize("strategy", ["posix", "manifest"])
def test_resume_between_metrics_and_lineage(spark, tmp_path, monkeypatch, strategy):
    """Crash point inside the tail: _metrics committed, _lineage not.
    The resumed run rewrites _lineage only — neither the fan-out output
    nor _metrics is touched — and both run tables equal the
    uninterrupted run's."""
    monkeypatch.setenv("SPARK_GRAFT_CATALOG", strategy)
    out_a = str(tmp_path / "full")
    out_b = str(tmp_path / "resumed")
    full = pipeline.run_from_events(spark, SF, _cfg(out_a))

    pipeline.run_from_events(spark, SF, _cfg(out_b))
    man_path = os.path.join(out_b, "_manifest", "r.json")
    with open(man_path) as f:
        state = json.load(f)
    del state["committed"]["lineage"]
    with open(man_path, "w") as f:
        json.dump(state, f)
    cat_b = Catalog(spark, out_b)
    cat_b.drop("_lineage")
    kept = ("sequenced_events", "_metrics")
    before = {t: table_mtime_fingerprint(spark, out_b, t) for t in kept}

    res = pipeline.run_from_events(spark, SF, _cfg(out_b))
    assert res["rows"] == full["rows"]
    assert {t: table_mtime_fingerprint(spark, out_b, t) for t in kept} == before
    cat_a = Catalog(spark, out_a)
    for tbl in ("_metrics", "_lineage"):
        a, b = cat_a.read(tbl), cat_b.read(tbl)
        assert a.schema == b.schema
        assert sorted(a.collect()) == sorted(b.collect())
