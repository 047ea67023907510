"""Per-step timing of the single-pass run() at $SPARK_GRAFT_CPUS."""
from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from otel2pv_spark import datagen
from otel2pv_spark.operators import route as route_op
from otel2pv_spark.plans import pipeline
from otel2pv_spark.session import get_spark
from otel2pv_spark.sources.catalog import Catalog

N_CONVS = int(os.environ.get("SPARK_GRAFT_SCALE_CONVS", "1000000"))


def main() -> None:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "16")
    spark = get_spark(app_name=f"profile-sp-{cpus}")
    tr = datagen.synth_transcripts(spark, n_convs=N_CONVS, partitions=64)
    tool_meta, role_meta = datagen.tool_meta(spark), datagen.role_meta(spark)
    cfg = pipeline.PipelineConfig()

    # warmup
    pipeline.run(spark, tr, pipeline.PipelineConfig(
        out_root=f"/tmp/otel2pv_sp_{os.getpid()}_warm", run_id="warm"))

    out_root = f"/tmp/otel2pv_sp_{os.getpid()}"
    cat = Catalog(spark, out_root)
    times = {}
    t_all = time.time()

    routed_all = pipeline.build_single_pass(tr, tool_meta, role_meta, cfg)

    t0 = time.time()
    routed_all.write.format("noop").mode("overwrite").save()
    times["noop_compute"] = round(time.time() - t0, 2)

    t0 = time.time()
    cat.commit_fanout_split(routed_all, "sequenced_events", "rejects")
    times["fanout_write"] = round(time.time() - t0, 2)

    t0 = time.time()
    per = (
        cat.read("sequenced_events")
        .groupBy("sink", "src_partition_id")
        .agg(F.count("*").alias("rows"),
             F.min("conv_id").alias("min_conv_id"),
             F.max("conv_id").alias("max_conv_id"))
    ).collect()
    times["readback_agg"] = round(time.time() - t0, 2)

    # the driver-side run-table commits, exactly as run() makes them
    t0 = time.time()
    metrics, lineage = pipeline.run_table_rows(per, "profile")
    cat.write_rows(metrics, pipeline.METRICS_SCHEMA, "_metrics")
    cat.write_rows(lineage, pipeline.LINEAGE_SCHEMA, "_lineage")
    times["tiny_writes"] = round(time.time() - t0, 2)

    times["TOTAL"] = round(time.time() - t_all, 2)
    times["rows"] = sum(r.rows for r in per)
    print(f"PROFSP[{cpus}] " + json.dumps(times))
    spark.stop()


if __name__ == "__main__":
    main()
