"""End-to-end pipeline runner — the thin orchestration layer the
reference spread across Airflow + NiFi + docker exec
(ref:airflow/dags/weather_pipeline.py:24-50), collapsed to one process:

  1. FEED   — materialize wire JSON micro-files (stands in for
              NiFi InvokeHTTP -> EvaluateJsonPath -> AttributesToJSON ->
              PublishKafka; in production, point the engine at Kafka via
              sources.readers.kafka_stream_source instead)
  2. STREAM — Structured Streaming over the wire files
              (jobs.start_ingest): cast + enrich (the SAME functions the
              batch path runs), append to a checkpointed parquet lake
              (WORK/out/lake) + a JSON alerts feed (WORK/out/alerts)
  3. QUERY  — run the dashboard queries against the fresh lake

Usage:
  python3 scripts/run_pipeline.py [--sf-dir /root/testdata/sf0.001]
                                  [--work-dir /tmp/weatherlake] [--cpus N]
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def run(sf_dir: str, work_dir: str, cpus: int | str | None = None) -> dict[str, int]:
    from pyspark.sql import functions as F

    from weather_bigdata_project_spark import weather_domain as wd
    from weather_bigdata_project_spark.session import get_spark
    from weather_bigdata_project_spark.streaming import jobs

    spark = get_spark("run_pipeline", cpus=cpus)
    wire_dir = os.path.join(work_dir, "wire")
    out_dir = os.path.join(work_dir, "out")

    # 1. FEED: a re-run starts from an empty lake. The new wire files
    # carry new names, so a kept checkpoint would take them as new input
    # and append every record a second time.
    shutil.rmtree(out_dir, ignore_errors=True)
    wd.wire_frame(spark, sf_dir).repartition(8).write.mode("overwrite").json(
        wire_dir
    )

    # 2. STREAM (two concurrent checkpointed queries, drained availableNow)
    queries = jobs.start_ingest(spark, wire_dir, out_dir)
    stuck = [q for q in queries if not q.awaitTermination(300)]
    if stuck:
        for q in queries:
            q.stop()
        raise TimeoutError(
            f"streams {[q.name or q.id for q in stuck]} did not drain in 300 s"
        )

    # 3. QUERY the lake; the two JSON feeds are read with the schemas
    # they were written with, so neither count runs a schema-inference job
    alerts_schema = jobs.alerts_stream(
        jobs.enriched_stream(jobs.wire_file_stream(spark, wire_dir))
    ).schema
    lake_df = spark.read.parquet(os.path.join(out_dir, "lake"))
    stats = (
        lake_df.groupBy("city_name")
        .agg(F.count(F.lit(1)).alias("n"), F.avg("temperature").alias("avg_t"))
        .collect()
    )
    out = {
        "wire_rows": int(
            spark.read.schema(jobs.WIRE_SCHEMA).json(wire_dir).count()
        ),
        "lake_rows": int(lake_df.count()),
        "alert_rows": int(
            spark.read.schema(alerts_schema)
            .json(os.path.join(out_dir, "alerts"))
            .count()
        ),
        "cities": len(stats),
    }
    print(out)
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    ap.add_argument("--work-dir", default="/tmp/weatherlake")
    ap.add_argument(
        "--cpus", default=None,
        help="local cores (default: $SPARK_GRAFT_CPUS or the usable cores)",
    )
    args = ap.parse_args()
    run(args.sf_dir, args.work_dir, args.cpus)


if __name__ == "__main__":
    main()
