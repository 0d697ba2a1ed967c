"""The ingest hot path: the reference's streaming ETL
(ref:spark-apps/weather_streaming.py:48-216) re-expressed so batch and
streaming share the SAME transformation functions (`weather_domain
.cast_wire` / `.enrich` are pure DataFrame->DataFrame and streaming-safe
— all narrow projections, SURVEY §3 "rebuild lifecycle").

Reference parity (T1-T3, T8): append output mode, per-sink checkpoints,
two queries off one enriched stream, explicit trigger. Wire JSON files
-> `cast_wire` -> `enrich` -> parquet lake plus JSON alerts feed, all
started by :func:`start_ingest`. This module holds only what the
pipeline script and the benchmark call; the streaming twins of the
batch query families (windows, state, joins, sketches, ingest-time
dedup and curation) live in :mod:`.twins`.

Tests drive these with a deterministic file source + availableNow
trigger (the Kafka twin is sources.readers.kafka_stream_source — same
downstream plan)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as Ty

from .. import weather_domain as wd
from ..session import tune

#: the Kafka wire schema (ref:spark-apps/weather_streaming.py:28-43) in
#: ``wd.wire_frame``'s column order, record key first, so the enriched
#: stream has ``wd.ENRICHED_COLUMNS`` order, as the batch twin has
WIRE_SCHEMA = Ty.StructType(
    [Ty.StructField("event_id", Ty.LongType())]
    + [Ty.StructField(n, Ty.StringType()) for n in wd.wire_wide_sql("é")]
)


def trigger_bytes(spark: SparkSession) -> int:
    """Byte bound on one file-source micro-batch: one full input split
    (``spark.sql.files.maxPartitionBytes``) per scheduler slot
    (``defaultParallelism``), i.e. one round of scan tasks that keeps
    every core busy. A backlog smaller than that drains in a single
    micro-batch, so listing, WAL, planning and commit are paid once,
    not once per handful of files; a larger one is admitted one round
    of splits per trigger, a bound that grows with the cluster. The
    file source always admits at least one file, however large."""
    split = spark._jsparkSession.sessionState().conf().filesMaxPartitionBytes()
    return spark.sparkContext.defaultParallelism * split


def wire_file_stream(spark: SparkSession, wire_dir: str) -> DataFrame:
    """File twin of the Kafka wire topic (S1): JSON-lines wire records
    under the exact Kafka wire schema; tests replay a directory
    deterministically. Each trigger admits at most :func:`trigger_bytes`
    of new files — the reference's Kafka source had no rate limit and
    took every pending record, and a backlog that fits one round of
    splits still does here."""
    tune(spark)
    return (
        spark.readStream.schema(WIRE_SCHEMA)
        .option("maxBytesPerTrigger", trigger_bytes(spark))
        .json(wire_dir)
    )


def enriched_stream(wire_stream: DataFrame) -> DataFrame:
    """The full enrichment pipeline on a streaming frame — byte-for-byte
    the same functions the batch path runs (stream/batch equivalence is
    pytest-asserted)."""
    return wd.enrich(wd.cast_wire(wire_stream))


def alerts_stream(enriched: DataFrame) -> DataFrame:
    """P6/P5 alert routing (ref:spark-apps/weather_streaming.py:183-192)."""
    return enriched.filter(F.col("alert_type") != "NORMAL").select(
        "event_id", *wd.ALERT_COLUMNS
    )


def start_lake_sink(df: DataFrame, path: str, checkpoint: str, fmt: str = "parquet"):
    """S8/S9 (ref:...:170-201) with the format upgraded json->parquet;
    exactly-once via checkpoint + file-sink commit log. availableNow
    drains all pending input then stops — deterministic for tests,
    batch-backfill-friendly in production."""
    return (
        df.writeStream.outputMode("append")
        .format(fmt)
        .option("path", path)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def start_ingest(spark: SparkSession, wire_dir: str, out: str):
    """The hot path (ref:spark-apps/weather_streaming.py:170-201): one
    enriched stream over the wire files under `wire_dir`, drained
    availableNow into the parquet lake ``{out}/lake`` and the JSON alerts
    feed ``{out}/alerts``, checkpointed under ``{out}/ckpt/lake`` and
    ``{out}/ckpt/alerts``. Returns ``(lake_query, alerts_query)``."""
    enriched = enriched_stream(wire_file_stream(spark, wire_dir))
    return (
        start_lake_sink(enriched, f"{out}/lake", f"{out}/ckpt/lake"),
        start_lake_sink(
            alerts_stream(enriched), f"{out}/alerts", f"{out}/ckpt/alerts",
            fmt="json",
        ),
    )
