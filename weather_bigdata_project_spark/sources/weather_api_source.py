"""The reference's REST ingestion (NiFi InvokeHTTP polling
OpenWeatherMap, ref:NiFi_Flow.json:1 InvokeHTTP `Remote URL =
https://api.openweathermap.org/...`) re-expressed as a Spark 4 Python
DataSource — the ingestion step lives INSIDE the engine instead of an
external dataflow tool, with both a batch reader and a streaming reader:

    spark.dataSource.register(WeatherApiDataSource)
    spark.read.format("weather_api").option("rows", 1000).load()
    spark.readStream.format("weather_api").option("batch_size", 50).load()

No network in this container, so the "API" is a deterministic synthetic
responder emitting the exact 14-column all-string wire schema
(ref:spark-apps/weather_streaming.py:28-43) the NiFi flow published to
Kafka — including the dirty 'N/A' temperature rows the cast battery must
null out. The payload generator is plain Python running INSIDE executor
partitions (each partition generates its own id range — embarrassingly
parallel, zero driver data movement), exactly where per-partition HTTP
calls would go against a real paginated API.

Scale notes: `partitions()` splits the id range so a real backfill
fans out across executors; the stream reader's offset is just the next
event id (monotonic, replayable — the same contract Kafka offsets give
the reference). This is ingestion plumbing, not a query operator: its
verification is structural (schema, row counts, cast+enrich pipeline
runs on top, stream progresses) in tests/test_sources.py.
"""

from __future__ import annotations

from datetime import datetime, timezone

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    InputPartition,
    SimpleDataSourceStreamReader,
)
from pyspark.sql.types import StringType, StructField, StructType

from .. import weather_domain as wd

#: wire field order, ref:spark-apps/weather_streaming.py:28-43
WIRE_FIELDS = list(wd.wire_wide_sql("é"))

_EPOCH0 = 1_700_000_000


def _fmt(epoch_s: int) -> str:
    return datetime.fromtimestamp(epoch_s, tz=timezone.utc).strftime(
        "%Y-%m-%d %H:%M:%S"
    )


def _record(event_id: int) -> tuple:
    """One synthetic API response, flattened the way the NiFi
    EvaluateJsonPath -> AttributesToJSON chain flattened it. Pure
    integer arithmetic — deterministic across runs and partitions."""
    user_id = event_id % 1000
    epoch_s = _EPOCH0 + event_id * 97
    t_raw = ((event_id * 7919) % 6100) / 100.0 - 10.0
    hum = (event_id * 104729) % 101
    press = 950 + (event_id * 13) % 111
    wind = ((event_id * 31) % 601) / 10.0
    lat = 20.0 + (user_id % 300) / 10.0
    lon = -15.0 + (user_id % 200) / 10.0
    feels = t_raw + 0.1 * hum - 0.2 * wind
    min_t = t_raw - (event_id % 7) * 0.5
    max_t = t_raw + (event_id % 9) * 0.5
    temp = "N/A" if event_id % 97 == 0 else str(t_raw)
    return (
        _fmt(epoch_s),
        wd.DESCRIPTIONS[event_id % 10],
        str(lat),
        str(press),
        str(hum),
        str(feels),
        wd.CITIES[user_id % 8],
        _fmt(epoch_s + 3600),
        str(min_t),
        str(wind),
        temp,
        str(max_t),
        str(epoch_s),
        str(lon),
    )


class _Range(InputPartition):
    def __init__(self, start: int, end: int):
        self.start, self.end = start, end


class _BatchReader(DataSourceReader):
    def __init__(self, options):
        self.rows = int(options.get("rows", 1000))
        self.nparts = int(options.get("partitions", 8))

    def partitions(self):
        step = max(1, -(-self.rows // self.nparts))
        return [
            _Range(i, min(i + step, self.rows))
            for i in range(0, self.rows, step)
        ]

    def read(self, partition):
        for event_id in range(partition.start, partition.end):
            yield _record(event_id)


class _StreamReader(SimpleDataSourceStreamReader):
    """Offset = next event id; each micro-batch emits `batch_size`
    fresh records. Monotonic and replayable: readBetweenOffsets
    regenerates any committed range exactly (the recovery contract a
    real poller would satisfy from its raw archive)."""

    def __init__(self, options):
        self.batch = int(options.get("batch_size", 100))

    def initialOffset(self):
        return {"next": 0}

    def read(self, start):
        lo = start["next"]
        hi = lo + self.batch
        return (
            iter([_record(i) for i in range(lo, hi)]),
            {"next": hi},
        )

    def readBetweenOffsets(self, start, end):
        return iter([_record(i) for i in range(start["next"], end["next"])])


class WeatherApiDataSource(DataSource):
    @classmethod
    def name(cls):
        return "weather_api"

    def schema(self):
        return StructType(
            [StructField(f, StringType(), True) for f in WIRE_FIELDS]
        )

    def reader(self, schema):
        return _BatchReader(self.options)

    def simpleStreamReader(self, schema):
        return _StreamReader(self.options)
