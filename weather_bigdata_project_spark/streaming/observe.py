"""In-engine observability — the role the reference outsourced to
Prometheus + Grafana + a JMX exporter (ref:prometheus.yml:2-26,
monitoring/spark-jmx-config.yml:1-4), expressed with Spark's own
primitives:

- batch: `pyspark.sql.Observation` rides named aggregate metrics on an
  existing plan — quality counters (rows, null casts, alert counts,
  exact-cents totals) are collected DURING the query run, zero extra
  scans, no separate monitoring query to drift out of sync;
- streaming: a `StreamingQueryListener` captures per-micro-batch
  progress (rows, rates, `durationMs` phases, per-query) into a bounded
  ring of process-local records a scraper can export; it sees exactly
  what the engine executed.

Both are pull-ready: `metrics()` / `progress_summary()` return plain
dicts an HTTP exporter can serialize.
"""

from __future__ import annotations

import threading
from collections import deque

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQueryListener


def observed_quality(df: DataFrame) -> tuple[DataFrame, Observation]:
    """Attach data-quality counters to an enriched frame: total rows,
    null-temperature rows (the TRY_CAST battery's rejects), non-NORMAL
    alerts, and the exact-cents wind-speed total. The returned frame is
    the input unchanged; the metrics materialize when the frame does."""
    obs = Observation("quality")
    return (
        df.observe(
            obs,
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(
                F.col("temperature").isNull().cast("bigint")
            ).alias("n_null_temp"),
            F.sum(
                (F.col("alert_type") != "NORMAL").cast("bigint")
            ).alias("n_alerts"),
            F.sum(
                F.expr(
                    "CAST(ROUND(wind_speed_num * 100.0e0) AS BIGINT)"
                )
            ).alias("wind_cents"),
        ),
        obs,
    )


#: progress records a listener keeps: a live query reports one per
#: trigger forever, so older records fall off the ring
PROGRESS_RING = 1024


class BatchProgressListener(StreamingQueryListener):
    """Collects per-micro-batch progress for every streaming query on
    the session: input rows, processed rows/sec, batch id, query name
    and the ``durationMs`` phases. State is bounded and process-local:
    the last PROGRESS_RING records as plain dicts (scrape-ready through
    :meth:`records`), plus running totals that stay exact after the ring
    wraps."""

    def __init__(self):
        self._events: deque[dict] = deque(maxlen=PROGRESS_RING)
        self._lock = threading.Lock()
        self._batches = 0
        self._input_rows = 0
        self._queries: set[str] = set()

    # required abstract hooks
    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = event.progress
        with self._lock:
            self._events.append(
                {
                    "name": p.name,
                    "batch_id": p.batchId,
                    "num_input_rows": p.numInputRows,
                    "rows_per_sec": p.processedRowsPerSecond,
                    "duration_ms": dict(p.durationMs),
                }
            )
            self._batches += 1
            self._input_rows += p.numInputRows
            if p.name:
                self._queries.add(p.name)

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass

    def records(self) -> list[dict]:
        """A copy of the ring, oldest first: the listener keeps appending
        while a live query runs, so a scraper iterates this, not the ring."""
        with self._lock:
            return list(self._events)

    def progress_summary(self) -> dict:
        with self._lock:
            return {
                "batches": self._batches,
                "total_input_rows": self._input_rows,
                "queries": sorted(self._queries),
            }


def attach_listener(spark: SparkSession) -> BatchProgressListener:
    lis = BatchProgressListener()
    spark.streams.addListener(lis)
    return lis


def detach_listener(spark: SparkSession, lis: BatchProgressListener):
    spark.streams.removeListener(lis)
