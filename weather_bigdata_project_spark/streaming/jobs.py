"""Structured Streaming jobs: the reference's streaming ETL
(ref:spark-apps/weather_streaming.py:48-216) re-expressed so batch and
streaming share the SAME transformation functions (`weather_domain
.cast_wire` / `.enrich` are pure DataFrame->DataFrame and streaming-safe
— all narrow projections, SURVEY §3 "rebuild lifecycle").

Reference parity (T1-T3, T7-T8): append output mode, per-sink
checkpoints, multi-query coordination, explicit trigger. Upgrades the
reference left on the table (T4-T6): event-time watermark + tumbling
window aggregation (replacing the dashboard's full-lake rescans) and
dropDuplicatesWithinWatermark for at-least-once sources.

Tests drive these with a deterministic file source + availableNow
trigger (the Kafka twin is sources.readers.kafka_stream_source — same
downstream plan)."""

from __future__ import annotations

import os

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


def start_console_sink(enriched: DataFrame):
    """S7 (ref:...:148-165): debug console sink, append mode. Like
    :func:`start_lake_sink` it drains all pending input and stops
    (availableNow)."""
    return (
        enriched.select(
            "timestamp_dt", "city_name", "temperature", "humidity", "pressure",
            "heat_index", "dew_point", "wind_chill", "comfort_level", "alert_type",
        )
        .writeStream.outputMode("append")
        .format("console")
        .option("truncate", False)
        .trigger(availableNow=True)
        .start()
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


def windowed_city_stats_stream(enriched: DataFrame) -> DataFrame:
    """T4/T5 upgrade: event-time tumbling window (1 hour) per city with a
    watermark — late records beyond 2 hours are dropped and state is
    bounded (the reference recomputed the whole lake in pandas instead).
    Exact integer sums keep results equal to the batch twin."""
    # watermarks are defined on TIMESTAMP (instant) only; the session is
    # pinned to UTC so NTZ<->LTZ casts are identity on the wire values
    return (
        enriched.withColumn("event_ts", F.col("timestamp_dt").cast("timestamp"))
        .withWatermark("event_ts", "2 hours")
        .groupBy(
            F.window(F.col("event_ts"), "1 hour").alias("win"),
            F.col("city_name"),
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("temperature").alias("sum_temp"),
            F.max("wind_speed_num").alias("max_wind"),
        )
        .select(
            F.col("win.start").cast("timestamp_ntz").alias("window_start"),
            "city_name",
            "n",
            "sum_temp",
            "max_wind",
        )
    )


def sessionized_city_stream(enriched: DataFrame) -> DataFrame:
    """T5's other half, streaming: per-city session windows (30-minute
    inactivity gap) with a watermark. Spark merges session state
    incrementally as events arrive; append mode emits a session once the
    watermark passes its close — state is bounded by open sessions, not
    stream length. Batch twin: the same F.session_window groupBy (see
    queries/relational.events_user_sessions for the per-user variant)."""
    return (
        enriched.withColumn("event_ts", F.col("timestamp_dt").cast("timestamp"))
        .withWatermark("event_ts", "2 hours")
        .groupBy(
            F.session_window(F.col("event_ts"), "30 minutes").alias("win"),
            F.col("city_name"),
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("temperature").alias("min_temp"),
            F.max("temperature").alias("max_temp"),
        )
        .select(
            F.col("win.start").cast("timestamp_ntz").alias("session_start"),
            F.col("win.end").cast("timestamp_ntz").alias("session_end"),
            "city_name",
            "n",
            "min_temp",
            "max_temp",
        )
    )


def deduped_stream(enriched: DataFrame) -> DataFrame:
    """T6: at-least-once -> effectively-once via
    dropDuplicatesWithinWatermark on the record key (bounded state; an
    unbounded dropDuplicates would leak state forever)."""
    return (
        enriched.withColumn("event_ts", F.col("timestamp_dt").cast("timestamp"))
        .withWatermark("event_ts", "2 hours")
        .dropDuplicatesWithinWatermark(["event_id"])
        .drop("event_ts")
    )


def stateful_city_extremes_stream(enriched: DataFrame) -> DataFrame:
    """Custom stateful operator (applyInPandasWithState): per-city running
    record/alert counters and temperature extremes maintained ACROSS
    micro-batches — semantics Spark's built-in windowed aggs can't express
    (unbounded running state, one update row emitted per key per batch).

    Scale design: state is 4 fixed-width numbers per city (bounded by key
    cardinality, not stream length); batches arrive Arrow-vectorized and
    are reduced with pandas vector ops, never per-row Python. The
    reference had no stateful ops at all (SURVEY §2.7 T6) — this is the
    idiomatic upgrade path for its 'recompute the lake per dashboard hit'
    pattern."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    out_schema = (
        "city_name STRING, n_seen BIGINT, n_alerts BIGINT, "
        "min_temp INT, max_temp INT"
    )
    state_schema = "n BIGINT, na BIGINT, mn INT, mx INT"
    SENT_MN, SENT_MX = 1 << 30, -(1 << 30)

    def update(key, pdfs, state):
        n, na, mn, mx = state.get if state.exists else (0, 0, SENT_MN, SENT_MX)
        for pdf in pdfs:
            n += len(pdf)
            na += int((pdf["alert_type"] != "NORMAL").sum())
            t = pd.to_numeric(pdf["temperature"], errors="coerce").dropna()
            if len(t):
                mn = min(mn, int(t.min()))
                mx = max(mx, int(t.max()))
        state.update((n, na, mn, mx))
        yield pd.DataFrame(
            [
                {
                    "city_name": key[0],
                    "n_seen": n,
                    "n_alerts": na,
                    "min_temp": None if mn == SENT_MN else mn,
                    "max_temp": None if mx == SENT_MX else mx,
                }
            ]
        )

    return (
        enriched.select("city_name", "temperature", "alert_type")
        .groupBy("city_name")
        .applyInPandasWithState(
            update, out_schema, state_schema, "update",
            GroupStateTimeout.NoTimeout,
        )
    )


def start_foreach_batch_dedup_sink(df: DataFrame, path: str, checkpoint: str):
    """foreachBatch upsert: merge each micro-batch into a parquet lake
    keyed by event_id — idempotent under at-least-once delivery, replays,
    and restarts (the file sink alone is exactly-once per QUERY, but
    cannot dedup records duplicated at the SOURCE). Inside the batch
    function the frame is a plain batch DataFrame, so the existing-key
    anti-join is ordinary relational code — this is the Spark-idiomatic
    'MERGE INTO' shape for plain parquet.

    At 100 TB: partition `path` on a pruning key and anti-join against
    only the partitions the batch touches, or use a table format with
    real MERGE (Delta/Iceberg) — the foreachBatch structure is identical."""

    def merge(batch_df: DataFrame, batch_id: int) -> None:
        new = batch_df.dropDuplicates(["event_id"])
        # no batch has committed until the first write leaves _SUCCESS, so
        # a crash inside that write restarts as a first batch; once one
        # has, any failure to read the lake fails the batch
        if os.path.exists(os.path.join(path, "_SUCCESS")):
            existing = batch_df.sparkSession.read.parquet(path)
            new = new.join(existing.select("event_id"), "event_id", "left_anti")
        new.write.mode("append").parquet(path)

    return (
        df.writeStream.foreachBatch(merge)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def await_any(spark: SparkSession, timeout_s: float | None = None) -> bool | None:
    """T7 (ref:...:216): multi-query coordination. Waits until a query
    of the session has terminated; with `timeout_s`, at most that many
    seconds, and returns whether one has."""
    return spark.streams.awaitAnyTermination(timeout_s)


# --- stream-stream and stream-static joins (extension surface) ------------

EVENTS_STREAM_SCHEMA = (
    "event_id bigint, ts timestamp_ntz, user_id bigint, "
    "event_type string, value double"
)


def events_file_stream(spark: SparkSession, events_dir: str) -> DataFrame:
    """Typed parquet file-stream twin of an events Kafka topic (same
    downstream plan; tests replay a directory deterministically). Each
    trigger admits at most :func:`trigger_bytes` of new files, like
    :func:`wire_file_stream`."""
    tune(spark)
    return (
        spark.readStream.schema(EVENTS_STREAM_SCHEMA)
        .option("maxBytesPerTrigger", trigger_bytes(spark))
        .parquet(events_dir)
    )


def sliding_event_counts_stream(
    events: DataFrame, watermark: str = "2 hours"
) -> DataFrame:
    """T5's third window type, streaming: sliding 30-minute windows
    every 15 minutes per event_type (each event lands in exactly 2
    overlapping windows — `F.window(ts, 30m, 15m)` expands before the
    partial aggregate, so state is per-(window, type), not per-event).
    The watermark closes windows 2 h behind max event time; append mode
    emits each window once, final. Batch twin with DuckDB oracle:
    queries/relational.py `events_sliding_window` — both call the
    shared `sliding_window_agg`, so the plans cannot drift."""
    from ..queries.relational import sliding_window_agg

    return sliding_window_agg(
        events.select(
            F.col("ts").cast("timestamp").alias("event_ts"),
            "event_type",
            "value",
        ).withWatermark("event_ts", watermark)
    )


def _interval_join(events: DataFrame, watermark: str, how: str) -> DataFrame:
    """Purchases joined (`how`) to the same user's clicks in the 10
    minutes before each, both sides watermarked by `watermark`.

    Watermarks require an instant-typed TIMESTAMP event-time column
    (EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE on ntz), so both sides cast —
    a fixed session-tz offset on both sides cannot change interval
    comparisons."""
    clicks = (
        events.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("ts").cast("timestamp").alias("c_ts"),
            F.col("value").alias("c_value"),
        )
        .withWatermark("c_ts", watermark)
    )
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", F.col("ts").cast("timestamp").alias("ts")
    ).withWatermark("ts", watermark)
    return purchases.join(
        clicks,
        F.expr(
            "c_user = user_id AND c_ts >= ts - INTERVAL 10 MINUTES "
            "AND c_ts < ts"
        ),
        how,
    )


def interval_join_clicks_purchases(
    events: DataFrame, watermark: str = "1 hour"
) -> DataFrame:
    """Stream-stream interval join: each purchase matched to the clicks
    of the same user in the 10 minutes before it — the STREAMING twin of
    the batch band join `join_range_clicks_before_purchase` (oracle-
    checked there; the stream/batch equivalence test closes the loop).

    Both sides carry watermarks and the join condition bounds event-time
    distance, so Spark derives state-eviction: a buffered click can be
    dropped once the purchase-side watermark passes click_ts + 10 min.
    State is O(watermark-window of both streams), not O(stream). Tests
    pass a watermark larger than the fixture's time span so no pair is
    withheld and the result is exactly the batch inner join."""
    return _interval_join(events, watermark, "inner")


def interval_left_join_clicks_purchases(
    events: DataFrame, watermark: str = "1 minute"
) -> DataFrame:
    """Stream-stream LEFT OUTER interval join: every purchase emits,
    matched to its prior-10-minute clicks or null-padded if none came —
    the attribution query where "no touchpoint" is itself the signal.

    Outer semantics are what make this STATEFUL in a way the inner join
    is not: a purchase cannot be declared click-less until BOTH
    watermarks pass its join window, so Spark buffers it and emits the
    null-padded row only on watermark advance. State stays
    O(watermark-window); the test drains a multi-batch time-ordered
    replay so watermarks actually move, and rows inside the final
    watermark tail are (correctly) withheld at termination."""
    return _interval_join(events, watermark, "left_outer")


def interval_full_join_clicks_purchases(
    events: DataFrame, watermark: str = "1 minute"
) -> DataFrame:
    """Stream-stream FULL OUTER interval join — completes the join
    matrix (inner / left-outer / full-outer): purchases with no prior
    click null-pad on the click side (attribution gap), AND clicks that
    never converted null-pad on the purchase side (abandoned intent).
    Both directions are watermark-driven: a click is declared
    conversion-less only when the purchase-side watermark passes
    click_ts + 10 min, so BOTH buffers stay O(watermark-window). The
    unmatched-click stream is exactly the input a re-marketing pipeline
    consumes, which is why the full-outer form (not two one-sided jobs
    scanning the stream twice) is the operator worth having."""
    return _interval_join(events, watermark, "full_outer")


def stream_static_segment_enrich(
    events: DataFrame, customer: DataFrame
) -> DataFrame:
    """Stream-static join: enrich a live event stream with a slowly-
    changing dimension (customer segment). The static side is broadcast
    per micro-batch — no streaming state at all, and the dim is re-read
    each batch so dimension updates are picked up. The 100 TB-dim
    variant drops the broadcast hint and lets AQE shuffle-join."""
    dim = F.broadcast(customer.select("c_custkey", "c_mktsegment"))
    return events.join(
        dim, F.col("user_id") == F.col("c_custkey"), "left"
    ).drop("c_custkey")


# --- incremental materialized view (exactly-once foreachBatch) ------------

def read_incremental_agg_mv(spark: SparkSession, path: str) -> DataFrame:
    """The MV's query surface: per-city count/avg/min/max, with avg
    derived at read time from the exact integer sum (never averaged
    across merges — re-averaging averages is wrong under uneven batch
    sizes; summing cents is exact and associative)."""
    return spark.read.parquet(path).select(
        "city_name",
        "n_events",
        (F.col("sum_temp_cents") / 100.0 / F.col("n_events")).alias(
            "avg_temp"
        ),
        "min_temp",
        "max_temp",
    )


def start_incremental_agg_sink(enriched: DataFrame, path: str, checkpoint: str):
    """Incrementally-maintained aggregate materialized view: each
    micro-batch folds its PARTIAL per-city aggregate (count / exact
    cents sum / min / max — all associative+commutative, so
    merge-by-re-aggregation is exact in any arrival order) into a
    parquet MV, atomically.

    Exactly-once without a transaction log: each fold is one
    `readers.rewrite_lake` call with the batch id, which commits the id
    INSIDE the swapped directory (`_batch.json`), so data and marker
    install together. A crash between the swap's two renames leaves the
    new MV beside the trash of the old one; the replayed batch's
    `rewrite_lake` settles that into the new MV, whose marker says the
    batch is already folded, and skips the merge. This is
    the streaming twin of the batch `weather_city_stats` aggregate and
    the MV-maintenance pattern (stateless partial agg -> keyed merge)
    that scales: state lives in the MV (city-cardinality rows), not in
    the stream, so the job's memory is O(batch), and the MV rewrite is
    O(cities) per trigger — at 100 TB the stream never re-scans the
    lake.
    """
    from ..sources.readers import rewrite_lake

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        partial = batch_df.groupBy("city_name").agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.expr("cast(round(temperature * 100e0, 0) as bigint)")).alias(
                "sum_temp_cents"
            ),
            F.min("temperature").alias("min_temp"),
            F.max("temperature").alias("max_temp"),
        )

        def merge(cur: DataFrame | None) -> DataFrame:
            return (
                (partial if cur is None else cur.unionByName(partial))
                .groupBy("city_name")
                .agg(
                    F.sum("n_events").alias("n_events"),
                    F.sum("sum_temp_cents").alias("sum_temp_cents"),
                    F.min("min_temp").alias("min_temp"),
                    F.max("max_temp").alias("max_temp"),
                )
                .coalesce(1)
            )

        rewrite_lake(batch_df.sparkSession, path, merge, batch_id)

    return (
        enriched.writeStream.foreachBatch(fold)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def transition_counts_stream(events: DataFrame) -> DataFrame:
    """Streaming first-order transition counts (applyInPandasWithState):
    per-user last-seen event type carried across micro-batches; each
    batch emits the (from_type, to_type) pair counts it completed. The
    batch twin is queries/timeseries.events_transition_matrix — summing
    the emitted counts over a drained stream reproduces it exactly
    (given time-ordered arrival per user, the usual Kafka-key guarantee).

    Scale design: state is ONE (type, timestamp) pair per user — bounded
    by key cardinality, not stream length; batches arrive
    Arrow-vectorized and are reduced with pandas shift/groupby, never
    per-row Python loops."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    out_schema = "from_type STRING, to_type STRING, n BIGINT"
    state_schema = "last_type STRING, last_us BIGINT"

    def update(key, pdfs, state):
        batch = pd.concat(list(pdfs), ignore_index=True)
        batch = batch.sort_values(["us", "event_id"], kind="mergesort")
        types = batch["event_type"].tolist()
        if state.exists:
            last_type, _ = state.get
            types = [last_type] + types
        pairs = pd.DataFrame(
            {"from_type": types[:-1], "to_type": types[1:]}
        )
        state.update((batch["event_type"].iloc[-1], int(batch["us"].iloc[-1])))
        if pairs.empty:
            return
        out = (
            pairs.groupby(["from_type", "to_type"], as_index=False)
            .size()
            .rename(columns={"size": "n"})
        )
        yield out

    keyed = events.select(
        "user_id",
        "event_id",
        "event_type",
        F.expr(
            "timestampdiff(MICROSECOND, "
            "to_timestamp_ntz('1970-01-01 00:00:00'), ts)"
        ).alias("us"),
    )
    return keyed.groupBy("user_id").applyInPandasWithState(
        update, out_schema, state_schema, "update",
        GroupStateTimeout.NoTimeout,
    )


def ewma_fold_py(temps, n: int = 0, s: int | None = None):
    """The alpha=0.2 EWMA recursion over integer nano-units, snapped
    ties-away-from-zero after every step — the Python twin of the JVM
    `aggregate` HOF fold in queries/timeseries.events_value_ewma.
    `0.2 * x + 0.8 * s` is the same IEEE-double expression in CPython
    and in Spark's codegen, and scale-0 ties-away rounding matches
    Spark's ROUND — so both folds are bit-equal on identical input
    order (unit-tested in tests/test_streaming.py)."""
    import math

    for t in temps:
        x = int(t) * 1_000_000_000
        if s is None:
            s = x
        else:
            v = 0.2 * x + 0.8 * s
            s = (
                int(math.floor(v + 0.5))
                if v >= 0
                else int(math.ceil(v - 0.5))
            )
        n += 1
    return n, s


from pyspark.sql.streaming.stateful_processor import (  # noqa: E402
    StatefulProcessor as _StatefulProcessor,
)


class CityEwma(_StatefulProcessor):
    """The transformWithStateInPandas processor for
    ewma_temperature_stream, at module scope so its batch/state logic is
    unit-testable WITHOUT the protobuf transport (the Python state
    client speaks protobuf to the JVM state server, absent in this
    container): tests/test_streaming.py drives handleInputRows through a
    duck-typed fake handle across batch boundaries and pins the result
    to the JVM fold. The base class imports protobuf-free; only the
    live transport needs it."""

    def init(self, handle) -> None:
        self._st = handle.getValueState("ewma", "n BIGINT, s BIGINT")

    def handleInputRows(self, key, rows, timer_values):
        import pandas as pd

        prev = self._st.get()
        n, s = (prev[0], prev[1]) if prev is not None else (0, None)
        pdf = pd.concat(list(rows), ignore_index=True)
        pdf = pdf.dropna(subset=["temperature"]).sort_values(
            "event_id", kind="mergesort"
        )
        n, s = ewma_fold_py(pdf["temperature"].tolist(), n, s)
        self._st.update((n, s))
        yield pd.DataFrame(
            [
                {
                    "city_name": key[0],
                    "n_seen": n,
                    "ewma_temp": None if s is None else s / 1.0e9,
                }
            ]
        )

    def close(self) -> None:
        pass


def heavy_hitters_stream(
    events: DataFrame, k: int = 8, buckets: int = 4
) -> DataFrame:
    """Streaming frequent-items sketch: per-hash-bucket MISRA-GRIES
    summaries of user_id occurrence counts, maintained across
    micro-batches by SUMMARY MERGE (Agarwal et al., "Mergeable
    Summaries": add the batch's exact counts as an error-free summary,
    subtract the (k+1)-th largest count, drop non-positives) — the
    bounded-state answer to "which keys dominate the stream" when the
    key space is unbounded and exact counts would grow without limit.
    State is <= k (item, est) pairs + one length counter per bucket;
    bucketing by hash makes the sketch distributed (summaries merge at
    read time, the same mergeability the update step uses).

    GUARANTEE (what the test audits, since the estimate itself is not
    unique across engines): after merging the B bucket summaries,
    0 <= true(item) - est(item) <= N/(k+1) summed per bucket, and every
    item with true > sum_b(N_b/(k+1)) IS present — underestimate-only,
    bounded error, no false negatives among true heavy hitters. The
    merge is order-insensitive WITHIN a batch (counts commute) and
    deterministic across a time-ordered replay; retention ties break by
    (count desc, item asc)."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    out_schema = (
        "bucket INT, item BIGINT, est BIGINT, n_processed BIGINT"
    )
    state_schema = (
        "items ARRAY<BIGINT>, counts ARRAY<BIGINT>, n BIGINT"
    )

    def update(key, pdfs, state):
        items, counts, n = (
            state.get if state.exists else ([], [], 0)
        )
        summ = dict(zip(list(items), list(counts)))
        for pdf in pdfs:
            vc = pdf["user_id"].value_counts()
            n += int(vc.sum())
            for item, c in vc.items():
                summ[int(item)] = summ.get(int(item), 0) + int(c)
            if len(summ) > k:
                # mergeable-summaries step: subtract the (k+1)-th
                # largest count, keep positives (ties: count desc,
                # item asc — deterministic retention)
                ordered = sorted(
                    summ.items(), key=lambda kv: (-kv[1], kv[0])
                )
                sub = ordered[k][1]
                summ = {
                    i: c - sub for i, c in ordered[:k] if c - sub > 0
                }
        state.update(
            (list(summ.keys()), list(summ.values()), int(n))
        )
        yield pd.DataFrame(
            {
                "bucket": int(key[0]),
                "item": list(summ.keys()),
                "est": list(summ.values()),
                "n_processed": int(n),
            }
        )

    keyed = events.select(
        (F.col("user_id") % buckets).cast("int").alias("bucket"),
        "user_id",
    )
    return keyed.groupBy("bucket").applyInPandasWithState(
        update,
        out_schema,
        state_schema,
        "update",
        GroupStateTimeout.NoTimeout,
    )


def step_spike_qc_stream(
    enriched: DataFrame, threshold: float = 30.0
) -> DataFrame:
    """Streaming WMO step/spike QC (applyInPandasWithState) — the
    stateful twin of the batch `weather_step_spike_qc`. The batch op
    judges each reading with lag AND lead; a stream cannot see `lead`,
    so every reading is judged ONE ARRIVAL LATE: per-city state carries
    (prev value already judged, the PENDING reading awaiting its
    successor), and each arrival closes the pending one — the standard
    delayed-emission trick for lookahead semantics in a stream. Emits
    one row per reading that HAS a successor (the stream's last reading
    per city stays pending forever, exactly the rows the batch twin's
    `lead IS NOT NULL` filter keeps); a drained time-ordered replay
    equals the batch lag/lead result bit-for-bit
    (tests/test_streaming.py).

    Scale design: state is two doubles + one id per city (key-bounded,
    never stream length); batches arrive Arrow-vectorized and the
    judge is a numpy shift pass, no per-row Python."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    out_schema = (
        "city_name STRING, event_id BIGINT, temperature DOUBLE, "
        "is_step BOOLEAN, is_spike BOOLEAN"
    )
    state_schema = (
        "have_prev BOOLEAN, prev DOUBLE, have_pend BOOLEAN, "
        "pend DOUBLE, pend_id BIGINT"
    )
    cols = ["city_name", "event_id", "temperature", "is_step", "is_spike"]

    def update(key, pdfs, state):
        have_prev, prev, have_pend, pend, pend_id = (
            state.get if state.exists else (False, 0.0, False, 0.0, 0)
        )
        parts = [p.dropna(subset=["temperature"]) for p in pdfs]
        parts = [p for p in parts if len(p)]
        if parts:
            pdf = pd.concat(parts).sort_values(["timestamp_dt", "event_id"])
            vals = pdf["temperature"].astype(float).to_numpy()
            ids = pdf["event_id"].astype("int64").to_numpy()
        else:
            vals = np.empty(0)
            ids = np.empty(0, dtype="int64")
        pre_v, pre_i = [], []
        if have_prev:
            pre_v.append(prev)
            pre_i.append(-1)  # already judged; id never emitted
        if have_pend:
            pre_v.append(pend)
            pre_i.append(pend_id)
        s = np.concatenate([np.asarray(pre_v, dtype=float), vals])
        si = np.concatenate([np.asarray(pre_i, dtype="int64"), ids])
        n = len(s)
        start = 1 if have_prev else 0  # first not-yet-judged index
        if n >= 2:
            pv = np.concatenate([[np.nan], s[:-1]])
            nx = np.concatenate([s[1:], [np.nan]])
            with np.errstate(invalid="ignore"):
                is_step = (~np.isnan(pv)) & (np.abs(s - pv) > threshold)
                is_spike = (
                    is_step
                    & (~np.isnan(nx))
                    & (np.abs(s - nx) > threshold)
                    & ((s - pv) * (s - nx) > 0)
                )
            j = np.arange(n)
            m = (j >= start) & (j <= n - 2)
            if m.any():
                yield pd.DataFrame(
                    {
                        "city_name": key[0],
                        "event_id": si[m],
                        "temperature": s[m],
                        "is_step": is_step[m],
                        "is_spike": is_spike[m],
                    },
                    columns=cols,
                )
        if n >= 2:
            have_prev, prev = True, float(s[n - 2])
        if n >= 1:
            have_pend, pend, pend_id = True, float(s[n - 1]), int(si[n - 1])
        state.update(
            (have_prev, float(prev), have_pend, float(pend), int(pend_id))
        )

    return (
        enriched.select("city_name", "event_id", "temperature", "timestamp_dt")
        .groupBy("city_name")
        .applyInPandasWithState(
            update,
            out_schema,
            state_schema,
            "update",
            GroupStateTimeout.NoTimeout,
        )
    )


def ewma_temperature_stream(enriched: DataFrame) -> DataFrame:
    """Per-city streaming EWMA of temperature via Spark 4's
    transformWithStateInPandas — the modern typed-state successor to
    applyInPandasWithState (explicit state variables, timers, TTL;
    requires the RocksDB state store provider AND the protobuf package
    — the Python state client speaks protobuf to the JVM state server,
    so environments without it must stay on applyInPandasWithState,
    e.g. `stateful_city_extremes_stream`). Twin of the batch
    `events_value_ewma` fold: identical alpha=0.2 recursion over
    integer nano-units, snapped ties-away-from-zero after every step,
    so a drained stream's final state is BIT-EQUAL to the JVM-side
    `aggregate` HOF fold on the same rows (tests/test_streaming.py).

    Scale design: state is two fixed-width ints per city (bounded by
    key cardinality, never stream length); rows arrive Arrow-batched
    and fold in event_id order, so replays of time-ordered partitions
    are deterministic. The sequential recursion is per-key — across
    cities it parallelizes exactly like the batch fold."""
    return (
        enriched.select("city_name", "event_id", "temperature")
        .groupBy("city_name")
        .transformWithStateInPandas(
            statefulProcessor=CityEwma(),
            outputStructType=(
                "city_name STRING, n_seen BIGINT, ewma_temp DOUBLE"
            ),
            outputMode="Update",
            timeMode="None",
        )
    )


def session_paths_stream(events: DataFrame) -> DataFrame:
    """Streaming sessionization with path assembly
    (applyInPandasWithState): per-user open session carried across
    micro-batches as (last_us, path); a session CLOSES when a later
    event arrives beyond the 30-min gap, emitting its ordered
    event-type path — the streaming twin of
    queries/behavior.events_session_paths. Over a time-ordered replay,
    the emitted sessions equal the batch sessionization minus each
    user's final (still-open) session; production adds
    EventTimeTimeout to flush idle sessions on watermark advance
    instead of waiting for the next event.

    Scale design: state is one (timestamp, path) per user — bounded by
    key cardinality and human session length; each batch reduces with
    vectorized pandas cumsum/groupby (the boundary test is one shifted
    comparison), never per-row Python."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    gap_us = 30 * 60 * 1_000_000
    out_schema = "user_id BIGINT, path STRING, path_len BIGINT"
    state_schema = "last_us BIGINT, path STRING"

    def update(key, pdfs, state):
        batch = pd.concat(list(pdfs), ignore_index=True)
        if batch.empty:
            return
        batch = batch.sort_values(["us", "event_id"], kind="mergesort")
        us = batch["us"].to_numpy()
        prev_us, prev_path = (state.get if state.exists else (None, None))
        # boundary[i] = event i starts a NEW session
        boundary = [False] * len(us)
        for i in range(len(us)):
            last = us[i - 1] if i > 0 else prev_us
            boundary[i] = last is None or (us[i] - last) > gap_us
        sid = pd.Series(boundary).cumsum()
        g = batch.assign(sid=sid.values).groupby("sid", sort=True)
        paths = g["event_type"].agg(">".join)
        # stitch the carried open session onto this batch's first run,
        # or CLOSE it: a batch that opens with a fresh session is the
        # "later event beyond the gap" for the carried one
        carried_closed = []
        if prev_path is not None:
            if boundary[0]:
                carried_closed = [prev_path]
            else:
                paths.iloc[0] = prev_path + ">" + paths.iloc[0]
        closed = carried_closed + list(paths.iloc[:-1].values)
        state.update((int(us[-1]), paths.iloc[-1]))
        if closed:
            yield pd.DataFrame(
                {
                    "user_id": key[0],
                    "path": closed,
                    "path_len": [p.count(">") + 1 for p in closed],
                }
            )

    keyed = events.select(
        "user_id",
        "event_id",
        "event_type",
        F.expr(
            "timestampdiff(MICROSECOND, "
            "to_timestamp_ntz('1970-01-01 00:00:00'), ts)"
        ).alias("us"),
    )
    return keyed.groupBy("user_id").applyInPandasWithState(
        update, out_schema, state_schema, "update",
        GroupStateTimeout.NoTimeout,
    )


def minhash_dedup_stream(
    docs: DataFrame,
    output_mode: str = "update",
    max_bucket: int | None = None,
) -> DataFrame:
    """Streaming MinHash-LSH near-duplicate detection — the ingest-time
    twin of queries/dedup.dedup_minhash_lsh, for dropping near-copies
    BEFORE they ever land in the lake (the training-data ingest shape:
    a crawl stream deduped against everything already accepted).

    Plan: shingling, 60-bit content hashing, all 16 minhashes, and the
    4 band signatures are computed IN-ROW (array_min over the shingle
    array — no shuffle at all before the stateful step; the batch twin
    needs a groupBy only because its shingle frame is exploded). Each
    doc then fans out to its 4 (band, band_sig) keys, and ONE
    applyInPandasWithState group per bucket keeps the docs seen in that
    bucket; an arriving doc exact-verifies (integer 3c >= n1+n2, the
    rational form of J >= 0.5) against its bucket's priors and emits
    verified pairs. Same hash params as the batch query, so over a
    doc_id-ordered replay the drained, de-duplicated output EQUALS the
    batch query's pairs (tests/test_streaming.py).

    Scale design: state per bucket = the docs sharing one band
    signature (near-dup cluster density, not corpus size); hot buckets
    are exactly the template clusters dedup_graph_degree_profile
    detects. `max_bucket` bounds them: each bucket keeps only its
    NEWEST max_bucket priors (drop-oldest — a crawl dedup only needs
    recent-horizon priors, and inside a template cluster every member
    matches every other, so detection quality degrades gracefully: a
    new arrival still collides with the retained recent members).
    Unset = exact batch parity; production sets it to the cap the
    degree-profile audit recommends, plus a state TTL. Keys are
    12-byte (band, sig-string) pairs; shingle arrays travel once per
    doc per band."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    from ..operators.textops import hashed_id_spark
    from ..queries.dedup import _BANDS, _HASH_PARAMS, _K, _P

    rpb = _K // _BANDS
    grams = (
        "transform(sequence(1, size(toks) - 2), i -> "
        + hashed_id_spark("concat_ws(' ', slice(toks, i, 3))")
        + ")"
    )
    arr = (
        f"CASE WHEN size(toks) < 3 THEN array() "
        f"ELSE array_distinct({grams}) END"
    )
    # let-binding: hash the grams once (interpreted HOFs have no CSE)
    sig = (
        docs.select(
            "doc_id", F.split(F.col("text"), " ").alias("toks")
        )
        .select(
            "doc_id",
            F.expr(f"transform(array({arr}), a -> a)[0]").alias("shs"),
        )
        .filter(F.expr("size(shs) > 0"))
    )
    mh = [
        f"array_min(transform(shs, x -> ({a} * x + {b}) % {_P}))"
        for a, b in _HASH_PARAMS
    ]
    band_structs = ", ".join(
        "struct({k} AS band, concat_ws(',', {sigs}) AS band_sig)".format(
            k=k,
            sigs=", ".join(
                f"CAST({mh[k * rpb + r]} AS STRING)" for r in range(rpb)
            ),
        )
        for k in range(_BANDS)
    )
    keyed = sig.select(
        "doc_id",
        "shs",
        F.expr(f"explode(array({band_structs}))").alias("bk"),
    ).select("doc_id", "shs", F.col("bk.band"), F.col("bk.band_sig"))

    out_schema = "doc1 BIGINT, doc2 BIGINT, jaccard DOUBLE"
    state_schema = "doc_ids ARRAY<BIGINT>, shs_list ARRAY<ARRAY<BIGINT>>"

    def update(key, pdfs, state):
        import math

        batch = pd.concat(list(pdfs), ignore_index=True)
        if batch.empty:
            return
        batch = batch.sort_values("doc_id", kind="mergesort")
        if state.exists:
            ids, shss = state.get
            prior = [
                (int(i), frozenset(int(v) for v in s))
                for i, s in zip(ids, shss)
            ]
        else:
            prior = []
        seen = {p[0] for p in prior}
        rows = []
        for doc_id, shs in zip(batch["doc_id"], batch["shs"]):
            doc_id = int(doc_id)
            if doc_id in seen:  # replayed input: state already has it
                continue
            cur = frozenset(int(v) for v in shs)
            for pid, ps in prior:
                c = len(cur & ps)
                n1, n2 = len(ps), len(cur)
                if 3 * c >= n1 + n2:  # J >= 0.5, exact integer form
                    j = c / (n1 + n2 - c)
                    rows.append(
                        (
                            min(pid, doc_id),
                            max(pid, doc_id),
                            math.floor(j * 1.0e4 + 0.5) / 1.0e4,
                        )
                    )
            prior.append((doc_id, cur))
            seen.add(doc_id)
        if max_bucket is not None and len(prior) > max_bucket:
            # drop-oldest: arrival order == list order, deterministic
            prior = prior[-max_bucket:]
        state.update(
            (
                [p[0] for p in prior],
                [sorted(p[1]) for p in prior],
            )
        )
        if rows:
            yield pd.DataFrame(
                rows, columns=["doc1", "doc2", "jaccard"]
            )

    # emissions are final (a pair is emitted once, never revised), so
    # BOTH update and append modes are semantically correct; append is
    # what a checkpointed FILE sink requires (the restart-recovery test
    # uses it — the memory sink cannot recover from a checkpoint)
    return keyed.groupBy("band", "band_sig").applyInPandasWithState(
        update, out_schema, state_schema, output_mode,
        GroupStateTimeout.NoTimeout,
    )


def phash_dedup_stream(binary_docs: DataFrame) -> DataFrame:
    """Streaming perceptual-hash near-dup detection over a binary media
    stream — the ingest-time twin of
    queries/multimodal.multimodal_phash_neardup, and the multimodal
    counterpart of minhash_dedup_stream: drop re-encoded/near-identical
    assets before they land in the lake.

    The 64-bit pHash is computed by the SAME Arrow-batched pandas_udf
    kernel as the batch query (operators/multimodal.phash_media) —
    streaming DataFrames run vectorized Python identically; each hash
    fans out to its 4 16-bit band keys and ONE applyInPandasWithState
    group per (band, band_bits) bucket keeps the (doc_id, phash) pairs
    seen there. An arrival verifies Hamming distance <= 6 against its
    bucket's priors. State is PURE INTEGERS — ~16 bytes per doc per
    band, the cheapest stateful dedup possible; at 100 TB the bucket
    cap + TTL note from minhash_dedup_stream applies unchanged.

    Over a doc_id-ordered replay the drained, de-duplicated output
    EQUALS the batch query's pairs (tests/test_streaming.py)."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    from ..operators.multimodal import phash_media

    ph = phash_media(binary_docs)
    keyed = ph.select(
        "doc_id",
        "phash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.expr(
                            f"CAST(shiftrightunsigned(phash, {16 * b}) "
                            "& 65535 AS INT)"
                        ).alias("band_bits"),
                    )
                    for b in range(4)
                ]
            )
        ).alias("bk"),
    ).select("doc_id", "phash", F.col("bk.band"), F.col("bk.band_bits"))

    out_schema = "doc1 BIGINT, doc2 BIGINT, hamming INT"
    state_schema = "doc_ids ARRAY<BIGINT>, hashes ARRAY<BIGINT>"

    def update(key, pdfs, state):
        batch = pd.concat(list(pdfs), ignore_index=True)
        if batch.empty:
            return
        batch = batch.sort_values("doc_id", kind="mergesort")
        if state.exists:
            ids, hs = state.get
            prior = [(int(i), int(h)) for i, h in zip(ids, hs)]
        else:
            prior = []
        seen = {p[0] for p in prior}
        rows = []
        for doc_id, ph_v in zip(batch["doc_id"], batch["phash"]):
            doc_id, ph_v = int(doc_id), int(ph_v)
            if doc_id in seen:  # replayed input
                continue
            for pid, pph in prior:
                # two's-complement XOR popcount == Spark bit_count(^)
                h = bin((ph_v ^ pph) & ((1 << 64) - 1)).count("1")
                if h <= 6:
                    rows.append(
                        (min(pid, doc_id), max(pid, doc_id), h)
                    )
            prior.append((doc_id, ph_v))
            seen.add(doc_id)
        state.update(([p[0] for p in prior], [p[1] for p in prior]))
        if rows:
            yield pd.DataFrame(
                rows, columns=["doc1", "doc2", "hamming"]
            )

    return keyed.groupBy("band", "band_bits").applyInPandasWithState(
        update, out_schema, state_schema, "update",
        GroupStateTimeout.NoTimeout,
    )


def embedding_dedup_stream(vectors: DataFrame) -> DataFrame:
    """Streaming embedding near-dup detection — the third member of the
    ingest-dedup family (text: minhash_dedup_stream; binary media:
    phash_dedup_stream; vectors: this). The 8-plane sign-random-
    projection bucket is computed IN-ROW by the same narrow SQL as the
    batch query; one applyInPandasWithState group per bucket keeps the
    (vec_id, embedding) pairs seen there and an arrival emits pairs
    whose micro-snapped cosine clears the batch twin's threshold.

    Exactness across the Python/JVM boundary: the kernel's dot product
    iterates the arrays left-to-right, the same IEEE operation order as
    the JVM aggregate(zip_with(...)) fold, so the snapped cos_u — and
    therefore the emitted SET — is bit-equal to batch
    embed_signbucket_neardup over a vec_id-ordered replay. One bucket
    per vector (no bands), so no cross-key duplicates exist.

    Scale: state per bucket = collision density; embeddings are the
    heaviest state in the family (d floats/vector) — production keeps
    PQ codes in state instead and re-fetches full vectors only for
    ADC-passing candidates."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    from ..queries.dedup import _NPLANES, _SB_T_U
    from ..queries.similarity import sign_bucket_sql

    keyed = vectors.select(
        "vec_id",
        F.col("embedding").cast("array<double>").alias("embedding"),
        F.expr(sign_bucket_sql(_NPLANES)).alias("bucket"),
    )

    out_schema = "vec1 BIGINT, vec2 BIGINT, cos_u BIGINT"
    state_schema = "vec_ids ARRAY<BIGINT>, embs ARRAY<ARRAY<DOUBLE>>"

    def update(key, pdfs, state):
        import math

        batch = pd.concat(list(pdfs), ignore_index=True)
        if batch.empty:
            return
        batch = batch.sort_values("vec_id", kind="mergesort")
        if state.exists:
            ids, embs = state.get
            prior = [
                (int(i), [float(x) for x in e])
                for i, e in zip(ids, embs)
            ]
        else:
            prior = []
        seen = {p[0] for p in prior}

        def dot(u, v):
            acc = 0.0
            for x, y in zip(u, v):  # left-to-right == the JVM fold
                acc = acc + x * y
            return acc

        rows = []
        for vec_id, emb in zip(batch["vec_id"], batch["embedding"]):
            vec_id = int(vec_id)
            if vec_id in seen:  # replayed input
                continue
            cur = [float(x) for x in emb]
            ncur = math.sqrt(dot(cur, cur))
            for pid, pe in prior:
                npe = math.sqrt(dot(pe, pe))
                c = dot(pe, cur) if pid < vec_id else dot(cur, pe)
                cos_u = math.floor(c / (npe * ncur) * 1.0e6 + 0.5)
                if cos_u >= _SB_T_U:
                    rows.append(
                        (min(pid, vec_id), max(pid, vec_id), int(cos_u))
                    )
            prior.append((vec_id, cur))
            seen.add(vec_id)
        state.update(([p[0] for p in prior], [p[1] for p in prior]))
        if rows:
            yield pd.DataFrame(rows, columns=["vec1", "vec2", "cos_u"])

    return keyed.groupBy("bucket").applyInPandasWithState(
        update, out_schema, state_schema, "update",
        GroupStateTimeout.NoTimeout,
    )


def start_compacting_lake_sink(
    df: DataFrame,
    path: str,
    checkpoint: str,
    target_file_mb: int = 128,
    every: int = 3,
):
    """Append lake sink with DOCTOR-GATED in-line compaction: each
    micro-batch appends plain parquet (foreachBatch — no file-sink
    `_spark_metadata`, whose manifest would go stale under rewrites);
    every `every` batches the layout doctor measures the directory and
    triggers `compact_parquet_lake` ONLY on a 'compact' verdict — the
    measured cure for the reference's one-file-per-message pathology
    (ref:minio-connector.json:14) applied while the stream runs, not
    as a separate nightly job. foreachBatch calls are serial, so the
    compaction (`readers.rewrite_lake`) never races the writer.

    Exactly-once across a crash: each append is `readers.append_lake`
    with the batch id, which commits the id into the lake
    (`_batch.json`) with the batch's files, and the compaction's rewrite
    keeps that marker. A batch replayed after a crash (in its append,
    its compaction, or before its checkpoint commit) finds its id
    committed and appends nothing; its compaction check still runs. At
    100 TB scope both append and compaction to the partition
    directories the batch touched."""
    from ..sources.readers import (
        append_lake,
        compact_parquet_lake,
        lake_layout_doctor,
    )

    def write_batch(batch: DataFrame, batch_id: int) -> None:
        append_lake(path, batch, batch_id)
        if every > 0 and batch_id > 0 and batch_id % every == 0:
            if lake_layout_doctor(path, target_file_mb)["verdict"] == "compact":
                compact_parquet_lake(
                    batch.sparkSession, path, target_file_mb
                )

    return (
        df.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def contamination_stream(
    train_docs: DataFrame, bench_docs: DataFrame
) -> DataFrame:
    """Streaming benchmark-contamination audit — the ingest-time twin of
    queries/curation.contamination_ngram_overlap, proving the
    pre-training hygiene check can run ON THE CRAWL STREAM instead of
    as a post-hoc corpus pass: every arriving training doc is scored
    against the static benchmark shingle set before it lands.

    Plan is completely STATE-FREE (no watermark, no state store, no
    foreachBatch): the doc's distinct 3-gram shingle hashes are built
    IN-ROW (same let-bound array_distinct/60-bit-hash construction as
    the batch operator textops.doc_shingle_ids, so values are
    bit-equal), the benchmark set is ONE static row holding its
    distinct-shingle array (benchmarks are fixed-size by construction;
    the corpus grows), joined stream-static on a constant key — a
    broadcast of kilobytes — and the per-doc overlap is
    size(array_intersect(...)) in the same projection. Each output row
    depends only on its input row + the static side, so the drained
    replay across ANY micro-batch split equals the batch query exactly
    (tests/test_streaming.py::test_contamination_stream_equals_batch).
    At 100 TB ingest this is the cheapest possible shape: the training
    stream never shuffles, stores no state, and emits only the
    contaminated sliver."""
    from ..functions.exprs import rnd
    from ..operators.textops import hashed_id_spark

    grams = (
        "transform(sequence(1, size(toks) - 2), i -> "
        + hashed_id_spark("concat_ws(' ', slice(toks, i, 3))")
        + ")"
    )
    arr = (
        f"CASE WHEN size(toks) < 3 THEN array() "
        f"ELSE array_distinct({grams}) END"
    )
    bench_row = (
        bench_docs.select(F.split(F.col("text"), " ").alias("toks"))
        .select(
            # let-binding: hash the grams once (interpreted HOFs, no CSE)
            F.explode(
                F.expr(f"transform(array({arr}), a -> a)[0]")
            ).alias("sh")
        )
        .distinct()
        .agg(F.collect_set("sh").alias("bench_shs"))
        .withColumn("k", F.lit(1))
    )
    shingled = (
        train_docs.select(
            "doc_id", F.split(F.col("text"), " ").alias("toks")
        )
        .select(
            "doc_id",
            F.expr(f"transform(array({arr}), a -> a)[0]").alias("shs"),
        )
        .withColumn("k", F.lit(1))
    )
    return (
        shingled.join(F.broadcast(bench_row), "k")
        .select(
            "doc_id",
            F.expr("size(shs)").alias("n_sh"),
            F.expr("size(array_intersect(shs, bench_shs))").alias(
                "n_hits"
            ),
        )
        .filter(F.col("n_hits") > 0)
        .select(
            "doc_id",
            "n_sh",
            "n_hits",
            F.expr(rnd("CAST(n_hits AS DOUBLE) / n_sh", 4)).alias(
                "hit_frac"
            ),
        )
    )


def gopher_filter_stream(doc_stream: DataFrame) -> DataFrame:
    """Streaming Gopher quality filter — the ingest-time twin of
    queries/curation.corpus_gopher_rules, completing the
    filter-at-ingest trio next to dedup-at-ingest
    (minhash_neardup_stream) and contamination-at-ingest
    (contamination_stream): every arriving crawl doc gets its per-rule
    verdict (word-count bounds, mean-word-length bounds, minimum
    stopword count, top-token-fraction cap) BEFORE it lands, so the
    lake only ever stores labeled — or only kept — documents.

    Plan is completely STATE-FREE: the four rules are the exact same
    in-row expression the batch battery inlines
    (curation.gopher_flags_sql — token array let-bound, built once per
    doc; the top-token count is the sorted-run fold, no explode), so
    each output row depends only on its input row and the drained
    replay across ANY micro-batch split equals the batch labeling
    bit-for-bit (tests/test_streaming.py::
    test_gopher_filter_stream_equals_batch). At 100 TB ingest this is
    the cheapest possible shape: narrow projection, zero shuffle, zero
    state, and the downstream sink can partition on `keep` to split
    kept mass from the reject audit trail in one pass."""
    from ..queries.curation import gopher_flags_sql

    return doc_stream.select(
        "doc_id",
        "source",
        F.inline(F.expr(gopher_flags_sql())),
    ).withColumn(
        "keep", F.expr("NOT (f_wc OR f_wl OR f_sw OR f_tt)")
    )


def crawl_extract_stream(doc_stream: DataFrame) -> DataFrame:
    """Streaming crawl front door — the at-ingest twin of
    queries/webingest.corpus_crawl_extract_stats, extending the
    at-ingest family (dedup, contamination, Gopher) back to stage 0:
    every arriving capture is WARC-walked, HTTP-parsed, and
    HTML-extracted BEFORE it lands, so the lake stores recovered text
    stats (and, in a production layout, the text itself) instead of
    raw crawl bytes — the shape a 100-TB crawl ingest actually wants,
    since WARC payloads parsed at ingest never need a second pass.

    The plan is completely STATE-FREE: the wire payload is synthesized
    in-row by the same codegen expressions the batch query uses
    (webingest._warc_wrap over _html_col) and parsed back by the same
    single Arrow-batched mapInPandas stage (operators/webtext.
    crawl_extract_stats — real WARC record slicing, real HTTP parse,
    real HTML extraction), so each output row depends only on its
    input row and a drained replay across ANY micro-batch split equals
    the batch result bit-for-bit (tests/test_streaming.py::
    test_crawl_extract_stream_equals_batch). Zero shuffle, zero state;
    payload bytes live and die inside their ingest task."""
    from ..operators import webtext
    from ..queries.webingest import _html_col, _warc_wrap

    d = (
        doc_stream.filter(F.length("text") >= 1)
        .select("doc_id", _warc_wrap(_html_col()).alias("content"))
    )
    return webtext.crawl_extract_stats(d)


def span_corruption_stream(doc_stream: DataFrame) -> DataFrame:
    """Streaming T5 span corruption — the at-ingest twin of
    queries/curation.corpus_span_corruption, extending the at-ingest
    family (dedup, contamination, Gopher, crawl extraction) to the
    LAST step of the pipeline: every arriving curated doc is turned
    into its training example (sentinel-masked encoder input + decoder
    target) BEFORE it lands, so the lake stores ready-to-pack examples
    instead of raw text — at 100 TB ingest that removes an entire
    downstream corpus pass.

    The plan is completely STATE-FREE: masking is the exact in-row
    expression the batch query inlines (curation._sc_spark — windows,
    id_mix span draws, and sentinel assembly all let-bound per row),
    so each output row depends only on its input row and a drained
    replay across ANY micro-batch split equals the batch result
    bit-for-bit (tests/test_streaming.py::
    test_span_corruption_stream_equals_batch). Zero shuffle, zero
    state."""
    from ..queries.curation import _sc_spark

    return doc_stream.select(
        "doc_id", F.expr(_sc_spark()).alias("v")
    ).select(
        "doc_id",
        F.col("v.n_tokens").alias("n_tokens"),
        F.col("v.n_windows").alias("n_windows"),
        F.col("v.n_masked").alias("n_masked"),
        F.col("v.inputs").alias("inputs"),
        F.col("v.targets").alias("targets"),
    )


def cdc_chunk_stream(doc_stream: DataFrame) -> DataFrame:
    """Streaming content-defined chunking — the at-ingest twin of
    dedup_cdc_chunks' chunk frame (round-8 verdict task 6, the one
    round-8b operator that lacked one): every arriving doc is CDC-cut
    at ingest and lands as (doc_id, ch_id, ch_toks) chunk rows, so the
    downstream corpus-wide duplicate count is an incremental MERGE
    into a chunk-frequency table instead of a full-corpus re-chunk —
    at 100 TB the chunking pass (the expensive in-row part) happens
    exactly once per document, ever.

    The plan is completely STATE-FREE: boundaries are a pure function
    of each row's LOCAL content (the LBFS trailing-window-hash
    expression the batch query inlines — queries/dedup.
    cdc_chunk_frame, shared code, not a twin), so each output row
    depends only on its input row and a drained replay across ANY
    micro-batch split equals the batch chunk frame bit-for-bit
    (tests/test_streaming.py::test_cdc_chunk_stream_equals_batch).
    Zero shuffle, zero state; chunk text lives and dies inside its
    ingest task — only the 8-byte ch_id survives."""
    from ..queries.dedup import cdc_chunk_frame

    return cdc_chunk_frame(doc_stream.select("doc_id", "text"))


def sitemap_stream(doc_stream: DataFrame) -> DataFrame:
    """Streaming sitemap discovery — the at-ingest twin of
    queries/webingest.corpus_sitemap_xml, completing the crawl
    front-door stream set (WARC walk, HTML extraction, span
    corruption, CDC chunking): every arriving sitemap is parsed the
    moment it lands, so the frontier builder consumes (kind, url
    counts, priorities, lastmod) rows instead of raw XML — at 100-TB
    crawl ingest the discovery pass happens exactly once per fetched
    sitemap, ever.

    The plan is completely STATE-FREE: the XML payload is synthesized
    in-row by the same codegen expression the batch query uses
    (webingest._sitemap_col) and parsed by the same Arrow-batched
    mapInPandas stage (operators/webtext.sitemap_stats — the real
    quote-aware state machine), so each output row depends only on its
    input row and a drained replay across ANY micro-batch split equals
    the batch result bit-for-bit (tests/test_streaming.py::
    test_sitemap_stream_equals_batch). Zero shuffle, zero state; XML
    bytes live and die inside their ingest task."""
    from ..operators import webtext
    from ..queries.webingest import _sitemap_col

    d = doc_stream.select("doc_id", _sitemap_col().alias("xml"))
    return webtext.sitemap_stats(d)


def tokenize_stream(doc_stream: DataFrame, vocab_rows) -> DataFrame:
    """Streaming Viterbi tokenization — the at-ingest twin of
    queries/text.text_unigram_viterbi's INFERENCE half, in the shape
    production pipelines actually deploy: the tokenizer is TRAINED
    batch-side (text.uv_vocab_rows — the <= V+alphabet piece/cost rows
    are the model artifact, what SentencePiece serializes), then
    shipped to ingest as a literal map, so every arriving doc lands
    with its true token count, fertility, and unigram NLL attached —
    at 100-TB ingest the tokenization pass happens exactly once per
    document, and token-budget accounting reads a column instead of
    re-running a tokenizer.

    The plan is completely STATE-FREE: the per-word packed-BIGINT
    Viterbi fold runs in-row against the constant vocabulary map
    (piece costs looked up by SUBSTRING directly — the batch query's
    per-word (start,len)->cost map carries exactly these values), so
    each output row depends only on its input row and a drained replay
    across ANY micro-batch split equals the batch result bit-for-bit
    (tests/test_streaming.py::test_tokenize_stream_equals_batch).
    Zero shuffle, zero state, no Python boundary."""
    from ..functions.exprs import rnd
    from ..queries.text import _UV_BIG, _UV_CAP, _UV_L

    pairs = []
    for piece, cost in vocab_rows:
        pairs += [F.lit(piece), F.lit(int(cost))]
    vmap = F.create_map(*pairs)
    best = (
        f"element_at(aggregate(sequence(1, least(length(w0), {_UV_CAP})), "
        "array(CAST(0 AS BIGINT)), "
        "(acc, i) -> array_append(acc, array_min(transform("
        f"sequence(1, least({_UV_L}, i)), "
        "j -> element_at(acc, i - j + 1) "
        "+ coalesce(element_at(vmap, substring(w0, i - j + 1, j)), "
        f"{_UV_BIG}) * 64 + 1)))), least(length(w0), {_UV_CAP}) + 1)"
    )
    pcs = f"transform(filter(split(text, ' '), w -> w <> ''), w0 -> {best})"
    d = (
        doc_stream.withColumn("vmap", vmap)
        .selectExpr("doc_id", f"{pcs} AS pcs")
        .filter("size(pcs) > 0")
    )
    return d.selectExpr(
        "doc_id",
        "CAST(size(pcs) AS BIGINT) AS n_ws_tokens",
        "aggregate(pcs, CAST(0 AS BIGINT), (a, x) -> a + x % 64) "
        "AS n_pieces",
        "aggregate(pcs, CAST(0 AS BIGINT), (a, x) -> a + x DIV 64) "
        "AS nll_units",
        rnd(
            "CAST(aggregate(pcs, CAST(0 AS BIGINT), "
            "(a, x) -> a + x % 64) AS DOUBLE) / size(pcs)",
            6,
        )
        + " AS fertility",
        rnd(
            "CAST(aggregate(pcs, CAST(0 AS BIGINT), "
            "(a, x) -> a + x DIV 64) AS DOUBLE) / 1.0e5 "
            "/ aggregate(pcs, CAST(0 AS BIGINT), (a, x) -> a + x % 64)",
            6,
        )
        + " AS nats_per_piece",
    )


def nfc_normalize_stream(doc_stream: DataFrame) -> DataFrame:
    """Streaming Unicode NFC audit — the at-ingest twin of
    queries/text.text_unicode_nfc_audit: every arriving doc is
    canonically composed (CPython unicodedata) BEFORE it lands, so a
    multilingual lake never stores mixed NFC/NFD spellings of the same
    word (which silently split dedup clusters and vocabulary counts
    downstream). The kernel is the batch query's own Arrow-batched
    mapInPandas (shared code, not a twin), state-free per row: a
    drained replay across any micro-batch split equals the batch frame
    bit-for-bit (tests/test_streaming.py::
    test_nfc_stream_equals_batch). Zero shuffle, zero state."""
    from ..operators import textops as T

    return T.nfc_audit(doc_stream.select("doc_id", "text"))
