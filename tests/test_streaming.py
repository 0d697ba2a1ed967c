"""Stream/batch equivalence (SURVEY §5 item 4): the SAME enrichment
functions run under Structured Streaming over a deterministic file
source must produce exactly the batch result."""

from __future__ import annotations

import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE
from weather_bigdata_project_spark import weather_domain as wd
from weather_bigdata_project_spark.streaming import jobs


@pytest.fixture(scope="module")
def wire_dir(spark):
    """Materialize the sf0.001 wire frame as JSON-lines micro-files (the
    lake the file-stream replays)."""
    d = tempfile.mkdtemp(prefix="wirelake_")
    wd.wire_frame(spark, SF_SMOKE).repartition(8).write.mode("overwrite").json(d)
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_stream_equals_batch(spark, wire_dir):
    out = tempfile.mkdtemp(prefix="stream_out_")
    ckpt = tempfile.mkdtemp(prefix="stream_ckpt_")
    try:
        stream = jobs.wire_file_stream(spark, wire_dir)
        enriched = jobs.enriched_stream(stream).select(*wd.ENRICHED_COLUMNS)
        q = jobs.start_lake_sink(enriched, out, ckpt, fmt="parquet")
        q.awaitTermination(120)

        got = spark.read.parquet(out)
        want = wd.enriched_frame(spark, SF_SMOKE)
        assert got.count() == want.count() == 1000
        # full-row equivalence, order-insensitive
        assert got.select(*wd.ENRICHED_COLUMNS).subtract(want).count() == 0
        assert want.subtract(got.select(*wd.ENRICHED_COLUMNS)).count() == 0
    finally:
        shutil.rmtree(out, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)


def test_streaming_windowed_stats(spark, wire_dir):
    """Watermarked tumbling-window agg drains under availableNow and
    matches the batch groupBy(date_trunc) twin."""
    out = tempfile.mkdtemp(prefix="stream_win_")
    ckpt = tempfile.mkdtemp(prefix="stream_win_ckpt_")
    try:
        stream = jobs.wire_file_stream(spark, wire_dir)
        win = jobs.windowed_city_stats_stream(jobs.enriched_stream(stream))
        q = (
            win.writeStream.outputMode("append")
            .format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

        got = spark.read.parquet(out)
        batch = (
            wd.enriched_frame(spark, SF_SMOKE)
            .groupBy(
                F.date_trunc("hour", F.col("timestamp_dt")).alias("window_start"),
                "city_name",
            )
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum("temperature").alias("sum_temp"),
                F.max("wind_speed_num").alias("max_wind"),
            )
        )
        # availableNow + watermark: the final (max event-time) windows may
        # be withheld as "not yet closed"; every emitted row must match
        # the batch twin and cover all but the watermark tail.
        missing = got.subtract(batch).count()
        assert missing == 0
        # append mode withholds windows not yet past the 2h watermark:
        # at most (watermark/window + 1) window-starts x 8 cities
        assert got.count() >= batch.count() - 3 * 8 - 8
    finally:
        shutil.rmtree(out, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)


def test_streaming_session_windows(spark, wire_dir):
    """Sessionized stream under availableNow: every emitted (closed)
    session must exactly match the batch F.session_window twin; sessions
    still open at the final watermark are withheld by append mode."""
    out = tempfile.mkdtemp(prefix="stream_sess_")
    ckpt = tempfile.mkdtemp(prefix="stream_sess_ckpt_")
    try:
        stream = jobs.wire_file_stream(spark, wire_dir)
        sess = jobs.sessionized_city_stream(jobs.enriched_stream(stream))
        q = (
            sess.writeStream.outputMode("append")
            .format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

        got = spark.read.parquet(out)
        batch = (
            wd.enriched_frame(spark, SF_SMOKE)
            .groupBy(
                F.session_window(
                    F.col("timestamp_dt").cast("timestamp"), "30 minutes"
                ).alias("win"),
                "city_name",
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
        assert got.subtract(batch).count() == 0  # nothing wrong emitted
        # withheld tail is at most the sessions still open per city
        assert got.count() >= batch.count() - 2 * 8
    finally:
        shutil.rmtree(out, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)


def test_stateful_city_extremes(spark, wire_dir):
    """applyInPandasWithState running aggregates: after draining the whole
    lake, the LAST emitted row per city (highest n_seen) must equal the
    batch groupBy twin exactly."""
    stream = jobs.wire_file_stream(spark, wire_dir)
    st = jobs.stateful_city_extremes_stream(jobs.enriched_stream(stream))
    q = (
        st.writeStream.outputMode("update")
        .format("memory")
        .queryName("city_extremes")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    emitted = spark.table("city_extremes")
    # multiple update rows per city (one per micro-batch that saw it);
    # the final state row is the one with max n_seen
    from pyspark.sql import Window

    final = (
        emitted.withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("city_name").orderBy(F.desc("n_seen"))
            ),
        )
        .filter(F.col("rk") == 1)
        .drop("rk")
    )
    batch = (
        wd.enriched_frame(spark, SF_SMOKE)
        .groupBy("city_name")
        .agg(
            F.count(F.lit(1)).alias("n_seen"),
            F.sum(
                (F.col("alert_type") != "NORMAL").cast("bigint")
            ).alias("n_alerts"),
            F.min("temperature").alias("min_temp"),
            F.max("temperature").alias("max_temp"),
        )
    )
    assert final.count() == 8
    assert final.subtract(batch).count() == 0
    assert batch.subtract(final).count() == 0


def test_incremental_resume_exactly_once(spark):
    """Checkpointed file-sink across three runs: drain half the lake,
    drain the rest, then re-run with nothing new — every wire row lands
    exactly once, resume picks up only unprocessed files."""
    wire3 = tempfile.mkdtemp(prefix="wirelake_inc_")
    out = tempfile.mkdtemp(prefix="inc_out_")
    ckpt = tempfile.mkdtemp(prefix="inc_ckpt_")
    try:
        w = wd.wire_frame(spark, SF_SMOKE)
        first = w.filter(F.col("event_id") % 2 == 0)
        second = w.filter(F.col("event_id") % 2 == 1)
        first.repartition(4).write.mode("overwrite").json(wire3)

        def drain():
            stream = jobs.wire_file_stream(spark, wire3)
            enriched = jobs.enriched_stream(stream).select(
                *wd.ENRICHED_COLUMNS
            )
            q = jobs.start_lake_sink(enriched, out, ckpt, fmt="parquet")
            q.awaitTermination(120)

        drain()
        n1 = spark.read.parquet(out).count()
        assert n1 == first.count()

        second.repartition(4).write.mode("append").json(wire3)
        drain()
        lake = spark.read.parquet(out)
        assert lake.count() == w.count()
        assert lake.select("event_id").distinct().count() == w.count()

        drain()  # nothing new: exactly-once means nothing added
        assert spark.read.parquet(out).count() == w.count()
    finally:
        for d in (wire3, out, ckpt):
            shutil.rmtree(d, ignore_errors=True)


def test_foreach_batch_dedup_upsert(spark):
    """Source-side duplicates (the same wire rows written twice) must
    collapse to unique event_ids in the lake; a restart with the same
    checkpoint must add nothing."""
    wire2 = tempfile.mkdtemp(prefix="wirelake_dup_")
    out = tempfile.mkdtemp(prefix="fb_out_")
    ckpt = tempfile.mkdtemp(prefix="fb_ckpt_")
    try:
        w = wd.wire_frame(spark, SF_SMOKE)
        # two physical copies of every record, across separate files
        w.repartition(4).write.mode("overwrite").json(wire2)
        w.repartition(3).write.mode("append").json(wire2)

        def run():
            stream = jobs.wire_file_stream(spark, wire2)
            enriched = jobs.enriched_stream(stream).select(
                *wd.ENRICHED_COLUMNS
            )
            q = jobs.start_foreach_batch_dedup_sink(enriched, out, ckpt)
            q.awaitTermination(120)

        run()
        got = spark.read.parquet(out)
        n = wd.wire_frame(spark, SF_SMOKE).count()
        assert got.count() == n
        assert got.select("event_id").distinct().count() == n

        run()  # restart: checkpoint says everything is processed
        assert spark.read.parquet(out).count() == n
    finally:
        for d in (wire2, out, ckpt):
            shutil.rmtree(d, ignore_errors=True)


def test_alerts_stream_filter(spark, wire_dir):
    stream = jobs.wire_file_stream(spark, wire_dir)
    alerts = jobs.alerts_stream(jobs.enriched_stream(stream))
    assert alerts.isStreaming
    out = tempfile.mkdtemp(prefix="stream_alerts_")
    ckpt = tempfile.mkdtemp(prefix="stream_alerts_ckpt_")
    try:
        q = jobs.start_lake_sink(alerts, out, ckpt, fmt="json")
        q.awaitTermination(120)
        got = spark.read.json(out)
        want = wd.alerts_frame(spark, SF_SMOKE).count()
        assert got.count() == want
        assert got.filter(F.col("alert_type") == "NORMAL").count() == 0
    finally:
        shutil.rmtree(out, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)


def test_console_sink_drains_and_await_any_sees_it_stop(spark, wire_dir):
    """S7 + T7: the console sink reads every wire row and stops, and
    await_any returns once it has."""
    spark.streams.resetTerminated()  # forget queries other tests ended
    q = jobs.start_console_sink(
        jobs.enriched_stream(jobs.wire_file_stream(spark, wire_dir))
    )
    try:
        assert jobs.await_any(spark, timeout_s=120) is True
        assert not q.isActive
        assert q.exception() is None
        read = sum(p["numInputRows"] for p in q.recentProgress)
        assert read == wd.wire_frame(spark, SF_SMOKE).count()
    finally:
        q.stop()


def _drain_backlog(spark, wire: str, root: str):
    """availableNow-drain `wire` into a parquet lake and a JSON alerts feed
    under `root` (two queries, as scripts/run_pipeline.py wires them).
    Returns the input-row counts of each query's data micro-batches and
    whether both outputs equal the batch twin as multisets."""
    enriched = jobs.enriched_stream(
        jobs.wire_file_stream(spark, wire)
    ).select(*wd.ENRICHED_COLUMNS)
    alerts = jobs.alerts_stream(
        jobs.enriched_stream(jobs.wire_file_stream(spark, wire))
    )
    qs = [
        jobs.start_lake_sink(enriched, f"{root}/lake", f"{root}/ck/lake"),
        jobs.start_lake_sink(
            alerts, f"{root}/alerts", f"{root}/ck/alerts", fmt="json"
        ),
    ]
    for q in qs:
        q.awaitTermination(120)
    batches = [
        [p.numInputRows for p in q.recentProgress if p.numInputRows > 0]
        for q in qs
    ]
    schema = jobs.wire_file_stream(spark, wire).schema
    twin = wd.enrich(wd.cast_wire(spark.read.schema(schema).json(wire)))
    want_alerts = jobs.alerts_stream(twin)
    pairs = [
        (spark.read.parquet(f"{root}/lake"), twin.select(*wd.ENRICHED_COLUMNS)),
        (spark.read.schema(want_alerts.schema).json(f"{root}/alerts"),
         want_alerts),
    ]
    equal = all(
        got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0
        for got, want in pairs
    )
    return batches, equal


def test_backlog_drains_in_one_micro_batch(spark, tmp_path):
    """A backlog that fits one round of input splits (trigger_bytes) is
    admitted whole: each query commits exactly one micro-batch with
    input rows, and lake and alerts equal the batch twin."""
    wire = str(tmp_path / "wire")
    wd.wire_frame(spark, SF_SMOKE).repartition(12).write.json(wire)
    assert len([f for f in os.listdir(wire) if f.endswith(".json")]) == 12
    batches, equal = _drain_backlog(spark, wire, str(tmp_path))
    assert batches == [[1000], [1000]]
    assert equal


def test_trigger_bytes_bounds_each_micro_batch(spark, tmp_path):
    """trigger_bytes is defaultParallelism x maxPartitionBytes; shrinking
    the split spreads the same backlog over several bounded micro-batches
    and still lands every record exactly once."""
    split = "spark.sql.files.maxPartitionBytes"
    slots = spark.sparkContext.defaultParallelism
    assert jobs.trigger_bytes(spark) == slots * 128 * 1024 * 1024
    wire = str(tmp_path / "wire")
    wd.wire_frame(spark, SF_SMOKE).repartition(12).write.json(wire)
    sizes = [
        os.path.getsize(os.path.join(wire, f))
        for f in os.listdir(wire) if f.endswith(".json")
    ]
    old = spark.conf.get(split)
    try:
        # Spark's own parser reads a suffixed byte string
        spark.conf.set(split, "64m")
        assert jobs.trigger_bytes(spark) == slots * 2**26
        # a trigger fits about three files
        spark.conf.set(split, str(3 * max(sizes) // slots))
        batches, equal = _drain_backlog(spark, wire, str(tmp_path))
    finally:
        spark.conf.set(split, old)
    for rows in batches:
        assert len(rows) >= 4 and sum(rows) == 1000
    assert equal


# --- stream-stream + stream-static joins ----------------------------------

@pytest.fixture(scope="module")
def events_dir(spark):
    """sf0.001 events replayed as an 8-file parquet directory."""
    import tempfile
    from weather_bigdata_project_spark import tables

    d = tempfile.mkdtemp(prefix="eventlake_")
    (
        tables.load(spark, SF_SMOKE, "events")
        .select("event_id", "ts", "user_id", "event_type", "value")
        .repartition(8)
        .write.mode("overwrite")
        .parquet(d)
    )
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_stream_stream_interval_join_equals_batch(spark, events_dir):
    """The watermarked stream-stream interval join must emit exactly the
    batch inner-join pairs (watermark > fixture span => nothing withheld
    or evicted mid-replay)."""
    import tempfile
    from weather_bigdata_project_spark import tables

    out = tempfile.mkdtemp(prefix="ssj_out_")
    ckpt = tempfile.mkdtemp(prefix="ssj_ckpt_")
    try:
        stream = jobs.events_file_stream(spark, events_dir)
        joined = jobs.interval_join_clicks_purchases(stream, watermark="365 days")
        q = (
            joined.writeStream.outputMode("append")
            .format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

        got = spark.read.parquet(out)
        ev = tables.load(spark, SF_SMOKE, "events")
        clicks = ev.filter(F.col("event_type") == "click").select(
            F.col("user_id").alias("c_user"),
            F.col("ts").cast("timestamp").alias("c_ts"),
            F.col("value").alias("c_value"),
        )
        purchases = ev.filter(F.col("event_type") == "purchase").select(
            "event_id", "user_id", F.col("ts").cast("timestamp").alias("ts")
        )
        want = purchases.join(
            clicks,
            F.expr(
                "c_user = user_id AND c_ts >= ts - INTERVAL 10 MINUTES "
                "AND c_ts < ts"
            ),
        )
        assert got.count() == want.count() > 0
        assert got.select("event_id", "c_ts").subtract(
            want.select("event_id", "c_ts")
        ).count() == 0
    finally:
        shutil.rmtree(out, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)


def test_stream_static_join_enriches_every_event(spark, events_dir):
    """Stream-static broadcast join: every event row survives (left
    join), matched rows carry the customer segment."""
    import tempfile
    from weather_bigdata_project_spark import tables

    out = tempfile.mkdtemp(prefix="sstat_out_")
    ckpt = tempfile.mkdtemp(prefix="sstat_ckpt_")
    try:
        stream = jobs.events_file_stream(spark, events_dir)
        customer = tables.load(spark, SF_SMOKE, "customer")
        q = (
            jobs.stream_static_segment_enrich(stream, customer)
            .writeStream.outputMode("append")
            .format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

        got = spark.read.parquet(out)
        n_events = tables.load(spark, SF_SMOKE, "events").count()
        assert got.count() == n_events
        # user ids exist in customer at every SF => all matched
        assert got.filter(F.col("c_mktsegment").isNull()).count() == 0
    finally:
        shutil.rmtree(out, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)


def test_streaming_sliding_windows_match_batch(spark, events_dir):
    """Sliding-window stream (30m window / 15m slide) under availableNow:
    every emitted window must match the oracle-checked batch twin
    events_sliding_window; append mode withholds only the watermark
    tail."""
    import tempfile
    from weather_bigdata_project_spark.registry import QUERIES

    out = tempfile.mkdtemp(prefix="slide_out_")
    ckpt = tempfile.mkdtemp(prefix="slide_ckpt_")
    try:
        stream = jobs.events_file_stream(spark, events_dir)
        win = jobs.sliding_event_counts_stream(stream, watermark="2 hours")
        q = (
            win.writeStream.outputMode("append")
            .format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

        got = spark.read.parquet(out)
        batch = QUERIES["events_sliding_window"](spark, SF_SMOKE)
        assert got.subtract(batch).count() == 0
        # withheld tail: windows whose end is within watermark+window of
        # max event time — at most (2h/15m + 2) starts per event type
        assert got.count() >= batch.count() - (8 + 2) * 5
        assert got.count() > 0
    finally:
        shutil.rmtree(out, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)


def test_incremental_agg_mv(spark, wire_dir):
    """The foreachBatch-maintained MV must equal the one-shot batch
    aggregate over the same wire data (multi-batch folding is exact:
    integer cents sums, min/max merge), and a restart with the same
    checkpoint must fold nothing twice."""
    out = tempfile.mkdtemp(prefix="mv_out_") + "/mv"
    ckpt = tempfile.mkdtemp(prefix="mv_ckpt_")
    try:
        def run():
            stream = jobs.wire_file_stream(spark, wire_dir)
            enriched = jobs.enriched_stream(stream).select(
                "city_name", "temperature"
            )
            q = jobs.start_incremental_agg_sink(enriched, out, ckpt)
            q.awaitTermination(120)

        run()
        assert jobs._mv_last_batch(out) >= 0  # marker installed with data
        got = {
            r["city_name"]: r
            for r in jobs.read_incremental_agg_mv(spark, out).collect()
        }
        exp = {
            r["city_name"]: r
            for r in wd.enriched_frame(spark, SF_SMOKE)
            .groupBy("city_name")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                (
                    F.sum(
                        F.expr("cast(round(temperature * 100e0, 0) as bigint)")
                    )
                    / 100.0
                    / F.count(F.lit(1))
                ).alias("avg_temp"),
                F.min("temperature").alias("min_temp"),
                F.max("temperature").alias("max_temp"),
            )
            .collect()
        }
        assert set(got) == set(exp)
        for c in exp:
            assert got[c]["n_events"] == exp[c]["n_events"]
            assert got[c]["avg_temp"] == pytest.approx(exp[c]["avg_temp"])
            assert got[c]["min_temp"] == exp[c]["min_temp"]
            assert got[c]["max_temp"] == exp[c]["max_temp"]

        before = jobs._mv_last_batch(out)
        run()  # restart: checkpoint replays nothing, MV unchanged
        got2 = {
            r["city_name"]: r["n_events"]
            for r in jobs.read_incremental_agg_mv(spark, out).collect()
        }
        assert got2 == {c: exp[c]["n_events"] for c in exp}
        assert jobs._mv_last_batch(out) == before
    finally:
        shutil.rmtree(os.path.dirname(out), ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)


@pytest.mark.parametrize(
    "body",
    [
        test_streaming_windowed_stats,
        test_streaming_session_windows,
        test_stateful_city_extremes,
        test_incremental_agg_mv,
        test_stream_stream_interval_join_equals_batch,
        test_streaming_sliding_windows_match_batch,
    ],
    ids=lambda body: body.__name__.removeprefix("test_"),
)
def test_state_carries_across_micro_batches(spark, request, monkeypatch, body):
    """The 8-file fixtures fit one trigger (trigger_bytes), so the tests
    above drain them in a single micro-batch. Rerun each with a trigger
    that admits four of the (equal-sized) files: window, session, join
    and MV state must then carry over two micro-batches and still meet
    the same assertions. Every query that read input must have taken
    exactly two micro-batches to do it.

    Two, not more: every fixture file spans the whole time range, and
    the late-row filter uses the previous batch's watermark, so from a
    third batch on rows older than the watermark are rightly dropped as
    late, which the batch twins above do not model."""
    import inspect

    from pyspark.sql.streaming import StreamingQuery

    # the body's data fixture: wire_dir or events_dir
    d = request.getfixturevalue(list(inspect.signature(body).parameters)[1])
    largest = max(
        os.path.getsize(os.path.join(d, f))
        for f in os.listdir(d) if f.endswith((".json", ".parquet"))
    )
    monkeypatch.setattr(jobs, "trigger_bytes", lambda _spark: 4 * largest)
    data_batches = []
    await_termination = StreamingQuery.awaitTermination

    def await_and_count(q, *args):
        done = await_termination(q, *args)
        data_batches.append(
            len([p for p in q.recentProgress if p.numInputRows > 0])
        )
        return done

    monkeypatch.setattr(StreamingQuery, "awaitTermination", await_and_count)
    body(spark, d)
    assert [n for n in data_batches if n] and all(
        n == 2 for n in data_batches if n
    ), data_batches


def test_transition_counts_stream(spark, tmp_path):
    """Stateful streaming transition counts: drained over a time-ordered
    file stream in multiple micro-batches, the summed emissions must
    equal the batch transition matrix exactly (per-user last-type state
    survives batch boundaries)."""
    import shutil

    from weather_bigdata_project_spark import tables
    from weather_bigdata_project_spark.registry import QUERIES

    src = str(tmp_path / "events_ranged")
    ev = tables.load(spark, SF_SMOKE, "events")
    # four time-range files, lexicographic names follow event time so the
    # file stream (maxFilesPerTrigger=1) replays history in order
    ev.repartitionByRange(4, "ts", "event_id").write.mode(
        "overwrite"
    ).parquet(src)
    # the file source replays by (modification time, path); range files
    # are written concurrently, so pin strictly increasing mtimes in
    # range order to make the replay order the event-time order
    import glob
    import os

    for i, f in enumerate(sorted(glob.glob(os.path.join(src, "part-*")))):
        os.utime(f, (1_700_000_000 + i * 10, 1_700_000_000 + i * 10))
    stream = (
        spark.readStream.schema(
            tables.load(spark, SF_SMOKE, "events").schema
        )
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    st = jobs.transition_counts_stream(stream)
    q = (
        st.writeStream.outputMode("update")
        .format("memory")
        .queryName("transitions")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = (
        spark.table("transitions")
        .groupBy("from_type", "to_type")
        .agg(F.sum("n").alias("n_transitions"))
    )
    want = QUERIES["events_transition_matrix"](spark, SF_SMOKE).select(
        "from_type", "to_type", "n_transitions"
    )
    assert got.subtract(want).count() == 0
    assert want.subtract(got).count() == 0
    shutil.rmtree(src, ignore_errors=True)


def test_observation_metrics_match_aggregates(spark):
    """Observation rides quality counters on the enriched frame with no
    second scan; values must equal independently-computed aggregates."""
    from weather_bigdata_project_spark.streaming.observe import (
        observed_quality,
    )

    e = wd.enriched_frame(spark, SF_SMOKE)
    observed, obs = observed_quality(e)
    observed.write.format("noop").mode("overwrite").save()
    got = obs.get
    want = e.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("temperature").isNull().cast("bigint")).alias(
            "n_null_temp"
        ),
        F.sum((F.col("alert_type") != "NORMAL").cast("bigint")).alias(
            "n_alerts"
        ),
        F.sum(
            F.expr("CAST(ROUND(wind_speed_num * 100.0e0) AS BIGINT)")
        ).alias("wind_cents"),
    ).collect()[0]
    assert got["n_rows"] == want["n_rows"] == 1000
    assert got["n_null_temp"] == want["n_null_temp"]
    assert got["n_alerts"] == want["n_alerts"]
    assert got["wind_cents"] == want["wind_cents"]


def test_streaming_listener_captures_progress(spark, wire_dir):
    """The StreamingQueryListener sees every micro-batch: total input
    rows across captured progress events equal the lake size."""
    import time

    from weather_bigdata_project_spark.streaming import observe

    lis = observe.attach_listener(spark)
    try:
        stream = jobs.wire_file_stream(spark, wire_dir)
        q = (
            jobs.enriched_stream(stream)
            .writeStream.outputMode("append")
            .format("memory")
            .queryName("observed_stream")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        # listener delivery is async; wait for the totals to land
        deadline = time.time() + 30
        while time.time() < deadline:
            s = lis.progress_summary()
            if s["total_input_rows"] >= 1000:
                break
            time.sleep(0.5)
        s = lis.progress_summary()
        assert s["total_input_rows"] == 1000, s
        assert s["batches"] >= 1
        assert "observed_stream" in s["queries"]
    finally:
        observe.detach_listener(spark, lis)


def test_streaming_listener_state_is_bounded():
    """A live query reports progress forever: the listener keeps the
    last PROGRESS_RING records, each with its durationMs phases, while
    the summary's totals count every batch it was ever told about."""
    from types import SimpleNamespace

    from weather_bigdata_project_spark.streaming import observe

    lis = observe.BatchProgressListener()
    n = observe.PROGRESS_RING + 37
    for i in range(n):
        lis.onQueryProgress(SimpleNamespace(progress=SimpleNamespace(
            name=f"q{i % 2}", batchId=i, numInputRows=i,
            processedRowsPerSecond=1.0,
            durationMs={"addBatch": i, "triggerExecution": 2 * i},
        )))
    records = lis.records()
    assert len(records) == observe.PROGRESS_RING
    assert [e["batch_id"] for e in records] == list(
        range(n - observe.PROGRESS_RING, n)
    )
    assert records[-1]["duration_ms"] == {
        "addBatch": n - 1, "triggerExecution": 2 * (n - 1),
    }
    # a scrape is a snapshot: later progress does not mutate it mid-read
    lis.onQueryProgress(SimpleNamespace(progress=SimpleNamespace(
        name="q0", batchId=n, numInputRows=0, processedRowsPerSecond=1.0,
        durationMs={},
    )))
    assert records[-1]["batch_id"] == n - 1
    assert lis.records()[-1]["batch_id"] == n
    assert lis.progress_summary() == {
        "batches": n + 1,
        "total_input_rows": n * (n - 1) // 2,
        "queries": ["q0", "q1"],
    }


def test_transform_with_state_ewma(spark, tmp_path):
    """transformWithStateInPandas EWMA: drained over an event-id-ordered
    multi-batch file stream, each city's final state must be bit-equal
    to the batch JVM `aggregate` HOF running the same snapped recursion
    (typed ValueState survives batch boundaries; RocksDB provider).

    The transformWithState Python client speaks protobuf to the JVM
    state server; this container ships pyspark without protobuf, so the
    test skips where the dependency is absent (the operator itself has
    no import-time dependency).

    Vendoring attempt (round 4, 2026-08-15): `pip download protobuf`
    returns nothing (no network egress), and no protobuf wheel/sdist
    exists anywhere on the container filesystem (`find / -name
    'protobuf*'`). A pure-python reimplementation of the generated
    state-server messages is not a faithful test of the real
    transport. Hard container block; the fold itself is covered by
    the `ewma_fold_py` JVM-equivalence and state-handoff tests.

    Re-attempted round 5 (2026-08-15): unchanged — `import
    google.protobuf` still fails and `pip download protobuf` still
    reports 'versions: none' (no egress). Block stands.

    Re-attempted round 6 (2026-08-15): unchanged — `import
    google.protobuf` fails, `pip download protobuf` dies on DNS
    (Name or service not known), and the only filesystem hits are
    typeshed stubs and pyspark's own from-protobuf SQL shims, neither
    a runtime google.protobuf. Block stands.

    Re-attempted round 7 (2026-08-15): unchanged — same DNS failure,
    and a sweep of the miniconda tree (envs/, pkgs/, any
    descriptor_pb2.py) confirms no conda-packaged protobuf runtime
    exists either. Block stands.

    UNBLOCKED round 8 (2026-08-16): google-cloud-sdk's appengine
    platform tree ships a vendored pure-python google.protobuf 6.32
    (/usr/lib/google-cloud-sdk/platform/google_appengine — absent from
    every earlier round's filesystem sweep). conftest._arrange_protobuf
    appends it to sys.path and PYTHONPATH before the JVM launches (the
    state-server driver worker inherits it) and sets protobuf's
    OFFICIAL version-check escape hatch
    (TEMPORARILY_DISABLE_PROTOBUF_VERSION_CHECK: pyspark's gencode is
    6.33, one minor ahead of the 6.32 runtime; the StateMessage
    protocol is plain proto3, wire-compatible). The REAL transport now
    runs end-to-end — RocksDB provider, protobuf state server, typed
    ValueState across batches — and this test passes; the importorskip
    stays as the graceful gate for containers without the sdk."""
    pytest.importorskip(
        "google.protobuf",
        reason="transformWithStateInPandas needs protobuf for its "
        "state-server protocol",
    )
    import glob

    from weather_bigdata_project_spark import weather_domain as wd

    enr = wd.enrich(wd.cast_wire(wd.wire_frame(spark, SF_SMOKE))).select(
        "city_name", "event_id", "temperature"
    )
    src = str(tmp_path / "enr_ranged")
    enr.repartitionByRange(4, "event_id").write.mode("overwrite").parquet(src)
    for i, f in enumerate(sorted(glob.glob(os.path.join(src, "part-*")))):
        os.utime(f, (1_700_000_000 + i * 10, 1_700_000_000 + i * 10))

    stream = (
        spark.readStream.schema(enr.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    st = jobs.ewma_temperature_stream(stream)
    prov = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    try:
        q = (
            st.writeStream.outputMode("update")
            .format("memory")
            .queryName("tws_ewma")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
    finally:
        if prov:
            spark.conf.set(
                "spark.sql.streaming.stateStore.providerClass", prov
            )
        else:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")

    # last emitted row per city = final state
    got = (
        spark.table("tws_ewma")
        .withColumn(
            "rn",
            F.expr(
                "row_number() OVER (PARTITION BY city_name "
                "ORDER BY n_seen DESC)"
            ),
        )
        .filter("rn = 1")
        .select("city_name", "n_seen", "ewma_temp")
    )
    fold = (
        "aggregate(sort_array(collect_list(struct(event_id, temperature))), "
        "CAST(NULL AS BIGINT), (s, e) -> CASE WHEN s IS NULL THEN "
        "CAST(e.temperature AS BIGINT) * 1000000000 ELSE "
        "CAST(ROUND(0.2e0 * (CAST(e.temperature AS BIGINT) * 1000000000) "
        "+ 0.8e0 * s) AS BIGINT) END)"
    )
    want = (
        enr.filter("temperature IS NOT NULL")
        .groupBy("city_name")
        .agg(
            F.count(F.lit(1)).alias("n_seen"),
            F.expr(f"CAST({fold} AS DOUBLE) / 1.0e9").alias("ewma_temp"),
        )
    )
    assert got.subtract(want).count() == 0
    assert want.subtract(got).count() == 0


def test_ewma_fold_py_matches_jvm_fold(spark):
    """The Python EWMA recursion (used by the transformWithState
    processor) must be bit-equal to the JVM `aggregate` HOF fold on the
    same ordered input — including across a mid-series state handoff
    (the micro-batch boundary case)."""
    from weather_bigdata_project_spark import weather_domain as wd
    from weather_bigdata_project_spark.streaming.jobs import ewma_fold_py

    enr = wd.enrich(wd.cast_wire(wd.wire_frame(spark, SF_SMOKE))).select(
        "city_name", "event_id", "temperature"
    )
    fold = (
        "aggregate(sort_array(collect_list(struct(event_id, temperature))), "
        "CAST(NULL AS BIGINT), (s, e) -> CASE WHEN s IS NULL THEN "
        "CAST(e.temperature AS BIGINT) * 1000000000 ELSE "
        "CAST(ROUND(0.2e0 * (CAST(e.temperature AS BIGINT) * 1000000000) "
        "+ 0.8e0 * s) AS BIGINT) END)"
    )
    want = {
        r["city_name"]: (r["n"], r["s"])
        for r in enr.filter("temperature IS NOT NULL")
        .groupBy("city_name")
        .agg(
            F.count(F.lit(1)).alias("n"), F.expr(fold).alias("s")
        )
        .collect()
    }
    rows = (
        enr.filter("temperature IS NOT NULL")
        .orderBy("event_id")
        .collect()
    )
    series: dict[str, list[int]] = {}
    for r in rows:
        series.setdefault(r["city_name"], []).append(r["temperature"])
    assert set(series) == set(want)
    for city, temps in series.items():
        # single fold
        assert ewma_fold_py(temps) == want[city]
        # split fold: state handed across a batch boundary mid-series
        cut = len(temps) // 2
        n1, s1 = ewma_fold_py(temps[:cut])
        assert ewma_fold_py(temps[cut:], n1, s1) == want[city]


def test_stream_stream_left_outer_interval_join(spark, tmp_path):
    """LEFT OUTER stream-stream interval join over a time-ordered
    multi-batch replay: everything emitted must be a row of the batch
    left join, and every purchase older than the final watermark tail
    must have emitted (matched or null-padded) — watermark-driven outer
    emission actually fires, it does not just buffer forever."""
    import glob

    from weather_bigdata_project_spark import tables

    ev = tables.load(spark, SF_SMOKE, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    src = str(tmp_path / "events_ranged_lj")
    ev.repartitionByRange(4, "ts", "event_id").write.mode(
        "overwrite"
    ).parquet(src)
    for i, f in enumerate(sorted(glob.glob(os.path.join(src, "part-*")))):
        os.utime(f, (1_700_000_000 + i * 10, 1_700_000_000 + i * 10))

    out = str(tmp_path / "lj_out")
    ckpt = str(tmp_path / "lj_ckpt")
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    joined = jobs.interval_left_join_clicks_purchases(
        stream, watermark="1 minute"
    )
    q = (
        joined.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.read.parquet(out)

    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("ts").cast("timestamp").alias("c_ts"),
        F.col("value").alias("c_value"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", F.col("ts").cast("timestamp").alias("ts")
    )
    want = purchases.join(
        clicks,
        F.expr(
            "c_user = user_id AND c_ts >= ts - INTERVAL 10 MINUTES "
            "AND c_ts < ts"
        ),
        "left_outer",
    )
    # nothing wrong emitted (null-padded rows included in the compare)
    assert got.subtract(want).count() == 0
    # null-padded outer rows DID emit (the stateful behavior under test)
    assert got.filter("c_ts IS NULL").count() > 0
    # completeness outside the final watermark tail: the global
    # watermark is min over BOTH sides' max event times minus the
    # delay, so purchases older than that minus slack must all be
    # present (matched or null-padded)
    [mp] = purchases.agg(F.max("ts").alias("m")).collect()
    [mc] = clicks.agg(F.max("c_ts").alias("m")).collect()
    cutoff = min(mp["m"], mc["m"]) - __import__("datetime").timedelta(
        minutes=15
    )
    missing = (
        purchases.filter(F.col("ts") <= F.lit(cutoff))
        .select("event_id")
        .subtract(got.select("event_id"))
    )
    assert missing.count() == 0


def test_session_paths_stream(spark, tmp_path):
    """Streaming sessionization: drained over a time-ordered file stream
    (one file per trigger), the emitted session paths must equal the
    batch sessionization EXCLUDING each user's final session — which
    stays open in state because no later event arrives to close it."""
    import glob
    import os

    from pyspark.sql import Window

    from weather_bigdata_project_spark import tables

    src = str(tmp_path / "events_ranged_sess")
    ev = tables.load(spark, SF_SMOKE, "events")
    ev.repartitionByRange(4, "ts", "event_id").write.mode(
        "overwrite"
    ).parquet(src)
    for i, f in enumerate(sorted(glob.glob(os.path.join(src, "part-*")))):
        os.utime(f, (1_700_000_000 + i * 10, 1_700_000_000 + i * 10))
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    st = jobs.session_paths_stream(stream)
    q = (
        st.writeStream.outputMode("update")
        .format("memory")
        .queryName("sess_paths")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["user_id"], r["path"])
        for r in spark.table("sess_paths").collect()
    }

    # batch truth: same sessionization, drop each user's last session
    gap_us = 30 * 60 * 1_000_000
    e = ev.select(
        "user_id",
        "event_id",
        "event_type",
        F.expr(
            "timestampdiff(MICROSECOND, "
            "to_timestamp_ntz('1970-01-01 00:00:00'), ts)"
        ).alias("us"),
    )
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    gap = F.col("us") - F.lag("us").over(w)
    ns = F.when(gap.isNull() | (gap > gap_us), 1).otherwise(0)
    s = e.withColumn(
        "sid", F.sum(ns).over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    p = s.groupBy("user_id", "sid").agg(
        F.expr(
            "concat_ws('>', transform(array_sort("
            "collect_list(struct(us, event_id, event_type))), "
            "x -> x.event_type))"
        ).alias("path")
    )
    wl = Window.partitionBy("user_id")
    want = {
        (r["user_id"], r["path"])
        for r in p.withColumn("max_sid", F.max("sid").over(wl))
        .filter(F.col("sid") != F.col("max_sid"))
        .collect()
    }
    assert got == want
    assert len(got) > 0


def test_compacting_lake_sink_heals_small_files(spark, tmp_path):
    """The doctor-gated compacting sink keeps every row exactly once
    AND leaves far fewer files than the batches wrote — in-line
    compaction fired on the doctor's 'compact' verdict mid-stream."""
    import glob

    from weather_bigdata_project_spark import tables
    from weather_bigdata_project_spark.sources.readers import (
        lake_layout_doctor,
    )

    src = str(tmp_path / "ev_src")
    lake = str(tmp_path / "lake")
    ckpt = str(tmp_path / "ckpt")
    ev = tables.load(spark, SF_SMOKE, "events")
    ev.repartition(8).write.mode("overwrite").parquet(src)
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = jobs.start_compacting_lake_sink(
        stream, lake, ckpt, target_file_mb=64, every=3
    )
    q.awaitTermination(180)
    back = spark.read.parquet(lake)
    assert back.count() == ev.count()
    n_files = len(glob.glob(f"{lake}/part-*.parquet"))
    # 8 batches x up to 8 shuffle files each without compaction; the
    # in-line compactions collapse all but the post-compaction tail
    assert n_files <= 8
    assert lake_layout_doctor(lake, target_file_mb=0)["verdict"] == "ok"
    # restart with the same checkpoint and no new input: the drained
    # stream replays nothing — the appends are checkpoint-fenced
    q2 = jobs.start_compacting_lake_sink(
        stream, lake, ckpt, target_file_mb=64, every=3
    )
    q2.awaitTermination(120)
    assert spark.read.parquet(lake).count() == ev.count()


def test_stream_stream_full_outer_interval_join(spark, tmp_path):
    """FULL OUTER stream-stream interval join over a time-ordered
    multi-batch replay: emitted rows must be a subset of the batch full
    join; null-padded rows fire on BOTH sides (click-less purchases AND
    conversion-less clicks) — i.e. watermark-driven outer emission works
    in both directions, the property the inner/left variants can't
    show."""
    import glob

    from weather_bigdata_project_spark import tables

    ev = tables.load(spark, SF_SMOKE, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    src = str(tmp_path / "events_ranged_fj")
    ev.repartitionByRange(4, "ts", "event_id").write.mode(
        "overwrite"
    ).parquet(src)
    for i, f in enumerate(sorted(glob.glob(os.path.join(src, "part-*")))):
        os.utime(f, (1_700_000_000 + i * 10, 1_700_000_000 + i * 10))

    out = str(tmp_path / "fj_out")
    ckpt = str(tmp_path / "fj_ckpt")
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    joined = jobs.interval_full_join_clicks_purchases(
        stream, watermark="1 minute"
    )
    q = (
        joined.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.read.parquet(out)

    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("ts").cast("timestamp").alias("c_ts"),
        F.col("value").alias("c_value"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", F.col("ts").cast("timestamp").alias("ts")
    )
    want = purchases.join(
        clicks,
        F.expr(
            "c_user = user_id AND c_ts >= ts - INTERVAL 10 MINUTES "
            "AND c_ts < ts"
        ),
        "full_outer",
    )
    # nothing wrong emitted (both null-padded directions included)
    assert got.subtract(want).count() == 0
    # outer rows fired in BOTH directions
    assert got.filter("c_ts IS NULL").count() > 0  # click-less purchase
    assert got.filter("ts IS NULL").count() > 0    # conversion-less click
    # completeness outside the final watermark tail, purchase side
    [mp] = purchases.agg(F.max("ts").alias("m")).collect()
    [mc] = clicks.agg(F.max("c_ts").alias("m")).collect()
    cutoff = min(mp["m"], mc["m"]) - __import__("datetime").timedelta(
        minutes=15
    )
    missing = (
        purchases.filter(F.col("ts") <= F.lit(cutoff))
        .select("event_id")
        .subtract(got.filter("event_id IS NOT NULL").select("event_id"))
    )
    assert missing.count() == 0


def test_city_ewma_processor_logic_without_transport(spark):
    """Drives the ACTUAL transformWithStateInPandas processor class
    (jobs.CityEwma) through a duck-typed fake state handle — everything
    except the protobuf transport the container lacks: state
    init/get/update wiring, the concat + dropna + stable-sort batch
    prep, and cross-batch state handoff. Final per-city state must be
    bit-equal to the JVM `aggregate` fold on the same rows."""
    import pandas as pd

    from weather_bigdata_project_spark import weather_domain as wd
    from weather_bigdata_project_spark.streaming import jobs

    class FakeValueState:
        def __init__(self):
            self.v = None

        def get(self):
            return self.v

        def update(self, v):
            self.v = tuple(v)

    class FakeHandle:
        def __init__(self):
            self.states = {}

        def getValueState(self, name, schema):
            assert name == "ewma" and "BIGINT" in schema
            return self.states.setdefault(name, FakeValueState())

    enr = wd.enrich(wd.cast_wire(wd.wire_frame(spark, SF_SMOKE))).select(
        "city_name", "event_id", "temperature"
    )
    rows = enr.filter("temperature IS NOT NULL").orderBy("event_id").collect()
    per_city: dict[str, list] = {}
    for r in rows:
        per_city.setdefault(r["city_name"], []).append(
            (r["event_id"], r["temperature"])
        )

    fold = (
        "aggregate(sort_array(collect_list(struct(event_id, temperature))), "
        "CAST(NULL AS BIGINT), (s, e) -> CASE WHEN s IS NULL THEN "
        "CAST(e.temperature AS BIGINT) * 1000000000 ELSE "
        "CAST(ROUND(0.2e0 * (CAST(e.temperature AS BIGINT) * 1000000000) "
        "+ 0.8e0 * s) AS BIGINT) END)"
    )
    want = {
        r["city_name"]: (r["n"], r["s"])
        for r in enr.filter("temperature IS NOT NULL")
        .groupBy("city_name")
        .agg(F.count(F.lit(1)).alias("n"), F.expr(fold).alias("s"))
        .collect()
    }

    for city, series in per_city.items():
        proc = jobs.CityEwma()
        handle = FakeHandle()
        proc.init(handle)
        outs = []
        # replay in 3 micro-batches, each delivered as 2 Arrow chunks,
        # with a None temperature injected to exercise the dropna path
        k = max(1, len(series) // 3)
        for i in range(0, len(series), k):
            chunk = series[i:i + k]
            mid = len(chunk) // 2
            batches = iter(
                [
                    pd.DataFrame(
                        chunk[:mid] + [(10**9 + i, None)],
                        columns=["event_id", "temperature"],
                    ),
                    pd.DataFrame(
                        chunk[mid:], columns=["event_id", "temperature"]
                    ),
                ]
            )
            outs.extend(proc.handleInputRows((city,), batches, None))
        proc.close()
        n, s = handle.states["ewma"].v
        assert (n, s) == want[city], city
        last = outs[-1].iloc[0]
        assert last["city_name"] == city
        assert last["n_seen"] == want[city][0]
        assert last["ewma_temp"] == want[city][1] / 1.0e9


def test_minhash_dedup_stream_equals_batch(spark, tmp_path):
    """Streaming MinHash-LSH dedup: over a doc_id-ordered 3-file replay,
    the drained (band-deduplicated) pair set must EQUAL the batch
    dedup_minhash_lsh output — same shingle hashes, same band layout,
    same exact verification, same rounded Jaccard. Also proves
    cross-micro-batch state: pairs whose two docs arrive in different
    triggers can only come from the carried bucket state."""
    from weather_bigdata_project_spark import registry, tables
    from weather_bigdata_project_spark.streaming import jobs

    registry.load()
    src = str(tmp_path / "docs_ordered")
    docs = tables.load(spark, SF_SMOKE, "documents").select("doc_id", "text")
    docs.repartitionByRange(3, "doc_id").write.mode("overwrite").parquet(src)
    import glob
    import os

    parts = sorted(glob.glob(os.path.join(src, "part-*")))
    assert len(parts) == 3
    for i, f in enumerate(parts):
        os.utime(f, (1_700_000_000 + i * 10, 1_700_000_000 + i * 10))
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    st = jobs.minhash_dedup_stream(stream)
    q = (
        st.writeStream.outputMode("update")
        .format("memory")
        .queryName("mh_dedup")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {
        (r["doc1"], r["doc2"], r["jaccard"])
        for r in spark.table("mh_dedup").collect()
    }
    want = {
        (r["doc1"], r["doc2"], r["jaccard"])
        for r in registry.QUERIES["dedup_minhash_lsh"](
            spark, SF_SMOKE
        ).collect()
    }
    assert got == want
    assert len(want) > 0  # non-vacuous: the corpus has near-dups
    # cross-batch evidence: at least one pair spans two trigger files
    bounds = [
        r["doc_id"]
        for r in spark.read.parquet(parts[0]).agg(
            F.max("doc_id").alias("doc_id")
        ).collect()
    ]
    assert any(d1 <= bounds[0] < d2 for d1, d2, _ in want)


def test_phash_dedup_stream_equals_batch(spark, tmp_path):
    """Streaming perceptual-hash dedup: drained over a doc_id-ordered
    3-file replay of the binary-payload docs, the de-duplicated pair set
    must EQUAL the batch multimodal_phash_neardup output — same Arrow
    pandas_udf hash kernel, same 4x16-bit banding, same Hamming verify.
    Pure-integer state; pairs spanning micro-batches prove carried
    bucket state."""
    import glob
    import os

    from weather_bigdata_project_spark import registry, tables
    from weather_bigdata_project_spark.operators import multimodal as M
    from weather_bigdata_project_spark.streaming import jobs

    registry.load()
    src = str(tmp_path / "docs_bin_ordered")
    docs = tables.load(spark, SF_SMOKE, "documents").select("doc_id", "text")
    docs.repartitionByRange(3, "doc_id").write.mode("overwrite").parquet(src)
    parts = sorted(glob.glob(os.path.join(src, "part-*")))
    for i, f in enumerate(parts):
        os.utime(f, (1_700_000_000 + i * 10, 1_700_000_000 + i * 10))
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    st = jobs.phash_dedup_stream(M.with_binary_payload(stream))
    q = (
        st.writeStream.outputMode("update")
        .format("memory")
        .queryName("ph_dedup")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {
        (r["doc1"], r["doc2"], r["hamming"])
        for r in spark.table("ph_dedup").collect()
    }
    want = {
        (r["doc1"], r["doc2"], r["hamming"])
        for r in registry.QUERIES["multimodal_phash_neardup"](
            spark, SF_SMOKE
        ).collect()
    }
    assert got == want
    assert len(want) > 0


def test_embedding_dedup_stream_equals_batch(spark, tmp_path):
    """Streaming embedding near-dup: drained over a vec_id-ordered
    3-file replay, the emitted pair set must EQUAL the batch
    embed_signbucket_neardup output — same in-row sign bucket, and the
    kernel's left-to-right dot product is the same IEEE operation order
    as the JVM fold, so the snapped cos_u matches bit-for-bit."""
    import glob
    import os

    from weather_bigdata_project_spark import registry, tables
    from weather_bigdata_project_spark.streaming import jobs

    registry.load()
    src = str(tmp_path / "emb_ordered")
    emb = tables.load(spark, SF_SMOKE, "embeddings").select(
        "vec_id", "embedding"
    )
    emb.repartitionByRange(3, "vec_id").write.mode("overwrite").parquet(src)
    parts = sorted(glob.glob(os.path.join(src, "part-*")))
    for i, f in enumerate(parts):
        os.utime(f, (1_700_000_000 + i * 10, 1_700_000_000 + i * 10))
    stream = (
        spark.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    st = jobs.embedding_dedup_stream(stream)
    q = (
        st.writeStream.outputMode("update")
        .format("memory")
        .queryName("emb_dedup")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {
        (r["vec1"], r["vec2"], r["cos_u"])
        for r in spark.table("emb_dedup").collect()
    }
    want = {
        (r["vec1"], r["vec2"], r["cos_u"])
        for r in registry.QUERIES["embed_signbucket_neardup"](
            spark, SF_SMOKE
        ).collect()
    }
    assert got == want
    assert len(want) > 0


def test_minhash_dedup_stream_survives_restart(spark, tmp_path):
    """State RECOVERY, not just state: the minhash dedup stream runs to
    completion on part of the corpus, the query STOPS, more documents
    arrive, and a restarted query (same checkpoint) must produce
    exactly the missing pairs — which requires the per-bucket prior
    sets to come back from the STATE STORE, not from memory. Sink is a
    checkpointed parquet file sink (append mode — the memory sink
    cannot recover from a checkpoint); union of both runs' emissions ==
    the batch query, with zero re-emission."""
    import glob
    import os
    import shutil

    from weather_bigdata_project_spark import registry, tables
    from weather_bigdata_project_spark.streaming import jobs

    registry.load()
    stage = str(tmp_path / "stage")
    src = str(tmp_path / "docs_incremental")
    ck = str(tmp_path / "ck")
    out = str(tmp_path / "pairs_out")
    os.makedirs(src, exist_ok=True)
    docs = tables.load(spark, SF_SMOKE, "documents").select("doc_id", "text")
    docs.repartitionByRange(3, "doc_id").write.mode("overwrite").parquet(
        stage
    )
    parts = sorted(glob.glob(os.path.join(stage, "part-*")))
    assert len(parts) == 3
    schema = docs.schema

    def run():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        q = (
            jobs.minhash_dedup_stream(stream, output_mode="append")
            .writeStream.outputMode("append")
            .format("parquet")
            .option("path", out)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        return {
            (r["doc1"], r["doc2"], r["jaccard"])
            for r in spark.read.parquet(out).collect()
        }

    # run 1: first two thirds of the corpus, then the query STOPS
    shutil.copy(parts[0], os.path.join(src, "f0.parquet"))
    shutil.copy(parts[1], os.path.join(src, "f1.parquet"))
    first = run()
    # the corpus grows while no query is running
    shutil.copy(parts[2], os.path.join(src, "f2.parquet"))
    cumulative = run()
    second = cumulative - first

    want = {
        (r["doc1"], r["doc2"], r["jaccard"])
        for r in registry.QUERIES["dedup_minhash_lsh"](
            spark, SF_SMOKE
        ).collect()
    }
    assert cumulative == want
    # run 2 contributed pairs REQUIRING recovered state: one side of the
    # pair arrived before the restart
    max_run1 = max(
        r["doc_id"]
        for r in spark.read.parquet(
            os.path.join(src, "f0.parquet"),
            os.path.join(src, "f1.parquet"),
        ).collect()
    )
    assert any(d1 <= max_run1 < d2 for d1, d2, _ in second)
    # no replay across restarts: a third run with nothing pending must
    # emit zero new rows (raw row count includes legitimate cross-band
    # duplicates of the same pair, so count rows, not distinct pairs)
    n2 = spark.read.parquet(out).count()
    run()
    assert spark.read.parquet(out).count() == n2


def test_minhash_dedup_stream_bucket_cap(spark, tmp_path):
    """max_bucket bounds hot-bucket state deterministically: capped at 1
    prior per bucket, each arrival can only pair with its bucket's
    single newest predecessor — output must be a SUBSET of the uncapped
    (== batch) pair set, smaller when clusters exceed the cap, and every
    pair must involve consecutive members of its cluster (drop-oldest
    keeps the newest)."""
    import glob
    import os

    from weather_bigdata_project_spark import registry, tables
    from weather_bigdata_project_spark.streaming import jobs

    registry.load()
    src = str(tmp_path / "docs_cap")
    docs = tables.load(spark, SF_SMOKE, "documents").select("doc_id", "text")
    docs.repartitionByRange(3, "doc_id").write.mode("overwrite").parquet(src)
    for i, f in enumerate(sorted(glob.glob(os.path.join(src, "part-*")))):
        os.utime(f, (1_700_000_000 + i * 10, 1_700_000_000 + i * 10))
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    st = jobs.minhash_dedup_stream(stream, max_bucket=1)
    q = (
        st.writeStream.outputMode("update")
        .format("memory")
        .queryName("mh_capped")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {
        (r["doc1"], r["doc2"], r["jaccard"])
        for r in spark.table("mh_capped").collect()
    }
    want = {
        (r["doc1"], r["doc2"], r["jaccard"])
        for r in registry.QUERIES["dedup_minhash_lsh"](
            spark, SF_SMOKE
        ).collect()
    }
    assert got <= want          # never invents pairs
    assert len(got) > 0         # still detects within the horizon
    assert len(got) < len(want)  # the cap actually bit (clusters > 1+1)


def test_step_spike_qc_stream_equals_batch_twin(spark, tmp_path):
    """Streaming step/spike QC drained over a time-ordered multi-batch
    replay must equal the batch lag/lead judgment exactly — per-city
    (prev, pending) state survives micro-batch boundaries, and the
    emitted set is precisely the readings with a successor (the batch
    twin's lead IS NOT NULL rows)."""
    import glob
    import os
    import shutil

    from pyspark.sql import Window
    from pyspark.sql import types as Ty

    src = str(tmp_path / "wire_ranged")
    w = wd.wire_frame(spark, SF_SMOKE)
    # four time-range files; pinned mtimes make the file source replay
    # them in event-time order (same recipe as the transition test)
    (
        w.withColumn("_t", F.expr("CAST(timestamp AS BIGINT)"))
        .repartitionByRange(4, "_t")
        .drop("_t")
        .write.mode("overwrite")
        .json(src)
    )
    for i, f in enumerate(sorted(glob.glob(os.path.join(src, "part-*")))):
        os.utime(f, (1_700_000_000 + i * 10, 1_700_000_000 + i * 10))
    schema = Ty.StructType(
        [Ty.StructField(n, Ty.StringType()) for n in wd.wire_wide_sql("é")]
        + [Ty.StructField("event_id", Ty.LongType())]
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .json(src)
    )
    st = jobs.step_spike_qc_stream(jobs.enriched_stream(stream))
    q = (
        st.writeStream.outputMode("update")
        .format("memory")
        .queryName("stepspike")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.table("stepspike").select(
        "city_name", "event_id", "temperature", "is_step", "is_spike"
    )

    e = wd.enriched_frame(spark, SF_SMOKE)
    win = Window.partitionBy("city_name").orderBy("timestamp_dt", "event_id")
    t = 30.0
    r = (
        e.filter(F.col("temperature").isNotNull())
        .select(
            "city_name",
            "event_id",
            F.col("temperature").alias("t"),
            F.lag("temperature").over(win).alias("pv"),
            F.lead("temperature").over(win).alias("nx"),
        )
        .filter(F.col("nx").isNotNull())
    )
    want = r.select(
        "city_name",
        "event_id",
        F.col("t").alias("temperature"),
        F.expr(f"pv IS NOT NULL AND ABS(t - pv) > {t}").alias("is_step"),
        F.expr(
            f"pv IS NOT NULL AND ABS(t - pv) > {t} AND ABS(t - nx) > {t} "
            "AND (t - pv) * (t - nx) > 0"
        ).alias("is_spike"),
    )
    assert got.count() == want.count() > 0
    assert got.subtract(want).count() == 0
    assert want.subtract(got).count() == 0
    # flags must actually fire on this corpus (non-vacuous equivalence)
    assert got.filter("is_step").count() > 0
    shutil.rmtree(src, ignore_errors=True)


def test_heavy_hitters_stream_guarantee(spark, tmp_path):
    """Misra-Gries frequent-items stream: after a multi-batch drain, the
    per-bucket summaries must satisfy the sketch's guarantee against
    exact counts — underestimate-only, error <= N_bucket/(k+1), and NO
    false negatives among items above the bound (the reason the sketch
    is usable at all). The estimate values themselves are
    summary-merge-order dependent by nature, so the GUARANTEE is the
    contract, exactly like the HLL bounds query."""
    import glob
    import os
    import shutil

    from weather_bigdata_project_spark import tables

    K, B = 8, 4
    src = str(tmp_path / "events_hh")
    ev = tables.load(spark, SF_SMOKE, "events")
    ev.repartitionByRange(4, "ts", "event_id").write.mode(
        "overwrite"
    ).parquet(src)
    for i, f in enumerate(sorted(glob.glob(os.path.join(src, "part-*")))):
        os.utime(f, (1_700_000_000 + i * 10, 1_700_000_000 + i * 10))
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    st = jobs.heavy_hitters_stream(stream, k=K, buckets=B)
    q = (
        st.writeStream.outputMode("update")
        .format("memory")
        .queryName("hh")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    emitted = spark.table("hh").collect()
    final_n = {}
    for r in emitted:
        final_n[r.bucket] = max(final_n.get(r.bucket, 0), r.n_processed)
    summary = {
        (r.bucket, r.item): r.est
        for r in emitted
        if r.n_processed == final_n[r.bucket]
    }
    assert summary, "stream emitted nothing"

    true = {
        (int(r.user_id) % B, int(r.user_id)): r.c
        for r in ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()
    }
    n_bucket = {}
    for (b, _), c in true.items():
        n_bucket[b] = n_bucket.get(b, 0) + c
    assert sum(n_bucket.values()) == sum(final_n.values()) == ev.count()

    for (b, item), est in summary.items():
        t = true.get((b, item), 0)
        assert 0 < est <= t, (b, item, est, t)
        assert t - est <= n_bucket[b] / (K + 1), (b, item, est, t)
    # completeness: every true heavy hitter above its bucket's bound
    # must be present in that bucket's summary
    for (b, item), t in true.items():
        if t > n_bucket[b] / (K + 1):
            assert (b, item) in summary, (b, item, t)
    shutil.rmtree(src, ignore_errors=True)


def test_heavy_hitters_stream_finds_hot_key(spark, tmp_path):
    """Non-vacuous sketch audit: on a deliberately skewed stream (one
    user is ~30% of all events), the hot key MUST survive every
    summary-merge round and its estimate must sit within the
    N_bucket/(k+1) band below its true count."""
    import glob
    import os
    import shutil

    K, B = 8, 4
    src = str(tmp_path / "events_skew")
    hot = spark.range(600).selectExpr(
        "id AS event_id",
        "timestamp_micros(CAST(1700000000000000 + id * 1000000 AS BIGINT)) AS ts",
        "CAST(7 AS BIGINT) AS user_id",
        "'view' AS event_type",
        "1.0e0 AS value",
        "'{}' AS props",
    )
    cold = spark.range(600, 2000).selectExpr(
        "id AS event_id",
        "timestamp_micros(CAST(1700000000000000 + id * 1000000 AS BIGINT)) AS ts",
        "CAST(100 + id % 100 AS BIGINT) AS user_id",
        "'view' AS event_type",
        "1.0e0 AS value",
        "'{}' AS props",
    )
    df = hot.unionByName(cold)
    df.repartitionByRange(4, "ts", "event_id").write.mode(
        "overwrite"
    ).parquet(src)
    for i, f in enumerate(sorted(glob.glob(os.path.join(src, "part-*")))):
        os.utime(f, (1_700_000_000 + i * 10, 1_700_000_000 + i * 10))
    stream = (
        spark.readStream.schema(df.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    st = jobs.heavy_hitters_stream(stream, k=K, buckets=B)
    q = (
        st.writeStream.outputMode("update")
        .format("memory")
        .queryName("hh_skew")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    emitted = spark.table("hh_skew").collect()
    final_n = {}
    for r in emitted:
        final_n[r.bucket] = max(final_n.get(r.bucket, 0), r.n_processed)
    summary = {
        (r.bucket, r.item): r.est
        for r in emitted
        if r.n_processed == final_n[r.bucket]
    }
    hot_bucket = 7 % B
    n_b = final_n[hot_bucket]
    true_hot = 600
    # the hot key is a TRUE heavy hitter of its bucket: must be present
    assert true_hot > n_b / (K + 1)
    assert (hot_bucket, 7) in summary
    est = summary[(hot_bucket, 7)]
    assert 0 < est <= true_hot
    assert true_hot - est <= n_b / (K + 1)
    shutil.rmtree(src, ignore_errors=True)


def test_contamination_stream_equals_batch(spark, tmp_path):
    """Streaming contamination audit: over a 3-micro-batch replay of the
    TRAINING docs (benchmark side static), the drained output must
    EQUAL the batch contamination_ngram_overlap rows bit-for-bit —
    same shingle hashes, same counts, same rounded hit_frac. The
    operator is state-free, so equality must hold for ANY batch split;
    three triggers prove the audit runs at ingest."""
    from pyspark.sql import functions as F

    from weather_bigdata_project_spark import registry, tables
    from weather_bigdata_project_spark.queries.curation import _BENCH_SOURCE
    from weather_bigdata_project_spark.streaming import jobs

    registry.load()
    docs = tables.load(spark, SF_SMOKE, "documents")
    train = docs.filter(F.col("source") != _BENCH_SOURCE).select(
        "doc_id", "text"
    )
    bench = docs.filter(F.col("source") == _BENCH_SOURCE).select("text")

    src = str(tmp_path / "train_docs")
    train.repartitionByRange(3, "doc_id").write.mode("overwrite").parquet(
        src
    )
    import glob
    import os

    parts = sorted(glob.glob(os.path.join(src, "part-*")))
    assert len(parts) == 3
    for i, f in enumerate(parts):
        os.utime(f, (1_700_000_000 + i * 10, 1_700_000_000 + i * 10))
    stream = (
        spark.readStream.schema(train.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    st = jobs.contamination_stream(stream, bench)
    q = (
        st.writeStream.outputMode("append")
        .format("memory")
        .queryName("contam_stream")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    batches = {
        r[0]
        for r in spark.sql(
            "SELECT DISTINCT doc_id FROM contam_stream"
        ).collect()
    }
    got = {
        (r["doc_id"], r["n_sh"], r["n_hits"], r["hit_frac"])
        for r in spark.table("contam_stream").collect()
    }
    want = {
        (r["doc_id"], r["n_sh"], r["n_hits"], r["hit_frac"])
        for r in registry.QUERIES["contamination_ngram_overlap"](
            spark, SF_SMOKE
        ).collect()
    }
    assert got == want and got  # bit-equal, and non-trivial
    assert batches == {r[0] for r in got}  # every contaminated doc once


def test_gopher_filter_stream_equals_batch(spark, tmp_path):
    """Streaming Gopher filter: over a 3-micro-batch replay of the doc
    corpus, the drained per-doc rule verdicts must EQUAL the batch
    labeling bit-for-bit — same four flags, same keep decision, every
    doc exactly once. The operator is state-free (the same in-row
    gopher_flags_sql expression as corpus_gopher_rules), so equality
    must hold for ANY batch split; three triggers prove quality
    filtering runs at ingest. The stream's per-source drop counts must
    also reproduce the committed batch battery's n_fail_any."""
    from pyspark.sql import functions as F

    from weather_bigdata_project_spark import registry, tables
    from weather_bigdata_project_spark.queries.curation import (
        gopher_flags_sql,
    )
    from weather_bigdata_project_spark.streaming import jobs

    registry.load()
    docs = tables.load(spark, SF_SMOKE, "documents").select(
        "doc_id", "source", "text"
    )
    src = str(tmp_path / "crawl_docs")
    docs.repartitionByRange(3, "doc_id").write.mode("overwrite").parquet(
        src
    )
    import glob
    import os

    parts = sorted(glob.glob(os.path.join(src, "part-*")))
    assert len(parts) == 3
    for i, f in enumerate(parts):
        os.utime(f, (1_700_000_000 + i * 10, 1_700_000_000 + i * 10))
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    st = jobs.gopher_filter_stream(stream)
    q = (
        st.writeStream.outputMode("append")
        .format("memory")
        .queryName("gopher_stream")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    key = ("doc_id", "source", "f_wc", "f_wl", "f_sw", "f_tt", "keep")
    got = {
        tuple(r[k] for k in key)
        for r in spark.table("gopher_stream").collect()
    }
    want = {
        tuple(r[k] for k in key)
        for r in docs.select(
            "doc_id", "source", F.inline(F.expr(gopher_flags_sql()))
        )
        .withColumn("keep", F.expr("NOT (f_wc OR f_wl OR f_sw OR f_tt)"))
        .collect()
    }
    assert got == want and got  # bit-equal labeling, non-trivial
    assert len(got) == docs.count()  # every doc labeled exactly once
    # drop counts reproduce the oracle-gated batch battery
    drops = {
        (r["source"], r["n_fail_any"])
        for r in registry.QUERIES["corpus_gopher_rules"](
            spark, SF_SMOKE
        ).collect()
    }
    stream_drops = {
        (s, sum(1 for row in got if row[1] == s and not row[6]))
        for s in {row[1] for row in got}
    }
    assert stream_drops == drops


def test_protobuf_discovery_contract():
    """Pins the vendored-protobuf discovery contract behind the
    transformWithStateInPandas unblock (conftest._arrange_protobuf):
    the google-cloud-sdk appengine tree is the only protobuf runtime
    in this container, so if that tree EXISTS, discovery must have
    wired it (a silent wiring regression would demote the TWS test
    from green to skip without anyone noticing), and when it runs from
    the vendored tree the official version-check escape hatch must be
    set (pyspark's gencode is one minor ahead of the 6.32 runtime).
    If the tree vanishes and no other protobuf exists, the TWS test
    degrades to its explicit importorskip with the stated reason —
    this test then documents that state instead of erroring."""
    import sys

    gae = "/usr/lib/google-cloud-sdk/platform/google_appengine"
    vendored = os.path.isdir(os.path.join(gae, "google", "protobuf"))
    try:
        import google.protobuf as gp

        importable = True
    except ImportError:
        importable = False

    if not vendored and not importable:
        pytest.skip(
            "no protobuf runtime on this container (vendored tree "
            "gone): transformWithStateInPandas tests importorskip "
            "with their stated reason — expected degraded mode"
        )
    assert importable, (
        f"vendored protobuf tree exists at {gae} but "
        "conftest._arrange_protobuf did not make google.protobuf "
        "importable — the discovery wiring regressed; "
        "transformWithStateInPandas coverage silently died"
    )
    if vendored and gp.__file__ and gp.__file__.startswith(gae):
        assert gae in sys.path
        assert gae in os.environ.get("PYTHONPATH", ""), (
            "the JVM-spawned state-server worker inherits PYTHONPATH; "
            "without the vendored tree on it the REAL transport test "
            "fails at runtime"
        )
        assert (
            os.environ.get("TEMPORARILY_DISABLE_PROTOBUF_VERSION_CHECK")
            == "true"
        ), (
            "version-check escape hatch unset: protobuf 6.32 runtime "
            "refuses pyspark's 6.33 gencode at import time"
        )


def test_crawl_extract_stream_equals_batch(spark, tmp_path):
    """Streaming crawl front door: over a 3-micro-batch replay of the
    doc corpus, the drained WARC->HTTP->HTML extraction stats must
    EQUAL the batch corpus_crawl_extract_stats result bit-for-bit —
    every doc exactly once, same record counts, same recovered token
    and char stats. The operator is state-free (same synthesis
    expressions, same Arrow stage), so equality must hold for ANY
    batch split; three triggers prove the parsers run at ingest."""
    import glob

    from weather_bigdata_project_spark import registry, tables
    from weather_bigdata_project_spark.streaming import jobs

    registry.load()
    docs = tables.load(spark, SF_SMOKE, "documents").select(
        "doc_id", "lang", "text"
    )
    src = str(tmp_path / "crawl_captures")
    docs.repartitionByRange(3, "doc_id").write.mode("overwrite").parquet(
        src
    )
    parts = sorted(glob.glob(os.path.join(src, "part-*")))
    assert len(parts) == 3
    for i, f in enumerate(parts):
        os.utime(f, (1_700_000_000 + i * 10, 1_700_000_000 + i * 10))
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    st = jobs.crawl_extract_stream(stream)
    q = (
        st.writeStream.outputMode("append")
        .format("memory")
        .queryName("crawl_stream")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    key = (
        "doc_id", "n_records", "content_length", "n_tags",
        "n_tokens", "n_chars",
    )
    got = {
        tuple(r[k] for k in key)
        for r in spark.table("crawl_stream").collect()
    }
    want = {
        tuple(r[k] for k in key)
        for r in registry.QUERIES["corpus_crawl_extract_stats"](
            spark, SF_SMOKE
        ).collect()
    }
    assert got == want and got
    assert len(got) == docs.filter("length(text) >= 1").count()


def test_span_corruption_stream_equals_batch(spark, tmp_path):
    """Streaming span corruption: over a 3-micro-batch replay of the
    doc corpus, the drained sentinel-masked examples must EQUAL the
    batch corpus_span_corruption result bit-for-bit — every doc
    exactly once, identical inputs/targets strings (the id_mix draws
    are keyed by (doc_id, window), so no replay split can change a
    mask). State-free by construction; three triggers prove the
    masking runs at ingest."""
    import glob

    from weather_bigdata_project_spark import registry, tables
    from weather_bigdata_project_spark.streaming import jobs

    registry.load()
    docs = tables.load(spark, SF_SMOKE, "documents").select(
        "doc_id", "text"
    )
    src = str(tmp_path / "curated_docs")
    docs.repartitionByRange(3, "doc_id").write.mode("overwrite").parquet(
        src
    )
    parts = sorted(glob.glob(os.path.join(src, "part-*")))
    assert len(parts) == 3
    for i, f in enumerate(parts):
        os.utime(f, (1_700_000_000 + i * 10, 1_700_000_000 + i * 10))
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    st = jobs.span_corruption_stream(stream)
    q = (
        st.writeStream.outputMode("append")
        .format("memory")
        .queryName("span_corruption_stream")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    key = (
        "doc_id", "n_tokens", "n_windows", "n_masked", "inputs",
        "targets",
    )
    got = {
        tuple(r[k] for k in key)
        for r in spark.table("span_corruption_stream").collect()
    }
    want = {
        tuple(r[k] for k in key)
        for r in registry.QUERIES["corpus_span_corruption"](
            spark, SF_SMOKE
        ).collect()
    }
    assert got == want and len(got) == docs.count()


def test_cdc_chunk_stream_equals_batch(spark, tmp_path):
    """Streaming CDC chunking: over a 3-micro-batch replay of the doc
    corpus, the drained (doc_id, ch_id, ch_toks) chunk rows must EQUAL
    the batch chunk frame bit-for-bit — chunk boundaries are a pure
    function of local content (the LBFS window-hash expression), so no
    replay split can move one. The multiset compare (counted tuples)
    also proves no chunk is emitted twice or dropped."""
    import glob
    from collections import Counter

    from weather_bigdata_project_spark import tables
    from weather_bigdata_project_spark.queries.dedup import (
        cdc_chunk_frame,
    )
    from weather_bigdata_project_spark.streaming import jobs

    docs = tables.load(spark, SF_SMOKE, "documents").select(
        "doc_id", "text"
    )
    src = str(tmp_path / "cdc_docs")
    docs.repartitionByRange(3, "doc_id").write.mode("overwrite").parquet(
        src
    )
    parts = sorted(glob.glob(os.path.join(src, "part-*")))
    assert len(parts) == 3
    for i, f in enumerate(parts):
        os.utime(f, (1_700_000_000 + i * 10, 1_700_000_000 + i * 10))
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    st = jobs.cdc_chunk_stream(stream)
    q = (
        st.writeStream.outputMode("append")
        .format("memory")
        .queryName("cdc_chunk_stream")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = Counter(
        (r.doc_id, r.ch_id, r.ch_toks)
        for r in spark.table("cdc_chunk_stream").collect()
    )
    want = Counter(
        (r.doc_id, r.ch_id, r.ch_toks)
        for r in cdc_chunk_frame(docs).collect()
    )
    assert got == want and len(got) > 0


def test_sitemap_stream_equals_batch(spark, tmp_path):
    """Streaming sitemap parse: over a 3-micro-batch replay of the doc
    corpus, the drained per-doc discovery rows must EQUAL the batch
    query bit-for-bit — the parse is a pure function of each row, so
    no replay split can change a field. Multiset compare proves no doc
    is parsed twice or dropped."""
    import glob
    from collections import Counter

    from weather_bigdata_project_spark import registry, tables
    from weather_bigdata_project_spark.streaming import jobs

    registry.load()
    docs = tables.load(spark, SF_SMOKE, "documents").select(
        "doc_id", "text"
    )
    src = str(tmp_path / "sm_docs")
    docs.repartitionByRange(3, "doc_id").write.mode("overwrite").parquet(
        src
    )
    parts = sorted(glob.glob(os.path.join(src, "part-*")))
    assert len(parts) == 3
    for i, f in enumerate(parts):
        os.utime(f, (1_700_000_000 + i * 10, 1_700_000_000 + i * 10))
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    st = jobs.sitemap_stream(stream)
    q = (
        st.writeStream.outputMode("append")
        .format("memory")
        .queryName("sitemap_stream")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    key = lambda r: (  # noqa: E731
        r.doc_id, r.kind, r.n_urls, r.n_nested, r.locs_len,
        r.pr_sum_milli, r.n_daily, r.max_lastmod,
    )
    got = Counter(key(r) for r in spark.table("sitemap_stream").collect())
    want = Counter(
        key(r)
        for r in registry.QUERIES["corpus_sitemap_xml"](
            spark, SF_SMOKE
        ).collect()
    )
    assert got == want and len(got) > 0


def test_tokenize_stream_equals_batch(spark, tmp_path):
    """Streaming Viterbi tokenization: train the vocab batch-side,
    ship it as a literal map, drain a 3-micro-batch replay — the
    per-doc (token counts, fertility, NLL) rows must EQUAL the batch
    query bit-for-bit, proving the substring-keyed constant-map lookup
    carries exactly the per-word cost map the batch DP builds."""
    import glob
    from collections import Counter

    from weather_bigdata_project_spark import registry, tables
    from weather_bigdata_project_spark.queries.text import uv_vocab_rows
    from weather_bigdata_project_spark.streaming import jobs

    registry.load()
    vocab = uv_vocab_rows(spark, SF_SMOKE)
    assert 0 < len(vocab) <= 256 + 128  # V + alphabet bound
    docs = tables.load(spark, SF_SMOKE, "documents").select(
        "doc_id", "text"
    )
    src = str(tmp_path / "tok_docs")
    docs.repartitionByRange(3, "doc_id").write.mode("overwrite").parquet(
        src
    )
    parts = sorted(glob.glob(os.path.join(src, "part-*")))
    assert len(parts) == 3
    for i, f in enumerate(parts):
        os.utime(f, (1_700_000_000 + i * 10, 1_700_000_000 + i * 10))
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    st = jobs.tokenize_stream(stream, vocab)
    q = (
        st.writeStream.outputMode("append")
        .format("memory")
        .queryName("tokenize_stream")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    key = lambda r: (  # noqa: E731
        r.doc_id, r.n_ws_tokens, r.n_pieces, r.nll_units,
        r.fertility, r.nats_per_piece,
    )
    got = Counter(key(r) for r in spark.table("tokenize_stream").collect())
    want = Counter(
        key(r)
        for r in registry.QUERIES["text_unigram_viterbi"](
            spark, SF_SMOKE
        ).collect()
    )
    assert got == want and len(got) > 0


def test_nfc_stream_equals_batch(spark, tmp_path):
    """Streaming NFC normalization: over a 3-micro-batch replay of the
    doc corpus, the drained audit rows (code-point counts, changed
    flag, normalized md5) must EQUAL the batch frame bit-for-bit —
    normalization is a pure per-row function, so no replay split can
    change a row. Multiset compare proves nothing is dropped or
    doubled."""
    import glob
    from collections import Counter

    from weather_bigdata_project_spark import tables
    from weather_bigdata_project_spark.operators import textops as T
    from weather_bigdata_project_spark.streaming import jobs

    docs = tables.load(spark, SF_SMOKE, "documents").select(
        "doc_id", "text"
    )
    src = str(tmp_path / "nfc_docs")
    docs.repartitionByRange(3, "doc_id").write.mode("overwrite").parquet(
        src
    )
    parts = sorted(glob.glob(os.path.join(src, "part-*")))
    assert len(parts) == 3
    for i, f in enumerate(parts):
        os.utime(f, (1_700_000_000 + i * 10, 1_700_000_000 + i * 10))
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    st = jobs.nfc_normalize_stream(stream)
    q = (
        st.writeStream.outputMode("append")
        .format("memory")
        .queryName("nfc_stream")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = Counter(
        (r.doc_id, r.n_cp_before, r.n_cp_after, r.changed, r.norm_md5)
        for r in spark.table("nfc_stream").collect()
    )
    want = Counter(
        (r.doc_id, r.n_cp_before, r.n_cp_after, r.changed, r.norm_md5)
        for r in T.nfc_audit(docs).collect()
    )
    assert got == want and len(got) > 0
