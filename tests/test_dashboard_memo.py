"""The dashboard's enriched-frame memo and pin (queries/analytics._enr ->
weather_domain.pinned_frame): one plan per events.parquet snapshot, one
pinned narrow projection serving every panel. A stale memo or pin is a
correctness bug, so every test here compares panels with their DuckDB
oracles over the file as it is on disk at that moment."""

from __future__ import annotations

import os
import threading

import pyarrow.parquet as pq
import pytest

from tests.conftest import SF_SMOKE
from tools.check_oracle import compare, duck_connect
from weather_bigdata_project_spark import tables
from weather_bigdata_project_spark import weather_domain as wd
from weather_bigdata_project_spark.queries import analytics
from weather_bigdata_project_spark.registry import ORACLES, QUERIES

PANELS = ["weather_city_stats", "weather_global_stats"]


def _write_events(sf_dir: str, rows: slice) -> None:
    events = pq.read_table(f"{SF_SMOKE}/events.parquet")
    idx = range(events.num_rows)[rows]
    pq.write_table(events.slice(idx.start, len(idx)), f"{sf_dir}/events.parquet")


@pytest.fixture
def lake(tmp_path):
    """A private copy of the smoke fixture whose events.parquet the test
    may rewrite; the other tables are links (the oracle binds them all)."""
    for t in tables.TABLES:
        if t != "events":
            os.symlink(f"{SF_SMOKE}/{t}.parquet", tmp_path / f"{t}.parquet")
    _write_events(str(tmp_path), slice(0, 600))
    return str(tmp_path)


def _assert_panels_match(spark, sf_dir: str) -> None:
    con = duck_connect(sf_dir)
    try:
        for name in PANELS:
            got = compare(name, QUERIES[name](spark, sf_dir), ORACLES[name], con)
            assert got == [], (name, got)
    finally:
        con.close()


def _next_rdd_id(spark) -> int:
    return spark.sparkContext.emptyRDD().id()


def _pinned_since(spark, first_id: int) -> int:
    """Persisted RDDs created at or after `first_id` still in the cache."""
    ids = spark.sparkContext._jsc.getPersistentRDDs().keySet()
    return sum(1 for i in ids if i >= first_id)


def test_rewritten_events_are_never_served_stale(spark, lake):
    """(a) After events.parquet is rewritten with different rows, the
    panels match their oracles over the NEW file, and the old pin is
    gone from the cache. (The old pin's storageLevel cannot tell: the
    cache matches plans by file path, so it reports the new pin's.)"""
    first_id = _next_rdd_id(spark)
    _assert_panels_match(spark, lake)
    old = analytics._enr(spark, lake)
    old_plan = wd.enriched_frame(spark, lake)
    assert _pinned_since(spark, first_id) == 1

    _write_events(lake, slice(300, 1000))  # overlapping, different rows
    _assert_panels_match(spark, lake)
    assert wd.enriched_frame(spark, lake) is not old_plan
    assert analytics._enr(spark, lake) is not old
    assert analytics._enr(spark, lake).count() == 700
    assert _pinned_since(spark, first_id) == 1


def test_table_plans_follow_a_rewritten_file(spark, lake):
    """tables.load serves its memoized plan only while the file is the
    one it listed: the plan carries the old file lengths."""
    old = tables.load(spark, lake, "events")
    assert tables.load(spark, lake, "events") is old
    _write_events(lake, slice(0, 10))
    new = tables.load(spark, lake, "events")
    assert new is not old
    assert new.count() == 10


def test_persisted_frames_follow_a_rewritten_file(spark, lake):
    """A frame some query materialize()d over events.parquet is not
    served for a rewritten file: the cache matches plans by path, so a
    fresh query with the same plan would otherwise read the old rows."""
    from pyspark.sql import functions as F

    from weather_bigdata_project_spark.operators.textops import materialize

    def per_type():
        return tables.load(spark, lake, "events").groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n"), F.max("event_id").alias("hi")
        )

    old = materialize(per_type())
    old.count()
    try:
        _write_events(lake, slice(300, 1000))
        con = duck_connect(lake)
        try:
            got = compare(
                "per_type", per_type(),
                "SELECT event_type, COUNT(*) AS n, MAX(event_id) AS hi "
                "FROM events GROUP BY event_type", con,
            )
        finally:
            con.close()
        assert got == [], got
    finally:
        old.unpersist()


def test_panels_repin_after_clear_cache(spark):
    """(b) `spark.catalog.clearCache()` (run between queries by the
    benchmark suite) drops the pin; the next panel pins it again and
    still matches its oracle."""
    pin = analytics._enr(spark, SF_SMOKE)
    pin.count()
    spark.catalog.clearCache()
    assert not pin.storageLevel.useMemory
    _assert_panels_match(spark, SF_SMOKE)
    assert analytics._enr(spark, SF_SMOKE).storageLevel.useMemory


def test_concurrent_cold_memo_pins_once(spark, lake):
    """(c) Two clients hitting a cold memo at once both get correct
    panels and leave exactly one pinned relation behind."""
    first_id = _next_rdd_id(spark)
    start = threading.Barrier(2)
    got, errors = {}, []

    def client(cid: int) -> None:
        try:
            start.wait()
            got[cid] = analytics._enr(spark, lake)
            QUERIES[PANELS[cid]](spark, lake).collect()
        except Exception as e:  # noqa: BLE001 - reported below
            errors.append(e)

    threads = [threading.Thread(target=client, args=(c,)) for c in (0, 1)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors, errors
    assert got[0] is got[1]
    assert _pinned_since(spark, first_id) == 1
    _assert_panels_match(spark, lake)
    assert _pinned_since(spark, first_id) == 1


def test_memos_keep_only_the_live_session(spark):
    """Entries of a session that is gone are dropped on the next build,
    so neither memo grows by one entry per session forever."""
    tables._CACHE[("dead-app", SF_SMOKE, "events")] = (None, None)
    wd._ENRICHED[("dead-app", SF_SMOKE)] = None
    tables.load(spark, f"{SF_SMOKE}/", "events")  # a new key: a build
    wd.enriched_frame(spark, f"{SF_SMOKE}/")
    assert all(k[0] != "dead-app" for k in tables._CACHE)
    assert all(k[0] != "dead-app" for k in wd._ENRICHED)
