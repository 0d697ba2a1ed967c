"""Self-tests of the benchmark's seeded input generators.

Run from the repository root: ``python3 -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import collections
import json
import os
import sys

import numpy as np
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(0, os.path.dirname(os.path.dirname(HERE)))

import gen  # noqa: E402

WIRE_COLUMNS = {
    "date", "weather_description", "latitude", "pression", "humidité",
    "feels_like", "city_name", "local_time", "min_temp", "wind_speed",
    "température", "max_temp", "timestamp", "longitude",
}


def test_wire_lines_are_seeded_json_in_the_wire_schema():
    a = gen.wire_lines(5, 2000)
    assert a == gen.wire_lines(5, 2000)
    assert a != gen.wire_lines(6, 2000)
    recs = [json.loads(line) for line in a]
    for r in recs:
        assert set(r) == WIRE_COLUMNS | {"event_id"}
        assert all(isinstance(r[c], str) for c in WIRE_COLUMNS)
    assert [r["event_id"] for r in recs] == list(range(2000))


def test_wire_dirty_share_and_city_skew():
    recs = [json.loads(line) for line in gen.wire_lines(7, 20_000)]
    dirty = sum(r["température"] == "N/A" for r in recs) / len(recs)
    assert 0.005 < dirty < 0.015
    counts = collections.Counter(r["city_name"] for r in recs)
    share = [counts[c] / len(recs) for c in gen.CITIES]
    expect = gen.zipf_probs(len(gen.CITIES))
    assert np.allclose(share, expect, atol=0.02)
    assert share[0] > 3 * share[-1]


def test_wire_files_split_records_without_overlap():
    bodies = gen.wire_file_texts(3, 4, 50)
    ids = [json.loads(line)["event_id"]
           for b in bodies for line in b.splitlines()]
    assert len(bodies) == 4 and sorted(ids) == list(range(200))


def test_events_parquet_has_nanosecond_ts_and_zipf_users(tmp_path):
    path = str(tmp_path / "events.parquet")
    gen.write_events(9, path, 5000)
    t = pq.read_table(path)
    assert str(t.schema.field("ts").type) == "timestamp[ns]"
    assert t.column_names == [
        "event_id", "ts", "user_id", "event_type", "value", "props",
    ]
    users = collections.Counter(t.column("user_id").to_pylist())
    assert users.most_common(1)[0][0] == 0


@pytest.fixture(scope="module")
def spark():
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "1g")
    from weather_bigdata_project_spark.session import get_spark

    s = get_spark("perfbench-tests", cpus=1)
    yield s
    s.stop()


def test_wire_loads_under_the_stream_schema_and_hits_every_branch(spark, tmp_path):
    from pyspark.sql import functions as F
    from weather_bigdata_project_spark import weather_domain as wd
    from weather_bigdata_project_spark.streaming import jobs

    wire = str(tmp_path / "wire")
    gen.write_backlog(11, str(tmp_path / "staging"), wire, 4, 1000)
    schema = jobs.wire_file_stream(spark, wire).schema
    raw = spark.read.schema(schema).json(wire)
    df = wd.enrich(wd.cast_wire(raw))
    n = df.count()
    assert n == 4000
    # every column parsed: only the dirty temperatures cast to null
    assert df.filter(F.col("city_name").isNull()).count() == 0
    assert df.filter(F.col("humidity").isNull()).count() == 0
    dirty = raw.filter(F.col("température") == "N/A").count()
    assert df.filter(F.col("temperature").isNull()).count() == dirty > 0
    alerts = {r[0] for r in df.select("alert_type").distinct().collect()}
    assert alerts == {
        "NORMAL", "EXTREME_TEMPERATURE", "HIGH_WIND", "PRESSURE_ANOMALY",
    }
    cats = {r[0] for r in df.select("weather_category").distinct().collect()}
    assert cats == {
        "Clear", "Cloudy", "Rainy", "Stormy", "Snowy", "Foggy", "Other",
    }


def test_events_load_through_tables_with_the_ts_fixup(spark, tmp_path):
    from weather_bigdata_project_spark import tables

    d = str(tmp_path / "sf")
    os.makedirs(d)
    gen.write_events(13, f"{d}/events.parquet", 1000)
    df = tables.load(spark, d, "events")
    assert dict(df.dtypes)["ts"] == "timestamp_ntz"
    want = pq.read_table(f"{d}/events.parquet").column("ts").cast(
        "int64").to_pylist()
    got = [r[0] for r in df.selectExpr(
        "unix_micros(CAST(ts AS TIMESTAMP)) AS us").orderBy("event_id").collect()]
    assert got == [ns // 1000 for ns in want]
