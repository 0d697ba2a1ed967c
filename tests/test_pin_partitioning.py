"""The dashboard pin's declared partitioning (weather_domain.pinned_frame).

A pin of one partition is declared ``SinglePartition``, so no reader of
it plans a shuffle; a pin of several partitions (the spread path) is the
bare projection, exactly as before. Every result is still compared with
its DuckDB oracle."""

from __future__ import annotations

import os
import re
import sys

import pyarrow.parquet as pq
import pytest

from tests.conftest import SF_CORRECT, SF_SMOKE
from tools.check_oracle import compare, duck_connect
from weather_bigdata_project_spark import tables
from weather_bigdata_project_spark import weather_domain as wd
from weather_bigdata_project_spark.queries import analytics
from weather_bigdata_project_spark.registry import ORACLES, QUERIES

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(__file__)), "perfbench"))
from workloads import PANELS  # noqa: E402  (the benchmark's dashboard)

ANALYTICS = sorted(n for n, f in QUERIES.items() if f.__module__ == analytics.__name__)
#: readers of the pin that must not go unchecked
READERS = {"weather_sql_city_summary", "weather_temp_equidepth", *PANELS}

#: a shuffle in an executed plan: ShuffleExchangeExec prints as
#: "Exchange", its AQE stage as "ShuffleQueryStage"; "BroadcastExchange"
#: does not match
SHUFFLE = re.compile(r"\b(Exchange|ShuffleQueryStage)\b")


def _lake(tmp_path, src: str) -> str:
    """A private directory of links to `src`'s tables: a cold memo."""
    for t in tables.TABLES:
        os.symlink(f"{src}/{t}.parquet", tmp_path / f"{t}.parquet")
    return str(tmp_path)


@pytest.fixture
def one_split(spark, tmp_path):
    """sf0.01 events rewritten in several row groups, the shape perfbench
    generates: enough row groups that the scan is not spread, yet one
    Spark split, so the pin has one partition."""
    lake = _lake(tmp_path, SF_CORRECT)
    os.unlink(tmp_path / "events.parquet")
    events = pq.read_table(f"{SF_CORRECT}/events.parquet")
    groups = max(4, spark.sparkContext.defaultParallelism)
    pq.write_table(
        events, f"{lake}/events.parquet",
        row_group_size=-(-events.num_rows // groups),
    )
    assert pq.ParquetFile(f"{lake}/events.parquet").metadata.num_row_groups >= 4
    return lake


def _pinning_jobs(spark, sf_dir: str) -> tuple[object, int]:
    """pinned_frame over a cold memo, and the Spark jobs it ran beyond
    the parquet schema inference of loading events (one job, run by
    tables.load whatever the pin does)."""
    tables.load(spark, sf_dir, "events")
    sc = spark.sparkContext
    group = f"pinned_frame {sf_dir}"
    sc.setJobGroup(group, group)
    try:
        pin = wd.pinned_frame(spark, sf_dir)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return pin, len(sc.statusTracker().getJobIdsForGroup(group))


def test_one_split_pin_is_read_without_a_shuffle(spark, one_split):
    """Every analytics query matches its oracle over a one-partition pin,
    and every one that reads the pin runs without a shuffle."""
    pin, jobs = _pinning_jobs(spark, one_split)
    assert jobs == 0
    assert pin.rdd.getNumPartitions() == 1
    readers = set()
    con = duck_connect(one_split)
    try:
        for name in ANALYTICS:
            df = QUERIES[name](spark, one_split)
            assert compare(name, df, ORACLES[name], con) == [], name
            plan = df._jdf.queryExecution().executedPlan().toString()
            if "InMemoryTableScan" in plan:
                readers.add(name)
                assert not SHUFFLE.search(plan), (name, plan)
    finally:
        con.close()
    assert READERS <= readers


def test_spread_pin_is_the_bare_projection(spark, tmp_path):
    """sf0.001 is one row group, so its scan is spread across the cores:
    the pin keeps those partitions and its plan, and pinning it runs no
    Spark job (deciding by the pin's own partition count would run the
    repartition's shuffle stage)."""
    lake = _lake(tmp_path, SF_SMOKE)
    pin, jobs = _pinning_jobs(spark, lake)
    assert jobs == 0
    bare = wd.enriched_frame(spark, lake).select(*wd.PINNED_COLUMNS)
    assert pin.sameSemantics(bare)
    assert pin.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
