"""The ingest hot path (streaming/jobs.py): wire JSON files drained by
jobs.start_ingest into the parquet lake and the JSON alerts feed,
exactly once across restarts, one byte-bounded micro-batch per round
of input splits, equal to the batch twin."""

from __future__ import annotations

import ast
import os
import shutil
import tempfile
from pathlib import Path

from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE
from weather_bigdata_project_spark import weather_domain as wd
from weather_bigdata_project_spark.streaming import jobs

ROOT = Path(__file__).resolve().parents[1]


def _same_rows(got, want) -> bool:
    """`got` and `want` hold the same rows as multisets."""
    return (
        got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0
    )


def test_incremental_resume_exactly_once(spark):
    """Checkpointed file sinks across three runs: drain half the lake,
    drain the rest, then re-run with nothing new — every wire row lands
    in the lake, and every alert in the alerts feed, exactly once;
    resume picks up only unprocessed files."""
    wire3 = tempfile.mkdtemp(prefix="wirelake_inc_")
    out = tempfile.mkdtemp(prefix="inc_out_")
    try:
        w = wd.wire_frame(spark, SF_SMOKE)
        first = w.filter(F.col("event_id") % 2 == 0)
        second = w.filter(F.col("event_id") % 2 == 1)
        first.repartition(4).write.mode("overwrite").json(wire3)
        alerts = wd.alerts_frame(spark, SF_SMOKE)

        def drain(n_lake, n_alerts):
            for q in jobs.start_ingest(spark, wire3, out):
                q.awaitTermination(120)
            for got, n in (
                (spark.read.parquet(f"{out}/lake"), n_lake),
                (spark.read.json(f"{out}/alerts"), n_alerts),
            ):
                assert got.count() == n
                assert got.select("event_id").distinct().count() == n

        drain(first.count(), alerts.filter(F.col("event_id") % 2 == 0).count())
        second.repartition(4).write.mode("append").json(wire3)
        drain(w.count(), alerts.count())
        drain(w.count(), alerts.count())  # nothing new: nothing added
    finally:
        for d in (wire3, out):
            shutil.rmtree(d, ignore_errors=True)


def _drain_backlog(spark, wire: str, root: str):
    """Drain `wire` through jobs.start_ingest under `root`. Returns the
    input-row counts of each query's data micro-batches, and the lake
    and the alerts feed each paired with its batch twin over the same
    wire files."""
    qs = jobs.start_ingest(spark, wire, root)
    for q in qs:
        q.awaitTermination(120)
    batches = [
        [p.numInputRows for p in q.recentProgress if p.numInputRows > 0]
        for q in qs
    ]
    wire_rows = spark.read.schema(jobs.WIRE_SCHEMA).json(wire)
    twin = wd.enrich(wd.cast_wire(wire_rows))
    want_alerts = jobs.alerts_stream(twin)
    return batches, [
        (spark.read.parquet(f"{root}/lake"), twin),
        (spark.read.schema(want_alerts.schema).json(f"{root}/alerts"),
         want_alerts),
    ]


def test_backlog_drains_in_one_micro_batch(spark, tmp_path):
    """A backlog that fits one round of input splits (trigger_bytes) is
    admitted whole: each query commits exactly one micro-batch with
    input rows, and lake and alerts equal the batch twin, which is the
    batch enriched view and its alerts."""
    wire = str(tmp_path / "wire")
    wd.wire_frame(spark, SF_SMOKE).repartition(12).write.json(wire)
    assert len([f for f in os.listdir(wire) if f.endswith(".json")]) == 12
    assert (
        jobs.enriched_stream(jobs.wire_file_stream(spark, wire)).columns
        == wd.ENRICHED_COLUMNS
        == wd.enrich(wd.cast_wire(wd.wire_frame(spark, SF_SMOKE))).columns
    )
    batches, pairs = _drain_backlog(spark, wire, str(tmp_path))
    assert batches == [[1000], [1000]]
    assert all(_same_rows(got, want) for got, want in pairs)
    (_, twin), (_, twin_alerts) = pairs
    assert _same_rows(twin, wd.enriched_frame(spark, SF_SMOKE))
    assert _same_rows(twin_alerts, wd.alerts_frame(spark, SF_SMOKE))


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
        batches, pairs = _drain_backlog(spark, wire, str(tmp_path))
    finally:
        spark.conf.set(split, old)
    for rows in batches:
        assert len(rows) >= 4 and sum(rows) == 1000
    assert all(_same_rows(got, want) for got, want in pairs)


def test_hot_path_module_holds_only_what_non_test_code_calls():
    """Every public top-level name of streaming/jobs.py is referenced
    from non-test code: the scripts, the benchmark or the package
    (jobs.py's own functions count, its definitions do not). Code that
    only tests call belongs in streaming/twins.py."""
    jobs_py = ROOT / "weather_bigdata_project_spark" / "streaming" / "jobs.py"
    public = set()
    for node in ast.parse(jobs_py.read_text()).body:
        if isinstance(node, (ast.FunctionDef, ast.ClassDef)):
            public.add(node.name)
        elif isinstance(node, ast.Assign):
            public.update(t.id for t in node.targets if isinstance(t, ast.Name))
    public = {n for n in public if not n.startswith("_")}
    used = set()
    for top in ("scripts", "perfbench", "weather_bigdata_project_spark"):
        for path in (ROOT / top).rglob("*.py"):
            if "tests" in path.relative_to(ROOT).parts:
                continue
            for node in ast.walk(ast.parse(path.read_text())):
                if isinstance(node, ast.Name):
                    used.add(node.id)
                elif isinstance(node, ast.Attribute):
                    used.add(node.attr)
    assert public and sorted(public - used) == []
