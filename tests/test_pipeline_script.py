"""The scripts/run_pipeline.py orchestration entry must produce a lake
equal to the batch pipeline and route exactly the alert rows."""

from __future__ import annotations

import shutil
import sys
import tempfile

import pytest

from tests.conftest import SF_SMOKE
from weather_bigdata_project_spark import weather_domain as wd

import os

_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO_ROOT)


def test_run_pipeline_end_to_end(spark):
    from scripts.run_pipeline import run

    work = tempfile.mkdtemp(prefix="pipeline_")
    try:
        out = run(SF_SMOKE, work, cpus=8)
        want = wd.enriched_frame(spark, SF_SMOKE)
        assert out["wire_rows"] == out["lake_rows"] == want.count()
        assert out["alert_rows"] == wd.alerts_frame(spark, SF_SMOKE).count()
        assert out["cities"] == 8
        # a re-run into the same work dir rebuilds the lake, not doubles it
        assert run(SF_SMOKE, work, cpus=8) == out
    finally:
        shutil.rmtree(work, ignore_errors=True)


def test_run_pipeline_raises_when_a_stream_does_not_drain(spark, monkeypatch):
    """A stream still running after the wait is an error, not a
    partial lake reported as success."""
    from scripts.run_pipeline import run
    from weather_bigdata_project_spark.streaming import jobs

    class Running:
        name, id, stopped = "stuck", "stuck-id", False

        def awaitTermination(self, timeout=None):
            return False

        def stop(self):
            self.stopped = True

    started = []

    def start_lake_sink(*a, **k):
        started.append(Running())
        return started[-1]

    monkeypatch.setattr(jobs, "start_lake_sink", start_lake_sink)
    work = tempfile.mkdtemp(prefix="pipeline_")
    try:
        with pytest.raises(TimeoutError, match="stuck"):
            run(SF_SMOKE, work, cpus=8)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    assert len(started) == 2 and all(q.stopped for q in started)


def test_dashboard_script_runs():
    """The CLI dashboard (streamlit surface replacement) prints every
    requested panel header against the smoke fixtures."""
    import subprocess
    import sys

    out = subprocess.run(
        [
            sys.executable,
            os.path.join(_REPO_ROOT, "scripts", "run_dashboard.py"),
            "--panels",
            "weather_global_stats,weather_alert_counts",
            "--rows",
            "3",
        ],
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert "== weather_global_stats ==" in out.stdout
    assert "== weather_alert_counts ==" in out.stdout
