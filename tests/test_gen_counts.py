"""COVERAGE.md's registry-counts line matches the live registry
(tools/gen_counts.py regenerates it; no Spark session needed)."""

from __future__ import annotations

import os

from tools import gen_counts


def test_coverage_counts_line_is_current():
    path = os.path.join(os.path.dirname(os.path.dirname(__file__)), "COVERAGE.md")
    with open(path) as f:
        marked = [ln for ln in f.read().splitlines() if ln.startswith(gen_counts.MARK)]
    assert marked == [gen_counts.marked_line(gen_counts.counts())]
