"""Gate over the committed single-scan audit record (SCAN_AUDIT.json):
every flagged entry must carry a cache/mixed/parquet adjudication that
RE-DERIVES from the tool's own numbers via scan_audit.adjudicate()
(a hand-edited kind cannot cheat the gate), and the record must hold
zero genuine parquet re-scans — the round-8 invariant: a status-store
input ratio above the flag is acceptable only when the physical
'file'-scheme bytes stay within PARQUET_BOUND of one pass over the
query's inputs."""

from __future__ import annotations

import json
import os

from tools import scan_audit
from tools.scan_audit import FLAG

_RECORD = os.path.join(os.path.dirname(__file__), "..", "SCAN_AUDIT.json")


def _entries():
    with open(_RECORD) as f:
        return json.load(f)


def test_record_measures_every_query_without_errors():
    from weather_bigdata_project_spark import registry

    registry.load()
    entries = _entries()
    assert {e["query"] for e in entries} == set(registry.QUERIES)
    assert len(entries) == len(registry.QUERIES)
    errs = [e for e in entries if "err" in e]
    assert errs == []


def test_every_flagged_entry_is_adjudicated_and_rederivable():
    flagged = [
        e
        for e in _entries()
        if e.get("ratio") is not None and e["ratio"] >= FLAG
    ]
    assert flagged, "flag threshold drifted: no flagged entries at all?"
    for e in flagged:
        # measured, not asserted: the physical-read fields must exist
        assert e.get("fs_bytes") is not None, e["query"]
        assert e.get("parquet_bytes"), e["query"]
        assert e.get("fs_ratio") is not None, e["query"]
        want = scan_audit.adjudicate(e)
        assert e.get("kind") == want, (
            f"{e['query']}: committed kind {e.get('kind')!r} does not "
            f"re-derive ({want!r}) from its own fs_ratio "
            f"{e['fs_ratio']}"
        )
        assert want in ("cache", "mixed", "parquet"), e["query"]


def test_no_parquet_rescans():
    rescans = [
        e
        for e in _entries()
        if e.get("kind") == "parquet"
        or (
            e.get("ratio") is not None
            and e["ratio"] >= FLAG
            and scan_audit.adjudicate(e) == "parquet"
        )
    ]
    assert rescans == [], (
        "genuine parquet re-scans committed: "
        + ", ".join(
            f"{e['query']} (fs {e['fs_ratio']}x)" for e in rescans
        )
    )


def test_unflagged_entries_carry_no_kind():
    for e in _entries():
        if e.get("ratio") is None or e["ratio"] < FLAG:
            assert "kind" not in e, e["query"]


def test_first_query_is_not_charged_for_cold_table_loads(spark, monkeypatch):
    """A cold tables.load reads the parquet footer through the 'file'
    scheme; measure() pays it before the first query, so two queries
    over the same table read the same bytes in either order."""
    from tests.conftest import SF_CORRECT
    from weather_bigdata_project_spark import tables

    names = ["sql_udf_dew_point", "weather_collated_city_stats"]
    fs_bytes = []
    for order in (names, names[::-1]):
        monkeypatch.setattr(tables, "_MEMO", {})  # a fresh process's memo
        entries = scan_audit.measure(spark, SF_CORRECT, order)
        fs_bytes.append({e["query"]: e["fs_bytes"] for e in entries})
    assert fs_bytes[0] == fs_bytes[1]
    assert all(n > 0 for n in fs_bytes[0].values())
