"""Meta-tests of the correctness gate itself (tools/check_oracle.py):
the compare() routine must actually catch each mismatch class — a gate
that silently passes wrong results is worse than no gate."""

from __future__ import annotations

import os
import sys

import duckdb
import pytest

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(_REPO, "tools"))

from check_oracle import (  # noqa: E402
    canon_value,
    compare,
    compare_streaming,
    sweep,
)


@pytest.fixture(scope="module")
def con():
    c = duckdb.connect()
    yield c
    c.close()


def test_compare_passes_on_identical(spark, con):
    sdf = spark.createDataFrame([(1, "a"), (2, "b")], "id long, s string")
    assert compare("t", sdf, "SELECT * FROM (VALUES (1, 'a'), (2, 'b')) t(id, s)", con) == []


def test_compare_is_order_and_column_order_insensitive(spark, con):
    sdf = spark.createDataFrame([(2, "b"), (1, "a")], "id long, s string")
    # oracle emits columns in the other order and rows sorted differently
    assert compare("t", sdf, "SELECT 'a' AS s, 1 AS id UNION ALL SELECT 'b', 2", con) == []


def test_compare_catches_value_mismatch(spark, con):
    sdf = spark.createDataFrame([(1, "a")], "id long, s string")
    problems = compare("t", sdf, "SELECT 1 AS id, 'X' AS s", con)
    assert any("value mismatch" in p for p in problems)


def test_compare_catches_rowcount_mismatch(spark, con):
    sdf = spark.createDataFrame([(1,)], "id long")
    problems = compare("t", sdf, "SELECT unnest([1, 2]) AS id", con)
    assert any("rowcount" in p for p in problems)


def test_compare_catches_schema_mismatch(spark, con):
    sdf = spark.createDataFrame([(1,)], "wrong_name long")
    problems = compare("t", sdf, "SELECT 1 AS id", con)
    assert any("schema" in p for p in problems)


def test_streaming_compare_matches_collect_semantics(spark, con):
    """The maxResultSize fallback (compare_streaming) must reach the
    same verdicts as the collect path on every mismatch class — it is
    the gate for any result too large to collect, so a weaker fold
    here would silently un-gate exactly the biggest outputs."""
    sdf = spark.createDataFrame([(2, "b"), (1, "a")], "id long, s string")
    # identical multiset, different row/column order -> clean
    assert compare_streaming(
        sdf, "SELECT 'a' AS s, 1 AS id UNION ALL SELECT 'b', 2", con
    ) == []
    # single value flipped -> digest mismatch at equal counts
    got = compare_streaming(
        sdf, "SELECT 'a' AS s, 1 AS id UNION ALL SELECT 'X', 2", con
    )
    assert any("digest mismatch" in p for p in got)
    # row dropped -> rowcount
    got = compare_streaming(sdf, "SELECT 'a' AS s, 1 AS id", con)
    assert any("rowcount" in p for p in got)
    # column renamed -> schema
    got = compare_streaming(
        sdf, "SELECT 'a' AS wrong, 1 AS id UNION ALL SELECT 'b', 2", con
    )
    assert any("schema" in p for p in got)


def test_streaming_compare_handles_nulls_floats_and_dupes(spark, con):
    """Digest folding must respect multiset semantics (duplicate rows
    counted, not set-collapsed) and the same canonicalization corners
    as the collect path (nulls, float repr)."""
    sdf = spark.createDataFrame(
        [(None, 0.1), (None, 0.1), (3, 2.5)], "id long, v double"
    )
    ok = (
        "SELECT * FROM (VALUES (NULL, 0.1), (NULL, 0.1), (3, 2.5)) "
        "t(id, v)"
    )
    assert compare_streaming(sdf, ok, con) == []
    # collapsing the duplicate must fail on count
    got = compare_streaming(
        sdf,
        "SELECT * FROM (VALUES (NULL, 0.1), (3, 2.5)) t(id, v)",
        con,
    )
    assert any("rowcount" in p for p in got)


def test_sweep_budget_times_out_only_the_slow_query(spark, monkeypatch):
    """With a budget, a query whose oracle runs past it is a TIMEOUT and
    the next query still runs clean: the watchdog of the timed-out
    query must not cancel its successor."""
    sys.path.insert(0, _REPO)
    from tests.conftest import SF_SMOKE
    from weather_bigdata_project_spark import registry

    a, b = "weather_city_stats", "weather_global_stats"
    # warm both plans first: a cold first job alone can outrun the budget
    assert sweep(spark, SF_SMOKE, [a, b])["ok"] == 2
    monkeypatch.setitem(
        registry.ORACLES, a, "SELECT SUM(hash(i)) FROM range(100000000000) t(i)"
    )
    r = sweep(spark, SF_SMOKE, [a, b], budget_s=5)
    assert r["timeout"] == [a]
    assert (r["ok"], r["fail"], r["weak"]) == (1, 0, 0), r["failures"]


def test_canon_value_distinguishes_float_ulps():
    """repr-based canonicalization must surface 1-ulp float drift (the
    whole reason output edges are rounded via exprs.rnd)."""
    import math

    x = 0.1 + 0.2
    assert canon_value(x) != canon_value(0.3)
    assert canon_value(float("nan")) == "nan"
    assert canon_value(None) == "\x00null"
    assert canon_value(True) == "true" and canon_value(1) == "1"
    assert math.isclose(x, 0.3)  # close is NOT equal — the gate is exact


def test_no_oracle_emits_hugeint_or_decimal_columns():
    """DuckDB widens SUM(BIGINT) to HUGEINT; the driver's Arrow/pandas
    fetch turns HUGEINT into float64, so an all-integer column hashes
    as 687.0 vs Spark's 687 and the gate fails on identical values
    (round-1: weather_degree_days, weather_comfort_dwell). The registry
    wraps affected oracles with CAST..AS BIGINT; this scan fails if a
    new oracle reintroduces a HUGEINT/DECIMAL output column."""
    sys.path.insert(0, _REPO)
    from tests.conftest import SF_SMOKE as sf
    from weather_bigdata_project_spark import registry

    registry.load()
    c = duckdb.connect()
    for t in ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"]:
        c.execute(
            f"CREATE VIEW {t} AS SELECT * "
            f"FROM read_parquet('{sf}/{t}.parquet')"
        )
    bad = []
    for name, sql in sorted(registry.ORACLES.items()):
        rel = c.sql(sql)
        for col, ty in zip(rel.columns, (str(t) for t in rel.types)):
            if ty in ("HUGEINT", "UHUGEINT") or ty.startswith("DECIMAL"):
                bad.append((name, col, ty))
    c.close()
    assert bad == [], f"oracles with driver-lossy output types: {bad}"


def test_bench_payload_respects_driver_line_budget():
    """The driver captures a bounded stdout tail; round 1's bench line
    overflowed it and parsed as null. Contract: for the CURRENT headline
    list with worst-realistic per-query widths (xx.xxx seconds), the
    compact-JSON line stays under 1800 chars — and the fallback path
    emits a short parseable record when it would not."""
    import json

    sys.path.insert(0, _REPO)
    import bench

    times = {name: 99.999 for name in bench.HEADLINE}
    payload = {
        "metric": f"headline{len(times)}_suite_wall",
        "value": round(sum(times.values()), 3),
        "unit": "sec",
        "n_queries": len(times),
        "queries": times,
        "sf": 0.1,
    }
    line = json.dumps(payload, separators=(",", ":"))
    assert len(line) <= 1800, (
        f"headline list grew past the driver line budget ({len(line)}); "
        "trim the list or drop per-query precision"
    )
    # fallback record stays tiny and parseable
    payload["queries"] = {"_omitted_n": len(times)}
    fb = json.dumps(payload, separators=(",", ":"))
    assert len(fb) < 300 and json.loads(fb)["n_queries"] == len(times)
