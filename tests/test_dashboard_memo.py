"""The dashboard's enriched-frame memo, pin and answers
(weather_domain.pinned_frame and weather_domain.prepared): one plan per
events.parquet snapshot, one pinned narrow projection serving every
panel, and one persisted answer per panel and pin. A stale memo, pin or
answer is a correctness bug, so every test here compares panels with
their DuckDB oracles over the file as it is on disk at that moment. The
cache holds the pin plus one entry per panel served in the snapshot:
anything more is a leaked pin or answer."""

from __future__ import annotations

import os
import re
import sys
import threading

import pyarrow.parquet as pq
import pytest

from tests.conftest import SF_SMOKE
from tools.check_oracle import canon_rows, compare, duck_connect, sweep
from weather_bigdata_project_spark import tables
from weather_bigdata_project_spark import weather_domain as wd
from weather_bigdata_project_spark.plans import checks as C
from weather_bigdata_project_spark.registry import ORACLES, QUERIES

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(__file__)), "perfbench"))
from workloads import PANELS as BENCH_PANELS  # noqa: E402  (the benchmark's dashboard)
from workloads import _pandas_rows  # noqa: E402

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


def _assert_matches(name: str, df, oracle_dir: str) -> None:
    con = duck_connect(oracle_dir)
    try:
        got = compare(name, df, ORACLES[name], con)
    finally:
        con.close()
    assert got == [], (name, got)


def _assert_panels_match(spark, sf_dir: str) -> None:
    r = sweep(spark, sf_dir, PANELS)
    assert r["ok"] == len(PANELS), r["failures"]


def _next_rdd_id(spark) -> int:
    return spark.sparkContext.emptyRDD().id()


def _pinned_since(spark, first_id: int) -> int:
    """Persisted RDDs created at or after `first_id` still in the cache."""
    ids = spark.sparkContext._jsc.getPersistentRDDs().keySet()
    return sum(1 for i in ids if i >= first_id)


def test_rewritten_events_are_never_served_stale(spark, lake):
    """(a) After events.parquet is rewritten with different rows, the
    panels match their oracles over the NEW file, and the old pin and
    answers are gone from the cache. (Their storageLevel cannot tell:
    the cache matches plans by file path, so it reports the new ones'.)"""
    first_id = _next_rdd_id(spark)
    _assert_panels_match(spark, lake)
    old = wd.pinned_frame(spark, lake)
    old_plan = wd.enriched_frame(spark, lake)
    assert _pinned_since(spark, first_id) == 1 + len(PANELS)

    _write_events(lake, slice(300, 1000))  # overlapping, different rows
    _assert_panels_match(spark, lake)
    assert wd.enriched_frame(spark, lake) is not old_plan
    assert wd.pinned_frame(spark, lake) is not old
    assert wd.pinned_frame(spark, lake).count() == 700
    assert _pinned_since(spark, first_id) == 1 + len(PANELS)


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
    pin = wd.pinned_frame(spark, SF_SMOKE)
    pin.count()
    spark.catalog.clearCache()
    assert not pin.storageLevel.useMemory
    _assert_panels_match(spark, SF_SMOKE)
    assert wd.pinned_frame(spark, SF_SMOKE).storageLevel.useMemory


def test_concurrent_cold_memo_pins_once(spark, lake):
    """(c) Two clients hitting a cold memo at once both get correct
    panels and leave exactly one pinned relation behind, plus the two
    panels' answers."""
    first_id = _next_rdd_id(spark)
    start = threading.Barrier(2)
    got, errors = {}, []

    def client(cid: int) -> None:
        try:
            start.wait()
            got[cid] = wd.pinned_frame(spark, lake)
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
    assert _pinned_since(spark, first_id) == 1 + len(PANELS)
    _assert_panels_match(spark, lake)
    assert _pinned_since(spark, first_id) == 1 + len(PANELS)


def _served_plan(df) -> tuple[list[str], str]:
    """The columns of the first cached relation `df`'s executed plan
    scans, and the plan printed below that relation: the compute plan
    that fills it."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    _, found, below = plan.partition("InMemoryRelation [")
    assert found, plan
    cols = below[: below.index("]")].split(", ")
    return [re.sub(r"#\d+L?$", "", c) for c in cols], below


def _jobs(spark, group: str, action):
    """Run `action` under job group `group`: its result, and the number
    of Spark jobs it started."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _rows(pdf):
    return pdf.sort_values(list(pdf.columns)).reset_index(drop=True)


def test_prepared_frame_is_served_again_and_still_runs(spark, lake):
    """Within one snapshot the registry serves the answer it prepared,
    counted as a hit; every toPandas() on it runs a Spark job (the
    first fills the cache entry, the second scans it) and gives the
    oracle's answer."""
    name = "weather_temp_histogram"
    before = wd.memo_stats()
    df = QUERIES[name](spark, lake)
    assert QUERIES[name](spark, lake) is df
    after = wd.memo_stats()
    assert after["panel_builds"] - before["panel_builds"] == 1
    assert after["panel_hits"] - before["panel_hits"] == 1
    results = []
    for i in range(2):
        pdf, jobs = _jobs(spark, f"prepared {lake} {i}", df.toPandas)
        assert jobs >= 1
        results.append(_rows(pdf))
    assert results[0].equals(results[1])
    _assert_matches(name, df, lake)


def test_second_request_scans_the_cached_answer(spark, lake):
    """Within one snapshot the second toPandas() of a panel gives the
    oracle's rows from the answer's cache entry: the served frame is
    persisted in memory and its executed plan scans the answer's
    relation, not the pin's. The plan still prints the panel's compute
    plan below that relation, so plan checks on a panel see it."""
    name = "weather_city_stats"
    QUERIES[name](spark, lake).toPandas()
    df = QUERIES[name](spark, lake)
    pdf = df.toPandas()
    assert df.storageLevel.useMemory
    cols, compute = _served_plan(df)
    assert cols == df.columns, cols
    assert "HashAggregate" in compute and "Scan parquet" in compute, compute
    assert "HashAggregate" in C.formatted_plan(df)
    con = duck_connect(lake)
    try:
        want = con.execute(ORACLES[name]).fetchall()
        ocols = [d[0] for d in con.description]
    finally:
        con.close()
    assert canon_rows(*_pandas_rows(pdf, df.schema)) == canon_rows(ocols, want)


def _bench_clear(spark) -> None:
    """bench.py's clear between queries, without its JVM GC."""
    from weather_bigdata_project_spark.operators import textops

    spark.catalog.clearCache()
    _unpersist_all(spark)
    textops.clear_shingle_memo()


def _unpersist_all(spark) -> None:
    for rdd in list(spark.sparkContext._jsc.getPersistentRDDs().values()):
        rdd.unpersist()


@pytest.mark.parametrize("clear", [_bench_clear, _unpersist_all])
def test_refresh_after_a_clear_matches_the_oracles(spark, lake, clear):
    """After bench.py's clear sequence, and after a bare unpersist of
    every persistent RDD with no clearCache, the next refresh of the
    benchmark's panels raises nothing and matches the oracles: an
    answer whose blocks were dropped recomputes from its lineage."""
    r = sweep(spark, lake, BENCH_PANELS)
    assert r["ok"] == len(BENCH_PANELS), r["failures"]
    clear(spark)
    r = sweep(spark, lake, BENCH_PANELS)
    assert r["ok"] == len(BENCH_PANELS), r["failures"]


def test_two_cold_threads_leave_one_answer(spark, lake):
    """Two clients asking a cold memo for one panel at once get one
    answer, built once; the cache holds the pin and that answer."""
    name = "weather_city_stats"
    first_id = _next_rdd_id(spark)
    before = wd.memo_stats()
    start = threading.Barrier(2)
    frames, errors = {}, []

    def client(cid: int) -> None:
        try:
            start.wait()
            frames[cid] = df = QUERIES[name](spark, lake)
            df.toPandas()
        except Exception as e:  # noqa: BLE001 - reported below
            errors.append(e)

    threads = [threading.Thread(target=client, args=(c,)) for c in (0, 1)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=300)
        assert not t.is_alive()
    assert not errors, errors
    assert frames[0] is frames[1]
    assert wd.memo_stats()["panel_builds"] - before["panel_builds"] == 1
    assert _pinned_since(spark, first_id) == 2
    _assert_matches(name, frames[0], lake)


def test_prepared_frames_follow_a_repin(spark, lake):
    """After `clearCache` the next panel is built over the new pin, not
    served from a plan over the dropped one: that plan would rebuild the
    old pin's buffers as a second cached RDD the cache does not track.
    The cache then holds the new pin and the one new answer."""
    name = "weather_city_stats"
    old = QUERIES[name](spark, lake)
    old.toPandas()
    first_id = _next_rdd_id(spark)
    spark.catalog.clearCache()
    new = QUERIES[name](spark, lake)
    assert new is not old
    _assert_matches(name, new, lake)
    wd.pinned_frame(spark, lake).count()
    assert _pinned_since(spark, first_id) == 2


def test_answers_go_with_a_dropped_pin(spark, lake):
    """A pin unpersisted on its own takes its answers with it: the next
    panel is a new answer over the new pin. (Unpersisting the pin
    re-plans the old answer's cache entry over the uncached pin; served
    again, it would re-derive the enrichment from parquet.)"""
    name = "weather_city_stats"
    old = QUERIES[name](spark, lake)
    old.toPandas()
    wd.pinned_frame(spark, lake).unpersist()
    new = QUERIES[name](spark, lake)
    assert new is not old
    _assert_matches(name, new, lake)
    _, compute = _served_plan(new)
    assert "InMemoryRelation [" in compute, compute


def test_an_unpersisted_answer_is_rebuilt(spark, lake):
    """A caller that unpersists the answer it was served does not leave
    the panel recomputing on every request: the next request builds and
    persists a new answer over the same pin."""
    name = "weather_city_stats"
    old = QUERIES[name](spark, lake)
    old.toPandas()
    old.unpersist()
    new = QUERIES[name](spark, lake)
    assert new is not old
    assert new.storageLevel.useMemory
    _assert_matches(name, new, lake)


def test_rewrite_unpersists_the_old_answers(spark, lake):
    """The 600-row events.parquet rewritten as sf0.001's rows in two
    part files: every panel matches the new rows' oracle, and no old
    answer stays persisted. The new pin is the bare multi-split
    projection, so no old answer's plan matches a new one and each old
    storageLevel is the old entry's own."""
    old = {name: QUERIES[name](spark, lake) for name in BENCH_PANELS}
    for df in old.values():
        df.toPandas()
    os.unlink(f"{lake}/events.parquet")
    os.mkdir(f"{lake}/events.parquet")
    events = pq.read_table(f"{SF_SMOKE}/events.parquet")
    half = events.num_rows // 2
    for i, part in enumerate((events.slice(0, half), events.slice(half))):
        pq.write_table(part, f"{lake}/events.parquet/part-{i}.parquet")
    for name in BENCH_PANELS:
        _assert_matches(name, QUERIES[name](spark, lake), SF_SMOKE)
    kept = [name for name, df in old.items() if df.storageLevel.useMemory]
    assert kept == [], kept


def test_rewritten_events_get_new_prepared_frames(spark, lake):
    """A rewritten events.parquet is a new snapshot: every panel gets a
    new prepared frame, which matches its oracle over the new file."""
    old = {name: QUERIES[name](spark, lake) for name in PANELS}
    _write_events(lake, slice(300, 1000))
    for name in PANELS:
        assert QUERIES[name](spark, lake) is not old[name], name
    _assert_panels_match(spark, lake)


def test_threads_share_one_prepared_frame(spark, lake):
    """Two clients at once get one prepared frame, and each runs it five
    times with no error and the same answer."""
    name = "weather_temp_histogram"
    start = threading.Barrier(2)
    frames, results, errors = {}, {0: [], 1: []}, []

    def client(cid: int) -> None:
        try:
            start.wait()
            frames[cid] = df = QUERIES[name](spark, lake)
            for _ in range(5):
                results[cid].append(_rows(df.toPandas()))
        except Exception as e:  # noqa: BLE001 - reported below
            errors.append(e)

    threads = [threading.Thread(target=client, args=(c,)) for c in (0, 1)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=300)
        assert not t.is_alive()
    assert not errors, errors
    assert frames[0] is frames[1]
    want = results[0][0]
    assert all(r.equals(want) for rs in results.values() for r in rs)
    _assert_matches(name, frames[0], lake)


def test_memo_counters_lose_no_update_under_contention(spark, lake):
    """More clients than cores, switching threads as often as the
    interpreter allows, all asking for one panel: one frame is built and
    every other call is counted as a hit."""
    name, clients, calls = "weather_minmax", 8, 20
    before = wd.memo_stats()
    frames, errors = set(), []
    start = threading.Barrier(clients)

    def client() -> None:
        try:
            start.wait()
            for _ in range(calls):
                frames.add(id(QUERIES[name](spark, lake)))
        except Exception as e:  # noqa: BLE001 - reported below
            errors.append(e)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=client) for _ in range(clients)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=300)
            assert not t.is_alive()
    finally:
        sys.setswitchinterval(interval)
    assert not errors, errors
    assert len(frames) == 1
    after = wd.memo_stats()
    assert after["panel_builds"] - before["panel_builds"] == 1
    assert after["panel_hits"] - before["panel_hits"] == clients * calls - 1


def test_multi_split_prepared_frame_reruns_its_shuffle(spark, tmp_path):
    """Over a multi-split pin a grouped panel shuffles: the compute plan
    that fills its answer has a shuffle stage. The answer matches the
    oracle when it is filled and when it is served again (the rows are
    sf0.001's, split in two part files)."""
    for t in tables.TABLES:
        if t != "events":
            os.symlink(f"{SF_SMOKE}/{t}.parquet", tmp_path / f"{t}.parquet")
    os.mkdir(tmp_path / "events.parquet")
    events = pq.read_table(f"{SF_SMOKE}/events.parquet")
    half = events.num_rows // 2
    for i, part in enumerate((events.slice(0, half), events.slice(half))):
        pq.write_table(part, tmp_path / "events.parquet" / f"part-{i}.parquet")
    lake = str(tmp_path)
    name = "weather_city_stats"
    df = QUERIES[name](spark, lake)
    for _ in range(2):
        assert QUERIES[name](spark, lake) is df
        _assert_matches(name, df, SF_SMOKE)
    _, compute = _served_plan(df)
    assert "ShuffleQueryStage" in compute, compute


def test_memos_keep_only_the_live_session(spark):
    """Entries of a session that is gone are dropped on the next build,
    so neither memo grows by one entry per session forever."""
    tables._CACHE[("dead-app", SF_SMOKE, "events")] = (None, None)
    wd._ENRICHED[("dead-app", SF_SMOKE)] = None
    tables.load(spark, f"{SF_SMOKE}/", "events")  # a new key: a build
    wd.enriched_frame(spark, f"{SF_SMOKE}/")
    assert all(k[0] != "dead-app" for k in tables._CACHE)
    assert all(k[0] != "dead-app" for k in wd._ENRICHED)


def test_rewritten_documents_rebuild_the_shingle_memo(spark, tmp_path):
    """The shared shingle build (textops.doc_gram_arrays_shared) serves
    only while documents.parquet is the file it was built from: after a
    rewrite both dedup queries match their oracles over the new file."""
    from weather_bigdata_project_spark.operators import textops

    for t in tables.TABLES:
        if t != "documents":
            os.symlink(f"{SF_SMOKE}/{t}.parquet", tmp_path / f"{t}.parquet")
    lake = str(tmp_path)
    docs = pq.read_table(f"{SF_SMOKE}/documents.parquet")
    pq.write_table(docs, f"{lake}/documents.parquet")
    names = ["dedup_ngram_jaccard", "dedup_minhash_lsh"]

    def assert_dedup_matches() -> None:
        r = sweep(spark, lake, names)
        assert r["ok"] == len(names), r["failures"]

    assert_dedup_matches()
    old = textops.doc_gram_arrays_shared(spark, lake)
    third = docs.num_rows // 3
    pq.write_table(docs.slice(third, third), f"{lake}/documents.parquet")
    assert_dedup_matches()
    assert textops.doc_gram_arrays_shared(spark, lake) is not old
