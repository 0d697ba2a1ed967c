"""Table loaders for the driver's parquet fixtures (TESTDATA.md).

All loads are plain `spark.read.parquet` — columnar, vectorized, predicate
pushdown + column pruning apply (the reference's lake was JSON-lines read
row-at-a-time in pandas, ref:streamlit/app.py:72-99; parquet is the single
biggest planned speedup recorded in SURVEY.md §4).

`events.parquet` carries parquet TIMESTAMP(NANOS) which Spark's reader
rejects outright; we read nanos as long (runtime conf) and convert to
timestamp_ntz(micros) with integer `div` (truncation — matches DuckDB's
TIMESTAMP_NS -> TIMESTAMP cast). The conversion is a cheap narrow
projection over a still-vectorized scan.
"""

from __future__ import annotations

import os
import threading
from collections import Counter
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .session import tune

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

#: DuckDB CTE that normalizes events.ts (TIMESTAMP_NS) to microsecond
#: precision exactly the way the Spark loader does (truncating integer
#: division). Prepend to any oracle SQL that touches `events.ts`.
EVENTS_ORACLE_CTE = (
    "events_t AS (SELECT event_id, "
    "make_timestamp(epoch_ns(ts) // 1000) AS ts, "
    "user_id, event_type, value, props FROM events)"
)


def signature(sf_dir: str, name: str) -> tuple | None:
    """Signature of one table's files on disk: ``(st_ino, st_mtime_ns,
    st_size)`` of the parquet file, or of each part file (by name) when
    the table is a directory. A rewritten table gets a new signature;
    a missing one gets None. Costs one ``stat`` per file, no Spark job."""
    path = f"{sf_dir}/{name}.parquet"
    try:
        if not os.path.isdir(path):
            st = os.stat(path)
            return st.st_ino, st.st_mtime_ns, st.st_size
        with os.scandir(path) as it:
            parts = sorted((e.name, e.stat()) for e in it)
        return tuple(
            (n, st.st_ino, st.st_mtime_ns, st.st_size) for n, st in parts
        )
    except OSError:
        return None


@dataclass
class _Entry:
    token: object
    frame: DataFrame
    persisted: bool  # build() persisted the frame
    rdd_id: int | None = None  # its cached relation's RDD, once filled


#: (applicationId, *key) -> the one memo of the engine's frames: table
#: plans, the dashboard's enriched plan, pin and answers, and the shared
#: shingle pin. Reusing a plan skips its file listing or analyses, a
#: persisted frame its recompute. Entries of other sessions are dropped:
#: a process runs one SparkContext at a time.
_MEMO: dict[tuple, _Entry] = {}
_LOCK = threading.RLock()
#: cumulative (key[0], "built" | "served") counts of memo()
MEMO_COUNTS: Counter = Counter()
#: (SparkContext, applicationId): reading the id costs two py4j calls
_APP: list = [None, None]


def _alive(spark: SparkSession, entry: _Entry) -> bool:
    """Whether a persisted frame still has its cached blocks, which its
    ``storageLevel`` cannot tell (the CacheManager entry outlives an RDD
    unpersist). The relation's RDD id is read once it is filled (reading
    it earlier builds the cached plan, which runs a shuffle job for a
    grouped answer under AQE); then a check is one ``containsKey``. An
    unfilled relation is live: its first action fills it."""
    if not entry.persisted:
        return True
    if not entry.frame.is_cached:  # unpersisted through this handle
        return False
    if entry.rdd_id is None:
        cached = (
            spark._jsparkSession.sharedState()
            .cacheManager()
            .lookupCachedData(entry.frame._jdf)
        )
        if cached.isEmpty():  # clearCache
            return False
        builder = cached.get().cachedRepresentation().cacheBuilder()
        if not builder.isCachedColumnBuffersLoaded():
            return True
        entry.rdd_id = builder.cachedColumnBuffers().id()
    persistent = spark.sparkContext._jsc.getPersistentRDDs()
    return persistent.containsKey(entry.rdd_id)


def _drop(entry: _Entry) -> None:
    """Unpersist a replaced entry after the entries built over it, theirs
    first: unpersisting a frame re-plans the cache entries over it
    against the uncached frame."""
    for key in [k for k, e in _MEMO.items() if e.token is entry.frame]:
        _drop(_MEMO.pop(key))
    if entry.persisted:
        entry.frame.unpersist()


def memo(
    spark: SparkSession, key: tuple, token: object,
    build: Callable[[], DataFrame],
) -> DataFrame:
    """The frame memoized under ``(applicationId, *key)``, served while
    ``token`` equals the one it was built with (a table's file signature,
    or for a derived entry its source frame; DataFrames compare by
    identity) and, if ``build()`` persisted it, while it has its cached
    blocks: Shark's rule, where a lost cached partition is recomputed,
    not served as present. Otherwise the entry is dropped with every
    entry built over it (a dead frame must be unpersisted before its
    plan is persisted again, or the dead relation is reused) and
    rebuilt. Builds hold one lock, so concurrent callers share one."""
    sc = spark.sparkContext
    if _APP[0] is not sc:
        _APP[:] = sc, sc.applicationId
    app_id = _APP[1]
    with _LOCK:
        full = (app_id, *key)
        entry = _MEMO.get(full)
        if entry is not None and entry.token == token and _alive(spark, entry):
            MEMO_COUNTS[key[0], "served"] += 1
            return entry.frame
        if entry is not None:
            _drop(entry)
        for k in [k for k in _MEMO if k[0] != app_id]:
            del _MEMO[k]
        frame = build()
        _MEMO[full] = _Entry(token, frame, frame.is_cached)
        MEMO_COUNTS[key[0], "built"] += 1
        return frame


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table; events gets its ns->us timestamp fixup.
    Memoized (:func:`memo`) under the table's file signature: a plan
    over a rewritten file would read it with the old file lengths."""
    tune(spark)
    key = ("table", sf_dir, name)
    path = f"{sf_dir}/{name}.parquet"

    def build() -> DataFrame:
        # replacing a stale plan (it stays in the memo until this
        # returns): Spark's CacheManager matches plans by path, so without
        # a refresh a frame persisted over the old file would be served
        if (_APP[1], *key) in _MEMO:
            spark.catalog.refreshByPath(path)
        df = spark.read.parquet(path)
        if name == "events" and dict(df.dtypes).get("ts") == "bigint":
            df = df.withColumn(
                "ts",
                F.expr(
                    "timestampadd(MICROSECOND, ts div 1000, "
                    "to_timestamp_ntz('1970-01-01 00:00:00'))"
                ),
            )
        return df

    return memo(spark, key, signature(sf_dir, name), build)


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {t: load(spark, sf_dir, t) for t in TABLES}
