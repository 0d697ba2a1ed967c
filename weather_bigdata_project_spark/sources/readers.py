"""Sources & sinks (SURVEY §2.1): lake readers, export writers, and
Kafka stream endpoints.

The reference's lake was JSON-lines on MinIO read with a hand-rolled
s3fs listing + per-line json.loads loop (ref:streamlit/app.py:53-99,
47 lines, single thread). Here the same logical scan is one declarative
`spark.read.schema(...).json(...)` — distributed, schema-checked, with
`_spark_metadata`/empty-part handling built in. The upgrade path the
engine actually uses everywhere is parquet (columnar, predicate pushdown,
column pruning — SURVEY §4 calls this out as the single biggest planned
win over the reference).
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as Ty

from ..session import tune


def read_json_lake(
    spark: SparkSession, path: str, schema: Ty.StructType
) -> DataFrame:
    """S11: JSON-lines lake scan. Declared schema (no inference pass —
    inference would double the I/O); Spark skips `_spark_metadata` and
    zero-byte parts natively."""
    tune(spark)
    return (
        spark.read.schema(schema)
        .option("pathGlobFilter", "*.json")
        .option("recursiveFileLookup", "false")
        .json(path)
    )


def read_parquet_lake(
    spark: SparkSession, path: str, merge_schema: bool = False
) -> DataFrame:
    """Parquet lake scan. `merge_schema=True` reconciles files written
    under EVOLVED schemas (columns added over the lake's lifetime):
    Spark unions the footers' schemas and old files surface the new
    columns as nulls — the standard additive-evolution contract. Leave
    it False on stable lakes: merging reads every file footer up front
    (at 100 TB that is a real listing cost), while the default trusts a
    single footer."""
    tune(spark)
    return spark.read.option("mergeSchema", str(merge_schema).lower()).parquet(
        path
    )


def read_csv_lake(
    spark: SparkSession, path: str, schema: Ty.StructType
) -> DataFrame:
    """CSV lake scan, completing the source matrix (parquet/JSON/CSV).
    Declared schema — never inference (inference is a full extra pass
    over the data, and its type guesses drift as the data grows);
    malformed rows land in PERMISSIVE nulls rather than failing the
    scan, matching the dashboard's coerce-don't-crash posture
    (ref:streamlit/app.py:121)."""
    tune(spark)
    return (
        spark.read.schema(schema)
        .option("header", "true")
        .option("mode", "PERMISSIVE")
        .option("pathGlobFilter", "*.csv")
        .csv(path)
    )


def read_orc_lake(spark: SparkSession, path: str) -> DataFrame:
    """ORC lake scan — the fourth leg of the source matrix
    (parquet/JSON/CSV/ORC). ORC is columnar with file/stripe/row-group
    statistics like parquet, so predicate pushdown and column pruning
    apply identically (Spark's vectorized ORC reader, `PushedFilters`
    visible in explain); interop matters for lakes written by
    Hive/Trino-era pipelines."""
    tune(spark)
    return spark.read.orc(path)


def write_orc(df: DataFrame, path: str) -> None:
    """ORC writer twin of write_parquet (snappy, per-partition files)."""
    df.write.mode("overwrite").orc(path)


def write_export_csv(df: DataFrame, path: str) -> None:
    """S12: CSV export — distributed write (one file per partition; use
    coalesce(1) only for small UI downloads)."""
    df.write.mode("overwrite").option("header", "true").csv(path)


def write_export_json(df: DataFrame, path: str) -> None:
    """S13: JSON-records export."""
    df.write.mode("overwrite").json(path)


def write_parquet(df: DataFrame, path: str, partition_by: list[str] | None = None) -> None:
    """The lake writer: parquet, optionally hive-partitioned. At 100 TB,
    partition on the pruning dimension (date/city) and size files via
    spark.sql.files.maxRecordsPerFile to dodge the small-files pathology
    the reference had (flush.size=1 => 1 object/message,
    ref:minio-connector.json:14)."""
    w = df.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def write_parquet_sorted(
    df: DataFrame, path: str, sort_cols: list[str],
    partition_by: list[str] | None = None, num_files: int | None = None,
) -> None:
    """Lake writer with data LAYOUT: rows sorted on the pruning columns
    within each file, so parquet row-group min/max statistics become
    tight and selective scans skip row groups entirely (the other half
    of predicate pushdown — the filter must reach the scan AND the scan
    must be able to act on it). At 100 TB, sorting the lake on its query
    dimension (timestamp, city) is the difference between reading one
    row group and reading everything; this is the plain-parquet version
    of Z-ordering/clustering."""
    cols = [*sort_cols]
    out = (
        df.repartitionByRange(num_files, *cols)
        if num_files
        else df.repartitionByRange(*cols)
    ).sortWithinPartitions(*cols)
    w = out.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


#: Kafka endpoint contract (S1/S6). No broker is installable in this
#: container, so the CONTRACT — format name, option wiring, and the
#: value<->rows projections — is factored into pure pieces that
#: tests/test_sources.py pins against the reference's exact usage
#: (ref:spark-apps/weather_streaming.py:48-54 subscribe "weather-data"
#: on kafka:9092, startingOffsets latest; NiFi PublishKafka feeds the
#: same topic, ref:NiFi_Flow.json). The untestable remainder is two
#: one-liners (.load() / .writeStream.format("kafka")).

KAFKA_FORMAT = "kafka"


def kafka_source_options(
    topic: str,
    bootstrap: str = "localhost:9092",
    starting_offsets: str = "earliest",
) -> dict[str, str]:
    """S1 option wiring (the reference used startingOffsets=latest —
    tests and replayable pipelines want earliest, SURVEY §7 risk (f));
    `failOnDataLoss=false` keeps a 100 TB ingest alive across topic
    retention evictions instead of dying on the first aged-out offset."""
    return {
        "kafka.bootstrap.servers": bootstrap,
        "subscribe": topic,
        "startingOffsets": starting_offsets,
        "failOnDataLoss": "false",
    }


def kafka_sink_options(
    topic: str, bootstrap: str, checkpoint: str
) -> dict[str, str]:
    """S6 option wiring: exactly-once-per-checkpoint producer config
    (idempotent delivery is the checkpoint's job — Kafka's sink is
    at-least-once, consumers dedup on key)."""
    return {
        "kafka.bootstrap.servers": bootstrap,
        "topic": topic,
        "checkpointLocation": checkpoint,
    }


def kafka_value_encode(df: DataFrame) -> DataFrame:
    """Row -> wire: every column folded into one JSON `value` string —
    the producer projection the reference's NiFi flow emits and the
    sink publishes. Pure DataFrame transform, contract-tested batch-side
    (round-trips through kafka_value_decode)."""
    from pyspark.sql import functions as F

    return df.select(F.to_json(F.struct("*")).alias("value"))


def kafka_value_decode(df: DataFrame, schema: Ty.StructType) -> DataFrame:
    """Wire -> rows: cast the (binary) `value` to string, parse against
    the declared schema, flatten (ref:spark-apps/weather_streaming.py:
    59-61 `from_json(col("value").cast("string"), schema)` +
    `select("data.*")`). Malformed payloads become all-null structs, not
    stream crashes — the reference's coerce-don't-crash posture."""
    from pyspark.sql import functions as F

    return df.select(
        F.from_json(F.col("value").cast("string"), schema).alias("data")
    ).select("data.*")


def kafka_stream_source(
    spark: SparkSession,
    topic: str,
    bootstrap: str = "localhost:9092",
    starting_offsets: str = "earliest",
) -> DataFrame:
    """S1: Kafka stream source. Requires the kafka connector jar on the
    cluster; in this container the file-source twin in streaming/jobs
    stands in and the wiring above is contract-tested."""
    return (
        spark.readStream.format(KAFKA_FORMAT)
        .options(**kafka_source_options(topic, bootstrap, starting_offsets))
        .load()
    )


def kafka_sink(df: DataFrame, topic: str, bootstrap: str, checkpoint: str):
    """S6: value-as-JSON Kafka producer sink."""
    return (
        kafka_value_encode(df)
        .writeStream.format(KAFKA_FORMAT)
        .options(**kafka_sink_options(topic, bootstrap, checkpoint))
    )


def write_bucketed_table(
    df: DataFrame,
    name: str,
    path: str,
    bucket_col: str,
    n_buckets: int = 16,
    sort_col: str | None = None,
) -> None:
    """Hash-bucketed (optionally sorted) parquet table registered in the
    session catalog. Two tables bucketed the same way on their join keys
    co-locate: the join compiles WITHOUT a shuffle exchange on either
    side (asserted in tests/test_sources.py) — at 100 TB this converts
    every repeated fact-fact join on the bucket key from a full-data
    shuffle into a zero-movement zip of bucket files. Bucket count is
    chosen per deployment: ~(table size / executor-digestible split) and
    equal across co-joined tables."""
    w = (
        df.write.mode("overwrite")
        .format("parquet")
        .option("path", path)
        .bucketBy(n_buckets, bucket_col)
    )
    if sort_col is not None:
        w = w.sortBy(sort_col)
    w.saveAsTable(name)


def _parquet_sizes(path: str) -> list[int]:
    """Byte sizes of the `*.parquet` files directly under `path`."""
    return [
        e.stat().st_size
        for e in os.scandir(path)
        if e.is_file() and e.name.endswith(".parquet")
    ]


def _swap_dirs(path: str) -> tuple[str, str]:
    """`rewrite_lake`'s new-lake and old-lake sidecars of `path`."""
    return path.rstrip("/") + "__rewriting", path.rstrip("/") + "__replaced"


def _append_dir(path: str) -> str:
    """`append_lake`'s staging sidecar of `path`."""
    return path.rstrip("/") + "__appending"


def settle_lake(path: str) -> None:
    """Finish or discard a `rewrite_lake` or `append_lake` that a crash
    cut short; every lake writer calls it before it reads or writes.
    `path__replaced` means the crash fell between the swap's two
    renames: the new lake (`path__rewriting`) is complete, so it moves
    in if `path` is missing, and the old one is deleted. Any other
    `path__rewriting` is an unfinished write and is deleted: the live
    dir is renamed away only after the new dir and its marker are
    complete. A `path__appending` holding its `_batch.json` is a
    complete append: its files move into `path`, then its marker
    replaces the lake's (`append_lake` lands every append this way, so
    a crash during the moves is finished here). Any other
    `path__appending` is an unfinished append and is deleted."""
    new, old = _swap_dirs(path)
    if os.path.isdir(old):
        if not os.path.isdir(path):
            os.rename(new, path)
        shutil.rmtree(old)
    shutil.rmtree(new, ignore_errors=True)
    stage = _append_dir(path)
    marker = os.path.join(stage, "_batch.json")
    if os.path.exists(marker):
        os.makedirs(path, exist_ok=True)
        for name in os.listdir(stage):
            if name != "_batch.json":
                os.replace(os.path.join(stage, name), os.path.join(path, name))
        os.replace(marker, os.path.join(path, "_batch.json"))
    shutil.rmtree(stage, ignore_errors=True)


def lake_batch_id(path: str) -> int:
    """The batch id `rewrite_lake` or `append_lake` last committed into
    `path`, or -1."""
    marker = os.path.join(path, "_batch.json")
    if not os.path.exists(marker):
        return -1
    with open(marker) as fh:
        return json.load(fh)["batch_id"]


def _write_batch_marker(path: str, batch_id: int) -> None:
    """Write `path/_batch.json`, replacing any old marker atomically."""
    tmp = os.path.join(path, "_batch.json.tmp")
    with open(tmp, "w") as fh:
        json.dump({"batch_id": batch_id}, fh)
    os.replace(tmp, os.path.join(path, "_batch.json"))


def rewrite_lake(
    spark: SparkSession, path: str, fn, batch_id: int | None = None
) -> bool:
    """Replace the parquet directory `path` with `fn(current lake)`
    (`fn(None)` when there is no lake yet): the one copy-on-write rule
    of compaction, upsert, delete and the incremental MV. Returns False,
    writing nothing, when `batch_id` is given and not above the lake's
    committed `lake_batch_id`, so a replayed micro-batch is folded once.
    A rewrite without `batch_id` keeps the committed one, so compacting
    an appended lake keeps its fence.

    The new lake is written to `path__rewriting` (with a `_batch.json`
    marker holding the batch id, so data and marker install together)
    and swapped in by two renames: live -> `path__replaced`, new ->
    live. A crash anywhere leaves a state `settle_lake` turns into
    either the old or the new lake on the next write. A reader that
    lists `path` between the two renames finds no directory; readers do
    not settle. One writer per lake is assumed. Rename is atomic on
    POSIX and single-key-range on object stores with a manifest layer."""
    settle_lake(path)
    committed = lake_batch_id(path)
    if batch_id is not None and batch_id <= committed:
        return False
    new, old = _swap_dirs(path)
    current = spark.read.parquet(path) if os.path.isdir(path) else None
    fn(current).write.mode("overwrite").parquet(new)
    marker = committed if batch_id is None else batch_id
    if marker >= 0:
        _write_batch_marker(new, marker)
    if current is not None:
        os.rename(path, old)
    os.rename(new, path)
    shutil.rmtree(old, ignore_errors=True)
    return True


def append_lake(path: str, df: DataFrame, batch_id: int) -> bool:
    """Append `df` to the parquet lake `path` as micro-batch `batch_id`,
    exactly once: returns False, writing nothing, when `batch_id` is not
    above the lake's committed `lake_batch_id` (a batch replayed after a
    crash). The rows are written to `path__appending`, then its
    `_batch.json` marker, and `settle_lake` lands the complete stage:
    each file moves into `path`, then the marker replaces the lake's. A
    crash during the moves leaves the complete stage, which the next
    write's `settle_lake` finishes. Costs O(batch), not O(lake). The
    batch ids are those of one checkpoint: a stream restarted on a new
    checkpoint needs a new lake."""
    settle_lake(path)
    if batch_id <= lake_batch_id(path):
        return False
    stage = _append_dir(path)
    df.write.mode("overwrite").parquet(stage)
    _write_batch_marker(stage, batch_id)
    settle_lake(path)
    return True


def compact_parquet_lake(
    spark: SparkSession, path: str, target_file_mb: int = 128
) -> int:
    """Small-files compaction: rewrite a fragmented parquet directory
    into ceil(total_bytes / target) files through `rewrite_lake`.
    Returns the new file count.

    This is the direct cure for the reference's worst scale pathology —
    its raw archive wrote ONE S3 object per Kafka message
    (ref:minio-connector.json:14 `flush.size=1`) and its streaming sink
    emitted a file per micro-batch per partition, leaving the dashboard
    doing O(files) sequential GETs (ref:streamlit/app.py:72-99). A
    100 TB lake run instead compacts per partition directory (hour/day),
    on a schedule or from foreachBatch every N batches — same routine,
    scoped to the partitions the stream touched."""
    import math

    def compact(current: DataFrame) -> DataFrame:
        total = sum(_parquet_sizes(path))
        return current.repartition(
            max(1, math.ceil(total / (target_file_mb * 1024 * 1024)))
        )

    rewrite_lake(spark, path, compact)
    return len(_parquet_sizes(path))


#: small-byte fraction at which lake_layout_doctor says `compact`
SMALL_FRAC_THRESHOLD = 0.5


def lake_layout_doctor(path: str, target_file_mb: int = 128) -> dict:
    """Measure the small-files pathology before paying to cure it:
    file count, total/median/p90 file size, fraction of bytes in files
    under half the target size, and a verdict — `compact` when the
    small-byte fraction reaches SMALL_FRAC_THRESHOLD, else `ok`. Pure
    driver-side directory metadata (O(files), no data read), so it can
    run before every scheduled compaction and make `compact_parquet_lake`
    conditional — the measured version of the judgement the reference
    never made (it shipped flush.size=1 and let the dashboard eat
    O(files) GETs, ref:minio-connector.json:14, streamlit/app.py:72-99).
    At object-store scale the scandir becomes a LIST call per partition
    directory; verdicts stay per-partition so compaction is scoped."""
    import statistics

    sizes = sorted(_parquet_sizes(path))
    if not sizes:
        return {
            "n_files": 0,
            "total_mb": 0.0,
            "median_mb": 0.0,
            "p90_mb": 0.0,
            "small_byte_frac": 0.0,
            "verdict": "empty",
        }
    total = sum(sizes)
    small_cut = target_file_mb * 1024 * 1024 / 2
    small_bytes = sum(s for s in sizes if s < small_cut)
    frac = small_bytes / total
    mb = 1024.0 * 1024.0
    return {
        "n_files": len(sizes),
        "total_mb": round(total / mb, 3),
        "median_mb": round(statistics.median(sizes) / mb, 3),
        "p90_mb": round(sizes[min(len(sizes) - 1, int(0.9 * len(sizes)))] / mb, 3),
        "small_byte_frac": round(frac, 4),
        "verdict": "compact" if frac >= SMALL_FRAC_THRESHOLD else "ok",
    }


def expire_lake_partitions(path: str, partition_col: str, cutoff: str) -> int:
    """Retention for a hive-partitioned lake: drop every partition
    directory whose value sorts strictly below `cutoff` (ISO dates
    compare correctly as strings). Returns the number of partitions
    removed.

    Pure driver-side directory removal — zero data is read or
    rewritten, so cost is O(partitions dropped), never O(lake). This is
    the partition-layout payoff the reference's flat JSON lake could
    not have: expiring old data there means listing and deleting
    O(files-in-lake) objects (ref:streamlit/app.py:53-57 lists the
    whole bucket on every dashboard load). On an object store, swap the
    rmtree for a prefix delete."""
    removed = 0
    prefix = partition_col + "="
    for entry in sorted(os.listdir(path)):
        if not entry.startswith(prefix):
            continue
        if entry[len(prefix):] < cutoff:
            shutil.rmtree(os.path.join(path, entry))
            removed += 1
    return removed


def write_parquet_zorder(
    df: DataFrame,
    path: str,
    col_x: str,
    col_y: str,
    num_files: int = 8,
    bits: int = 16,
) -> None:
    """Lake writer with MULTI-dimensional layout: rows clustered on the
    Morton (Z-order) interleave of two numeric columns, so row-group
    min/max stats stay tight on BOTH dimensions at once — a 2-D range
    query skips row groups on either predicate. The 1-D
    `write_parquet_sorted` is strictly better for single-dimension
    access; Z-order is the layout when queries filter on two (time x
    key, lat x lon). This is plain-parquet clustering — no table format
    needed, the same trick Delta/Iceberg OPTIMIZE ZORDER applies.

    Each dimension is rank-normalized to `bits` bits via its min/max (a
    1-row aggregate, broadcast back — no driver round-trip), then bit
    positions interleave JVM-side with shift/mask expressions. The
    z-key orders a repartitionByRange + sortWithinPartitions and is
    dropped before writing."""
    from pyspark.sql import functions as F

    bounds = df.agg(
        F.min(col_x).alias("x0"),
        F.max(col_x).alias("x1"),
        F.min(col_y).alias("y0"),
        F.max(col_y).alias("y1"),
    )
    top = (1 << bits) - 1
    norm = (
        "CAST(ROUND((CAST({c} AS DOUBLE) - {lo}) * {top}e0 "
        "/ GREATEST(CAST({hi} AS DOUBLE) - {lo}, 1.0e0)) AS BIGINT)"
    )
    nx = norm.format(c=col_x, lo="x0", hi="x1", top=top)
    ny = norm.format(c=col_y, lo="y0", hi="y1", top=top)
    interleave = " + ".join(
        f"(((zx >> {b}) & 1) << {2 * b}) + (((zy >> {b}) & 1) << {2 * b + 1})"
        for b in range(bits)
    )
    out = (
        df.crossJoin(F.broadcast(bounds))
        .withColumn("zx", F.expr(nx))
        .withColumn("zy", F.expr(ny))
        .withColumn("zkey", F.expr(interleave))
        .drop("x0", "x1", "y0", "y1", "zx", "zy")
    )
    (
        out.repartitionByRange(num_files, "zkey")
        .sortWithinPartitions("zkey")
        .drop("zkey")
        .write.mode("overwrite")
        .parquet(path)
    )


def upsert_parquet_lake(
    spark: SparkSession, path: str, updates: DataFrame, key_cols: list[str]
) -> None:
    """Batch MERGE (upsert) into a plain-parquet lake: lake rows whose
    key matches an update row are REPLACED, unmatched update rows are
    INSERTED, everything else is carried over — copy-on-write through
    `rewrite_lake`, so the next writer sees the old or the new lake,
    never a mix, even after a crash. The batch twin of the streaming
    `start_foreach_batch_dedup_sink` (streaming/jobs.py) MERGE shape.

    Plan shape: the carried-over side is a LEFT ANTI join of the lake
    against the update keys — update batches are small next to the lake,
    so the key set is broadcast and the lake side never shuffles. At
    100 TB: hive-partition the lake and run this per partition directory
    touched by the update batch (derive touched partitions from the
    batch's partition values) — rewrite cost follows the update's
    partition footprint, not lake size. Plain parquet has no row-level
    transaction log; the directory swap IS the commit, which is exactly
    the copy-on-write strategy table formats automate per-file."""
    tune(spark)
    from pyspark.sql import functions as F

    keys = updates.select(*key_cols).distinct()
    rewrite_lake(
        spark,
        path,
        lambda current: current.join(
            F.broadcast(keys), key_cols, "left_anti"
        ).unionByName(updates.select(*current.columns)),
    )


def delete_from_parquet_lake(
    spark: SparkSession, path: str, predicate: str
) -> int:
    """DELETE WHERE for a plain-parquet lake (the GDPR-erasure /
    retract-bad-batch primitive): rewrite keeping the complement of the
    predicate through `rewrite_lake`, return the number of rows deleted.
    NULL predicate results keep the row (SQL DELETE semantics: only TRUE
    deletes).

    At 100 TB the predicate should lead with the partition column so
    only matching partition directories rewrite (expire_lake_partitions
    is the O(1)-data special case when the predicate IS the partition
    bound); within a rewrite the filter is a pushdown-friendly narrow
    scan. The deleted count is the lake's row count before the rewrite
    minus after it."""
    tune(spark)
    from pyspark.sql import functions as F

    before = []

    def keep(current: DataFrame) -> DataFrame:
        before.append(current.count())
        return current.filter(~F.coalesce(F.expr(predicate), F.lit(False)))

    rewrite_lake(spark, path, keep)
    return before[0] - spark.read.parquet(path).count()


# --- snapshot versioning (time travel) ------------------------------------
#
# A Delta-lite commit protocol on plain parquet: data files are immutable
# and live under <path>/data/c<N>/; each commit publishes a JSON manifest
# <path>/_versions/v<N>.json listing the data directories that compose
# that version. The manifest CREATE is the commit point — written to a
# temp name, then hard-linked into place (os.link fails if the target
# exists), which gives atomic publish AND optimistic concurrency: two
# racing writers both prepare data, exactly one wins version N, the
# loser's retry sees N and targets N+1. Readers never list data/ — they
# read a manifest and load exactly its directories, so a half-written
# commit is invisible. This is the core of what Delta/Iceberg do, sized
# for a directory-per-commit granularity:
#   - append commit = O(new data) write + one manifest (lake size never
#     rewritten — the 100 TB ingest path),
#   - overwrite commit = new manifest pointing only at the new dir,
#   - time travel = read an old manifest,
#   - incremental consumption (CDF for appends) = manifest set diff,
#   - vacuum = delete data dirs unreferenced by retained manifests.


def _versions_dir(path: str) -> str:
    return os.path.join(path, "_versions")


def snapshot_versions(path: str) -> list[int]:
    """Committed versions, ascending. O(manifest count) listing."""
    vd = _versions_dir(path)
    if not os.path.isdir(vd):
        return []
    return sorted(
        int(f[1:-5])
        for f in os.listdir(vd)
        if f.startswith("v") and f.endswith(".json")
    )


def _read_manifest(path: str, version: int) -> dict:
    with open(os.path.join(_versions_dir(path), f"v{version}.json")) as fh:
        return json.load(fh)


def snapshot_commit(
    spark: SparkSession, path: str, df: DataFrame, mode: str = "append"
) -> int:
    """Commit `df` as a new snapshot version; returns the version number.

    mode="append": the new version is previous dirs + one new dir (no
    existing byte is touched). mode="overwrite": the new version is only
    the new dir (old data stays until `vacuum_lake_snapshots`, keeping
    time travel alive). Retries the manifest link on a lost race.

    Concurrency: the data directory name is UNIQUE per commit (never
    derived from the version number), so a loser's write can never
    collide with the winner's files — version-numbered dirs had a
    lost-update window where two racers both wrote data/cN and the
    loser's bytes shipped under the winner's manifest
    (tests/test_sources.py::test_lake_snapshot_commit_race). Data is
    written exactly once; only the cheap manifest link retries."""
    import uuid

    if mode not in ("append", "overwrite"):
        raise ValueError(f"unknown snapshot mode: {mode}")
    tune(spark)
    os.makedirs(_versions_dir(path), exist_ok=True)
    data_dir = f"u-{uuid.uuid4().hex[:12]}"
    df.write.mode("overwrite").parquet(os.path.join(path, "data", data_dir))
    while True:
        versions = snapshot_versions(path)
        version = (versions[-1] + 1) if versions else 1
        dirs = [data_dir]
        if mode == "append" and versions:
            dirs = _read_manifest(path, versions[-1])["dirs"] + dirs
        manifest = {"version": version, "mode": mode, "dirs": dirs}
        tmp = os.path.join(
            _versions_dir(path), f".v{version}.{data_dir}.json.tmp"
        )
        final = os.path.join(_versions_dir(path), f"v{version}.json")
        with open(tmp, "w") as fh:
            json.dump(manifest, fh)
        try:
            os.link(tmp, final)  # atomic create-if-absent = the commit
            os.unlink(tmp)
            return version
        except FileExistsError:  # lost the race: re-resolve as N+1
            os.unlink(tmp)


def read_lake_snapshot(
    spark: SparkSession, path: str, version: int | None = None
) -> DataFrame:
    """Read a snapshot (latest if `version` is None) — time travel.
    Loads exactly the manifest's directories; never lists data/."""
    tune(spark)
    versions = snapshot_versions(path)
    if not versions:
        raise FileNotFoundError(f"no snapshot versions at {path}")
    v = versions[-1] if version is None else version
    if v not in versions:
        raise FileNotFoundError(f"version {v} not in {versions} at {path}")
    m = _read_manifest(path, v)
    return spark.read.parquet(
        *[os.path.join(path, "data", d) for d in m["dirs"]]
    )


def snapshot_diff(
    spark: SparkSession, path: str, from_version: int, to_version: int
) -> DataFrame:
    """Rows added between two versions (change-data-feed for the append
    path): reads ONLY the data directories present in `to_version`'s
    manifest but not `from_version`'s — incremental consumers (a
    training-data ingest job, a downstream index refresh) pay for new
    data, never for a full-lake scan or an expensive row-level
    except(). Overwrite commits replace the dir set, so the diff after
    an overwrite is that whole new version — the consumer sees it as a
    full refresh, which is what an overwrite means."""
    tune(spark)
    old = set(_read_manifest(path, from_version)["dirs"])
    new = [
        d for d in _read_manifest(path, to_version)["dirs"] if d not in old
    ]
    if not new:
        return read_lake_snapshot(spark, path, to_version).limit(0)
    return spark.read.parquet(
        *[os.path.join(path, "data", d) for d in new]
    )


def vacuum_lake_snapshots(path: str, keep_last: int = 1) -> int:
    """Drop all but the newest `keep_last` manifests and delete data
    directories no retained manifest references; returns directories
    removed. O(retained manifests + dirs) metadata work — data deletion
    is directory unlink, no scan."""
    versions = snapshot_versions(path)
    keep = versions[-keep_last:] if keep_last > 0 else []
    live: set[str] = set()
    for v in keep:
        live.update(_read_manifest(path, v)["dirs"])
    for v in versions:
        if v not in keep:
            os.unlink(os.path.join(_versions_dir(path), f"v{v}.json"))
    removed = 0
    data_root = os.path.join(path, "data")
    for d in os.listdir(data_root) if os.path.isdir(data_root) else []:
        if d not in live:
            shutil.rmtree(os.path.join(data_root, d))
            removed += 1
    return removed
