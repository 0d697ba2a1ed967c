"""SparkSession construction and per-session tuning.

Two layers:

- :func:`get_spark` builds a tuned local session (tests / bench). The knobs
  mirror what we would set cluster-side at 100 TB: AQE on (runtime
  coalesce + skew-join), shuffle partitions sized to cores (not the 200
  default the reference left in place — see
  ref:spark-output/checkpoint_enriched/offsets/1), Arrow for any
  Python-boundary transfer.
- :func:`tune` applies the *runtime-settable* confs every query needs even
  when somebody else built the session (the correctness driver passes its
  own SparkSession). Queries must not depend on session-construction-time
  settings, so anything correctness-critical lives here.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


#: the applicationId of the live session once its JVM has paid the ICU
#: collation class-init (see _warm_collation_init). A process runs one
#: SparkContext at a time, so a new session replaces the entry (and
#: re-warms) instead of adding one per session forever.
_ICU_WARMED: set[str] = set()


def _warm_collation_init(spark: SparkSession) -> None:
    """Pay Spark 4's ICU collation class-init at session setup, not inside
    the first case-folding query.

    Spark 4 codegen routes lower()/upper() and collated comparisons through
    CollationSupport.*.execBinaryICU even for the default UTF8_BINARY
    collation; the first such call per JVM triggers
    CollationAwareUTF8String.<clinit>, which builds ICU case-mapping
    tables. Stack-sampled on this box (CaseMapImpl.toTitle under the
    <clinit> frame): 7-100 s wall depending on CPU contention, ONCE per
    JVM. Left lazy, that spike lands inside whichever registered query
    case-folds first — corpus_url_canonicalize's gate wall read 119 s at
    sf0.001 while its warm wall is 1.1 s. One throwaway NON-FOLDABLE
    lower() (constant-folding evaluates interpreted, which takes the
    non-ICU UTF8String.toLowerCase path and would NOT trigger the init)
    moves the cost here.

    The class-init is per EXECUTOR JVM, so one 1-row task would warm
    only the one executor that ran it — every other JVM would still pay
    the spike inside the first case-folding query scheduled onto it
    (round-8 ADVICE). The warmup therefore runs one task per scheduler
    slot (`defaultParallelism` single-row partitions, submitted
    together): with a slot-count's worth of simultaneous tasks every
    executor receives at least one, the standard per-executor warmup
    shape. Locally this is one trivial task per local core (~0.1 s);
    on a cluster the inits run in parallel, paid once, amortized over
    the job.
    """
    app_id = spark.sparkContext.applicationId
    if app_id in _ICU_WARMED:
        return
    _ICU_WARMED.clear()
    _ICU_WARMED.add(app_id)
    slots = spark.sparkContext.defaultParallelism
    spark.range(0, slots, 1, slots).selectExpr(
        "max(lower(concat('WARM', CAST(id AS STRING)))) AS v"
    ).collect()


def tune(spark: SparkSession) -> SparkSession:
    """Apply runtime confs required for deterministic, oracle-parity plans.

    - UTC session timezone: all epoch<->string functions (from_unixtime,
      to_timestamp) must agree with the DuckDB oracle, which is tz-naive.
    - nanosAsLong: the driver's events.parquet carries TIMESTAMP(NANOS)
      which Spark's parquet reader rejects; reading nanos as long and
      converting explicitly (tables.load_events) keeps the scan vectorized.
    - ICU warmup: the first codegen'd case-fold per JVM pays a 7-100 s
      one-time ICU table build; _warm_collation_init moves it out of
      measured query walls.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    _warm_collation_init(spark)
    return spark


def default_cpus() -> int:
    """$SPARK_GRAFT_CPUS, else the cores this process may run on."""
    return int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))


#: cgroup v2 and v1 memory limits; "max" or a missing file means none
_CGROUP_MEMORY_LIMITS = (
    "/sys/fs/cgroup/memory.max",
    "/sys/fs/cgroup/memory/memory.limit_in_bytes",
)


def usable_memory() -> int:
    """Bytes this process may use: the physical memory, or the cgroup
    limit when that is smaller (a container's heap must fit its limit,
    or the JVM is killed instead of spilling)."""
    limits = [os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")]
    for path in _CGROUP_MEMORY_LIMITS:
        try:
            with open(path) as f:
                limits.append(int(f.read()))
        except (OSError, ValueError):
            pass
    return min(limits)


def default_driver_memory() -> str:
    """$SPARK_DRIVER_MEMORY, else half of :func:`usable_memory` in whole
    GiB (at least 1g): the local driver JVM hosts the executors, and the
    rest is left to Python workers and the OS."""
    return (
        os.environ.get("SPARK_DRIVER_MEMORY")
        or f"{max(1, usable_memory() // 2**31)}g"
    )


def get_spark(app_name: str = "weather_bigdata_project_spark", cpus: int | str | None = None) -> SparkSession:
    """Tuned local session. `cpus` defaults to :func:`default_cpus`, the
    driver heap to :func:`default_driver_memory`.

    Scale notes (these map 1:1 onto cluster settings at 100 TB):
    - AQE handles runtime partition coalescing and skew-join splitting, so
      static shuffle.partitions only needs to be "enough parallelism"
      (2x cores locally; executors*cores*2-3 on a cluster).
    - autoBroadcastJoinThreshold stays default (10 MB); dimension tables
      (region/nation/supplier) broadcast automatically, and we add explicit
      broadcast() hints on the build side of star joins.
    """
    cpus = cpus or default_cpus()
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(2 * int(cpus)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # parallelismFirst stays TRUE here: A/B-measured 25.1s vs 30.0s
        # for the headline suite. With false, AQE coalesces the small
        # post-shuffle frames of a local run toward the 64 MB advisory
        # size — often ONE reduce task, serializing CPU-bound stages.
        # On a real cluster with TB-scale shuffles, false (right-sized
        # partitions) is the recommended setting; this is a
        # data-volume-dependent knob, not a universal best.
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Cache-build cost of the persist() materialization
        # strategy (operators/textops.materialize): columnar cache
        # COMPRESSION is pure CPU overhead when the cached frames fit
        # memory uncompressed — A/B on the persist-heavy queries
        # measured 28% wall saved with it off (cohort 2.3s -> 1.4s,
        # minhash 4.3s -> 2.9s).
        .config("spark.sql.inMemoryColumnarStorage.compressed", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", default_driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return tune(spark)
