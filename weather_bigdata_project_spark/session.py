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

Cold start: when :func:`get_spark` launches the driver JVM it maps a JDK
dynamic class-data-sharing (CDS) archive, a file of already parsed and
verified class metadata, which takes most of the class loading out of
`SparkContext` start. The archive is keyed by the JDK and the Spark jars
and lives in the user's cache directory (:func:`archive_path`). The
first launch without one dumps it in a child process first (the dump
run): the child starts the same session with
``-XX:ArchiveClassesAtExit``, stops it, and publishes the dump only
after its JVM exited cleanly. So the archive holds the classes a
session's start loads, whatever the first program goes on to do, and a
failed dump never takes the caller's JVM with it. A dump run leaves a
marker, so a killed or failed one is not retried. A dump fails while a
non-empty directory is on the classpath, and Spark puts its conf dir
there, so both the dump run and every use launch with
``SPARK_CONF_DIR`` pointed at an empty directory of the cache. That is
done only when the real conf dir holds no active (non-``.template``)
file. Otherwise, or when the cache cannot be written, the JVM launches
without CDS flags, as it did before.
"""

from __future__ import annotations

import contextlib
import hashlib
import logging
import os
import re
import shlex
import shutil
import subprocess
import sys
from typing import NamedTuple

from pyspark import SparkContext
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import SparkSession

log = logging.getLogger(__name__)


def tune(spark: SparkSession) -> SparkSession:
    """Apply runtime confs required for deterministic, oracle-parity plans.

    - UTC session timezone: all epoch<->string functions (from_unixtime,
      to_timestamp) must agree with the DuckDB oracle, which is tz-naive.
    - nanosAsLong: the driver's events.parquet carries TIMESTAMP(NANOS)
      which Spark's parquet reader rejects; reading nanos as long and
      converting explicitly (tables.load_events) keeps the scan vectorized.
    - JVM case mappings: lower()/upper() skip ICU's per-JVM class-init
      (1-100 s in the first case-fold); only initcap's output differs.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.icu.caseMappings.enabled", "false")
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
    GiB (at least 1g, at most 31g): the local driver JVM hosts the
    executors, and the rest is left to Python workers and the OS. From
    32g on the JVM turns compressed oops off, so every reference costs 8
    bytes instead of 4 and the class-data archive cannot be mapped."""
    return (
        os.environ.get("SPARK_DRIVER_MEMORY")
        or f"{min(31, max(1, usable_memory() // 2**31))}g"
    )


#: the first bytes of a JDK dynamic CDS archive (0xf00baba8, little-endian)
_ARCHIVE_MAGIC = b"\xa8\xab\x0b\xf0"
#: how long a launch waits for the dump run before it goes on without CDS
_DUMP_WAIT_S = 300.0
#: the directory that holds this package, for the dump run's import
_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


class _Sharing(NamedTuple):
    """How the driver JVM launches: `flags` go to its java options,
    `conf_dir` is its ``SPARK_CONF_DIR``."""

    flags: str
    conf_dir: str


def archive_path() -> str:
    """The class-data archive for the JDK the launcher runs (``$JAVA_HOME``
    or ``java`` on the path) and the Spark jars it loads: the key hashes
    their paths, sizes and modification times, so an upgrade of either
    picks a new archive. It lives in the cache directory,
    ``$XDG_CACHE_HOME`` or ``~/.cache``, then
    ``weather_bigdata_project_spark``; deleting that directory resets
    it, and the next session dumps a new one."""
    java_home = os.environ.get("JAVA_HOME")
    java = os.path.join(java_home, "bin", "java") if java_home else shutil.which("java")
    if java is None:
        raise FileNotFoundError("java")
    java = os.path.realpath(java)
    jars = os.path.join(_find_spark_home(), "jars")
    paths = [java, os.path.join(os.path.dirname(os.path.dirname(java)), "lib", "modules")]
    paths += sorted(os.path.join(jars, n) for n in os.listdir(jars))
    # what the archive holds depends on where it is dumped, so that
    # point is part of the key
    digest = hashlib.sha256(b"dumped by a session start\n")
    for path in paths:
        st = os.stat(path)
        digest.update(f"{path}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    cache = os.environ.get("XDG_CACHE_HOME") or os.path.expanduser("~/.cache")
    return os.path.join(cache, "weather_bigdata_project_spark",
                        f"cds-{digest.hexdigest()[:16]}.jsa")


def _is_archive(path: str) -> bool:
    try:
        with open(path, "rb") as f:
            return f.read(4) == _ARCHIVE_MAGIC
    except OSError:
        return False


def _sweep(archive: str) -> None:
    """Delete every file of another archive key and every dump temp file
    whose dump run is gone; one archive is kept."""
    cache, stem = os.path.split(archive.removesuffix(".jsa"))
    for name in os.listdir(cache):
        mine = name.startswith(stem + ".")
        pid = name.removeprefix(stem + ".").removesuffix(".tmp")
        stale = mine and name.endswith(".tmp") and pid.isdigit() and not _alive(int(pid))
        if name.startswith("cds-") and (stale or not mine):
            with contextlib.suppress(OSError):
                os.remove(os.path.join(cache, name))


def _alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        pass
    return True


def _class_data_sharing() -> _Sharing | None:
    """Plan the driver JVM's class-data sharing, running the dump first
    when there is no archive yet; or None (with one log line when a conf
    dir, a failed dump or an earlier one rules it out) to launch without
    it."""
    real_conf = os.environ.get("SPARK_CONF_DIR") or os.path.join(_find_spark_home(), "conf")
    with contextlib.suppress(OSError):
        active = [n for n in os.listdir(real_conf) if not n.endswith(".template")]
        if active:
            log.warning("class-data sharing off: %s holds %s", real_conf, active[0])
            return None
    try:
        archive = archive_path()
        cache = os.path.dirname(archive)
        if re.search(r"[\s\"',:=\\]", cache):
            log.warning("class-data sharing off: cache path %r cannot be a JVM option", cache)
            return None
        conf_dir = os.path.join(cache, "conf")
        os.makedirs(conf_dir, exist_ok=True)
        if os.listdir(conf_dir):
            log.warning("class-data sharing off: %s is not empty", conf_dir)
            return None
        _sweep(archive)
        if not _is_archive(archive):
            # the marker: one dump run per archive key, even if it never finishes
            marker = archive.removesuffix(".jsa") + ".tried"
            try:
                os.close(os.open(marker, os.O_CREAT | os.O_EXCL | os.O_WRONLY, 0o644))
            except FileExistsError:
                log.warning("class-data sharing off: %s marks a dump that left no "
                            "archive; delete it to dump again", marker)
                return None
            if not _dump(archive):
                return None
    except OSError:  # no cache, or no java
        return None
    return _Sharing(f"-XX:SharedArchiveFile={archive} {_cds_log(cache, 'cds.log')}", conf_dir)


def _dump(archive: str) -> bool:
    """Run :func:`_dump_run` in a child process and wait for it; True if
    it published `archive`, else one log line says why not."""
    env = dict(os.environ, PYTHONPATH=os.pathsep.join(
        p for p in (_ROOT, os.environ.get("PYTHONPATH")) if p))
    try:
        run = subprocess.run(
            [sys.executable, "-c", f"from {__name__} import _dump_run; _dump_run()"],
            env=env, stdin=subprocess.DEVNULL, capture_output=True, text=True,
            timeout=_DUMP_WAIT_S,
        )
    except subprocess.TimeoutExpired:
        log.warning("class-data sharing off: the dump run took over %.0f s", _DUMP_WAIT_S)
        return False
    if run.returncode != 0:
        last = run.stderr.strip().splitlines()[-1:] or [f"exit code {run.returncode}"]
        log.warning("class-data sharing off: the dump run failed: %s", last[0])
    return _is_archive(archive)


def _dump_run() -> None:
    """The dump run, in a process of its own: start the session
    :func:`get_spark` starts, with ``-XX:ArchiveClassesAtExit`` into a
    temp file named by this process, stop it, and publish the dump with
    ``os.replace`` only after the JVM exited with code 0."""
    archive = archive_path()
    cache = os.path.dirname(archive)
    tmp = f"{archive.removesuffix('.jsa')}.{os.getpid()}.tmp"
    spark = _session("cds-dump", None, _Sharing(
        f"-XX:ArchiveClassesAtExit={tmp} {_cds_log(cache, 'cds.dump.log')}",
        os.path.join(cache, "conf"),
    ))
    jvm = SparkContext._gateway.proc
    spark.stop()
    jvm.stdin.close()  # the JVM exits, and dumps, when its input closes
    if jvm.wait() != 0 or not _is_archive(tmp):
        with contextlib.suppress(OSError):
            os.remove(tmp)
        sys.exit(f"the dump run's JVM exited with code {jvm.returncode}")
    os.replace(tmp, archive)


def _cds_log(cache: str, name: str) -> str:
    """JVM options that send the JVM's cds log (a dump warns once per
    signed JAR class it skips) to a file of the cache, not the terminal."""
    return f"-Xlog:cds*=off -Xlog:cds*=warning:file={os.path.join(cache, name)}::filecount=0"


def _with_java_options(submit_args: str, flags: str) -> str:
    """spark-submit arguments (as in ``$PYSPARK_SUBMIT_ARGS``) with `flags`
    put ahead of the value of every ``--conf spark.driver.defaultJavaOptions=``
    they carry, or added as one when they carry none."""
    args = shlex.split(submit_args)
    key = "spark.driver.defaultJavaOptions="
    merged = False
    for i in range(1, len(args)):
        if args[i - 1] == "--conf" and args[i].startswith(key):
            args[i] = f"{key}{flags} {args[i].removeprefix(key)}"
            merged = True
    if not merged:
        args[:0] = ["--conf", key + flags]
    return shlex.join(args)


@contextlib.contextmanager
def _launch_env(sharing: _Sharing | None):
    """While the JVM launches: ``SPARK_CONF_DIR`` and the java options of
    `sharing` in the environment; the environment is restored after."""
    if sharing is None:
        yield
        return
    saved = {k: os.environ.get(k) for k in ("SPARK_CONF_DIR", "PYSPARK_SUBMIT_ARGS")}
    os.environ["SPARK_CONF_DIR"] = sharing.conf_dir
    os.environ["PYSPARK_SUBMIT_ARGS"] = _with_java_options(
        saved["PYSPARK_SUBMIT_ARGS"] or "pyspark-shell", sharing.flags
    )
    try:
        yield
    finally:
        for k, v in saved.items():
            if v is None:
                os.environ.pop(k, None)
            else:
                os.environ[k] = v


def get_spark(app_name: str = "weather_bigdata_project_spark", cpus: int | str | None = None) -> SparkSession:
    """Tuned local session. `cpus` defaults to :func:`default_cpus`, the
    driver heap to :func:`default_driver_memory`. A launch of the driver
    JVM maps (first dumping, if need be) the class-data archive, see the
    module docstring; a session that already exists is returned without
    it.

    Scale notes (these map 1:1 onto cluster settings at 100 TB):
    - AQE handles runtime partition coalescing and skew-join splitting, so
      static shuffle.partitions only needs to be "enough parallelism"
      (2x cores locally; executors*cores*2-3 on a cluster).
    - autoBroadcastJoinThreshold stays default (10 MB); dimension tables
      (region/nation/supplier) broadcast automatically, and we add explicit
      broadcast() hints on the build side of star joins.
    """
    launches = SparkContext._gateway is None and "PYSPARK_GATEWAY_PORT" not in os.environ
    return _session(app_name, cpus, _class_data_sharing() if launches else None)


def _session(app_name: str, cpus: int | str | None, sharing: _Sharing | None) -> SparkSession:
    """:func:`get_spark`'s session, its JVM launched with `sharing`."""
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
    )
    with _launch_env(sharing):
        spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return tune(spark)
