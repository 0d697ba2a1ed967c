"""The benchmark's workloads. Each drives the engine only through its
public functions, in four steps: ``prepare`` (seeded inputs and an
untimed warm-up), ``window`` (the timed measurement), ``round`` (one unit
of work, which a traced run repeats untraced to size the tracing
overhead), ``gate`` (untimed correctness checks on a window's outputs)
and ``layers`` (per-layer figures of the traced window).

- ``ingest``: a seeded wire backlog drained by the two checkpointed
  ``jobs.start_lake_sink`` queries (enriched parquet lake + JSON alerts
  feed), then an open-loop live phase in which a separate lander process
  drops one wire file at a time on a fixed schedule into a directory
  watched by the same two queries on the default trigger.
- ``dashboard``: two closed-loop clients on one session walk the ten
  dashboard panels in seeded orders, fetching each with ``toPandas()``.
- ``batch_mix``: twelve batch queries from the relational, behaviour,
  geo, dedup, similarity, text and pipeline families, run in a seeded
  order through the noop sink as one job, state cleared between mixes.
  Runnable, but not in ``BENCHMARK.json`` (see README.md).
"""

from __future__ import annotations

import json
import multiprocessing
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
from dataclasses import dataclass, field

import gen
from spans import OP_PROPERTY, Tracer, instrument

#: ingest: backlog of 20 files x 2500 records (50k records, five
#: availableNow micro-batches of maxFilesPerTrigger=4). The live phase
#: offers 2 files/s x 1000 records = 2000 records/s: under half of what the
#: drain sustains on 4 cores, and, since a micro-batch takes at most 4
#: files, still below capacity when a busy host stretches a trigger to 2 s.
BACKLOG_FILES = 20
BACKLOG_ROWS = 2500
WARM_FILES = 4
LIVE_FILES_PER_S = 2.0
LIVE_ROWS = 1000
#: how long the live queries may take to commit the last landed file
LIVE_DRAIN_TIMEOUT_S = 30.0
#: a lander later than this on a file makes the run invalid, not slow
LANDER_LAG_LIMIT_S = 0.25

#: dashboard: events rows and client count (closed loop)
DASHBOARD_EVENTS = 100_000
DASHBOARD_CLIENTS = 2
PANELS = [
    "weather_global_stats", "weather_preview", "weather_city_stats",
    "weather_temp_histogram", "weather_city_boxstats",
    "weather_alert_counts", "weather_recent_alerts",
    "weather_range_filter", "weather_city_isin", "weather_export_json",
]

#: batch_mix: star-schema scale (1.0 = the sf0.01 correctness-gate shape)
BATCH_SCALE = 1.0
BATCH_QUERIES = [
    "tpch_q1_pricing_summary", "tpch_q5_regional_revenue",
    "tpch_q9_product_profit", "tpch_q18_large_volume_orders",
    "tpch_q21_waiting_suppliers", "events_user_features",
    "join_geo_nearest_station", "dedup_minhash_lsh",
    "dedup_prefix_filter_jaccard", "embed_ivf_search",
    "corpus_filter_pipeline", "text_fingerprint",
]

#: an operation slower than this counts as timed out (failed)
OP_TIMEOUT_S = 60.0


@dataclass
class Result:
    """What one window measured. ``latencies_s`` are per-operation
    latencies, ``rounds_s`` the walls of the workload's unit of work."""

    latencies_s: list[float] = field(default_factory=list)
    rounds_s: list[float] = field(default_factory=list)
    #: CPU seconds of the engine's process tree per round
    rounds_cpu_s: list[float] = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    problems: list[str] = field(default_factory=list)
    #: workload-specific end-to-end figures, printed by name
    headline: dict[str, tuple[float, str]] = field(default_factory=dict)
    #: per-layer figures of a traced window, printed by name
    layers: dict[str, tuple[float, str]] = field(default_factory=dict)
    #: wall inside the engine's plan-building calls, timed operations
    plan_s: float = 0.0
    ops: int = 0
    window_s: float = 0.0
    #: the window's outputs, for its gate and its per-layer figures
    kept: dict = field(default_factory=dict)

    def fail(self, n: int, why: str) -> None:
        self.failed += n
        self.problems.append(why)


@dataclass
class Ctx:
    spark: object
    seed: int
    seconds: float
    work: str
    tracer: Tracer
    #: a traced run: engine functions are wrapped in spans
    trace: bool
    #: prefix of the operation tags of the current window; the run folds
    #: the event log of the ``timed`` operations only
    window_tag: str = "timed"


def pct(xs: list[float], q: float) -> float:
    """`q`-quantile (0..1) by linear interpolation."""
    ys = sorted(xs)
    if len(ys) == 1:
        return ys[0]
    pos = q * (len(ys) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(ys) - 1)
    return ys[lo] + (ys[hi] - ys[lo]) * (pos - lo)


def tag(spark, op: str) -> None:
    """Tag the Spark jobs this thread starts next with operation `op`."""
    spark.sparkContext.setLocalProperty(OP_PROPERTY, op)


def fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


# --- process tree -------------------------------------------------------------

def tree_pids() -> set[int]:
    """This process and every live descendant: the Python driver, the JVM
    and any Python workers."""
    parents: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    stat = f.read()
            except OSError:
                continue
            parents[int(d)] = int(stat.rsplit(")", 1)[1].split()[1])
    tree, frontier = {os.getpid()}, [os.getpid()]
    while frontier:
        p = frontier.pop()
        for c, pp in parents.items():
            if pp == p and c not in tree:
                tree.add(c)
                frontier.append(c)
    return tree


def peak_rss_mb() -> float:
    """Sum of the peak resident sizes (VmHWM) over :func:`tree_pids`."""
    kb = 0
    for pid in tree_pids():
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
        except OSError:
            continue
    return kb / 1024.0


def _proc_state(pid: int) -> tuple[str, int] | None:
    """(state letter, start time in clock ticks) of `pid`, None once gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except OSError:
        return None
    return fields[0], int(fields[19])


#: environment variable that marks every process of a run: children
#: inherit it, so it finds those reparented away from the tree too
RUN_MARK = "PERFBENCH_RUN"


def mark_run() -> None:
    """Mark this process, and every process it starts from now on."""
    os.environ[RUN_MARK] = f"{os.getpid()}-{time.time_ns()}"


def run_pids() -> set[int]:
    """Every live process of this run except this one: its descendants,
    and any process whose environment carries this run's mark."""
    pids = tree_pids()
    if RUN_MARK in os.environ:
        token = f"{RUN_MARK}={os.environ[RUN_MARK]}".encode()
        for d in os.listdir("/proc"):
            if d.isdigit():
                try:
                    with open(f"/proc/{d}/environ", "rb") as f:
                        env = f.read().split(b"\0")
                except OSError:
                    continue
                if token in env:
                    pids.add(int(d))
    return pids - {os.getpid()}


def stop_process_tree(grace_s: float = 30.0) -> list[int]:
    """Stop the Spark session and its JVM, then every other process the
    run started (Python workers, the multiprocessing resource tracker, a
    lander still running), and wait until each has ended: SIGTERM, then
    SIGKILL after `grace_s`. Returns the pids still running, normally none.

    Without this the JVM and the resource tracker outlive the benchmark:
    each exits only once it reads end-of-file from this process, after
    this process is gone."""
    started: dict[int, int] = {}

    def survey() -> None:
        for pid in run_pids():
            st = _proc_state(pid)
            if st is not None:
                started.setdefault(pid, st[1])

    def alive(pid: int) -> bool:
        st = _proc_state(pid)
        if st is None or st[1] != started[pid]:
            return False
        if st[0] in "ZX":
            try:  # reap it if it is this process's child
                os.waitpid(pid, os.WNOHANG)
            except ChildProcessError:
                pass
            return False
        return True

    def wait(pids, timeout: float) -> list[int]:
        end = time.monotonic() + timeout
        left = [p for p in pids if alive(p)]
        while left and time.monotonic() < end:
            time.sleep(0.05)
            left = [p for p in left if alive(p)]
        return left

    survey()
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    if sc is not None:
        try:
            sc.stop()
        except Exception:  # noqa: BLE001 - the JVM is stopped below anyway
            pass
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        # the JVM exits when its standard input closes
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            try:
                proc.stdin.close()
            except OSError:
                pass
            try:
                proc.wait(grace_s)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = SparkContext._jvm = None
    tracker = sys.modules.get("multiprocessing.resource_tracker")
    if tracker is not None:
        # it ignores SIGTERM; closing its pipe makes it exit
        tracker._resource_tracker._stop()
    # anything started while the JVM shut down is found here too
    survey()
    left = wait(started, 0.0)
    for sig, timeout in ((signal.SIGTERM, grace_s), (signal.SIGKILL, 10.0)):
        if not left:
            break
        for pid in left:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        left = wait(left, timeout)
    return left


def tree_cpu_s() -> float:
    """User + system CPU seconds consumed so far by :func:`tree_pids`.
    Time the hypervisor steals from the VM is not charged to a process,
    so unlike a wall time this does not stretch on a busy host."""
    ticks = 0
    for pid in tree_pids():
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        ticks += int(fields[11]) + int(fields[12])
    return ticks / os.sysconf("SC_CLK_TCK")


# --- ingest -----------------------------------------------------------------

def _batch_commit_ns(lake: str) -> dict[int, int]:
    """File-sink batch id -> wall time (ns) its ``_spark_metadata`` entry
    was written, i.e. when the batch's rows became visible to readers."""
    meta = os.path.join(lake, "_spark_metadata")
    out = {}
    if os.path.isdir(meta):
        for n in os.listdir(meta):
            stem = n.split(".")[0]
            if stem.isdigit() and not n.endswith(".tmp"):
                out[int(stem)] = os.stat(os.path.join(meta, n)).st_mtime_ns
    return out


def _file_batches(ckpt: str) -> dict[str, int]:
    """Source file name -> micro-batch id, from the file source's log."""
    log = os.path.join(ckpt, "sources", "0")
    out = {}
    if not os.path.isdir(log):
        return out
    for n in os.listdir(log):
        if n.startswith(".") or n.endswith(".tmp"):
            continue
        with open(os.path.join(log, n)) as f:
            for line in f:
                if line.startswith("{"):
                    e = json.loads(line)
                    out[os.path.basename(e["path"])] = int(e["batchId"])
    return out


def _committed(out: str, sink: str) -> dict[str, int]:
    """Source file name -> commit time (ns) of the `sink` batch holding it."""
    commits = _batch_commit_ns(f"{out}/{sink}")
    return {
        f: commits[b]
        for f, b in _file_batches(f"{out}/ckpt/{sink}").items() if b in commits
    }


def _streams(spark, wire_dir: str):
    from weather_bigdata_project_spark import weather_domain as wd
    from weather_bigdata_project_spark.streaming import jobs

    enriched = jobs.enriched_stream(
        jobs.wire_file_stream(spark, wire_dir)
    ).select(*wd.ENRICHED_COLUMNS)
    alerts = jobs.alerts_stream(
        jobs.enriched_stream(jobs.wire_file_stream(spark, wire_dir))
    )
    return enriched, alerts


def _start_backfill(spark, wire_dir: str, out: str):
    """Stage 2 of ``scripts/run_pipeline.py``: two checkpointed
    availableNow drains of the same wire directory."""
    from weather_bigdata_project_spark.streaming import jobs

    enriched, alerts = _streams(spark, wire_dir)
    return (
        jobs.start_lake_sink(
            enriched, f"{out}/lake", f"{out}/ckpt/lake", fmt="parquet"
        ),
        jobs.start_lake_sink(
            alerts, f"{out}/alerts", f"{out}/ckpt/alerts", fmt="json"
        ),
    )


def _start_live(spark, wire_dir: str, out: str):
    """The same two sinks with ``start_lake_sink``'s options but the
    default trigger (a new micro-batch as soon as files arrive), which
    ``start_lake_sink`` does not offer."""
    enriched, alerts = _streams(spark, wire_dir)

    def sink(df, name, fmt):
        return (
            df.writeStream.outputMode("append").format(fmt)
            .option("path", f"{out}/{name}")
            .option("checkpointLocation", f"{out}/ckpt/{name}")
            .start()
        )

    return sink(enriched, "lake", "parquet"), sink(alerts, "alerts", "json")


def _multiset_gate(spark, pairs: list[tuple[str, str]]) -> list[str]:
    """For each ``(wire_dir, out)`` pair, the lake and the alert feed under
    `out` must equal, as multisets, the batch twin ``enrich(cast_wire(...))``
    over the wire files, so any lost or duplicated record fails the gate.
    Rows are compared by their sorted 64-bit hashes, all pairs at once;
    one pass over the twin yields both hash columns."""
    from functools import reduce

    from pyspark.sql import DataFrame
    from pyspark.sql import functions as F
    from weather_bigdata_project_spark import weather_domain as wd
    from weather_bigdata_project_spark.streaming import jobs

    wires = [w for w, _ in pairs]
    schema = jobs.wire_file_stream(spark, wires[0]).schema
    twin = wd.enrich(wd.cast_wire(spark.read.schema(schema).json(wires)))
    alert_schema = jobs.alerts_stream(twin).schema
    lake_h = F.xxhash64(*wd.ENRICHED_COLUMNS)
    alert_h = F.xxhash64(*alert_schema.names)
    want = twin.select(
        lake_h.alias("lake"),
        F.when(F.col("alert_type") != "NORMAL", alert_h).alias("alerts"),
    ).collect()
    # each sink directory is read on its own, so its _spark_metadata log
    # decides which files are committed
    got = {
        "lake": reduce(DataFrame.union, [
            spark.read.parquet(f"{o}/lake").select(lake_h) for _, o in pairs
        ]),
        "alerts": reduce(DataFrame.union, [
            spark.read.schema(alert_schema).json(f"{o}/alerts").select(alert_h)
            for _, o in pairs
        ]),
    }
    problems = []
    for name, df in got.items():
        g = sorted(r[0] for r in df.collect())
        w = sorted(r[name] for r in want if r[name] is not None)
        if g != w:
            problems.append(
                f"{name}: {len(g)} rows where the batch twin has {len(w)}"
                " (or the same count with different rows)"
            )
    return problems


def _progress(queries) -> list[list[dict]]:
    return [[json.loads(p.json) for p in q.recentProgress] for q in queries]


def _iso_ms(ts: str) -> float:
    from datetime import datetime

    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp() * 1e3


def _stream_layers(progress: list[list[dict]], prefix: str) -> dict:
    """Per-batch durations (``StreamingQueryProgress.durationMs``, medians)
    of the enriched-lake query and the alerts query."""
    lake, alerts = progress
    batches = [p for p in lake if p.get("numInputRows", 0) > 0]
    alert_batches = [p for p in alerts if p.get("numInputRows", 0) > 0]

    def med(ps, k):
        return float(statistics.median(
            [p["durationMs"].get(k, 0) for p in ps]
        )) if ps else 0.0

    busy = sum(p["durationMs"].get("triggerExecution", 0) for p in lake)
    span_ms = 0.0
    if lake:
        span_ms = (_iso_ms(lake[-1]["timestamp"]) - _iso_ms(lake[0]["timestamp"])
                   + lake[-1]["durationMs"].get("triggerExecution", 0))
    rows = sum(p["numInputRows"] for p in batches)
    return {
        f"{prefix}streaming.batches": (float(len(batches)), "count"),
        f"{prefix}streaming.rows_per_batch": (
            rows / len(batches) if batches else 0.0, "count"),
        f"{prefix}streaming.trigger_ms": (med(batches, "triggerExecution"), "ms"),
        f"{prefix}streaming.add_batch_ms": (med(batches, "addBatch"), "ms"),
        f"{prefix}streaming.alerts.add_batch_ms": (
            med(alert_batches, "addBatch"), "ms"),
        f"{prefix}streaming.query_planning_ms": (
            med(batches, "queryPlanning"), "ms"),
        f"{prefix}streaming.wal_commit_ms": (med(batches, "walCommit"), "ms"),
        f"{prefix}streaming.commit_offsets_ms": (
            med(batches, "commitOffsets"), "ms"),
        f"{prefix}sources.latest_offset_ms": (med(batches, "latestOffset"), "ms"),
        f"{prefix}sources.get_batch_ms": (med(batches, "getBatch"), "ms"),
        f"{prefix}streaming.idle_share": (
            max(0.0, 1.0 - busy / span_ms) if span_ms > 0 else 0.0, "ratio"),
    }


class Ingest:
    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.backlog = f"{ctx.work}/backlog"
        self.warm = f"{ctx.work}/warm"
        self.rows = BACKLOG_FILES * BACKLOG_ROWS
        self.n = 0

    def _drain(self, wire_dir: str, op: str):
        """One availableNow drain into fresh lake and checkpoint dirs.
        Returns (wall, plan wall, progress of both queries, out dir)."""
        ctx = self.ctx
        self.n += 1
        out = f"{ctx.work}/out{self.n}"
        tag(ctx.spark, op)
        t0 = time.perf_counter()
        with ctx.tracer.span("streaming.start_backfill", "harness", request=op):
            qs = _start_backfill(ctx.spark, wire_dir, out)
        plan_s = time.perf_counter() - t0
        for q in qs:
            q.awaitTermination(OP_TIMEOUT_S)
        wall = time.perf_counter() - t0
        for q in qs:
            if q.isActive:
                q.stop()
        return wall, plan_s, _progress(qs), out

    def prepare(self) -> None:
        from weather_bigdata_project_spark import weather_domain as wd
        from weather_bigdata_project_spark.streaming import jobs

        if self.ctx.trace:
            instrument(self.ctx.tracer, jobs, [
                "wire_file_stream", "enriched_stream", "alerts_stream",
                "start_lake_sink",
            ], "streaming")
            instrument(self.ctx.tracer, wd, ["cast_wire", "enrich"],
                       "weather_domain")
        staging = f"{self.ctx.work}/staging"
        gen.write_backlog(self.ctx.seed, staging, self.backlog,
                          BACKLOG_FILES, BACKLOG_ROWS)
        gen.write_backlog(self.ctx.seed + 1, staging, self.warm,
                          WARM_FILES, BACKLOG_ROWS)
        # warm-up: a small drain pays codegen and the first JIT
        self._drain(self.warm, "warm")

    def round(self, res: Result):
        """One backlog drain, the workload's unit of work."""
        cpu0 = tree_cpu_s()
        wall, plan_s, progress, out = self._drain(
            self.backlog, f"{self.ctx.window_tag}:backfill")
        res.rounds_cpu_s.append(tree_cpu_s() - cpu0)
        res.rounds_s.append(wall)
        res.plan_s += plan_s
        res.attempted += BACKLOG_FILES
        res.headline["backfill_rows_per_s"] = (self.rows / wall, "1/s")
        return wall, progress, out

    def window(self, res: Result) -> None:
        wall, progress, out = self.round(res)
        t0 = time.perf_counter()
        fresh, live_progress, validity, live_root = self._live(res)
        res.window_s = wall + time.perf_counter() - t0
        res.latencies_s.extend(fresh)
        if fresh:
            res.headline["freshness_p50_s"] = (pct(fresh, 0.5), "s")
            res.headline["freshness_p90_s"] = (pct(fresh, 0.9), "s")
        res.ops = sum(
            1 for ps in (progress, live_progress) for p in ps[0]
            if p.get("numInputRows", 0) > 0
        )
        res.kept["checked"] = [
            (self.backlog, out), (f"{live_root}/wire", f"{live_root}/out"),
        ]
        res.kept["observed"] = (progress, live_progress, validity, out)

    def _live(self, res: Result):
        """Open-loop live phase. Returns per-file freshness (s), the
        queries' progress records, validity figures and the phase dir."""
        ctx = self.ctx
        root = fresh_dir(f"{ctx.work}/live{self.n}")
        wire_dir, out = f"{root}/wire", f"{root}/out"
        os.makedirs(wire_dir)
        n_files = max(1, int(ctx.seconds * LIVE_FILES_PER_S))
        manifest = f"{root}/manifest.json"
        mp = multiprocessing.get_context("spawn")
        # a pipe, not shared-memory events: nothing lands outside the run dir
        conn, child_conn = mp.Pipe()
        lander = mp.Process(
            target=gen.land_files,
            args=(ctx.seed + 7, f"{root}/staging", wire_dir, n_files,
                  LIVE_ROWS, 1.0 / LIVE_FILES_PER_S, manifest, child_conn),
        )
        lander.start()
        qs = ()
        try:
            if not conn.poll(60) or conn.recv() != "ready":
                raise RuntimeError("lander did not get ready")
            tag(ctx.spark, f"{ctx.window_tag}:live")
            t0 = time.perf_counter()
            with ctx.tracer.span("streaming.start_live", "harness",
                                 request=f"{ctx.window_tag}:live"):
                qs = _start_live(ctx.spark, wire_dir, out)
            res.plan_s += time.perf_counter() - t0
            conn.send(time.time_ns() + 200_000_000)
            lander.join(ctx.seconds + 60)
            if lander.exitcode != 0:
                raise RuntimeError(f"lander exited with {lander.exitcode}")
            with open(manifest) as f:
                landed = json.load(f)
            names = [r[0] for r in landed]
            backlog_end = len(names) - len(_committed(out, "lake"))
            deadline = time.perf_counter() + LIVE_DRAIN_TIMEOUT_S
            while time.perf_counter() < deadline:
                done = _committed(out, "lake")
                done_alerts = _committed(out, "alerts")
                if all(n in done and n in done_alerts for n in names):
                    break
                time.sleep(0.05)
            progress = _progress(qs)
        finally:
            for q in qs:
                q.stop()
            if lander.is_alive():
                lander.terminate()
            lander.join(10)
        fresh = []
        for name, due, _ in landed:
            if name in done:
                fresh.append((done[name] - due) / 1e9)
            else:
                res.fail(1, f"live file {name} not committed in time")
        lag = [(landed_ns - due) / 1e9 for _, due, landed_ns in landed]
        late = sum(1 for x in lag if x > LANDER_LAG_LIMIT_S)
        if late:
            res.fail(late, f"lander fell behind on {late} files: run invalid")
        res.attempted += len(landed)
        validity = {
            "harness.generator_lag_p90_s": (pct(lag, 0.9), "s"),
            "harness.backlog_files_end": (float(backlog_end), "count"),
        }
        return fresh, progress, validity, root

    def gate(self, res: Result) -> None:
        tag(self.ctx.spark, "gate")
        res.attempted += 1
        for p in _multiset_gate(self.ctx.spark, res.kept["checked"]):
            res.fail(1, p)

    def layers(self, res: Result) -> None:
        from weather_bigdata_project_spark import weather_domain as wd
        from weather_bigdata_project_spark.session import get_spark
        from weather_bigdata_project_spark.streaming import jobs

        ctx = self.ctx
        progress, live_progress, validity, out = res.kept["observed"]
        res.layers.update(validity)
        res.layers.update(_stream_layers(progress, "backfill."))
        res.layers.update(_stream_layers(live_progress, "live."))
        files = nbytes = 0
        for dirpath, _, names in os.walk(f"{out}/lake"):
            for n in names:
                if n.endswith(".parquet"):
                    files += 1
                    nbytes += os.path.getsize(os.path.join(dirpath, n))
        res.layers["sinks.files_per_batch"] = (
            files / max(len(progress[0]), 1), "count")
        res.layers["sinks.bytes_per_row"] = (nbytes / self.rows, "B")
        # the scalar layer alone: the batch twin over the backlog, noop sink
        tag(ctx.spark, "probe")
        schema = jobs.wire_file_stream(ctx.spark, self.backlog).schema
        twin = wd.enrich(wd.cast_wire(
            ctx.spark.read.schema(schema).json(self.backlog)))
        t0 = time.perf_counter()
        twin.select(*wd.ENRICHED_COLUMNS).write.format("noop").mode(
            "overwrite").save()
        res.layers["weather_domain.cast_enrich_rows_per_s"] = (
            self.rows / (time.perf_counter() - t0), "1/s")
        # single-thread baseline: the warm-up backlog at local[cpus], then
        # at local[1] (restarts the session, so it comes last)
        rows = WARM_FILES * BACKLOG_ROWS
        fast = rows / self._drain(self.warm, "probe")[0]
        ctx.spark.stop()
        ctx.spark = get_spark("perfbench", cpus=1)
        slow = rows / self._drain(self.warm, "probe")[0]
        res.layers["streaming.core_scaling"] = (fast / slow, "ratio")


# --- dashboard ----------------------------------------------------------------

def _timed_op(ctx: Ctx, res: Result, name: str, op: str, run):
    """Plan `name` through the registry and execute it with `run`.
    Returns ``(plan_s, exec_s, df, out)``, or None when it raised."""
    from weather_bigdata_project_spark import registry

    fn = registry.QUERIES[name]
    layer = ".".join(fn.__module__.split(".")[-2:])
    tag(ctx.spark, op)
    try:
        with ctx.tracer.span(name, "harness", request=op):
            t0 = time.perf_counter()
            with ctx.tracer.span(f"{layer}.{name}.plan", layer):
                df = fn(ctx.spark, f"{ctx.work}/data")
            t1 = time.perf_counter()
            with ctx.tracer.span(f"{layer}.{name}.exec", "spark"):
                out = run(df)
            t2 = time.perf_counter()
    except Exception as e:  # noqa: BLE001 - a failing operation is a result
        res.fail(1, f"{name} raised {type(e).__name__}: {e}"[:300])
        return None
    if t2 - t0 > OP_TIMEOUT_S:
        res.fail(1, f"{name} took {t2 - t0:.1f} s (timeout)")
    return t1 - t0, t2 - t1, df, out


def _pandas_rows(pdf, schema) -> tuple[list[str], list[tuple]]:
    """Rows of a ``toPandas()`` result as the Python values ``collect()``
    would give, so ``check_oracle.canon_rows`` can compare them: pandas
    turns nullable integers into floats, nulls into NaN and timestamps
    into ``pd.Timestamp``."""
    from pyspark.sql import types as T

    def fix(v, t):
        if v is None or v != v:  # NaN and NaT are not equal to themselves
            return None
        if isinstance(t, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
            return int(v)
        if isinstance(t, (T.FloatType, T.DoubleType)):
            return float(v)
        if isinstance(t, (T.TimestampType, T.TimestampNTZType)):
            return v.to_pydatetime()
        return v

    cols = [
        [fix(v, f.dataType) for v in pdf.iloc[:, i].tolist()]
        for i, f in enumerate(schema.fields)
    ]
    return schema.names, list(zip(*cols))


def _to_pandas(df):
    return df.toPandas()


class Dashboard:
    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.data = f"{ctx.work}/data"

    def prepare(self) -> None:
        from tools.fixture_fuzz import gen_tables
        from weather_bigdata_project_spark import tables
        from weather_bigdata_project_spark import weather_domain as wd

        if self.ctx.trace:
            instrument(self.ctx.tracer, tables, ["load"], "tables")
            instrument(self.ctx.tracer, wd, [
                "wire_frame", "cast_wire", "enrich", "enriched_frame",
            ], "weather_domain")
        # the small dimension tables only let the oracle connection bind
        # its views; every panel reads the events table
        gen_tables(self.ctx.seed, self.data, scale=0.1)
        gen.write_events(self.ctx.seed, f"{self.data}/events.parquet",
                         DASHBOARD_EVENTS)
        # warm-up: one untimed refresh pays codegen and the first JIT
        warm = Result()
        for name in PANELS:
            _timed_op(self.ctx, warm, name, "warm", _to_pandas)

    def window(self, res: Result) -> None:
        import numpy as np

        ctx = self.ctx
        lock = threading.Lock()
        plan = res.kept["plan"] = {p: [] for p in PANELS}
        exe = res.kept["exe"] = {p: [] for p in PANELS}
        delivered = res.kept["delivered"] = {p: [] for p in PANELS}
        deadline = time.perf_counter() + ctx.seconds

        def client(cid: int) -> None:
            rng = np.random.default_rng(ctx.seed * 100 + cid)
            k = 0
            last = 0.0
            # whole refreshes only; another starts if the last one's
            # length says it ends before the deadline
            while k == 0 or time.perf_counter() + last <= deadline:
                t0 = time.perf_counter()
                ok = True
                for name in rng.permutation(PANELS):
                    r = _timed_op(ctx, res, name, f"{ctx.window_tag}:panel:{cid}:{k}",
                                  _to_pandas)
                    k += 1
                    with lock:
                        res.attempted += 1
                        if r is None:
                            ok = False
                            continue
                        p, e, df, pdf = r
                        res.latencies_s.append(p + e)
                        plan[name].append(p)
                        exe[name].append(e)
                        res.plan_s += p
                        res.ops += 1
                        delivered[name].append((df.schema, pdf))
                last = time.perf_counter() - t0
                if ok:
                    with lock:
                        res.rounds_s.append(last)

        t0 = time.perf_counter()
        cpu0 = tree_cpu_s()
        threads = [threading.Thread(target=client, args=(c,))
                   for c in range(DASHBOARD_CLIENTS)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        res.window_s = time.perf_counter() - t0
        # the window is whole refreshes of both clients
        if res.rounds_s:
            res.rounds_cpu_s.append((tree_cpu_s() - cpu0) / len(res.rounds_s))
        if res.latencies_s:
            res.headline["panel_p50_s"] = (pct(res.latencies_s, 0.5), "s")
            res.headline["panel_p90_s"] = (pct(res.latencies_s, 0.9), "s")
        if res.rounds_s:
            res.headline["refresh_p50_s"] = (pct(res.rounds_s, 0.5), "s")

    def round(self, res: Result) -> None:
        self.window(res)

    def gate(self, res: Result) -> None:
        """Every delivered panel has the oracle's row count, and the last
        one of each panel matches its DuckDB oracle row for row."""
        from tools.check_oracle import canon_rows, duck_connect
        from weather_bigdata_project_spark import registry

        con = duck_connect(self.data)
        try:
            for name, got in res.kept["delivered"].items():
                if not got:
                    continue
                want = con.execute(registry.ORACLES[name]).fetchall()
                ocols = [d[0] for d in con.description]
                bad = sum(1 for _, pdf in got if len(pdf) != len(want))
                if bad:
                    res.fail(bad, f"{name}: {bad} results lack the oracle's "
                                  f"{len(want)} rows")
                schema, pdf = got[-1]
                if canon_rows(*_pandas_rows(pdf, schema)) != canon_rows(ocols, want):
                    res.fail(1, f"{name}: delivered rows differ from the oracle")
        finally:
            con.close()

    def layers(self, res: Result) -> None:
        plan, exe = res.kept["plan"], res.kept["exe"]
        tot_p = sum(map(sum, plan.values()))
        tot_e = sum(map(sum, exe.values()))
        for name in PANELS:
            short = name.removeprefix("weather_")
            if plan[name]:
                res.layers[f"analytics.{short}.plan_s"] = (
                    statistics.median(plan[name]), "s")
                res.layers[f"analytics.{short}.exec_s"] = (
                    statistics.median(exe[name]), "s")
        res.layers["analytics.plan_share"] = (tot_p / (tot_p + tot_e), "ratio")
        timed = [s for s in self.ctx.tracer.spans
                 if s.request and s.request.startswith("timed:")]
        for fn, label in (
            ("tables.load", "tables.load_s"),
            ("weather_domain.wire_frame", "weather_domain.wire_frame_s"),
        ):
            d = [(s.end_ns - s.start_ns) / 1e9 for s in timed if s.name == fn]
            if d:
                res.layers[label] = (statistics.median(d), "s")


# --- batch_mix ------------------------------------------------------------------

def _clear_state(spark) -> None:
    """Between mixes: drop cached plans, force-unpersist every RDD, and
    forget the shingle memo (its localCheckpoint blocks die with the
    unpersist; a stale entry raises CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND)."""
    from weather_bigdata_project_spark.operators import textops

    spark.catalog.clearCache()
    for rdd in list(spark.sparkContext._jsc.getPersistentRDDs().values()):
        rdd.unpersist()
    textops.clear_shingle_memo()


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class BatchMix:
    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.data = f"{ctx.work}/data"

    def prepare(self) -> None:
        """Inputs, then the correctness gate, which is also the warm-up:
        every query once through ``tools/check_oracle.compare``."""
        from tools.check_oracle import compare, duck_connect
        from tools.fixture_fuzz import gen_tables
        from weather_bigdata_project_spark import registry

        gen_tables(self.ctx.seed, self.data, scale=BATCH_SCALE)
        self.checked = Result()
        con = duck_connect(self.data)
        tag(self.ctx.spark, "gate")
        try:
            for name in BATCH_QUERIES:
                self.checked.attempted += 1
                try:
                    problems = compare(
                        name, registry.QUERIES[name](self.ctx.spark, self.data),
                        registry.ORACLES[name], con,
                    )
                except Exception as e:  # noqa: BLE001 - failing is a result
                    problems = [f"raised {type(e).__name__}: {e}"[:300]]
                for p in problems:
                    self.checked.fail(1, f"{name}: {p}")
        finally:
            con.close()
        _clear_state(self.ctx.spark)

    def window(self, res: Result) -> None:
        import numpy as np

        ctx = self.ctx
        rng = np.random.default_rng(ctx.seed)
        per_query = res.kept["per_query"] = {q: [] for q in BATCH_QUERIES}
        deadline = time.perf_counter() + ctx.seconds
        t_start = time.perf_counter()
        k = 0
        while not res.rounds_s or time.perf_counter() < deadline:
            t0 = time.perf_counter()
            cpu0 = tree_cpu_s()
            ok = True
            for name in rng.permutation(BATCH_QUERIES):
                res.attempted += 1
                r = _timed_op(ctx, res, name, f"{ctx.window_tag}:mix:{k}:{name}", _noop)
                if r is None:
                    ok = False
                    continue
                p, e, _, _ = r
                res.latencies_s.append(p + e)
                per_query[name].append(p + e)
                res.plan_s += p
                res.ops += 1
            if ok:
                res.rounds_s.append(time.perf_counter() - t0)
                res.rounds_cpu_s.append(tree_cpu_s() - cpu0)
            _clear_state(ctx.spark)
            k += 1
            if k >= 2 and not res.rounds_s:
                break
        res.window_s = time.perf_counter() - t_start
        if res.rounds_s:
            res.headline["batch_mix_s"] = (pct(res.rounds_s, 0.5), "s")
        if res.latencies_s:
            res.headline["batch_geomean_s"] = (
                statistics.geometric_mean(res.latencies_s), "s")

    def round(self, res: Result) -> None:
        self.window(res)

    def gate(self, res: Result) -> None:
        res.attempted += self.checked.attempted
        res.failed += self.checked.failed
        res.problems += self.checked.problems

    def layers(self, res: Result) -> None:
        for name, xs in res.kept["per_query"].items():
            if xs:
                res.layers[f"batch.{name}_s"] = (statistics.median(xs), "s")


WORKLOADS = {"ingest": Ingest, "dashboard": Dashboard, "batch_mix": BatchMix}
