"""Benchmark of the weather analytics engine: one run of one workload.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload {ingest,dashboard,batch_mix} \
        --seed N --seconds S --trace {0,1}

Every input is generated from ``--seed`` under ``.perfbench/`` in the
checkout; the engine runs ``local[nproc]`` with a bounded driver heap.
The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: with ``--trace 0`` the
end-to-end metrics, with ``--trace 1`` the per-layer metrics of a traced
run (spans, streaming progress and the Spark event log). Lines before it
print every metric by name and unit. See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE = "weather_bigdata_project_spark"
#: Spark driver heap; the session default (24g) exceeds a small host's memory
DRIVER_MEMORY = "2g"
#: a fixed-size heap and young generation: under G1's adaptive sizing the
#: driver JVM's peak RSS swung by a third between runs of the same input
DRIVER_JAVA_OPTIONS = (
    f"-XX:+UseParallelGC -XX:-UseAdaptiveSizePolicy -Xms{DRIVER_MEMORY} -Xmn512m"
)


def configure_env(work: str, trace: bool) -> str | None:
    """Keep every file Spark, the JVM and Python write inside `work`;
    enable the event log only for the traced run."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    # every JVM, the launcher's too: temp files in `work`, no hsperfdata
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    confs = [
        "spark.ui.showConsoleProgress=false",
        f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
        f"spark.driver.extraJavaOptions={DRIVER_JAVA_OPTIONS}",
    ]
    log_dir = None
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir)
        confs += [
            "spark.eventLog.enabled=true", f"spark.eventLog.dir=file://{log_dir}",
            "spark.eventLog.compress=false", "spark.eventLog.rolling.enabled=false",
        ]
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        " ".join(f"--conf {shlex.quote(c)}" for c in confs) + " pyspark-shell"
    )
    return log_dir


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, ENGINE, "__init__.py")):
        print(f"engine package {ENGINE}/ not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    import workloads as W

    if args.workload not in W.WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(W.WORKLOADS)}",
              file=sys.stderr)
        return 2
    base = os.path.join(ROOT, ".perfbench")
    work = W.fresh_dir(
        os.path.join(base, f"{args.workload}-{args.seed}-{os.getpid()}")
    )
    W.mark_run()
    # a SIGTERM unwinds through the `finally` below like an exception
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    try:
        report = run(args, W, work)
    finally:
        left = W.stop_process_tree()
        shutil.rmtree(work, ignore_errors=True)
    if left:
        print(f"processes still running after the run: {left}", file=sys.stderr)
        return 1
    if args.trace:
        out_dir = os.path.join(base, "traces")
        os.makedirs(out_dir, exist_ok=True)
        stem = os.path.join(out_dir, f"{args.workload}-{args.seed}")
        report["tracer"].write(stem + ".spans.json")
        with open(stem + ".layers.json", "w") as f:
            json.dump({k: {"value": v, "unit": u}
                       for k, (v, u) in report["lines"].items()},
                      f, indent=1, sort_keys=True)
    res = report["res"]
    for p in res.problems[:20]:
        print(f"problem: {p}")
    print(f"workload {args.workload} seed {args.seed}: attempted {res.attempted}, "
          f"failed {res.failed}, latency samples {len(res.latencies_s)}, "
          f"rounds {len(res.rounds_s)}, window {res.window_s:.2f} s")
    print("phases: " + ", ".join(
        f"{k} {v:.2f} s" for k, v in report["phases"].items()))
    for k, (v, u) in report["lines"].items():
        print(f"{k} = {v:.6g} {u}")
    metrics = report["metrics"]
    print(json.dumps({
        "correct": res.failed == 0 and bool(metrics),
        "attempted": max(res.attempted, 1),
        "failed": res.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


def run(args, W, work: str) -> dict:
    """Set up the engine, run the workload (a traced run brackets its
    traced window with untraced rounds) and gather every figure it
    reports."""
    from spans import Tracer, event_log_by_op, self_time_by_layer, sum_ops

    cpus = len(os.sched_getaffinity(0))
    log_dir = configure_env(work, bool(args.trace))
    tracer = Tracer(bool(args.trace))

    t0 = time.perf_counter()
    with tracer.span("session.get_spark", "session"):
        from weather_bigdata_project_spark.session import get_spark

        spark = get_spark("perfbench", cpus=cpus)
    t1 = time.perf_counter()
    with tracer.span("registry.load", "registry"):
        from weather_bigdata_project_spark import registry

        registry.load()
    setup_s = time.perf_counter() - t0

    ctx = W.Ctx(spark, args.seed, args.seconds, work, tracer, bool(args.trace))
    phases = {"setup": setup_s}
    mark = time.perf_counter()

    def phase(name: str) -> None:
        nonlocal mark
        now = time.perf_counter()
        phases[name] = now - mark
        mark = now

    workload = W.WORKLOADS[args.workload](ctx)
    tracer.enabled = False
    workload.prepare()
    phase("prepare")
    plain = W.Result()
    if args.trace:
        # untraced rounds on both sides of the traced window give
        # trace_overhead_frac; bracketing cancels the JIT's warm-up trend
        ctx.window_tag = "untraced"
        workload.round(plain)
        phase("untraced round")
    tracer.enabled = bool(args.trace)
    ctx.window_tag = "timed"
    res = W.Result()
    workload.window(res)
    phase("window")
    rss = W.peak_rss_mb()
    tracer.enabled = False
    if args.trace:
        ctx.window_tag = "untraced"
        workload.round(plain)
        phase("untraced round 2")
    workload.gate(res)
    phase("gate")
    if args.trace:
        workload.layers(res)
        phase("layers")
    ctx.spark.stop()

    if not res.latencies_s or not res.rounds_s:
        res.fail(1, "no operation completed")
    lines = {
        "setup_s": (setup_s, "s"),
        "peak_rss_mb": (rss, "MB"),
        "error_rate": (res.failed / max(res.attempted, 1), "ratio"),
        **res.headline,
    }
    metrics = {}
    if res.latencies_s and res.rounds_s and res.rounds_cpu_s:
        lines["latency_p50_s"] = (W.pct(res.latencies_s, 0.5), "s")
        lines["round_s"] = (W.pct(res.rounds_s, 0.5), "s")
        metrics = {
            "setup_s": (setup_s, "s"),
            "round_cpu_s": (W.pct(res.rounds_cpu_s, 0.5), "s"),
            "peak_rss_mb": (rss, "MB"),
        }
        lines["round_cpu_s"] = metrics["round_cpu_s"]
    if not args.trace:
        return {"res": res, "lines": lines, "metrics": metrics, "phases": phases}

    layers = dict(res.layers)
    layers["session.get_spark_s"] = (t1 - t0, "s")
    layers["registry.load_s"] = (setup_s - (t1 - t0), "s")
    if plain.rounds_s and res.rounds_s:
        layers["trace_overhead_frac"] = (
            W.pct(res.rounds_s, 0.5) / W.pct(plain.rounds_s, 0.5) - 1.0, "ratio")
    timed = sum_ops(event_log_by_op(log_dir), "timed:")
    ops = max(res.ops, 1)
    busy = sum(res.rounds_s) if args.workload == "ingest" else sum(res.latencies_s)
    layers.update({
        "engine.plan_share": (res.plan_s / max(busy, 1e-9), "ratio"),
        "spark.jobs_per_op": (timed["jobs"] / ops, "count"),
        "spark.tasks_per_op": (timed["tasks"] / ops, "count"),
        "spark.input_rows_per_op": (timed["input_rows"] / ops, "count"),
        "spark.tasks": (float(timed["tasks"]), "count"),
        "spark.shuffle_write_bytes": (float(timed["shuffle_write_bytes"]), "B"),
        "spark.spill_bytes": (float(timed["spill_bytes"]), "B"),
        "spark.gc_s": (timed["gc_ms"] / 1e3, "s"),
        "spark.executor_run_s": (timed["executor_run_ms"] / 1e3, "s"),
        "spark.executor_cpu_s": (timed["executor_cpu_ns"] / 1e9, "s"),
        "spark.core_busy_share": (
            timed["executor_run_ms"] / 1e3 / max(res.window_s * cpus, 1e-9),
            "ratio"),
    })
    if args.workload == "dashboard":
        layers["spark.rows_scanned_per_panel"] = layers["spark.input_rows_per_op"]
        layers["spark.jobs_per_panel"] = layers["spark.jobs_per_op"]
    for layer, secs in sorted(self_time_by_layer(tracer.spans).items()):
        layers[f"self_s.{layer}"] = (secs, "s")
    lines.update(layers)
    metrics = {k: layers[k] for k in PER_LAYER if k in layers}
    return {"res": res, "lines": lines, "metrics": metrics, "phases": phases,
            "tracer": tracer}


#: per-layer metrics every traced run reports (BENCHMARK.json per_layer)
PER_LAYER = [
    "session.get_spark_s", "registry.load_s", "trace_overhead_frac",
    "engine.plan_share", "spark.jobs_per_op", "spark.tasks_per_op",
    "spark.input_rows_per_op", "spark.shuffle_write_bytes", "spark.gc_s",
    "spark.executor_run_s", "spark.executor_cpu_s", "spark.core_busy_share",
]


if __name__ == "__main__":
    sys.exit(main())
