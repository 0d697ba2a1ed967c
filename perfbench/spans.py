"""Spans, per-layer self time, and Spark's own reporting for the traced run.

Spans are recorded only from the benchmark's files: around each call the
benchmark makes into the engine, and around engine functions wrapped by
:func:`instrument` (a traced run swaps module attributes for timing
wrappers, so the engine's own internal calls through those attributes
nest as child spans). Spans stay in memory and are written out once, at
the end of the run.
"""

from __future__ import annotations

import functools
import itertools
import json
import os
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: int
    parent: int | None
    name: str
    layer: str
    request: str | None
    start_ns: int
    end_ns: int


class Tracer:
    """Span recorder; a disabled tracer records nothing and costs one
    attribute check per span."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._local = threading.local()

    def _stack(self) -> list[tuple[int, str | None]]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str, layer: str, request: str | None = None):
        if not self.enabled:
            yield
            return
        stack = self._stack()
        parent, parent_req = stack[-1] if stack else (None, None)
        sid = next(self._ids)
        req = request or parent_req
        stack.append((sid, req))
        start = time.perf_counter_ns()
        try:
            yield
        finally:
            end = time.perf_counter_ns()
            stack.pop()
            self.spans.append(Span(sid, parent, name, layer, req, start, end))

    def wrap(self, fn, name: str, layer: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name, layer):
                return fn(*args, **kwargs)

        return traced

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)


def instrument(tracer: Tracer, module, names: list[str], layer: str) -> None:
    """Replace ``module.<name>`` by a span-recording wrapper for each name.
    Called in traced runs only; the wrappers record while the tracer is
    enabled, and the process ends after the run, so nothing is put back."""
    for n in names:
        fn = getattr(module, n)
        setattr(module, n, tracer.wrap(fn, f"{layer}.{n}", layer))


def self_time_by_layer(spans: list[Span]) -> dict[str, float]:
    """Seconds each layer spent in its own spans, minus the part of each
    span's interval that its child spans cover."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out: dict[str, float] = {}
    for s in spans:
        covered = 0
        cursor = s.start_ns
        for c in sorted(children.get(s.id, ()), key=lambda c: c.start_ns):
            lo, hi = max(c.start_ns, cursor), min(c.end_ns, s.end_ns)
            if hi > lo:
                covered += hi - lo
                cursor = hi
        own = (s.end_ns - s.start_ns - covered) / 1e9
        out[s.layer] = out.get(s.layer, 0.0) + own
    return out


# --- Spark event log -------------------------------------------------------

#: local property that tags every Spark job with the benchmark operation
#: that caused it (thread-local in PySpark's pinned-thread mode)
OP_PROPERTY = "perfbench.op"


METRIC_KEYS = (
    "jobs", "tasks", "executor_run_ms", "executor_cpu_ns", "gc_ms",
    "shuffle_write_bytes", "spill_bytes", "input_rows", "output_bytes",
)


def event_log_by_op(log_dir: str) -> dict[str, dict[str, int]]:
    """Fold the job-start and task-end records of the run's Spark event
    log into per-operation totals (:data:`METRIC_KEYS`). An operation is
    the job's :data:`OP_PROPERTY` value; jobs without one (the session's
    own warm-up) fold into ``"other"``."""
    stage_op: dict[int, str] = {}
    out: dict[str, dict[str, int]] = {}

    def acc(op: str) -> dict[str, int]:
        if op not in out:
            out[op] = dict.fromkeys(METRIC_KEYS, 0)
        return out[op]

    paths = sorted(
        os.path.join(d, n) for d, _, names in os.walk(log_dir) for n in names
    )
    for path in paths:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    op = props.get(OP_PROPERTY, "other")
                    acc(op)["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_op[sid] = op
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    a = acc(stage_op.get(ev.get("Stage ID"), "other"))
                    a["tasks"] += 1
                    a["executor_run_ms"] += m.get("Executor Run Time", 0)
                    a["executor_cpu_ns"] += m.get("Executor CPU Time", 0)
                    a["gc_ms"] += m.get("JVM GC Time", 0)
                    a["shuffle_write_bytes"] += (
                        m.get("Shuffle Write Metrics") or {}
                    ).get("Shuffle Bytes Written", 0)
                    a["spill_bytes"] += m.get(
                        "Memory Bytes Spilled", 0
                    ) + m.get("Disk Bytes Spilled", 0)
                    a["input_rows"] += (
                        m.get("Input Metrics") or {}
                    ).get("Records Read", 0)
                    a["output_bytes"] += (
                        m.get("Output Metrics") or {}
                    ).get("Bytes Written", 0)
    return out


def sum_ops(by_op: dict[str, dict[str, int]], prefix: str) -> dict[str, int]:
    """Totals over the operations whose tag starts with `prefix`."""
    tot = dict.fromkeys(METRIC_KEYS, 0)
    for op, m in by_op.items():
        if op.startswith(prefix):
            for k in METRIC_KEYS:
                tot[k] += m[k]
    return tot
