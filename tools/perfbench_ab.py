"""Interleaved A/B of perfbench: a base revision against the head.

The same code's `round_cpu_s` can read twice as high at one time as at
another on a shared host, so a claimed gain is only evidence when base
and head run back to back on the same seeds, alternating. This
tool checks the base revision out into a temporary directory outside
the repo (`git archive`), then for each seed runs

    python3 perfbench/run.py --workload W --seed S --seconds T --trace 0

with T the `run_seconds` of `BENCHMARK.json`, once in each tree, base
first on even-indexed seeds and head first on odd ones, and summarizes
every metric `BENCHMARK.json` declares for the mode: median with q1-q3
per side, the head/base ratio of the medians, how many seed pairs head
won, and the `correct`/`failed` of every run. `--also NAME` adds a
metric perfbench prints as a `NAME = value unit` line, or a phase of
its `phases:` line as `phase.<name>` (e.g. `--also phase.prepare`).
A pair in which either run is incorrect is refused: it is listed, left
out of the summary, and the tool exits 1.

The head is the working tree of this checkout. Every run is printed as
one JSON line, and appended to `--out` when given; `--summarize FILE`
re-reads such lines without running anything.

Usage:
    python3 tools/perfbench_ab.py --base 15a5b85 --workload dashboard \\
        --seeds 30-39 [--trace 0] [--also panel_p50_s] \\
        [--out runs.jsonl]
    python3 tools/perfbench_ab.py --summarize runs.jsonl [--also NAME]
"""

from __future__ import annotations

import argparse
import json
import os
import re
import shutil
import statistics
import subprocess
import sys
import tempfile

_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: a metric line perfbench prints before its JSON result: "name = value unit"
_PRINTED = re.compile(r"^([\w.]+) = (\S+) \S+$")


def parse_seeds(spec: str) -> list[int]:
    """"30-39" or "30,31,35" (or a mix) -> a list of seeds."""
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += range(int(lo), int(hi or lo) + 1)
    return out


def checkout(rev: str) -> str:
    """Extract `rev` of this repo into a fresh temporary directory."""
    tree = tempfile.mkdtemp(prefix="perfbench-ab-")
    archive = subprocess.run(
        ["git", "archive", rev], cwd=_REPO_ROOT, capture_output=True, check=True
    )
    subprocess.run(["tar", "-x", "-C", tree], input=archive.stdout, check=True)
    return tree


def parse_phases(line: str) -> dict[str, float]:
    """perfbench's "phases: setup 5.32 s, prepare 3.10 s, ..." line as
    {"phase.setup": 5.32, "phase.prepare": 3.1, ...}; spaces in a phase
    name become underscores ("phase.untraced_round")."""
    out = {}
    for part in line.removeprefix("phases: ").split(", "):
        name, _, secs = part.removesuffix(" s").rpartition(" ")
        out["phase." + name.replace(" ", "_")] = float(secs)
    return out


def run_one(tree: str, side: str, workload: str, seed: int, seconds: float,
            trace: int) -> dict:
    """One perfbench run in `tree`, as a record: its JSON result's
    `correct`, `failed` and metric values, plus every printed metric
    and every phase (`phase.<name>`, see :func:`parse_phases`)."""
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=tree, capture_output=True, text=True,
    )
    lines = proc.stdout.strip().splitlines()
    rec = {"side": side, "workload": workload, "seed": seed, "rc": proc.returncode,
           "correct": False, "failed": None, "metrics": {}, "printed": {}}
    for line in lines[:-1]:
        if line.startswith("phases: "):
            rec["printed"].update(parse_phases(line))
        m = _PRINTED.match(line)
        if m:
            try:
                rec["printed"][m.group(1)] = float(m.group(2))
            except ValueError:
                pass
    try:
        result = json.loads(lines[-1])
    except (IndexError, json.JSONDecodeError):
        rec["error"] = (proc.stderr.strip().splitlines() or ["no output"])[-1]
        return rec
    rec["correct"] = proc.returncode == 0 and result.get("correct") is True
    rec["failed"] = result.get("failed")
    rec["metrics"] = {k: v["value"] for k, v in result.get("metrics", {}).items()}
    return rec


def _quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, med, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, med, q3


def summarize(records: list[dict], metrics: dict[str, str]) -> dict:
    """Pair base and head runs by (workload, seed) and summarize each
    metric over the pairs in which both runs are correct."""
    pairs: dict[tuple, dict] = {}
    for r in records:
        pairs.setdefault((r["workload"], r["seed"]), {})[r["side"]] = r
    kept, refused = [], []
    for key in sorted(pairs):
        p = pairs[key]
        if set(p) != {"base", "head"}:
            refused.append((key, "one side missing"))
        elif not (p["base"]["correct"] and p["head"]["correct"]):
            refused.append((key, f"correct base={p['base']['correct']} "
                                 f"head={p['head']['correct']}"))
        else:
            kept.append(p)
    rows = {}
    for name, better in metrics.items():
        vals = [(_value(p["base"], name), _value(p["head"], name)) for p in kept]
        vals = [(b, h) for b, h in vals if b is not None and h is not None]
        if not vals:
            continue
        bq, hq = _quartiles([b for b, _ in vals]), _quartiles([h for _, h in vals])
        wins = sum(1 for b, h in vals if (h < b if better == "lower" else h > b))
        rows[name] = {
            "better": better, "pairs": len(vals),
            "base": bq, "head": hq,
            "ratio": hq[1] / bq[1] if bq[1] else None,
            "head_wins": wins,
            "median_gap_over_base_iqr": (
                abs(hq[1] - bq[1]) / (bq[2] - bq[0]) if bq[2] > bq[0] else None
            ),
        }
    return {"rows": rows, "refused": refused, "pairs": len(kept),
            "runs": [(r["workload"], r["seed"], r["side"], r["correct"], r["failed"])
                     for r in records]}


def _value(rec: dict, name: str) -> float | None:
    v = rec["metrics"].get(name, rec["printed"].get(name))
    return None if v is None else float(v)


def render(summary: dict) -> str:
    out = [f"{summary['pairs']} pairs summarized"]
    for (workload, seed), why in summary["refused"]:
        out.append(f"REFUSED pair {workload} seed {seed}: {why}")
    out.append("| metric | base median (q1-q3) | head median (q1-q3) "
               "| head/base | head better | gap/base IQR |")
    out.append("| --- | --- | --- | --- | --- | --- |")
    for name, r in summary["rows"].items():
        b, h = r["base"], r["head"]
        gap = r["median_gap_over_base_iqr"]
        ratio = r["ratio"]
        out.append(
            f"| {name} | {b[1]:.4g} ({b[0]:.4g}-{b[2]:.4g}) "
            f"| {h[1]:.4g} ({h[0]:.4g}-{h[2]:.4g}) "
            f"| {'-' if ratio is None else f'{ratio:.3f}'} "
            f"| {r['head_wins']}/{r['pairs']} "
            f"| {'-' if gap is None else f'{gap:.2f}'} |"
        )
    out.append("runs: " + ", ".join(
        f"{w}/{s}/{side} correct={c} failed={f}"
        for w, s, side, c, f in summary["runs"]))
    return "\n".join(out)


def load_benchmark() -> dict:
    with open(os.path.join(_REPO_ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def metric_specs(bench: dict, trace: int, also: list[str]) -> dict[str, str]:
    """name -> "lower"/"higher": the metrics `bench` declares for the
    mode (end to end, or per layer for a traced run), plus the
    `--also NAME[:higher]` ones, lower-better unless marked."""
    metrics = {m["name"]: m["better"]
               for m in bench["per_layer" if trace else "end_to_end"]}
    for spec in also:
        name, _, better = spec.partition(":")
        metrics[name] = better or "lower"
    return metrics


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--base", help="base revision (required unless --summarize)")
    ap.add_argument("--workload", default="dashboard")
    ap.add_argument("--seeds", default="30-39")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--also", action="append", default=[],
                    help="another metric to summarize, NAME or NAME:higher")
    ap.add_argument("--out", help="append each run's JSON line here")
    ap.add_argument("--summarize", help="summarize JSON lines from this file")
    args = ap.parse_args()
    bench = load_benchmark()
    metrics = metric_specs(bench, args.trace, args.also)

    if args.summarize:
        with open(args.summarize) as f:
            records = [json.loads(line) for line in f if line.strip()]
    else:
        if not args.base:
            ap.error("--base is required")
        records = []
        trees = {"base": checkout(args.base), "head": _REPO_ROOT}
        try:
            for i, seed in enumerate(parse_seeds(args.seeds)):
                order = ("base", "head") if i % 2 == 0 else ("head", "base")
                for side in order:
                    rec = run_one(trees[side], side, args.workload, seed,
                                  bench["run_seconds"], args.trace)
                    records.append(rec)
                    line = json.dumps(rec)
                    if args.out:
                        with open(args.out, "a") as f:
                            f.write(line + "\n")
                    print(line, flush=True)
        finally:
            shutil.rmtree(trees["base"], ignore_errors=True)
    summary = summarize(records, metrics)
    print(render(summary))
    return 1 if summary["refused"] else 0


if __name__ == "__main__":
    sys.exit(main())
