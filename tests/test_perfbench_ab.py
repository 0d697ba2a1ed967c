"""tools/perfbench_ab.py's summary, on canned run records (no Spark)."""

from __future__ import annotations

import json
import os
import shutil
import subprocess

from tools import perfbench_ab as ab


def _rec(side, seed, cpu, correct=True, panel=None):
    return {
        "side": side, "workload": "dashboard", "seed": seed, "rc": 0,
        "correct": correct, "failed": 0 if correct else 3,
        "metrics": {"round_cpu_s": cpu, "setup_s": 10.0, "peak_rss_mb": 1250.0},
        "printed": {} if panel is None else {"panel_p50_s": panel},
    }


def test_parse_seeds():
    assert ab.parse_seeds("30-33") == [30, 31, 32, 33]
    assert ab.parse_seeds("7,9-10") == [7, 9, 10]


def test_summary_pairs_by_seed_and_counts_head_wins():
    base = [4.0, 3.0, 5.0, 3.5, 4.5]
    head = [3.0, 2.0, 4.0, 3.6, 3.5]
    recs = []
    for i, (b, h) in enumerate(zip(base, head)):
        recs += [_rec("head", 30 + i, h, panel=0.1), _rec("base", 30 + i, b, panel=0.2)]
    s = ab.summarize(recs, {"round_cpu_s": "lower", "peak_rss_mb": "lower",
                            "panel_p50_s": "lower"})
    assert s["pairs"] == 5 and s["refused"] == []
    cpu = s["rows"]["round_cpu_s"]
    assert cpu["base"] == (3.5, 4.0, 4.5)
    assert cpu["head"] == (3.0, 3.5, 3.6)
    assert cpu["ratio"] == 3.5 / 4.0
    assert cpu["head_wins"] == 4  # seed 33 is the one base won
    assert cpu["median_gap_over_base_iqr"] == 0.5
    assert s["rows"]["peak_rss_mb"]["head_wins"] == 0  # ties are no win
    assert s["rows"]["peak_rss_mb"]["median_gap_over_base_iqr"] is None
    assert s["rows"]["panel_p50_s"]["ratio"] == 0.5  # a printed metric


def test_higher_is_better_metrics_count_the_other_way():
    recs = [_rec("base", 1, 2.0), _rec("head", 1, 3.0)]
    s = ab.summarize(recs, {"round_cpu_s": "higher"})
    assert s["rows"]["round_cpu_s"]["head_wins"] == 1


def test_a_pair_with_an_incorrect_run_is_refused(tmp_path, capsys, monkeypatch):
    recs = [
        _rec("base", 30, 4.0), _rec("head", 30, 3.0),
        _rec("base", 31, 4.0), _rec("head", 31, 0.1, correct=False),
        _rec("base", 32, 4.0),
    ]
    s = ab.summarize(recs, {"round_cpu_s": "lower"})
    assert s["pairs"] == 1
    assert [k for k, _ in s["refused"]] == [("dashboard", 31), ("dashboard", 32)]
    assert s["rows"]["round_cpu_s"]["head"] == (3.0, 3.0, 3.0)
    text = ab.render(s)
    assert "REFUSED pair dashboard seed 31" in text
    assert "31/head correct=False failed=3" in text

    path = tmp_path / "runs.jsonl"
    path.write_text("".join(json.dumps(r) + "\n" for r in recs))
    monkeypatch.setattr("sys.argv", ["perfbench_ab.py", "--summarize", str(path)])
    assert ab.main() == 1
    assert "| round_cpu_s | 4 (4-4) | 3 (3-3) | 0.750 | 1/1 |" in capsys.readouterr().out


def test_checkout_takes_a_revision_with_a_slash(tmp_path, monkeypatch):
    repo = tmp_path / "repo"
    repo.mkdir()
    (repo / "run.py").write_text("print(1)\n")
    git = ["git", "-C", str(repo), "-c", "user.name=t", "-c", "user.email=t@t"]
    subprocess.run(git[:3] + ["init", "-q"], check=True)
    subprocess.run(git + ["add", "run.py"], check=True)
    subprocess.run(git + ["commit", "-qm", "x"], check=True)
    subprocess.run(git + ["branch", "feature/x"], check=True)
    monkeypatch.setattr(ab, "_REPO_ROOT", str(repo))
    tree = ab.checkout("feature/x")
    try:
        assert os.path.isfile(os.path.join(tree, "run.py"))
    finally:
        shutil.rmtree(tree)


def test_run_one_reads_printed_metrics_and_phases(monkeypatch):
    stdout = "\n".join([
        "workload ingest seed 7: attempted 3, failed 0, latency samples 9, "
        "rounds 3, window 10.00 s",
        "phases: setup 5.32 s, prepare 3.10 s, untraced round 1.20 s, "
        "window 10.01 s, gate 0.40 s",
        "freshness_p50_s = 0.45 s",
        "sinks.files_per_batch = 4 count",
        json.dumps({"correct": True, "attempted": 3, "failed": 0,
                    "metrics": {"setup_s": {"value": 5.32, "unit": "s"}}}),
    ])
    done = subprocess.CompletedProcess([], 0, stdout=stdout, stderr="")
    monkeypatch.setattr(ab.subprocess, "run", lambda *a, **k: done)
    rec = ab.run_one("unused", "head", "ingest", 7, 10, 0)
    assert rec["correct"] and rec["failed"] == 0
    assert rec["metrics"] == {"setup_s": 5.32}
    assert rec["printed"] == {
        "phase.setup": 5.32, "phase.prepare": 3.1, "phase.untraced_round": 1.2,
        "phase.window": 10.01, "phase.gate": 0.4,
        "freshness_p50_s": 0.45, "sinks.files_per_batch": 4.0,
    }
    s = ab.summarize([dict(rec, side="base"), rec], ab.metric_specs(
        {"end_to_end": [{"name": "setup_s", "better": "lower"}]}, 0,
        ["phase.prepare"]))
    assert s["rows"]["phase.prepare"]["ratio"] == 1.0


def test_runs_last_the_benchmark_s_run_seconds(monkeypatch, capsys):
    calls = []

    def fake_run_one(tree, side, workload, seed, seconds, trace):
        calls.append(seconds)
        return _rec(side, seed, 1.0)

    monkeypatch.setattr(ab, "checkout", lambda rev: "unused")
    monkeypatch.setattr(ab.shutil, "rmtree", lambda *a, **k: None)
    monkeypatch.setattr(ab, "run_one", fake_run_one)
    monkeypatch.setattr("sys.argv", ["perfbench_ab.py", "--base", "HEAD",
                                     "--seeds", "1-2"])
    assert ab.main() == 0
    assert calls == [ab.load_benchmark()["run_seconds"]] * 4
