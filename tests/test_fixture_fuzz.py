"""Gates for the differential fixture-fuzz harness (tools/fixture_fuzz):
the generator must keep producing driver-shaped tables (schemas,
physical types, value domains) and a cross-family query slice must stay
oracle-green on BOTH a fresh seed and the hostile skewed variant. The
full-registry fuzz runs out-of-band (FUZZ.md records it); this test
keeps the harness itself from rotting."""

from __future__ import annotations

import duckdb
import pyarrow.parquet as pq

from tools.check_oracle import sweep
from tools.fixture_fuzz import gen_tables

#: one query per family: weather synth, TPC-H join/agg, window, asof,
#: dedup shingles, ANN, text, curation split, sketch, multimodal kernel
SLICE = [
    "weather_city_stats",
    "tpch_q1_pricing_summary",
    "window_lag_delta_events",
    "join_asof_purchase_last_click",
    "dedup_ngram_jaccard",
    "embed_knn_bruteforce",
    "text_token_stats",
    "corpus_split_assign",
    "events_cms_frequency",
    "multimodal_ppm_decode_stats",
]


def _sweep(spark, d, names=SLICE):
    r = sweep(spark, d, names)
    assert r["ok"] == len(names), r["failures"]


def test_generator_matches_driver_physical_schemas(tmp_path):
    """Generated parquet must carry the driver fixture's exact column
    names and physical types — a drifted schema would silently turn the
    fuzz into a test of a different table."""
    d = str(tmp_path / "g")
    gen_tables(7, d, scale=0.1)
    for t in ["region", "nation", "customer", "supplier", "part",
              "orders", "lineitem", "events", "documents", "embeddings"]:
        want = pq.read_schema(f"/root/testdata/sf0.001/{t}.parquet")
        got = pq.read_schema(f"{d}/{t}.parquet")
        assert got.names == want.names, t
        for n in want.names:
            assert got.field(n).type == want.field(n).type, (t, n)


def test_fresh_seed_slice_is_oracle_green(spark, tmp_path):
    d = str(tmp_path / "s7")
    gen_tables(7, d, scale=0.1)
    _sweep(spark, d)


def test_tiny_variant_slice_is_oracle_green(spark, tmp_path):
    """The n=1/empty-sketch hammer: single-digit groups, 12-doc/12-vec
    corpora. The slice pins the two defects this profile found (the
    KM absorbing zero and the empty-KMV ratios) plus a cross-family
    sample."""
    d = str(tmp_path / "t29")
    gen_tables(29, d, tiny=True)
    _sweep(spark, d, SLICE + ["events_survival_km", "events_kmv_setops"])


def test_fuzz_record_json_matches_md_table():
    """The committed record must be machine-checkable (round-5 verdict's
    bookkeeping item: the JSON stopped at 6 rows while FUZZ.md's table
    showed 12). Every FUZZ.md table row must have a same-tag
    FUZZ_results.json row with numeric secs and matching ok/fail/weak,
    and the record must be all-green."""
    import json
    import os
    import re

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "FUZZ_results.json")) as f:
        rows = {r["tag"]: r for r in json.load(f)}
    md_rows = []
    for line in open(os.path.join(root, "FUZZ.md")):
        m = re.match(
            r"\| (\S+) \| (\d+) \| (\w+) \| ([\d.]+) \| (\d+) "
            r"\| (\d+) \| (\d+) \| (\d+) \| ([\d.]+) \|",
            line,
        )
        if m:
            md_rows.append(m.groups())
    assert len(md_rows) >= 12  # 9 fresh seeds + skew/sparse/tiny
    assert len(md_rows) == len(rows)
    for tag, seed, profile, scale, nq, ok, fail, weak, secs in md_rows:
        r = rows[tag]
        assert (r["seed"], r["profile"]) == (int(seed), profile)
        assert (r["ok"], r["fail"], r["weak"]) == (
            int(ok), int(fail), int(weak),
        )
        assert r["fail"] == 0 and r["failures"] == []
        assert isinstance(r["secs"], (int, float)) and r["secs"] > 0
        assert abs(float(secs) - r["secs"]) < 0.05
        assert abs(float(scale) - r.get("scale", 1.0)) < 1e-9


def test_skewed_variant_slice_is_oracle_green(spark, tmp_path):
    """The hostile shape: heavy-tailed users, dominant source/type,
    near-constant measures, dup mass, single-token docs."""
    d = str(tmp_path / "sk13")
    gen_tables(13, d, skew=True, scale=0.1)
    _sweep(spark, d)
    # the skew knobs actually engage: dominant source + exact dup mass
    con = duckdb.connect()
    (top_src,) = con.execute(
        f"SELECT MAX(c) * 1.0 / SUM(c) FROM (SELECT COUNT(*) AS c "
        f"FROM '{d}/documents.parquet' GROUP BY source)"
    ).fetchone()
    assert top_src > 0.4
    (dups,) = con.execute(
        f"SELECT COUNT(*) FROM (SELECT text FROM '{d}/documents.parquet' "
        "GROUP BY text HAVING COUNT(*) > 1)"
    ).fetchone()
    assert dups > 0


def test_fuzz_md_is_generated_from_the_record():
    """FUZZ.md is exactly what a full run writes from FUZZ_results.json,
    so neither can be edited without the other."""
    import json
    import os

    from tools.fixture_fuzz import fuzz_md

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "FUZZ_results.json")) as f:
        rows = json.load(f)
    with open(os.path.join(root, "FUZZ.md")) as f:
        assert f.read() == fuzz_md(rows)
