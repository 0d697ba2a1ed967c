"""Gate on the committed shuffle-growth ledger (SHUFFLE_LEDGER.json).

The ledger (tools/shuffle_ledger.py) records, for every headline query,
shuffle volume at two SFs and the derived growth exponent. These tests
fail if any query's committed exponent exceeds its declared bound — the
plan-level regression signal for "a refactor reintroduced a quadratic
shuffle" that wall-clock benchmarks on a noisy box cannot give.

One live test also drives the stage-diff extractor itself on a known
shuffling query, so extractor rot (Spark API drift, status-store lag)
can't silently turn the ledger into zeros that trivially pass.
"""

from __future__ import annotations

import json
import os

import pytest

from tools.shuffle_ledger import (
    BOUNDS,
    BYTES_FLOOR,
    DEFAULT_BOUND,
    EXTENDED,
    FLAT_CAP,
    LINEAR_RECORDS_K,
    classify,
    measure,
)
from bench import HEADLINE
from weather_bigdata_project_spark.registry import QUERIES, load

from tests.conftest import SF_SMOKE

load()

_LEDGER = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "SHUFFLE_LEDGER.json",
)


@pytest.fixture(scope="module")
def ledger():
    if not os.path.exists(_LEDGER):
        pytest.skip("SHUFFLE_LEDGER.json not generated yet")
    with open(_LEDGER) as f:
        return json.load(f)


def test_ledger_covers_headline(ledger):
    missing = [n for n in HEADLINE if n not in ledger["queries"]]
    assert not missing, f"headline queries missing from ledger: {missing}"


def test_ledger_covers_extended_suite(ledger):
    """Round-5 extension: the 30 shuffle-heaviest non-headline queries
    are gated too — the ledger must keep covering them (>= 80 total)."""
    missing = [n for n in EXTENDED if n not in ledger["queries"]]
    assert not missing, f"extended queries missing from ledger: {missing}"
    assert ledger["n_queries"] >= 80


def test_no_query_exceeds_declared_exponent(ledger):
    """Re-derive every verdict from the entry's STORED numbers with the
    tool's own classify() — no entry may classify EXCEEDED, and the
    committed verdict must MATCH the re-derivation (a hand-edited
    verdict field cannot pass)."""
    bad = {}
    stale = {}
    for name, ent in ledger["queries"].items():
        bound = BOUNDS.get(name, DEFAULT_BOUND)
        got = classify(ent, bound)
        if got == "EXCEEDED":
            bad[name] = (ent["exponent_bytes"], bound)
        if ent["verdict"] != got:
            stale[name] = (ent["verdict"], got)
    assert not bad, f"shuffle growth exceeded declared bounds: {bad}"
    assert not stale, (
        f"committed verdicts disagree with classify(): {stale} — "
        "re-run tools/shuffle_ledger.py --reverdict"
    )


def test_transition_verdicts_are_earned(ledger):
    """A 'transition' verdict (strategy flip / combine washout between
    the two largest SFs) is only legal when the mechanical conditions
    hold: every earlier segment within bound, and big-point shuffle
    RECORDS within LINEAR_RECORDS_K x the rows actually read. A pair
    blowup cannot satisfy the records condition (its ratio grows a
    decade per decade); assert the conditions directly so the
    classification stays falsifiable."""
    for name, ent in ledger["queries"].items():
        if ent["verdict"] != "transition":
            continue
        bound = BOUNDS.get(name, DEFAULT_BOUND)
        segs = ent.get("exponent_bytes_segments") or []
        assert ent["exponent_bytes"] is not None
        if ent["exponent_bytes"] > bound:
            # one-point-post-flip shape: the flip sits on the LAST
            # segment, so the new regime is not yet measured — every
            # earlier segment must be in bound and the records ratio
            # must stay linear
            for s in segs[:-1]:
                assert s is None or s <= bound, (name, segs)
            big = ent["big"]
            assert big["input_records"] > 0, name
            ratio = big["shuffle_write_records"] / big["input_records"]
            assert ratio <= LINEAR_RECORDS_K, (name, ratio)
        else:
            # measured-post-flip shape (the round-8 fifth point): an
            # earlier segment crossed the bound — the flip — and the
            # LAST segment measures the new regime back within it
            assert any(
                s is not None and s > bound for s in segs[:-1]
            ), (name, segs, "in-bound last segment but no flip seen")


def test_ledger_not_trivially_empty(ledger):
    """At least half the headline suite must show real shuffle volume at
    the big SF — an all-zeros ledger means the extractor broke, not that
    the engine stopped shuffling."""
    nonzero = [
        n
        for n, ent in ledger["queries"].items()
        if ent["big"]["shuffle_write_bytes"] > 0
    ]
    assert len(nonzero) >= len(ledger["queries"]) // 2


def test_input_records_prove_single_scans(ledger):
    """Scan volume must grow roughly linearly: a query that re-reads
    its input (double fact scan, scalar-subquery recompute) shows an
    input RECORDS exponent above ~1. Records, not bytes — the sf1
    fixture's many-row-group layout carries ~7x more bytes per row
    than the single-row-group driver testdata, so a bytes exponent
    across that generator boundary reads ~1.8 on perfectly single-scan
    queries (column pruning is gated by test_plans' ReadSchema
    assertions instead)."""
    for name, ent in ledger["queries"].items():
        e_inr = ent.get("exponent_input_records")
        if e_inr is not None:
            assert e_inr <= 1.5, (name, e_inr)


def test_extractor_reports_real_shuffles(spark):
    """Live guard: the stage-diff extractor must see nonzero shuffle
    bytes for a groupBy query and count its side-job stages."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    jvm, gw = sc._jvm, sc._gateway
    got = measure(
        spark,
        QUERIES["tpch_q1_pricing_summary"],
        SF_SMOKE,
        store,
        jvm,
        gw,
    )
    assert got["shuffle_write_bytes"] > 0
    assert got["shuffle_write_records"] > 0
    assert got["input_bytes"] > 0
    assert got["n_stages"] >= 2
    assert got["peak_task_shuffle_write_bytes"] > 0


def test_segment_exponents_recorded(ledger):
    """3-point ledgers must carry per-segment exponents; the verdict
    segment (largest SFs) must match exponent_bytes, so the gate always
    reads the regime closest to scale, not the fixed-cost-dominated
    small end."""
    if len(ledger.get("sfs", [])) < 3:
        pytest.skip("2-point ledger")
    for name, ent in ledger["queries"].items():
        # merged entries (the sf1 extension) carry their own longer
        # series; everyone else inherits the base run's
        sfs = ent.get("sfs", ledger["sfs"])
        segs = ent.get("exponent_bytes_segments")
        assert segs is not None and len(segs) == len(sfs) - 1
        assert segs[-1] == ent["exponent_bytes"]


def test_sf1_fourth_point_on_heaviest(ledger):
    """Round-6 extension: the 10 shuffle-heaviest queries carry a
    FOURTH ledger point at sf1-shape (10x the bench scale, generated by
    the fixture-fuzz generator at scale=100) and their verdicts hold on
    the sf0.1 -> sf1 segment — a decade more data than the base gate."""
    four = {
        n: ent
        for n, ent in ledger["queries"].items()
        if len(ent.get("sfs", [])) >= 4
    }
    if not four:
        pytest.skip("sf1 extension not yet merged into this ledger")
    assert len(four) >= 10
    for name, ent in four.items():
        # round-8: the five transition queries carry a FIFTH point at
        # sf3-shape on top of the sf1 fourth
        assert ent["sfs"][-1] in (1.0, 3.0), name
        assert 1.0 in ent["sfs"], name
        assert ent["verdict"] in ("ok", "flat", "transition"), (
            name,
            ent["verdict"],
        )
        bound = BOUNDS.get(name, DEFAULT_BOUND)
        assert classify(ent, bound) == ent["verdict"], name


def test_transition_queries_measure_the_post_flip_regime(ledger):
    """Round-8: the five queries whose round-7 'transition' verdicts
    rested on the records-ratio argument now carry a FIFTH ledger
    point at sf3-shape, so the post-broadcast-flip slope is MEASURED:
    the last (sf1 -> sf3) segment exponent must be within the
    declared bound — the linear-again claim as a number, not an
    argument."""
    five = [
        "tpch_q3_order_revenue",
        "tpch_q18_large_volume_orders",
        "join_session_overlap",
        "orders_rfm_segments",
        "lineitem_bloom_join_prune",
    ]
    for name in five:
        ent = ledger["queries"][name]
        if ent["sfs"][-1] != 3.0:
            pytest.skip(f"{name}: sf3 fifth point not merged yet")
        bound = BOUNDS.get(name, DEFAULT_BOUND)
        segs = ent["exponent_bytes_segments"]
        assert len(segs) == 4, (name, segs)
        assert segs[-1] is not None and segs[-1] <= bound, (name, segs)
        assert ent["verdict"] == "transition", (name, ent["verdict"])


def test_heavy_stage_skew_bounded(ledger):
    """The heaviest stage's max-task/avg-task shuffle-write ratio is the
    partition that outgrows its peers at scale. Salting/AQE keep the
    measured suite <= 3; gate at 6 so noise can't flake but a genuinely
    skewed key (ratio 10-100x) fails."""
    for name, ent in ledger["queries"].items():
        skew = ent["big"].get("heavy_stage_skew")
        if skew is not None and ent["big"]["shuffle_write_bytes"] > BYTES_FLOOR:
            assert skew <= 6.0, (name, skew)
