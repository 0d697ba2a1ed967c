"""Differential fixture fuzz: re-prove the whole registry on FRESH data.

Every green in CORRECTNESS_r*.json rides the driver's single synthetic
fixture seed (seed=42, TESTDATA.md). This tool regenerates the complete
star schema (FIXTURES.md §B shapes and value domains) under new seeds —
plus a deliberately SKEWED variant (heavy-tailed users, a dominant
source/type, near-constant columns, dense dup/similarity mass,
single-token documents) and a SPARSE variant (whole categories absent:
no purchases, no benchmark source, no returns, one lang, sub-shingle
docs) and a TINY variant (single-digit group sizes, 12-document/
12-vector corpora — the n=1/empty-sketch hammer) — and re-runs the
full Spark-vs-DuckDB oracle sweep (`tools/check_oracle.sweep`, one
OK/FAIL/WEAK line per query) against each. The comparison is
differential (both engines read the SAME generated parquet), so any
fresh seed is a valid probe: what it catches is data-dependent engine
divergence (float paths, overflow, degenerate ranges, empty groups)
that one lucky seed can hide.

Usage:
    python3 tools/fixture_fuzz.py [--out /tmp/spark_graft_fuzz]
        [--seeds 7 101] [--no-skew] [--no-sparse] [--no-tiny]
        [--scale X] [--scale-docs] [--quick] [names...]

A full run updates FUZZ_results.json by the ledger's rule
(`shuffle_ledger.update_record`): its variants replace the rows of the
same tag, every other row is kept. It then rewrites FUZZ.md from the
merged rows. A --quick run prints its verdicts and writes no record.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

import numpy as np

_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO_ROOT)

from tools.check_oracle import sweep  # noqa: E402
from tools.shuffle_ledger import update_record  # noqa: E402

# --- value domains (profiled from /root/testdata/sf0.01, FIXTURES.md §B) ---

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = [
    "1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW",
]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["cold", "hot", "old", "red", "small", "large"]
PART_NOUN = ["widget", "anvil", "gear", "bolt", "gizmo", "ring"]
EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
LANGS = ["en", "fr", "es", "zh", "de"]
#: the driver fixture's exact 31-token vocabulary — reusing it keeps
#: lang-id / dedup / similarity queries in-distribution
VOCAB = [
    "a", "agg", "batch", "big", "column", "customer", "data", "dup",
    "fast", "filter", "group", "hash", "join", "key", "line", "merge",
    "order", "part", "query", "row", "scan", "slow", "small", "sort",
    "spark", "stream", "table", "the", "value", "vector", "window",
]

#: sf0.01-shape row counts (the driver's correctness-gate scale)
COUNTS = {
    "customer": 1500,
    "supplier": 100,
    "part": 2000,
    "orders": 15000,
    "events": 10000,
    "documents": 500,
    "embeddings": 500,
}

EPOCH_1995 = np.datetime64("1995-01-01")
EPOCH_2024 = np.datetime64("2024-01-01")


#: defect history the fuzz program earned (kept in the generated
#: FUZZ.md so the distribution-level claim stays traceable)
_DEFECTS_MD = """
## Defect the scale program found (fixed in round 6)

- **The last raw `ROUND(x, 2)` (1)**: `window_lag_delta_events` — both
  sides — predated the rnd() doctrine and stayed green through 15 fuzz
  variants and the full sf0.1 sweep because a lag delta in
  (-0.005, 0) needs near-equal ADJACENT values, which 10k-100k-event
  fixtures never produced. The budgeted sf1-shape sweep
  (`tools/check_oracle.py --budget`, 1M events) surfaced it on its
  first run: DuckDB ROUND keeps the sign bit ('-0.0') where Spark's
  BigDecimal round does not, plus the latent .xx5 divergence. Both
  sides now share one `exprs.rnd` spelling (`_LAG_DELTA`);
  `test_lag_delta_signed_zero_and_tie_parity` pins the -0.0 and tie
  cases cross-engine. Lesson recorded: every scale decade is ALSO a
  correctness probe — density makes rare float states reachable.

## Defects the fuzz found (fixed in round 5)

The first skew/sparse/tiny sweeps were NOT green — the program earned
its keep by surfacing 17 real defects the driver's single seed (42)
never exercised, each fixed and re-swept to green:

- **A non-IEEE square root (1)**: the WAV kernel's rms used Python's
  `** 0.5` (libm pow — NOT correctly rounded), which disagrees with
  IEEE sqrt (= DuckDB's SQRT) by one ulp on some inputs; fresh seeds
  505 and 606 each found one such payload among 500. The kernel now
  uses math.sqrt.
- **A signed zero (1)**: fresh seed 404 produced one z-score in
  (-0.0005, 0) that rounded to -0.0 in DuckDB (its ROUND keeps the
  sign bit) and +0.0 in Spark — a 1-row hash mismatch the six prior
  green variants never sampled. `exprs.rnd` now appends `+ 0.0e0`
  (IEEE -0.0 + 0.0 = +0.0), fixing the class for every snapped output
  in the registry; a hypothesis property pins repr-level agreement.

- **ANSI-throwing divisions on degenerate statistics (11)**: constant
  measure columns / single-row groups / one-sided splits / empty
  categories zeroed variance, determinant, predicted-positive, slope,
  rate-heterogeneity, and sketch-size terms in `events_moment_stats`,
  `lineitem_corr_matrix`, `ml_linreg_normal_eq`,
  `ml_linreg_grouped_brands`, `ml_precision_recall`,
  `lineitem_price_volume_mix`, `lineitem_hbos_outliers`,
  `ml_auc_quantity_returns`, `events_retention_halflife`,
  `events_rate_shrinkage_eb`, `events_kmv_setops`. All now
  NULLIF-guarded (NULL = undefined statistic, identical in ANSI
  Spark, default Spark, and DuckDB), with GREATEST(..,0) inside SQRT
  where DuckDB raises on cancellation negatives.
- **A "lossless truth set" that wasn't (2)**: the band-tuning oracle's
  truth CTE reused the banded-candidate frame, silently inheriting the
  banding's recall loss (`dedup_minhash_band_tuning`,
  `dedup_band_tuning_sampled`: oracle said 1453 true pairs where the
  real count was 1888). Now a genuine all-pairs enumeration.
- **A tie-blind sketch bound (1)**: `events_approx_percentile_bounds`
  point-tested count(<=v) and wrongly failed a tied median when one
  value carries most of the mass; it now intersects the value's rank
  interval with the Greenwald-Khanna window.
- **A non-absorbing survival zero (1)**: `events_survival_km` evaluated
  ln(0) on the day everyone remaining converts — DuckDB RAISES, and
  Spark's NULL term is SKIPPED by the window SUM so the curve silently
  resumed above zero on later days. The log term is now guarded and a
  cumulative zero-seen flag pins survival to exact 0 from that day on.

Five more near-miss divisions were hardened proactively
(`embed_dim_variance_spectrum`, `orders_interorder_gamma_fit`,
`part_price_dispersion`, `part_xyz_variability`,
`weather_gumbel_return_levels`).
"""


def _write(out_dir: str, name: str, table) -> None:
    import pyarrow.parquet as pq

    # Bound row groups so big fixtures stay SPLITTABLE: pyarrow's 1M-row
    # default gave the 6M-row sf1-shape lineitem just 6 row groups, so a
    # 32-thread scan left most tasks empty and the shuffle-ledger's
    # heavy-stage skew read ~5 (peak/avg over mostly-empty map tasks) —
    # a file-layout artifact, not key skew. 64+ groups per big table
    # keeps the scan-parallelism shape of a real many-file lake.
    rg = min(1 << 20, max(8192, table.num_rows // 64))
    pq.write_table(
        table, os.path.join(out_dir, f"{name}.parquet"), row_group_size=rg
    )


def _ts_us(base: np.datetime64, offsets_us) -> "np.ndarray":
    return base + np.asarray(offsets_us, dtype="timedelta64[us]")


def gen_tables(
    seed: int,
    out_dir: str,
    skew: bool = False,
    sparse: bool = False,
    tiny: bool = False,
    scale: float = 1.0,
    scale_docs: bool = False,
) -> None:
    """Generate all 10 star-schema parquets (FIXTURES.md §B schemas,
    pyarrow physical types matching the driver fixture) under `seed`.
    skew=True stresses the shapes single-seed greens never see.
    sparse=True removes whole categories the fixture always has —
    no 'purchase' events (funnels/attribution/as-of), no 'src0' docs
    (an EMPTY contamination benchmark), no 'R' returnflags (zero
    positives for every classifier metric), a single lang, and docs
    too short to shingle — probing empty-group/empty-join paths.
    scale multiplies the fact-table row counts (1.0 = the driver's
    sf0.01 gate shape). documents/embeddings sit on a 500-row floor in
    the driver fixture (sf0.001 == sf0.01 == 500) and only grow above
    it — docs x10 and embeddings x4 per sf decade (sf0.1: 5000/2000) —
    so by default they stay at the gate size (right for oracle
    fuzzing: every tuning constant keeps its meaning). scale_docs=True
    applies the driver's above-floor growth law instead, which is what
    the shuffle-ledger scale points need (a dedup query on 500 docs at
    'sf1' measures nothing)."""
    import pyarrow as pa

    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    COUNTS = dict(globals()["COUNTS"])
    for k in ("customer", "supplier", "part", "orders", "events"):
        COUNTS[k] = max(20, int(COUNTS[k] * scale))
    if scale_docs and scale > 1.0:
        # driver growth law above the 500 floor: docs ~ scale,
        # embeddings ~ scale^0.6 (500 -> 2000 at scale 10, measured)
        COUNTS["documents"] = int(COUNTS["documents"] * scale)
        COUNTS["embeddings"] = int(
            COUNTS["embeddings"] * scale ** 0.602
        )
    if tiny:
        # minimal-cardinality hammer: single-digit group sizes, n=1
        # groups, and documents/embeddings far below every tuning
        # constant's comfort zone (these two never scale with sf in the
        # driver fixture, so only this profile shrinks them)
        COUNTS.update(
            customer=20, supplier=5, part=12, orders=40, events=25,
            documents=12, embeddings=12,
        )

    # region / nation: fixed key domains (TPC-H-shape queries reference
    # names), randomized assignment
    _write(out_dir, "region", pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    }))
    _write(out_dir, "nation", pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(rng.integers(0, 5, 25), pa.int32()),
    }))

    ncust = COUNTS["customer"]
    if skew:  # one dominant nation holds half the customers
        nat = np.where(
            rng.random(ncust) < 0.5, 3, rng.integers(0, 25, ncust)
        )
    else:
        nat = rng.integers(0, 25, ncust)
    _write(out_dir, "customer", pa.table({
        "c_custkey": pa.array(range(ncust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(ncust)],
        "c_nationkey": pa.array(nat, pa.int32()),
        "c_acctbal": np.round(rng.uniform(-1000.0, 10000.0, ncust), 2),
        "c_mktsegment": [
            SEGMENTS[i] for i in rng.integers(0, 5, ncust)
        ],
    }))

    nsupp = COUNTS["supplier"]
    _write(out_dir, "supplier", pa.table({
        "s_suppkey": pa.array(range(nsupp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(nsupp)],
        "s_nationkey": pa.array(rng.integers(0, 25, nsupp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(0.0, 5000.0, nsupp), 2),
    }))

    npart = COUNTS["part"]
    _write(out_dir, "part", pa.table({
        "p_partkey": pa.array(range(npart), pa.int64()),
        "p_name": [
            f"{PART_ADJ[a]} {PART_NOUN[b]}"
            for a, b in zip(
                rng.integers(0, 6, npart), rng.integers(0, 6, npart)
            )
        ],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, npart)],
        "p_type": [PART_TYPES[i] for i in rng.integers(0, 6, npart)],
        "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
        "p_retailprice": np.round(
            900.0 + rng.integers(0, 200, npart) / 10.0, 1
        ),
    }))

    nord = COUNTS["orders"]
    if skew:
        # heavy-tailed customer + order dates clustered in one month
        # (a near-constant date column at corpus level)
        okey_cust = np.where(
            rng.random(nord) < 0.3, 7, rng.integers(0, ncust, nord)
        )
        odate_days = 900 + rng.integers(0, 30, nord)
    else:
        okey_cust = rng.integers(0, ncust, nord)
        odate_days = rng.integers(0, 2404, nord)  # 1995-01..2001-08
    odate = _ts_us(
        EPOCH_1995, odate_days.astype("int64") * 86_400_000_000
    )
    _write(out_dir, "orders", pa.table({
        "o_orderkey": pa.array(range(nord), pa.int64()),
        "o_custkey": pa.array(okey_cust, pa.int64()),
        "o_orderstatus": [
            "POF"[i] for i in rng.integers(0, 3, nord)
        ],
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, nord), 2),
        "o_orderdate": pa.array(odate, pa.timestamp("us")),
        "o_orderpriority": [
            PRIORITIES[i] for i in rng.integers(0, 5, nord)
        ],
    }))

    # lineitem: 1..7 lines per order (~60k total at sf0.01 shape)
    nlines = rng.integers(1, 8, nord)
    okeys = np.repeat(np.arange(nord, dtype=np.int64), nlines)
    lnum = np.concatenate([np.arange(1, k + 1) for k in nlines])
    nli = len(okeys)
    if skew:
        qty = np.full(nli, 7.0)  # near-constant measure
        pk = np.where(  # one hot part takes 30% of lines
            rng.random(nli) < 0.3, 11, rng.integers(0, npart, nli)
        )
        rf = np.where(rng.random(nli) < 0.99, "N", "R")
    elif sparse:
        qty = rng.integers(1, 51, nli).astype(np.float64)
        pk = rng.integers(0, npart, nli)
        rf = np.array(["A", "N"])[rng.integers(0, 2, nli)]  # never 'R'
    else:
        qty = rng.integers(1, 51, nli).astype(np.float64)
        pk = rng.integers(0, npart, nli)
        rf = np.array(["A", "N", "R"])[rng.integers(0, 3, nli)]
    shipdate = odate[okeys] + (
        rng.integers(1, 101, nli).astype("int64") * 86_400_000_000
    ).astype("timedelta64[us]")
    _write(out_dir, "lineitem", pa.table({
        "l_orderkey": pa.array(okeys, pa.int64()),
        "l_partkey": pa.array(pk, pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, nsupp, nli), pa.int64()),
        "l_linenumber": pa.array(lnum, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, nli), 2),
        "l_discount": np.round(rng.integers(0, 11, nli) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, nli) / 100.0, 2),
        "l_returnflag": list(rf),
        "l_linestatus": [
            "FO"[i] for i in rng.integers(0, 2, nli)
        ],
        "l_shipdate": pa.array(shipdate, pa.timestamp("us")),
    }))

    # events: ts ascending over 30 days of 2024-01 (ids ordered by ts,
    # like the driver fixture)
    nev = COUNTS["events"]
    nuser = 3 if tiny else max(5, int(150 * scale))
    if skew:
        # burst day: half the month's events land on day 17
        day = np.where(
            rng.random(nev) < 0.5, 17, rng.integers(0, 30, nev)
        )
        within = rng.integers(0, 86_400_000_000, nev)
        off = np.sort(day.astype("int64") * 86_400_000_000 + within)
        user = np.where(  # heavy-tailed users: user 0 has ~40%
            rng.random(nev) < 0.4, 0, rng.integers(0, nuser, nev)
        )
        tprob = np.array([0.02, 0.25, 0.02, 0.70, 0.01])
        etype = rng.choice(5, size=nev, p=tprob)
        value = np.round(rng.uniform(0.0, 330.0, nev), 2)
        value = np.where(etype == 3, 5.0, value)  # near-constant type
    elif sparse:
        # no 'purchase' events at all, and only 3 users: funnels,
        # attribution, and purchase-anchored as-of joins see an empty
        # anchor set; per-user frames see tiny groups
        off = np.sort(
            rng.integers(0, 30 * 86_400_000_000, nev, dtype=np.int64)
        )
        user = rng.integers(0, 3, nev)
        etype = rng.choice([0, 1, 2, 3], size=nev)  # no index 4
        value = np.round(rng.uniform(0.0, 330.0, nev), 2)
    else:
        off = np.sort(
            rng.integers(0, 30 * 86_400_000_000, nev, dtype=np.int64)
        )
        user = rng.integers(0, nuser, nev)
        etype = rng.integers(0, 5, nev)
        value = np.round(rng.uniform(0.0, 330.0, nev), 2)
        full = rng.random(nev) < 0.1  # ~10% full-precision doubles,
        value = np.where(full, rng.uniform(0.0, 330.0, nev), value)
    _write(out_dir, "events", pa.table({
        "event_id": pa.array(range(nev), pa.int64()),
        "ts": pa.array(_ts_us(EPOCH_2024, off), pa.timestamp("us")),
        "user_id": pa.array(user, pa.int64()),
        "event_type": [EVENT_TYPES[i] for i in etype],
        "value": value,
        "props": [
            '{"k": %d}' % k for k in rng.integers(0, 100, nev)
        ],
    }))

    # documents: driver vocabulary, space-joined tokens
    ndoc = COUNTS["documents"]
    texts: list[str] = []
    if skew:
        # dense dup mass: 50 templates, most docs are perturbed copies,
        # ~10% exact dupes, plus single-token docs (n<2 paths)
        templates = [
            [VOCAB[t] for t in rng.integers(0, len(VOCAB), int(k))]
            for k in rng.integers(10, 100, 50)
        ]
        for i in range(ndoc):
            r = rng.random()
            base = templates[int(rng.integers(0, 50))]
            if r < 0.10:
                texts.append(" ".join(base))  # exact dupe
            elif r < 0.16:
                texts.append(VOCAB[int(rng.integers(0, len(VOCAB)))])
            else:
                toks = list(base)
                for _ in range(int(rng.integers(1, 3))):
                    j = int(rng.integers(0, len(toks)))
                    toks[j] = VOCAB[int(rng.integers(0, len(VOCAB)))]
                texts.append(" ".join(toks))
        lang = np.where(
            rng.random(ndoc) < 0.9, 0, rng.integers(0, 5, ndoc)
        )
        src = np.where(  # one dominant source: 60%
            rng.random(ndoc) < 0.6, 4, rng.integers(0, 20, ndoc)
        )
    elif sparse:
        # NO src0 (empty contamination benchmark), one lang everywhere,
        # and a fifth of the docs are 1-2 tokens (below the 3-gram
        # shingle floor: empty shingle sets everywhere they flow)
        for i in range(ndoc):
            k = int(rng.integers(10, 100))
            if rng.random() < 0.2:
                k = int(rng.integers(1, 3))
            texts.append(" ".join(
                VOCAB[t] for t in rng.integers(0, len(VOCAB), k)
            ))
        lang = np.zeros(ndoc, dtype=np.int64)
        src = rng.integers(1, 20, ndoc)  # never 0 -> no 'src0'
    else:
        for k in rng.integers(10, 100, ndoc):
            texts.append(" ".join(
                VOCAB[t] for t in rng.integers(0, len(VOCAB), int(k))
            ))
        lang = rng.choice(
            5, size=ndoc, p=[0.40, 0.16, 0.16, 0.15, 0.13]
        )
        src = rng.integers(0, 20, ndoc)
    _write(out_dir, "documents", pa.table({
        "doc_id": pa.array(range(ndoc), pa.int64()),
        "text": texts,
        "lang": [LANGS[i] for i in lang],
        "source": [f"src{i}" for i in src],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }))

    # embeddings: L2-normalized float32, 10 label-aligned clusters
    nvec = COUNTS["embeddings"]
    centers = rng.normal(0.0, 1.0, (10, 64))
    label = rng.integers(0, 10, nvec)
    if skew:
        # very tight clusters (dense similarity mass) + exact dup vectors
        v = centers[label] * 8.0 + rng.normal(0.0, 0.3, (nvec, 64))
        for i in range(0, 40, 2):
            v[i + 1] = v[i]
    else:
        v = centers[label] * 2.0 + rng.normal(0.0, 1.0, (nvec, 64))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    import pyarrow as pa2

    _write(out_dir, "embeddings", pa2.table({
        "vec_id": pa2.array(range(nvec), pa2.int64()),
        "embedding": pa2.array(
            [list(map(float, row)) for row in v],
            pa2.list_(pa2.float32()),
        ),
        "label": pa2.array(label, pa2.int32()),
    }))


def fuzz_md(rows: list[dict]) -> str:
    """FUZZ.md: the table of every recorded variant, its failures and
    the defect history."""
    lines = [
        "# FUZZ — differential fixture fuzz results",
        "",
        "Full oracle sweep (Spark vs DuckDB on the SAME generated",
        "parquet) re-run on fresh fixture seeds + a skewed and a",
        "sparse (absent-category) variant",
        "(`tools/fixture_fuzz.py`; shapes per FIXTURES.md §B at the",
        "driver's sf0.01 gate scale unless the scale column says",
        "otherwise — skew is scale-dependent, so the record keeps",
        "one skew row at scale 10 ~ sf0.1-shape with the driver's",
        "doc growth law). A green here means every",
        "oracle-gated query agrees with DuckDB on data the engine",
        "has never seen — distribution-level proof, not single-seed.",
        "",
        "| variant | seed | profile | scale | queries | ok | fail "
        "| weak | secs |",
        "|---|---|---|---|---|---|---|---|---|",
    ]
    for r in rows:
        lines.append(
            f"| {r['tag']} | {r['seed']} | {r['profile']} | "
            f"{r.get('scale', 1.0):g} | "
            f"{r['n_queries']} | {r['ok']} | {r['fail']} | "
            f"{r['weak']} | {r['secs']} |"
        )
    lines.append("")
    fails = [f for r in rows for f in r["failures"]]
    if fails:
        lines.append("## Failures")
        for f in fails:
            lines.append(f"- `{f['name']}`: {f['problems'][0]}")
    else:
        lines.append("No failures across all variants.")
    lines.append(_DEFECTS_MD)
    return "\n".join(lines)


def write_record(results: list[dict]) -> None:
    """Merge `results` into FUZZ_results.json by tag and rewrite FUZZ.md
    from the merged rows."""
    path = os.path.join(_REPO_ROOT, "FUZZ_results.json")
    prev = {}
    if os.path.exists(path):
        with open(path) as f:
            prev = {r["tag"]: r for r in json.load(f)}
    rows = list(
        update_record(prev, {r["tag"]: r for r in results}).values()
    )
    with open(path, "w") as f:
        json.dump(rows, f, indent=1)
    with open(os.path.join(_REPO_ROOT, "FUZZ.md"), "w") as f:
        f.write(fuzz_md(rows))
    print(f"wrote {path} and FUZZ.md")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", default="/tmp/spark_graft_fuzz")
    ap.add_argument("--seeds", nargs="*", type=int, default=[7, 101])
    ap.add_argument("--no-skew", action="store_true")
    ap.add_argument("--no-sparse", action="store_true")
    ap.add_argument("--no-tiny", action="store_true")
    ap.add_argument("--skew-seed", type=int, default=13)
    ap.add_argument("--tiny-seed", type=int, default=29)
    ap.add_argument(
        "--quick",
        action="store_true",
        help="~2-minute pre-commit ritual: one fresh seed + skew + "
        "sparse + tiny at 1/10 scale over a cross-family sample "
        "(or the given names). The full run stays the per-round "
        "record; this is the cheap habit that catches a degenerate-"
        "input regression before it is committed.",
    )
    ap.add_argument(
        "--scale",
        type=float,
        default=1.0,
        help="fixture size multiplier vs the driver's sf0.01 gate "
        "shape (10.0 ~ sf0.1-shape); skew is scale-dependent — heavy "
        "keys get heavier — so the per-round record includes one "
        "skew variant at scale 10",
    )
    ap.add_argument(
        "--scale-docs",
        action="store_true",
        help="apply the driver's above-floor documents/embeddings "
        "growth law at scale > 1 (docs ~ scale, embeddings ~ "
        "scale^0.6) instead of pinning them at the 500-row gate size",
    )
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()

    import __spark_entry__ as entrymod
    from weather_bigdata_project_spark.session import get_spark

    spark = get_spark("fixture-fuzz", cpus=8)
    names = args.names or list(entrymod.queries())
    scale = args.scale
    if args.quick:
        scale = 0.1
        args.seeds = args.seeds[:1]
        if not args.names:
            # cross-family sample incl. the families past fuzz rounds
            # caught defects in (stats/ml/dedup/sketch/behavior)
            names = [
                "weather_city_stats", "tpch_q1_pricing_summary",
                "events_moment_stats", "lineitem_corr_matrix",
                "ml_linreg_grouped_brands", "ml_precision_recall",
                "ml_auc_quantity_returns", "events_retention_halflife",
                "events_rate_shrinkage_eb", "events_survival_km",
                "events_kmv_setops", "events_approx_percentile_bounds",
                "dedup_minhash_band_tuning", "dedup_ngram_jaccard",
                "embed_knn_bruteforce", "text_token_stats",
                "corpus_split_assign", "corpus_unimax_weights",
                "corpus_temperature_sampling", "join_asof_purchase_last_click",
                "window_lag_delta_events", "multimodal_ppm_decode_stats",
                "events_bootstrap_ci", "lineitem_hbos_outliers",
                "lineitem_price_volume_mix", "part_xyz_variability",
                "orders_interorder_gamma_fit", "weather_gumbel_return_levels",
                "embed_dim_variance_spectrum", "part_price_dispersion",
            ]

    variants = [(f"seed{s}", s, {}) for s in args.seeds]
    if not args.no_skew:
        variants.append(
            (f"skew{args.skew_seed}", args.skew_seed, {"skew": True})
        )
    if not args.no_sparse:
        variants.append(
            (f"sparse{args.skew_seed}", args.skew_seed, {"sparse": True})
        )
    if not args.no_tiny:
        variants.append(
            (f"tiny{args.tiny_seed}", args.tiny_seed, {"tiny": True})
        )

    results = []
    for tag, seed, kw in variants:
        if scale != 1.0 and not args.quick:
            tag = f"{tag}x{scale:g}"  # scale is part of the identity
        d = os.path.join(args.out, tag)
        print(f"== generating {tag} (seed={seed}, {kw}) -> {d}",
              flush=True)
        gen_tables(seed, d, scale=scale,
                   scale_docs=args.scale_docs, **kw)
        t0 = time.time()
        r = sweep(spark, d, names)
        profile = next(iter(kw), "fresh") if kw else "fresh"
        r.update(scale=scale)
        r.update(tag=tag, seed=seed, profile=profile,
                 n_queries=len(names), secs=round(time.time() - t0, 1))
        print(f"== {tag}: {r['ok']} ok, {r['fail']} fail, "
              f"{r['weak']} weak in {r['secs']}s", flush=True)
        results.append(r)

    # a quick sample reports to stdout only: the committed record
    # belongs to the full runs
    if not args.quick:
        write_record(results)
    sys.exit(1 if any(r["fail"] for r in results) else 0)


if __name__ == "__main__":
    main()
