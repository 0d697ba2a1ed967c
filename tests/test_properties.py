"""Property-based tests (hypothesis): the cross-engine float doctrine
and the optimized shingle builder, checked on adversarial random inputs
rather than the fixed fixtures.

These guard the two places a refactor can silently break parity:
- `exprs.rnd` / `exprs.cents` must stay bit-identical between Spark and
  DuckDB, INCLUDING the .xx5 tie boundaries that made the naive
  ROUND(x, k) diverge (see functions/exprs.py);
- `textops.doc_shingle_ids` (narrow array_distinct + let-bound hashing)
  must emit exactly the same (doc_id, shingle-hash) set and per-doc
  counts as the straightforward explode + global-distinct formulation
  it replaced for speed.
"""

from __future__ import annotations

import os
import tempfile

import duckdb
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from weather_bigdata_project_spark.functions.exprs import cents, money, rnd
from weather_bigdata_project_spark.operators import textops as T

_SETTINGS = dict(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

# values with 4 decimals hit the rnd(x, 2) tie boundary (.xx5) often
_vals = st.lists(
    st.integers(min_value=-10_000_000, max_value=10_000_000).map(
        lambda i: i / 10_000.0
    ),
    min_size=1,
    max_size=50,
)


@settings(**_SETTINGS)
@given(_vals)
def test_rnd_parity_spark_duckdb(spark, xs):
    """rnd(x, 2) must agree bit-for-bit across engines on arbitrary
    4-decimal doubles (the .xx5 boundaries are the hazard)."""
    df = spark.createDataFrame([(x,) for x in xs], "x double")
    got = [r[0] for r in df.selectExpr(f"{rnd('x', 2)} AS r").collect()]
    con = duckdb.connect()
    want = [
        con.execute(f"SELECT {rnd('x', 2)} FROM (SELECT ? AS x)", [x]).fetchone()[0]
        for x in xs
    ]
    assert got == want


@settings(**_SETTINGS)
@given(_vals)
def test_cents_sum_is_partition_order_insensitive(spark, xs):
    """Summing exact cents then dividing once must equal the Decimal
    ground truth regardless of partitioning — the reason no shared
    snippet ever sums raw doubles."""
    from decimal import ROUND_HALF_UP, Decimal

    xs2 = [round(x, 2) for x in xs]
    truth = float(
        sum(
            Decimal(str(x)).quantize(Decimal("0.01"), rounding=ROUND_HALF_UP)
            for x in xs2
        )
    )
    df = spark.createDataFrame([(x,) for x in xs2], "x double").repartition(7)
    sum_expr = money("SUM(" + cents("x") + ")")
    got = df.selectExpr(f"{sum_expr} AS s").collect()[0][0]
    assert got == pytest.approx(truth, abs=1e-9)


# words from a tiny alphabet force heavy shingle overlap across docs
_texts = st.lists(
    st.lists(
        st.sampled_from(["aa", "bb", "cc", "dd", "ee"]), min_size=0, max_size=12
    ).map(" ".join),
    min_size=1,
    max_size=10,
)


@settings(**_SETTINGS)
@given(_texts)
def test_doc_shingle_ids_matches_naive_builder(spark, texts):
    """The fused narrow builder (array_distinct + let-bound hash + n_sh)
    must emit exactly the naive explode->distinct->hash result, doc by
    doc, on arbitrary corpora (empty docs, <3-token docs, full-dup
    docs included)."""
    with tempfile.TemporaryDirectory() as tmp:
        df = spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
        )
        df.write.mode("overwrite").parquet(os.path.join(tmp, "documents.parquet"))

        fused = T.doc_shingle_ids(spark, tmp)
        got = {
            (r.doc_id, r.sh): r.n_sh for r in fused.collect()
        }
        naive = (
            T.docs(spark, tmp)
            .select(
                "doc_id",
                F.explode(
                    F.expr(
                        "CASE WHEN size(split(text, ' ')) < 3 THEN array() "
                        "ELSE transform(sequence(1, size(split(text, ' ')) - 2), "
                        "i -> concat_ws(' ', slice(split(text, ' '), i, 3))) END"
                    )
                ).alias("shingle"),
            )
            .distinct()
            .select("doc_id", F.expr(T.hashed_id_spark("shingle")).alias("sh"))
        )
        want_rows = naive.collect()
        want = {(r.doc_id, r.sh) for r in want_rows}
        want_counts: dict[int, int] = {}
        for r in want_rows:
            want_counts[r.doc_id] = want_counts.get(r.doc_id, 0) + 1

        assert set(got) == want
        for (doc_id, _), n_sh in got.items():
            assert n_sh == want_counts[doc_id]


# --- haversine micro-km snap parity --------------------------------------

_coords = st.lists(
    st.tuples(
        st.integers(min_value=-899_999, max_value=899_999).map(
            lambda i: i / 10_000.0
        ),
        st.integers(min_value=-1_799_999, max_value=1_799_999).map(
            lambda i: i / 10_000.0
        ),
        st.integers(min_value=-899_999, max_value=899_999).map(
            lambda i: i / 10_000.0
        ),
        st.integers(min_value=-1_799_999, max_value=1_799_999).map(
            lambda i: i / 10_000.0
        ),
    ),
    min_size=1,
    max_size=40,
)


@settings(**_SETTINGS)
@given(_coords)
def test_haversine_ukm_parity_spark_duckdb(spark, pairs):
    """The geo family's claim: snapping haversine to integer micro-km
    makes the value engine-exact even though JVM and libm trig can
    differ in the last ulp. Checked on arbitrary coordinate pairs
    across the full lat/lon domain (antipodes, poles, near-zero
    separations included)."""
    from weather_bigdata_project_spark.queries.geo import _hav_ukm

    expr = _hav_ukm("lat1", "lon1", "lat2", "lon2")
    df = spark.createDataFrame(
        list(pairs), "lat1 double, lon1 double, lat2 double, lon2 double"
    )
    got = [r[0] for r in df.selectExpr(f"{expr} AS d").collect()]
    con = duckdb.connect()
    want = [
        con.execute(
            f"SELECT {expr} FROM (SELECT ? AS lat1, ? AS lon1, "
            "? AS lat2, ? AS lon2)",
            list(p),
        ).fetchone()[0]
        for p in pairs
    ]
    assert got == want


_temps = st.lists(
    st.integers(min_value=-60, max_value=60), min_size=1, max_size=40
)


@settings(**_SETTINGS)
@given(_temps, st.integers(min_value=0, max_value=39))
def test_ewma_fold_py_matches_jvm_on_random_series(spark, temps, cut):
    """The Python EWMA recursion (transformWithState processor kernel)
    must equal the JVM `aggregate` HOF fold on ARBITRARY integer series
    — including negative temperatures and any batch-boundary split, not
    just the fixture's values (guards the ties-away-from-zero snap
    against the asymmetric-rounding bug a refactor could introduce)."""
    from weather_bigdata_project_spark.streaming.twins import ewma_fold_py

    cut = min(cut, len(temps))
    n1, s1 = ewma_fold_py(temps[:cut])
    got = ewma_fold_py(temps[cut:], n1, s1)

    rows = [(i, t) for i, t in enumerate(temps)]
    df = spark.createDataFrame(rows, "i INT, t INT")
    fold = (
        "aggregate(sort_array(collect_list(struct(i, t))), "
        "CAST(NULL AS BIGINT), (s, e) -> CASE WHEN s IS NULL THEN "
        "CAST(e.t AS BIGINT) * 1000000000 ELSE "
        "CAST(ROUND(0.2e0 * (CAST(e.t AS BIGINT) * 1000000000) "
        "+ 0.8e0 * s) AS BIGINT) END)"
    )
    [r] = df.agg(
        F.count(F.lit(1)).alias("n"), F.expr(fold).alias("s")
    ).collect()
    assert got == (r["n"], r["s"])


def _hw_fold_py(xs):
    """Python twin of the events_holt_winters JVM fold (timeseries._HW_*):
    anchor on the first 7 values, then the snapped three-state
    recursion. Returns ([(i, l, b)] for i >= 8 (1-based), final s)."""
    import math

    def snap(v: float) -> int:
        return (
            int(math.floor(v + 0.5)) if v >= 0 else int(math.ceil(v - 0.5))
        )

    m = 7
    l = snap(sum(xs[:m]) / 7.0)
    b = 0
    s = [x - l for x in xs[:m]]
    out = []
    for k in range(m, len(xs)):
        x = xs[k]
        j = k % m
        l1 = snap(0.2 * (x - s[j]) + 0.8 * (l + b))
        b1 = snap(0.1 * (l1 - l) + 0.9 * b)
        s[j] = snap(0.3 * (x - l1) + 0.7 * s[j])
        l, b = l1, b1
        out.append((k + 1, l, b))
    return out, s


_hw_xs = st.lists(
    st.integers(min_value=-1_000_000, max_value=1_000_000),
    min_size=8,
    max_size=30,
)


@settings(**_SETTINGS)
@given(_hw_xs)
def test_holt_winters_fold_matches_jvm_on_random_series(spark, xs):
    """The Holt-Winters three-state recursion (level + trend + 7-slot
    season) must be bit-equal between the Python twin and the JVM
    `aggregate` HOF fold on ARBITRARY integer series — guards the
    per-step snap and the season-slot indexing (an off-by-one in the
    modular slot cycle would still pass smooth fixtures)."""
    from weather_bigdata_project_spark.queries.timeseries import (
        _HW_B,
        _HW_L,
        _HW_M,
        _HW_S,
    )

    want_steps, want_s = _hw_fold_py(xs)

    df = spark.createDataFrame(
        [(i + 1, x) for i, x in enumerate(xs)], "i INT, x BIGINT"
    )
    j1 = f"((element_at(acc, -1).i + 1 - 1) % {_HW_M}) + 1"
    sj = f"element_at(element_at(acc, -1).s, {j1})"
    l1 = _HW_L.format(
        x="e.x", sj=sj, l="element_at(acc, -1).l", b="element_at(acc, -1).b"
    )
    b1 = _HW_B.format(
        l1=l1, l="element_at(acc, -1).l", b="element_at(acc, -1).b"
    )
    s1 = _HW_S.format(x="e.x", l1=l1, sj=sj)
    week = f"slice(sort_array(xs), 1, {_HW_M})"
    l0 = (
        "CAST(ROUND(aggregate(" + week + ", CAST(0 AS BIGINT), "
        f"(a, e) -> a + e.x) / {_HW_M}.0e0) AS BIGINT)"
    )
    fold = (
        f"aggregate(slice(sort_array(xs), {_HW_M} + 1, size(xs)), "
        "CAST(array(named_struct("
        f"'i', {_HW_M}, 'l', {l0}, 'b', CAST(0 AS BIGINT), "
        f"'s', transform({week}, e -> e.x - {l0}))) "
        "AS ARRAY<STRUCT<i: INT, l: BIGINT, b: BIGINT, "
        "s: ARRAY<BIGINT>>>), "
        "(acc, e) -> concat(acc, array(named_struct("
        "'i', element_at(acc, -1).i + 1, "
        f"'l', {l1}, 'b', {b1}, "
        f"'s', transform(element_at(acc, -1).s, (v, k) -> "
        f"IF(k = {j1} - 1, {s1}, v))))))"
    )
    [row] = (
        df.agg(F.expr("collect_list(struct(i, x))").alias("xs"))
        .selectExpr(f"{fold} AS st")
        .collect()
    )
    got_steps = [(e["i"], e["l"], e["b"]) for e in row["st"][1:]]
    got_s = list(row["st"][-1]["s"])
    assert got_steps == want_steps
    assert got_s == want_s


# --- SQ8 quantize/reconstruct parity (similarity.py) -----------------------

# floats with jagged decimals + degenerate ranges (mn == mx when the
# list is constant) — the hazards of the SQ8 grid expression
_sq_vals = st.lists(
    st.integers(min_value=-5_000_000, max_value=5_000_000).map(
        lambda i: i / 1_000_000.0
    ),
    min_size=1,
    max_size=40,
)


@settings(**_SETTINGS)
@given(_sq_vals)
def test_sq8_rec_parity_spark_duckdb(spark, xs):
    """The SQ8 reconstruction expression (_sq8_rec: code = ROUND of the
    255-level grid position, then de-quantize) must be bit-identical
    between Spark and DuckDB for arbitrary doubles and the corpus
    min/max — including the degenerate mx == mn branch. Both SQ8
    queries stand on this expression being IEEE-identical text."""
    import duckdb as _dd

    from weather_bigdata_project_spark.queries.similarity import _sq8_rec

    mn, mx = min(xs), max(xs)
    expr = _sq8_rec("x", repr(mn) + "e0", repr(mx) + "e0")
    df = spark.createDataFrame([(x,) for x in xs], "x double")
    got = [r[0] for r in df.selectExpr(f"{expr} AS r").collect()]
    con = _dd.connect()
    want = [
        con.execute(f"SELECT {expr} FROM (SELECT ? AS x)", [x]).fetchone()[0]
        for x in xs
    ]
    assert got == want


# --- sliding-window span builder vs naive (dedup_duplicated_spans) --------

_span_texts = st.lists(
    st.lists(
        st.sampled_from(["aa", "bb", "cc"]), min_size=0, max_size=20
    ).map(" ".join),
    min_size=1,
    max_size=8,
)


@settings(**_SETTINGS)
@given(_span_texts)
def test_span_window_builder_matches_naive(spark, texts):
    """dedup_duplicated_spans' in-row window build (array_distinct +
    let-bound hash + per-doc count) must emit exactly the naive
    explode->distinct window set for arbitrary corpora, including docs
    shorter than the window (no rows) and all-repeat docs."""
    import os as _os
    import tempfile as _tf

    from weather_bigdata_project_spark.queries.dedup import _SPAN_W

    with _tf.TemporaryDirectory() as tmp:
        df = spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
        )
        df.write.mode("overwrite").parquet(
            _os.path.join(tmp, "documents.parquet")
        )
        d = T.docs(spark, tmp).select(
            "doc_id", F.split(F.col("text"), " ").alias("toks")
        )
        grams = (
            f"transform(sequence(1, size(toks) - {_SPAN_W - 1}), "
            "i -> "
            + T.hashed_id_spark(
                f"concat_ws(' ', slice(toks, i, {_SPAN_W}))"
            )
            + ")"
        )
        arr = (
            f"CASE WHEN size(toks) < {_SPAN_W} THEN array() "
            f"ELSE array_distinct({grams}) END"
        )
        wrapped = (
            f"transform(array({arr}), "
            "a -> transform(a, x -> struct(size(a) AS n_w, x AS wh)))[0]"
        )
        got_rows = (
            d.select("doc_id", F.inline(F.expr(wrapped)))
            .select("doc_id", "n_w", "wh")
            .collect()
        )
        got = {(r.doc_id, r.wh): r.n_w for r in got_rows}

        naive_rows = (
            T.docs(spark, tmp)
            .select(
                "doc_id",
                F.explode(
                    F.expr(
                        f"CASE WHEN size(split(text, ' ')) < {_SPAN_W} "
                        "THEN array() ELSE transform("
                        f"sequence(1, size(split(text, ' ')) - {_SPAN_W - 1}), "
                        f"i -> concat_ws(' ', slice(split(text, ' '), i, {_SPAN_W}))) END"
                    )
                ).alias("w"),
            )
            .distinct()
            .select("doc_id", F.expr(T.hashed_id_spark("w")).alias("wh"))
            .collect()
        )
        want = {(r.doc_id, r.wh) for r in naive_rows}
        want_counts: dict[int, int] = {}
        for r in naive_rows:
            want_counts[r.doc_id] = want_counts.get(r.doc_id, 0) + 1

        assert set(got) == want
        for (doc_id, _), n_w in got.items():
            assert n_w == want_counts[doc_id]


# --- id_mix: cross-engine equality + range over the full key domain ---------

_keys = st.lists(
    st.integers(min_value=0, max_value=2**63 - 1),
    min_size=1,
    max_size=40,
    unique=True,
)


@given(keys=_keys, salt=st.sampled_from([0, 97, 12345, 54321, 24680]))
@settings(**_SETTINGS)
def test_id_mix_spark_duckdb_bit_equal(spark, keys, salt):
    """id_mix must evaluate to the SAME integer in Spark and DuckDB for
    any nonnegative BIGINT key (including 2^63-1) and every salt in
    use — the property every split/shard/fold assignment rides. Also
    pins the output range (< p1 + p2) and the pure-Python reference
    from the docstring, so a refactor can't silently change buckets."""
    from weather_bigdata_project_spark.functions.exprs import (
        ID_MIX_P1,
        ID_MIX_P2,
        id_mix,
    )

    expr = id_mix("k", salt)
    got_spark = {
        r.k: r.h
        for r in spark.createDataFrame(
            [(k,) for k in keys], "k long"
        ).selectExpr("k", f"{expr} AS h").collect()
    }
    con = duckdb.connect()
    got_duck = dict(
        con.execute(
            f"SELECT k, {expr} AS h FROM (SELECT unnest(?::BIGINT[]) "
            "AS k)",
            [keys],
        ).fetchall()
    )

    def ref(k):
        out = 0
        for p, a in ((ID_MIX_P1, 48271), (ID_MIX_P2, 69621)):
            t = ((k % p) + salt) * a % p
            out += (t * (t + 3)) % p
        return out

    for k in keys:
        assert got_spark[k] == got_duck[k] == ref(k)
        assert 0 <= got_spark[k] < ID_MIX_P1 + ID_MIX_P2


@given(
    micro=st.integers(min_value=-499, max_value=499).filter(lambda i: i != 0)
)
@settings(**_SETTINGS)
def test_rnd_normalizes_the_sign_of_zero(spark, micro):
    """Any |x| < 0.0005 rounds to zero at k=3 — and the zero must be
    +0.0 in BOTH engines. DuckDB's ROUND keeps the sign bit (-0.0)
    while Spark's BigDecimal round does not; the driver's canonical
    hash prints them differently ('-0.0' vs '0.0'), so without rnd()'s
    `+ 0.0e0` a tiny NEGATIVE value is a 1-row hash mismatch (found by
    fuzz seed 404: one z-score in (-0.0005, 0)). Python float equality
    hides the sign, so this asserts on repr()."""
    x = micro / 1_000_000.0  # in (-0.0005, 0.0005) \ {0}
    expr = rnd(f"CAST({x!r} AS DOUBLE)", 3)
    (got_s,) = spark.sql(f"SELECT {expr} AS v").collect()[0]
    con = duckdb.connect()
    (got_d,) = con.execute(f"SELECT {expr} AS v").fetchone()
    assert repr(got_s) == repr(got_d) == "0.0"


# --- unigram-Viterbi DP fold vs a naive Python reference -------------------

@settings(**_SETTINGS)
@given(
    st.lists(st.integers(min_value=1, max_value=8), min_size=1, max_size=6),
    st.randoms(use_true_random=False),
)
def test_unigram_viterbi_fold_matches_naive_dp(spark, lens, rng):
    """The packed-BIGINT Viterbi fold (text.py:_uv_dp_spark) must equal
    a plain-Python shortest-path DP on arbitrary cost maps: random word
    lengths, random piece availability (all single chars present, the
    coverage invariant the query guarantees by construction), random
    integer costs — including ties, where the pack makes 'min cost,
    then fewest tokens' the winner in both."""
    from weather_bigdata_project_spark.queries.text import (
        _UV_L,
        _uv_dp_spark,
    )

    BIG = 10**12
    rows = []
    wants = []
    for m in lens:
        cf: dict[int, int] = {}
        for i in range(1, m + 1):  # every single char present
            cf[(i - 1) * _UV_L + 1] = rng.randint(0, 3_000_000)
        for i in range(1, m + 1):  # random multi-char pieces
            for j in range(2, min(_UV_L, m - i + 1) + 1):
                if rng.random() < 0.5:
                    cf[(i - 1) * _UV_L + j] = rng.randint(0, 3_000_000)
        best = [0]
        for i in range(1, m + 1):
            best.append(
                min(
                    best[i - j] + cf.get((i - j) * _UV_L + j, BIG) * 64 + 1
                    for j in range(1, min(_UV_L, i) + 1)
                )
            )
        rows.append((m, cf))
        wants.append(best[m])
    df = spark.createDataFrame(rows, "m int, cf map<int,bigint>")
    got = [r[0] for r in df.selectExpr(f"{_uv_dp_spark()} AS b").collect()]
    assert got == wants


# --- emb_dim footer validation (round 10) ----------------------------------


def test_emb_dim_multifragment_dir_and_ragged_fallback(spark):
    """emb_dim must (a) resolve the dimensionality when embeddings.parquet
    is a DIRECTORY of part files — the 100 TB layout (round-9 verdict:
    the single-file read silently degraded the flat-column path to the
    interpreted HOF on partitioned input) — and (b) return None when any
    fragment's footer arithmetic says the lists are ragged, so flat
    consumers fall back instead of mis-evaluating."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from weather_bigdata_project_spark.queries.similarity import emb_dim

    def write_frag(path, vecs, start):
        tbl = pa.table(
            {
                "vec_id": pa.array(
                    range(start, start + len(vecs)), pa.int64()
                ),
                "embedding": pa.array(vecs, pa.list_(pa.float32())),
                "label": pa.array([0] * len(vecs), pa.int32()),
            }
        )
        pq.write_table(tbl, path)

    with tempfile.TemporaryDirectory() as tmp:
        d = os.path.join(tmp, "embeddings.parquet")
        os.makedirs(d)
        write_frag(
            os.path.join(d, "part-0.parquet"),
            [[1.0] * 8, [2.0] * 8],
            0,
        )
        write_frag(
            os.path.join(d, "part-1.parquet"),
            [[3.0] * 8, [4.0] * 8, [5.0] * 8],
            2,
        )
        assert emb_dim(tmp) == 8

    with tempfile.TemporaryDirectory() as tmp:
        d = os.path.join(tmp, "embeddings.parquet")
        os.makedirs(d)
        write_frag(
            os.path.join(d, "part-0.parquet"),
            [[1.0] * 8, [2.0] * 8],
            0,
        )
        write_frag(  # ragged fragment: widths 4 and 8
            os.path.join(d, "part-1.parquet"),
            [[3.0] * 4, [4.0] * 8],
            2,
        )
        assert emb_dim(tmp) is None

    # single file stays supported (the historical layout)
    with tempfile.TemporaryDirectory() as tmp:
        write_frag(
            os.path.join(tmp, "embeddings.parquet"),
            [[1.5] * 16] * 3,
            0,
        )
        assert emb_dim(tmp) == 16


def test_emb_dim_without_statistics_is_unprovable():
    """A row group written without statistics records no null count, so
    nothing proves its lists hold no null elements: emb_dim must return
    None (the HOF fallback), not a width derived from num_values."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from weather_bigdata_project_spark.queries.similarity import emb_dim

    tbl = pa.table(
        {
            "vec_id": pa.array([0, 1], pa.int64()),
            "embedding": pa.array([[1.0] * 4, [2.0] * 4], pa.list_(pa.float32())),
        }
    )
    with tempfile.TemporaryDirectory() as tmp:
        path = os.path.join(tmp, "embeddings.parquet")
        pq.write_table(tbl, path)
        assert emb_dim(tmp) == 4
        pq.write_table(tbl, path, write_statistics=False)
        assert emb_dim(tmp) is None
