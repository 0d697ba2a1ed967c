"""Edge-case robustness guards for hazards the fixture-driven oracle
parity can't see: degenerate inputs (constant reference columns),
at-scale integer overflow (orderkeys beyond the test SF), and
completeness contracts (every user present in per-user verdict tables).

Each test here pins a failure mode a round-3 review flagged as latent:
the query is green on fixtures but would silently mis-answer (not
error) on the shape of data a 100 TB corpus actually contains.
"""

from __future__ import annotations

import duckdb

from weather_bigdata_project_spark.queries.ml import _KF_FOLD, _STU_TRAIN
from weather_bigdata_project_spark.queries.jsonops import _DIFF_H
from weather_bigdata_project_spark.queries.stats import _BOOT_U
from weather_bigdata_project_spark.queries.warehouse import _drift_sql
from weather_bigdata_project_spark.registry import QUERIES, load

from tests.conftest import SF_SMOKE

load()


# --- LCG hash keys stay BIGINT-safe at any key scale ------------------------

def test_fold_hashes_no_overflow_at_100tb_keys():
    """DuckDB raises on BIGINT overflow (Spark would wrap silently), so
    evaluating each LCG fold/split/bucket hash on keys far beyond any
    SF — 1e13 orderkeys is ~100 TB of lineitem — proves the reduced
    form can never diverge between engines at scale."""
    from weather_bigdata_project_spark.queries.curation import (
        _SHARD_ID,
        _SPLIT_H,
    )
    from weather_bigdata_project_spark.queries.dedup import _TOK_H
    from weather_bigdata_project_spark.queries.text import _BPE_TRAIN_PRED

    con = duckdb.connect()
    # probe the FULL positive BIGINT key range, not just 100-TB-scale
    # ids: id_mix claims overflow-safety for any nonnegative key
    for big in (9_000_000_000_000, 2**62, 2**63 - 1):
        big_doc = f"SELECT {big}::BIGINT AS doc_id"
        for expr, binds in [
            (_KF_FOLD, f"SELECT {big}::BIGINT AS l_orderkey, "
                       "7::BIGINT AS l_linenumber"),
            (_STU_TRAIN, f"SELECT {big}::BIGINT AS l_orderkey, "
                         "7::BIGINT AS l_linenumber"),
            (_DIFF_H, f"SELECT {big}::BIGINT AS event_id"),
            (_SPLIT_H, big_doc),
            (_SHARD_ID, big_doc),
            (_BPE_TRAIN_PRED, big_doc),
            (_TOK_H, f"SELECT {big}::BIGINT AS tok_id"),
            (_BOOT_U, f"SELECT {big}::BIGINT AS event_id, "
                      "50::BIGINT AS b"),
        ]:
            if big == 2**63 - 1 and (
                "l_orderkey" in binds or " AS b" in binds
            ):
                continue  # these folds add a bounded stride by contract
            got = con.execute(
                f"SELECT {expr} FROM ({binds})"
            ).fetchone()[0]
            assert got is not None


def test_id_mix_no_short_periodicity():
    """The round-4 ADVICE defect: mod-2^20-reduced LCG keys gave every
    assignment a 1,048,576-key period (ids congruent mod 2^20 always
    shared a bucket). id_mix must (a) hit every bucket on sequential
    ids and (b) collide at stride 2^20 only at the ~1/n chance rate."""
    from weather_bigdata_project_spark.functions.exprs import id_mix

    con = duckdb.connect()
    h = id_mix("k")
    rows = con.execute(
        f"SELECT ({h}) % 1000 AS b "
        "FROM (SELECT unnest(range(0, 100000))::BIGINT AS k) GROUP BY b"
    ).fetchall()
    assert len(rows) == 1000  # every bucket reachable on sequential ids
    (coll,) = con.execute(
        "SELECT COUNT(*) FROM "
        f"(SELECT k, ({h}) % 1000 AS b1, "
        f"({id_mix('(k + 1048576)')}) % 1000 AS b2 "
        "FROM (SELECT unnest(range(0, 50000))::BIGINT AS k)) "
        "WHERE b1 = b2"
    ).fetchone()
    # expectation 50 (= n/1000); the old reduced form scored 50,000
    assert coll < 200


def test_lag_delta_signed_zero_and_tie_parity(spark):
    """Round-6 defect, found by the sf1-shape sweep at 1M events: the
    lag delta used raw ROUND(x, 2) — DuckDB keeps the sign bit
    (ROUND(-0.004, 2) = -0.0, canonical '-0.0') where Spark's
    BigDecimal round prints '0.0', and the engines diverge at .xx5
    boundaries. The shared _LAG_DELTA spelling (exprs.rnd) must make a
    tiny negative delta print '0.0' in BOTH engines and agree on a
    .xx5 tie."""
    from weather_bigdata_project_spark.queries.relational import (
        _LAG_DELTA,
    )

    rows = [
        (1, 7, 0.0, 10.004),  # -> None (first)
        (2, 7, 1.0, 10.000),  # delta -0.004 -> the -0.0 trap
        (3, 7, 2.0, 10.005),  # delta +0.005 -> the .xx5 tie
    ]
    sdf = spark.createDataFrame(
        rows, "event_id long, user_id long, ts double, value double"
    ).selectExpr("event_id", f"{_LAG_DELTA} AS delta")
    got = {r["event_id"]: r["delta"] for r in sdf.collect()}
    con = duckdb.connect()
    want = dict(
        con.execute(
            "SELECT event_id, " + _LAG_DELTA + " AS delta FROM ("
            "SELECT * FROM (VALUES (1, 7, 0.0, 10.004), "
            "(2, 7, 1.0, 10.000), (3, 7, 2.0, 10.005)) "
            "AS t(event_id, user_id, ts, value))"
        ).fetchall()
    )
    assert got == want
    assert got[1] is None
    # the -0.0 trap: equal AND prints without the sign bit both sides
    assert got[2] == 0.0 and repr(got[2]) == repr(want[2]) == "0.0"
    assert got[3] == want[3] == 0.01  # ties-away, both engines


def test_id_mix_negative_keys_nonnegative_and_engine_identical(spark):
    """The round-5 ADVICE item: both engines' % keeps the dividend's
    sign, so an unnormalized id_mix on a negative key went negative and
    collapsed every downstream % n_buckets CASE to its fallback arm.
    The normalized residues must (a) keep the hash nonnegative for all
    keys including +/-(2^63 - 1), (b) be an identity for nonnegative
    keys (existing bucketings unchanged), and (c) agree byte-for-byte
    between Spark and DuckDB on negative keys."""
    from weather_bigdata_project_spark.functions.exprs import id_mix

    h = id_mix("k")
    keys = [-(2**63 - 1), -2654435761, -1048576, -7, -1,
            0, 1, 7, 1048576, 2**63 - 1]
    con = duckdb.connect()
    duck = [
        con.execute(
            f"SELECT ({h}) % 1000 FROM (SELECT ?::BIGINT AS k)", [k]
        ).fetchone()[0]
        for k in keys
    ]
    assert all(b >= 0 for b in duck)
    got = {
        r["k"]: r["b"]
        for r in spark.createDataFrame([(k,) for k in keys], "k long")
        .selectExpr("k", f"({h}) % 1000 AS b")
        .collect()
    }
    assert [got[k] for k in keys] == duck
    # negative keys spread across buckets, not collapsed to one value
    assert len({b for k, b in zip(keys, duck) if k < 0}) > 1


def test_fold_hash_parity_spark_duckdb_huge_keys(spark):
    """The reduced fold hash must agree across engines on keys > 2^33
    (where the unreduced form overflowed)."""
    keys = [(2**33 + 5, 1), (10**13, 4), (8_400_000_017, 7)]
    df = spark.createDataFrame(
        keys, "l_orderkey long, l_linenumber long"
    )
    got = sorted(
        r[0] for r in df.selectExpr(f"{_KF_FOLD} AS f").collect()
    )
    con = duckdb.connect()
    want = sorted(
        con.execute(
            f"SELECT {_KF_FOLD} FROM (SELECT ?::BIGINT AS l_orderkey, "
            "?::BIGINT AS l_linenumber)",
            [k, l],
        ).fetchone()[0]
        for k, l in keys
    )
    assert got == want


# --- PSI degenerate reference range -----------------------------------------

def _drift_rows(rows):
    return {r["col"]: r for r in rows}


def test_dq_schema_drift_constant_reference_flags_null_psi(spark):
    """A constant-valued reference column has no bin width: the PSI must
    come back NULL (unmeasurable, like the user_id row), never a
    silently 'stable' 0 from a single collapsed bucket."""
    spark.createDataFrame(
        [
            # reference half (ts < 2024-01-16): constant value
            ("2024-01-10 00:00:00", 5.0, "click", 1),
            ("2024-01-11 00:00:00", 5.0, "view", 2),
            ("2024-01-12 00:00:00", 5.0, "click", 3),
            # current half: varied values
            ("2024-01-20 00:00:00", 1.0, "click", 1),
            ("2024-01-21 00:00:00", 9.0, "purchase", 2),
        ],
        "ts_s string, value double, event_type string, user_id long",
    ).selectExpr(
        "CAST(ts_s AS TIMESTAMP) AS ts", "value", "event_type", "user_id"
    ).createOrReplaceTempView("drift_const_ref")

    rows = _drift_rows(
        r.asDict()
        for r in spark.sql(_drift_sql("drift_const_ref")).collect()
    )
    assert rows["value"]["psi"] is None
    assert rows["value"]["drift"] is None
    # the categorical column is unaffected by the numeric guard
    assert rows["event_type"]["psi"] is not None


def test_dq_schema_drift_constant_reference_duckdb_agrees(spark):
    """The degenerate-range guard is shared SQL text: DuckDB must return
    the same NULL verdict (and not error on the NULLIF'd division)."""
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE drift_const_ref AS "
        "SELECT * FROM (VALUES "
        "(TIMESTAMP '2024-01-10 00:00:00', 5.0, 'click', 1), "
        "(TIMESTAMP '2024-01-11 00:00:00', 5.0, 'view', 2), "
        "(TIMESTAMP '2024-01-20 00:00:00', 1.0, 'click', 1), "
        "(TIMESTAMP '2024-01-21 00:00:00', 9.0, 'purchase', 2)"
        ") t(ts, value, event_type, user_id)"
    )
    rows = {
        r[0]: r
        for r in con.execute(_drift_sql("drift_const_ref")).fetchall()
    }
    assert rows["value"][5] is None  # psi
    assert rows["value"][6] is None  # drift
    assert rows["event_type"][5] is not None


# --- histogram degenerate (constant-temperature) range ----------------------

def test_histogram_constant_range_bins_to_zero(spark):
    """When the corpus temperature range collapses (tmax == tmin) every
    row must land in bin 0 — in BOTH engines, from the same shared bin
    text. The pre-round-5 NULLIF+COALESCE spelling put them in bin 29
    (LEAST() skips NULL args in both engines, so the COALESCE was dead
    code); this pins the explicit-CASE semantics."""
    from weather_bigdata_project_spark.queries.analytics import _HIST_BIN

    probe = (
        f"SELECT {_HIST_BIN} AS bin FROM (SELECT "
        "5.0e0 AS temperature, {lo} AS tmin, {hi} AS tmax)"
    )
    con = duckdb.connect()
    # degenerate range -> bin 0
    assert con.execute(
        probe.format(lo="5.0e0", hi="5.0e0")
    ).fetchone()[0] == 0
    assert spark.sql(
        probe.format(lo="5.0e0", hi="5.0e0")
    ).collect()[0].bin == 0
    # sane range: the max value itself clamps into bin 29, not bin 30
    assert con.execute(
        probe.format(lo="0.0e0", hi="5.0e0")
    ).fetchone()[0] == 29
    assert spark.sql(
        probe.format(lo="0.0e0", hi="5.0e0")
    ).collect()[0].bin == 29


# --- MASE backtest surfaces train-empty types --------------------------------

def test_snaive_mase_sparse_type_surfaces_not_dropped(spark, tmp_path):
    """A type with a single day puts ALL its rows in the test split
    (floor(0.8*1) = 0), so it has no train row. It must surface in the
    verdict table as n_train = 0 / NULL metrics / fully unpredicted —
    the pre-round-5 inner JOINs silently dropped it, contradicting the
    docstring's completeness claim."""
    rows = []
    for d in range(10):
        rows.append((d, f"2024-01-{d + 1:02d} 00:00:00", 1, "aaa",
                     float(d), "{}"))
    rows.append((99, "2024-01-05 00:00:00", 2, "bbb", 7.0, "{}"))
    spark.createDataFrame(
        rows,
        "event_id long, ts_s string, user_id long, event_type string, "
        "value double, props string",
    ).selectExpr(
        "event_id", "CAST(ts_s AS TIMESTAMP_NTZ) AS ts", "user_id",
        "event_type", "value", "props"
    ).write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))

    out = {
        r.event_type: r
        for r in QUERIES["events_snaive_mase_backtest"](
            spark, str(tmp_path)
        ).collect()
    }
    assert "bbb" in out  # the sparse type is present, not dropped
    b = out["bbb"]
    assert b.n_train == 0
    assert b.n_test == 1 and b.n_unpredicted == 1
    assert b.mase is None and b.mae_naive1_insample is None
    # the dense type is unaffected
    assert out["aaa"].n_train == 8 and out["aaa"].n_test == 2


# --- Shapley refuses wide channel sets ---------------------------------------

def test_shapley_raises_beyond_factorial_table(spark, tmp_path):
    """At >= 9 distinct non-purchase channels the exact factorial CASE
    would NULL out and SUM would silently skip coalitions; the query
    must refuse loudly instead of returning poisoned credits. The guard
    is lazy (assert_true inside the nch CTE — construction stays
    plan-only), so the refusal surfaces at execution time."""
    import pytest

    rows = []
    for u in range(6):
        for c in range(10):
            rows.append(
                (
                    u * 100 + c,
                    f"2024-01-{c + 1:02d} 00:00:00",
                    u,
                    f"chan_{c}",
                    1.0,
                    "{}",
                )
            )
        rows.append((u * 100 + 99, "2024-02-01 00:00:00", u,
                     "purchase", 5.0, "{}"))
    spark.createDataFrame(
        rows,
        "event_id long, ts_s string, user_id long, event_type string, "
        "value double, props string",
    ).selectExpr(
        "event_id", "CAST(ts_s AS TIMESTAMP_NTZ) AS ts", "user_id",
        "event_type", "value", "props"
    ).write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))

    # construction must stay lazy (no eager jobs) ...
    df = QUERIES["events_shapley_attribution"](spark, str(tmp_path))
    # ... and execution must refuse loudly
    with pytest.raises(Exception, match="factorial"):
        df.collect()


def test_shapley_still_exact_at_eight_channels(spark):
    """The guard must not reject the computable range: the fixture
    corpus (< 9 channels) still returns credits that sum to ~the full
    conversion-rate swing, none NULL."""
    out = QUERIES["events_shapley_attribution"](spark, SF_SMOKE).collect()
    assert out
    assert all(r.shapley_value is not None for r in out)


# --- binned Gini brackets the exact Gini -------------------------------------

def test_gini_binned_brackets_exact(spark):
    """The grouped trapezoid can only flatten the Lorenz curve:
    gini_binned <= exact G <= gini_binned + error bound, and at 10k
    bins over the fixture the bracket is tight."""
    (exact,) = QUERIES["events_gini_concentration"](
        spark, SF_SMOKE
    ).collect()
    (binned,) = QUERIES["events_gini_binned"](spark, SF_SMOKE).collect()
    assert binned.n_users == exact.n_users
    assert abs(binned.total_value - exact.total_value) < 1e-6
    eps = 1e-9  # the two sides snap at different points; ulp slack
    assert binned.gini_binned <= exact.gini + eps
    assert exact.gini <= binned.gini_binned + binned.gini_error_bound + eps
    # when every user lands in its own bin the cell area is exactly
    # 1/n_users; the bound must stay at that structural floor's order,
    # never blow up to O(1)
    assert binned.gini_error_bound <= 2.0 / min(binned.n_users, 10000)
    assert 0 < binned.n_bins_nonempty <= 10001


# --- bot detection covers every user -----------------------------------------

def test_bot_detection_full_user_frame(spark):
    """The verdict table must contain EVERY distinct user: single-event
    users (no gaps, rules can't fire) appear with NULL rule inputs and
    bot = false rather than vanishing."""
    out = QUERIES["events_bot_detection"](spark, SF_SMOKE).collect()
    n_users = (
        spark.read.parquet(SF_SMOKE + "/events.parquet")
        .select("user_id")
        .distinct()
        .count()
    )
    assert len(out) == n_users
    singles = [r for r in out if r.n_events == 1]
    for r in singles:
        assert r.fast_share is None and r.gap_cv is None
        assert r.bot is False


# --- rendezvous sharding invariants ------------------------------------------

def test_rendezvous_reshard_moves_only_to_new_shard(spark):
    """The HRW property: adding a shard moves ~1/(N+1) of docs and every
    moved doc lands ON the new shard — zero churn between survivors."""
    rows = QUERIES["corpus_rendezvous_shards"](spark, SF_SMOKE).collect()
    assert len(rows) == 17  # 16 old + the new shard
    assert all(r.moved_elsewhere == 0 for r in rows)
    (new_shard,) = [r for r in rows if r.shard == 16]
    assert new_shard.n_docs_before == 0
    assert new_shard.moved_out == 0
    moved = sum(r.moved_out for r in rows)
    assert new_shard.n_docs_after == moved
    total = sum(r.n_docs_before for r in rows)
    # churn concentrates around 1/17 (small corpus => loose band)
    assert 0 < moved < 0.25 * total


def test_t_closeness_bounds_and_triad_consistency(spark):
    """t is a variational distance: 0 <= t <= 1; and a singleton class
    (k = 1) must sit at its maximal distance 1 - q_max >= t of others
    sharing its segment mix."""
    rows = QUERIES["privacy_t_closeness"](spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        assert 0.0 <= r.t_closeness <= 1.0
        assert r.exceeds_t == (r.t_closeness > 0.3)


# --- strict vs inclusive as-of tie semantics ----------------------------------

def test_asof_strict_excludes_same_instant_matches(spark):
    """allow_exact_matches=False semantics: a click at EXACTLY the
    purchase timestamp matches the inclusive as-of but never the strict
    one; otherwise the two variants agree."""
    import datetime as dt

    base = dt.datetime(2024, 1, 1, 12, 0, 0)
    rows = [
        # user 1: click strictly before -> both variants match it
        (1, base - dt.timedelta(minutes=5), 1, "click", 2.0, "{}"),
        (2, base, 1, "purchase", 9.0, "{}"),
        # user 2: click at the same instant -> inclusive only
        (3, base, 2, "click", 4.0, "{}"),
        (4, base, 2, "purchase", 9.0, "{}"),
    ]
    import tempfile, os
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp_ntz, user_id long, "
        "event_type string, value double, props string",
    )
    with tempfile.TemporaryDirectory() as d:
        df.write.mode("overwrite").parquet(
            os.path.join(d, "events.parquet")
        )
        inc = {
            r.user_id: r.click_value
            for r in QUERIES["join_asof_purchase_last_click"](
                spark, d
            ).collect()
        }
        strict = {
            r.user_id: r.click_value
            for r in QUERIES["join_asof_strict_before"](
                spark, d
            ).collect()
        }
    assert inc[1] == 2.0 and strict[1] == 2.0
    assert inc[2] == 4.0 and strict[2] is None


# --- stupid backoff branch arithmetic ----------------------------------------

def test_stupid_backoff_branch_hand_computed(spark, tmp_path):
    """On a constructed corpus the seen-bigram and backoff branches must
    match hand arithmetic: train = {'a b a b' x k docs}, scored doc =
    'a b c' (a->b seen with P=1; b->c unseen, c unseen unigram)."""
    import math

    from weather_bigdata_project_spark.queries.curation import _SB_TRAIN

    # find doc_ids landing in each split half deterministically, by
    # evaluating the query's own predicate text (no Python replica to
    # drift out of sync with the SQL)
    import duckdb

    con = duckdb.connect()
    con_ids = {True: [], False: []}
    i = 0
    while len(con_ids[True]) < 3 or len(con_ids[False]) < 1:
        (h,) = con.execute(
            f"SELECT {_SB_TRAIN} FROM (SELECT {i}::BIGINT AS doc_id)"
        ).fetchone()
        con_ids[bool(h)].append(i)
        i += 1
    rows = [(d, "a b a b", "en", "s", 7) for d in con_ids[True][:3]]
    rows.append((con_ids[False][0], "a b c", "en", "s", 5))
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, "
        "n_chars long"
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))

    (r,) = QUERIES["corpus_stupid_backoff"](spark, str(tmp_path)).collect()
    assert r.doc_id == con_ids[False][0]
    assert r.n_bigrams == 2 and r.n_backoff == 1
    # train: tokens = 12 ('a','b' x6 each), vn = 2; bigrams: a->b c=6,
    # b->a c=3; ctx a=6, b=3. Scored: (a,b) seen: ln(6/6)=0;
    # (b,c) unseen, c unseen: ln(0.4 * (0+1)/(12+2))
    lp1 = 0.0
    lp2 = math.log(0.4 * 1.0 / 14.0)
    want = (round(lp1 * 1e5) + round(lp2 * 1e5)) / (1e5 * 2)
    assert abs(r.avg_logscore - want) < 1e-9


# --- unicode-hostile documents through the byte-level paths ------------------

def test_unicode_documents_keep_oracle_parity(spark, tmp_path):
    """CJK / emoji / combining-accent / RTL text through the paths that
    mix CHARACTER ops with BYTE ops: the multimodal payload tiling
    (substring-then-encode ordering is what keeps multibyte text
    consistent across engines), token stats, shingle hashing, and the
    hash split. Oracle parity must hold bit-for-bit."""
    import shutil

    from tools.check_oracle import sweep

    for t in ["region", "nation", "customer", "supplier", "part",
              "orders", "lineitem", "events", "embeddings"]:
        shutil.copy(f"{SF_SMOKE}/{t}.parquet",
                    str(tmp_path / f"{t}.parquet"))
    texts = [
        "the 快速 key データ sort 表 scan merge",
        "naïve café jalapeño 🌶️ crème brûlée",
        "שלום עולם مرحبا بالعالم spark data",
        "étude café à la carte",
        "𝔘𝔫𝔦𝔠𝔬𝔡𝔢 𝕊𝕡𝕒𝕣𝕜 🚀 🎯 ✨",
        "普通的中文文本没有空格但这里有 分词 标记",
        "мир труд май данные поток",
        "a",
        "🎉",
    ]
    # single-file parquet (pyarrow): the DuckDB side of the comparison
    # reads the same path, and Spark's directory-style write is not a
    # file DuckDB's read_parquet accepts
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(
        pa.table({
            "doc_id": pa.array(range(len(texts)), pa.int64()),
            "text": texts,
            "lang": ["zh", "fr", "ar", "fr", "en", "zh", "ru", "en",
                     "en"],
            "source": [f"src{i % 3}" for i in range(len(texts))],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }),
        str(tmp_path / "documents.parquet"),
    )

    names = [
        "multimodal_ppm_decode_stats",
        "multimodal_wav_decode_stats",
        "multimodal_y4m_frame_stats",
        "multimodal_ppm_resize_embed",
        "text_token_stats",
        "dedup_ngram_jaccard",
        "corpus_split_assign",
    ]
    r = sweep(spark, str(tmp_path), names)
    assert r["ok"] == len(names), r["failures"]
