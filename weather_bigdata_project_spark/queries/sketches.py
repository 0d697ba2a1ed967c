"""Frequency / membership sketches as first-class distributed operators:
Count-Min frequency estimation, CMS inner-product join-size estimation,
and Bloom-filter join pruning.

These are the sketches a 100 TB engine actually runs *inside* queries
(the reference's scale story is "count things over an unbounded Kafka
stream", weather_streaming.py:55-145 — the streaming Misra-Gries twin
lives in streaming/twins.py; these are the BATCH sketch family):

- Count-Min (Cormode & Muthukrishnan 2005): d x w counter grid, point
  frequency = min over rows. Counters build with ONE map-side-combined
  groupBy over (row, col) — d*w cells total regardless of input size —
  and merge across partitions/executors by addition, which is why the
  sketch works where an exact per-key count would shuffle the full key
  universe.
- CMS join-size estimation (the AMS-style inner product): |A join B on
  key| = sum_key fA(key)*fB(key) is estimated by min_r sum_col
  A[r,col]*B[r,col] — two tiny sketches meet instead of two fact
  tables. This is how a cost-based optimizer sizes a join it has never
  run.
- Bloom-filter join pruning: build k-hash bitset over the selective
  build side, pre-filter the probe side before the shuffle — exactly
  what Spark's runtime bloom-filter injection
  (spark.sql.optimizer.runtime.bloomFilter.enabled, live-tested in
  tests/test_plans.py) does adaptively; spelled out here so the
  mechanics (fill factor, measured-vs-theoretical FPR, rows saved) are
  observable and oracle-gated.

Every hash is the engine-portable md5 trick (operators/textops.py
hashed_id_spark/hashed_id_duck — bit-equal in Spark and DuckDB), so all
sketch OUTPUTS are deterministic and the driver hash-gates the actual
estimates, not just a tolerance property (contrast
events_approx_distinct_bounds, where HLL++ internals are
engine-specific and only the guarantee can gate).

All sketch frames are tiny by construction (d*w counters, m bits) and
broadcast to the probe side — the big tables never shuffle.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from .. import tables
from ..functions.exprs import rnd
from ..operators.textops import hashed_id_duck, hashed_id_spark
from ..registry import query

# --- Count-Min geometry ---------------------------------------------------
# w=32 is deliberately narrow so that the ~150 distinct users at sf0.01
# genuinely collide and the estimates visibly OVER-count (CMS never
# under-counts): the interesting regime, not the trivial no-collision
# one. d=4 rows: per-key overestimate = min over 4 independent
# collision sums.
_D = 4
_W = 32


def _cms_col_spark(r: int, key_sql: str) -> str:
    return hashed_id_spark(f"concat('cms{r}:', {key_sql})", _W)


def _cms_col_duck(r: int, key_sql: str) -> str:
    return hashed_id_duck(f"('cms{r}:' || {key_sql})", _W)


def _cms_counters(df, key_sql: str):
    """(r, col, cnt): the d x w Count-Min grid for one keyed input.
    One narrow projection (d hash exprs per row, stacked in-row) then
    ONE aggregate — partial counts combine map-side, the shuffle
    carries at most d*w*partitions rows."""
    stack_args = ", ".join(
        f"{r}, {_cms_col_spark(r, key_sql)}" for r in range(_D)
    )
    return (
        df.selectExpr(f"stack({_D}, {stack_args}) AS (r, col)")
        .groupBy("r", "col")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def _cms_counters_weighted(df, key_sql: str):
    """The same d x w grid built from a PRE-AGGREGATED (key, c) frame:
    cell count = SUM(c) over the keys hashing to the cell — identical
    to counting raw rows, because every one of a key's c rows lands in
    the same cell. Lets one per-key reduction feed both the sketch and
    an exact-truth audit without re-scanning the fact table."""
    stack_args = ", ".join(
        f"{r}, {_cms_col_spark(r, key_sql)}" for r in range(_D)
    )
    return (
        df.selectExpr("c", f"stack({_D}, {stack_args}) AS (r, col)")
        .groupBy("r", "col")
        .agg(F.sum("c").cast("bigint").alias("cnt"))
    )


def _cms_counters_duck(src: str, key_sql: str) -> str:
    """DuckDB twin of _cms_counters as a FROM-able subquery string."""
    rows = " UNION ALL ".join(
        f"SELECT {r} AS r, {_cms_col_duck(r, key_sql)} AS col FROM {src}"
        for r in range(_D)
    )
    return (
        f"(SELECT r, col, CAST(COUNT(*) AS BIGINT) AS cnt "
        f"FROM ({rows}) GROUP BY r, col)"
    )


_EV_KEY_SPARK = "CAST(user_id AS STRING)"
_EV_KEY_DUCK = "CAST(user_id AS VARCHAR)"


@query(
    "events_cms_frequency",
    oracle=(
        "WITH counters AS (SELECT * FROM "
        + _cms_counters_duck("events", _EV_KEY_DUCK)
        + "), "
        "tk AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS true_cnt "
        "FROM events GROUP BY user_id), "
        "probes AS ("
        + " UNION ALL ".join(
            f"SELECT user_id, true_cnt, {r} AS r, "
            f"{_cms_col_duck(r, _EV_KEY_DUCK)} AS col FROM tk"
            for r in range(_D)
        )
        + "), "
        "est AS (SELECT p.user_id, p.true_cnt, MIN(c.cnt) AS est_cnt "
        "FROM probes p JOIN counters c ON c.r = p.r AND c.col = p.col "
        "GROUP BY p.user_id, p.true_cnt) "
        "SELECT user_id, true_cnt, est_cnt, "
        "est_cnt - true_cnt AS overest "
        "FROM est ORDER BY true_cnt DESC, user_id LIMIT 25"
    ),
)
def events_cms_frequency(spark, sf_dir):
    """Count-Min point-frequency estimates for the 25 heaviest users,
    hash-gated EXACTLY (both engines compute the identical md5-seeded
    grid). est_cnt >= true_cnt always (CMS one-sided error); `overest`
    is the realized collision mass, min'd over the 4 rows.

    Scale shape: counters = one map-side-combined count into d*w=128
    cells; probing joins the (key, r, col) triples against the
    BROADCAST grid — the events table itself is read once and never
    shuffled on user_id. At 100 TB the exact per-key `tk` side of this
    audit runs on a sample or a scheduled slice; the sketch side is the
    always-on path (its streaming sibling: the Misra-Gries heavy-hitter
    job in streaming/twins.py)."""
    ev = tables.load(spark, sf_dir, "events")
    counters = _cms_counters(ev, _EV_KEY_SPARK)
    tk = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("true_cnt"))
    stack_args = ", ".join(
        f"{r}, {_cms_col_spark(r, _EV_KEY_SPARK)}" for r in range(_D)
    )
    probes = tk.selectExpr(
        "user_id", "true_cnt", f"stack({_D}, {stack_args}) AS (r, col)"
    )
    est = (
        probes.join(F.broadcast(counters), ["r", "col"])
        .groupBy("user_id", "true_cnt")
        .agg(F.min("cnt").alias("est_cnt"))
    )
    return (
        est.select(
            "user_id",
            "true_cnt",
            "est_cnt",
            (F.col("est_cnt") - F.col("true_cnt")).alias("overest"),
        )
        .orderBy(F.desc("true_cnt"), "user_id")
        .limit(25)
    )


@query(
    "events_cms_joinsize",
    oracle=(
        "WITH a AS (SELECT * FROM events WHERE event_type = 'click'), "
        "b AS (SELECT * FROM events WHERE event_type = 'purchase'), "
        "ca AS (SELECT * FROM "
        + _cms_counters_duck("a", _EV_KEY_DUCK)
        + "), "
        "cb AS (SELECT * FROM "
        + _cms_counters_duck("b", _EV_KEY_DUCK)
        + "), "
        "per_row AS (SELECT ca.r, CAST(SUM(ca.cnt * cb.cnt) AS BIGINT) "
        "AS est_r FROM ca JOIN cb ON cb.r = ca.r AND cb.col = ca.col "
        "GROUP BY ca.r), "
        "tr AS (SELECT CAST(SUM(x.c * y.c) AS BIGINT) AS true_pairs FROM "
        "(SELECT user_id, COUNT(*) AS c FROM a GROUP BY user_id) x JOIN "
        "(SELECT user_id, COUNT(*) AS c FROM b GROUP BY user_id) y "
        "ON y.user_id = x.user_id) "
        "SELECT true_pairs, (SELECT MIN(est_r) FROM per_row) AS est_pairs, "
        "(SELECT MIN(est_r) FROM per_row) - true_pairs AS overest, "
        + rnd(
            "100.0e0 * ((SELECT MIN(est_r) FROM per_row) - true_pairs) "
            "/ true_pairs",
            2,
        )
        + " AS rel_err_pct FROM tr"
    ),
)
def events_cms_joinsize(spark, sf_dir):
    """Join-size estimation from two Count-Min sketches: |clicks join
    purchases on user_id| = sum_u c_u*p_u, estimated as min_r of the
    row-wise inner product sum_col A[r,col]*B[r,col] — also one-sided
    (estimate >= truth, colliding keys add cross terms). Hash-gated
    exactly alongside the true size and realized relative error.

    This is the optimizer's question — "how big is this join?" —
    answered by meeting two 128-cell grids instead of joining two fact
    tables. At 100 TB each side's sketch builds in its own scan
    (mergeable partials, no key shuffle) and the inner product is
    driver-trivial; the exact `tr` twin here is the audit, computed
    only because the test scale allows it.

    Single scan: both sides' sketches AND both sides' exact per-key
    counts derive from ONE materialized (user_id, event_type, c)
    reduction — the weighted grid (SUM(c) per cell) is identical to
    counting raw rows, since a key's rows all hash to the same cell.
    The previous form derived each of the four branches from the raw
    table (4x events parquet scans, round-7 scan audit)."""
    from ..operators.textops import materialize as _mat

    ev = tables.load(spark, sf_dir, "events")
    uc = _mat(
        ev.filter(F.col("event_type").isin("click", "purchase"))
        .groupBy("user_id", "event_type")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    ua = uc.filter(F.col("event_type") == "click").select("user_id", "c")
    ub = uc.filter(F.col("event_type") == "purchase").select(
        "user_id", "c"
    )
    ca = _cms_counters_weighted(ua, _EV_KEY_SPARK)
    cb = _cms_counters_weighted(ub, _EV_KEY_SPARK)
    per_row = (
        ca.alias("ca")
        .join(
            F.broadcast(cb.alias("cb")),
            (F.col("cb.r") == F.col("ca.r"))
            & (F.col("cb.col") == F.col("ca.col")),
        )
        .groupBy(F.col("ca.r").alias("r"))
        .agg(
            F.sum(F.col("ca.cnt") * F.col("cb.cnt"))
            .cast("bigint")
            .alias("est_r")
        )
    )
    est = per_row.agg(F.min("est_r").alias("est_pairs"))
    tr = (
        ua.alias("x")
        .join(ub.alias("y"), "user_id")
        .agg(
            F.sum(F.col("x.c") * F.col("y.c"))
            .cast("bigint")
            .alias("true_pairs")
        )
    )
    return (
        tr.crossJoin(F.broadcast(est))
        .select(
            "true_pairs",
            "est_pairs",
            (F.col("est_pairs") - F.col("true_pairs")).alias("overest"),
            F.expr(
                rnd(
                    "100.0e0 * (est_pairs - true_pairs) / true_pairs", 2
                )
            ).alias("rel_err_pct"),
        )
    )


# --- Bloom-filter join pruning --------------------------------------------
#: bits per BUILD key — the bloom is SIZED TO THE BUILD SIDE
#: (m = max(floor, 16 * n_build)), not a fixed constant: the round-7
#: 4-point ledger caught the original fixed m=2048 saturating a decade
#: up (12k build keys x 3 hashes -> every bit set -> zero pruning ->
#: shuffle records x176 for x10 data). 16 bits/key at k=3 holds FPR
#: ~0.5% at ANY corpus size; both engines derive m from the same
#: integer expression, so the report stays hash-gated exactly.
_BITS_PER_KEY = 16
_M_FLOOR = 2048  # tiny-fixture floor so degenerate builds stay sane
_K_HASH = 3
_PART_PRED = "p_size >= 48"  # ~6% of parts: the selective build side

#: m as a shared integer SQL snippet over the 1-row n_build frame
_M_SQL = f"GREATEST({_M_FLOOR}, {_BITS_PER_KEY} * n_build)"


def _bloom_pos_spark(r: int, key_sql: str) -> str:
    h = hashed_id_spark("concat('bf" + str(r) + ":', " + key_sql + ")")
    return f"({h} % {_M_SQL})"


def _bloom_pos_duck(r: int, key_sql: str) -> str:
    h = hashed_id_duck("('bf" + str(r) + ":' || " + key_sql + ")")
    return f"({h} % {_M_SQL})"


@query(
    "lineitem_bloom_join_prune",
    oracle=(
        "WITH build AS (SELECT p_partkey FROM part WHERE "
        + _PART_PRED
        + "), "
        "nb AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_build FROM build), "
        "bits AS (SELECT DISTINCT pos FROM ("
        + " UNION ALL ".join(
            f"SELECT {_bloom_pos_duck(r, 'CAST(p_partkey AS VARCHAR)')} "
            "AS pos FROM build CROSS JOIN nb"
            for r in range(_K_HASH)
        )
        + ")), "
        "probe AS (SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS n_rows "
        "FROM lineitem GROUP BY l_partkey), "
        "pp AS ("
        + " UNION ALL ".join(
            f"SELECT l_partkey, "
            f"{_bloom_pos_duck(r, 'CAST(l_partkey AS VARCHAR)')} AS pos "
            "FROM probe CROSS JOIN nb"
            for r in range(_K_HASH)
        )
        + "), "
        "hits AS (SELECT pp.l_partkey, COUNT(*) AS k_hit FROM pp "
        "JOIN bits ON bits.pos = pp.pos GROUP BY pp.l_partkey), "
        f"passed AS (SELECT l_partkey FROM hits WHERE k_hit = {_K_HASH}), "
        "lab AS (SELECT probe.l_partkey, probe.n_rows, "
        "CASE WHEN passed.l_partkey IS NOT NULL THEN 1 ELSE 0 END AS pass, "
        "CASE WHEN build.p_partkey IS NOT NULL THEN 1 ELSE 0 END AS member "
        "FROM probe LEFT JOIN passed ON passed.l_partkey = probe.l_partkey "
        "LEFT JOIN build ON build.p_partkey = probe.l_partkey) "
        "SELECT CAST((SELECT COUNT(*) FROM build) AS BIGINT) AS n_build, "
        "CAST((SELECT COUNT(*) FROM bits) AS BIGINT) AS bits_set, "
        "CAST(COUNT(*) AS BIGINT) AS n_probe_keys, "
        "CAST(SUM(pass) AS BIGINT) AS n_pass_keys, "
        "CAST(SUM(member) AS BIGINT) AS n_member_keys, "
        "CAST(SUM(CASE WHEN pass = 1 AND member = 0 THEN 1 ELSE 0 END) "
        "AS BIGINT) AS n_false_pos, "
        "CAST(SUM(n_rows) AS BIGINT) AS rows_total, "
        "CAST(SUM(pass * n_rows) AS BIGINT) AS rows_passed, "
        "CAST(SUM(member * n_rows) AS BIGINT) AS rows_joinable, "
        + rnd(
            "100.0e0 * SUM(CASE WHEN pass = 1 AND member = 0 THEN 1 "
            "ELSE 0 END) / NULLIF(COUNT(*) - SUM(member), 0)",
            4,
        )
        + " AS fpr_pct FROM lab"
    ),
)
def lineitem_bloom_join_prune(spark, sf_dir):
    """Bloom-filter pre-filter for the selective part(p_size>=48) join
    lineitem: k=3 md5 hashes into m = max(2048, 16 * n_build) bits —
    SIZED TO THE BUILD SIDE, because the round-7 4-point ledger caught
    the original fixed m=2048 saturating a decade up (every bit set,
    zero pruning, probe shuffle x176 for x10 data). A probe passes iff
    all 3 bits are set. Reports the whole economics of the prune —
    bits set (fill factor), keys/rows surviving, truly-joinable
    keys/rows, and the measured false-positive rate (~0.5% at 16
    bits/key for ANY corpus size) — all hash-gated exactly; both
    engines derive m from the same integer expression over the 1-row
    build count.

    Scale shape: the bitset is built from the ~6% build side (one
    distinct over k*n positions, <= m rows) and BROADCAST; the probe
    side reduces to per-key row counts (map-side combine), so lineitem
    never shuffles on partkey and the rows_passed/rows_total ratio IS
    the shuffle saved at the real join. Spark's adaptive runtime
    bloom-filter injection (tests/test_plans.py) does this same prune
    inside the optimizer; this operator makes the mechanics auditable.
    """
    part = tables.load(spark, sf_dir, "part")
    li = tables.load(spark, sf_dir, "lineitem")
    build = part.filter(F.expr(_PART_PRED)).select("p_partkey")
    nb = build.agg(F.count(F.lit(1)).cast("bigint").alias("n_build"))
    key_b = "CAST(p_partkey AS STRING)"
    bits = (
        build.crossJoin(F.broadcast(nb))
        .selectExpr(
            "stack("
            + str(_K_HASH)
            + ", "
            + ", ".join(
                f"{r}, {_bloom_pos_spark(r, key_b)}"
                for r in range(_K_HASH)
            )
            + ") AS (r, pos)"
        )
        .select("pos")
        .distinct()
    )
    probe = li.groupBy("l_partkey").agg(
        F.count(F.lit(1)).alias("n_rows")
    )
    key_p = "CAST(l_partkey AS STRING)"
    pp = probe.crossJoin(F.broadcast(nb)).selectExpr(
        "l_partkey",
        "stack("
        + str(_K_HASH)
        + ", "
        + ", ".join(
            f"{r}, {_bloom_pos_spark(r, key_p)}" for r in range(_K_HASH)
        )
        + ") AS (r, pos)",
    )
    hits = (
        pp.join(F.broadcast(bits), "pos")
        .groupBy("l_partkey")
        .agg(F.count(F.lit(1)).alias("k_hit"))
    )
    passed = hits.filter(F.col("k_hit") == _K_HASH).select(
        "l_partkey", F.lit(1).alias("pass")
    )
    member = build.select(
        F.col("p_partkey").alias("l_partkey"), F.lit(1).alias("member")
    )
    lab = (
        probe.join(F.broadcast(passed), "l_partkey", "left")
        .join(F.broadcast(member), "l_partkey", "left")
        .select(
            "l_partkey",
            "n_rows",
            F.coalesce("pass", F.lit(0)).alias("pass"),
            F.coalesce("member", F.lit(0)).alias("member"),
        )
    )
    n_build = nb
    bits_set = bits.agg(
        F.count(F.lit(1)).cast("bigint").alias("bits_set")
    )
    agg = lab.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_probe_keys"),
        F.sum("pass").cast("bigint").alias("n_pass_keys"),
        F.sum("member").cast("bigint").alias("n_member_keys"),
        F.sum(
            F.expr("CASE WHEN pass = 1 AND member = 0 THEN 1 ELSE 0 END")
        )
        .cast("bigint")
        .alias("n_false_pos"),
        F.sum("n_rows").cast("bigint").alias("rows_total"),
        F.sum(F.col("pass") * F.col("n_rows"))
        .cast("bigint")
        .alias("rows_passed"),
        F.sum(F.col("member") * F.col("n_rows"))
        .cast("bigint")
        .alias("rows_joinable"),
        F.expr(
            rnd(
                "100.0e0 * SUM(CASE WHEN pass = 1 AND member = 0 THEN 1 "
                "ELSE 0 END) / NULLIF(COUNT(*) - SUM(member), 0)",
                4,
            )
        ).alias("fpr_pct"),
    )
    return (
        n_build.crossJoin(F.broadcast(bits_set))
        .crossJoin(F.broadcast(agg))
        .select(
            "n_build",
            "bits_set",
            "n_probe_keys",
            "n_pass_keys",
            "n_member_keys",
            "n_false_pos",
            "rows_total",
            "rows_passed",
            "rows_joinable",
            "fpr_pct",
        )
    )


# --- KMV (k-minimum-values) distinct/set-operation sketch ------------------
# Bar-Yossef et al. 2002 / the theta-sketch family: keep the k smallest
# uniform hashes of a set; the k-th minimum u_(k) estimates the distinct
# count as (k-1)/u_(k), and because a KMV sketch of A UNION B is just the
# k smallest of the two sketches' hashes pooled, the SAME tiny state
# answers union, intersection and Jaccard questions across sets that
# were sketched independently (HLL, by contrast, unions but cannot
# intersect without inclusion-exclusion blowup).
_KMV_K = 32
_KMV_MOD = 1 << 30  # hash range; u = (h+1)/MOD in (0, 1]
_KMV_HEAVY = 14  # "heavy user" threshold: >= 14 events of the type


def _kmv_sql(src: str, h: str, pre_reduced: bool = False) -> str:
    """Engine-shared KMV body (everything after WITH). `h` is the
    engine's portable user-id hash expression (the only dialect
    difference). With `pre_reduced`, `src` is already the
    (user_id, event_type, c) per-user-type count frame — the Spark
    caller materializes it so the eight downstream CTE references
    (sketch + exact-truth branches) re-read the persisted reduction
    instead of re-deriving it: Spark inlines multi-referenced CTEs,
    and the round-7 scan audit measured FOUR full parquet scans of
    events per run under the shared-text form."""
    k, mod, hv = _KMV_K, _KMV_MOD, _KMV_HEAVY
    est = (
        "CASE WHEN n{s}_sk < {k} THEN CAST(n{s}_sk AS BIGINT) "
        "ELSE CAST(ROUND(({k} - 1) * {mod}.0e0 / (k{s} + 1), 0) AS BIGINT) "
        "END"
    )
    cnts = (
        f"cnts AS (SELECT user_id, event_type, c FROM {src}), "
        if pre_reduced
        else (
            f"cnts AS (SELECT user_id, event_type, COUNT(*) AS c FROM {src} "
            "WHERE event_type IN ('click', 'purchase') "
            "GROUP BY user_id, event_type), "
        )
    )
    return (
        cnts
        + f"a AS (SELECT user_id FROM cnts WHERE event_type = 'click' "
        f"AND c >= {hv}), "
        f"b AS (SELECT user_id FROM cnts WHERE event_type = 'purchase' "
        f"AND c >= {hv}), "
        f"ha AS (SELECT DISTINCT {h} AS h FROM a), "
        f"hb AS (SELECT DISTINCT {h} AS h FROM b), "
        f"ska AS (SELECT h FROM ha ORDER BY h LIMIT {k}), "
        f"skb AS (SELECT h FROM hb ORDER BY h LIMIT {k}), "
        "sku AS (SELECT DISTINCT h FROM "
        "(SELECT h FROM ska UNION ALL SELECT h FROM skb) pool "
        f"ORDER BY h LIMIT {k}), "
        "sa AS (SELECT COUNT(*) AS na_sk, MAX(h) AS ka FROM ska), "
        "sb AS (SELECT COUNT(*) AS nb_sk, MAX(h) AS kb FROM skb), "
        "su AS (SELECT COUNT(*) AS nu_sk, MAX(h) AS ku FROM sku), "
        "bo AS (SELECT COUNT(*) AS n_both FROM sku "
        "JOIN ska ON ska.h = sku.h JOIN skb ON skb.h = sku.h), "
        "ta AS (SELECT COUNT(*) AS true_a FROM a), "
        "tb AS (SELECT COUNT(*) AS true_b FROM b), "
        "tu AS (SELECT COUNT(*) AS true_union FROM "
        "(SELECT user_id FROM a UNION SELECT user_id FROM b) x), "
        "ti AS (SELECT COUNT(*) AS true_inter FROM "
        "(SELECT a.user_id FROM a JOIN b ON b.user_id = a.user_id) y) "
        f"SELECT CAST({k} AS INT) AS k, "
        "CAST(true_a AS BIGINT) AS true_a, "
        + est.format(s="a", k=k, mod=mod)
        + " AS est_a, "
        "CAST(true_b AS BIGINT) AS true_b, "
        + est.format(s="b", k=k, mod=mod)
        + " AS est_b, "
        "CAST(true_union AS BIGINT) AS true_union, "
        + est.format(s="u", k=k, mod=mod)
        + " AS est_union, "
        "CAST(true_inter AS BIGINT) AS true_inter, "
        # NULLIF (tiny fixture fuzz): a corpus with no heavy users has
        # EMPTY sketches and sets — every ratio is undefined (NULL in
        # both engines), never an ANSI throw
        "CAST(ROUND("
        + est.format(s="u", k=k, mod=mod)
        + " * n_both * 1.0e0 / NULLIF(nu_sk, 0), 0) AS BIGINT) "
        "AS est_inter, "
        + rnd("true_inter * 1.0e0 / NULLIF(true_union, 0)", 4)
        + " AS jaccard_true, "
        + rnd("n_both * 1.0e0 / NULLIF(nu_sk, 0)", 4)
        + " AS jaccard_est "
        "FROM sa CROSS JOIN sb CROSS JOIN su CROSS JOIN bo "
        "CROSS JOIN ta CROSS JOIN tb CROSS JOIN tu CROSS JOIN ti"
    )


@query(
    "events_kmv_setops",
    oracle=(
        "WITH "
        + _kmv_sql(
            "events",
            hashed_id_duck(
                "('kmv:' || CAST(user_id AS VARCHAR))", _KMV_MOD
            ),
        )
    ),
)
def events_kmv_setops(spark, sf_dir):
    """KMV (k-minimum-values / theta-style) sketch over two user sets —
    heavy clickers vs heavy purchasers (>= 14 events of the type) —
    estimating |A|, |B|, |A u B|, |A n B| and Jaccard from two 32-hash
    states, hash-gated EXACTLY against the true sets (both engines
    compute the identical md5 hash order). Below k the sketch holds the
    whole set and the CASE degrades to exact mode (sf0.001 exercises
    exact mode, sf0.01+ the estimator mode — both paths driver-gated).

    Why this sketch exists next to HLL (events_approx_distinct_*): KMV
    states INTERSECT. The union sketch is the k smallest of the pooled
    per-set sketches, the intersection estimate is the union estimate
    scaled by the fraction of union-sketch hashes present in both input
    sketches — so "how many users are in segment A and B?" is answered
    by meeting two 32-row states sketched by jobs that never saw each
    other, where exact distinct-intersection would shuffle both key
    universes to one place.

    Scale shape: the per-side k-smallest is TakeOrderedAndProject — a
    per-partition top-k heap merged on one reducer with k rows per
    partition in flight, never a global sort — and everything after the
    sketches is constant-size (<= 3k rows). The exact truth CTEs are
    the test-scale audit; at 100 TB only the sketch path runs. The
    (user_id, event_type, c) reduction is materialized so the fact
    table is scanned ONCE: the sketch and truth branches reference it
    eight times, and Spark's CTE inlining otherwise re-derives the
    whole scan per reference (4x events reads measured in the round-7
    scan audit)."""
    from ..operators.textops import materialize as _mat

    ev = tables.load(spark, sf_dir, "events")
    cnts = _mat(
        ev.filter(F.col("event_type").isin("click", "purchase"))
        .groupBy("user_id", "event_type")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    cnts.createOrReplaceTempView("kmv_cnts")
    return spark.sql(
        "WITH "
        + _kmv_sql(
            "kmv_cnts",
            hashed_id_spark(
                "concat('kmv:', CAST(user_id AS STRING))", _KMV_MOD
            ),
            pre_reduced=True,
        )
    )
