"""Behavioral / diagnostic analytics over the events stream: session
path mining, series autocorrelation, and a key-skew profiler.

The reference's analytics stop at per-city aggregates of a single metric
(ref:streamlit/app.py:333-338); its event-shaped sibling questions —
"what do sessions look like", "is the series self-correlated", "which
keys are hot" — never appear. These three operators add them, each as
one declarative plan:

- `events_session_paths`: clickstream path mining — sessionize by a
  30-minute inactivity gap, collapse each session to its ordered
  event-type sequence, rank the most common paths.
- `events_acf_daily`: autocorrelation of the global daily event-count
  series at lags 1..7 — the statistical twin of the dashboard's by-eye
  trend reading, and the input that justifies (or kills) a seasonal
  model like `events_dow_seasonality`.
- `events_key_skew_profile`: per-key frequency skew diagnostic (heavy
  key, skew ratio, count percentiles). At 100 TB this is the number
  that decides whether a join on this key needs salting
  (`join_salted_events_customer`) or AQE skew splitting — measured,
  not guessed.

Numeric doctrine (see `queries/stats.py`): counts are exact BIGINTs;
every cross-row sum stays integer; float division happens once per
output row on exact scalars, then snaps via `rnd` so the hash compare
cannot see last-ulp noise.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from .. import tables
from ..functions.exprs import EPOCH_US_SPARK, rnd
from ..operators.textops import materialize
from ..registry import query

#: epoch microseconds of the (ns->us normalized) event timestamp,
#: timezone-independent in both engines (Spark: exprs.EPOCH_US_SPARK)
_EPOCH_US_DUCK = "epoch_us(ts)"

#: session inactivity gap: 30 minutes, in microseconds (matches the
#: session_window gap of `events_user_sessions`)
_GAP_US = 30 * 60 * 1_000_000


# --- session path mining ------------------------------------------------------

_PATHS_ORACLE = (
    "WITH " + tables.EVENTS_ORACLE_CTE + ", "
    f"e AS (SELECT user_id, event_id, event_type, {_EPOCH_US_DUCK} AS tus "
    "FROM events_t), "
    "m AS (SELECT *, CASE WHEN LAG(tus) OVER w IS NULL "
    f"OR tus - LAG(tus) OVER w > {_GAP_US} THEN 1 ELSE 0 END AS ns "
    "FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tus, event_id)), "
    "s AS (SELECT *, SUM(ns) OVER (PARTITION BY user_id "
    "ORDER BY tus, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT "
    "ROW) AS sid FROM m), "
    "p AS (SELECT user_id, sid, "
    "string_agg(event_type, '>' ORDER BY tus, event_id) AS path, "
    "COUNT(*) AS plen FROM s GROUP BY user_id, sid) "
    "SELECT path, COUNT(*) AS n_sessions, "
    "CAST(MAX(plen) AS BIGINT) AS path_len "
    "FROM p GROUP BY path ORDER BY n_sessions DESC, path LIMIT 20"
)


@query("events_session_paths", oracle=_PATHS_ORACLE)
def events_session_paths(spark, sf_dir):
    """Top-20 session paths: sessionize each user's stream by a 30-min
    inactivity gap (lag + running-sum windows, one exchange on user_id,
    O(1) window state), collapse each session to its time-ordered
    event-type sequence ('view>click>purchase'), count sessions per
    path. The per-session collect is bounded by session length — human
    sessions, not table size — and the path-frequency aggregate runs on
    the session frame (already two reductions below fact volume). The
    final top-20 is a total order (count desc, path asc), so both
    engines pick identical rows. Path mining is the session-level
    upgrade of `events_funnel_strict`'s fixed three-stage funnel."""
    ev = tables.load(spark, sf_dir, "events")
    e = ev.select(
        "user_id",
        "event_id",
        "event_type",
        F.expr(EPOCH_US_SPARK).alias("tus"),
    )
    w = Window.partitionBy("user_id").orderBy("tus", "event_id")
    gap = F.col("tus") - F.lag("tus").over(w)
    ns = F.when(gap.isNull() | (gap > _GAP_US), 1).otherwise(0)
    run = w.rowsBetween(Window.unboundedPreceding, 0)
    s = e.withColumn("sid", F.sum(ns).over(run))
    p = s.groupBy("user_id", "sid").agg(
        F.expr(
            "concat_ws('>', transform("
            "array_sort(collect_list(struct(tus, event_id, event_type))), "
            "x -> x.event_type))"
        ).alias("path"),
        F.count(F.lit(1)).alias("plen"),
    )
    return (
        p.groupBy("path")
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.max("plen").cast("bigint").alias("path_len"),
        )
        .orderBy(F.desc("n_sessions"), "path")
        .limit(20)
    )


# --- autocorrelation of the daily series -------------------------------------

_N_LAGS = 7

_ACF_ORACLE = (
    "WITH " + tables.EVENTS_ORACLE_CTE + ", "
    "d AS (SELECT CAST(ts AS DATE) AS day, COUNT(*) AS x "
    "FROM events_t GROUP BY 1), "
    "t AS (SELECT COUNT(*) AS nd, SUM(x) AS sx FROM d), "
    "v AS (SELECT day, nd * x - sx AS dev FROM d CROSS JOIN t), "
    "l AS (SELECT dev, "
    + ", ".join(
        f"LAG(dev, {k}) OVER (ORDER BY day) AS l{k}"
        for k in range(1, _N_LAGS + 1)
    )
    + " FROM v), "
    "u AS ("
    + " UNION ALL ".join(
        f"SELECT {k} AS lag, dev, l{k} AS dl FROM l"
        for k in range(1, _N_LAGS + 1)
    )
    + "), "
    "den AS (SELECT SUM(dev * dev) AS den FROM v) "
    "SELECT lag, COUNT(dl) AS n_pairs, "
    + rnd("CAST(SUM(dev * dl) AS DOUBLE) / den", 6)
    + " AS acf FROM u CROSS JOIN den GROUP BY lag, den"
)


@query("events_acf_daily", oracle=_ACF_ORACLE)
def events_acf_daily(spark, sf_dir):
    """Autocorrelation of the global daily event-count series at lags
    1..7: r_k = sum(dev_t * dev_{t-k}) / sum(dev_t^2) with the exact
    integer deviation dev_t = n_days * x_t - sum(x) (scaling by n_days
    clears the rational mean, so every cross-row product is exact
    BIGINT; one float division per lag at the edge). The fact table
    reduces to the daily frame first — the ORDER BY day window runs on
    calendar-sized data in one task, which is the right plan: 100 TB of
    events is still only ~10^4 days. BIGINT headroom: dev ~ nd * x, so
    dev^2 * nd overflows int64 only past ~10^6 days x 10^6 events/day;
    swap the accumulators to DECIMAL(38,0) there. A lag-k spike here is
    the quantitative justification for the weekly model in
    `events_dow_seasonality` (expect k=7 to dominate)."""
    ev = tables.load(spark, sf_dir, "events")
    d = materialize(
        ev.groupBy(F.to_date("ts").alias("day")).agg(
            F.count(F.lit(1)).alias("x")
        )
    )
    t = d.agg(F.count(F.lit(1)).alias("nd"), F.sum("x").alias("sx"))
    v = materialize(
        d.join(F.broadcast(t)).select(
            "day", (F.col("nd") * F.col("x") - F.col("sx")).alias("dev")
        )
    )
    w = Window.orderBy("day")
    lagged = v.select(
        "dev",
        *[F.lag("dev", k).over(w).alias(f"l{k}") for k in range(1, _N_LAGS + 1)],
    )
    stacked = lagged.selectExpr(
        f"stack({_N_LAGS}, "
        + ", ".join(f"{k}, dev, l{k}" for k in range(1, _N_LAGS + 1))
        + ") AS (lag, dev, dl)"
    )
    den = v.agg(F.sum(F.expr("dev * dev")).alias("den"))
    return (
        stacked.groupBy("lag")
        .agg(
            F.count("dl").alias("n_pairs"),
            F.sum(F.expr("dev * dl")).alias("num"),
        )
        .join(F.broadcast(den))
        .select(
            "lag",
            "n_pairs",
            F.expr(rnd("CAST(num AS DOUBLE) / den", 6)).alias("acf"),
        )
    )


# --- key-skew profiler --------------------------------------------------------

_SKEW_ORACLE = (
    "WITH " + tables.EVENTS_ORACLE_CTE + ", "
    "c AS (SELECT user_id, COUNT(*) AS c FROM events_t GROUP BY user_id), "
    "mx AS (SELECT MAX(c) AS max_c FROM c) "
    "SELECT COUNT(*) AS n_keys, SUM(c) AS n_events, "
    "(SELECT max_c FROM mx) AS max_count, "
    "(SELECT MIN(user_id) FROM c WHERE c = (SELECT max_c FROM mx)) "
    "AS top_key, "
    + rnd("CAST(SUM(c) AS DOUBLE) / COUNT(*)", 4)
    + " AS avg_per_key, "
    + rnd(
        "CAST((SELECT max_c FROM mx) AS DOUBLE) * COUNT(*) / SUM(c)", 4
    )
    + " AS skew_ratio, "
    + ", ".join(
        rnd(f"quantile_cont(c, {q}e0)", 4) + f" AS p{int(q * 100)}_count"
        for q in (0.5, 0.9, 0.99)
    )
    + " FROM c"
)


@query("events_key_skew_profile", oracle=_SKEW_ORACLE)
def events_key_skew_profile(spark, sf_dir):
    """Key-skew diagnostic for the events->user_id key: key count, max
    and percentile key frequencies, the hottest key, and the skew ratio
    max/avg — the measured input to the salt-or-not decision
    (`join_salted_events_customer` demonstrates the cure; this query
    tells you whether you need it, and `skewJoin` AQE thresholds map
    directly onto skew_ratio). One map-combined hash aggregate reduces
    fact volume to key cardinality; everything after runs on the key
    frame (exact percentiles buffer it — at billion-key scale swap to
    approx_percentile, same plan shape otherwise). top_key is
    deterministic: MIN(user_id) among keys hitting the max count."""
    ev = tables.load(spark, sf_dir, "events")
    c = materialize(
        ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("c"))
    )
    mx = c.agg(F.max("c").alias("max_c"))
    top = (
        c.join(F.broadcast(mx), F.col("c") == F.col("max_c"))
        .agg(F.min("user_id").alias("top_key"))
    )
    prof = c.groupBy().agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum("c").alias("n_events"),
        F.expr("percentile(c, array(0.5e0, 0.9e0, 0.99e0))").alias("qs"),
    )
    return (
        prof.join(F.broadcast(mx))
        .join(F.broadcast(top))
        .select(
            "n_keys",
            "n_events",
            F.col("max_c").alias("max_count"),
            "top_key",
            F.expr(rnd("CAST(n_events AS DOUBLE) / n_keys", 4)).alias(
                "avg_per_key"
            ),
            F.expr(
                rnd("CAST(max_c AS DOUBLE) * n_keys / n_events", 4)
            ).alias("skew_ratio"),
            *[
                F.expr(rnd(f"qs[{i}]", 4)).alias(f"p{int(q * 100)}_count")
                for i, q in enumerate((0.5, 0.9, 0.99))
            ],
        )
    )


# --- inter-arrival gap statistics --------------------------------------------

_IA_QS = [(0.5, "p50"), (0.9, "p90"), (0.99, "p99")]

_IA_ORACLE = (
    "WITH " + tables.EVENTS_ORACLE_CTE + ", "
    f"e AS (SELECT event_type, event_id, {_EPOCH_US_DUCK} AS tus "
    "FROM events_t), "
    "g AS (SELECT event_type, tus - LAG(tus) OVER ("
    "PARTITION BY event_type ORDER BY tus, event_id) AS g FROM e) "
    "SELECT event_type, COUNT(g) AS n_gaps, "
    + rnd("CAST(SUM(g) AS DOUBLE) / (1.0e6 * COUNT(g))", 4)
    + " AS mean_gap_s, "
    + ", ".join(
        rnd(f"quantile_cont(g, {q}e0) / 1.0e6", 4) + f" AS {n}_gap_s"
        for q, n in _IA_QS
    )
    + ", "
    + rnd("CAST(MAX(g) AS DOUBLE) / 1.0e6", 4)
    + " AS max_gap_s FROM g WHERE g IS NOT NULL GROUP BY event_type"
)


@query("events_interarrival_stats", oracle=_IA_ORACLE)
def events_interarrival_stats(spark, sf_dir):
    """Inter-arrival gap distribution per event type: mean / p50 / p90 /
    p99 / max seconds between consecutive events of the type — the
    arrival-process profile that sizes streaming watermarks
    (`withWatermark` tolerances should dominate the p99 gap) and batch
    window widths. Gaps are exact integer microseconds from one lag
    window (partition = event_type, O(1) state); the per-type exact
    percentile buffers one type's gaps — at extreme scale swap to
    approx_percentile, same plan otherwise. Mean rides the exact
    integer sum; every output snaps via rnd(4)."""
    ev = tables.load(spark, sf_dir, "events")
    e = ev.select(
        "event_type", "event_id", F.expr(EPOCH_US_SPARK).alias("tus")
    )
    w = Window.partitionBy("event_type").orderBy("tus", "event_id")
    g = e.select(
        "event_type", (F.col("tus") - F.lag("tus").over(w)).alias("g")
    ).filter(F.col("g").isNotNull())
    qarr = ", ".join(f"{q}e0" for q, _ in _IA_QS)
    agg = g.groupBy("event_type").agg(
        F.count("g").alias("n_gaps"),
        F.sum("g").alias("sg"),
        F.expr(f"percentile(g, array({qarr}))").alias("qs"),
        F.max("g").alias("mg"),
    )
    return agg.select(
        "event_type",
        "n_gaps",
        F.expr(rnd("CAST(sg AS DOUBLE) / (1.0e6 * n_gaps)", 4)).alias(
            "mean_gap_s"
        ),
        *[
            F.expr(rnd(f"qs[{i}] / 1.0e6", 4)).alias(f"{n}_gap_s")
            for i, (_, n) in enumerate(_IA_QS)
        ],
        F.expr(rnd("CAST(mg AS DOUBLE) / 1.0e6", 4)).alias("max_gap_s"),
    )


# --- interval-overlap join ----------------------------------------------------

#: bucket width for the interval equi-join: 1 hour in microseconds
_IV_W = 3600 * 1_000_000

#: shared session-interval CTE: per-(user, sid) [s_start, s_end] epoch-us
#: intervals from the same 30-min-gap sessionization as the path miner
_SESS_CTE = (
    tables.EVENTS_ORACLE_CTE + ", "
    f"e AS (SELECT user_id, event_id, {_EPOCH_US_DUCK} AS tus "
    "FROM events_t), "
    "m AS (SELECT *, CASE WHEN LAG(tus) OVER w IS NULL "
    f"OR tus - LAG(tus) OVER w > {_GAP_US} THEN 1 ELSE 0 END AS ns "
    "FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tus, event_id)), "
    "s AS (SELECT *, SUM(ns) OVER (PARTITION BY user_id "
    "ORDER BY tus, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT "
    "ROW) AS sid FROM m), "
    "iv AS (SELECT user_id, sid, MIN(tus) AS s_start, MAX(tus) AS s_end "
    "FROM s GROUP BY user_id, sid)"
)

_OVERLAP_ORACLE = (
    "WITH " + _SESS_CTE + " "
    "SELECT a.user_id AS user1, a.sid AS sid1, "
    "b.user_id AS user2, b.sid AS sid2, "
    + rnd(
        "CAST(LEAST(a.s_end, b.s_end) - GREATEST(a.s_start, b.s_start) "
        "AS DOUBLE) / 1.0e6",
        4,
    )
    + " AS overlap_s "
    "FROM iv a JOIN iv b ON a.user_id < b.user_id "
    "AND a.s_start <= b.s_end AND b.s_start <= a.s_end "
    "WHERE LEAST(a.s_end, b.s_end) - GREATEST(a.s_start, b.s_start) > 0 "
    "ORDER BY overlap_s DESC, user1, sid1, user2, sid2 LIMIT 20"
)


def _session_intervals(spark, sf_dir):
    """(user_id, sid, s_start, s_end): the Spark twin of _SESS_CTE."""
    ev = tables.load(spark, sf_dir, "events")
    e = ev.select(
        "user_id", "event_id", F.expr(EPOCH_US_SPARK).alias("tus")
    )
    w = Window.partitionBy("user_id").orderBy("tus", "event_id")
    gap = F.col("tus") - F.lag("tus").over(w)
    ns = F.when(gap.isNull() | (gap > _GAP_US), 1).otherwise(0)
    run = w.rowsBetween(Window.unboundedPreceding, 0)
    return (
        e.withColumn("sid", F.sum(ns).over(run))
        .groupBy("user_id", "sid")
        .agg(F.min("tus").alias("s_start"), F.max("tus").alias("s_end"))
    )


@query("join_session_overlap", oracle=_OVERLAP_ORACLE)
def join_session_overlap(spark, sf_dir):
    """Interval-OVERLAP join (range x range — the genomics/calendar
    shape, distinct from the point-in-range band join): which sessions
    of DIFFERENT users ran concurrently, top-20 by overlap duration.
    Each session interval explodes into its covered 1-hour buckets
    (fan-out = interval length / bucket width — human-session-bounded);
    candidates equi-join on the bucket (hash join, never a nested
    loop), and each pair is kept only in the ONE bucket containing its
    overlap start (an instant inside both intervals, so both sides
    cover that bucket) — the standard first-bucket dedup, which makes
    every qualifying pair appear exactly once WITHOUT a distinct.
    Then the EXACT overlap condition re-checks and measures. The
    oracle runs DuckDB's native inequality join over the same
    intervals. Top-20 is a total order (duration desc, then both
    keys) that compiles to TakeOrderedAndProject, so the pair stream
    — the only superlinear cardinality in the plan, concurrency pairs
    being inherently quadratic in concurrent-user density — is
    consumed map-side and NEVER shuffles (the round-8 fifth ledger
    point caught the old distinct shuffling it at e=1.4). At 100 TB
    the bucket width is the knob: ~median interval length keeps
    fan-out ~2 while the equi-join stays balanced."""
    iv = materialize(_session_intervals(spark, sf_dir))
    bucketed = iv.select(
        "user_id",
        "sid",
        "s_start",
        "s_end",
        F.explode(
            F.expr(
                f"sequence(s_start div {_IV_W}, s_end div {_IV_W})"
            )
        ).alias("bkt"),
    )
    a = bucketed.alias("a")
    b = bucketed.alias("b")
    pairs = a.join(
        b,
        (F.col("a.bkt") == F.col("b.bkt"))
        & (F.col("a.user_id") < F.col("b.user_id")),
    ).select(
        F.col("a.user_id").alias("user1"),
        F.col("a.sid").alias("sid1"),
        F.col("b.user_id").alias("user2"),
        F.col("b.sid").alias("sid2"),
        F.col("a.s_start").alias("st1"),
        F.col("a.s_end").alias("en1"),
        F.col("b.s_start").alias("st2"),
        F.col("b.s_end").alias("en2"),
        F.col("a.bkt").alias("bkt"),
    )
    ov = "LEAST(en1, en2) - GREATEST(st1, st2)"
    return (
        pairs.filter(
            F.expr(
                f"{ov} > 0 AND bkt = GREATEST(st1, st2) div {_IV_W}"
            )
        )
        .select(
            "user1",
            "sid1",
            "user2",
            "sid2",
            F.expr(rnd(f"CAST({ov} AS DOUBLE) / 1.0e6", 4)).alias(
                "overlap_s"
            ),
        )
        .orderBy(
            F.desc("overlap_s"), "user1", "sid1", "user2", "sid2"
        )
        .limit(20)
    )


# --- behavioral entropy -------------------------------------------------------

#: per-(user, type) entropy term -p*log2(p), p = c/n, snapped to integer
#: 1e-5 units (the Zipf/PMI/perplexity doctrine: libm LOG may differ by
#: an ulp between engines; snapping each term to an integer before the
#: cross-row SUM makes the aggregate exact and order-insensitive)
_ENT_TERM_U = (
    "CAST(ROUND(-(CAST(c AS DOUBLE) / n) * "
    "LOG2(CAST(c AS DOUBLE) / n) * 1.0e5) AS BIGINT)"
)

_ENTROPY_ORACLE = (
    "WITH " + tables.EVENTS_ORACLE_CTE + ", "
    "tc AS (SELECT user_id, event_type, COUNT(*) AS c "
    "FROM events_t GROUP BY 1, 2), "
    "un AS (SELECT user_id, SUM(c) AS n, COUNT(*) AS n_types "
    "FROM tc GROUP BY 1), "
    "terms AS (SELECT tc.user_id, " + _ENT_TERM_U + " AS e_u "
    "FROM tc JOIN un ON tc.user_id = un.user_id) "
    "SELECT un.user_id, un.n AS n_events, un.n_types, "
    "CAST(SUM(e_u) AS DOUBLE) / 1.0e5 AS entropy_bits "
    "FROM terms JOIN un ON terms.user_id = un.user_id "
    "GROUP BY un.user_id, un.n, un.n_types"
)


@query("events_user_entropy", oracle=_ENTROPY_ORACLE)
def events_user_entropy(spark, sf_dir):
    """Per-user behavioral entropy: Shannon entropy (bits) of each
    user's event-type distribution — the exploration-vs-habit
    segmentation feature (0 bits = single-type user, log2(5) ~ 2.32 =
    uniform over all five types). Two stacked hash aggregates reduce
    facts to (user, type) cells then user totals; each -p*log2(p) term
    snaps to integer 1e-5 units before the per-user sum, so the
    aggregate is exact and partition-order-free. Everything after the
    first aggregate is user-cardinality; the cells<->totals join is on
    the same key the aggregate just partitioned by, so no extra
    exchange materializes."""
    ev = tables.load(spark, sf_dir, "events")
    tc = ev.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("c")
    )
    tc = materialize(tc)
    un = tc.groupBy("user_id").agg(
        F.sum("c").alias("n"), F.count(F.lit(1)).alias("n_types")
    )
    terms = tc.join(un, "user_id").select(
        "user_id", F.expr(_ENT_TERM_U).alias("e_u")
    )
    return (
        terms.groupBy("user_id")
        .agg(F.sum("e_u").alias("s_u"))
        .join(un, "user_id")
        .select(
            "user_id",
            F.col("n").alias("n_events"),
            "n_types",
            F.expr("CAST(s_u AS DOUBLE) / 1.0e5").alias("entropy_bits"),
        )
    )


# --- per-user feature matrix --------------------------------------------------

_FEAT_ORACLE = (
    "WITH " + _SESS_CTE + ", "
    "base AS (SELECT user_id, COUNT(*) AS n_events, "
    "COUNT(DISTINCT CAST(ts AS DATE)) AS n_active_days, "
    "SUM(CAST(ROUND(value * 100.0e0) AS BIGINT)) AS v_c, "
    "MAX(CAST(ts AS DATE)) AS last_day FROM events_t GROUP BY user_id), "
    "g AS (SELECT MAX(last_day) AS gmax FROM base), "
    "sess AS (SELECT user_id, COUNT(*) AS n_sessions FROM iv "
    "GROUP BY user_id), "
    "tc AS (SELECT user_id, event_type, COUNT(*) AS c "
    "FROM events_t GROUP BY 1, 2), "
    "un AS (SELECT user_id, SUM(c) AS n FROM tc GROUP BY 1), "
    "ent AS (SELECT tc.user_id, "
    "SUM(CAST(ROUND(-(CAST(c AS DOUBLE) / n) * "
    "LOG2(CAST(c AS DOUBLE) / n) * 1.0e5) AS BIGINT)) AS e_u "
    "FROM tc JOIN un ON tc.user_id = un.user_id GROUP BY tc.user_id) "
    "SELECT base.user_id, n_events, n_active_days, n_sessions, "
    "CAST(datediff('day', last_day, gmax) AS BIGINT) AS recency_days, "
    + rnd("CAST(n_events AS DOUBLE) / n_active_days", 4)
    + " AS events_per_active_day, "
    "CAST(v_c AS DOUBLE) / 100.0e0 AS monetary, "
    "CAST(e_u AS DOUBLE) / 1.0e5 AS entropy_bits "
    "FROM base CROSS JOIN g "
    "JOIN sess ON sess.user_id = base.user_id "
    "JOIN ent ON ent.user_id = base.user_id"
)


@query("events_user_features", oracle=_FEAT_ORACLE)
def events_user_features(spark, sf_dir):
    """Feature-store materialization: one wide ML feature row per user —
    activity volume (n_events, n_active_days), engagement shape
    (n_sessions via 30-min-gap sessionization, events_per_active_day),
    recency against the corpus's last observed day, monetary total in
    exact cents, and behavioral entropy — the assembled training matrix
    for a churn/LTV model, composed from the individually verified
    feature blocks. Every branch reduces to user cardinality inside its
    own aggregate BEFORE the assembly joins, and all joins share the
    user_id key, so the whole matrix is a chain of co-partitioned hash
    joins over dimension-sized frames; the corpus max-day is a 1-row
    broadcast. Exact integer doctrine throughout (cents, snapped log
    terms, integer day arithmetic)."""
    # Round 10: ONE projected scan + ONE user_id exchange feed every
    # feature branch (was three independent events scans — base agg,
    # sessionization window, type-count agg — each with its own
    # exchange). HashPartitioning(user_id) satisfies the clustering of
    # groupBy(user_id), groupBy(user_id, event_type) (subset rule), the
    # session lag window, AND the assembly joins, so after the pinned
    # repartition everything below is exchange-free (guide §2.4: two
    # operations keyed the same way share one exchange). n_sessions no
    # longer builds (user, sid) intervals — the per-user session COUNT
    # is just SUM(new-session flags), one window pass + the shared agg
    # (same lag/gap expressions as _session_intervals, same count).
    ev = materialize(
        tables.load(spark, sf_dir, "events")
        .select(
            "user_id",
            "event_id",
            "event_type",
            F.expr(EPOCH_US_SPARK).alias("tus"),
            F.to_date("ts").alias("day"),
            F.expr("CAST(ROUND(value * 100.0e0) AS BIGINT)").alias("vc"),
        )
        .repartition("user_id")
    )
    base = materialize(
        ev.groupBy("user_id").agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("day").alias("n_active_days"),
            F.sum("vc").alias("v_c"),
            F.max("day").alias("last_day"),
        )
    )
    g = base.agg(F.max("last_day").alias("gmax"))
    w = Window.partitionBy("user_id").orderBy("tus", "event_id")
    gap = F.col("tus") - F.lag("tus").over(w)
    ns = F.when(gap.isNull() | (gap > _GAP_US), 1).otherwise(0)
    sess = (
        ev.withColumn("ns", ns)
        .groupBy("user_id")
        .agg(F.sum("ns").alias("n_sessions"))
    )
    tc = materialize(
        ev.groupBy("user_id", "event_type").agg(
            F.count(F.lit(1)).alias("c")
        )
    )
    un = tc.groupBy("user_id").agg(F.sum("c").alias("n"))
    ent = (
        tc.join(un, "user_id")
        .select(
            "user_id",
            F.expr(
                "CAST(ROUND(-(CAST(c AS DOUBLE) / n) * "
                "LOG2(CAST(c AS DOUBLE) / n) * 1.0e5) AS BIGINT)"
            ).alias("t_u"),
        )
        .groupBy("user_id")
        .agg(F.sum("t_u").alias("e_u"))
    )
    return (
        base.join(F.broadcast(g))
        .join(sess, "user_id")
        .join(ent, "user_id")
        .select(
            "user_id",
            "n_events",
            "n_active_days",
            "n_sessions",
            F.expr(
                "CAST(datediff(gmax, last_day) AS BIGINT)"
            ).alias("recency_days"),
            F.expr(
                rnd("CAST(n_events AS DOUBLE) / n_active_days", 4)
            ).alias("events_per_active_day"),
            F.expr("CAST(v_c AS DOUBLE) / 100.0e0").alias("monetary"),
            F.expr("CAST(e_u AS DOUBLE) / 1.0e5").alias("entropy_bits"),
        )
    )


# --- Kaplan-Meier survival curve ---------------------------------------------

#: ln of the per-day survival factor (n-d)/n, snapped to integer 1e-6
#: units: the factors multiply across days, so the log-domain cumulative
#: SUM of snapped integers is exact and order-free; one exp at the edge.
#: The n_at_risk = d_events day (factor exactly 0) MUST be guarded
#: inside the term, not just at the output: DuckDB's LN(0) RAISES and
#: Spark's returns NULL — which SUM() then SKIPS, so every later day's
#: survival would silently resume above the absorbing zero (tiny
#: fixture fuzz). The term contributes 0 here and the cumulative
#: zero-seen flag below pins the curve to 0 from that day on.
_KM_TERM_U = (
    "CASE WHEN n_at_risk > d_events THEN "
    "CAST(ROUND(LN(CAST(n_at_risk - d_events AS DOUBLE) / n_at_risk) "
    "* 1.0e6) AS BIGINT) ELSE 0 END"
)

#: 1 from the first day everyone remaining converts (survival's
#: absorbing zero), cumulative over the curve
_KM_ZERO_SEEN = (
    "MAX(CASE WHEN d_events = n_at_risk THEN 1 ELSE 0 END) OVER ("
    "ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
)

_KM_ORACLE = (
    "WITH " + tables.EVENTS_ORACLE_CTE + ", "
    "u AS (SELECT user_id, "
    "MIN(CASE WHEN event_type = 'view' THEN CAST(ts AS DATE) END) AS d0, "
    "MIN(CASE WHEN event_type = 'purchase' THEN CAST(ts AS DATE) END) "
    "AS dp FROM events_t GROUP BY user_id), "
    "g AS (SELECT MAX(CAST(ts AS DATE)) AS gmax FROM events_t), "
    "dur AS (SELECT CASE WHEN dp >= d0 THEN datediff('day', d0, dp) "
    "ELSE datediff('day', d0, gmax) END AS t, "
    "CASE WHEN dp >= d0 THEN 1 ELSE 0 END AS ev "
    "FROM u CROSS JOIN g WHERE d0 IS NOT NULL), "
    "tot AS (SELECT COUNT(*) AS n_tot FROM dur), "
    "rt AS (SELECT t, SUM(ev) AS d_events, "
    "SUM(1 - ev) AS c_censored FROM dur GROUP BY t), "
    "risk AS (SELECT t, d_events, c_censored, "
    "n_tot - COALESCE(SUM(d_events + c_censored) OVER ("
    "ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) "
    "AS n_at_risk FROM rt CROSS JOIN tot) "
    "SELECT CAST(t AS BIGINT) AS duration_days, "
    "CAST(n_at_risk AS BIGINT) AS n_at_risk, "
    "CAST(d_events AS BIGINT) AS d_events, "
    "CAST(c_censored AS BIGINT) AS c_censored, "
    "CASE WHEN " + _KM_ZERO_SEEN + " = 1 THEN 0.0e0 ELSE "
    + rnd(
        "EXP(CAST(SUM(" + _KM_TERM_U + ") OVER ("
        "ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) "
        "AS DOUBLE) / 1.0e6)",
        6,
    )
    + " END AS survival FROM risk WHERE n_at_risk > 0"
)


@query("events_survival_km", oracle=_KM_ORACLE)
def events_survival_km(spark, sf_dir):
    """Kaplan-Meier survival curve for view->purchase conversion
    latency, with right-censoring: users who viewed but never purchased
    are censored at the corpus's last observed day instead of being
    dropped (what events_funnel_latency's percentile view cannot
    express — naive latency stats over converters only are biased
    toward fast converters). The fact table reduces to one row per
    viewing user (conditional-min aggregate), then to the day-indexed
    risk table; the KM product rides the log domain as snapped integer
    terms under a running window over ~10^2 calendar rows. The
    n_at_risk = d_events boundary (everyone remaining converts) is an
    ABSORBING zero: the guarded log term + cumulative zero-seen flag
    pin survival to exact 0 from that day on in both engines, rather
    than exp(ln(0)) (DuckDB raises; Spark's NULL would be skipped by
    SUM and the curve would wrongly resume)."""
    ev = tables.load(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        F.expr(
            "MIN(CASE WHEN event_type = 'view' THEN to_date(ts) END)"
        ).alias("d0"),
        F.expr(
            "MIN(CASE WHEN event_type = 'purchase' THEN to_date(ts) END)"
        ).alias("dp"),
    )
    g = ev.agg(F.max(F.to_date("ts")).alias("gmax"))
    dur = (
        u.filter(F.col("d0").isNotNull())
        .join(F.broadcast(g))
        .select(
            F.expr(
                "CASE WHEN dp >= d0 THEN datediff(dp, d0) "
                "ELSE datediff(gmax, d0) END"
            ).alias("t"),
            F.expr("CASE WHEN dp >= d0 THEN 1 ELSE 0 END").alias("ev"),
        )
    )
    dur = materialize(dur)
    tot = dur.agg(F.count(F.lit(1)).alias("n_tot"))
    rt = dur.groupBy("t").agg(
        F.sum("ev").alias("d_events"),
        F.sum(F.expr("1 - ev")).alias("c_censored"),
    )
    prior = Window.orderBy("t").rowsBetween(
        Window.unboundedPreceding, -1
    )
    risk = (
        rt.join(F.broadcast(tot))
        .withColumn(
            "n_at_risk",
            F.col("n_tot")
            - F.coalesce(
                F.sum(F.expr("d_events + c_censored")).over(prior),
                F.lit(0),
            ),
        )
        .filter(F.col("n_at_risk") > 0)
    )
    run = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    return risk.select(
        F.col("t").cast("bigint").alias("duration_days"),
        F.col("n_at_risk").cast("bigint").alias("n_at_risk"),
        F.col("d_events").cast("bigint").alias("d_events"),
        F.col("c_censored").cast("bigint").alias("c_censored"),
        F.when(F.expr(_KM_ZERO_SEEN) == 1, F.lit(0.0))
        .otherwise(
            F.expr(
                rnd(
                    "EXP(CAST(SUM(" + _KM_TERM_U + ") OVER ("
                    "ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND "
                    "CURRENT ROW) AS DOUBLE) / 1.0e6)",
                    6,
                )
            )
        )
        .alias("survival"),
    )


# --- Markov next-event prediction, evaluated out-of-sample -------------------

_MARKOV_EVAL_ORACLE = (
    "WITH " + tables.EVENTS_ORACLE_CTE + ", "
    "b AS (SELECT MIN(CAST(ts AS DATE)) AS d0, "
    "MAX(CAST(ts AS DATE)) AS d1 FROM events_t), "
    "cut AS (SELECT d0 + CAST(FLOOR(0.7e0 * datediff('day', d0, d1)) "
    "AS INTEGER) AS cutoff FROM b), "
    "e AS (SELECT user_id, event_id, event_type, "
    f"{_EPOCH_US_DUCK} AS tus, "
    "CAST(ts AS DATE) < (SELECT cutoff FROM cut) AS is_train "
    "FROM events_t), "
    "p AS (SELECT LAG(event_type) OVER w AS from_type, "
    "event_type AS to_type, "
    "LAG(is_train) OVER w AS prev_train, is_train "
    "FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tus, event_id)), "
    "tr AS (SELECT from_type, to_type, COUNT(*) AS c FROM p "
    "WHERE from_type IS NOT NULL AND prev_train AND is_train "
    "GROUP BY 1, 2), "
    "pred AS (SELECT from_type, to_type AS predicted_type, "
    "tc AS n_train_transitions FROM ("
    "SELECT from_type, to_type, c, SUM(c) OVER ("
    "PARTITION BY from_type) AS tc, ROW_NUMBER() OVER ("
    "PARTITION BY from_type ORDER BY c DESC, to_type) AS rk FROM tr) "
    "WHERE rk = 1), "
    "te AS (SELECT from_type, to_type FROM p "
    "WHERE from_type IS NOT NULL AND NOT prev_train AND NOT is_train) "
    "SELECT te.from_type, "
    "CAST(MAX(pred.n_train_transitions) AS BIGINT) "
    "AS n_train_transitions, "
    "COUNT(*) AS n_test_transitions, "
    "MAX(pred.predicted_type) AS predicted_type, "
    "SUM(CASE WHEN te.to_type = pred.predicted_type THEN 1 ELSE 0 END) "
    "AS n_correct, "
    + rnd(
        "CAST(SUM(CASE WHEN te.to_type = pred.predicted_type "
        "THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*)",
        4,
    )
    + " AS accuracy FROM te LEFT JOIN pred "
    "ON te.from_type = pred.from_type GROUP BY te.from_type"
)


@query("events_markov_eval", oracle=_MARKOV_EVAL_ORACLE)
def events_markov_eval(spark, sf_dir):
    """Out-of-sample evaluation of the first-order Markov next-event
    model: train the transition matrix on the first 70% of the time
    range, predict argmax(next | current), score on transitions wholly
    inside the held-out tail — per current-type test accuracy. This
    closes the model loop that events_transition_matrix opens (that
    query FITS; this one answers "does it generalize"), and the
    time-based split is the leakage-safe one for sequence data (a
    random row split would leak future context — the same discipline
    corpus_split_assign applies to documents). One lag window tags each
    transition with its epoch; the model is |types|^2 cells; evaluation
    is a broadcast join of the 5-row prediction table onto the test
    transitions. Deterministic argmax: count desc, type asc."""
    ev = tables.load(spark, sf_dir, "events")
    b = ev.agg(
        F.min(F.to_date("ts")).alias("d0"),
        F.max(F.to_date("ts")).alias("d1"),
    )
    e = (
        ev.join(F.broadcast(b))
        .select(
            "user_id",
            "event_id",
            "event_type",
            F.expr(EPOCH_US_SPARK).alias("tus"),
            F.expr(
                "to_date(ts) < date_add(d0, "
                "CAST(FLOOR(0.7e0 * datediff(d1, d0)) AS INT))"
            ).alias("is_train"),
        )
    )
    w = Window.partitionBy("user_id").orderBy("tus", "event_id")
    p = materialize(
        e.select(
            F.lag("event_type").over(w).alias("from_type"),
            F.col("event_type").alias("to_type"),
            F.lag("is_train").over(w).alias("prev_train"),
            "is_train",
        ).filter(F.col("from_type").isNotNull())
    )
    tr = (
        p.filter(F.col("prev_train") & F.col("is_train"))
        .groupBy("from_type", "to_type")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    wf = Window.partitionBy("from_type")
    pred = (
        tr.withColumn("tc", F.sum("c").over(wf))
        .withColumn(
            "rk",
            F.row_number().over(wf.orderBy(F.desc("c"), "to_type")),
        )
        .filter(F.col("rk") == 1)
        .select(
            "from_type",
            F.col("to_type").alias("predicted_type"),
            F.col("tc").alias("n_train_transitions"),
        )
    )
    te = p.filter(~F.col("prev_train") & ~F.col("is_train")).select(
        "from_type", "to_type"
    )
    return (
        te.join(F.broadcast(pred), "from_type", "left")
        .groupBy("from_type")
        .agg(
            F.max("n_train_transitions")
            .cast("bigint")
            .alias("n_train_transitions"),
            F.count(F.lit(1)).alias("n_test_transitions"),
            F.max("predicted_type").alias("predicted_type"),
            F.sum(
                F.expr(
                    "CASE WHEN to_type = predicted_type THEN 1 ELSE 0 END"
                )
            ).alias("n_correct"),
            F.expr(
                rnd(
                    "CAST(SUM(CASE WHEN to_type = predicted_type "
                    "THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*)",
                    4,
                )
            ).alias("accuracy"),
        )
    )


# --- Lorenz/Gini value concentration ------------------------------------------

_GINI_ORACLE = (
    "WITH " + tables.EVENTS_ORACLE_CTE + ", "
    "u AS (SELECT user_id, "
    "SUM(CAST(ROUND(value * 100.0e0) AS BIGINT)) AS v_c "
    "FROM events_t GROUP BY user_id), "
    "r AS (SELECT v_c, ROW_NUMBER() OVER (ORDER BY v_c, user_id) AS i "
    "FROM u), "
    "t AS (SELECT COUNT(*) AS n, SUM(v_c) AS s, "
    "SUM(i * v_c) AS iw FROM r) "
    "SELECT n AS n_users, "
    "CAST(s AS DOUBLE) / 100.0e0 AS total_value, "
    + rnd(
        "(2.0e0 * iw) / (CAST(n AS DOUBLE) * s) "
        "- (CAST(n AS DOUBLE) + 1.0e0) / n",
        6,
    )
    + " AS gini, "
    + rnd(
        "1.0e0 - CAST((SELECT SUM(v_c) FROM r WHERE i <= n - n // 10) "
        "AS DOUBLE) / s",
        6,
    )
    + " AS top_decile_share FROM t"
)


@query("events_gini_concentration", oracle=_GINI_ORACLE)
def events_gini_concentration(spark, sf_dir):
    """Value-concentration audit: the Gini coefficient of per-user
    monetary totals (0 = perfectly even, ->1 = whale-dominated) plus
    the top-decile share — the inequality diagnostic behind both
    business questions (revenue concentration risk) and engineering
    ones (a high Gini on a JOIN KEY's weight predicts the skew that
    events_key_skew_profile measures structurally). Gini via the exact
    rank-weighted identity G = 2*sum(i*x_i)/(n*sum(x)) - (n+1)/n over
    cents totals: one hash aggregate to user cardinality, one global
    rank window over the user frame (documented single-task sort at
    this cardinality; at billions of keys swap to the binned Lorenz
    approximation), exact integer sums, two float divisions at the
    edge."""
    ev = tables.load(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        F.sum(F.expr("CAST(ROUND(value * 100.0e0) AS BIGINT)")).alias(
            "v_c"
        )
    )
    w = Window.orderBy("v_c", "user_id")
    r = materialize(
        u.select("v_c", F.row_number().over(w).alias("i"))
    )
    t = r.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("v_c").alias("s"),
        F.sum(F.expr("i * v_c")).alias("iw"),
    )
    bot = (
        r.join(F.broadcast(t.select("n")))
        .filter(F.expr("i <= n - n DIV 10"))
        .agg(F.sum("v_c").alias("bot_s"))
    )
    return (
        t.join(F.broadcast(bot))
        .select(
            F.col("n").alias("n_users"),
            F.expr("CAST(s AS DOUBLE) / 100.0e0").alias("total_value"),
            F.expr(
                rnd(
                    "(2.0e0 * iw) / (CAST(n AS DOUBLE) * s) "
                    "- (CAST(n AS DOUBLE) + 1.0e0) / n",
                    6,
                )
            ).alias("gini"),
            F.expr(
                rnd("1.0e0 - CAST(bot_s AS DOUBLE) / s", 6)
            ).alias("top_decile_share"),
        )
    )


#: fixed bin budget for the binned Lorenz curve: the post-aggregate
#: frame is <= this many rows regardless of user cardinality, so the
#: cumulative window is a bounded single partition by construction
_GINI_BINS = 10000


def _gini_binned_sql(src: str, idiv: str) -> str:
    """Shared text for the binned-Lorenz Gini; `idiv` is the engine's
    integer-division token ('DIV' Spark, '//' DuckDB). All binning is
    exact integer arithmetic on cents totals (ceil-width so the bin
    index never exceeds _GINI_BINS); the only doubles are the per-bin
    share products, each snapped to nano-units before the cross-bin
    sum so both engines agree to the bit."""
    b = _GINI_BINS
    # per-bin Lorenz trapezoid term p_b*(L_{b-1}+L_b) and the cell-area
    # error bound p_b*q_b, both snapped to 1e-9 integer units
    tz = (
        "CAST(ROUND(1.0e9 * (CAST(nb AS DOUBLE) / n) "
        "* (CAST(cprev + cb AS DOUBLE) / tot)) AS BIGINT)"
    )
    eb = (
        "CAST(ROUND(1.0e9 * (CAST(nb AS DOUBLE) / n) "
        "* (CAST(sb AS DOUBLE) / tot)) AS BIGINT)"
    )
    return (
        "u AS (SELECT user_id, "
        "SUM(CAST(ROUND(value * 100.0e0) AS BIGINT)) AS v_c "
        f"FROM {src} GROUP BY user_id), "
        "s AS (SELECT MIN(v_c) AS mn, MAX(v_c) AS mx, "
        "COUNT(*) AS n, SUM(v_c) AS tot FROM u), "
        "w AS (SELECT mn, n, tot, "
        f"GREATEST((mx - mn + {b - 1}) {idiv} {b}, 1) AS wd FROM s), "
        "g AS (SELECT bin, COUNT(*) AS nb, SUM(v_c) AS sb FROM "
        f"(SELECT u.v_c AS v_c, (u.v_c - w.mn) {idiv} w.wd AS bin "
        "FROM u CROSS JOIN w) z GROUP BY bin), "
        "c AS (SELECT bin, nb, sb, "
        "SUM(sb) OVER (ORDER BY bin) AS cb, "
        "SUM(sb) OVER (ORDER BY bin) - sb AS cprev FROM g), "
        "t AS (SELECT MAX(w.n) AS n, MAX(w.tot) AS tot, "
        f"SUM({tz}) AS tzu, SUM({eb}) AS ebu, "
        "COUNT(*) AS nbins FROM c CROSS JOIN w) "
        "SELECT CAST(n AS BIGINT) AS n_users, "
        "CAST(tot AS DOUBLE) / 100.0e0 AS total_value, "
        + rnd("1.0e0 - CAST(tzu AS DOUBLE) / 1.0e9", 6)
        + " AS gini_binned, "
        + rnd("CAST(ebu AS DOUBLE) / 1.0e9", 6)
        + " AS gini_error_bound, "
        "CAST(nbins AS BIGINT) AS n_bins_nonempty FROM t"
    )


@query(
    "events_gini_binned",
    oracle=(
        "WITH " + tables.EVENTS_ORACLE_CTE + ", "
        "gini_src AS (SELECT user_id, value FROM events_t), "
        + _gini_binned_sql("gini_src", "//")
    ),
)
def events_gini_binned(spark, sf_dir):
    """Scale path for events_gini_concentration: the binned-Lorenz Gini.
    The exact query needs one global rank over the USER frame (fine at
    millions of users, a single-task sort at billions); this variant
    bins the per-user cents totals into <= 10k equal-width integer
    bins, so after the same user-cardinality aggregate everything is
    bin-cardinality: the cumulative-Lorenz window runs over a frame
    bounded at 10k rows BY CONSTRUCTION, never over users. Gini from
    the grouped trapezoid identity G = 1 - sum_b p_b (L_{b-1} + L_b);
    treating a bin as homogeneous can only flatten the Lorenz curve,
    so gini_binned <= exact G <= gini_binned + gini_error_bound, where
    the reported bound sum_b p_b q_b is the total Lorenz cell area the
    binning could hide (~1/n_bins for smooth distributions). Bin width
    is exact ceil-division on cents (no float binning to straddle an
    ulp); the per-bin share products are each snapped to nano-units
    before the final sum, so the value hashes bit-identically across
    engines and partition layouts."""
    ev = tables.load(spark, sf_dir, "events")
    ev.select("user_id", "value").createOrReplaceTempView(
        "gini_src"
    )
    return spark.sql(
        "WITH " + _gini_binned_sql("gini_src", "DIV")
    )


# --- A/B two-proportion z-test ------------------------------------------------

#: pooled two-proportion z; NULL when the pooled rate is degenerate
#: (0 or 1 => zero variance — ANSI division would throw, and no test
#: is defined)
_AB_Z = (
    "CASE WHEN c1 + c2 = 0 OR c1 + c2 = n1 + n2 THEN NULL ELSE "
    "(CAST(c1 AS DOUBLE) / n1 - CAST(c2 AS DOUBLE) / n2) / "
    "SQRT((CAST(c1 + c2 AS DOUBLE) / (n1 + n2)) "
    "* (1.0e0 - CAST(c1 + c2 AS DOUBLE) / (n1 + n2)) "
    "* (1.0e0 / n1 + 1.0e0 / n2)) END"
)

_AB_ORACLE = (
    "WITH " + tables.EVENTS_ORACLE_CTE + ", "
    "u AS (SELECT user_id, user_id % 2 AS grp, "
    "CASE WHEN SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) "
    ">= 3 THEN 1 ELSE 0 END AS conv "
    "FROM events_t GROUP BY user_id), "
    "g AS (SELECT "
    "COUNT(CASE WHEN grp = 0 THEN 1 END) AS n1, "
    "SUM(CASE WHEN grp = 0 THEN conv ELSE 0 END) AS c1, "
    "COUNT(CASE WHEN grp = 1 THEN 1 END) AS n2, "
    "SUM(CASE WHEN grp = 1 THEN conv ELSE 0 END) AS c2 FROM u) "
    "SELECT n1, c1, n2, c2, "
    + rnd("CAST(c1 AS DOUBLE) / n1", 6)
    + " AS rate_a, "
    + rnd("CAST(c2 AS DOUBLE) / n2", 6)
    + " AS rate_b, "
    + rnd(_AB_Z, 4)
    + " AS z_stat, "
    f"CASE WHEN {_AB_Z} IS NOT NULL AND ABS({_AB_Z}) > 1.959964e0 "
    "THEN 1 ELSE 0 END AS significant_95 FROM g"
)


@query("events_ab_conversion_ztest", oracle=_AB_ORACLE)
def events_ab_conversion_ztest(spark, sf_dir):
    """Experimentation analytics: a two-proportion z-test on per-user
    conversion (did the user purchase at least 3 times) between deterministic
    variant groups (user_id parity standing in for the assignment
    hash — in production the bucketing IS an LCG like
    corpus_split_assign's). Pooled-variance z statistic and the 95%
    significance verdict, all from four exact integers (group sizes +
    conversions) — the whole test is two stacked aggregates ending in
    a single row, so the expensive part is the per-user reduction the
    engine would run for any funnel metric anyway. The statistical
    floor every dashboard comparison of two rates should stand on."""
    ev = tables.load(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        F.expr(
            "CASE WHEN SUM(CASE WHEN event_type = 'purchase' "
            "THEN 1 ELSE 0 END) >= 3 THEN 1 ELSE 0 END"
        ).alias("conv")
    ).select((F.col("user_id") % 2).alias("grp"), "conv")
    g = u.agg(
        F.expr("COUNT(CASE WHEN grp = 0 THEN 1 END)").alias("n1"),
        F.expr("SUM(CASE WHEN grp = 0 THEN conv ELSE 0 END)").alias("c1"),
        F.expr("COUNT(CASE WHEN grp = 1 THEN 1 END)").alias("n2"),
        F.expr("SUM(CASE WHEN grp = 1 THEN conv ELSE 0 END)").alias("c2"),
    )
    return g.select(
        "n1",
        "c1",
        "n2",
        "c2",
        F.expr(rnd("CAST(c1 AS DOUBLE) / n1", 6)).alias("rate_a"),
        F.expr(rnd("CAST(c2 AS DOUBLE) / n2", 6)).alias("rate_b"),
        F.expr(rnd(_AB_Z, 4)).alias("z_stat"),
        F.expr(
            f"CASE WHEN {_AB_Z} IS NOT NULL "
            f"AND ABS({_AB_Z}) > 1.959964e0 THEN 1 ELSE 0 END"
        ).alias("significant_95"),
    )


# --- difference-in-differences ------------------------------------------------

_DID_CELL = (
    "SUM(CASE WHEN grp = {g} AND post = {p} THEN v_c ELSE 0 END)"
)
_DID_N = "COUNT(CASE WHEN grp = {g} AND post = {p} THEN 1 END)"


def _did_mean(g: int, p: int) -> str:
    return (
        f"CAST({_DID_CELL.format(g=g, p=p)} AS DOUBLE) / "
        f"(100.0e0 * {_DID_N.format(g=g, p=p)})"
    )


_DID_ORACLE = (
    "WITH " + tables.EVENTS_ORACLE_CTE + ", "
    "b AS (SELECT MIN(CAST(ts AS DATE)) AS d0, "
    "MAX(CAST(ts AS DATE)) AS d1 FROM events_t), "
    "e AS (SELECT user_id % 2 AS grp, "
    "CASE WHEN CAST(ts AS DATE) >= d0 + CAST(FLOOR("
    "0.7e0 * datediff('day', d0, d1)) AS INTEGER) THEN 1 ELSE 0 END "
    "AS post, "
    "CAST(ROUND(value * 100.0e0) AS BIGINT) AS v_c "
    "FROM events_t CROSS JOIN b) "
    "SELECT "
    + ", ".join(
        _DID_N.format(g=g, p=p) + f" AS n_{'b' if g else 'a'}_"
        f"{'post' if p else 'pre'}"
        for g in (0, 1)
        for p in (0, 1)
    )
    + ", "
    + ", ".join(
        rnd(_did_mean(g, p), 4) + f" AS mean_{'b' if g else 'a'}_"
        f"{'post' if p else 'pre'}"
        for g in (0, 1)
        for p in (0, 1)
    )
    + ", "
    + rnd(
        f"(({_did_mean(1, 1)}) - ({_did_mean(1, 0)})) - "
        f"(({_did_mean(0, 1)}) - ({_did_mean(0, 0)}))",
        4,
    )
    + " AS did_effect FROM e"
)


@query("events_did_analysis", oracle=_DID_ORACLE)
def events_did_analysis(spark, sf_dir):
    """Difference-in-differences on mean event value: treatment group
    (user parity, standing in for the rollout bucket) x pre/post the
    70% time cut — the causal-inference design for STAGGERED rollouts
    where a plain post-only comparison (events_ab_conversion_ztest's
    shape) would absorb any time trend into the treatment effect. The
    2x2 cell means and the DiD interaction all derive from ONE
    conditional aggregate over exact cents (eight integers -> one
    row); the time cut is the same leakage-safe boundary the Markov
    and Holt backtests use. Parallel-trends checking = run this with
    post redefined at earlier placebo cuts."""
    ev = tables.load(spark, sf_dir, "events")
    b = ev.agg(
        F.min(F.to_date("ts")).alias("d0"),
        F.max(F.to_date("ts")).alias("d1"),
    )
    e = ev.join(F.broadcast(b)).select(
        (F.col("user_id") % 2).alias("grp"),
        F.expr(
            "CASE WHEN to_date(ts) >= date_add(d0, "
            "CAST(FLOOR(0.7e0 * datediff(d1, d0)) AS INT)) "
            "THEN 1 ELSE 0 END"
        ).alias("post"),
        F.expr("CAST(ROUND(value * 100.0e0) AS BIGINT)").alias("v_c"),
    )
    cells = [
        F.expr(_DID_N.format(g=g, p=p)).alias(
            f"n_{'b' if g else 'a'}_{'post' if p else 'pre'}"
        )
        for g in (0, 1)
        for p in (0, 1)
    ] + [
        F.expr(rnd(_did_mean(g, p), 4)).alias(
            f"mean_{'b' if g else 'a'}_{'post' if p else 'pre'}"
        )
        for g in (0, 1)
        for p in (0, 1)
    ] + [
        F.expr(
            rnd(
                f"(({_did_mean(1, 1)}) - ({_did_mean(1, 0)})) - "
                f"(({_did_mean(0, 1)}) - ({_did_mean(0, 0)}))",
                4,
            )
        ).alias("did_effect")
    ]
    return e.agg(*cells)


# --- periodogram of the daily series ------------------------------------------

#: candidate periods in days (2..14 covers the weekly band and its
#: aliases); per-term products snap to integer 1e-4 units before the
#: exact sums — libm cos/sin may differ by an ulp between engines, but
#: the product noise (|dev| * 1e-16) sits far below the snap step
_PG_PERIODS = list(range(2, 15))

_PG_C_U = (
    "CAST(ROUND(dev * COS(2.0e0 * PI() * t / {p}) * 1.0e4) AS BIGINT)"
)
_PG_S_U = (
    "CAST(ROUND(dev * SIN(2.0e0 * PI() * t / {p}) * 1.0e4) AS BIGINT)"
)

_PG_ORACLE = (
    "WITH " + tables.EVENTS_ORACLE_CTE + ", "
    "d AS (SELECT CAST(ts AS DATE) AS day, COUNT(*) AS x "
    "FROM events_t GROUP BY 1), "
    "tt AS (SELECT COUNT(*) AS nd, SUM(x) AS sx FROM d), "
    "v AS (SELECT ROW_NUMBER() OVER (ORDER BY day) - 1 AS t, "
    "nd * x - sx AS dev, nd FROM d CROSS JOIN tt), "
    "den AS (SELECT SUM(dev * dev) AS den FROM v), "
    "p AS ("
    + " UNION ALL ".join(
        f"SELECT {p} AS period, "
        f"SUM({_PG_C_U.format(p=p)}) AS sc_u, "
        f"SUM({_PG_S_U.format(p=p)}) AS ss_u FROM v"
        for p in _PG_PERIODS
    )
    + ") "
    "SELECT period, "
    + rnd(
        "(CAST(sc_u AS DOUBLE) * sc_u + CAST(ss_u AS DOUBLE) * ss_u) "
        "/ (1.0e8 * den)",
        6,
    )
    + " AS rel_power FROM p CROSS JOIN den"
)


@query("events_periodogram", oracle=_PG_ORACLE)
def events_periodogram(spark, sf_dir):
    """Periodogram of the global daily event-count series at candidate
    periods 2..14 days: spectral power (squared projection onto
    cos/sin at each period, normalized by total variance) — the
    frequency-domain sibling of events_acf_daily, and the scan that
    finds periodicities ACF's fixed integer lags can miss. Expect the
    7-day line to dominate (the weekly cycle events_dow_seasonality
    models). Mean removal rides the exact integer deviation nd*x - sx;
    each cos/sin projection term snaps to 1e-4 integer units before
    the exact per-period sums (libm trig last-ulp differences sit
    orders of magnitude below the snap); the squared magnitudes
    combine as one deterministic float expression per period. All 13
    periods stack over the SAME calendar-sized daily frame — one fact
    reduction, 13 projections of ~10^2 rows each."""
    ev = tables.load(spark, sf_dir, "events")
    d = materialize(
        ev.groupBy(F.to_date("ts").alias("day")).agg(
            F.count(F.lit(1)).alias("x")
        )
    )
    tt = d.agg(F.count(F.lit(1)).alias("nd"), F.sum("x").alias("sx"))
    w = Window.orderBy("day")
    v = materialize(
        d.join(F.broadcast(tt)).select(
            (F.row_number().over(w) - 1).alias("t"),
            (F.col("nd") * F.col("x") - F.col("sx")).alias("dev"),
        )
    )
    den = v.agg(F.sum(F.expr("dev * dev")).alias("den"))
    rows = None
    for p in _PG_PERIODS:
        m = v.agg(
            F.lit(p).alias("period"),
            F.sum(F.expr(_PG_C_U.format(p=p))).alias("sc_u"),
            F.sum(F.expr(_PG_S_U.format(p=p))).alias("ss_u"),
        )
        rows = m if rows is None else rows.unionByName(m)
    return rows.join(F.broadcast(den)).select(
        "period",
        F.expr(
            rnd(
                "(CAST(sc_u AS DOUBLE) * sc_u + CAST(ss_u AS DOUBLE) "
                "* ss_u) / (1.0e8 * den)",
                6,
            )
        ).alias("rel_power"),
    )


# --- growth accounting --------------------------------------------------------

_GROWTH_ORACLE = (
    "WITH " + tables.EVENTS_ORACLE_CTE + ", "
    "ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day "
    "FROM events_t), "
    "f AS (SELECT user_id, MIN(day) AS d0 FROM ud GROUP BY user_id), "
    "m AS (SELECT ud.user_id, ud.day, f.d0, "
    "LAG(ud.day) OVER (PARTITION BY ud.user_id ORDER BY ud.day) AS prev "
    "FROM ud JOIN f ON f.user_id = ud.user_id), "
    "act AS (SELECT day, "
    "COUNT(CASE WHEN day = d0 THEN 1 END) AS n_new, "
    "COUNT(CASE WHEN day > d0 AND prev = day - 1 THEN 1 END) "
    "AS n_retained, "
    "COUNT(CASE WHEN day > d0 AND prev < day - 1 THEN 1 END) "
    "AS n_resurrected FROM m GROUP BY day), "
    "ch AS (SELECT day + 1 AS day, COUNT(*) AS n_churned FROM m m1 "
    "WHERE NOT EXISTS (SELECT 1 FROM ud WHERE ud.user_id = m1.user_id "
    "AND ud.day = m1.day + 1) GROUP BY m1.day) "
    "SELECT act.day, n_new, n_retained, n_resurrected, "
    "n_new + n_retained + n_resurrected AS n_active, "
    "COALESCE(ch.n_churned, 0) AS n_churned_from_prev "
    "FROM act LEFT JOIN ch ON ch.day = act.day"
)


@query("events_growth_accounting", oracle=_GROWTH_ORACLE)
def events_growth_accounting(spark, sf_dir):
    """Growth accounting: every day's active users decomposed into NEW
    (first day), RETAINED (also active yesterday), RESURRECTED (active
    before, but not yesterday), plus the churn OUT of each day (active
    that day, absent the next) — the DAU decomposition growth teams
    read before any topline number, and the disaggregation that tells
    you whether growth is acquisition or resurrection. Everything
    reduces to the distinct (user, day) frame first (user-cardinality
    x active days); classification is one per-user lag window; churn
    is the same frame shifted by a day (left anti via the lag in
    reverse — here an absence join on the next day, at
    (user, day)-cardinality). Exact integer counts throughout."""
    ev = tables.load(spark, sf_dir, "events")
    ud = materialize(
        ev.select("user_id", F.to_date("ts").alias("day")).distinct()
    )
    f = ud.groupBy("user_id").agg(F.min("day").alias("d0"))
    w = Window.partitionBy("user_id").orderBy("day")
    m = materialize(
        ud.join(f, "user_id").select(
            "user_id",
            "day",
            "d0",
            F.lag("day").over(w).alias("prev"),
        )
    )
    act = m.groupBy("day").agg(
        F.count(F.when(F.expr("day = d0"), 1)).alias("n_new"),
        F.count(
            F.when(F.expr("day > d0 AND prev = day - INTERVAL 1 DAY"), 1)
        ).alias("n_retained"),
        F.count(
            F.when(F.expr("day > d0 AND prev < day - INTERVAL 1 DAY"), 1)
        ).alias("n_resurrected"),
    )
    nxt = ud.select(
        "user_id", F.date_sub("day", 1).alias("day")
    )
    ch = (
        m.join(nxt, ["user_id", "day"], "left_anti")
        .groupBy(F.date_add("day", 1).alias("day"))
        .agg(F.count(F.lit(1)).alias("n_churned"))
    )
    return (
        act.join(ch, "day", "left")
        .select(
            "day",
            "n_new",
            "n_retained",
            "n_resurrected",
            F.expr("n_new + n_retained + n_resurrected").alias("n_active"),
            F.coalesce("n_churned", F.lit(0)).alias(
                "n_churned_from_prev"
            ),
        )
    )


# --- partial autocorrelation (Durbin-Levinson, lags 1..3) ------------------

def _pacf_sql(src: str) -> str:
    """Shared text: the same exact-integer deviation trick as
    events_acf_daily (dev = nd*x - sx clears the rational mean) gives
    integer lag sums; r1..r3 become doubles at ONE cast point and the
    Durbin-Levinson closed forms run once on a single row — identical
    IEEE text both engines, snapped at the edge."""
    return (
        "d AS (SELECT CAST(ts AS DATE) AS day, COUNT(*) AS x "
        f"FROM {src} GROUP BY CAST(ts AS DATE)), "
        "t AS (SELECT COUNT(*) AS nd, SUM(x) AS sx FROM d), "
        "v AS (SELECT day, nd * x - sx AS dev FROM d CROSS JOIN t), "
        "l AS (SELECT dev, LAG(dev, 1) OVER (ORDER BY day) AS l1, "
        "LAG(dev, 2) OVER (ORDER BY day) AS l2, "
        "LAG(dev, 3) OVER (ORDER BY day) AS l3 FROM v), "
        "s AS (SELECT SUM(dev * dev) AS den, SUM(dev * l1) AS n1, "
        "SUM(dev * l2) AS n2, SUM(dev * l3) AS n3 FROM l), "
        "r AS (SELECT CAST(n1 AS DOUBLE) / den AS r1, "
        "CAST(n2 AS DOUBLE) / den AS r2, "
        "CAST(n3 AS DOUBLE) / den AS r3 FROM s), "
        "p2 AS (SELECT r1, r2, r3, "
        "(r2 - r1 * r1) / (1.0e0 - r1 * r1) AS phi22 FROM r), "
        "p3 AS (SELECT r1, r2, r3, phi22, "
        "r1 * (1.0e0 - phi22) AS phi21 FROM p2) "
        "SELECT " + rnd("r1", 6) + " AS pacf1, "
        + rnd("phi22", 6) + " AS pacf2, "
        + rnd(
            "(r3 - phi21 * r2 - phi22 * r1) / "
            "(1.0e0 - phi21 * r1 - phi22 * r2)",
            6,
        )
        + " AS pacf3 FROM p3"
    )


@query(
    "events_pacf_daily",
    oracle=(
        "WITH " + tables.EVENTS_ORACLE_CTE + ", " + _pacf_sql("events_t")
    ),
)
def events_pacf_daily(spark, sf_dir):
    """Partial autocorrelation of the daily count series at lags 1-3 via
    the Durbin-Levinson closed forms — the AR-order selector that
    separates direct lag influence from what lag-1 already explains
    (events_acf_daily answers IS there memory; this answers which lags
    carry it). Same daily-frame reduction and exact-integer lag sums as
    the ACF; the recursion is three closed-form float expressions on
    one row, not an iterative solve."""
    tables.load(spark, sf_dir, "events").createOrReplaceTempView("bh_events")
    return spark.sql("WITH " + _pacf_sql("bh_events"))


# --- retention half-life (exponential decay fit) ---------------------------

_RHL_K = 14  # offsets 1..K days


def _rhl_sql(
    src: str,
    kspine: str,
    ddiff: str,
    dsub: str,
    du_rel: str | None = None,
) -> str:
    """Shared text: per-offset retention rate (active users at offset k
    over users whose observation window covers k), snapped log, K-point
    closed-form OLS of ln(R) on k, half-life = -ln 2 / slope. The fit
    frame is K rows; everything upstream is user x day cardinality.

    `du_rel` names a PRE-MATERIALIZED (user_id, day) distinct frame:
    the Spark caller persists it because fd / bx / act reference du
    four ways and Spark's CTE inlining re-derives the events scan per
    reference (4x parquet reads measured in the round-7 scan audit);
    the DuckDB oracle keeps the from-source form (it materializes
    CTEs natively)."""
    du = (
        f"du AS (SELECT user_id, day FROM {du_rel}), "
        if du_rel
        else (
            f"du AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day "
            f"FROM {src}), "
        )
    )
    return (
        du
        + "fd AS (SELECT user_id, MIN(day) AS f FROM du GROUP BY user_id), "
        "bx AS (SELECT MAX(day) AS d1 FROM du), "
        "act AS (SELECT DISTINCT du.user_id, "
        f"CAST({ddiff} AS BIGINT) AS k "
        "FROM du JOIN fd ON du.user_id = fd.user_id), "
        f"ks AS (SELECT k FROM {kspine}), "
        "num AS (SELECT k, COUNT(*) AS n_act FROM act "
        f"WHERE k BETWEEN 1 AND {_RHL_K} GROUP BY k), "
        "den AS (SELECT ks.k, (SELECT COUNT(*) FROM fd CROSS JOIN bx "
        f"WHERE fd.f <= {dsub}) AS n_elig FROM ks), "
        "pts AS (SELECT den.k, num.n_act, den.n_elig, "
        "CAST(ROUND(LN(CAST(num.n_act AS DOUBLE) / den.n_elig) * 1.0e6)"
        " AS BIGINT) AS l_u FROM den JOIN num ON num.k = den.k "
        "WHERE num.n_act > 0 AND den.n_elig > 0), "
        "s AS (SELECT COUNT(*) AS n, SUM(k) AS sk, SUM(l_u) AS sl, "
        "SUM(k * k) AS skk, SUM(k * l_u) AS skl, "
        "SUM(l_u * l_u) AS sll FROM pts), "
        # NULLIF guards (sparse fixture fuzz): <= 1 fit point zeroes
        # the OLS denominator, perfectly flat retention zeroes the
        # slope (half-life undefined/infinite), and a constant ln(R)
        # zeroes the r2 denominator — all must surface as NULL, never
        # an ANSI throw
        "f AS (SELECT n, "
        "(CAST(n AS DOUBLE) * skl - CAST(sk AS DOUBLE) * sl) / "
        "NULLIF(CAST(n AS DOUBLE) * skk - CAST(sk AS DOUBLE) * sk, "
        "0.0e0) / 1.0e6 AS slope, "
        "(CAST(n AS DOUBLE) * skl - CAST(sk AS DOUBLE) * sl) * "
        "(CAST(n AS DOUBLE) * skl - CAST(sk AS DOUBLE) * sl) / "
        "NULLIF((CAST(n AS DOUBLE) * skk - CAST(sk AS DOUBLE) * sk) * "
        "(CAST(n AS DOUBLE) * sll - CAST(sl AS DOUBLE) * sl), 0.0e0) "
        "AS r2 "
        "FROM s) "
        "SELECT CAST(n AS BIGINT) AS n_points, "
        + rnd("slope", 6) + " AS decay_per_day, "
        + rnd("-0.6931471805599453e0 / NULLIF(slope, 0.0e0)", 2)
        + " AS halflife_days, "
        + rnd("r2", 6) + " AS r2 FROM f"
    )


@query(
    "events_retention_halflife",
    oracle=(
        "WITH " + tables.EVENTS_ORACLE_CTE + ", "
        + _rhl_sql(
            "events_t",
            f"(SELECT unnest(generate_series(1, {_RHL_K})) AS k) t",
            "date_diff('day', fd.f, du.day)",
            "bx.d1 - CAST(ks.k AS INTEGER)",
        )
    ),
)
def events_retention_halflife(spark, sf_dir):
    """Retention half-life: fit exponential decay to the day-k retention
    curve (active users at offset k over users whose window covers k,
    k = 1..14) by closed-form OLS on snapped log rates — one number
    ('retention halves every N days') summarizing the whole matrix
    events_cohort_retention reports, with r2 saying whether the
    exponential story even fits. User x day reduction, a 14-row spine,
    and a 6-scalar fit frame; logs snap to 1e-6 before the exact sums.
    The (user_id, day) distinct frame is materialized so the fact table
    is scanned ONCE — fd / bx / act reference it four ways and CTE
    inlining otherwise re-derives the scan per reference."""
    from ..operators.textops import materialize as _mat

    ev = tables.load(spark, sf_dir, "events")
    du = _mat(
        ev.select(
            "user_id", F.col("ts").cast("date").alias("day")
        ).distinct()
    )
    du.createOrReplaceTempView("rhl_du")
    return spark.sql(
        "WITH "
        + _rhl_sql(
            "rhl_du",
            f"(SELECT explode(sequence(1, {_RHL_K})) AS k)",
            "datediff(du.day, fd.f)",
            "date_sub(bx.d1, CAST(ks.k AS INT))",
            du_rel="rhl_du",
        )
    )


# --- Markov absorption: conversion probability within k steps ---------------

def _absorb_sql(src: str) -> str:
    """Shared text: row-normalized transition probabilities snapped to
    integer nano-units, then the within-1/2/3-step purchase-absorption
    recursion p_{k}(s) = T[s,P] + sum_{m != P} T[s,m] p_{k-1}(m),
    each level re-snapped — exact integer arithmetic on a types^2
    frame."""
    return (
        "pp AS (SELECT user_id, event_type AS to_type, "
        "LAG(event_type) OVER (PARTITION BY user_id "
        f"ORDER BY ts, event_id) AS from_type FROM {src}), "
        "c AS (SELECT from_type AS s, to_type AS m, COUNT(*) AS n "
        "FROM pp WHERE from_type IS NOT NULL GROUP BY from_type, to_type), "
        "r AS (SELECT s, SUM(n) AS ns FROM c GROUP BY s), "
        "t AS (SELECT c.s, c.m, CAST(ROUND(1.0e9 * c.n / r.ns) AS BIGINT)"
        " AS tu FROM c JOIN r ON r.s = c.s), "
        "p1 AS (SELECT s, COALESCE(MAX(CASE WHEN m = 'purchase' "
        "THEN tu END), 0) AS p FROM t GROUP BY s), "
        "p2 AS (SELECT t.s, MAX(pa.p) + CAST(ROUND(CAST(SUM("
        "CASE WHEN t.m <> 'purchase' THEN t.tu * COALESCE(pb.p, 0) "
        "ELSE 0 END) AS DOUBLE) / 1.0e9) AS BIGINT) AS p "
        "FROM t JOIN p1 pa ON pa.s = t.s "
        "LEFT JOIN p1 pb ON pb.s = t.m GROUP BY t.s), "
        "p3 AS (SELECT t.s, MAX(pa.p) + CAST(ROUND(CAST(SUM("
        "CASE WHEN t.m <> 'purchase' THEN t.tu * COALESCE(pb.p, 0) "
        "ELSE 0 END) AS DOUBLE) / 1.0e9) AS BIGINT) AS p "
        "FROM t JOIN p1 pa ON pa.s = t.s "
        "LEFT JOIN p2 pb ON pb.s = t.m GROUP BY t.s) "
        "SELECT p1.s AS from_type, "
        "CAST(p1.p AS DOUBLE) / 1.0e9 AS p_convert_1step, "
        "CAST(p2.p AS DOUBLE) / 1.0e9 AS p_convert_2steps, "
        "CAST(p3.p AS DOUBLE) / 1.0e9 AS p_convert_3steps "
        "FROM p1 JOIN p2 ON p2.s = p1.s JOIN p3 ON p3.s = p1.s"
    )


@query(
    "events_markov_absorption",
    oracle=(
        "WITH " + tables.EVENTS_ORACLE_CTE + ", " + _absorb_sql("events_t")
    ),
)
def events_markov_absorption(spark, sf_dir):
    """Purchase-absorption probability within 1/2/3 steps from each
    event state, off the first-order transition model: the question the
    transition matrix exists to answer ('how close is a user in state s
    to converting'), computed by the truncated absorption recursion —
    purchase treated as absorbing, each level one types^2 join-
    aggregate on nano-snapped probabilities. Completes the Markov
    family: counts (events_transition_matrix), out-of-sample validity
    (events_markov_eval), absorption value (here); removal-effect
    attribution is this recursion run |channels|+1 times."""
    tables.load(spark, sf_dir, "events").createOrReplaceTempView(
        "bh_events"
    )
    return spark.sql("WITH " + _absorb_sql("bh_events"))


# --- Bass diffusion model (product adoption) --------------------------------

def _bass_sql(src: str) -> str:
    """Shared text: daily new-adopter counts vs cumulative prior
    adopters, the discrete-Bass regression y = a + b*X + c*X^2 solved
    closed-form (Cramer) on exact DECIMAL gram sums, and the implied
    market size as the quadratic's positive root. The adoption-curve
    read of the user base: b > 0 means imitation (word-of-mouth)
    drives growth; m_implied vs users-seen says how much headroom
    remains."""
    def det3(r1, r2, r3):
        a, b, c = r1.split(",")
        d, e, f = r2.split(",")
        g, h, i = r3.split(",")
        return (
            f"(({a}) * (({e}) * ({i}) - ({f}) * ({h})) "
            f"- ({b}) * (({d}) * ({i}) - ({f}) * ({g})) "
            f"+ ({c}) * (({d}) * ({h}) - ({e}) * ({g})))"
        )

    det = det3("n,sx,sx2", "sx,sx2,sx3", "sx2,sx3,sx4")
    da = det3("sy,sx,sx2", "sxy,sx2,sx3", "sx2y,sx3,sx4")
    db = det3("n,sy,sx2", "sx,sxy,sx3", "sx2,sx2y,sx4")
    dc = det3("n,sx,sy", "sx,sx2,sxy", "sx2,sx3,sx2y")
    return (
        "fd AS (SELECT user_id, MIN(CAST(ts AS DATE)) AS f "
        f"FROM {src} GROUP BY user_id), "
        "nd AS (SELECT f AS day, COUNT(*) AS y FROM fd GROUP BY f), "
        "cx AS (SELECT day, y, COALESCE(SUM(y) OVER (ORDER BY day "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS x "
        "FROM nd), "
        "g AS (SELECT COUNT(*) AS nn, SUM(x) AS gsx, "
        "SUM(CAST(x * x AS DECIMAL(38,0))) AS gsx2, "
        "SUM(CAST(x AS DECIMAL(38,0)) * x * x) AS gsx3, "
        "SUM(CAST(x AS DECIMAL(38,0)) * x * x * x) AS gsx4, "
        "SUM(y) AS gsy, SUM(CAST(x * y AS DECIMAL(38,0))) AS gsxy, "
        "SUM(CAST(x AS DECIMAL(38,0)) * x * y) AS gsx2y FROM cx), "
        "gd AS (SELECT CAST(nn AS DOUBLE) AS n, "
        "CAST(gsx AS DOUBLE) AS sx, CAST(gsx2 AS DOUBLE) AS sx2, "
        "CAST(gsx3 AS DOUBLE) AS sx3, CAST(gsx4 AS DOUBLE) AS sx4, "
        "CAST(gsy AS DOUBLE) AS sy, CAST(gsxy AS DOUBLE) AS sxy, "
        "CAST(gsx2y AS DOUBLE) AS sx2y FROM g), "
        # NULLIF: with one adoption day (tiny SFs) the system is
        # singular — both engines then yield NULL coefficients
        f"dd AS (SELECT gd.*, NULLIF({det}, 0.0e0) AS det FROM gd), "
        f"co AS (SELECT n, {da} / det AS a, {db} / det AS b, "
        f"{dc} / det AS c FROM dd) "
        "SELECT CAST(n AS BIGINT) AS n_days, "
        + rnd("a", 6) + " AS coef_a, "
        + rnd("b", 6) + " AS coef_b, "
        + rnd("c", 9) + " AS coef_c, "
        + rnd(
            "CASE WHEN c < 0.0e0 THEN (-b - SQRT(b * b - 4.0e0 * c * a))"
            " / (2.0e0 * c) ELSE CAST(NULL AS DOUBLE) END",
            2,
        )
        + " AS implied_market_size FROM co"
    )


@query(
    "events_bass_diffusion",
    oracle=(
        "WITH " + tables.EVENTS_ORACLE_CTE + ", " + _bass_sql("events_t")
    ),
)
def events_bass_diffusion(spark, sf_dir):
    """Bass diffusion fit of user adoption: daily new adopters regressed
    on cumulative prior adopters and its square (the discrete Bass
    model y = a + bX + cX^2), closed-form Cramer solve on exact-decimal
    gram sums, with the implied market size from the quadratic's root
    when the curve opens downward — the growth-model read of the user
    base (innovation a, imitation b, saturation m). One user-first-day
    aggregate, one day-frame window, an 8-scalar fit row."""
    tables.load(spark, sf_dir, "events").createOrReplaceTempView(
        "bh_events"
    )
    return spark.sql("WITH " + _bass_sql("bh_events"))


# --- sample-ratio mismatch (SRM) check -------------------------------------

#: chi-square vs the designed 50/50 split, 1 df: (n_a - n_b)^2 / n —
#: exact integers in, one deterministic float out. 3.841459 = chi2(1)
#: 95% critical value.
_SRM_CHI = "CAST(n_a - n_b AS DOUBLE) * (n_a - n_b) / (n_a + n_b)"

_SRM_ORACLE = (
    "WITH " + tables.EVENTS_ORACLE_CTE + ", "
    "u AS (SELECT DISTINCT user_id FROM events_t), "
    "g AS (SELECT "
    "COUNT(CASE WHEN user_id % 2 = 0 THEN 1 END) AS n_a, "
    "COUNT(CASE WHEN user_id % 2 = 1 THEN 1 END) AS n_b FROM u) "
    "SELECT n_a, n_b, "
    + rnd("CAST(n_a + n_b AS DOUBLE) / 2.0e0", 1)
    + " AS expected_each, "
    + rnd(_SRM_CHI, 4)
    + " AS chi2, "
    f"CASE WHEN {_SRM_CHI} > 3.841459e0 THEN 1 ELSE 0 END AS srm_flag "
    "FROM g"
)


@query("events_ab_srm_check", oracle=_SRM_ORACLE)
def events_ab_srm_check(spark, sf_dir):
    """Sample-ratio mismatch check — the gate every experimentation
    platform runs BEFORE reading a test result (Kohavi's first
    diagnostic): chi-square of the observed per-variant user counts
    against the designed 50/50 split; a firing flag means assignment,
    logging, or filtering is broken and the z-test below it is invalid
    no matter how significant it looks. One distinct-user reduction and
    one 2-cell conditional count — runs on the same per-user frame any
    conversion metric needs anyway."""
    ev = tables.load(spark, sf_dir, "events")
    u = ev.select("user_id").distinct()
    g = u.agg(
        F.expr("COUNT(CASE WHEN user_id % 2 = 0 THEN 1 END)").alias("n_a"),
        F.expr("COUNT(CASE WHEN user_id % 2 = 1 THEN 1 END)").alias("n_b"),
    )
    return g.select(
        "n_a",
        "n_b",
        F.expr(rnd("CAST(n_a + n_b AS DOUBLE) / 2.0e0", 1)).alias(
            "expected_each"
        ),
        F.expr(rnd(_SRM_CHI, 4)).alias("chi2"),
        F.expr(
            f"CASE WHEN {_SRM_CHI} > 3.841459e0 THEN 1 ELSE 0 END"
        ).alias("srm_flag"),
    )


# --- CUPED variance reduction ----------------------------------------------

#: exact-integer moment shorthand: all second moments accumulate in
#: DECIMAL(38,0) (Spark) / HUGEINT (DuckDB) so the covariance algebra
#: below runs on identical exact integers in both engines.
_CUPED_THETA = (
    "CASE WHEN CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) "
    "- CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) = 0.0e0 THEN NULL ELSE "
    "(CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) "
    "- CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) / "
    "(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) "
    "- CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) END"
)

_CUPED_RHO2 = (
    "CASE WHEN (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) "
    "- CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) "
    "* (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) "
    "- CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)) = 0.0e0 THEN NULL ELSE "
    "(CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) "
    "- CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) "
    "* (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) "
    "- CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) / "
    "((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) "
    "- CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) "
    "* (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) "
    "- CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))) END"
)

_CUPED_EFFECT_RAW = (
    "CAST(sy_b AS DOUBLE) / (100.0e0 * n_b) "
    "- CAST(sy_a AS DOUBLE) / (100.0e0 * n_a)"
)

_CUPED_EFFECT_ADJ = (
    "(" + _CUPED_EFFECT_RAW + ") - (" + _CUPED_THETA + ") * "
    "(CAST(sx_b AS DOUBLE) / (100.0e0 * n_b) "
    "- CAST(sx_a AS DOUBLE) / (100.0e0 * n_a))"
)

_CUPED_TAIL = (
    "m AS (SELECT COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy, "
    "SUM(xx) AS sxx, SUM(yy) AS syy, SUM(xy) AS sxy, "
    "COUNT(CASE WHEN grp = 0 THEN 1 END) AS n_a, "
    "COUNT(CASE WHEN grp = 1 THEN 1 END) AS n_b, "
    "SUM(CASE WHEN grp = 0 THEN x ELSE 0 END) AS sx_a, "
    "SUM(CASE WHEN grp = 1 THEN x ELSE 0 END) AS sx_b, "
    "SUM(CASE WHEN grp = 0 THEN y ELSE 0 END) AS sy_a, "
    "SUM(CASE WHEN grp = 1 THEN y ELSE 0 END) AS sy_b FROM uu) "
    "SELECT CAST(n AS BIGINT) AS n_users, "
    + rnd(_CUPED_THETA, 6)
    + " AS theta, "
    + rnd(_CUPED_RHO2, 6)
    + " AS var_reduction, "
    + rnd(_CUPED_EFFECT_RAW, 4)
    + " AS effect_raw, "
    + rnd(_CUPED_EFFECT_ADJ, 4)
    + " AS effect_cuped FROM m"
)

_CUPED_ORACLE = (
    "WITH " + tables.EVENTS_ORACLE_CTE + ", "
    "b AS (SELECT MIN(CAST(ts AS DATE)) AS d0, "
    "MAX(CAST(ts AS DATE)) AS d1 FROM events_t), "
    "pu AS (SELECT user_id, user_id % 2 AS grp, "
    "SUM(CASE WHEN CAST(ts AS DATE) < d0 + CAST(FLOOR("
    "0.5e0 * datediff('day', d0, d1)) AS INTEGER) "
    "THEN CAST(ROUND(value * 100.0e0) AS BIGINT) ELSE 0 END) AS x, "
    "SUM(CASE WHEN CAST(ts AS DATE) >= d0 + CAST(FLOOR("
    "0.5e0 * datediff('day', d0, d1)) AS INTEGER) "
    "THEN CAST(ROUND(value * 100.0e0) AS BIGINT) ELSE 0 END) AS y "
    "FROM events_t CROSS JOIN b GROUP BY user_id, user_id % 2), "
    "uu AS (SELECT grp, x, y, x * x AS xx, y * y AS yy, x * y AS xy "
    "FROM pu), "
    + _CUPED_TAIL
)


@query("events_cuped_adjustment", oracle=_CUPED_ORACLE)
def events_cuped_adjustment(spark, sf_dir):
    """CUPED variance reduction (Deng et al. 2013 — the industry-
    standard A/B sensitivity boost): each user's PRE-period spend is
    the control covariate for their POST-period spend; theta =
    cov(X,Y)/var(X) over users, the adjusted metric Y - theta*(X -
    mean X) keeps the same expectation but sheds rho^2 of the variance
    — var_reduction IS rho^2, reported next to the raw and
    CUPED-adjusted treatment effects (user-parity assignment, the same
    bucketing as the z-test). Pre/post cut at 50% of the observed date
    span, leakage-safe like the DiD and backtest cuts.

    Exactness: per-user pre/post cents fold in ONE conditional
    aggregate; all second moments accumulate as DECIMAL(38,0) (Spark)
    / HUGEINT (DuckDB) exact integers, so theta / rho^2 / both effects
    are single deterministic float evaluations on one moment row. Scale
    shape: one user-cardinality reduction + one global moment
    aggregate; nothing holds more than a row."""
    ev = tables.load(spark, sf_dir, "events")
    b = ev.agg(
        F.min(F.to_date("ts")).alias("d0"),
        F.max(F.to_date("ts")).alias("d1"),
    )
    cut = (
        "date_add(d0, CAST(FLOOR(0.5e0 * datediff(d1, d0)) AS INT))"
    )
    pu = (
        ev.join(F.broadcast(b))
        .groupBy("user_id")
        .agg(
            F.expr(
                f"SUM(CASE WHEN to_date(ts) < {cut} "
                "THEN CAST(ROUND(value * 100.0e0) AS BIGINT) "
                "ELSE 0 END)"
            ).alias("x"),
            F.expr(
                f"SUM(CASE WHEN to_date(ts) >= {cut} "
                "THEN CAST(ROUND(value * 100.0e0) AS BIGINT) "
                "ELSE 0 END)"
            ).alias("y"),
        )
        .select((F.col("user_id") % 2).alias("grp"), "x", "y")
    )
    uu = pu.select(
        "grp",
        "x",
        "y",
        F.expr("CAST(x AS DECIMAL(38,0)) * x").alias("xx"),
        F.expr("CAST(y AS DECIMAL(38,0)) * y").alias("yy"),
        F.expr("CAST(x AS DECIMAL(38,0)) * y").alias("xy"),
    )
    m = uu.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum("xx").alias("sxx"),
        F.sum("yy").alias("syy"),
        F.sum("xy").alias("sxy"),
        F.expr("COUNT(CASE WHEN grp = 0 THEN 1 END)").alias("n_a"),
        F.expr("COUNT(CASE WHEN grp = 1 THEN 1 END)").alias("n_b"),
        F.expr("SUM(CASE WHEN grp = 0 THEN x ELSE 0 END)").alias("sx_a"),
        F.expr("SUM(CASE WHEN grp = 1 THEN x ELSE 0 END)").alias("sx_b"),
        F.expr("SUM(CASE WHEN grp = 0 THEN y ELSE 0 END)").alias("sy_a"),
        F.expr("SUM(CASE WHEN grp = 1 THEN y ELSE 0 END)").alias("sy_b"),
    )
    return m.select(
        F.expr("CAST(n AS BIGINT)").alias("n_users"),
        F.expr(rnd(_CUPED_THETA, 6)).alias("theta"),
        F.expr(rnd(_CUPED_RHO2, 6)).alias("var_reduction"),
        F.expr(rnd(_CUPED_EFFECT_RAW, 4)).alias("effect_raw"),
        F.expr(rnd(_CUPED_EFFECT_ADJ, 4)).alias("effect_cuped"),
    )


# --- bot / non-organic traffic detection -----------------------------------

#: fast-gap rule: share of inter-event gaps under 10 minutes at or
#: above this marks burst automation (organic users here sit at
#: median ~1.4%, max ~5%)
_BOT_FAST_SHARE = "0.03e0"

#: regularity rule: a gap coefficient-of-variation this low means
#: metronomic scheduling — organic arrivals are near-exponential
#: (CV ~ 1)
_BOT_CV = "0.5e0"

#: full per-user verdict table: the gap rules can only fire for users
#: with >= 2 events (>= 1 gap for fast_share, >= 2 gaps for a finite
#: CV), so the gap stats left-join back onto the distinct-user frame —
#: single-event users appear with NULL rule inputs and bot = false
#: instead of silently vanishing from the screen
_BOT_SQL = (
    "uc AS (SELECT user_id, COUNT(*) AS ne FROM {ev} GROUP BY user_id), "
    # share of sub-600s gaps: exact integer ratio, one division
    # CV of per-user gap seconds from exact integer moments:
    # sqrt((n*ssq - s^2) / (n*(n-1))) / (s/n) — each double op single
    "gs AS (SELECT user_id, {rnd_fast} AS fast_share, "
    "{rnd_cv} AS gap_cv, "
    "({rnd_fast} >= {tf} OR {rnd_cv} <= {tcv}) AS bot "
    "FROM {g} GROUP BY user_id) "
    "SELECT uc.user_id, CAST(uc.ne AS BIGINT) AS n_events, "
    "gs.fast_share, gs.gap_cv, COALESCE(gs.bot, FALSE) AS bot "
    "FROM uc LEFT JOIN gs ON gs.user_id = uc.user_id"
)


def _bot_select(ev: str = "r", g: str = "g") -> str:
    fast = (
        "CAST(SUM(CASE WHEN gap_us < 600000000 THEN 1 ELSE 0 END) "
        "AS DOUBLE) / COUNT(*)"
    )
    # integer second gaps keep sums-of-squares in BIGINT range
    # (~1e10 per gap, ~100 gaps per user)
    var_num = (
        "CAST(COUNT(*) * SUM(gap_s * gap_s) - SUM(gap_s) * SUM(gap_s) "
        "AS DOUBLE)"
    )
    cv = (
        f"SQRT({var_num} / (COUNT(*) * (COUNT(*) - 1))) / "
        "(CAST(SUM(gap_s) AS DOUBLE) / COUNT(*))"
    )
    return _BOT_SQL.format(
        ev=ev,
        g=g,
        rnd_fast=rnd(fast, 6),
        rnd_cv=rnd(cv, 6),
        tf=_BOT_FAST_SHARE,
        tcv=_BOT_CV,
    )


_BOT_ORACLE = (
    "WITH " + tables.EVENTS_ORACLE_CTE + ", "
    f"r AS (SELECT user_id, {_EPOCH_US_DUCK} AS tus, event_id "
    "FROM events_t), "
    "d AS (SELECT user_id, tus - lag(tus) OVER "
    "(PARTITION BY user_id ORDER BY tus, event_id) AS gap_us FROM r), "
    "g AS (SELECT user_id, gap_us, gap_us // 1000000 AS gap_s "
    "FROM d WHERE gap_us IS NOT NULL), "
    + _bot_select()
)


@query("events_bot_detection", oracle=_BOT_ORACLE)
def events_bot_detection(spark, sf_dir):
    """Non-organic traffic screen — the bot filter an event corpus runs
    before sessions/funnels/training mixes trust the counts: per user,
    the share of super-human inter-event gaps (< 10 min) and the
    coefficient of variation of gap lengths (metronomic scheduling has
    CV << 1 where organic arrivals are near-exponential, CV ~ 1).
    Either rule trips the bot flag; both rule inputs are exact-integer
    moments of microsecond gaps (seconds for the squared sums so
    BIGINT never overflows), snapped once at the edge so the flag can
    never straddle an ulp. One window over (user_id, ts) and one
    user-cardinality aggregate — the same shuffle key two queries
    share at 100 TB; thresholds are data-calibrated literals, the
    operator is the shape. The output is a FULL per-user verdict
    table: users with a single event (no gaps, so neither rule can
    fire) are retained via a left join with NULL rule inputs and
    bot = false, so downstream consumers see every user."""
    ev = tables.load(spark, sf_dir, "events").select(
        "user_id", F.expr(EPOCH_US_SPARK).alias("tus"), "event_id"
    )
    w = Window.partitionBy("user_id").orderBy("tus", "event_id")
    g = (
        ev.withColumn("gap_us", F.col("tus") - F.lag("tus").over(w))
        .filter(F.col("gap_us").isNotNull())
        .select(
            "user_id",
            "gap_us",
            F.expr("gap_us div 1000000").alias("gap_s"),
        )
    )
    ev.createOrReplaceTempView("bot_events")
    g.createOrReplaceTempView("bot_gaps")
    return spark.sql("WITH " + _bot_select("bot_events", "bot_gaps"))


# --- Markov removal-effect attribution -------------------------------------

def _removal_sql(src: str) -> str:
    """Shared text: the absorption recursion of _absorb_sql keyed by a
    REMOVED channel (rm = '__none__' is the intact chain), a START
    state from each user's first event, and the removal-effect summary.
    Removal is non-renormalized (Anderl et al. 2014): the removed
    node's outgoing mass is lost, paths through it convert nothing —
    so p_removed <= p_full and the effect is a true path contribution.
    Same nano-unit snapping discipline as _absorb_sql at every level."""
    return (
        _RM_T_CTES.format(src=src)
        + ", ch AS ("
        + _RM_CH_SELECT.format(src=src)
        + "), fe AS ("
        + _RM_FE_SELECT.format(src=src)
        + "), s0 AS ("
        + _RM_S0_SELECT
        + "), "
        + _removal_tail_sql()
    )


#: transition-frame CTEs: one window + one aggregate over the fact —
#: the ONLY fact-cardinality work in the removal model
_RM_T_CTES = (
    "pp AS (SELECT user_id, event_type AS to_type, "
    "LAG(event_type) OVER (PARTITION BY user_id "
    "ORDER BY ts, event_id) AS from_type FROM {src}), "
    "c AS (SELECT from_type AS s, to_type AS m, COUNT(*) AS n "
    "FROM pp WHERE from_type IS NOT NULL GROUP BY from_type, "
    "to_type), "
    "r AS (SELECT s, SUM(n) AS ns FROM c GROUP BY s), "
    "t AS (SELECT c.s, c.m, CAST(ROUND(1.0e9 * c.n / r.ns) "
    "AS BIGINT) AS tu FROM c JOIN r ON r.s = c.s)"
)

_RM_CH_SELECT = (
    "SELECT DISTINCT event_type AS rm FROM "
    "{src} WHERE event_type <> 'purchase' "
    "UNION ALL SELECT '__none__'"
)

_RM_FE_SELECT = (
    "SELECT event_type AS m FROM (SELECT event_type, "
    "ROW_NUMBER() OVER (PARTITION BY user_id "
    "ORDER BY ts, event_id) AS rn FROM {src}) z WHERE rn = 1"
)

_RM_S0_SELECT = (
    "SELECT m, CAST(ROUND(1.0e9 * COUNT(*) / "
    "(SELECT COUNT(*) FROM fe)) AS BIGINT) AS su "
    "FROM fe GROUP BY m"
)


def _removal_tail_sql() -> str:
    """The recursion + summary over the t / ch / s0 frames — shared by
    the oracle (DuckDB materializes the multi-referenced CTEs itself)
    and the Spark side, which pre-materializes those three tiny frames:
    inlined, every level's t reference re-derived the fact window (the
    round-7 scan audit measured 6 events scans per run)."""
    resnap = (
        "CAST(ROUND(CAST(SUM(CASE WHEN t.m <> 'purchase' "
        "AND t.m <> pa.rm THEN t.tu * COALESCE(pb.p, 0) ELSE 0 END) "
        "AS DOUBLE) / 1.0e9) AS BIGINT)"
    )

    def level(k: int, prev: int) -> str:
        return (
            f"q{k} AS (SELECT pa.rm, t.s, CASE WHEN t.s = pa.rm THEN 0 "
            f"ELSE MAX(pa.p) + {resnap} END AS p "
            "FROM t JOIN q1 pa ON pa.s = t.s "
            f"LEFT JOIN q{prev} pb ON pb.s = t.m AND pb.rm = pa.rm "
            "GROUP BY pa.rm, t.s)"
        )

    return (
        "q1 AS (SELECT ch.rm, t.s, COALESCE(MAX(CASE WHEN "
        "t.m = 'purchase' AND t.s <> ch.rm THEN t.tu END), 0) AS p "
        "FROM t CROSS JOIN ch GROUP BY ch.rm, t.s), "
        + level(2, 1)
        + ", "
        + level(3, 2)
        + ", "
        "cv AS (SELECT ch.rm, SUM(CASE WHEN s0.m = 'purchase' "
        "THEN s0.su WHEN s0.m = ch.rm THEN 0 ELSE "
        "CAST(ROUND(CAST(s0.su * COALESCE(q3.p, 0) AS DOUBLE) "
        "/ 1.0e9) AS BIGINT) END) AS cu "
        "FROM s0 CROSS JOIN ch "
        "LEFT JOIN q3 ON q3.rm = ch.rm AND q3.s = s0.m "
        "GROUP BY ch.rm), "
        "fullc AS (SELECT cu AS fu FROM cv WHERE rm = '__none__') "
        "SELECT c2.rm AS channel, "
        "CAST(fu AS DOUBLE) / 1.0e9 AS p_convert_full, "
        "CAST(c2.cu AS DOUBLE) / 1.0e9 AS p_convert_removed, "
        "CASE WHEN fu = 0 THEN NULL ELSE "
        + rnd("CAST(fu - c2.cu AS DOUBLE) / fu", 6)
        + " END AS removal_effect, "
        "CASE WHEN SUM(fu - c2.cu) OVER () = 0 THEN NULL ELSE "
        + rnd(
            "CAST(fu - c2.cu AS DOUBLE) / SUM(fu - c2.cu) OVER ()", 6
        )
        + " END AS attribution_share "
        "FROM cv c2 CROSS JOIN fullc WHERE c2.rm <> '__none__'"
    )


@query(
    "events_markov_attribution",
    oracle=(
        "WITH " + tables.EVENTS_ORACLE_CTE + ", "
        + _removal_sql("events_t")
    ),
)
def events_markov_attribution(spark, sf_dir):
    """Markov removal-effect attribution (Anderl et al. 2014) — the
    multi-touch attribution model that replaced last-click/linear
    heuristics: each channel's credit is how much the chain's
    conversion probability DROPS when that channel's node is removed
    (non-renormalized, so removal only destroys paths), normalized
    across channels. Conversion is the truncated 3-step absorption
    from a START state distributed as each user's first event — the
    recursion of events_markov_absorption keyed by removed channel,
    |channels|+1 variants sharing ONE transition frame. Everything
    runs at (channels x types^2) cardinality after the single
    window+aggregate pass that builds transitions — at 100 TB the
    chain model is broadcast-sized and the attribution is free once
    transitions exist. Nano-unit re-snapping at every recursion level
    keeps all |channels|+1 chains bit-identical across engines. The
    Spark side MATERIALIZES the three tiny frames the recursion reads
    (transitions t, channel list ch, start distribution s0) — inlined
    as CTEs, every recursion level's t reference re-derived the fact
    window (6 events scans measured in the round-7 audit)."""
    from ..operators.textops import materialize as _mat

    tables.load(spark, sf_dir, "events").createOrReplaceTempView(
        "bh_events"
    )
    t = _mat(
        spark.sql(
            "WITH " + _RM_T_CTES.format(src="bh_events")
            + " SELECT * FROM t"
        )
    )
    ch = _mat(spark.sql(_RM_CH_SELECT.format(src="bh_events")))
    fe = _mat(spark.sql(_RM_FE_SELECT.format(src="bh_events")))
    fe.createOrReplaceTempView("rm_fe")
    s0 = _mat(
        spark.sql("WITH fe AS (SELECT * FROM rm_fe) " + _RM_S0_SELECT)
    )
    t.createOrReplaceTempView("rm_t")
    ch.createOrReplaceTempView("rm_ch")
    s0.createOrReplaceTempView("rm_s0")
    return spark.sql(
        "WITH t AS (SELECT * FROM rm_t), "
        "ch AS (SELECT * FROM rm_ch), "
        "s0 AS (SELECT * FROM rm_s0), " + _removal_tail_sql()
    )


# --- behavioral predictability: Markov entropy rate ------------------------

def _entropy_sql(src: str) -> str:
    """Shared text: zeroth-order entropy of the event-type marginal vs
    the first-order conditional entropy (plug-in entropy rate of the
    transition chain), in bits. Per-term p*log2(p) snaps to 1e-9
    integer units with the log itself snapped at 1e-5 first (libm-ulp
    doctrine) — both entropies are exact integer sums divided once."""
    lg = "CAST(ROUND(LOG2(pq) * 1.0e5) AS BIGINT)"
    term = (
        "CAST(ROUND((pq * (CAST(" + lg + " AS DOUBLE) / 1.0e5)) * 1.0e9)"
        " AS BIGINT)"
    )
    return (
        "pp AS (SELECT user_id, event_type AS to_type, "
        "LAG(event_type) OVER (PARTITION BY user_id "
        f"ORDER BY ts, event_id) AS from_type FROM {src}), "
        "tot AS (SELECT COUNT(*) AS nt FROM pp), "
        # marginal entropy H0 = -sum_m p(m) log2 p(m)
        "mg AS (SELECT to_type, COUNT(*) AS n FROM pp GROUP BY to_type), "
        "h0 AS (SELECT -SUM(t_u) AS h0_u, COUNT(*) AS n_states FROM ("
        "SELECT (CAST(n AS DOUBLE) / nt) AS pq FROM mg CROSS JOIN tot"
        f") z0 CROSS JOIN LATERAL (SELECT {term} AS t_u) lz), "
        # conditional entropy H1 = -sum_s p(s) sum_m T[s,m] log2 T[s,m]
        "c AS (SELECT from_type AS s, to_type AS m, COUNT(*) AS n "
        "FROM pp WHERE from_type IS NOT NULL GROUP BY from_type, "
        "to_type), "
        "r AS (SELECT s, SUM(n) AS ns FROM c GROUP BY s), "
        "rt AS (SELECT SUM(ns) AS nr FROM r), "
        "rows_h AS (SELECT c.s, r.ns, "
        "(CAST(c.n AS DOUBLE) / r.ns) AS pq "
        "FROM c JOIN r ON r.s = c.s), "
        f"hs AS (SELECT s, MAX(ns) AS ns, -SUM({term}) AS hrow_u "
        "FROM rows_h GROUP BY s), "
        "h1 AS (SELECT SUM(CAST(ROUND(CAST(hs.hrow_u AS DOUBLE) "
        "* hs.ns / rt.nr) AS BIGINT)) AS h1_u "
        "FROM hs CROSS JOIN rt) "
        "SELECT CAST(n_states AS BIGINT) AS n_states, "
        "CAST(h0_u AS DOUBLE) / 1.0e9 AS h0_bits, "
        "CAST(h1_u AS DOUBLE) / 1.0e9 AS h1_bits, "
        "CASE WHEN h0_u = 0 THEN NULL ELSE "
        + rnd("1.0e0 - CAST(h1_u AS DOUBLE) / h0_u", 6)
        + " END AS predictability_gain "
        "FROM h0 CROSS JOIN h1"
    )


@query(
    "events_entropy_rate",
    oracle=(
        "WITH " + tables.EVENTS_ORACLE_CTE + ", "
        + _entropy_sql("events_t")
    ),
)
def events_entropy_rate(spark, sf_dir):
    """How predictable is user behavior? Zeroth-order entropy of the
    event-type marginal vs the plug-in entropy rate of the first-order
    chain (conditional entropy of next event given current — the
    Song et al. 2010 'Limits of Predictability' measurement, here over
    event streams): the gap is exactly the predictive value of knowing
    the current state, and it upper-bounds what ANY first-order
    personalization model can gain. Uses the same one-pass transition
    aggregate as the Markov family; everything after it is
    types-cardinality arithmetic with logs snapped to integer units,
    so the entropies are exact in both engines. At 100 TB the only
    row-scale work is the lag window — shared, shuffle-keyed on
    user_id like every sequence query here."""
    tables.load(spark, sf_dir, "events").createOrReplaceTempView(
        "bh_events"
    )
    return spark.sql("WITH " + _entropy_sql("bh_events"))
