"""Statistical aggregates and window extensions over the events stream.

The reference's only statistics are mean/min/max/std of temperature
(ref:streamlit/app.py:333-338,396-405, covered by weather_city_stats /
weather_global_stats). This module extends the surface to second-moment
statistics (variance, covariance, correlation) and distribution-rank
windows (ntile / percent_rank / cume_dist) plus a time-RANGE rolling
window — the shapes an analyst actually asks of an event stream.

Numeric doctrine (see `functions/exprs.py`): never ship a float partial
aggregate. `events.value` is an exactly-2-decimal double, so every moment
is accumulated as an exact BIGINT sum of (scaled) integers — Sx, Sy, Sxx,
Syy, Sxy — which is partition-order-insensitive by construction; the
variance/correlation formulas then run ONCE per group on the aggregated
scalars. (Spark's built-in var_samp/corr stream float updates whose
result depends on partition order — fine for dashboards, fatal for a
hash-compared oracle. The exact-sums form is also what you want at
100 TB: the same 5 integer sums feed every derived statistic, one scan.)

BIGINT headroom: Sxx <= n * (49_002)^2 ~ n * 2.4e9 — overflows int64
around n ~ 3.8e9 rows per group; at that scale switch the accumulators to
DECIMAL(38,0) (Spark) / HUGEINT (DuckDB), same plan shape.
"""

from __future__ import annotations

from pyspark.sql import Column, Window
from pyspark.sql import functions as F

from .. import tables
from ..functions.exprs import EPOCH_US_SPARK, id_mix, rnd
from ..registry import query

#: value in exact integer cents; hour-of-day as the second variable
_X = "CAST(ROUND(value * 100.0e0) AS BIGINT)"
_Y = "CAST(hour(ts) AS BIGINT)"

#: epoch microseconds of the (ns->us normalized) event timestamp,
#: timezone-independent in both engines
_EPOCH_US_DUCK = "epoch_us(ts)"

#: derived statistics from the exact sums (identical text both engines;
#: every input is an exact integer scalar, so the float math is one
#: deterministic IEEE evaluation per group)
#: Degenerate-input guards (caught by the skewed fixture fuzz): a
#: single-row group makes (n-1) zero and a CONSTANT column makes a
#:  variance term zero — under ANSI Spark a bare division then throws
#: where the default session and DuckDB return NULL. NULLIF pins all
#: three behaviors to NULL (undefined statistic, reported as such).
#: GREATEST(.., 0) inside each sqrt: the variance terms are
#: mathematically >= 0 but the double products can cancel to a tiny
#: negative at extreme magnitudes, and DuckDB's SQRT(-eps) RAISES
#: while Spark returns NaN.
_DERIVED = [
    ("mean_value", rnd("CAST(sx AS DOUBLE) / (100.0e0 * n)", 4)),
    (
        "var_value",  # sample variance in units^2
        rnd(
            "(CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n) "
            "/ NULLIF((n - 1) * 10000.0e0, 0.0e0)",
            4,
        ),
    ),
    (
        "covar_value_hour",  # sample covariance(value_units, hour)
        rnd(
            "(CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy / n) "
            "/ NULLIF((n - 1) * 100.0e0, 0.0e0)",
            4,
        ),
    ),
    (
        "corr_value_hour",  # Pearson r (scale factors cancel)
        rnd(
            "(CAST(sxy AS DOUBLE) * n - CAST(sx AS DOUBLE) * sy) / "
            "NULLIF("
            "sqrt(GREATEST(CAST(sxx AS DOUBLE) * n "
            "- CAST(sx AS DOUBLE) * sx, 0.0e0)) * "
            "sqrt(GREATEST(CAST(syy AS DOUBLE) * n "
            "- CAST(sy AS DOUBLE) * sy, 0.0e0)), 0.0e0)",
            6,
        ),
    ),
]


@query(
    "events_moment_stats",
    oracle=(
        "WITH " + tables.EVENTS_ORACLE_CTE + ", "
        "m AS (SELECT event_type, COUNT(*) AS n, "
        f"SUM({_X}) AS sx, SUM({_Y}) AS sy, "
        f"SUM({_X} * {_X}) AS sxx, SUM({_Y} * {_Y}) AS syy, "
        f"SUM({_X} * {_Y}) AS sxy "
        "FROM events_t GROUP BY event_type) "
        "SELECT event_type, CAST(n AS BIGINT) AS n, "
        + ", ".join(f"{e} AS {k}" for k, e in _DERIVED)
        + " FROM m"
    ),
)
def events_moment_stats(spark, sf_dir):
    """Per-event-type mean / sample variance / covariance / Pearson
    correlation of value vs hour-of-day, via exact integer moment sums.
    One scan, one partial+final hash aggregate (the 5 integer sums fold
    map-side); the float formulas run on a handful of groups, not rows."""
    ev = tables.load(spark, sf_dir, "events")
    m = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.expr(_X)).alias("sx"),
        F.sum(F.expr(_Y)).alias("sy"),
        F.sum(F.expr(f"{_X} * {_X}")).alias("sxx"),
        F.sum(F.expr(f"{_Y} * {_Y}")).alias("syy"),
        F.sum(F.expr(f"{_X} * {_Y}")).alias("sxy"),
    )
    return m.selectExpr(
        "event_type",
        "CAST(n AS BIGINT) AS n",
        *[f"{e} AS {k}" for k, e in _DERIVED],
    )


def _rnd_col(col: Column, k: int) -> Column:
    """Column-form twin of exprs.rnd: scale, ROUND at 0, unscale,
    normalize the sign of zero (see exprs.rnd)."""
    scale = float(10**k)
    return F.round(col * scale).cast("double") / scale + F.lit(0.0)


# --- distribution-rank windows ----------------------------------------------
@query(
    "window_value_distribution_ranks",
    oracle=(
        "WITH " + tables.EVENTS_ORACLE_CTE + " "
        "SELECT event_id, event_type, value, "
        "NTILE(4) OVER w AS quartile, "
        + rnd("PERCENT_RANK() OVER w", 6)
        + " AS pct_rank, "
        + rnd("CUME_DIST() OVER w", 6)
        + " AS cume_dist FROM events_t "
        "WINDOW w AS (PARTITION BY event_type ORDER BY value, event_id)"
    ),
)
def window_value_distribution_ranks(spark, sf_dir):
    """NTILE / PERCENT_RANK / CUME_DIST per event_type ordered by value
    (event_id tie-break makes the order total, so every rank is
    deterministic). One shuffle on event_type, in-partition sort; all
    three rank functions stream in a single pass over the sorted run.
    Skew note: partitions are whole event_types — at extreme scale an
    exact global rank per type is better served by approx quantiles;
    this exact form is the SQL-surface parity piece."""
    ev = tables.load(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    return ev.select(
        "event_id",
        "event_type",
        "value",
        F.ntile(4).over(w).alias("quartile"),
        _rnd_col(F.percent_rank().over(w), 6).alias("pct_rank"),
        _rnd_col(F.cume_dist().over(w), 6).alias("cume_dist"),
    )


# --- time-RANGE rolling window -----------------------------------------------
_RANGE_US = 3 * 86400 * 1_000_000  # 3 days in microseconds


@query(
    "window_time_range_avg",
    oracle=(
        "WITH " + tables.EVENTS_ORACLE_CTE + " "
        "SELECT event_id, user_id, ts, "
        + rnd(
            "CAST(SUM(CAST(ROUND(value * 100.0e0) AS BIGINT)) OVER w AS DOUBLE)"
            " / (100.0e0 * COUNT(*) OVER w)",
            4,
        )
        + " AS avg_value_3d FROM events_t "
        f"WINDOW w AS (PARTITION BY user_id ORDER BY {_EPOCH_US_DUCK} "
        f"RANGE BETWEEN {_RANGE_US} PRECEDING AND CURRENT ROW)"
    ),
)
def window_time_range_avg(spark, sf_dir):
    """Per-user trailing-3-day average value: a RANGE frame over epoch
    microseconds (RANGE, not ROWS, so timestamp ties share one frame and
    the result is partition-layout-independent). The sum rides exact
    cents; one division per output row on two exact scalars. One shuffle
    on user_id — window state is the 3-day frame, not the stream."""
    ev = tables.load(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.expr(EPOCH_US_SPARK))
        .rangeBetween(-_RANGE_US, 0)
    )
    cents_sum = F.sum(F.expr("CAST(ROUND(value * 100.0e0) AS BIGINT)")).over(w)
    cnt = F.count(F.lit(1)).over(w)
    return ev.select(
        "event_id",
        "user_id",
        "ts",
        _rnd_col(cents_sum.cast("double") / (100.0 * cnt), 4).alias(
            "avg_value_3d"
        ),
    )


# --- chi-square test of independence -------------------------------------

#: per-cell contribution (obs - exp)^2 / exp in integer micro-units;
#: exp = row_tot * col_tot / total is exact-integer in, one float
#: division out — identical IEEE in both engines, snap absorbs the rest
_CHI_TERM_U = (
    "CAST(ROUND(POW(CAST(o AS DOUBLE) - CAST(rt AS DOUBLE) * ct / tot, 2.0e0)"
    " / (CAST(rt AS DOUBLE) * ct / tot) * 1.0e6) AS BIGINT)"
)

_CHISQ_ORACLE = (
    "WITH " + tables.EVENTS_ORACLE_CTE + ", "
    "cells AS (SELECT event_type, (isodow(ts) - 1) AS dow, COUNT(*) AS o "
    "FROM events_t GROUP BY 1, 2), "
    "rt AS (SELECT event_type, SUM(o) AS rt FROM cells GROUP BY event_type), "
    "ct AS (SELECT dow, SUM(o) AS ct FROM cells GROUP BY dow), "
    "tot AS (SELECT SUM(o) AS tot FROM cells), "
    "terms AS (SELECT " + _CHI_TERM_U + " AS t_u FROM cells "
    "JOIN rt USING (event_type) JOIN ct USING (dow) CROSS JOIN tot) "
    "SELECT COUNT(*) AS n_cells, "
    "(SELECT (COUNT(DISTINCT event_type) - 1) * 6 FROM cells) AS dof, "
    "CAST(SUM(t_u) AS DOUBLE) / 1.0e6 AS chi2 FROM terms"
)


@query("events_type_dow_chisq", oracle=_CHISQ_ORACLE)
def events_type_dow_chisq(spark, sf_dir):
    """Chi-square independence test: is event type independent of
    day-of-week? Contingency cells are one |types| x 7 hash-agg over
    the fact table; marginals and the grand total derive from the cell
    frame (broadcast back), and each cell's (O-E)^2/E contribution
    snaps to integer micro-units before the exact final sum. The
    dashboard-statistics capability the reference's pandas layer would
    hand to scipy — here it is one aggregate pipeline, no driver-side
    math."""
    ev = tables.load(spark, sf_dir, "events")
    cells = ev.select(
        "event_type", F.expr("weekday(ts)").alias("dow")
    ).groupBy("event_type", "dow").agg(F.count(F.lit(1)).alias("o"))
    from ..operators.textops import materialize

    cells = materialize(cells)
    rt = cells.groupBy("event_type").agg(F.sum("o").alias("rt"))
    ct = cells.groupBy("dow").agg(F.sum("o").alias("ct"))
    tot = cells.agg(F.sum("o").alias("tot"))
    dof = cells.agg(
        F.expr("(COUNT(DISTINCT event_type) - 1) * 6").alias("dof")
    )
    terms = (
        cells.join(F.broadcast(rt), "event_type")
        .join(F.broadcast(ct), "dow")
        .join(F.broadcast(tot))
        .select(F.expr(_CHI_TERM_U).alias("t_u"))
    )
    return (
        terms.agg(
            F.count(F.lit(1)).alias("n_cells"),
            F.expr("CAST(SUM(t_u) AS DOUBLE) / 1.0e6").alias("chi2"),
        )
        .join(F.broadcast(dof))
        .select("n_cells", "dof", "chi2")
    )


# --- deterministic Poisson-bootstrap confidence interval -------------------

_BOOT_B = 50

#: deterministic per-(row, replicate) uniform in [0, 1e6): the
#: full-entropy id_mix of the folded (event_id, replicate) key (no
#: engine hash function — Spark xxhash64 and DuckDB hash() disagree).
#: The 999331 stride keeps distinct (row, b) pairs distinct (b <= 50
#: adds < 5e7 — no overflow at any event_id) and id_mix removes the
#: old reduced-LCG periodicity: rows congruent mod the fold no longer
#: share their entire weight vector. Appears 8x inside _BOOT_W's CASE;
#: both engines' common-subexpression elimination evaluates it once.
_BOOT_U = f"({id_mix('(event_id + b * 999331)')} % 1000000)"

#: Poisson(1) inverse CDF over the integer uniform: cumulative
#: probabilities scaled to 1e6 and floored — the Poisson bootstrap's
#: per-row replicate weight (independence across rows is what makes
#: this a single narrow pass at 100 TB: no global resample indexing)
_BOOT_W = (
    f"(CASE WHEN {_BOOT_U} < 367879 THEN 0 "
    f"WHEN {_BOOT_U} < 735758 THEN 1 "
    f"WHEN {_BOOT_U} < 919698 THEN 2 "
    f"WHEN {_BOOT_U} < 981011 THEN 3 "
    f"WHEN {_BOOT_U} < 996340 THEN 4 "
    f"WHEN {_BOOT_U} < 999405 THEN 5 "
    f"WHEN {_BOOT_U} < 999916 THEN 6 ELSE 7 END)"
)

_BOOT_ORACLE = (
    "WITH " + tables.EVENTS_ORACLE_CTE + ", "
    "e AS (SELECT event_id, event_type, "
    "CAST(ROUND(value * 100.0e0) AS BIGINT) AS v_c FROM events_t), "
    f"r AS (SELECT e.*, CAST(u.b AS BIGINT) AS b FROM e, "
    f"unnest(generate_series(1, {_BOOT_B})) AS u(b)), "
    f"m AS (SELECT event_type, b, SUM({_BOOT_W} * v_c) AS swc, "
    f"SUM({_BOOT_W}) AS sw FROM r GROUP BY event_type, b), "
    "mb AS (SELECT event_type, "
    "CAST(swc AS DOUBLE) / (100.0e0 * sw) AS mean_b FROM m "
    "WHERE sw > 0), "
    "pt AS (SELECT event_type, COUNT(*) AS n_rows, "
    + rnd("CAST(SUM(v_c) AS DOUBLE) / (100.0e0 * COUNT(*))", 4)
    + " AS mean_value FROM e GROUP BY event_type) "
    "SELECT pt.event_type, n_rows, mean_value, "
    "COUNT(*) AS n_resamples, "
    + rnd("quantile_cont(mean_b, 0.025e0)", 4)
    + " AS ci_lo, "
    + rnd("quantile_cont(mean_b, 0.975e0)", 4)
    + " AS ci_hi FROM mb JOIN pt ON mb.event_type = pt.event_type "
    "GROUP BY pt.event_type, n_rows, mean_value"
)


@query("events_bootstrap_ci", oracle=_BOOT_ORACLE)
def events_bootstrap_ci(spark, sf_dir):
    """Deterministic POISSON bootstrap: a 95% confidence interval for
    each type's mean value from 50 resamples, with every resample
    weight derived from a pure-integer LCG of (event_id, replicate) —
    reproducible across runs, engines, partitionings, and retries
    (engine RNGs are partition-order-dependent; a deterministic
    uncertainty estimate can gate a pipeline, a flaky one cannot).
    Poisson weights make each replicate independent per row, so the
    plan is one narrow 50x explode + a (types x 50)-key map-combined
    aggregate — no global resample coordination at any scale; the
    percentile runs over 50 resample means per type. The uncertainty
    layer the reference's dashboard means never had."""
    ev = tables.load(spark, sf_dir, "events")
    e = ev.select(
        "event_id",
        "event_type",
        F.expr("CAST(ROUND(value * 100.0e0) AS BIGINT)").alias("v_c"),
    )
    r = e.select(
        "*",
        F.explode(
            F.expr(f"sequence(CAST(1 AS BIGINT), CAST({_BOOT_B} AS BIGINT))")
        ).alias("b"),
    )
    m = r.groupBy("event_type", "b").agg(
        F.sum(F.expr(f"{_BOOT_W} * v_c")).alias("swc"),
        F.sum(F.expr(_BOOT_W)).alias("sw"),
    )
    mb = m.filter(F.col("sw") > 0).select(
        "event_type",
        F.expr("CAST(swc AS DOUBLE) / (100.0e0 * sw)").alias("mean_b"),
    )
    pt = e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.expr(
            rnd("CAST(SUM(v_c) AS DOUBLE) / (100.0e0 * COUNT(*))", 4)
        ).alias("mean_value"),
    )
    agg = mb.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_resamples"),
        F.expr("percentile(mean_b, array(0.025e0, 0.975e0))").alias("qs"),
    )
    return agg.join(pt, "event_type").select(
        "event_type",
        "n_rows",
        "mean_value",
        "n_resamples",
        F.expr(rnd("qs[0]", 4)).alias("ci_lo"),
        F.expr(rnd("qs[1]", 4)).alias("ci_hi"),
    )


# --- one-way ANOVA ---------------------------------------------------------

#: per-group sx^2/n snapped to an INTEGER before the cross-group sum
#: (sx^2 overflows int64, so the division runs in double — one
#: deterministic expression per group — and the snap makes the k-row
#: sum exact and order-free; same for the single grand-mean term)
_SGM_U = "CAST(ROUND(CAST(sx AS DOUBLE) * sx / n) AS BIGINT)"
_GT_U = "CAST(ROUND(CAST(sxt AS DOUBLE) * sxt / nt) AS BIGINT)"

_ANOVA_ORACLE = (
    "WITH " + tables.EVENTS_ORACLE_CTE + ", "
    f"g AS (SELECT event_type, COUNT(*) AS n, SUM({_X}) AS sx, "
    f"SUM({_X} * {_X}) AS sxx FROM events_t GROUP BY event_type), "
    "t AS (SELECT COUNT(*) AS k, SUM(n) AS nt, SUM(sx) AS sxt, "
    f"SUM(sxx) AS sxxt, SUM({_SGM_U}) AS sgm_u FROM g) "
    "SELECT k AS n_groups, nt AS n_rows, "
    + rnd(
        f"(CAST(sgm_u - {_GT_U} AS DOUBLE) / (k - 1)) / "
        "(CAST(sxxt - sgm_u AS DOUBLE) / (nt - k)) ",
        4,
    )
    + " AS f_stat, "
    + rnd(f"CAST(sgm_u - {_GT_U} AS DOUBLE) / 10000.0e0", 4)
    + " AS ss_between, "
    + rnd("CAST(sxxt - sgm_u AS DOUBLE) / 10000.0e0", 4)
    + " AS ss_within FROM t"
)


@query("events_value_anova", oracle=_ANOVA_ORACLE)
def events_value_anova(spark, sf_dir):
    """One-way ANOVA across event types: does mean value differ between
    groups more than within them? F = (SS_between/(k-1)) /
    (SS_within/(n-k)), with every sum of squares derived from the SAME
    exact integer moment sums (n, Sx, Sxx per group) that
    events_moment_stats accumulates — one map-combined hash aggregate
    over the fact table, then float algebra on k rows. The continuous
    companion to events_type_dow_chisq's categorical independence
    test; a large F here is what justifies per-type models downstream.
    The only cross-group float term (sum of sx^2/n) runs over the
    k-row group frame in one deterministic order in both engines
    (single aggregation of k exact rationals; rnd absorbs the last
    ulp)."""
    ev = tables.load(spark, sf_dir, "events")
    g = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.expr(_X)).alias("sx"),
        F.sum(F.expr(f"{_X} * {_X}")).alias("sxx"),
    )
    from ..operators.textops import materialize

    g = materialize(g)
    t = g.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("n").alias("nt"),
        F.sum("sx").alias("sxt"),
        F.sum("sxx").alias("sxxt"),
        F.sum(F.expr(_SGM_U)).alias("sgm_u"),
    )
    return t.select(
        F.col("k").alias("n_groups"),
        F.col("nt").alias("n_rows"),
        F.expr(
            rnd(
                f"(CAST(sgm_u - {_GT_U} AS DOUBLE) / (k - 1)) / "
                "(CAST(sxxt - sgm_u AS DOUBLE) / (nt - k)) ",
                4,
            )
        ).alias("f_stat"),
        F.expr(
            rnd(f"CAST(sgm_u - {_GT_U} AS DOUBLE) / 10000.0e0", 4)
        ).alias("ss_between"),
        F.expr(
            rnd("CAST(sxxt - sgm_u AS DOUBLE) / 10000.0e0", 4)
        ).alias("ss_within"),
    )


# --- Benford's law forensic screen ----------------------------------------

#: expected Benford first-digit probabilities log10(1 + 1/d), snapped to
#: integer 1e-9 units as fixed literals (identical constants both
#: engines; no libm call at query time)
_BENFORD_P9 = {
    1: 301029996, 2: 176091259, 3: 124938737, 4: 96910013,
    5: 79181246, 6: 66946790, 7: 57991947, 8: 51152522, 9: 45757491,
}
_BENFORD_CASE = (
    "CASE first_digit "
    + " ".join(f"WHEN {d} THEN {u}" for d, u in _BENFORD_P9.items())
    + " END"
)

#: per-digit chi-square term (o - e)^2 / e in integer micro-units
_BEN_CHI_U = (
    "CAST(ROUND(POW(CAST(o AS DOUBLE) - CAST(e9 AS DOUBLE) * nt / 1.0e9, "
    "2.0e0) / (CAST(e9 AS DOUBLE) * nt / 1.0e9) * 1.0e6) AS BIGINT)"
)

_BENFORD_ORACLE = (
    "WITH d AS (SELECT CAST(SUBSTR(CAST("
    "CAST(ROUND(o_totalprice * 100.0e0) AS BIGINT) AS VARCHAR), 1, 1) "
    "AS INTEGER) AS first_digit FROM orders), "
    "c AS (SELECT first_digit, COUNT(*) AS o FROM d GROUP BY 1), "
    "t AS (SELECT SUM(o) AS nt FROM c), "
    f"x AS (SELECT first_digit, o, {_BENFORD_CASE} AS e9, nt "
    "FROM c CROSS JOIN t) "
    "SELECT first_digit, o AS n_observed, "
    + rnd("CAST(o AS DOUBLE) / nt", 6)
    + " AS observed_frac, "
    + rnd("CAST(e9 AS DOUBLE) / 1.0e9", 6)
    + " AS benford_frac, "
    + rnd(f"CAST(SUM({_BEN_CHI_U}) OVER () AS DOUBLE) / 1.0e6", 4)
    + " AS chi2_total FROM x"
)


@query("orders_benford_screen", oracle=_BENFORD_ORACLE)
def orders_benford_screen(spark, sf_dir):
    """Benford's-law forensic screen on order totals: observed
    first-digit distribution vs the log10(1 + 1/d) expectation, with
    the overall chi-square — the fraud/data-fabrication smell test
    auditors run on financial columns (synthetic or tampered amounts
    rarely honor Benford; TPC-H's uniform generator should FAIL the
    screen loudly, which is itself the demonstration). First digit via
    exact integer-cents string prefix (no float log); expected
    probabilities are fixed 1e-9-unit integer literals; chi-square
    terms snap to micro-units before the exact 9-row sum. One hash
    aggregate over the fact column, everything after on 9 rows."""
    o = tables.load(spark, sf_dir, "orders")
    d = o.select(
        F.expr(
            "CAST(SUBSTR(CAST(CAST(ROUND(o_totalprice * 100.0e0) "
            "AS BIGINT) AS STRING), 1, 1) AS INT)"
        ).alias("first_digit")
    )
    c = d.groupBy("first_digit").agg(F.count(F.lit(1)).alias("o"))
    from ..operators.textops import materialize

    c = materialize(c)
    t = c.agg(F.sum("o").alias("nt"))
    x = c.join(F.broadcast(t)).select(
        "first_digit", "o", F.expr(_BENFORD_CASE).alias("e9"), "nt"
    )
    w = Window.partitionBy()
    return x.select(
        "first_digit",
        F.col("o").alias("n_observed"),
        F.expr(rnd("CAST(o AS DOUBLE) / nt", 6)).alias("observed_frac"),
        F.expr(rnd("CAST(e9 AS DOUBLE) / 1.0e9", 6)).alias(
            "benford_frac"
        ),
        F.expr(rnd(f"CAST(SUM({_BEN_CHI_U}) OVER () AS DOUBLE) / 1.0e6", 4)).alias(
            "chi2_total"
        ),
    )


# --- Welch's t-test --------------------------------------------------------

#: per-group n / sum / sumsq via one conditional aggregate; variance and
#: the t statistic evaluate ONCE on the single output row (exact-int
#: inputs, deterministic IEEE in both engines, rnd at the edge)
_W_N = "COUNT(CASE WHEN wk = {w} THEN 1 END)"
_W_SX = "SUM(CASE WHEN wk = {w} THEN x ELSE 0 END)"
_W_SXX = "SUM(CASE WHEN wk = {w} THEN x * x ELSE 0 END)"


def _w_var(w: int) -> str:
    n, sx, sxx = (
        _W_N.format(w=w),
        _W_SX.format(w=w),
        _W_SXX.format(w=w),
    )
    return (
        f"((CAST({sxx} AS DOUBLE) - CAST({sx} AS DOUBLE) * {sx} / {n})"
        f" / ({n} - 1))"
    )


def _w_mean(w: int) -> str:
    return (
        f"(CAST({_W_SX.format(w=w)} AS DOUBLE) / "
        f"(100.0e0 * {_W_N.format(w=w)}))"
    )


_W_T = (
    f"(({_w_mean(0)}) - ({_w_mean(1)})) / "
    f"(SQRT(({_w_var(0)}) / {_W_N.format(w=0)} "
    f"+ ({_w_var(1)}) / {_W_N.format(w=1)}) / 100.0e0)"
)

_TTEST_ORACLE = (
    "WITH " + tables.EVENTS_ORACLE_CTE + ", "
    "e AS (SELECT CASE WHEN isodow(ts) >= 6 THEN 1 ELSE 0 END AS wk, "
    "CAST(ROUND(value * 100.0e0) AS BIGINT) AS x FROM events_t) "
    "SELECT "
    + _W_N.format(w=0) + " AS n_weekday, "
    + _W_N.format(w=1) + " AS n_weekend, "
    + rnd(_w_mean(0), 4) + " AS mean_weekday, "
    + rnd(_w_mean(1), 4) + " AS mean_weekend, "
    + rnd(_W_T, 4) + " AS t_stat, "
    + f"CASE WHEN ABS({_W_T}) > 1.96e0 THEN 1 ELSE 0 END "
    "AS significant_95 FROM e"
)


@query("events_weekend_ttest", oracle=_TTEST_ORACLE)
def events_weekend_ttest(spark, sf_dir):
    """Welch's two-sample t-test: does mean event value differ between
    weekdays and weekends? Unequal-variance form (no pooled-variance
    assumption — the robust default), completing the inference battery:
    proportions get the z-test (events_ab_conversion_ztest), means get
    this, k-group means get ANOVA (events_value_anova), categoricals
    get chi-square. ONE conditional aggregate produces all six exact
    integers (n/sum/sumsq per group); the statistic is a single
    deterministic float evaluation on the one-row result. Degrees of
    freedom are thousands here, so the 1.96 normal cutoff is the
    appropriate critical value (document Welch-Satterthwaite for small
    samples)."""
    ev = tables.load(spark, sf_dir, "events")
    e = ev.select(
        F.expr(
            "CASE WHEN weekday(ts) >= 5 THEN 1 ELSE 0 END"
        ).alias("wk"),
        F.expr("CAST(ROUND(value * 100.0e0) AS BIGINT)").alias("x"),
    )
    return e.agg(
        F.expr(_W_N.format(w=0)).alias("n_weekday"),
        F.expr(_W_N.format(w=1)).alias("n_weekend"),
        F.expr(rnd(_w_mean(0), 4)).alias("mean_weekday"),
        F.expr(rnd(_w_mean(1), 4)).alias("mean_weekend"),
        F.expr(rnd(_W_T, 4)).alias("t_stat"),
        F.expr(
            f"CASE WHEN ABS({_W_T}) > 1.96e0 THEN 1 ELSE 0 END"
        ).alias("significant_95"),
    )


# --- pairwise Pearson correlation matrix (lineitem numerics) --------------

#: exact integer units per variable: quantity as-is, price in cents,
#: discount/tax in hundredths
_CM_UNITS = (
    "u AS (SELECT CAST(l_quantity AS BIGINT) AS q, "
    "CAST(ROUND(l_extendedprice * 100.0e0) AS BIGINT) AS p, "
    "CAST(ROUND(l_discount * 100.0e0) AS BIGINT) AS d, "
    "CAST(ROUND(l_tax * 100.0e0) AS BIGINT) AS t FROM {src})"
)

_CM_VARS = ["q", "p", "d", "t"]
_CM_NAMES = {
    "q": "l_quantity",
    "p": "l_extendedprice",
    "d": "l_discount",
    "t": "l_tax",
}


def _cm_sums() -> str:
    """One aggregate: n + first/second moments of all 4 vars + all 6
    cross-products. Every accumulator is DECIMAL(38,0) — p*p sums pass
    int64 around 1e5 rows (price cents ~1e7, squared ~1e14), and one
    uniform exact-decimal sum keeps the whole gram matrix
    partition-order-insensitive at any scale."""
    parts = ["COUNT(*) AS n"]
    for v in _CM_VARS:
        parts.append(f"SUM(CAST({v} AS DECIMAL(38,0))) AS s_{v}")
    for i, a in enumerate(_CM_VARS):
        for b in _CM_VARS[i:]:
            parts.append(f"SUM(CAST({a} * {b} AS DECIMAL(38,0))) AS s_{a}{b}")
    return "s AS (SELECT " + ", ".join(parts) + " FROM u)"


def _cm_doubles() -> str:
    """Single cast-to-DOUBLE point: the float formulas below then share
    byte-identical text across engines on identical IEEE inputs."""
    cols = ["CAST(n AS DOUBLE) AS n"] + [
        f"CAST(s_{v} AS DOUBLE) AS s_{v}" for v in _CM_VARS
    ]
    for i, a in enumerate(_CM_VARS):
        for b in _CM_VARS[i:]:
            cols.append(f"CAST(s_{a}{b} AS DOUBLE) AS s_{a}{b}")
    return "sd AS (SELECT " + ", ".join(cols) + " FROM s)"


def _cm_corr(a: str, b: str) -> str:
    # NULLIF + GREATEST: a constant column zeroes its variance term —
    # the correlation is undefined (NULL in the default session and
    # DuckDB; ANSI Spark would THROW on the bare division, and DuckDB
    # RAISES on sqrt of the tiny negative a double cancellation can
    # leave). Caught by the skewed fixture fuzz (constant l_quantity).
    sxy = f"s_{a}{b}"
    return rnd(
        f"(n * {sxy} - s_{a} * s_{b}) / "
        f"NULLIF(sqrt(GREATEST(n * s_{a}{a} - s_{a} * s_{a}, 0.0e0)) * "
        f"sqrt(GREATEST(n * s_{b}{b} - s_{b} * s_{b}, 0.0e0)), 0.0e0)",
        6,
    )


def _cm_sql(src: str) -> str:
    pairs = [
        (a, b)
        for i, a in enumerate(_CM_VARS)
        for b in _CM_VARS[i + 1 :]
    ]
    selects = " UNION ALL ".join(
        f"SELECT '{_CM_NAMES[a]}' AS x, '{_CM_NAMES[b]}' AS y, "
        f"{_cm_corr(a, b)} AS corr FROM sd"
        for a, b in pairs
    )
    return (
        "WITH "
        + _CM_UNITS.format(src=src)
        + ", "
        + _cm_sums()
        + ", "
        + _cm_doubles()
        + " "
        + selects
    )


@query("lineitem_corr_matrix", oracle=_cm_sql("lineitem"))
def lineitem_corr_matrix(spark, sf_dir):
    """Pairwise Pearson correlation matrix of the four lineitem numeric
    columns (quantity, extendedprice, discount, tax) — the EDA profiling
    step before any model fit. ONE scan and ONE map-combined aggregate
    produce the full gram matrix (4 first moments + 10 second moments as
    exact DECIMAL(38,0) sums); the 6 correlations are float formulas
    over that single 15-scalar row, emitted long-form via an IN-ROW
    stack() — NOT the oracle's 6-arm UNION, which Spark inlines into
    six copies of the aggregate (the round-7 scan audit measured 6
    lineitem scans for one matrix; DuckDB materializes the shared CTE,
    Spark does not). At 100 TB this is the optimal shape: ONE scan, one
    partial+final aggregate, and a 1-row unpivot."""
    tables.load(spark, sf_dir, "lineitem").createOrReplaceTempView(
        "cm_lineitem"
    )
    sd = spark.sql(
        "WITH "
        + _CM_UNITS.format(src="cm_lineitem")
        + ", "
        + _cm_sums()
        + ", "
        + _cm_doubles()
        + " SELECT * FROM sd"
    )
    pairs = [
        (a, b)
        for i, a in enumerate(_CM_VARS)
        for b in _CM_VARS[i + 1 :]
    ]
    args = ", ".join(
        f"'{_CM_NAMES[a]}', '{_CM_NAMES[b]}', {_cm_corr(a, b)}"
        for a, b in pairs
    )
    return sd.selectExpr(
        f"stack({len(pairs)}, {args}) AS (x, y, corr)"
    )


# --- A/B test power analysis (sample-size calculator) ----------------------

def _power_sql(src: str) -> str:
    """Shared text: exact integer moment sums per event type -> sample
    variance -> required n per arm for three relative effect sizes via
    the classic two-sample approximation n = 16 sigma^2 / delta^2
    (alpha=.05 two-sided, 80% power). One aggregate; every float step is
    a single identical IEEE evaluation over exact scalars."""
    return (
        "m AS (SELECT event_type, COUNT(*) AS n, "
        f"SUM({_X}) AS sx, SUM({_X} * {_X}) AS sxx FROM {src} "
        "GROUP BY event_type), "
        "v AS (SELECT event_type, n, "
        "CAST(sx AS DOUBLE) / (100.0e0 * n) AS mean_v, "
        "(CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n) "
        "/ ((n - 1) * 10000.0e0) AS var_v FROM m WHERE n > 1), "
        "e AS (SELECT * FROM (VALUES (1), (5), (10)) AS t(effect_pct)) "
        "SELECT event_type, CAST(n AS BIGINT) AS n_observed, "
        "effect_pct, "
        + rnd("mean_v", 4) + " AS mean_value, "
        + rnd("var_v", 4) + " AS var_value, "
        "CAST(CEIL(16.0e0 * var_v / "
        "(mean_v * effect_pct / 100.0e0) / "
        "(mean_v * effect_pct / 100.0e0)) AS BIGINT) AS required_n_per_arm "
        "FROM v CROSS JOIN e"
    )


@query(
    "events_power_analysis",
    oracle=(
        "WITH " + tables.EVENTS_ORACLE_CTE + ", "
        "src AS (SELECT event_type, value FROM events_t), "
        + _power_sql("src")
    ),
)
def events_power_analysis(spark, sf_dir):
    """A/B sample-size calculator from MEASURED variance: for each event
    type, the n per arm needed to detect a 1/5/10% lift in mean value at
    alpha=.05 / 80% power (n = 16 sigma^2/delta^2). The planning step
    BEFORE events_ab_conversion_ztest reads a result — experimentation
    platforms compute this from the live metric stream, which is exactly
    one exact-integer moment aggregate here; the three effect sizes are
    a 3-row literal cross join, not three scans."""
    tables.load(spark, sf_dir, "events").createOrReplaceTempView(
        "pw_events"
    )
    return spark.sql(
        "WITH src AS (SELECT event_type, value, ts FROM pw_events), "
        + _power_sql("src")
    )


# --- event-time lateness profile (watermark sizing) ------------------------

def _late_sql(src: str, epoch_us: str) -> str:
    """Shared text: lateness of each event vs the max event-time already
    seen in arrival order (event_id = ingestion order), then exact
    rank-pick percentiles per type. All integers; the only float is the
    final us -> seconds display division."""
    return (
        f"a AS (SELECT event_type, event_id, {epoch_us} AS t_us "
        f"FROM {src}), "
        "r AS (SELECT event_type, event_id, "
        "MAX(t_us) OVER (PARTITION BY event_type ORDER BY event_id "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - t_us "
        "AS late_us FROM a), "
        "k AS (SELECT event_type, late_us, ROW_NUMBER() OVER "
        "(PARTITION BY event_type ORDER BY late_us, event_id) AS rn, "
        "COUNT(*) OVER (PARTITION BY event_type) AS n FROM r), "
        "p AS (SELECT event_type, "
        "MAX(n) AS n, "
        "SUM(CASE WHEN late_us > 0 THEN 1 ELSE 0 END) AS n_late, "
        "MAX(CASE WHEN rn = CAST(CEIL(0.5e0 * n) AS BIGINT) "
        "THEN late_us END) AS p50_us, "
        "MAX(CASE WHEN rn = CAST(CEIL(0.95e0 * n) AS BIGINT) "
        "THEN late_us END) AS p95_us, "
        "MAX(CASE WHEN rn = CAST(CEIL(0.99e0 * n) AS BIGINT) "
        "THEN late_us END) AS p99_us, "
        "MAX(late_us) AS max_us FROM k GROUP BY event_type) "
        "SELECT event_type, CAST(n AS BIGINT) AS n_events, "
        "CAST(n_late AS BIGINT) AS n_late, "
        "CAST(p50_us AS DOUBLE) / 1.0e6 AS p50_lateness_s, "
        "CAST(p95_us AS DOUBLE) / 1.0e6 AS p95_lateness_s, "
        "CAST(p99_us AS DOUBLE) / 1.0e6 AS p99_lateness_s, "
        "CAST(max_us AS DOUBLE) / 1.0e6 AS max_lateness_s FROM p"
    )


@query(
    "events_lateness_profile",
    oracle=(
        "WITH " + tables.EVENTS_ORACLE_CTE + ", "
        + _late_sql("events_t", _EPOCH_US_DUCK)
    ),
)
def events_lateness_profile(spark, sf_dir):
    """Event-time lateness profile: for each event, how far behind the
    max event-time already ingested (event_id = arrival order) it
    arrived — the empirical distribution that SIZES a streaming
    watermark (SURVEY §2.7 T4: the reference configures none; p99 here
    is the `withWatermark` delay that would keep 99% of late data).
    Running max is one window in arrival order; percentiles are exact
    deterministic rank picks (ceil(q*n), total order with event_id
    tie-break) — no approx sketches, because this profile is computed
    once per topology change, not per micro-batch."""
    tables.load(spark, sf_dir, "events").createOrReplaceTempView(
        "pw_events"
    )
    return spark.sql(
        "WITH " + _late_sql("pw_events", EPOCH_US_SPARK)
    )


# --- sequential probability ratio test (SPRT) ------------------------------

#: design hypotheses (fixed literals, chosen before the data): is the
#: purchase share of events p0 = 10% (H0) or p1 = 12% (H1)?
#: Wald boundaries for alpha = beta = 0.05: ln(19) ~ 2.944439.
#: Because the per-observation log-LR increment takes only TWO values
#: (y=1: ln(p1/p0), y=0: ln((1-p1)/(1-p0))), the entire sequential
#: statistic is llr_t = n_pos_t * C1 + n_neg_t * C0 — prefix sums, no
#: fold; increments snap to integer micro-nats.
_SPRT_C1 = 182322  # round(1e6 * ln(0.12/0.10))
_SPRT_C0 = -22473  # round(1e6 * ln(0.88/0.90))
_SPRT_A = 2944439  # round(1e6 * ln((1-0.05)/0.05))


def _sprt_sql(src: str) -> str:
    return (
        "obs AS (SELECT event_id, ts, "
        "CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y "
        f"FROM {src}), "
        "cum AS (SELECT event_id, "
        "ROW_NUMBER() OVER (ORDER BY ts, event_id) AS t, "
        f"SUM(y * {_SPRT_C1} + (1 - y) * ({_SPRT_C0})) OVER "
        "(ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING "
        "AND CURRENT ROW) AS llr_u FROM obs), "
        "hit AS (SELECT t, llr_u, "
        "CASE WHEN llr_u >= " + str(_SPRT_A) + " THEN 'accept_h1' "
        "ELSE 'accept_h0' END AS decision, "
        "ROW_NUMBER() OVER (ORDER BY t) AS k FROM cum "
        f"WHERE llr_u >= {_SPRT_A} OR llr_u <= -{_SPRT_A}), "
        "tot AS (SELECT COUNT(*) AS n_total, "
        "MAX(CASE WHEN t = (SELECT MAX(t) FROM cum) THEN llr_u END) "
        "AS llr_final FROM cum) "
        "SELECT COALESCE((SELECT decision FROM hit WHERE k = 1), "
        "'continue') AS decision, "
        "(SELECT CAST(t AS BIGINT) FROM hit WHERE k = 1) "
        "AS n_at_decision, "
        + rnd("(SELECT CAST(llr_u AS DOUBLE) FROM hit WHERE k = 1) "
              "/ 1.0e6", 6)
        + " AS llr_at_decision, "
        "CAST(n_total AS BIGINT) AS n_total, "
        + rnd("CAST(llr_final AS DOUBLE) / 1.0e6", 6)
        + " AS llr_final FROM tot"
    )


@query(
    "events_ab_sprt",
    oracle=(
        "WITH " + tables.EVENTS_ORACLE_CTE + ", "
        + _sprt_sql("events_t")
    ),
)
def events_ab_sprt(spark, sf_dir):
    """Wald's sequential probability ratio test on the time-ordered
    purchase share (H0: 10% vs H1: 12%, alpha=beta=0.05): the
    FIRST observation where the running log-likelihood ratio crosses
    +/- ln(19), the decision it implies, and how many observations that
    cost vs the fixed-horizon test (events_ab_conversion_ztest /
    events_power_analysis plan one; SPRT typically decides in half the
    samples). The sequential fold degenerates to prefix sums because a
    Bernoulli log-LR increment takes only two constant values — so the
    whole test is one ordered window over exact micro-nat integers,
    deterministic down to the crossing row."""
    tables.load(spark, sf_dir, "events").createOrReplaceTempView(
        "pw_events"
    )
    return spark.sql("WITH " + _sprt_sql("pw_events"))


# --- empirical-Bayes shrinkage of per-user conversion rates -----------------

def _eb_sql(src: str) -> str:
    """Shared text: per-user purchase counts, method-of-moments
    beta-binomial prior from the exact count frame (one float solve on
    exact integers, nano-snapped alpha/beta), then each user's
    shrunken rate (k + a)/(n + a + b). Top-10 by shrunken rate — the
    ranking that no longer crowns 1-for-1 users."""
    return (
        f"u AS (SELECT user_id, COUNT(*) AS n, "
        "SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS k "
        f"FROM {src} GROUP BY user_id), "
        # MoM on the per-user raw rates: mu, v from exact sums of
        # nano-snapped per-user rates (one deterministic division each)
        "r AS (SELECT CAST(ROUND(1.0e9 * k / n) AS BIGINT) AS p_u FROM u), "
        "m AS (SELECT COUNT(*) AS c, SUM(p_u) AS sp, "
        "SUM(CAST(p_u * p_u AS DECIMAL(38,0))) AS spp FROM r), "
        # NULLIF guards (sparse fixture fuzz): a single user zeroes
        # (c-1); ZERO rate heterogeneity (e.g. a corpus with no
        # purchases at all: every p_u = 0, v = 0) leaves the
        # method-of-moments prior undefined — alpha/beta and every
        # shrunken rate surface as NULL instead of an ANSI throw
        "pr AS (SELECT CAST(sp AS DOUBLE) / (c * 1.0e9) AS mu, "
        "(CAST(spp AS DOUBLE) - CAST(sp AS DOUBLE) * sp / c) "
        "/ NULLIF((c - 1) * 1.0e18, 0.0e0) AS v FROM m), "
        "ab AS (SELECT CAST(ROUND(1.0e9 * (mu * (mu * (1.0e0 - mu) "
        "/ NULLIF(v, 0.0e0) - 1.0e0))) AS BIGINT) AS a_u, "
        "CAST(ROUND(1.0e9 * ((1.0e0 - mu) * (mu * (1.0e0 - mu) "
        "/ NULLIF(v, 0.0e0) - 1.0e0))) AS BIGINT) AS b_u FROM pr) "
        "SELECT user_id, CAST(n AS BIGINT) AS n_events, "
        "CAST(k AS BIGINT) AS n_purchases, "
        + rnd("CAST(k AS DOUBLE) / n", 6) + " AS raw_rate, "
        + rnd(
            "(CAST(k AS DOUBLE) + CAST((SELECT a_u FROM ab) AS DOUBLE)"
            " / 1.0e9) / (CAST(n AS DOUBLE) "
            "+ CAST((SELECT a_u FROM ab) AS DOUBLE) / 1.0e9 "
            "+ CAST((SELECT b_u FROM ab) AS DOUBLE) / 1.0e9)",
            6,
        )
        + " AS shrunken_rate FROM u "
        "ORDER BY shrunken_rate DESC, user_id LIMIT 10"
    )


@query(
    "events_rate_shrinkage_eb",
    oracle=(
        "WITH " + tables.EVENTS_ORACLE_CTE + ", " + _eb_sql("events_t")
    ),
)
def events_rate_shrinkage_eb(spark, sf_dir):
    """Empirical-Bayes shrinkage of per-user purchase rates: a
    beta-binomial prior fitted by method-of-moments from the corpus's
    own rate distribution (nano-snapped alpha/beta), each user's rate
    pulled toward it in proportion to their evidence — the estimator
    that stops 1-for-1 users from topping conversion leaderboards,
    and the additive-smoothing discipline every small-sample ranking
    needs. One user-cardinality aggregate, a 3-scalar prior fit, a
    broadcast-scalar rescore, a top-10 heap."""
    tables.load(spark, sf_dir, "events").createOrReplaceTempView(
        "pw_events"
    )
    return spark.sql("WITH " + _eb_sql("pw_events"))


# --- univariate feature screening by mutual information --------------------

_MI_FEATURES = [
    ("hour_of_day", "CAST(hour(ts) AS BIGINT)"),
    ("day_of_week", "{dow}"),
    ("value_band", "CAST(FLOOR(value / 100.0e0) AS BIGINT)"),
]


def _mi_sql(src: str, dow: str) -> str:
    """Shared text modulo the dow spelling: for each candidate feature,
    the (feature value x purchase flag) contingency table, per-cell MI
    terms p(x,y) ln(p(x,y)/(p(x)p(y))) snapped to nano-nats, exact
    per-feature sums, ranked. Every table is category x 2; the fact
    scan is shared by the three arms through the UNION's common
    source."""
    arms = []
    for name, expr in _MI_FEATURES:
        e = expr.format(dow=dow)
        arms.append(
            f"(WITH c AS (SELECT {e} AS x, "
            "CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y, "
            f"COUNT(*) AS n FROM {src} GROUP BY 1, 2), "
            "t AS (SELECT SUM(n) AS tot FROM c), "
            "rx AS (SELECT x, SUM(n) AS nx FROM c GROUP BY x), "
            "ry AS (SELECT y, SUM(n) AS ny FROM c GROUP BY y), "
            "u AS (SELECT CAST(ROUND(CAST(c.n AS DOUBLE) / tot * "
            "LN(CAST(c.n AS DOUBLE) * tot / "
            "(CAST(rx.nx AS DOUBLE) * ry.ny)) * 1.0e9) AS BIGINT) "
            "AS mi_u FROM c JOIN rx ON rx.x = c.x "
            "JOIN ry ON ry.y = c.y CROSS JOIN t) "
            f"SELECT '{name}' AS feature, "
            "(SELECT COUNT(*) FROM rx) AS n_categories, "
            "CAST(SUM(mi_u) AS DOUBLE) / 1.0e9 AS mutual_information "
            "FROM u)"
        )
    return " UNION ALL ".join(arms)


@query(
    "events_feature_mi_screen",
    oracle=(
        "WITH " + tables.EVENTS_ORACLE_CTE + " "
        + _mi_sql("events_t", "(isodow(ts) - 1)")
    ),
)
def events_feature_mi_screen(spark, sf_dir):
    """Univariate feature screening by mutual information: how much
    does each candidate feature (hour of day, day of week, value band)
    tell you about purchase, in nats — the model-free ranking that
    decides which features earn a slot before any model is fitted,
    catching non-monotone dependence that correlation misses. Each
    feature is one category x 2 contingency aggregate; MI terms snap
    to nano-nats so per-feature totals are exact sums. The Spark plan
    builds ALL THREE contingency tables from ONE fact scan (in-row
    stack of the feature exprs -> one map-combined (feature, x, y)
    aggregate, materialized ~tens of rows) and derives the marginals /
    MI terms from that tiny frame — the oracle's per-arm CTE form,
    inlined by Spark, re-scanned events once per CTE reference (the
    round-7 scan audit measured 9 scans for 3 features)."""
    from ..operators.textops import materialize as _mat

    tables.load(spark, sf_dir, "events").createOrReplaceTempView(
        "pw_events"
    )
    feats = ", ".join(
        f"'{name}', CAST({expr.format(dow='weekday(ts)')} AS BIGINT)"
        for name, expr in _MI_FEATURES
    )
    c = _mat(
        spark.sql(
            "SELECT feature, x, y, COUNT(*) AS n FROM ("
            f"SELECT stack({len(_MI_FEATURES)}, {feats}) AS (feature, x), "
            "CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y "
            "FROM pw_events) GROUP BY feature, x, y"
        )
    )
    c.createOrReplaceTempView("mi_contingency")
    return spark.sql(
        "WITH c AS (SELECT * FROM mi_contingency), "
        "t AS (SELECT feature, SUM(n) AS tot FROM c GROUP BY feature), "
        "rx AS (SELECT feature, x, SUM(n) AS nx FROM c "
        "GROUP BY feature, x), "
        "ry AS (SELECT feature, y, SUM(n) AS ny FROM c "
        "GROUP BY feature, y), "
        "nc AS (SELECT feature, COUNT(*) AS n_categories FROM rx "
        "GROUP BY feature), "
        "u AS (SELECT c.feature, "
        "CAST(ROUND(CAST(c.n AS DOUBLE) / tot * "
        "LN(CAST(c.n AS DOUBLE) * tot / "
        "(CAST(rx.nx AS DOUBLE) * ry.ny)) * 1.0e9) AS BIGINT) "
        "AS mi_u FROM c JOIN rx ON rx.feature = c.feature "
        "AND rx.x = c.x JOIN ry ON ry.feature = c.feature "
        "AND ry.y = c.y JOIN t ON t.feature = c.feature) "
        "SELECT u.feature, MAX(nc.n_categories) AS n_categories, "
        "CAST(SUM(mi_u) AS DOUBLE) / 1.0e9 AS mutual_information "
        "FROM u JOIN nc ON nc.feature = u.feature GROUP BY u.feature"
    )


# --- winsorized statistics (JVM-exact robust mean) -------------------------

def _wins_sql(src: str) -> str:
    """Shared text: per-type p05/p95 caps as deterministic rank picks,
    values clamped to the caps, exact-cents mean of the clamped
    distribution — the robust mean that keeps sample size (unlike the
    trim) while bounding tail influence."""
    return (
        "v AS (SELECT event_type, event_id, "
        f"CAST(ROUND(value * 100.0e0) AS BIGINT) AS c FROM {src}), "
        "k AS (SELECT event_type, c, ROW_NUMBER() OVER "
        "(PARTITION BY event_type ORDER BY c, event_id) AS rn, "
        "COUNT(*) OVER (PARTITION BY event_type) AS n FROM v), "
        "caps AS (SELECT event_type, "
        "MAX(CASE WHEN rn = CAST(CEIL(0.05e0 * n) AS BIGINT) "
        "THEN c END) AS lo, "
        "MAX(CASE WHEN rn = CAST(CEIL(0.95e0 * n) AS BIGINT) "
        "THEN c END) AS hi FROM k GROUP BY event_type), "
        "w AS (SELECT v.event_type, "
        "LEAST(GREATEST(v.c, caps.lo), caps.hi) AS wc, caps.lo, caps.hi "
        "FROM v JOIN caps ON caps.event_type = v.event_type) "
        "SELECT event_type, COUNT(*) AS n, "
        "CAST(MAX(lo) AS DOUBLE) / 100.0e0 AS cap_low, "
        "CAST(MAX(hi) AS DOUBLE) / 100.0e0 AS cap_high, "
        + rnd("CAST(SUM(wc) AS DOUBLE) / (100.0e0 * COUNT(*))", 4)
        + " AS winsorized_mean FROM w GROUP BY event_type"
    )


@query(
    "events_winsorized_mean",
    oracle=(
        "WITH " + tables.EVENTS_ORACLE_CTE + ", "
        + _wins_sql("events_t")
    ),
)
def events_winsorized_mean(spark, sf_dir):
    """Winsorized mean per event type: p05/p95 caps picked by
    deterministic ranks, values CLAMPED to the caps (not dropped), then
    an exact-cents mean — the robust center that keeps every
    observation's vote while bounding tail leverage, entirely JVM-side.
    The pure-SQL sibling of events_trimmed_mean_pandas: same robust-
    statistics goal, and the pair documents exactly what the Python
    boundary costs when the JVM form exists."""
    tables.load(spark, sf_dir, "events").createOrReplaceTempView(
        "pw_events"
    )
    return spark.sql("WITH " + _wins_sql("pw_events"))


# --- HBOS: histogram-based outlier score -----------------------------------
_HBOS_B = 16  # equal-width bins per feature


def _hbos_bin(x: str, mn: str, mx: str) -> str:
    """Engine-shared equal-width bin index: FLOOR over the min-max
    range, clamped so x == max lands in the last bin. All inputs are
    exact parquet doubles and MIN/MAX are order-insensitive, so the
    double arithmetic is bit-identical in both engines. The explicit
    CASE on mx > mn puts a CONSTANT feature entirely in bin 0 (one
    degenerate histogram bar) instead of dividing by zero — ANSI Spark
    throws on the bare division; caught by the skewed fixture fuzz."""
    b = _HBOS_B
    return (
        f"CASE WHEN {mx} > {mn} THEN "
        f"LEAST({b - 1}, GREATEST(0, CAST(FLOOR(({x} - {mn}) * {b}.0e0 "
        f"/ ({mx} - {mn})) AS INT))) ELSE 0 END"
    )


@query(
    "lineitem_hbos_outliers",
    oracle=(
        "WITH st AS (SELECT "
        "MIN(l_quantity) AS qmn, MAX(l_quantity) AS qmx, "
        "MIN(l_extendedprice) AS pmn, MAX(l_extendedprice) AS pmx, "
        "MIN(l_discount) AS dmn, MAX(l_discount) AS dmx FROM lineitem), "
        "b AS (SELECT l_orderkey, l_linenumber, l_quantity, "
        "l_extendedprice, l_discount, "
        + _hbos_bin("l_quantity", "qmn", "qmx")
        + " AS bq, "
        + _hbos_bin("l_extendedprice", "pmn", "pmx")
        + " AS bp, "
        + _hbos_bin("l_discount", "dmn", "dmx")
        + " AS bd FROM lineitem CROSS JOIN st), "
        "h AS (SELECT 'q' AS f, bq AS bin, COUNT(*) AS c FROM b GROUP BY bq "
        "UNION ALL SELECT 'p' AS f, bp AS bin, COUNT(*) AS c FROM b GROUP BY bp "
        "UNION ALL SELECT 'd' AS f, bd AS bin, COUNT(*) AS c FROM b GROUP BY bd), "
        "hm AS (SELECT f, MAX(c) AS mc FROM h GROUP BY f), "
        "w AS (SELECT h.f, h.bin, hm.mc * 1.0e0 / h.c AS ratio "
        "FROM h JOIN hm ON hm.f = h.f), "
        "sc AS (SELECT b.l_orderkey, b.l_linenumber, b.l_quantity, "
        "b.l_extendedprice, b.l_discount, bq, bp, bd, "
        "LN(wq.ratio * wp.ratio * wd.ratio) AS raw FROM b "
        "JOIN w wq ON wq.f = 'q' AND wq.bin = b.bq "
        "JOIN w wp ON wp.f = 'p' AND wp.bin = b.bp "
        "JOIN w wd ON wd.f = 'd' AND wd.bin = b.bd) "
        "SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, "
        "l_discount, bq, bp, bd, "
        + rnd("raw", 6)
        + " AS hbos_score FROM sc "
        "ORDER BY hbos_score DESC, l_orderkey, l_linenumber LIMIT 20"
    ),
)
def lineitem_hbos_outliers(spark, sf_dir):
    """HBOS (Goldstein & Dengel 2012) — histogram-based outlier score,
    the linear-time unsupervised anomaly detector: per feature, an
    equal-width histogram; a row's score is sum_f log(max_height_f /
    height_f(row)), i.e. rows sitting in jointly thin bins score high.
    Features: quantity, extended price, discount. Top-20 outliers,
    hash-gated (score snapped to 6 decimals; the log runs once on a
    product of exact-integer count ratios, so both engines see the
    identical double).

    Scale shape (why HBOS and not kNN/LOF at 100 TB): the model state
    is 3 x 16 integer counters built by ONE map-side-combined aggregate
    over a stacked (feature, bin) projection; scoring is a second scan
    with the counters attached as a single broadcast one-row frame of
    maps — in-row lookups, ZERO joins and zero shuffles of the fact
    table (the oracle spells the same semantics with joins). Distance-
    based detectors need a neighbor search per row; HBOS needs two
    narrow scans, which is why it is the standard first-pass screen on
    corpus-scale feature tables. Assumes feature independence — scores
    are a ranking heuristic, not calibrated probabilities (pair it with
    events_anomaly_mad for the robust univariate view)."""
    li = tables.load(spark, sf_dir, "lineitem")
    st = li.agg(
        F.min("l_quantity").alias("qmn"),
        F.max("l_quantity").alias("qmx"),
        F.min("l_extendedprice").alias("pmn"),
        F.max("l_extendedprice").alias("pmx"),
        F.min("l_discount").alias("dmn"),
        F.max("l_discount").alias("dmx"),
    )
    binned = li.crossJoin(F.broadcast(st)).selectExpr(
        "l_orderkey",
        "l_linenumber",
        "l_quantity",
        "l_extendedprice",
        "l_discount",
        _hbos_bin("l_quantity", "qmn", "qmx") + " AS bq",
        _hbos_bin("l_extendedprice", "pmn", "pmx") + " AS bp",
        _hbos_bin("l_discount", "dmn", "dmx") + " AS bd",
    )
    hist = (
        binned.selectExpr(
            "stack(3, 'q', bq, 'p', bp, 'd', bd) AS (f, bin)"
        )
        .groupBy("f", "bin")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    hmax = hist.groupBy("f").agg(F.max("c").alias("mc"))
    w = hist.join(F.broadcast(hmax), "f").select(
        "f", "bin", (F.col("mc") * F.lit(1.0) / F.col("c")).alias("ratio")
    )
    # one-row frame: map<feature, map<bin, ratio>> — the whole model
    maps = (
        w.groupBy("f")
        .agg(
            F.map_from_entries(
                F.sort_array(F.collect_list(F.struct("bin", "ratio")))
            ).alias("m")
        )
        .agg(
            # no sort needed: keys are unique, map lookup is by key
            F.map_from_entries(F.collect_list(F.struct("f", "m"))).alias(
                "fm"
            )
        )
    )
    return (
        binned.crossJoin(F.broadcast(maps))
        .selectExpr(
            "l_orderkey",
            "l_linenumber",
            "l_quantity",
            "l_extendedprice",
            "l_discount",
            "bq",
            "bp",
            "bd",
            rnd(
                "LN(fm['q'][bq] * fm['p'][bp] * fm['d'][bd])", 6
            )
            + " AS hbos_score",
        )
        .orderBy(
            F.desc("hbos_score"), "l_orderkey", "l_linenumber"
        )
        .limit(20)
    )
