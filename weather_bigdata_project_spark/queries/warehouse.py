"""Warehouse-maintenance operators: SCD2 history derivation and
single-pass column profiling.

The reference has no notion of dimension history or data profiling —
its dashboard re-reads the whole lake and trusts the columns it finds
(ref:streamlit/app.py:243-245 guards column EXISTENCE, nothing else).
These add the two shapes every lake team builds next: a slowly-changing
history (validity intervals derived from an event stream) and a
one-pass data-quality profile.

Scale notes:
- SCD2 is one reduced aggregate + one window: validity intervals come
  from lead() over the per-key change dates — never a self-join of the
  history against itself;
- the profile is ONE aggregate row over ONE scan: every statistic
  (counts, null counts, distincts, bounds) folds map-side; the exact
  count-distincts add Expand rows proportional to the distinct counts,
  not the fact rows. At 100 TB swap exact distinct for
  approx_count_distinct per column — same single-pass plan.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from .. import tables
from ..functions.exprs import cents, id_mix, money, rnd
from ..operators import textops as T
from ..registry import query


@query(
    "scd2_customer_value_history",
    oracle=(
        "WITH d AS (SELECT o_custkey, o_orderdate, "
        f"SUM({cents('o_totalprice')}) AS day_c, COUNT(*) AS day_orders "
        "FROM orders GROUP BY o_custkey, o_orderdate) "
        "SELECT o_custkey, o_orderdate AS valid_from, "
        "LEAD(o_orderdate) OVER w AS valid_to, "
        f"{money('SUM(day_c) OVER w')} AS cum_value, "
        "CAST(SUM(day_orders) OVER w AS BIGINT) AS cum_orders "
        "FROM d WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
    ),
)
def scd2_customer_value_history(spark, sf_dir):
    """SCD2 (type-2 slowly-changing) history of each customer's
    cumulative order value: one row per change day with
    [valid_from, valid_to) interval, open-ended (null valid_to) for the
    current state. Built as ONE per-(key, day) aggregate + ONE window
    (lead for the interval end, running sums for the state) — the
    classic self-join formulation of SCD2 never appears, and the window
    runs over change-cardinality rows, not order-cardinality. Sums ride
    exact cents through the running frame."""
    o = tables.load(spark, sf_dir, "orders")
    d = o.groupBy("o_custkey", "o_orderdate").agg(
        F.sum(F.expr(cents("o_totalprice"))).alias("day_c"),
        F.count(F.lit(1)).alias("day_orders"),
    )
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate")
    wrun = w.rowsBetween(Window.unboundedPreceding, 0)
    return d.select(
        "o_custkey",
        F.col("o_orderdate").alias("valid_from"),
        F.lead("o_orderdate").over(w).alias("valid_to"),
        F.expr(money("SUM(day_c) OVER (PARTITION BY o_custkey ORDER BY o_orderdate ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)")).alias("cum_value"),
        F.sum("day_orders").over(wrun).cast("bigint").alias("cum_orders"),
    )


_SCD2_ORACLE_CTE = (
    "d AS (SELECT o_custkey, o_orderdate, "
    f"SUM({cents('o_totalprice')}) AS day_c, COUNT(*) AS day_orders "
    "FROM orders GROUP BY o_custkey, o_orderdate), "
    "h AS (SELECT o_custkey, o_orderdate AS valid_from, "
    "LEAD(o_orderdate) OVER w AS valid_to, "
    f"{money('SUM(day_c) OVER w')} AS cum_value, "
    "CAST(SUM(day_orders) OVER w AS BIGINT) AS cum_orders "
    "FROM d WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate "
    "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))"
)


@query(
    "join_point_in_time_customer_value",
    oracle=(
        "WITH " + tables.EVENTS_ORACLE_CTE + ", " + _SCD2_ORACLE_CTE + ", "
        "e AS (SELECT event_id, user_id, CAST(ts AS DATE) AS day "
        "FROM events_t WHERE event_type = 'purchase') "
        "SELECT e.event_id, e.user_id, e.day, h.cum_value, h.cum_orders "
        "FROM e LEFT JOIN h ON h.o_custkey = e.user_id "
        "AND e.day >= CAST(h.valid_from AS DATE) "
        "AND (h.valid_to IS NULL OR e.day < CAST(h.valid_to AS DATE))"
    ),
)
def join_point_in_time_customer_value(spark, sf_dir):
    """Point-in-time (temporal) join: each purchase event reads the
    customer's order-value state AS OF its event day from the SCD2
    history — the feature-store lookup that prevents training-data
    leakage (never read a future state). The oracle joins by interval
    containment; the Spark plan is the as-of union+window shape: ONE
    exchange on the key, one partition-local sort on (date, side) with
    history rows before events at ties (a change on the event's own day
    is visible), then last(ignorenulls) carries the state forward.
    Because SCD2 intervals tile contiguously per key, carry-forward ≡
    interval containment — and no pair blowup exists at any scale."""
    hist = scd2_customer_value_history(spark, sf_dir)
    ev = tables.load(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    h = hist.select(
        F.col("o_custkey").alias("key"),
        F.to_date("valid_from").alias("d"),
        F.lit(0).alias("side"),
        F.lit(None).cast("bigint").alias("event_id"),
        "cum_value",
        "cum_orders",
    )
    e = ev.select(
        F.col("user_id").alias("key"),
        F.to_date("ts").alias("d"),
        F.lit(1).alias("side"),
        "event_id",
        F.lit(None).cast("double").alias("cum_value"),
        F.lit(None).cast("bigint").alias("cum_orders"),
    )
    w = (
        Window.partitionBy("key")
        .orderBy("d", "side")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        h.unionByName(e)
        .select(
            "event_id",
            F.col("key").alias("user_id"),
            F.col("d").alias("day"),
            "side",
            F.last("cum_value", ignorenulls=True).over(w).alias("cum_value"),
            F.last("cum_orders", ignorenulls=True).over(w).alias("cum_orders"),
        )
        .filter(F.col("side") == 1)
        .drop("side")
    )


@query(
    "dq_lineitem_violations",
    oracle=(
        "SELECT 'fk_orphan_order' AS violation, COUNT(*) AS n FROM lineitem "
        "WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders) "
        "UNION ALL "
        "SELECT 'dup_line_key', COUNT(*) FROM ("
        "SELECT l_orderkey, l_linenumber FROM lineitem "
        "GROUP BY l_orderkey, l_linenumber HAVING COUNT(*) > 1) "
        "UNION ALL "
        "SELECT 'nonpositive_quantity', COUNT(*) FROM lineitem "
        "WHERE l_quantity <= 0.0e0 "
        "UNION ALL "
        "SELECT 'discount_out_of_range', COUNT(*) FROM lineitem "
        "WHERE l_discount < 0.0e0 OR l_discount > 1.0e0"
    ),
)
def dq_lineitem_violations(spark, sf_dir):
    """Data-quality gate as a query: referential integrity (orphaned
    lineitems), primary-key uniqueness, and range constraints, each
    reported as a violation count (all 0 on the driver fixtures — the
    gate proves absence). FK check is a left_anti against the pruned
    orders key column; PK check is one grouped count; range checks are
    pushed-down scans. Each arm reads only the columns it tests, and a
    0-count arm costs one pruned scan — at 100 TB you run this after
    every load, so the arms matter."""
    li = tables.load(spark, sf_dir, "lineitem")
    o = tables.load(spark, sf_dir, "orders").select("o_orderkey")
    fk = (
        li.select("l_orderkey")
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"), "left_anti")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.lit("fk_orphan_order").alias("violation"), "n")
    )
    pk = (
        li.groupBy("l_orderkey", "l_linenumber")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") > 1)
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.lit("dup_line_key").alias("violation"), "n")
    )
    qty = (
        li.filter(F.col("l_quantity") <= 0.0)
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.lit("nonpositive_quantity").alias("violation"), "n")
    )
    disc = (
        li.filter((F.col("l_discount") < 0.0) | (F.col("l_discount") > 1.0))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.lit("discount_out_of_range").alias("violation"), "n")
    )
    return fk.unionByName(pk).unionByName(qty).unionByName(disc)


@query(
    "profile_lineitem_columns",
    oracle=(
        "SELECT COUNT(*) AS n_rows, "
        "SUM(CASE WHEN l_returnflag IS NULL THEN 1 ELSE 0 END) AS null_returnflag, "
        "SUM(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) AS null_quantity, "
        "COUNT(DISTINCT l_returnflag) AS distinct_returnflag, "
        "COUNT(DISTINCT l_linestatus) AS distinct_linestatus, "
        "MIN(l_quantity) AS min_quantity, MAX(l_quantity) AS max_quantity, "
        "MIN(l_extendedprice) AS min_price, MAX(l_extendedprice) AS max_price, "
        "MIN(l_shipdate) AS min_shipdate, MAX(l_shipdate) AS max_shipdate "
        "FROM lineitem"
    ),
)
def profile_lineitem_columns(spark, sf_dir):
    """One-pass data-quality profile of the fact table: row count, null
    counts, exact distinct cardinalities, and value bounds — ONE
    aggregate over ONE scan (min/max/null-count fold map-side; the two
    count-distincts expand by their distinct cardinality, not fact
    rows). Bounds are raw values (no cross-row float sums, so no parity
    hazard). At 100 TB swap exact distincts for approx_count_distinct —
    the plan shape is unchanged and the sketch merges map-side."""
    li = tables.load(spark, sf_dir, "lineitem")
    return li.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(
            F.when(F.col("l_returnflag").isNull(), 1).otherwise(0)
        ).alias("null_returnflag"),
        F.sum(F.when(F.col("l_quantity").isNull(), 1).otherwise(0)).alias(
            "null_quantity"
        ),
        F.countDistinct("l_returnflag").alias("distinct_returnflag"),
        F.countDistinct("l_linestatus").alias("distinct_linestatus"),
        F.min("l_quantity").alias("min_quantity"),
        F.max("l_quantity").alias("max_quantity"),
        F.min("l_extendedprice").alias("min_price"),
        F.max("l_extendedprice").alias("max_price"),
        F.min("l_shipdate").alias("min_shipdate"),
        F.max("l_shipdate").alias("max_shipdate"),
    )


# --- join-key skew diagnostic --------------------------------------------

_SKEW_TOP = 20

_SKEW_ORACLE = f"""
WITH kc AS (
  SELECT o_custkey AS key, COUNT(*) AS cnt FROM orders GROUP BY o_custkey
),
t AS (SELECT SUM(cnt) AS total, COUNT(*) AS n_keys FROM kc)
SELECT key, cnt, n_keys,
       {rnd('CAST(cnt AS DOUBLE) / CAST(total AS DOUBLE)', 8)} AS share
FROM kc CROSS JOIN t
ORDER BY cnt DESC, key LIMIT {_SKEW_TOP}
"""


@query("dq_key_skew", oracle=_SKEW_ORACLE)
def dq_key_skew(spark, sf_dir):
    """Heavy-hitter diagnostic for a join key: top-20 o_custkey values
    by frequency with their share of all orders and the distinct-key
    count. This is the query you run BEFORE choosing a join strategy at
    100 TB — a key whose share is large enough to overflow one task is
    the signal to salt (join_salted_events_customer) or lean on AQE
    skew splitting. One hash-agg on the key (map-side partials), a
    1-row totals broadcast, and a top-k heap; key cardinality never
    touches the driver."""
    kc = T.materialize(
        tables.load(spark, sf_dir, "orders")
        .groupBy(F.col("o_custkey").alias("key"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    t = kc.agg(
        F.sum("cnt").alias("total"), F.count(F.lit(1)).alias("n_keys")
    )
    return (
        kc.join(F.broadcast(t))
        .select(
            "key", "cnt", "n_keys",
            F.expr(
                rnd("CAST(cnt AS DOUBLE) / CAST(total AS DOUBLE)", 8)
            ).alias("share"),
        )
        .orderBy(F.desc("cnt"), "key")
        .limit(_SKEW_TOP)
    )


# --- year-over-year growth (lag ratio over exact sums) --------------------


@query(
    "orders_yoy_priority_growth",
    oracle=(
        "WITH y AS (SELECT o_orderpriority, YEAR(o_orderdate) AS yr, "
        f"SUM({cents('o_totalprice')}) AS rev_c "
        "FROM orders GROUP BY o_orderpriority, YEAR(o_orderdate)), "
        "g AS (SELECT o_orderpriority, yr, rev_c, "
        "LAG(rev_c) OVER (PARTITION BY o_orderpriority ORDER BY yr) "
        "AS prev_c FROM y) "
        f"SELECT o_orderpriority, yr, {money('rev_c')} AS revenue, "
        + rnd(
            "(CAST(rev_c AS DOUBLE) - CAST(prev_c AS DOUBLE)) "
            "/ CAST(prev_c AS DOUBLE)",
            6,
        )
        + " AS yoy_growth FROM g"
    ),
)
def orders_yoy_priority_growth(spark, sf_dir):
    """Year-over-year revenue growth per order priority — the
    period-over-period comparison every finance dashboard runs (TPC-DS
    territory; the reference's dashboard had no period comparisons at
    all). One hash-agg to (priority x year) — after which everything is
    dimension-sized — then a lag window per priority; revenue rides
    exact cents so the growth ratio is one deterministic division,
    snapped at 1e-6. First year per priority is NULL growth."""
    od = tables.load(spark, sf_dir, "orders")
    y = od.groupBy(
        "o_orderpriority", F.year("o_orderdate").alias("yr")
    ).agg(F.sum(F.expr(cents("o_totalprice"))).alias("rev_c"))
    w = Window.partitionBy("o_orderpriority").orderBy("yr")
    g = y.select(
        "o_orderpriority", "yr", "rev_c",
        F.lag("rev_c").over(w).alias("prev_c"),
    )
    return g.select(
        "o_orderpriority",
        "yr",
        F.expr(money("rev_c")).alias("revenue"),
        F.expr(
            rnd(
                "(CAST(rev_c AS DOUBLE) - CAST(prev_c AS DOUBLE)) "
                "/ CAST(prev_c AS DOUBLE)",
                6,
            )
        ).alias("yoy_growth"),
    )


# --- RFM customer segmentation --------------------------------------------


@query(
    "orders_rfm_segments",
    oracle=(
        "WITH base AS (SELECT o_custkey, "
        "MAX(CAST(o_orderdate AS DATE)) AS last_day, "
        "COUNT(*) AS n_orders, "
        f"SUM({cents('o_totalprice')}) AS spend_c "
        "FROM orders GROUP BY o_custkey), "
        "scored AS (SELECT "
        "NTILE(4) OVER (ORDER BY last_day DESC, o_custkey) AS r, "
        "NTILE(4) OVER (ORDER BY n_orders DESC, o_custkey) AS f, "
        "NTILE(4) OVER (ORDER BY spend_c DESC, o_custkey) AS m, "
        "spend_c FROM base) "
        "SELECT r, f, m, COUNT(*) AS n_customers, "
        f"{money('SUM(spend_c)')} AS segment_spend "
        "FROM scored GROUP BY r, f, m"
    ),
)
def orders_rfm_segments(spark, sf_dir):
    """RFM segmentation — the classic CRM cut: each customer scored
    into recency/frequency/monetary quartiles (1 = best), reported as
    the 4x4x4 segment matrix with exact spend. NTILE ties are
    impossible: every ordering ends on the unique o_custkey, so both
    engines assign identical quartiles.

    Scale shape: one hash-agg to customer grain (the only fact-sized
    exchange), then three global NTILE windows. A global NTILE is a
    single-partition sort — fine at customer cardinality here; at
    true 100 TB customer counts swap quartiles for percentile_approx
    thresholds + a broadcast bucketize (same outputs, no global sort)
    — the swap is one expression, the segment matrix is unchanged."""
    od = tables.load(spark, sf_dir, "orders")
    base = od.groupBy("o_custkey").agg(
        F.max(F.to_date("o_orderdate")).alias("last_day"),
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.expr(cents("o_totalprice"))).alias("spend_c"),
    )
    scored = base.select(
        F.expr(
            "NTILE(4) OVER (ORDER BY last_day DESC, o_custkey)"
        ).alias("r"),
        F.expr(
            "NTILE(4) OVER (ORDER BY n_orders DESC, o_custkey)"
        ).alias("f"),
        F.expr(
            "NTILE(4) OVER (ORDER BY spend_c DESC, o_custkey)"
        ).alias("m"),
        "spend_c",
    )
    return scored.groupBy("r", "f", "m").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.expr(money("SUM(spend_c)")).alias("segment_spend"),
    )


# --- ABC / Pareto classification ------------------------------------------


@query(
    "lineitem_abc_pareto",
    oracle=(
        "WITH pr AS (SELECT l_partkey, "
        f"SUM({cents('l_extendedprice')}) AS rev_c "
        "FROM lineitem GROUP BY l_partkey), "
        "t AS (SELECT SUM(rev_c) AS tot_c FROM pr), "
        "r AS (SELECT l_partkey, rev_c, "
        "SUM(rev_c) OVER (ORDER BY rev_c DESC, l_partkey "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_c "
        "FROM pr), "
        "cls AS (SELECT CASE "
        "WHEN 100 * cum_c <= 80 * t.tot_c THEN 'A' "
        "WHEN 100 * cum_c <= 95 * t.tot_c THEN 'B' "
        "ELSE 'C' END AS abc_class, rev_c, t.tot_c FROM r CROSS JOIN t) "
        "SELECT abc_class, COUNT(*) AS n_parts, "
        f"{money('SUM(rev_c)')} AS class_revenue, "
        + rnd("CAST(SUM(rev_c) AS DOUBLE) / CAST(MAX(tot_c) AS DOUBLE)", 6)
        + " AS revenue_share FROM cls GROUP BY abc_class"
    ),
)
def lineitem_abc_pareto(spark, sf_dir):
    """ABC (Pareto) classification of parts by revenue: parts covering
    the first 80% of cumulative revenue are class A, to 95% B, the tail
    C — the inventory-prioritization cut every supply-chain dashboard
    opens with. The class boundary test is 100*cum <= K*total on exact
    integer cents — no float appears in any decision, so the partition
    is bit-stable in both engines (ties broken by partkey in the
    running-sum order).

    The global ordered prefix sum is a single-partition window at PART
    cardinality (fine here; at true catalog scale swap to the
    two-phase distributed prefix sum: range-partition by the sort key,
    per-partition sums, broadcast the partition offsets — same outputs,
    no single-partition stage)."""
    li = tables.load(spark, sf_dir, "lineitem")
    pr = li.groupBy("l_partkey").agg(
        F.sum(F.expr(cents("l_extendedprice"))).alias("rev_c")
    )
    t = pr.agg(F.sum("rev_c").alias("tot_c"))
    w = (
        Window.orderBy(F.desc("rev_c"), "l_partkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    r = pr.select(
        "l_partkey", "rev_c", F.sum("rev_c").over(w).alias("cum_c")
    ).join(F.broadcast(t))
    cls = r.select(
        F.expr(
            "CASE WHEN 100 * cum_c <= 80 * tot_c THEN 'A' "
            "WHEN 100 * cum_c <= 95 * tot_c THEN 'B' ELSE 'C' END"
        ).alias("abc_class"),
        "rev_c",
        "tot_c",
    )
    return cls.groupBy("abc_class").agg(
        F.count(F.lit(1)).alias("n_parts"),
        F.expr(money("SUM(rev_c)")).alias("class_revenue"),
        F.expr(
            rnd("CAST(SUM(rev_c) AS DOUBLE) / CAST(MAX(tot_c) AS DOUBLE)", 6)
        ).alias("revenue_share"),
    )


# --- cohort LTV curve -----------------------------------------------------

_LTV_ORACLE = (
    "WITH o AS (SELECT o_custkey, o_orderdate, "
    + cents("o_totalprice")
    + " AS c FROM orders), "
    "f AS (SELECT o_custkey, MIN(o_orderdate) AS d0 FROM o GROUP BY 1), "
    "j AS (SELECT o.o_custkey, o.c, date_trunc('month', d0) AS cohort_month, "
    "(year(o_orderdate) * 12 + month(o_orderdate)) "
    "- (year(d0) * 12 + month(d0)) AS month_offset "
    "FROM o JOIN f USING (o_custkey)), "
    "g AS (SELECT cohort_month, CAST(month_offset AS BIGINT) AS month_offset, "
    "COUNT(DISTINCT o_custkey) AS n_active, SUM(c) AS rev_c "
    "FROM j GROUP BY 1, 2) "
    "SELECT cohort_month, month_offset, n_active, "
    + money("rev_c")
    + " AS revenue, "
    + money(
        "SUM(rev_c) OVER (PARTITION BY cohort_month ORDER BY month_offset "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
    )
    + " AS cum_revenue FROM g"
)


@query("orders_cohort_ltv", oracle=_LTV_ORACLE)
def orders_cohort_ltv(spark, sf_dir):
    """Cohort lifetime-value curve: customers grouped by first-order
    month, revenue accumulated by month offset since acquisition — the
    finance twin of events_cohort_retention (which counts activity;
    this sums money). Two hash aggregates (first-order date at customer
    cardinality, then cohort x offset cells) around one join on
    o_custkey, a cumulative window over the cell frame (cohort-month
    cardinality, trivially partitioned). Revenue rides exact cents
    through the aggregate AND the running window, so cum_revenue is
    exact at any scale; month arithmetic is integer year*12+month in
    both engines (no interval/timezone semantics to diverge)."""
    o = tables.load(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderdate",
        F.expr(cents("o_totalprice")).alias("c"),
    )
    first = o.groupBy("o_custkey").agg(F.min("o_orderdate").alias("d0"))
    j = o.join(first, "o_custkey").select(
        "o_custkey",
        "c",
        F.expr("trunc(d0, 'MM')").alias("cohort_month"),
        F.expr(
            "CAST((year(o_orderdate) * 12 + month(o_orderdate)) "
            "- (year(d0) * 12 + month(d0)) AS BIGINT)"
        ).alias("month_offset"),
    )
    g = j.groupBy("cohort_month", "month_offset").agg(
        F.countDistinct("o_custkey").alias("n_active"),
        F.sum("c").alias("rev_c"),
    )
    w = (
        Window.partitionBy("cohort_month")
        .orderBy("month_offset")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return g.select(
        "cohort_month",
        "month_offset",
        "n_active",
        F.expr(money("rev_c")).alias("revenue"),
        (F.sum("rev_c").over(w).cast("double") / 100.0).alias(
            "cum_revenue"
        ),
    )


# --- open-order backlog via sweep line ------------------------------------

_BACKLOG_ORACLE = (
    "WITH iv AS (SELECT o.o_orderkey, o.o_orderdate AS d_open, "
    "MAX(l.l_shipdate) AS d_close FROM orders o "
    "JOIN lineitem l ON l.l_orderkey = o.o_orderkey "
    "GROUP BY o.o_orderkey, o.o_orderdate), "
    "deltas AS (SELECT d_open AS day, 1 AS delta FROM iv "
    "UNION ALL SELECT d_close + INTERVAL 1 DAY, -1 FROM iv), "
    "daily AS (SELECT CAST(day AS DATE) AS day, SUM(delta) AS d "
    "FROM deltas GROUP BY 1) "
    "SELECT day, "
    "SUM(d) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND "
    "CURRENT ROW) AS open_orders FROM daily"
)


@query("orders_backlog_sweepline", oracle=_BACKLOG_ORACLE)
def orders_backlog_sweepline(spark, sf_dir):
    """Open-order backlog time series by SWEEP LINE: each order
    contributes +1 on its open day and -1 the day after its last line
    item ships (the fixtures carry l_shipdate); the running sum over the daily deltas is the
    number of in-flight orders on every day. This is the
    interval-to-timeline operator that avoids the naive plan (explode
    every interval into its covered days — fan-out = interval length)
    AND the per-day correlated count; the heavy work is one hash
    aggregate to order cardinality, one union of two +-1 projections,
    one date-cardinality aggregate, and a running window over calendar
    days (single task, ~10^4 rows at any fact scale — same argument as
    events_acf_daily). Deltas are exact integers, so the cumulative is
    exact. The interval frame is MATERIALIZED: both union branches read
    it, and without the persist Spark recomputed the fact join once per
    branch (measured 2x input records in the ledger)."""
    from ..operators.textops import materialize as _mat

    o = tables.load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate"
    )
    li = tables.load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_shipdate"
    )
    iv = _mat(
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("o_orderkey", "o_orderdate")
        .agg(F.max("l_shipdate").alias("d_close"))
    )
    deltas = iv.select(
        F.to_date("o_orderdate").alias("day"), F.lit(1).alias("delta")
    ).unionByName(
        iv.select(
            F.date_add(F.to_date("d_close"), 1).alias("day"),
            F.lit(-1).alias("delta"),
        )
    )
    daily = deltas.groupBy("day").agg(F.sum("delta").alias("d"))
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return daily.select(
        "day", F.sum("d").over(w).cast("bigint").alias("open_orders")
    )


# --- p-chart: returns-rate statistical process control --------------------

_PCHART_ORACLE = (
    "WITH w AS (SELECT date_trunc('week', l_shipdate) AS week, "
    "COUNT(*) AS n, "
    "SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS r "
    "FROM lineitem GROUP BY 1), "
    "g AS (SELECT SUM(r) AS rt, SUM(n) AS nt FROM w) "
    "SELECT week, n, r, "
    + rnd("CAST(r AS DOUBLE) / n", 6)
    + " AS p_hat, "
    + rnd("CAST(rt AS DOUBLE) / nt", 6)
    + " AS p_bar, "
    + rnd(
        "CAST(rt AS DOUBLE) / nt + 3.0e0 * SQRT((CAST(rt AS DOUBLE) / nt) "
        "* (1.0e0 - CAST(rt AS DOUBLE) / nt) / n)",
        6,
    )
    + " AS ucl, "
    + rnd(
        "GREATEST(0.0e0, CAST(rt AS DOUBLE) / nt - 3.0e0 * "
        "SQRT((CAST(rt AS DOUBLE) / nt) "
        "* (1.0e0 - CAST(rt AS DOUBLE) / nt) / n))",
        6,
    )
    + " AS lcl, "
    "CASE WHEN CAST(r AS DOUBLE) / n > "
    "CAST(rt AS DOUBLE) / nt + 3.0e0 * SQRT((CAST(rt AS DOUBLE) / nt) "
    "* (1.0e0 - CAST(rt AS DOUBLE) / nt) / n) "
    "OR CAST(r AS DOUBLE) / n < "
    "GREATEST(0.0e0, CAST(rt AS DOUBLE) / nt - 3.0e0 * "
    "SQRT((CAST(rt AS DOUBLE) / nt) "
    "* (1.0e0 - CAST(rt AS DOUBLE) / nt) / n)) "
    "THEN 1 ELSE 0 END AS out_of_control "
    "FROM w CROSS JOIN g"
)


@query("lineitem_returns_pchart", oracle=_PCHART_ORACLE)
def lineitem_returns_pchart(spark, sf_dir):
    """Statistical process control over the returns rate: a weekly
    p-chart — per-week return share against 3-sigma binomial control
    limits around the overall rate, flagging out-of-control weeks. The
    SPC discipline the reference's threshold alerts approximate by
    hand (fixed cutoffs, ref:weather_streaming.py:127-142) done
    properly: limits derive from the process itself and tighten with
    per-week sample size. One map-combined hash aggregate to the
    weekly frame, a 1-row broadcast of the global rate, every
    comparison on the same exact-integer-derived doubles in both
    engines, snapped at the edges."""
    li = tables.load(spark, sf_dir, "lineitem")
    w = li.groupBy(
        F.to_date(F.date_trunc("week", "l_shipdate")).alias("week")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            F.expr("CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END")
        ).alias("r"),
    )
    g = w.agg(F.sum("r").alias("rt"), F.sum("n").alias("nt"))
    pb = "CAST(rt AS DOUBLE) / nt"
    sig = f"SQRT(({pb}) * (1.0e0 - {pb}) / n)"
    return (
        w.join(F.broadcast(g))
        .select(
            "week",
            "n",
            "r",
            F.expr(rnd("CAST(r AS DOUBLE) / n", 6)).alias("p_hat"),
            F.expr(rnd(pb, 6)).alias("p_bar"),
            F.expr(rnd(f"{pb} + 3.0e0 * {sig}", 6)).alias("ucl"),
            F.expr(
                rnd(f"GREATEST(0.0e0, {pb} - 3.0e0 * {sig})", 6)
            ).alias("lcl"),
            F.expr(
                f"CASE WHEN CAST(r AS DOUBLE) / n > {pb} + 3.0e0 * {sig} "
                f"OR CAST(r AS DOUBLE) / n < "
                f"GREATEST(0.0e0, {pb} - 3.0e0 * {sig}) "
                "THEN 1 ELSE 0 END"
            ).alias("out_of_control"),
        )
    )


# --- supplier concentration (HHI) -----------------------------------------

_HHI_TERM_U = (
    "CAST(ROUND(POW(CAST(v_c AS DOUBLE) / t_c, 2.0e0) * 1.0e8) AS BIGINT)"
)

_HHI_ORACLE = (
    "WITH s AS (SELECT n.n_name AS nation, l.l_suppkey, "
    "SUM(CAST(ROUND(l.l_extendedprice * (1.0e0 - l.l_discount) * 100.0e0) "
    "AS BIGINT)) AS v_c "
    "FROM lineitem l JOIN supplier su ON su.s_suppkey = l.l_suppkey "
    "JOIN nation n ON n.n_nationkey = su.s_nationkey "
    "GROUP BY 1, 2), "
    "t AS (SELECT nation, SUM(v_c) AS t_c, COUNT(*) AS n_suppliers "
    "FROM s GROUP BY nation) "
    "SELECT s.nation, MAX(n_suppliers) AS n_suppliers, "
    "CAST(MAX(t_c) AS DOUBLE) / 100.0e0 AS total_revenue, "
    "CAST(SUM(" + _HHI_TERM_U + ") AS DOUBLE) / 1.0e8 AS hhi, "
    + rnd("CAST(MAX(mx) AS DOUBLE) / MAX(t_c)", 6)
    + " AS top_share FROM ("
    "SELECT s.*, t.t_c, t.n_suppliers, "
    "MAX(v_c) OVER (PARTITION BY s.nation) AS mx "
    "FROM s JOIN t USING (nation)) s GROUP BY s.nation"
)


@query("supplier_concentration_hhi", oracle=_HHI_ORACLE)
def supplier_concentration_hhi(spark, sf_dir):
    """Market-concentration audit: the Herfindahl-Hirschman index of
    supplier revenue share within each nation (sum of squared shares —
    1/n for perfect competition, 1.0 for monopoly; antitrust wakes up
    above 0.25), plus the largest single share — the categorical twin
    of events_gini_concentration's continuous inequality measure.
    Revenue reduces to (nation, supplier) exact cents through the
    broadcast dim joins; each squared share snaps to 1e-8 integer
    units before the per-nation sum, so the index is exact
    cross-engine. Supply-chain reading: a high-HHI nation is a
    single-supplier dependency risk."""
    li = tables.load(spark, sf_dir, "lineitem")
    su = tables.load(spark, sf_dir, "supplier")
    na = tables.load(spark, sf_dir, "nation")
    s = (
        li.join(F.broadcast(su), li.l_suppkey == su.s_suppkey)
        .join(F.broadcast(na), su.s_nationkey == na.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"), "l_suppkey")
        .agg(
            F.sum(
                F.expr(
                    "CAST(ROUND(l_extendedprice * (1.0e0 - l_discount) "
                    "* 100.0e0) AS BIGINT)"
                )
            ).alias("v_c")
        )
    )
    s = T.materialize(s)
    t = s.groupBy("nation").agg(
        F.sum("v_c").alias("t_c"), F.count(F.lit(1)).alias("n_suppliers")
    )
    wn = Window.partitionBy("nation")
    j = s.join(t, "nation").withColumn("mx", F.max("v_c").over(wn))
    return j.groupBy("nation").agg(
        F.max("n_suppliers").alias("n_suppliers"),
        F.expr("CAST(MAX(t_c) AS DOUBLE) / 100.0e0").alias(
            "total_revenue"
        ),
        F.expr(
            "CAST(SUM(" + _HHI_TERM_U + ") AS DOUBLE) / 1.0e8"
        ).alias("hhi"),
        F.expr(rnd("CAST(MAX(mx) AS DOUBLE) / MAX(t_c)", 6)).alias(
            "top_share"
        ),
    )


# --- 4-4-5 fiscal calendar aggregation ------------------------------------

#: fiscal year starts Feb 1; weeks are 0-based from the fiscal start,
#: week 52/53 (the year's ragged tail) clamps into period 12 — the
#: standard 4-4-5 retail convention. Pure integer date arithmetic,
#: identical text in both engines.
_FY = "(CASE WHEN month(o_orderdate) >= 2 THEN year(o_orderdate) " \
      "ELSE year(o_orderdate) - 1 END)"


def _fp(datediff_expr: str) -> str:
    w = f"LEAST(({datediff_expr}) DIV 7, 51)"
    return (
        f"(({w}) DIV 13) * 3 + "
        f"(CASE WHEN ({w}) % 13 < 4 THEN 0 "
        f"WHEN ({w}) % 13 < 8 THEN 1 ELSE 2 END) + 1"
    )


_FP_SPARK = _fp(f"datediff(o_orderdate, make_date({_FY}, 2, 1))")
_FP_DUCK = _fp(f"datediff('day', make_date({_FY}, 2, 1), o_orderdate)")

_FISCAL_ORACLE = (
    "WITH o AS (SELECT o_orderdate, "
    + cents("o_totalprice")
    + " AS c FROM orders) "
    f"SELECT {_FY} AS fiscal_year, "
    + _FP_DUCK.replace("DIV", "//")
    + " AS fiscal_period, "
    "COUNT(*) AS n_orders, "
    + money("SUM(c)")
    + " AS revenue, "
    "MIN(o_orderdate) AS first_day, MAX(o_orderdate) AS last_day "
    "FROM o GROUP BY 1, 2"
)


@query("orders_fiscal_445_revenue", oracle=_FISCAL_ORACLE)
def orders_fiscal_445_revenue(spark, sf_dir):
    """Revenue on the 4-4-5 RETAIL FISCAL calendar (fiscal year from
    Feb 1; quarters of 4+4+5 weeks; the 53rd-week tail clamps into
    period 12): the calendar-dimension capability every warehouse
    conversation hits that bare date_trunc cannot express — fiscal
    periods contain a FIXED number of weekdays, so period-over-period
    comparisons aren't distorted by month-length (the flaw in
    orders_yoy_priority_growth's gregorian months, deliberately kept
    there for contrast). The mapping is pure integer date arithmetic
    inlined into the aggregate key — no calendar dimension TABLE to
    join, version, or backfill, and it pushes through partition
    pruning at 100 TB. Revenue rides exact cents."""
    o = tables.load(spark, sf_dir, "orders").select(
        "o_orderdate", F.expr(cents("o_totalprice")).alias("c")
    )
    return (
        o.groupBy(
            F.expr(_FY).alias("fiscal_year"),
            F.expr(_FP_SPARK).alias("fiscal_period"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.expr(money("SUM(c)")).alias("revenue"),
            F.min("o_orderdate").alias("first_day"),
            F.max("o_orderdate").alias("last_day"),
        )
    )


# --- Laspeyres price index ------------------------------------------------

#: per-(numerator/denominator) basket term p * q0, snapped to integer
#: micro-cents: p is a ratio of exact integers (cents / quantity), q0 an
#: exact integer, so one float multiply per term, snapped before the sum
_LASP_TERM = (
    "CAST(ROUND((CAST({pc} AS DOUBLE) / {pq}) * {q0} * 1.0e4) AS BIGINT)"
)

_LASP_ORACLE = (
    "WITH py AS (SELECT l_partkey, year(l_shipdate) AS yr, "
    "SUM(CAST(ROUND(l_extendedprice * 100.0e0) AS BIGINT)) AS pc, "
    "SUM(CAST(l_quantity AS BIGINT)) AS pq "
    "FROM lineitem GROUP BY 1, 2), "
    "b AS (SELECT l_partkey, pc AS pc0, pq AS pq0 FROM py "
    "WHERE yr = (SELECT MIN(yr) FROM py)), "
    "j AS (SELECT py.yr, "
    + _LASP_TERM.format(pc="py.pc", pq="py.pq", q0="b.pq0")
    + " AS num_u, "
    + _LASP_TERM.format(pc="b.pc0", pq="b.pq0", q0="b.pq0")
    + " AS den_u "
    "FROM py JOIN b ON b.l_partkey = py.l_partkey) "
    "SELECT yr AS year, COUNT(*) AS n_parts_in_basket, "
    + rnd("CAST(SUM(num_u) AS DOUBLE) / SUM(den_u) * 100.0e0", 4)
    + " AS laspeyres_index FROM j GROUP BY yr"
)


@query("part_price_index_laspeyres", oracle=_LASP_ORACLE)
def part_price_index_laspeyres(spark, sf_dir):
    """Laspeyres price index by year (base = first observed year, index
    100): the fixed-basket inflation measure — each year's per-part
    average price weighted by the BASE year's quantities, so quantity
    substitution never masquerades as price change. The index-number
    family the dashboard's raw averages cannot express (a mean price
    shift can be pure mix shift). Per-(part, year) price cells reduce
    exactly (cents / integer quantity); basket terms snap to micro-cent
    integers before the per-year sums; the base-year basket joins back
    at part cardinality (shuffle on partkey, or broadcast when the
    basket is a curated subset). Parts absent in the base year drop
    from the basket — the standard fixed-basket rule, identical in
    both engines."""
    li = tables.load(spark, sf_dir, "lineitem")
    py = li.groupBy(
        "l_partkey", F.year("l_shipdate").alias("yr")
    ).agg(
        F.sum(
            F.expr("CAST(ROUND(l_extendedprice * 100.0e0) AS BIGINT)")
        ).alias("pc"),
        F.sum(F.expr("CAST(l_quantity AS BIGINT)")).alias("pq"),
    )
    py = T.materialize(py)
    y0 = py.agg(F.min("yr").alias("y0"))
    b = (
        py.join(F.broadcast(y0), py.yr == F.col("y0"))
        .select(
            F.col("l_partkey"),
            F.col("pc").alias("pc0"),
            F.col("pq").alias("pq0"),
        )
    )
    j = py.join(b, "l_partkey").select(
        "yr",
        F.expr(
            _LASP_TERM.format(pc="pc", pq="pq", q0="pq0")
        ).alias("num_u"),
        F.expr(
            _LASP_TERM.format(pc="pc0", pq="pq0", q0="pq0")
        ).alias("den_u"),
    )
    return j.groupBy(F.col("yr").alias("year")).agg(
        F.count(F.lit(1)).alias("n_parts_in_basket"),
        F.expr(
            rnd("CAST(SUM(num_u) AS DOUBLE) / SUM(den_u) * 100.0e0", 4)
        ).alias("laspeyres_index"),
    )


# --- nation trade balance -------------------------------------------------

_TRADE_ORACLE = (
    "WITH s AS (SELECT n.n_name AS nation, "
    "SUM(CAST(ROUND(l.l_extendedprice * (1.0e0 - l.l_discount) * 100.0e0)"
    " AS BIGINT)) AS sup_c "
    "FROM lineitem l JOIN supplier su ON su.s_suppkey = l.l_suppkey "
    "JOIN nation n ON n.n_nationkey = su.s_nationkey GROUP BY 1), "
    "d AS (SELECT n.n_name AS nation, "
    "SUM(CAST(ROUND(o.o_totalprice * 100.0e0) AS BIGINT)) AS dem_c "
    "FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey "
    "JOIN nation n ON n.n_nationkey = c.c_nationkey GROUP BY 1) "
    "SELECT COALESCE(s.nation, d.nation) AS nation, "
    + money("COALESCE(sup_c, 0)")
    + " AS supply_revenue, "
    + money("COALESCE(dem_c, 0)")
    + " AS demand_spend, "
    + money("COALESCE(sup_c, 0) - COALESCE(dem_c, 0)")
    + " AS trade_balance "
    "FROM s FULL OUTER JOIN d ON s.nation = d.nation"
)


@query("nation_trade_balance", oracle=_TRADE_ORACLE)
def nation_trade_balance(spark, sf_dir):
    """Two-fact comparison: each nation's SUPPLY-side revenue (lineitem
    discounted revenue attributed through supplier nationality) against
    its DEMAND-side spend (order totals through customer nationality),
    and the balance — the export/import view a single star join cannot
    produce because the two money flows attribute through DIFFERENT
    dimension paths. Each side is its own broadcast-dim fact aggregate
    reduced to nation cardinality BEFORE the full-outer combine (25
    rows) — the comparison join never sees fact volume. Exact cents on
    both sides; the balance is an exact integer difference."""
    li = tables.load(spark, sf_dir, "lineitem")
    su = tables.load(spark, sf_dir, "supplier")
    na = tables.load(spark, sf_dir, "nation")
    o = tables.load(spark, sf_dir, "orders")
    cu = tables.load(spark, sf_dir, "customer")
    s = (
        li.join(F.broadcast(su), li.l_suppkey == su.s_suppkey)
        .join(F.broadcast(na), su.s_nationkey == na.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.sum(
                F.expr(
                    "CAST(ROUND(l_extendedprice * (1.0e0 - l_discount) "
                    "* 100.0e0) AS BIGINT)"
                )
            ).alias("sup_c")
        )
    )
    d = (
        o.join(F.broadcast(cu), o.o_custkey == cu.c_custkey)
        .join(F.broadcast(na), cu.c_nationkey == na.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.sum(
                F.expr("CAST(ROUND(o_totalprice * 100.0e0) AS BIGINT)")
            ).alias("dem_c")
        )
    )
    return (
        s.join(d, "nation", "full_outer")
        .select(
            "nation",
            F.expr(money("COALESCE(sup_c, 0)")).alias("supply_revenue"),
            F.expr(money("COALESCE(dem_c, 0)")).alias("demand_spend"),
            F.expr(
                money("COALESCE(sup_c, 0) - COALESCE(dem_c, 0)")
            ).alias("trade_balance"),
        )
    )


# --- decile analysis ------------------------------------------------------

_DECILE_ORACLE = (
    "WITH d AS (SELECT c_mktsegment, "
    "CAST(ROUND(c_acctbal * 100.0e0) AS BIGINT) AS b_c, "
    "NTILE(10) OVER (PARTITION BY c_mktsegment "
    "ORDER BY c_acctbal, c_custkey) AS decile FROM customer) "
    "SELECT c_mktsegment, decile, COUNT(*) AS n_customers, "
    + money("SUM(b_c)")
    + " AS total_balance, "
    + rnd("CAST(SUM(b_c) AS DOUBLE) / (100.0e0 * COUNT(*))", 4)
    + " AS avg_balance, "
    + money("MIN(b_c)")
    + " AS min_balance, "
    + money("MAX(b_c)")
    + " AS max_balance "
    "FROM d GROUP BY c_mktsegment, decile"
)


@query("customer_balance_deciles", oracle=_DECILE_ORACLE)
def customer_balance_deciles(spark, sf_dir):
    """Decile analysis: customers ranked into balance deciles WITHIN
    each market segment (NTILE over a total order — c_custkey breaks
    acctbal ties, so decile membership is deterministic), with per-cell
    counts and exact-cents balance totals/extrema — the classic BI
    decile report (who holds the money, per segment) and the shape a
    scorecard binning step produces. One exchange on segment, one
    in-partition sort, one hash aggregate over 10 x |segments| cells.
    At billion-customer scale the exact NTILE swaps for
    approx-percentile thresholds, same trade documented on
    orders_rfm_segments."""
    cu = tables.load(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy(
        "c_acctbal", "c_custkey"
    )
    d = cu.select(
        "c_mktsegment",
        F.expr("CAST(ROUND(c_acctbal * 100.0e0) AS BIGINT)").alias("b_c"),
        F.ntile(10).over(w).alias("decile"),
    )
    return d.groupBy("c_mktsegment", "decile").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.expr(money("SUM(b_c)")).alias("total_balance"),
        F.expr(
            rnd("CAST(SUM(b_c) AS DOUBLE) / (100.0e0 * COUNT(*))", 4)
        ).alias("avg_balance"),
        F.expr(money("MIN(b_c)")).alias("min_balance"),
        F.expr(money("MAX(b_c)")).alias("max_balance"),
    )


# --- referential-integrity audit ------------------------------------------

#: identical text both engines; {o}/{c}/{l}/{p} are table spellings.
#: Each FK is audited in both directions: orphan children (FK value
#: with no parent — hard corruption) and unreferenced parents (valid
#: but dead dimension rows — a retention/cost signal, and the join
#: pruning opportunity DQ dashboards track).
_FK_BODY = (
    "SELECT 'orders.o_custkey -> customer.c_custkey' AS fk, "
    "(SELECT COUNT(*) FROM {o} o LEFT JOIN {c} c "
    "ON o.o_custkey = c.c_custkey WHERE c.c_custkey IS NULL) "
    "AS n_orphan_children, "
    "(SELECT COUNT(*) FROM {c} c LEFT JOIN {o} o "
    "ON o.o_custkey = c.c_custkey WHERE o.o_custkey IS NULL) "
    "AS n_unreferenced_parents "
    "UNION ALL SELECT 'lineitem.l_orderkey -> orders.o_orderkey', "
    "(SELECT COUNT(*) FROM {l} l LEFT JOIN {o} o "
    "ON l.l_orderkey = o.o_orderkey WHERE o.o_orderkey IS NULL), "
    "(SELECT COUNT(*) FROM {o} o LEFT JOIN {l} l "
    "ON l.l_orderkey = o.o_orderkey WHERE l.l_orderkey IS NULL) "
    "UNION ALL SELECT 'lineitem.l_partkey -> part.p_partkey', "
    "(SELECT COUNT(*) FROM {l} l LEFT JOIN {p} p "
    "ON l.l_partkey = p.p_partkey WHERE p.p_partkey IS NULL), "
    "(SELECT COUNT(*) FROM {p} p LEFT JOIN {l} l "
    "ON l.l_partkey = p.p_partkey WHERE l.l_partkey IS NULL)"
)


@query(
    "dq_fk_integrity",
    oracle=_FK_BODY.format(
        o="orders", c="customer", l="lineitem", p="part"
    ),
)
def dq_fk_integrity(spark, sf_dir):
    """Referential-integrity audit over the star schema's three foreign
    keys, each in both directions: orphaned child rows (corruption — the
    count a pipeline gate should hard-fail on) and unreferenced parent
    rows (dead dimension entries — TPC-H ships ~1/3 of customers with no
    orders by design, so the audit is non-vacuous on the fixtures).

    Single scan per table: the six existence probes of the shared-SQL
    form ran as six separate Spark jobs (lineitem read 4x, orders 3x —
    round-7 scan audit, ratio 3.91). Each table now STACKS its
    (role, fk, key) participations in-row — lineitem emits its two
    child FK values, orders its child o_custkey AND parent o_orderkey —
    and one map-side-combined (fk, key) aggregate counts child and
    parent rows per key. Orphans are then child mass on keys with zero
    parents and unreferenced parents the reverse, both read off the
    SAME key-cardinality frame: one scan per table, ONE shuffle, no
    joins. Counting child ROWS per key keeps the exact left-join
    semantics (an orphan child row counts once regardless of parent
    multiplicity; an unreferenced parent row counts once regardless of
    child multiplicity). A 3-row literal FK spine left-joins the result
    so an empty-input FK still reports 0/0 like the oracle's constant
    UNION ALL arms. This plus dq_lineitem_violations (domain rules) and
    dq_key_skew (distribution) completes the data-quality trio a
    warehouse runs before trusting a load."""
    fk1 = "orders.o_custkey -> customer.c_custkey"
    fk2 = "lineitem.l_orderkey -> orders.o_orderkey"
    fk3 = "lineitem.l_partkey -> part.p_partkey"
    li = tables.load(spark, sf_dir, "lineitem").selectExpr(
        f"stack(2, 'child', '{fk2}', l_orderkey, "
        f"'child', '{fk3}', l_partkey) AS (role, fk, k)"
    )
    od = tables.load(spark, sf_dir, "orders").selectExpr(
        f"stack(2, 'child', '{fk1}', o_custkey, "
        f"'parent', '{fk2}', o_orderkey) AS (role, fk, k)"
    )
    cu = tables.load(spark, sf_dir, "customer").selectExpr(
        "'parent' AS role", f"'{fk1}' AS fk", "c_custkey AS k"
    )
    pa = tables.load(spark, sf_dir, "part").selectExpr(
        "'parent' AS role", f"'{fk3}' AS fk", "p_partkey AS k"
    )
    per_key = (
        li.unionByName(od)
        .unionByName(cu)
        .unionByName(pa)
        .groupBy("fk", "k")
        .agg(
            F.sum(F.when(F.col("role") == "child", 1).otherwise(0)).alias(
                "c_child"
            ),
            F.sum(
                F.when(F.col("role") == "parent", 1).otherwise(0)
            ).alias("c_parent"),
        )
    )
    res = per_key.groupBy("fk").agg(
        F.sum(F.when(F.col("c_parent") == 0, F.col("c_child"))).alias(
            "orph"
        ),
        F.sum(F.when(F.col("c_child") == 0, F.col("c_parent"))).alias(
            "unref"
        ),
    )
    spine = spark.range(1).selectExpr(
        f"stack(3, '{fk1}', '{fk2}', '{fk3}') AS fk"
    )
    return spine.join(F.broadcast(res), "fk", "left").select(
        "fk",
        F.coalesce(F.col("orph"), F.lit(0))
        .cast("bigint")
        .alias("n_orphan_children"),
        F.coalesce(F.col("unref"), F.lit(0))
        .cast("bigint")
        .alias("n_unreferenced_parents"),
    )


# --- incremental SCD2 apply (dimension maintenance as a query) -------------

_SCD2A_SPLIT = "TIMESTAMP '1997-07-01 00:00:00'"

#: value tier off exact cents — the tracked SCD2 attribute
_SCD2A_TIER = (
    "CASE WHEN {v} < 20000000 THEN 'LOW' "
    "WHEN {v} < 50000000 THEN 'MED' ELSE 'HIGH' END"
)

_SCD2A_BODY = (
    "pre AS (SELECT o_custkey, "
    f"SUM({cents('o_totalprice')}) AS v_c FROM {{o}} "
    f"WHERE o_orderdate < {_SCD2A_SPLIT} GROUP BY o_custkey), "
    "post AS (SELECT o_custkey, "
    f"SUM({cents('o_totalprice')}) AS v_c FROM {{o}} GROUP BY o_custkey), "
    "m AS (SELECT post.o_custkey, pre.v_c AS v_pre, post.v_c AS v_post, "
    "CASE WHEN pre.o_custkey IS NULL THEN NULL ELSE "
    + _SCD2A_TIER.format(v="pre.v_c")
    + " END AS tier_old, "
    + _SCD2A_TIER.format(v="post.v_c")
    + " AS tier_new "
    "FROM post LEFT JOIN pre ON pre.o_custkey = post.o_custkey) "
    "SELECT o_custkey, "
    "CASE WHEN tier_old IS NULL THEN 'insert_new_key' "
    "WHEN tier_new <> tier_old THEN 'close_and_open' "
    "ELSE 'unchanged' END AS scd2_action, "
    "tier_old, tier_new, "
    + money("v_post")
    + " AS current_value FROM m"
)


@query(
    "warehouse_scd2_apply",
    oracle="WITH " + _SCD2A_BODY.format(o="orders"),
)
def warehouse_scd2_apply(spark, sf_dir):
    """Incremental SCD2 dimension maintenance, expressed relationally:
    given the dimension state BEFORE the split date (per-customer value
    tier) and the post-batch state, classify every key into the MERGE
    action a type-2 dimension load would take — close-and-open a new
    version (tracked attribute changed), insert (first appearance), or
    no-op. This is the decision layer that drives
    sources/readers.upsert_parquet_lake's physical MERGE; both states
    come from ONE scan each with exact-cents aggregates, and the apply
    itself is a single left join at key cardinality — the classic
    per-row lookup-loop formulation never appears. At 100 TB the same
    plan holds with the dimension side bucketed on the key."""
    tables.load(spark, sf_dir, "orders").createOrReplaceTempView(
        "scd2a_orders"
    )
    return spark.sql("WITH " + _SCD2A_BODY.format(o="scd2a_orders"))


# --- customer tier migration matrix ---------------------------------------

_MIG_BODY = (
    "pre AS (SELECT o_custkey, "
    f"SUM({cents('o_totalprice')}) AS v_c FROM {{o}} "
    f"WHERE o_orderdate < {_SCD2A_SPLIT} GROUP BY o_custkey), "
    "post AS (SELECT o_custkey, "
    f"SUM({cents('o_totalprice')}) AS v_c FROM {{o}} "
    f"WHERE o_orderdate >= {_SCD2A_SPLIT} GROUP BY o_custkey), "
    "m AS (SELECT "
    "CASE WHEN pre.o_custkey IS NULL THEN 'NONE' ELSE "
    + _SCD2A_TIER.format(v="pre.v_c") + " END AS tier_from, "
    "CASE WHEN post.o_custkey IS NULL THEN 'NONE' ELSE "
    + _SCD2A_TIER.format(v="post.v_c") + " END AS tier_to "
    "FROM pre FULL OUTER JOIN post "
    "ON pre.o_custkey = post.o_custkey) "
    "SELECT tier_from, tier_to, COUNT(*) AS n_customers "
    "FROM m GROUP BY tier_from, tier_to"
)


@query("customer_migration_matrix", oracle="WITH " + _MIG_BODY.format(o="orders"))
def customer_migration_matrix(spark, sf_dir):
    """Customer value-tier migration matrix between the two halves of
    the order history: counts for every (tier H1 -> tier H2) cell,
    with NONE capturing churn (active then silent) and acquisition
    (silent then active). The cohort-movement report a retention team
    reads weekly; where warehouse_scd2_apply classifies per-key MERGE
    actions, this aggregates the same pre/post frames into the
    dimension-cardinality flow matrix. One full-outer join at key
    cardinality, exact-cents tiers, tiny output."""
    tables.load(spark, sf_dir, "orders").createOrReplaceTempView(
        "mig_orders"
    )
    return spark.sql("WITH " + _MIG_BODY.format(o="mig_orders"))


# --- distributed global prefix sum (two-phase, no global sort) -------------

_PS_BUCKET = 4096  # orderkey-range bucket width


@query(
    "orders_prefix_sum_distributed",
    oracle=(
        "SELECT o_orderkey, "
        + money(f"SUM({cents('o_totalprice')}) OVER "
                "(ORDER BY o_orderkey ROWS BETWEEN UNBOUNDED PRECEDING "
                "AND CURRENT ROW)")
        + " AS cum_revenue FROM orders"
    ),
)
def orders_prefix_sum_distributed(spark, sf_dir):
    """Global running revenue ordered by orderkey, computed as a
    TWO-PHASE distributed prefix sum instead of the textbook
    single-partition global window: rows bucket by orderkey range
    (pure arithmetic — no global sort needed to establish bucket
    order), phase 1 reduces each bucket to one sum, a bucket-
    cardinality window turns those into per-bucket offsets (the only
    single-partition step, over buckets/4096-fold reduced data), and
    phase 2 adds each bucket's offset to its partition-local running
    sum. The oracle is the plain `SUM() OVER (ORDER BY ...)` — results
    hash-identical, but THIS plan's row-cardinality path never
    serializes through one task, which is the difference between a
    window that works at 100 TB and one that doesn't (the swap
    documented on lineitem_abc_pareto, implemented)."""
    o = tables.load(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.expr(cents("o_totalprice")).alias("rev_c"),
        F.expr(f"o_orderkey div {_PS_BUCKET}").alias("b"),
    )
    bs = o.groupBy("b").agg(F.sum("rev_c").alias("bsum"))
    woff = (
        Window.orderBy("b")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    off = bs.select(
        "b", F.coalesce(F.sum("bsum").over(woff), F.lit(0)).alias("off")
    )
    wloc = (
        Window.partitionBy("b")
        .orderBy("o_orderkey")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        o.join(F.broadcast(off), "b")
        .select(
            "o_orderkey",
            F.expr(money("(off + SUM(rev_c) OVER (PARTITION BY b "
                         "ORDER BY o_orderkey ROWS BETWEEN UNBOUNDED "
                         "PRECEDING AND CURRENT ROW))")).alias(
                "cum_revenue"
            ),
        )
    )


# --- one-query operational health report -----------------------------------

def _health_sql(ev: str, o: str, l: str) -> str:
    """Tall (metric, value) report: each arm reads only what it needs;
    UNION ALL keeps one job. The anomaly arm uses the exact-integer
    deviation trick (dev = nd*x - sx) so the 3-sigma test is
    engine-exact: dev^2 > 9 * Var_num where both sides are integer
    products of the same moment sums."""
    return (
        f"d AS (SELECT CAST(ts AS DATE) AS day, COUNT(*) AS x FROM {ev} "
        "GROUP BY CAST(ts AS DATE)), "
        "m AS (SELECT COUNT(*) AS nd, SUM(x) AS sx, "
        "SUM(x * x) AS sxx FROM d), "
        "g AS (SELECT MAX(gap) AS max_gap FROM (SELECT "
        "CAST(day - LAG(day) OVER (ORDER BY day) AS BIGINT) AS gap "
        "FROM d) t), "
        "anom AS (SELECT COUNT(*) AS n FROM d CROSS JOIN m "
        "WHERE CAST(nd AS DOUBLE) * (nd * x - sx) * (nd * x - sx) "
        "> 9.0e0 * (CAST(nd AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)"
        " * nd) "
        f"SELECT 'events_rows' AS metric, "
        f"CAST((SELECT COUNT(*) FROM {ev}) AS DOUBLE) AS value "
        "UNION ALL SELECT 'events_days', "
        "CAST((SELECT nd FROM m) AS DOUBLE) "
        "UNION ALL SELECT 'events_max_day_gap', "
        "CAST((SELECT max_gap FROM g) AS DOUBLE) "
        "UNION ALL SELECT 'events_anomalous_days_3sigma', "
        "CAST((SELECT n FROM anom) AS DOUBLE) "
        "UNION ALL SELECT 'events_distinct_users', "
        f"CAST((SELECT COUNT(DISTINCT user_id) FROM {ev}) AS DOUBLE) "
        "UNION ALL SELECT 'orders_rows', "
        f"CAST((SELECT COUNT(*) FROM {o}) AS DOUBLE) "
        "UNION ALL SELECT 'lineitem_rows', "
        f"CAST((SELECT COUNT(*) FROM {l}) AS DOUBLE) "
        "UNION ALL SELECT 'lineitem_fk_orphans', "
        f"CAST((SELECT COUNT(*) FROM {l} li LEFT JOIN {o} oo "
        "ON li.l_orderkey = oo.o_orderkey "
        "WHERE oo.o_orderkey IS NULL) AS DOUBLE)"
    )


@query(
    "dq_daily_health_report",
    oracle=(
        "WITH " + tables.EVENTS_ORACLE_CTE + ", "
        + _health_sql("events_t", "orders", "lineitem")
    ),
)
def dq_daily_health_report(spark, sf_dir):
    """The morning ops report as ONE query: volumes, calendar coverage
    and the largest day gap, 3-sigma anomalous-day count (exact-integer
    deviation test — no float variance), distinct users, and FK orphan
    count, emitted tall (metric, value) so a dashboard or alert rule
    consumes it without schema changes when arms are added. Each arm
    reads only its pruned columns; the whole report is one job — the
    consolidated replacement for the reference dashboard's pile of
    independent pandas passes (ref:streamlit/app.py:183-206,357)."""
    tables.load(spark, sf_dir, "events").createOrReplaceTempView(
        "hr_events"
    )
    tables.load(spark, sf_dir, "orders").createOrReplaceTempView(
        "hr_orders"
    )
    tables.load(spark, sf_dir, "lineitem").createOrReplaceTempView(
        "hr_lineitem"
    )
    return spark.sql(
        "WITH " + _health_sql("hr_events", "hr_orders", "hr_lineitem")
    )


# --- price / volume / mix variance decomposition ---------------------------

_PVM_SPLIT = "TIMESTAMP '1996-07-01 00:00:00'"

_PVM_BODY = (
    "h AS (SELECT p.p_brand AS brand, "
    f"CASE WHEN l.l_shipdate < {_PVM_SPLIT} THEN 1 ELSE 2 END AS half, "
    "CAST(l.l_quantity AS BIGINT) AS q, "
    f"{cents('l.l_extendedprice')} AS r "
    "FROM {l} l JOIN {p} p ON l.l_partkey = p.p_partkey), "
    "g AS (SELECT brand, "
    "SUM(CASE WHEN half = 1 THEN q ELSE 0 END) AS q1, "
    "SUM(CASE WHEN half = 2 THEN q ELSE 0 END) AS q2, "
    "SUM(CASE WHEN half = 1 THEN r ELSE 0 END) AS r1, "
    "SUM(CASE WHEN half = 2 THEN r ELSE 0 END) AS r2 "
    "FROM h GROUP BY brand), "
    # NULLIF: a corpus whose shipments all land in one half has no
    # period-1 average price — rows are filtered by q1>0/q2>0 anyway,
    # but ANSI Spark would throw on the bare global division (skew fuzz)
    "t AS (SELECT CAST(SUM(r1) AS DOUBLE) / NULLIF(SUM(q1), 0) "
    "AS pbar1 FROM g), "
    "e AS (SELECT brand, q1, q2, r1, r2, "
    "CAST(r1 AS DOUBLE) / q1 AS p1, CAST(r2 AS DOUBLE) / q2 AS p2, "
    "(SELECT pbar1 FROM t) AS pbar1 FROM g WHERE q1 > 0 AND q2 > 0) "
    "SELECT brand, CAST(q1 AS BIGINT) AS q1, CAST(q2 AS BIGINT) AS q2, "
    + rnd("(CAST(r2 AS DOUBLE) - r1) / 100.0e0", 2)
    + " AS delta_revenue, "
    + rnd("(CAST(q2 AS DOUBLE) - q1) * pbar1 / 100.0e0", 2)
    + " AS volume_effect, "
    + rnd("(CAST(q2 AS DOUBLE) - q1) * (p1 - pbar1) / 100.0e0", 2)
    + " AS mix_effect, "
    + rnd("CAST(q2 AS DOUBLE) * (p2 - p1) / 100.0e0", 2)
    + " AS price_effect FROM e"
)


@query(
    "lineitem_price_volume_mix",
    oracle="WITH " + _PVM_BODY.format(l="lineitem", p="part"),
)
def lineitem_price_volume_mix(spark, sf_dir):
    """Classic FP&A variance decomposition per brand between the two
    shipment halves: delta revenue split into volume (quantity change
    at the period-1 AVERAGE price), mix (the brand's own price premium
    vs that average, applied to the quantity change), and price (the
    brand's unit-price move on period-2 volume) — the three sum to the
    delta by construction. One fact scan with a broadcast dim, one
    brand-cardinality aggregate; every input to the float effects is an
    exact cents/quantity integer, snapped at the output edge."""
    tables.load(spark, sf_dir, "lineitem").createOrReplaceTempView(
        "pvm_lineitem"
    )
    tables.load(spark, sf_dir, "part").createOrReplaceTempView("pvm_part")
    return spark.sql(
        "WITH " + _PVM_BODY.format(l="pvm_lineitem", p="pvm_part")
    )


# --- XYZ demand-variability classification ---------------------------------

_XYZ_BODY = (
    "wk AS (SELECT l_partkey AS pk, "
    "CAST(date_trunc('week', l_shipdate) AS DATE) AS w, "
    "SUM(CAST(l_quantity AS BIGINT)) AS q FROM {l} "
    "GROUP BY l_partkey, CAST(date_trunc('week', l_shipdate) AS DATE)), "
    "span AS (SELECT COUNT(DISTINCT w) AS nw FROM wk), "
    "m AS (SELECT pk, SUM(q) AS sq, SUM(q * q) AS sqq FROM wk "
    "GROUP BY pk), "
    # NULLIF/GREATEST: a one-week corpus zeroes (nw-1) — CV undefined
    # (NULL falls to the ELSE class below in both engines)
    "cv AS (SELECT pk, "
    "SQRT(GREATEST((CAST(sqq AS DOUBLE) - CAST(sq AS DOUBLE) * sq / nw)"
    " / NULLIF(nw - 1, 0), 0.0e0)) / (CAST(sq AS DOUBLE) / nw) AS cv "
    "FROM m CROSS JOIN span), "
    "cls AS (SELECT CASE WHEN cv < 0.5e0 THEN 'X' "
    "WHEN cv < 1.0e0 THEN 'Y' ELSE 'Z' END AS xyz_class, cv FROM cv) "
    "SELECT xyz_class, COUNT(*) AS n_parts, "
    + rnd(
        "CAST(SUM(CAST(ROUND(cv * 1.0e6) AS BIGINT)) AS DOUBLE) "
        "/ (1.0e6 * COUNT(*))",
        4,
    )
    + " AS avg_cv FROM cls GROUP BY xyz_class"
)


@query(
    "part_xyz_variability",
    oracle="WITH " + _XYZ_BODY.format(l="lineitem"),
)
def part_xyz_variability(spark, sf_dir):
    """XYZ demand-variability classification: each part's weekly-demand
    coefficient of variation — ZERO-demand weeks included via the
    global week count, which is what makes intermittent demand score
    high — bucketed into X (steady, CV<0.5), Y (variable, <1), Z
    (erratic). The planning twin of lineitem_abc_pareto: ABC ranks by
    value, XYZ by forecastability, and the ABC x XYZ cross decides
    stocking policy. One part x week aggregate, one part-cardinality
    moment frame, a 1-row week-count broadcast; per-part CVs snap to
    micro-units before the class average so the report is
    partition-order-exact. The week frame is MATERIALIZED and feeds
    both the week-count and the moments — in the shared-SQL form Spark
    inlined the twice-referenced CTE and scanned lineitem twice
    (measured 2x input records in the ledger; DuckDB materializes
    multi-referenced CTEs, Spark does not)."""
    from ..operators.textops import materialize as _mat

    li = tables.load(spark, sf_dir, "lineitem")
    wk = _mat(
        li.select(
            F.col("l_partkey").alias("pk"),
            F.expr(
                "CAST(date_trunc('week', l_shipdate) AS DATE)"
            ).alias("w"),
            F.expr("CAST(l_quantity AS BIGINT)").alias("qq"),
        )
        .groupBy("pk", "w")
        .agg(F.sum("qq").alias("q"))
    )
    span = wk.agg(F.countDistinct("w").alias("nw"))
    m = wk.groupBy("pk").agg(
        F.expr("SUM(q)").alias("sq"), F.expr("SUM(q * q)").alias("sqq")
    )
    cv = m.crossJoin(F.broadcast(span)).select(
        F.expr(
            "SQRT(GREATEST((CAST(sqq AS DOUBLE) - CAST(sq AS DOUBLE) "
            "* sq / nw) / NULLIF(nw - 1, 0), 0.0e0)) "
            "/ (CAST(sq AS DOUBLE) / nw)"
        ).alias("cv")
    )
    return (
        cv.select(
            F.expr(
                "CASE WHEN cv < 0.5e0 THEN 'X' "
                "WHEN cv < 1.0e0 THEN 'Y' ELSE 'Z' END"
            ).alias("xyz_class"),
            "cv",
        )
        .groupBy("xyz_class")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            F.expr(
                rnd(
                    "CAST(SUM(CAST(ROUND(cv * 1.0e6) AS BIGINT)) "
                    "AS DOUBLE) / (1.0e6 * COUNT(*))",
                    4,
                )
            ).alias("avg_cv"),
        )
    )


# --- duplicate-transaction forensic screen ---------------------------------

@query(
    "orders_duplicate_screen",
    oracle=(
        "SELECT o_custkey, o_orderdate, o_totalprice, "
        "COUNT(*) AS n_dupes FROM orders "
        "GROUP BY o_custkey, o_orderdate, o_totalprice "
        "HAVING COUNT(*) > 1"
    ),
)
def orders_duplicate_screen(spark, sf_dir):
    """Duplicate-transaction screen: orders sharing (customer, date,
    exact amount) — the double-charge / double-entry audit every AP
    team runs, next to orders_benford_screen's fabrication test. One
    hash aggregate with HAVING; near-empty output on healthy data is
    the point (TPC-H's price spread makes exact-amount collisions
    rare), and each hit is an investigation ticket. At scale the same
    group-by keys are the natural bucketing for the follow-up
    fuzzy-window pass (same customer, +/-1 day, amount within cents)."""
    o = tables.load(spark, sf_dir, "orders")
    return (
        o.groupBy("o_custkey", "o_orderdate", "o_totalprice")
        .agg(F.count(F.lit(1)).alias("n_dupes"))
        .filter(F.col("n_dupes") > 1)
    )


# --- population stability index (distribution drift) -----------------------

_PSI_SPLIT = "TIMESTAMP '1996-07-01 00:00:00'"

_PSI_BODY = (
    "h AS (SELECT o_orderpriority AS cat, "
    f"CASE WHEN o_orderdate < {_PSI_SPLIT} THEN 1 ELSE 2 END AS half "
    "FROM {o}), "
    "c AS (SELECT cat, "
    "SUM(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS n1, "
    "SUM(CASE WHEN half = 2 THEN 1 ELSE 0 END) AS n2 "
    "FROM h GROUP BY cat), "
    "t AS (SELECT SUM(n1) AS t1, SUM(n2) AS t2 FROM c), "
    "e AS (SELECT cat, n1, n2, "
    "CAST(n1 AS DOUBLE) / t1 AS p1, CAST(n2 AS DOUBLE) / t2 AS p2 "
    "FROM c CROSS JOIN t WHERE n1 > 0 AND n2 > 0), "
    "u AS (SELECT cat, n1, n2, p1, p2, "
    "CAST(ROUND((p2 - p1) * LN(p2 / p1) * 1.0e9) AS BIGINT) AS psi_u "
    "FROM e) "
    "SELECT cat AS orderpriority, CAST(n1 AS BIGINT) AS n_h1, "
    "CAST(n2 AS BIGINT) AS n_h2, "
    + rnd("p1", 6) + " AS share_h1, "
    + rnd("p2", 6) + " AS share_h2, "
    + rnd("CAST(psi_u AS DOUBLE) / 1.0e9", 6) + " AS psi_term, "
    + rnd(
        "CAST((SELECT SUM(psi_u) FROM u) AS DOUBLE) / 1.0e9", 6
    )
    + " AS psi_total FROM u"
)


@query(
    "orders_psi_priority",
    oracle="WITH " + _PSI_BODY.format(o="orders"),
)
def orders_psi_priority(spark, sf_dir):
    """Population stability index of the order-priority mix between the
    two order-history halves: per-category PSI terms (nano-snapped
    before the exact total) plus the headline PSI — THE drift gate ML
    monitoring applies to every feature before trusting a model in
    production (<0.1 stable, 0.1-0.25 drifting, >0.25 retrain). The
    categorical sibling of corpus_source_divergence's KL: one scan,
    one category-cardinality aggregate, a 1-row total broadcast."""
    tables.load(spark, sf_dir, "orders").createOrReplaceTempView(
        "psi_orders"
    )
    return spark.sql("WITH " + _PSI_BODY.format(o="psi_orders"))


# --- fulfillment latency SLA percentiles -----------------------------------

def _fl_pick(q: str) -> str:
    """Exact rank-pick from the (prio, days) histogram: the day value
    whose cumulative count first reaches CEIL(q*n) — identical to the
    ROW_NUMBER pick over raw rows (ties on days are contiguous in the
    sort, so the value at any rank inside a tie run is the run's day)."""
    return (
        f"MAX(CASE WHEN cum - c < CAST(CEIL({q} * n) AS BIGINT) "
        f"AND CAST(CEIL({q} * n) AS BIGINT) <= cum THEN days END)"
    )


def _fl_sql(o: str, l: str, ddiff: str, hint: str = "") -> str:
    """Shared text modulo the datediff spelling: per-priority exact
    latency percentiles via a (priority, days) HISTOGRAM, not a window
    over the joined fact rows. `days` is a small integer domain
    (order-to-ship spans months), so GROUP BY prio, days is a
    map-combined hash aggregate whose output is ~5 x few-hundred rows;
    the mean and the exact CEIL-rank picks then come from a cumulative
    window over that tiny frame. Same exact answers as the rank-pick
    form, but the fact table never funnels through 5 window reducers —
    the round-6 ledger measured that plan EXCEEDED (e=1.425, skew 4.95
    at sf1) once the orders side outgrew the broadcast threshold."""
    return (
        f"lat AS (SELECT {hint}o.o_orderpriority AS prio, "
        f"CAST({ddiff} AS BIGINT) AS days "
        f"FROM {l} l JOIN {o} o ON l.l_orderkey = o.o_orderkey), "
        "h AS (SELECT prio, days, COUNT(*) AS c FROM lat "
        "GROUP BY prio, days), "
        "k AS (SELECT prio, days, c, "
        "SUM(c) OVER (PARTITION BY prio ORDER BY days) AS cum, "
        "SUM(c) OVER (PARTITION BY prio) AS n, "
        "SUM(days * c) OVER (PARTITION BY prio) AS sd FROM h) "
        "SELECT prio AS orderpriority, CAST(MAX(n) AS BIGINT) AS n_lines, "
        + rnd("CAST(MAX(sd) AS DOUBLE) / MAX(n)", 4) + " AS mean_days, "
        + _fl_pick("0.5e0") + " AS p50_days, "
        + _fl_pick("0.9e0") + " AS p90_days, "
        + _fl_pick("0.99e0") + " AS p99_days, "
        "MAX(days) AS max_days FROM k GROUP BY prio"
    )


@query(
    "orders_fulfillment_latency",
    oracle=(
        "WITH "
        + _fl_sql(
            "orders", "lineitem",
            "date_diff('day', o.o_orderdate, l.l_shipdate)",
        )
    ),
)
def orders_fulfillment_latency(spark, sf_dir):
    """Order-fulfillment latency SLA: days from order to each line's
    shipment, summarized per order priority as mean + exact
    deterministic p50/p90/p99/max (histogram rank picks — no approx
    sketches, because SLA attainment is a contractual number). The one
    big-big join in the audit family, pinned to SHUFFLE_HASH on both
    sides so the plan is the SAME at every scale (orders outgrows any
    broadcast threshold long before 100 TB; a plan that flips strategy
    mid-decade is exactly what the round-6 ledger caught). The join
    output collapses immediately into the map-combined (priority, days)
    histogram, so shuffle volume past the join is ~750 rows and the
    window runs over the histogram, never the fact table. Whether
    URGENT orders actually ship faster is precisely what this table
    answers."""
    tables.load(spark, sf_dir, "orders").createOrReplaceTempView(
        "fl_orders"
    )
    tables.load(spark, sf_dir, "lineitem").createOrReplaceTempView(
        "fl_lineitem"
    )
    return spark.sql(
        "WITH "
        + _fl_sql(
            "fl_orders", "fl_lineitem",
            "datediff(l.l_shipdate, o.o_orderdate)",
            hint="/*+ SHUFFLE_HASH(o, l) */ ",
        )
    )


# --- whale curve: revenue concentration by customer decile -----------------

_WHALE_BODY = (
    "cr AS (SELECT o_custkey, "
    f"SUM({cents('o_totalprice')}) AS r FROM {{o}} GROUP BY o_custkey), "
    "rk AS (SELECT r, ROW_NUMBER() OVER (ORDER BY r DESC, o_custkey) "
    "AS rn, COUNT(*) OVER () AS n, SUM(r) OVER () AS tot FROM cr), "
    # exact integer decile cut: decile d covers 10*rn in (n*(d-1), n*d]
    "dd AS (SELECT CAST(CEIL(10.0e0 * rn / n) AS BIGINT) AS decile, "
    "r, n, tot FROM rk), "
    "g AS (SELECT decile, COUNT(*) AS n_customers, SUM(r) AS dr, "
    "MAX(tot) AS tot FROM dd GROUP BY decile) "
    "SELECT decile, CAST(n_customers AS BIGINT) AS n_customers, "
    + money("dr") + " AS decile_revenue, "
    + rnd("CAST(dr AS DOUBLE) / tot", 6) + " AS revenue_share, "
    + rnd(
        "CAST(SUM(dr) OVER (ORDER BY decile "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)"
        " / tot",
        6,
    )
    + " AS cumulative_share FROM g"
)


@query(
    "customer_whale_curve",
    oracle="WITH " + _WHALE_BODY.format(o="orders"),
)
def customer_whale_curve(spark, sf_dir):
    """The whale curve: customers ranked by lifetime revenue, bucketed
    into exact integer-cut deciles (ceil(10*rank/n) — no NTILE tie
    ambiguity), with each decile's revenue share and the cumulative
    share — the executive concentration chart behind 'the top 10% of
    customers are X% of revenue'. One key aggregate, one
    customer-cardinality rank window, a 10-row cumulative pass; revenue
    rides exact cents end to end. Complements
    supplier_concentration_hhi (index form) and
    customer_balance_deciles (balance deciles) with the revenue-curve
    form."""
    tables.load(spark, sf_dir, "orders").createOrReplaceTempView(
        "wh_orders"
    )
    return spark.sql("WITH " + _WHALE_BODY.format(o="wh_orders"))


# --- single-source supply risk ---------------------------------------------

_SSRC_BODY = (
    "ps AS (SELECT l_partkey AS pk, COUNT(DISTINCT l_suppkey) AS n_sup, "
    f"SUM({cents('l_extendedprice')}) AS rev_c FROM {{l}} "
    "GROUP BY l_partkey), "
    "t AS (SELECT SUM(rev_c) AS tot FROM ps) "
    "SELECT CASE WHEN n_sup = 1 THEN 'single_source' "
    "WHEN n_sup = 2 THEN 'dual_source' ELSE 'multi_source' END "
    "AS sourcing, COUNT(*) AS n_parts, "
    + money("SUM(rev_c)") + " AS revenue, "
    + rnd("CAST(SUM(rev_c) AS DOUBLE) / (SELECT tot FROM t)", 6)
    + " AS revenue_share FROM ps GROUP BY 1"
)


@query(
    "part_single_source_risk",
    oracle="WITH " + _SSRC_BODY.format(l="lineitem"),
)
def part_single_source_risk(spark, sf_dir):
    """Supply-chain concentration risk: parts bucketed by how many
    distinct suppliers have actually shipped them (single / dual /
    multi source), with the revenue riding on each bucket — the
    single-source revenue share is the number a supply-risk review
    leads with (one supplier failure strands that much flow). One
    part-cardinality distinct-count aggregate with the exact-cents
    revenue carried alongside — MATERIALIZED, with the grand total on a
    broadcast 1-row frame: the previous shared-SQL form computed the
    total via a scalar subquery, which Spark executes as a separate
    job that recomputed the whole fact aggregate (two full lineitem
    scans per run, measured in the round-7 stage diagnostics)."""
    from ..operators.textops import materialize as _mat

    li = tables.load(spark, sf_dir, "lineitem")
    ps = _mat(
        li.groupBy(F.col("l_partkey").alias("pk")).agg(
            F.countDistinct("l_suppkey").alias("n_sup"),
            F.expr(f"SUM({cents('l_extendedprice')})").alias("rev_c"),
        )
    )
    tot = ps.agg(F.sum("rev_c").alias("tot"))
    return (
        ps.groupBy(
            F.expr(
                "CASE WHEN n_sup = 1 THEN 'single_source' "
                "WHEN n_sup = 2 THEN 'dual_source' "
                "ELSE 'multi_source' END"
            ).alias("sourcing")
        )
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            F.sum("rev_c").alias("rev_sum"),
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "sourcing",
            "n_parts",
            F.expr(money("rev_sum")).alias("revenue"),
            F.expr(
                rnd("CAST(rev_sum AS DOUBLE) / tot", 6)
            ).alias("revenue_share"),
        )
    )


# --- numeric-feature PSI (binned drift) ------------------------------------

_NPSI_BODY = (
    "h AS (SELECT CAST(FLOOR((CAST(l_quantity AS BIGINT) - 1) / 5.0e0) "
    "AS BIGINT) AS bin, "
    f"CASE WHEN l_shipdate < {_PSI_SPLIT} THEN 1 ELSE 2 END AS half "
    "FROM {l}), "
    "c AS (SELECT bin, "
    "SUM(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS n1, "
    "SUM(CASE WHEN half = 2 THEN 1 ELSE 0 END) AS n2 "
    "FROM h GROUP BY bin), "
    "t AS (SELECT SUM(n1) AS t1, SUM(n2) AS t2 FROM c), "
    "e AS (SELECT bin, n1, n2, CAST(n1 AS DOUBLE) / t1 AS p1, "
    "CAST(n2 AS DOUBLE) / t2 AS p2 FROM c CROSS JOIN t "
    "WHERE n1 > 0 AND n2 > 0), "
    "u AS (SELECT bin, n1, n2, p1, p2, "
    "CAST(ROUND((p2 - p1) * LN(p2 / p1) * 1.0e9) AS BIGINT) AS psi_u "
    "FROM e) "
    "SELECT bin, CAST(n1 AS BIGINT) AS n_h1, CAST(n2 AS BIGINT) AS n_h2, "
    + rnd("p1", 6) + " AS share_h1, "
    + rnd("p2", 6) + " AS share_h2, "
    + rnd("CAST(psi_u AS DOUBLE) / 1.0e9", 6) + " AS psi_term, "
    + rnd("CAST((SELECT SUM(psi_u) FROM u) AS DOUBLE) / 1.0e9", 6)
    + " AS psi_total FROM u"
)


@query(
    "lineitem_psi_quantity",
    oracle="WITH " + _NPSI_BODY.format(l="lineitem"),
)
def lineitem_psi_quantity(spark, sf_dir):
    """Numeric-feature PSI: the quantity distribution binned into fixed
    width-5 buckets (explicit FLOOR — the dialect-safe integer binning)
    and compared between the two shipment halves, per-bin terms
    nano-snapped before the exact headline total. With
    orders_psi_priority this completes the drift-monitoring pair every
    feature store runs nightly: categorical mix PSI + binned numeric
    PSI, both one scan + one bin-cardinality aggregate."""
    tables.load(spark, sf_dir, "lineitem").createOrReplaceTempView(
        "npsi_lineitem"
    )
    return spark.sql("WITH " + _NPSI_BODY.format(l="npsi_lineitem"))


# --- revenue waterfall (gross -> discount -> net -> tax -> billed) ---------

_WF_SUMS = (
    "u AS (SELECT "
    f"{cents('l_extendedprice')} AS g_c, "
    f"CAST(ROUND(l_extendedprice * l_discount * 100.0e0) AS BIGINT) "
    "AS d_c, "
    "CAST(ROUND(l_extendedprice * (1.0e0 - l_discount) * l_tax "
    "* 100.0e0) AS BIGINT) AS t_c FROM {l}), "
    "s AS (SELECT SUM(g_c) AS g, SUM(d_c) AS d, SUM(t_c) AS t "
    "FROM u)"
)

_WF_BODY = (
    _WF_SUMS + " "
    "SELECT 1 AS step, 'gross_revenue' AS stage, "
    + money("g") + " AS amount FROM s "
    "UNION ALL SELECT 2, 'discounts_given', " + money("-d") + " FROM s "
    "UNION ALL SELECT 3, 'net_revenue', " + money("(g - d)") + " FROM s "
    "UNION ALL SELECT 4, 'tax_collected', " + money("t") + " FROM s "
    "UNION ALL SELECT 5, 'total_billed', "
    + money("(g - d + t)") + " FROM s"
)


@query(
    "lineitem_revenue_waterfall",
    oracle="WITH " + _WF_BODY.format(l="lineitem"),
)
def lineitem_revenue_waterfall(spark, sf_dir):
    """The finance bridge: gross revenue -> discounts given -> net ->
    tax collected -> total billed, as ordered waterfall rows (TPC-H
    Q1's aggregates re-expressed as the chart finance actually draws).
    Per-row discount/tax amounts snap to cents BEFORE the corpus sums,
    so every stage is an exact BIGINT total and the bridge reconciles
    to the cent; one scan, one 3-scalar aggregate, five rows via an
    IN-ROW stack — the oracle's 5-arm UNION, inlined by Spark, re-ran
    the scan+aggregate once per stage (round-7 scan audit)."""
    tables.load(spark, sf_dir, "lineitem").createOrReplaceTempView(
        "wf_lineitem"
    )
    s = spark.sql(
        "WITH " + _WF_SUMS.format(l="wf_lineitem") + " SELECT * FROM s"
    )
    return s.selectExpr(
        "stack(5, "
        "1, 'gross_revenue', " + money("g") + ", "
        "2, 'discounts_given', " + money("-d") + ", "
        "3, 'net_revenue', " + money("(g - d)") + ", "
        "4, 'tax_collected', " + money("t") + ", "
        "5, 'total_billed', " + money("(g - d + t)")
        + ") AS (step, stage, amount)"
    )


# --- economic order quantity ------------------------------------------------

_EOQ_S = 100.0  # ordering cost per order (literal design parameter)
_EOQ_H = 2.0    # holding cost per unit per period


@query(
    "part_economic_order_quantity",
    oracle=(
        "WITH d AS (SELECT l_partkey AS pk, "
        "SUM(CAST(l_quantity AS BIGINT)) AS demand FROM lineitem "
        "GROUP BY l_partkey) "
        "SELECT pk AS partkey, CAST(demand AS BIGINT) AS total_demand, "
        + rnd(
            f"SQRT(2.0e0 * demand * {_EOQ_S}e0 / {_EOQ_H}e0)", 2
        )
        + " AS eoq_units, "
        + rnd(
            "CAST(demand AS DOUBLE) / "
            f"SQRT(2.0e0 * demand * {_EOQ_S}e0 / {_EOQ_H}e0)",
            2,
        )
        + " AS orders_per_period "
        "FROM d ORDER BY demand DESC, pk LIMIT 20"
    ),
)
def part_economic_order_quantity(spark, sf_dir):
    """Economic order quantity per part (top-20 by demand): the classic
    sqrt(2DS/H) batch size and implied order frequency from observed
    demand, with ordering/holding costs as explicit literal design
    parameters — the prescription step after ABC (value), XYZ
    (variability) and Croston (intermittent rate) have described the
    demand. One part-cardinality aggregate + a top-k heap; at catalog
    scale S and H become columns from a cost dimension and the formula
    is unchanged."""
    li = tables.load(spark, sf_dir, "lineitem")
    d = li.groupBy(F.col("l_partkey").alias("partkey")).agg(
        F.sum(F.col("l_quantity").cast("bigint")).alias("total_demand")
    )
    eoq = f"SQRT(2.0e0 * total_demand * {_EOQ_S}e0 / {_EOQ_H}e0)"
    return (
        d.select(
            "partkey",
            "total_demand",
            F.expr(rnd(eoq, 2)).alias("eoq_units"),
            F.expr(
                rnd(f"CAST(total_demand AS DOUBLE) / {eoq}", 2)
            ).alias("orders_per_period"),
        )
        .orderBy(F.desc("total_demand"), "partkey")
        .limit(20)
    )


# --- intra-part price dispersion -------------------------------------------

_PD_BODY = (
    "u AS (SELECT l_partkey AS pk, "
    "CAST(ROUND(l_extendedprice / l_quantity * 1.0e6) AS BIGINT) AS p_u "
    "FROM {l} WHERE l_quantity > 0.0e0), "
    "m AS (SELECT pk, COUNT(*) AS n, SUM(p_u) AS sp, "
    "SUM(CAST(p_u AS DECIMAL(38,0)) * p_u) AS spp FROM u GROUP BY pk), "
    # GREATEST inside SQRT (DuckDB raises on the tiny negative a double
    # cancellation can leave) + NULLIF on the zero-mean edge
    "cv AS (SELECT pk, n, CAST(sp AS DOUBLE) / (1.0e6 * n) AS mean_price, "
    "SQRT(GREATEST((CAST(spp AS DOUBLE) - CAST(sp AS DOUBLE) * sp / n)"
    " / (n - 1), 0.0e0))"
    " / NULLIF(CAST(sp AS DOUBLE) / n, 0.0e0) AS cv FROM m WHERE n > 1) "
    "SELECT pk AS partkey, CAST(n AS BIGINT) AS n_lines, "
    + rnd("mean_price", 2) + " AS mean_unit_price, "
    + rnd("cv", 6) + " AS price_cv FROM cv "
    "ORDER BY cv DESC, partkey LIMIT 20"
)


@query(
    "part_price_dispersion",
    oracle="WITH " + _PD_BODY.format(l="lineitem"),
)
def part_price_dispersion(spark, sf_dir):
    """Law-of-one-price audit: coefficient of variation of the realized
    unit price (extendedprice/quantity) WITHIN each part, top-20 most
    dispersed — high CV on the same SKU means discount leakage or
    channel pricing drift, the first chart a pricing-discipline review
    pulls. Unit prices snap to micro-units per row; squared sums ride
    DECIMAL(38,0) (price^2 passes int64 at ~10 lines per part); one
    part-cardinality aggregate + a top-k heap."""
    tables.load(spark, sf_dir, "lineitem").createOrReplaceTempView(
        "pd_lineitem"
    )
    return spark.sql("WITH " + _PD_BODY.format(l="pd_lineitem"))


# --- gamma fit of inter-order times ----------------------------------------

_GAMMA_BODY = (
    "o2 AS (SELECT o_custkey, o_orderdate, "
    "LAG(o_orderdate) OVER (PARTITION BY o_custkey "
    "ORDER BY o_orderdate, o_orderkey) AS prev FROM {o}), "
    "g AS (SELECT CAST({ddiff} AS BIGINT) AS gap FROM o2 "
    "WHERE prev IS NOT NULL AND {ddiff} > 0), "
    "m AS (SELECT COUNT(*) AS n, SUM(gap) AS sg, "
    "SUM(gap * gap) AS sgg FROM g), "
    # NULLIF guards: a 0/1-gap corpus zeroes (n-1); identical gaps zero
    # the variance (shape undefined) — NULL, never an ANSI throw; the
    # GREATEST inside SQRT absorbs double-cancellation negatives
    "p AS (SELECT n, CAST(sg AS DOUBLE) / NULLIF(n, 0) AS mu, "
    "(CAST(sgg AS DOUBLE) - CAST(sg AS DOUBLE) * sg / NULLIF(n, 0)) "
    "/ NULLIF(n - 1, 0) AS v FROM m) "
    "SELECT CAST(n AS BIGINT) AS n_gaps, "
    + rnd("mu", 4) + " AS mean_gap_days, "
    + rnd("mu * mu / NULLIF(v, 0.0e0)", 6) + " AS gamma_shape_k, "
    + rnd("v / NULLIF(mu, 0.0e0)", 4) + " AS gamma_scale_theta, "
    + rnd("SQRT(GREATEST(v, 0.0e0)) / NULLIF(mu, 0.0e0)", 6)
    + " AS gap_cv FROM p"
)


@query(
    "orders_interorder_gamma_fit",
    oracle=(
        "WITH "
        + _GAMMA_BODY.format(
            o="orders", ddiff="date_diff('day', prev, o_orderdate)"
        )
    ),
)
def orders_interorder_gamma_fit(spark, sf_dir):
    """Gamma fit of customer inter-order times by method of moments
    (shape k = mu^2/var, scale theta = var/mu): k near 1 means
    memoryless Poisson-like ordering; k > 1 means regular cadence
    worth a replenishment-timing campaign; the CV says the same thing
    distribution-free. The purchase-process analog of the weather
    Gumbel fit — one lag window on the customer key, exact integer gap
    moments, closed forms on one row."""
    tables.load(spark, sf_dir, "orders").createOrReplaceTempView(
        "gm_orders"
    )
    return spark.sql(
        "WITH "
        + _GAMMA_BODY.format(
            o="gm_orders", ddiff="datediff(o_orderdate, prev)"
        )
    )


# --- duplicate event-delivery audit ----------------------------------------

@query(
    "events_duplicate_delivery",
    oracle=(
        "WITH " + tables.EVENTS_ORACLE_CTE + ", "
        "g AS (SELECT user_id, ts, event_type, value, COUNT(*) AS n "
        "FROM events_t GROUP BY user_id, ts, event_type, value), "
        "t AS (SELECT COUNT(*) AS n_groups, "
        "SUM(CASE WHEN n > 1 THEN 1 ELSE 0 END) AS n_dup_groups, "
        "SUM(CASE WHEN n > 1 THEN n - 1 ELSE 0 END) AS n_extra_rows, "
        "SUM(n) AS n_rows, MAX(n) AS max_copies FROM g) "
        "SELECT CAST(n_rows AS BIGINT) AS n_rows, "
        "CAST(n_dup_groups AS BIGINT) AS n_dup_groups, "
        "CAST(n_extra_rows AS BIGINT) AS n_extra_rows, "
        "CAST(max_copies AS BIGINT) AS max_copies, "
        + rnd("CAST(n_extra_rows AS DOUBLE) / n_rows", 6)
        + " AS duplicate_rate FROM t"
    ),
)
def events_duplicate_delivery(spark, sf_dir):
    """Duplicate-delivery audit on the event stream: rows identical in
    (user, timestamp, type, value) but carrying different event_ids —
    exactly what an at-least-once producer retry creates, and the
    number that justifies dropDuplicatesWithinWatermark's state budget
    on the streaming path (w/streaming/twins.py deduped_stream). Zero
    on the clean fixtures BY DESIGN — this gate proves absence after
    every load, one content-keyed aggregate."""
    tables.load(spark, sf_dir, "events").createOrReplaceTempView(
        "dd_events"
    )
    return spark.sql(
        "WITH g AS (SELECT user_id, ts, event_type, value, COUNT(*) AS n "
        "FROM dd_events GROUP BY user_id, ts, event_type, value), "
        "t AS (SELECT COUNT(*) AS n_groups, "
        "SUM(CASE WHEN n > 1 THEN 1 ELSE 0 END) AS n_dup_groups, "
        "SUM(CASE WHEN n > 1 THEN n - 1 ELSE 0 END) AS n_extra_rows, "
        "SUM(n) AS n_rows, MAX(n) AS max_copies FROM g) "
        "SELECT CAST(n_rows AS BIGINT) AS n_rows, "
        "CAST(n_dup_groups AS BIGINT) AS n_dup_groups, "
        "CAST(n_extra_rows AS BIGINT) AS n_extra_rows, "
        "CAST(max_copies AS BIGINT) AS max_copies, "
        + rnd("CAST(n_extra_rows AS DOUBLE) / n_rows", 6)
        + " AS duplicate_rate FROM t"
    )


# --- customer-concentration trend (HHI by year) ----------------------------

_HHIT_BODY = (
    "cy AS (SELECT CAST(year(o_orderdate) AS BIGINT) AS yr, o_custkey, "
    f"SUM({cents('o_totalprice')}) AS r FROM {{o}} "
    "GROUP BY 1, o_custkey), "
    "t AS (SELECT yr, SUM(r) AS tot, COUNT(*) AS n_cust FROM cy "
    "GROUP BY yr), "
    "u AS (SELECT cy.yr, "
    "CAST(ROUND(POW(CAST(cy.r AS DOUBLE) / t.tot, 2.0e0) * 1.0e12) "
    "AS BIGINT) AS s2_u FROM cy JOIN t ON t.yr = cy.yr) "
    "SELECT u.yr AS order_year, CAST(MAX(t.n_cust) AS BIGINT) "
    "AS n_customers, "
    + rnd("CAST(SUM(u.s2_u) AS DOUBLE) / 1.0e12", 8)
    + " AS hhi FROM u JOIN t ON t.yr = u.yr GROUP BY u.yr"
)


@query(
    "customer_hhi_trend",
    oracle="WITH " + _HHIT_BODY.format(o="orders"),
)
def customer_hhi_trend(spark, sf_dir):
    """Customer revenue concentration over time: per-order-year
    Herfindahl index of customer revenue shares (squared shares snapped
    to pico-units before the exact sum) — a rising HHI means revenue is
    concentrating into fewer accounts (key-account risk), the trend
    view the static whale curve and per-nation HHI don't give. One
    (year x customer) aggregate, year-cardinality totals broadcast
    back."""
    tables.load(spark, sf_dir, "orders").createOrReplaceTempView(
        "ht_orders"
    )
    return spark.sql("WITH " + _HHIT_BODY.format(o="ht_orders"))


# --- skyline (Pareto-dominance frontier) -----------------------------------

_SKYLINE_ORACLE = (
    "SELECT p_partkey, p_retailprice AS price, p_size AS size FROM part a "
    "WHERE NOT EXISTS (SELECT 1 FROM part b "
    "WHERE b.p_retailprice <= a.p_retailprice AND b.p_size >= a.p_size "
    "AND (b.p_retailprice < a.p_retailprice OR b.p_size > a.p_size))"
)


@query("part_skyline_frontier", oracle=_SKYLINE_ORACLE)
def part_skyline_frontier(spark, sf_dir):
    """SKYLINE query (Pareto-dominance frontier): every part for which
    no other part is both cheaper-or-equal AND bigger-or-equal with at
    least one strict improvement — the multi-objective shortlist
    (minimize price, maximize size) that no single ORDER BY can
    produce. The textbook formulation is the oracle's NOT EXISTS
    anti-join: O(n^2) comparisons, catastrophic at 100 TB. The 2-D
    skyline instead distributes as a TWO-PHASE sorted pass (same shape
    as the distributed prefix sum): prices hash into fixed-width range
    buckets; phase 1 is a PARTITIONED window per bucket (running
    strict-predecessor max size over the per-price aggregate); phase 2
    reduces each bucket to one max-size row — only that B-row frame
    crosses a single-partition window, then broadcast-joins back. A
    part survives iff it holds its price's max size AND beats every
    strictly-cheaper price's best, in-bucket (phase-1 frame) and
    across cheaper buckets (phase-2 frame; bucket width guarantees
    every price there is strictly lower). The fact table is touched by
    one scan and one broadcast probe — never a self-join, never a
    table-sized single-partition sort. Equal (price, size) twins don't
    dominate each other and all survive, identically in both engines
    (exact parquet doubles compared, no arithmetic)."""
    p = tables.load(spark, sf_dir, "part").select(
        "p_partkey",
        F.col("p_retailprice").alias("price"),
        F.col("p_size").alias("size"),
    )
    per_price = p.groupBy("price").agg(
        F.max("size").alias("mx"),
        F.expr("CAST(FLOOR(price / 64.0e0) AS BIGINT)").alias("b"),
    )
    w_local = (
        Window.partitionBy("b")
        .orderBy("price")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    local = per_price.withColumn("run_lt", F.max("mx").over(w_local))
    bucket_max = per_price.groupBy("b").agg(F.max("mx").alias("bmx"))
    w_bucket = Window.orderBy("b").rowsBetween(
        Window.unboundedPreceding, -1
    )
    bucket_run = bucket_max.withColumn(
        "brun_lt", F.max("bmx").over(w_bucket)
    ).select("b", "brun_lt")
    frontier_prices = local.join(F.broadcast(bucket_run), "b").select(
        "price",
        "mx",
        F.greatest(
            F.coalesce("run_lt", F.lit(-(1 << 62))),
            F.coalesce("brun_lt", F.lit(-(1 << 62))),
        ).alias("best_cheaper"),
    )
    return (
        p.join(F.broadcast(frontier_prices), "price")
        .filter(
            (F.col("size") == F.col("mx"))
            & (F.col("size") > F.col("best_cheaper"))
        )
        .select("p_partkey", "price", "size")
    )


# --- snapshot schema/distribution drift audit ------------------------------

#: reference/current snapshot boundary (mid-range of the fixture month;
#: in production this is yesterday's partition vs today's)
_DRIFT_SPLIT = "TIMESTAMP '2024-01-16 00:00:00'"

#: PSI >= 0.1 is the conventional "investigate" threshold
_DRIFT_T = "0.1e0"


def _psi_cte(src: str, tag: str) -> str:
    """Population-stability-index CTE chain over an (is_ref, key) frame:
    per-key ref/cur counts, Laplace-smoothed shares (+1 over observed
    keys, so empty-side keys stay finite), and the PSI sum carried in
    exact 1e-9 integer units (per-key LN snapped to 1e-5 units first —
    the libm-ulp doctrine — so the cross-key sum is integer-exact in
    both engines)."""
    p = f"(CAST(r + 1 AS DOUBLE) / (tr + k))"
    q = f"(CAST(c + 1 AS DOUBLE) / (tc + k))"
    lnu = f"CAST(ROUND(LN({p} / {q}) * 1.0e5) AS BIGINT)"
    contrib = (
        f"CAST(ROUND((({p} - {q}) * (CAST({lnu} AS DOUBLE) / 1.0e5)) "
        "* 1.0e9) AS BIGINT)"
    )
    return (
        f"{tag}g AS (SELECT key, "
        "SUM(CASE WHEN is_ref THEN 1 ELSE 0 END) AS r, "
        "SUM(CASE WHEN is_ref THEN 0 ELSE 1 END) AS c "
        f"FROM {src} GROUP BY key), "
        f"{tag}t AS (SELECT SUM(r) AS tr, SUM(c) AS tc, COUNT(*) AS k "
        f"FROM {tag}g), "
        f"{tag}p AS (SELECT SUM({contrib}) AS cu "
        f"FROM {tag}g CROSS JOIN {tag}t)"
    )


def _drift_sql(e: str) -> str:
    return (
        f"WITH h AS (SELECT (ts < {_DRIFT_SPLIT}) AS is_ref, "
        f"value, event_type, user_id FROM {e}), "
        + _drift_tail_sql()
    )


def _drift_tail_sql() -> str:
    """Everything downstream of the h projection — shared by the
    oracle (DuckDB materializes the multi-referenced h CTE itself) and
    the Spark side (which materializes h as a persisted frame first:
    inlined, the five h references re-scanned the fact table once each
    — 7 scans measured in the round-7 audit)."""
    psi = rnd("CAST(cu AS DOUBLE) / 1.0e9", 6)
    # a constant-valued reference column has no usable bin width: NULLIF
    # keeps the division from degenerating (all rows collapse to one
    # NULL-key bucket instead of erroring), and the value row's PSI is
    # forced NULL so the column reads as "unmeasurable", not "stable"
    vpsi = (
        "CASE WHEN (SELECT mx > mn FROM s) THEN "
        + psi
        + " ELSE CAST(NULL AS DOUBLE) END"
    )
    return (
        "s AS (SELECT MIN(value) AS mn, MAX(value) AS mx "
        "FROM h WHERE is_ref), "
        "vb AS (SELECT is_ref, LEAST(9, GREATEST(0, "
        "CAST(FLOOR((value - mn) / (NULLIF(mx - mn, 0.0e0) / 10.0e0)) "
        "AS INT))) "
        "AS key FROM h CROSS JOIN s WHERE value IS NOT NULL), "
        "cb AS (SELECT is_ref, event_type AS key FROM h "
        "WHERE event_type IS NOT NULL), "
        + _psi_cte("vb", "v")
        + ", "
        + _psi_cte("cb", "c")
        + ", "
        "n AS (SELECT "
        "SUM(CASE WHEN is_ref THEN 1 ELSE 0 END) AS nr, "
        "SUM(CASE WHEN is_ref THEN 0 ELSE 1 END) AS nc, "
        "SUM(CASE WHEN is_ref AND value IS NULL THEN 1 ELSE 0 END) "
        "AS vnull_r, "
        "SUM(CASE WHEN (NOT is_ref) AND value IS NULL THEN 1 ELSE 0 END) "
        "AS vnull_c, "
        "SUM(CASE WHEN is_ref AND event_type IS NULL THEN 1 ELSE 0 END) "
        "AS tnull_r, "
        "SUM(CASE WHEN (NOT is_ref) AND event_type IS NULL "
        "THEN 1 ELSE 0 END) AS tnull_c, "
        "SUM(CASE WHEN is_ref AND user_id IS NULL THEN 1 ELSE 0 END) "
        "AS unull_r, "
        "SUM(CASE WHEN (NOT is_ref) AND user_id IS NULL "
        "THEN 1 ELSE 0 END) AS unull_c, "
        "COUNT(DISTINCT CASE WHEN is_ref THEN value END) AS vd_r, "
        "COUNT(DISTINCT CASE WHEN NOT is_ref THEN value END) AS vd_c, "
        "COUNT(DISTINCT CASE WHEN is_ref THEN event_type END) AS td_r, "
        "COUNT(DISTINCT CASE WHEN NOT is_ref THEN event_type END) "
        "AS td_c, "
        "COUNT(DISTINCT CASE WHEN is_ref THEN user_id END) AS ud_r, "
        "COUNT(DISTINCT CASE WHEN NOT is_ref THEN user_id END) AS ud_c "
        "FROM h) "
        "SELECT 'value' AS col, "
        + rnd("CAST(vnull_r AS DOUBLE) / nr", 6)
        + " AS null_rate_ref, "
        + rnd("CAST(vnull_c AS DOUBLE) / nc", 6)
        + " AS null_rate_cur, "
        "CAST(vd_r AS BIGINT) AS n_distinct_ref, "
        "CAST(vd_c AS BIGINT) AS n_distinct_cur, "
        f"{vpsi} AS psi, {vpsi} >= {_DRIFT_T} AS drift "
        "FROM n CROSS JOIN vp "
        "UNION ALL "
        "SELECT 'event_type' AS col, "
        + rnd("CAST(tnull_r AS DOUBLE) / nr", 6)
        + ", "
        + rnd("CAST(tnull_c AS DOUBLE) / nc", 6)
        + ", CAST(td_r AS BIGINT), CAST(td_c AS BIGINT), "
        f"{psi}, {psi} >= {_DRIFT_T} "
        "FROM n CROSS JOIN cp "
        "UNION ALL "
        "SELECT 'user_id' AS col, "
        + rnd("CAST(unull_r AS DOUBLE) / nr", 6)
        + ", "
        + rnd("CAST(unull_c AS DOUBLE) / nc", 6)
        + ", CAST(ud_r AS BIGINT), CAST(ud_c AS BIGINT), "
        "CAST(NULL AS DOUBLE), CAST(NULL AS BOOLEAN) FROM n"
    )


@query("dq_schema_drift", oracle=_drift_sql("events"))
def dq_schema_drift(spark, sf_dir):
    """Snapshot-over-snapshot drift audit — the data-contract check a
    pipeline runs before letting today's partition into the training
    mix: for each monitored column, null rates and distinct counts in
    the reference vs current half, plus the population stability index
    (PSI) of the value distribution (10 equal-width bins anchored on
    the REFERENCE half's range for numerics, observed categories for
    strings; Laplace-smoothed so one-sided keys stay finite). PSI >=
    0.1 flags the column for investigation, >= 0.25 in practice blocks
    the load. One pass over the fact table feeds every CTE: the two
    PSI aggregates are key-cardinality (bounded by 10 bins / the
    category domain), the null/distinct scan is a single grouped
    aggregate — nothing here exceeds broadcast size at 100 TB, and the
    identical SQL text runs in both engines (the audit itself is
    engine-portable, which is what you want from a contract check).
    Per-key log terms snap to 1e-5 integer units before the cross-key
    sum, so the PSI hashes bit-identically. The Spark side MATERIALIZES
    the 4-column fact projection once: the tail's five references to it
    (range stats, value bins, category frame, null/distinct aggregate,
    user frame) would otherwise each inline to their own fact scan —
    the round-7 audit measured 7 scans per run."""
    from ..operators.textops import materialize as _mat

    tables.load(spark, sf_dir, "events").createOrReplaceTempView(
        "drift_events"
    )
    h = _mat(
        spark.sql(
            f"SELECT (ts < {_DRIFT_SPLIT}) AS is_ref, "
            "value, event_type, user_id FROM drift_events"
        )
    )
    h.createOrReplaceTempView("drift_h")
    return spark.sql(
        "WITH h AS (SELECT * FROM drift_h), " + _drift_tail_sql()
    )


# --- probabilistic record linkage (Fellegi-Sunter) -------------------------

#: the projected linkage frame: key, name, a synthesized deterministic
#: phone (the fixture has no phone column; id_mix digits keyed by
#: custkey give every record a stable high-entropy attribute), exact
#: cents balance, nation, segment.
_RL_BASE = (
    "SELECT c_custkey AS k, c_name, "
    "CAST(10 + c_nationkey AS STRING) || '-' || "
    f"lpad(CAST({id_mix('c_custkey', 3)} % 10000000 AS STRING), 7, '0') "
    "AS c_phone, "
    f"{cents('c_acctbal')} AS bal_c, c_nationkey, c_mktsegment "
    "FROM {c}"
)


def _rl_weight_term(field: str) -> str:
    """Per-field Fellegi-Sunter log-weight, Laplace-smoothed so zero
    counts stay finite, each libm LOG2 snapped to integer 1e-5 units
    BEFORE the cross-field sum (the entropy-term doctrine)."""
    m = f"((t_{field} + 1.0e0) / (t_n + 2))"
    u = f"((u_{field} + 1.0e0) / (u_n + 2))"
    return (
        f"CASE WHEN a_{field} = 1 "
        f"THEN CAST(ROUND(LOG2({m} / {u}) * 1.0e5) AS BIGINT) "
        f"ELSE CAST(ROUND(LOG2((1.0e0 - {m}) / (1.0e0 - {u})) "
        "* 1.0e5) AS BIGINT) END"
    )


_RL_BODY = (
    # every 7th customer gets a corrupted duplicate: char 12 of the
    # name overwritten (1 in 3), last phone digit destroyed (1 in 2),
    # balance shifted past the closeness threshold (1 in 5), segment
    # replaced (1 in 4) — so every m-probability is strictly inside
    # (0, 1) and the agreement patterns are informative.
    "dirty AS (SELECT k AS src, "
    "CASE WHEN k % 3 = 0 THEN substring(c_name, 1, 11) || 'X' || "
    "substring(c_name, 13) ELSE c_name END AS d_name, "
    "CASE WHEN k % 2 = 0 THEN substring(c_phone, 1, "
    "length(c_phone) - 1) || 'Z' ELSE c_phone END AS d_phone, "
    "bal_c + CASE WHEN k % 5 = 0 THEN 250 ELSE 7 END AS d_bal, "
    "CASE WHEN k % 4 = 0 THEN 'CORRUPTED' ELSE c_mktsegment END "
    "AS d_seg, "
    "c_nationkey AS d_nat, substring(c_phone, 1, 6) AS d_blk "
    "FROM {b} WHERE k % 7 = 0), "
    # blocking join: nation + 6-char phone prefix (never corrupted, so
    # blocking recall is 1 by construction); candidate space is
    # Sum_blocks |dirty_b| x |base_b| — linear in n for fixed key
    # entropy, never all-pairs.
    "cand AS (SELECT b.k AS b_key, d.src, b.k = d.src AS is_match, "
    "CASE WHEN substring(b.c_name, 1, 12) = substring(d.d_name, 1, 12) "
    "THEN 1 ELSE 0 END AS a_name, "
    "CASE WHEN b.c_phone = d.d_phone THEN 1 ELSE 0 END AS a_phone, "
    "CASE WHEN abs(b.bal_c - d.d_bal) <= 100 THEN 1 ELSE 0 END "
    "AS a_bal, "
    "CASE WHEN b.c_mktsegment = d.d_seg THEN 1 ELSE 0 END AS a_seg "
    "FROM dirty d JOIN {b} b ON b.c_nationkey = d.d_nat "
    "AND substring(b.c_phone, 1, 6) = d.d_blk), "
    "mx AS (SELECT MAX(k) AS maxk FROM {b}), "
    # u-probabilities from deterministic pseudo-random cross pairs
    # (one partner per dirty record), the standard random-pair
    # estimator — blocked nonmatch pairs alone are too few at small n.
    "upairs AS (SELECT "
    "CASE WHEN substring(b.c_name, 1, 12) = substring(d.d_name, 1, 12) "
    "THEN 1 ELSE 0 END AS a_name, "
    "CASE WHEN b.c_phone = d.d_phone THEN 1 ELSE 0 END AS a_phone, "
    "CASE WHEN abs(b.bal_c - d.d_bal) <= 100 THEN 1 ELSE 0 END "
    "AS a_bal, "
    "CASE WHEN b.c_mktsegment = d.d_seg THEN 1 ELSE 0 END AS a_seg "
    "FROM dirty d CROSS JOIN mx JOIN {b} b "
    "ON b.k = (d.src * 31 + 17) % mx.maxk + 1), "
    "tstats AS (SELECT COUNT(*) AS t_n, SUM(a_name) AS t_name, "
    "SUM(a_phone) AS t_phone, SUM(a_bal) AS t_bal, SUM(a_seg) AS t_seg "
    "FROM cand WHERE is_match), "
    "ustats AS (SELECT COALESCE(COUNT(*), 0) AS u_n, "
    "COALESCE(SUM(a_name), 0) AS u_name, "
    "COALESCE(SUM(a_phone), 0) AS u_phone, "
    "COALESCE(SUM(a_bal), 0) AS u_bal, "
    "COALESCE(SUM(a_seg), 0) AS u_seg FROM upairs), "
    "pat AS (SELECT a_name, a_phone, a_bal, a_seg, "
    "COUNT(*) AS n_pairs, "
    "SUM(CASE WHEN is_match THEN 1 ELSE 0 END) AS n_true "
    "FROM cand GROUP BY a_name, a_phone, a_bal, a_seg) "
    "SELECT a_name, a_phone, a_bal, a_seg, n_pairs, n_true, "
    + " + ".join(_rl_weight_term(f) for f in ["name", "phone", "bal", "seg"])
    + " AS weight_units, "
    + " + ".join(_rl_weight_term(f) for f in ["name", "phone", "bal", "seg"])
    + " > 0 AS is_link, "
    "CAST(n_true AS DOUBLE) / n_pairs AS match_frac "
    "FROM pat CROSS JOIN tstats CROSS JOIN ustats"
)


@query(
    "customer_record_linkage",
    oracle=(
        "WITH base AS (" + _RL_BASE.format(c="customer") + "), "
        + _RL_BODY.format(b="base")
    ),
)
def customer_record_linkage(spark, sf_dir):
    """Probabilistic record linkage (Fellegi-Sunter 1969) — the entity-
    resolution family: a deterministically-corrupted duplicate of every
    7th customer is linked back against the clean table. The three
    pillars of a production linker are all here and all relational:
    BLOCKING (nation + uncorrupted phone prefix — candidate pairs are
    per-block products, never the n^2 cross join; recall 1 by
    construction since corruption spares the block key), AGREEMENT
    VECTORS (name-prefix / phone-exact / balance-within-epsilon /
    segment-exact per candidate pair), and MATCH WEIGHTS (per-field
    m-probabilities counted over planted true pairs, u-probabilities
    over deterministic pseudo-random cross pairs, Laplace-smoothed,
    log2 likelihood ratios snapped to integer 1e-5 units before
    summing — the entropy-term doctrine, so the pattern weights are
    exact integers cross-engine). Output is the 16-row agreement-
    pattern lattice with pair counts, planted-truth counts, total
    weight and the accept decision — precision/recall of any threshold
    reads directly off it. At 100 TB the same plan holds: the pair
    space is blocked, field stats are 1-row broadcasts, and the
    pattern lattice is constant-size. The base frame is materialized
    once Spark-side (4 references would otherwise re-scan parquet —
    the round-7 single-scan doctrine)."""
    base = T.materialize(
        tables.load(spark, sf_dir, "customer").selectExpr(
            "c_custkey AS k",
            "c_name",
            "CAST(10 + c_nationkey AS STRING) || '-' || "
            f"lpad(CAST({id_mix('c_custkey', 3)} % 10000000 AS STRING), "
            "7, '0') AS c_phone",
            f"{cents('c_acctbal')} AS bal_c",
            "c_nationkey",
            "c_mktsegment",
        )
    )
    base.createOrReplaceTempView("rl_base")
    return spark.sql("WITH " + _RL_BODY.format(b="rl_base"))
