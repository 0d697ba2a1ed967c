"""Relational completeness on the star schema (M2 of SURVEY.md §7).

The reference has no joins/set-ops/windows (SURVEY §2.6) — these are the
engine's extension surface, built for the 100 TB case:

- dimension joins carry explicit `broadcast()` hints (region/nation/
  supplier are tiny at every scale factor — TPC-H dims grow slowly);
- fact-fact joins (orders⋈lineitem) are shuffle hash/sort-merge on the
  join key; AQE (enabled in session) coalesces and splits skew at runtime;
- top-k compiles to TakeOrderedAndProject (no global sort);
- windows partition by high-cardinality keys (user_id) so state stays
  bounded per partition.

Float determinism: money columns are exactly-2-decimal doubles; every
cross-row SUM goes through `CAST(ROUND(x * 100e0) AS BIGINT)` ("cents
trick") so partial-aggregation order cannot perturb the result — exact
under any partitioning, and bit-identical to the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from .. import tables
from ..functions.exprs import cents, money, rnd
from ..registry import query


_SUM_ACCTBAL = money(f"SUM({cents('c_acctbal')})")
_SUM_TOTALPRICE = money(f"SUM({cents('o_totalprice')})")
_SUM_RETAILPRICE = money(f"SUM({cents('p_retailprice')})")


# --- TPC-H Q1: pricing summary ------------------------------------------
_Q1_AGGS = {
    "sum_qty": "CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT)",
    "sum_base_price": money(f"SUM({cents('l_extendedprice')})"),
    "sum_disc_price": rnd(
        "CAST(SUM(CAST(ROUND(l_extendedprice * (1.0e0 - l_discount) "
        "* 10000.0e0) AS BIGINT)) AS DOUBLE) / 10000.0e0",
        2,
    ),
    "sum_charge": rnd(
        "CAST(SUM(CAST(ROUND(l_extendedprice * (1.0e0 - l_discount) "
        "* (1.0e0 + l_tax) * 1000000.0e0) AS BIGINT)) AS DOUBLE) "
        "/ 1000000.0e0",
        2,
    ),
    "avg_qty": rnd(
        "CAST(SUM(CAST(l_quantity AS BIGINT)) AS DOUBLE) / COUNT(*)", 2
    ),
    "avg_price": rnd(
        f"CAST(SUM({cents('l_extendedprice')}) AS DOUBLE) "
        "/ (100.0e0 * COUNT(*))",
        2,
    ),
    "avg_disc": rnd(
        "CAST(SUM(CAST(ROUND(l_discount * 100.0e0) AS BIGINT)) "
        "AS DOUBLE) / (100.0e0 * COUNT(*))",
        4,
    ),
    "count_order": "COUNT(*)",
}


@query(
    "tpch_q1_pricing_summary",
    oracle=(
        "SELECT l_returnflag, l_linestatus, "
        + ", ".join(f"{e} AS {k}" for k, e in _Q1_AGGS.items())
        + " FROM lineitem WHERE l_shipdate <= TIMESTAMP '2001-09-02 00:00:00'"
        " GROUP BY l_returnflag, l_linestatus"
    ),
)
def tpch_q1_pricing_summary(spark, sf_dir):
    """TPC-H Q1 shape: scan-heavy grouped aggregation, 6 groups.
    Map-side partial agg reduces the shuffle to (partitions x 6) rows;
    the date filter pushes down to the parquet scan."""
    li = tables.load(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.expr("to_timestamp_ntz('2001-09-02 00:00:00')"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(*[F.expr(e).alias(k) for k, e in _Q1_AGGS.items()])
    )


# --- TPC-H Q6 shape: forecast revenue change ------------------------------
@query(
    "tpch_q6_forecast_revenue",
    oracle=(
        "SELECT "
        + money(
            "SUM(CAST(ROUND(l_extendedprice * l_discount * 10000.0e0) "
            "AS BIGINT)) // 100"
        )
        + " AS revenue, COUNT(*) AS n_items FROM lineitem "
        "WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00' "
        "AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00' "
        "AND l_discount BETWEEN 0.03e0 AND 0.05e0 "
        "AND l_quantity < 24"
    ),
)
def tpch_q6_forecast_revenue(spark, sf_dir):
    """TPC-H Q6 shape: pure filter + global aggregate — the canonical
    predicate-pushdown showcase. All four predicates reach the parquet
    scan (PushedFilters), the aggregation is a 1-row map-side partial;
    at 100 TB this query's cost is exactly the bytes the scan cannot
    skip."""
    li = tables.load(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.expr("to_timestamp_ntz('1997-01-01 00:00:00')"))
            & (F.col("l_shipdate") < F.expr("to_timestamp_ntz('1998-01-01 00:00:00')"))
            & (F.col("l_discount").between(0.03, 0.05))
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.expr(
                money(
                    "SUM(CAST(ROUND(l_extendedprice * l_discount "
                    "* 10000.0e0) AS BIGINT)) div 100"
                )
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


# --- TPC-H Q3 shape: shipping-priority top-k ----------------------------
_Q3_REV = (
    "SUM(CAST(ROUND(l_extendedprice * (1.0e0 - l_discount) * 10000.0e0) "
    "AS BIGINT))"
)


@query(
    "tpch_q3_order_revenue",
    oracle=(
        "SELECT o_orderkey, o_orderdate, "
        f"{money(f'({_Q3_REV}) // 100')} AS revenue "
        "FROM customer JOIN orders ON c_custkey = o_custkey "
        "JOIN lineitem ON l_orderkey = o_orderkey "
        "WHERE c_mktsegment = 'BUILDING' "
        "AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00' "
        "AND l_shipdate > TIMESTAMP '1998-01-01 00:00:00' "
        "GROUP BY o_orderkey, o_orderdate "
        "ORDER BY revenue DESC, o_orderkey LIMIT 10"
    ),
)
def tpch_q3_order_revenue(spark, sf_dir):
    """TPC-H Q3 shape: selective dim filter -> fact join -> grouped
    revenue -> top-10. customer(filtered) broadcasts; orders⋈lineitem is
    the only shuffle. Tie-break on o_orderkey => total order."""
    c = tables.load(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    o = tables.load(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.expr("to_timestamp_ntz('1998-01-01 00:00:00')")
    )
    li = tables.load(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.expr("to_timestamp_ntz('1998-01-01 00:00:00')")
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("o_orderkey", "o_orderdate")
        .agg(F.expr(f"{money(f'({_Q3_REV}) div 100')}").alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("o_orderkey"))
        .limit(10)
    )


# --- TPC-H Q5 shape: regional revenue through a 6-way star join ----------
@query(
    "tpch_q5_regional_revenue",
    oracle=(
        "SELECT n_name, "
        f"{money(f'({_Q3_REV}) // 100')} AS revenue "
        "FROM customer "
        "JOIN orders ON c_custkey = o_custkey "
        "JOIN lineitem ON l_orderkey = o_orderkey "
        "JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey "
        "JOIN nation ON s_nationkey = n_nationkey "
        "JOIN region ON n_regionkey = r_regionkey "
        "WHERE r_name IN ('ASIA', 'EUROPE') "
        "GROUP BY n_name"
    ),
)
def tpch_q5_regional_revenue(spark, sf_dir):
    """TPC-H Q5 shape: all three dimension hops broadcast (supplier,
    nation, region are tiny); only orders⋈lineitem shuffles. The
    c_nationkey = s_nationkey local-supplier predicate rides on the
    supplier broadcast join."""
    t = tables.load_all(spark, sf_dir)
    return (
        t["lineitem"]
        .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
        .join(
            F.broadcast(t["supplier"]),
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(F.broadcast(t["nation"]), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(t["region"]), F.col("n_regionkey") == F.col("r_regionkey"))
        .filter(F.col("r_name").isin("ASIA", "EUROPE"))
        .groupBy("n_name")
        .agg(F.expr(f"{money(f'({_Q3_REV}) div 100')}").alias("revenue"))
    )


# --- broadcast dim join: customers per region ---------------------------
@query(
    "join_broadcast_region_customers",
    oracle=(
        "SELECT r_name, COUNT(*) AS n_customers, "
        + _SUM_ACCTBAL
        + " AS total_acctbal "
        "FROM customer JOIN nation ON c_nationkey = n_nationkey "
        "JOIN region ON n_regionkey = r_regionkey GROUP BY r_name"
    ),
)
def join_broadcast_region_customers(spark, sf_dir):
    t = tables.load_all(spark, sf_dir)
    return (
        t["customer"]
        .join(F.broadcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(t["region"]), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("r_name")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.expr(_SUM_ACCTBAL).alias("total_acctbal"),
        )
    )


# --- semi / anti joins ---------------------------------------------------
@query(
    "join_semi_customers_with_orders",
    oracle=(
        "SELECT c_mktsegment, COUNT(*) AS n FROM customer "
        "WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey) "
        "GROUP BY c_mktsegment"
    ),
)
def join_semi_customers_with_orders(spark, sf_dir):
    """LEFT SEMI: existence check without row multiplication — at scale
    this avoids the join-then-distinct blowup entirely."""
    t = tables.load_all(spark, sf_dir)
    return (
        t["customer"]
        .join(t["orders"], F.col("c_custkey") == F.col("o_custkey"), "left_semi")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@query(
    "join_anti_customers_without_orders",
    oracle=(
        "SELECT c_custkey, c_name FROM customer "
        "WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)"
    ),
)
def join_anti_customers_without_orders(spark, sf_dir):
    t = tables.load_all(spark, sf_dir)
    return (
        t["customer"]
        .join(t["orders"], F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name")
    )


# --- set operations ------------------------------------------------------
@query(
    "set_union_nations",
    oracle=(
        "SELECT c_nationkey AS nationkey FROM customer "
        "UNION SELECT s_nationkey FROM supplier"
    ),
)
def set_union_nations(spark, sf_dir):
    t = tables.load_all(spark, sf_dir)
    return (
        t["customer"].select(F.col("c_nationkey").alias("nationkey"))
        .union(t["supplier"].select(F.col("s_nationkey").alias("nationkey")))
        .distinct()
    )


@query(
    "set_intersect_nations",
    oracle=(
        "SELECT c_nationkey AS nationkey FROM customer "
        "INTERSECT SELECT s_nationkey FROM supplier"
    ),
)
def set_intersect_nations(spark, sf_dir):
    t = tables.load_all(spark, sf_dir)
    return t["customer"].select(F.col("c_nationkey").alias("nationkey")).intersect(
        t["supplier"].select(F.col("s_nationkey").alias("nationkey"))
    )


@query(
    "set_except_nations",
    oracle=(
        "SELECT c_nationkey AS nationkey FROM customer "
        "EXCEPT SELECT s_nationkey FROM supplier"
    ),
)
def set_except_nations(spark, sf_dir):
    t = tables.load_all(spark, sf_dir)
    return t["customer"].select(F.col("c_nationkey").alias("nationkey")).subtract(
        t["supplier"].select(F.col("s_nationkey").alias("nationkey"))
    )


# --- outer joins ----------------------------------------------------------
@query(
    "join_left_outer_customer_orders",
    oracle=(
        "SELECT c_custkey, c_mktsegment, COUNT(o_orderkey) AS n_orders, "
        "COALESCE(CAST(SUM(CAST(ROUND(o_totalprice * 100.0e0) AS BIGINT)) "
        "AS DOUBLE) / 100.0e0, 0.0e0) AS total_spend "
        "FROM customer LEFT JOIN orders ON o_custkey = c_custkey "
        "GROUP BY c_custkey, c_mktsegment"
    ),
)
def join_left_outer_customer_orders(spark, sf_dir):
    """LEFT OUTER join preserving order-less customers (COUNT of the
    right key = 0 for them — the classic outer-join aggregate shape)."""
    t = tables.load_all(spark, sf_dir)
    return (
        t["customer"]
        .join(t["orders"], F.col("o_custkey") == F.col("c_custkey"), "left")
        .groupBy("c_custkey", "c_mktsegment")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.coalesce(
                F.expr(
                    "CAST(SUM(CAST(ROUND(o_totalprice * 100.0e0) AS BIGINT)) "
                    "AS DOUBLE) / 100.0e0"
                ),
                F.lit(0.0),
            ).alias("total_spend"),
        )
    )


@query(
    "join_full_outer_nation_activity",
    oracle=(
        "WITH c AS (SELECT c_nationkey AS nationkey, COUNT(*) AS n_cust "
        "FROM customer GROUP BY 1), "
        "s AS (SELECT s_nationkey AS nationkey, COUNT(*) AS n_supp "
        "FROM supplier GROUP BY 1) "
        "SELECT COALESCE(c.nationkey, s.nationkey) AS nationkey, "
        "COALESCE(n_cust, 0) AS n_cust, COALESCE(n_supp, 0) AS n_supp "
        "FROM c FULL OUTER JOIN s ON c.nationkey = s.nationkey"
    ),
)
def join_full_outer_nation_activity(spark, sf_dir):
    """FULL OUTER over pre-aggregated sides (aggregate-then-join: the
    join input is |keys|, not |rows| — the at-scale ordering)."""
    t = tables.load_all(spark, sf_dir)
    c = (
        t["customer"].groupBy(F.col("c_nationkey").alias("nationkey"))
        .agg(F.count(F.lit(1)).alias("n_cust"))
    )
    s = (
        t["supplier"].groupBy(F.col("s_nationkey").alias("nationkey"))
        .agg(F.count(F.lit(1)).alias("n_supp"))
    )
    return (
        c.join(s, "nationkey", "full_outer")
        .select(
            "nationkey",
            F.coalesce("n_cust", F.lit(0)).alias("n_cust"),
            F.coalesce("n_supp", F.lit(0)).alias("n_supp"),
        )
    )


# --- ALL-variant set operations -------------------------------------------
@query(
    "set_intersect_all_nations",
    oracle=(
        "SELECT c_nationkey AS nationkey FROM customer "
        "INTERSECT ALL SELECT s_nationkey FROM supplier"
    ),
)
def set_intersect_all_nations(spark, sf_dir):
    """INTERSECT ALL: bag semantics (min of per-side multiplicities) —
    Spark plans it as a counted hash-agg join, never a distinct."""
    t = tables.load_all(spark, sf_dir)
    return t["customer"].select(
        F.col("c_nationkey").alias("nationkey")
    ).intersectAll(t["supplier"].select(F.col("s_nationkey").alias("nationkey")))


@query(
    "set_except_all_nations",
    oracle=(
        "SELECT c_nationkey AS nationkey FROM customer "
        "EXCEPT ALL SELECT s_nationkey FROM supplier"
    ),
)
def set_except_all_nations(spark, sf_dir):
    """EXCEPT ALL: multiplicity subtraction."""
    t = tables.load_all(spark, sf_dir)
    return t["customer"].select(
        F.col("c_nationkey").alias("nationkey")
    ).exceptAll(t["supplier"].select(F.col("s_nationkey").alias("nationkey")))


# --- window functions ----------------------------------------------------
@query(
    "window_rank_customers",
    oracle=(
        "SELECT c_nationkey, c_custkey, c_acctbal, "
        "RANK() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal DESC) AS rnk, "
        "DENSE_RANK() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal DESC) AS drnk, "
        "ROW_NUMBER() OVER (PARTITION BY c_nationkey "
        "ORDER BY c_acctbal DESC, c_custkey) AS rn "
        "FROM customer QUALIFY rnk <= 3"
    ),
)
def window_rank_customers(spark, sf_dir):
    """Ranking window: top-3 customers by balance per nation. One shuffle
    on the partition key; rank/dense_rank share the sort."""
    c = tables.load(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy(F.desc("c_acctbal"))
    wt = Window.partitionBy("c_nationkey").orderBy(F.desc("c_acctbal"), F.asc("c_custkey"))
    return (
        c.select(
            "c_nationkey",
            "c_custkey",
            "c_acctbal",
            F.rank().over(w).alias("rnk"),
            F.dense_rank().over(w).alias("drnk"),
            F.row_number().over(wt).alias("rn"),
        )
        .filter(F.col("rnk") <= 3)
    )


@query(
    "window_moving_avg_events",
    oracle=(
        "WITH " + tables.EVENTS_ORACLE_CTE + " "
        "SELECT event_id, user_id, "
        + rnd(
            "CAST(SUM(CAST(ROUND(value * 100.0e0) AS BIGINT)) OVER w "
            "AS DOUBLE) / (100.0e0 * COUNT(*) OVER w)",
            2,
        )
        + " AS mov_avg "
        "FROM events_t "
        "WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id "
        "ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)"
    ),
)
def window_moving_avg_events(spark, sf_dir):
    """Sliding 3-row moving average per user — the idiomatic replacement
    for the dashboard's full-rescan time series (SURVEY §2.7 T5). Exact
    integer-cents sum => deterministic under Spark's incremental frame
    evaluation AND DuckDB's."""
    ev = tables.load(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.asc("ts"), F.asc("event_id"))
        .rowsBetween(-2, 0)
    )
    c = F.expr("CAST(ROUND(value * 100.0e0) AS BIGINT)")
    return (
        ev.select(
            "event_id",
            "user_id",
            F.sum(c).over(w).alias("s_cents"),
            F.count(F.lit(1)).over(w).alias("n_win"),
        )
        .select(
            "event_id",
            "user_id",
            F.expr(
                rnd("CAST(s_cents AS DOUBLE) / (100.0e0 * n_win)", 2)
            ).alias("mov_avg"),
        )
    )


#: the ONE shared snapping spelling for the lag delta — raw ROUND(x, 2)
#: here was the last k>0 ROUND in the registry and a latent double
#: defect the round-6 sf1-shape sweep surfaced at 1M events: DuckDB
#: ROUND keeps the sign bit (a -0.004 delta prints '-0.0' where
#: Spark's BigDecimal round prints '0.0') and the two engines diverge
#: at .xx5 boundaries (shortest-decimal vs binary rounding). exprs.rnd
#: snaps at scale 0 (ties-away in both engines) and normalizes the
#: zero sign.
_LAG_DELTA = rnd(
    "value - LAG(value) OVER "
    "(PARTITION BY user_id ORDER BY ts, event_id)",
    2,
)


@query(
    "window_lag_delta_events",
    oracle=(
        "WITH " + tables.EVENTS_ORACLE_CTE + " "
        "SELECT event_id, user_id, "
        f"{_LAG_DELTA} AS delta "
        "FROM events_t"
    ),
)
def window_lag_delta_events(spark, sf_dir):
    ev = tables.load(spark, sf_dir, "events")
    return ev.selectExpr(
        "event_id", "user_id", f"{_LAG_DELTA} AS delta"
    )


# --- rollup / cube / grouping sets ---------------------------------------
@query(
    "rollup_orders",
    oracle=(
        "SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n, "
        + _SUM_TOTALPRICE
        + " AS total, "
        "GROUPING(o_orderstatus) AS g_status, "
        "GROUPING(o_orderpriority) AS g_priority "
        "FROM orders GROUP BY ROLLUP(o_orderstatus, o_orderpriority)"
    ),
)
def rollup_orders(spark, sf_dir):
    """Hierarchical totals in one pass (status -> status+priority ->
    grand total). Spark expands grouping sets before the hash agg —
    still a single shuffle."""
    o = tables.load(spark, sf_dir, "orders")
    return o.rollup("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        F.expr(_SUM_TOTALPRICE).alias("total"),
        F.grouping("o_orderstatus").cast("int").alias("g_status"),
        F.grouping("o_orderpriority").cast("int").alias("g_priority"),
    )


@query(
    "cube_part_brand_size",
    oracle=(
        "SELECT p_brand, p_size % 10 AS size_mod, COUNT(*) AS n, "
        + _SUM_RETAILPRICE
        + " AS total_price "
        "FROM part GROUP BY CUBE(p_brand, p_size % 10)"
    ),
)
def cube_part_brand_size(spark, sf_dir):
    p = tables.load(spark, sf_dir, "part")
    return p.cube(F.col("p_brand"), (F.col("p_size") % 10).alias("size_mod")).agg(
        F.count(F.lit(1)).alias("n"),
        F.expr(_SUM_RETAILPRICE).alias("total_price"),
    )


@query(
    "grouping_sets_lineitem",
    oracle=(
        "SELECT l_returnflag, l_linestatus, SUM(CAST(l_quantity AS BIGINT)) AS sum_qty "
        "FROM lineitem GROUP BY GROUPING SETS ((l_returnflag), "
        "(l_linestatus), (l_returnflag, l_linestatus))"
    ),
)
def grouping_sets_lineitem(spark, sf_dir):
    li = tables.load(spark, sf_dir, "lineitem")
    li.createOrReplaceTempView("lineitem_gs")
    return spark.sql(
        "SELECT l_returnflag, l_linestatus, "
        "SUM(CAST(l_quantity AS BIGINT)) AS sum_qty "
        "FROM lineitem_gs GROUP BY GROUPING SETS ((l_returnflag), "
        "(l_linestatus), (l_returnflag, l_linestatus))"
    )


# --- events hourly tumbling window (batch twin of streaming T5) ----------
@query(
    "events_hourly_window",
    oracle=(
        "WITH " + tables.EVENTS_ORACLE_CTE + " "
        "SELECT date_trunc('hour', ts) AS hour, event_type, COUNT(*) AS n, "
        "(CAST(SUM(CAST(ROUND(value * 100.0e0) AS BIGINT)) AS DOUBLE) "
        "/ 100.0e0) AS total_value "
        "FROM events_t GROUP BY hour, event_type"
    ),
)
def events_hourly_window(spark, sf_dir):
    """Tumbling 1h aggregation — same transformation the streaming job
    runs with a watermark (streaming/twins.py); here as its batch twin."""
    ev = tables.load(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.date_trunc("hour", F.col("ts")).alias("hour"), F.col("event_type")
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.expr(
                "(CAST(SUM(CAST(ROUND(value * 100.0e0) AS BIGINT)) "
                "AS DOUBLE) / 100.0e0)"
            ).alias("total_value"),
        )
    )


# --- sliding (overlapping) event-time windows ------------------------------
def sliding_window_agg(df):
    """The sliding-window aggregation itself, shared verbatim by the
    batch query below and the streaming job
    (streaming/twins.sliding_event_counts_stream) — the engine's core
    design point: one transformation, two execution modes. Input needs
    (event_ts: timestamp, event_type, value)."""
    return (
        df.groupBy(
            F.window(F.col("event_ts"), "30 minutes", "15 minutes").alias("win"),
            F.col("event_type"),
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.expr("CAST(ROUND(value * 100.0e0) AS BIGINT)")
            ).alias("total_c"),
        )
        .select(
            F.col("win.start").cast("timestamp_ntz").alias("window_start"),
            "event_type",
            "n",
            (F.col("total_c").cast("double") / 100.0).alias("total_value"),
        )
    )


@query(
    "events_sliding_window",
    oracle=(
        "WITH " + tables.EVENTS_ORACLE_CTE + ", "
        "w AS (SELECT event_type, value, "
        "unnest([time_bucket(INTERVAL '15 minutes', ts), "
        "time_bucket(INTERVAL '15 minutes', ts) - INTERVAL '15 minutes']) "
        "AS window_start FROM events_t) "
        "SELECT window_start, event_type, COUNT(*) AS n, "
        "(CAST(SUM(CAST(ROUND(value * 100.0e0) AS BIGINT)) AS DOUBLE) "
        "/ 100.0e0) AS total_value "
        "FROM w GROUP BY window_start, event_type"
    ),
)
def events_sliding_window(spark, sf_dir):
    """Sliding 30-minute windows every 15 minutes (each event lands in
    width/slide = 2 windows) — T5's third window type alongside tumbling
    and session. `F.window(ts, 30m, 15m)` expands rows by exactly 2
    BEFORE the partial aggregate, so the shuffle carries 2x the group
    partials, not 2x the events; the same groupBy runs under a watermark
    on the stream. The oracle unnests the two epoch-aligned bucket
    starts per event (both grids are midnight-aligned, so Spark's
    epoch-origin windows equal DuckDB's time_bucket grid)."""
    ev = tables.load(spark, sf_dir, "events")
    return sliding_window_agg(
        ev.select(F.col("ts").alias("event_ts"), "event_type", "value")
    )


# --- sketch aggregate: approx distinct users per event_type ---------------
@query("events_approx_distinct_users")  # no SQL oracle: HLL++ is
# engine-specific (Spark relativeSD=0.02 vs DuckDB's own sketch);
# tests/test_enrichment.py bounds the error against the exact count
def events_approx_distinct_users(spark, sf_dir):
    """approx_count_distinct (HyperLogLog++) per event_type — the
    100 TB path for A4-style cardinality: fixed-size sketch per group,
    map-side mergeable, no exact-distinct shuffle of the key universe.
    Exact twin ships alongside for the error-bound test."""
    ev = tables.load(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd=0.02).alias("approx_users"),
        F.countDistinct("user_id").alias("exact_users"),
    )


@query(
    "events_approx_distinct_bounds",
    oracle=(
        "SELECT event_type, "
        "CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users, "
        "TRUE AS within_bound FROM events GROUP BY event_type"
    ),
)
def events_approx_distinct_bounds(spark, sf_dir):
    """HLL++ sketch error, ORACLE-GATED AS A PROPERTY: the sketch value
    itself cannot hash-match across engines (each has its own sketch),
    but the GUARANTEE can — |approx - exact| <= 3*rsd*exact (three
    relative standard errors at rsd=0.02) is computed Spark-side as a
    boolean and the oracle asserts it TRUE alongside the exact counts.
    Any sketch regression past the bound fails the driver's hash gate
    like an ordinary wrong answer. This is the gating pattern for every
    approximate operator: gate the bound, ship the raw sketch query
    (events_approx_distinct_users) alongside for the actual numbers."""
    ev = tables.load(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_users"),
        F.expr(
            "abs(approx_count_distinct(user_id, 0.02e0) "
            "- count(DISTINCT user_id)) "
            "<= 0.06e0 * count(DISTINCT user_id)"
        ).alias("within_bound"),
    )


@query(
    "events_approx_percentile_bounds",
    oracle=(
        "WITH n AS (SELECT CAST(COUNT(value) AS BIGINT) AS n "
        "FROM events) "
        "SELECT unnest([0.5e0, 0.9e0, 0.99e0]) AS p, n, "
        "TRUE AS within_bound FROM n"
    ),
)
def events_approx_percentile_bounds(spark, sf_dir):
    """Greenwald-Khanna approx_percentile error, ORACLE-GATED AS A
    PROPERTY (same pattern as events_approx_distinct_bounds): at
    accuracy A the returned value's true rank must lie within
    eps*n = n/A of the target rank. The check computes rank(v_p) =
    COUNT(value <= v_p) with ONE extra aggregate over the broadcast
    sketch outputs (+-1 slack for boundary definitions) and gates the
    boolean. At 100 TB this is how you trust a sketch: the exact-rank
    audit runs on a sample or a scheduled slice, the bound is the
    contract."""
    ev = tables.load(spark, sf_dir, "events")
    probs = [0.5, 0.9, 0.99]
    acc = 1000
    arr = ", ".join(f"{p}e0" for p in probs)
    a = ev.agg(
        F.expr(
            f"approx_percentile(value, array({arr}), {acc})"
        ).alias("ap"),
        F.count("value").alias("n"),
    )
    one = a.select(
        "n", F.posexplode("ap").alias("i", "v")
    ).withColumn("p", F.expr(f"element_at(array({arr}), i + 1)"))
    # A value with TIES occupies a RANGE of ranks [count(<v)+1,
    # count(<=v)]; the GK guarantee is that SOME rank in that range is
    # within eps*n of the target, so the check is interval
    # INTERSECTION, not a point test on count(<=v) — on a corpus where
    # one value carries most of the mass (skewed fixture fuzz), the
    # point test wrongly fails the median even though the returned
    # value is exactly right.
    ranked = (
        ev.crossJoin(F.broadcast(one))
        .groupBy("p", "n", "v")
        .agg(
            F.sum(
                F.expr("CASE WHEN value < v THEN 1 ELSE 0 END")
            ).alias("rk_lo"),
            F.sum(
                F.expr("CASE WHEN value <= v THEN 1 ELSE 0 END")
            ).alias("rk_hi"),
        )
    )
    return ranked.select(
        "p",
        "n",
        F.expr(
            f"rk_hi >= FLOOR((p - 1.0e0/{acc}) * n) - 1 AND "
            f"rk_lo + 1 <= CEIL((p + 1.0e0/{acc}) * n) + 1"
        ).alias("within_bound"),
    )


# --- per-user session windows (SURVEY §2.7 T5's other half) ---------------
@query(
    "events_user_sessions",
    oracle=(
        "WITH " + tables.EVENTS_ORACLE_CTE + ", "
        "x AS (SELECT user_id, ts, value, CASE WHEN "
        "LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL "
        "OR ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) "
        ">= INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS new_s FROM events_t), "
        "y AS (SELECT user_id, ts, value, SUM(new_s) OVER "
        "(PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) "
        "AS sid FROM x) "
        "SELECT user_id, MIN(ts) AS session_start, "
        "MAX(ts) + INTERVAL 30 MINUTE AS session_end, "
        "COUNT(*) AS n_events, MAX(value) AS max_value "
        "FROM y GROUP BY user_id, sid"
    ),
)
def events_user_sessions(spark, sf_dir):
    """Session windows (30-minute inactivity gap) per user via
    F.session_window — the built-in replacement for hand-rolled
    gaps-and-islands (which is exactly what the oracle runs). Sessions
    merge while consecutive event windows overlap (gap < 30 min, strict);
    window end = last event + gap. The identical expression streams with
    `withWatermark` in front (Spark merges session state incrementally;
    state bounded by watermark, not stream length)."""
    ev = tables.load(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.session_window(
                F.col("ts").cast("timestamp"), "30 minutes"
            ).alias("win"),
            "user_id",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.max("value").alias("max_value"),
        )
        .select(
            "user_id",
            F.col("win.start").cast("timestamp_ntz").alias("session_start"),
            F.col("win.end").cast("timestamp_ntz").alias("session_end"),
            "n_events",
            "max_value",
        )
    )


# --- pure-SQL surface: multi-table join via spark.sql ---------------------

_SQL_Q3 = """
SELECT l.l_orderkey AS okey,
       SUM(CAST(ROUND(l.l_extendedprice * (1.0e0 - l.l_discount)
         * 100.0e0) AS BIGINT)) AS rev_c,
       o.o_orderdate, o.o_orderpriority
FROM {c} c
JOIN {o} o ON c.c_custkey = o.o_custkey
JOIN {l} l ON l.l_orderkey = o.o_orderkey
WHERE c.c_mktsegment = 'BUILDING'
  AND o.o_orderdate < DATE '1995-03-15'
  AND l.l_shipdate > DATE '1995-03-15'
GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
ORDER BY rev_c DESC, okey LIMIT 10
"""


@query(
    "sql_tpch_q3_surface",
    oracle=(
        "WITH q AS ("
        + _SQL_Q3.format(c="customer", o="orders", l="lineitem")
        + ") SELECT okey, "
        + "CAST(rev_c AS DOUBLE) / 100.0e0 AS revenue, "
        "o_orderdate, o_orderpriority FROM q"
    ),
)
def sql_tpch_q3_surface(spark, sf_dir):
    """The multi-table SQL API surface: TPC-H Q3 written as ONE
    spark.sql string over registered temp views — same Catalyst plan,
    same pushdown/broadcast behavior as the DataFrame twin
    (tpch_q3_order_revenue), because a view is just a named logical
    plan. Revenue rides exact cents; the engine-facing text is shared
    with the oracle verbatim."""
    for t in ("customer", "orders", "lineitem"):
        tables.load(spark, sf_dir, t).createOrReplaceTempView(f"sqlv_{t}")
    q = spark.sql(
        _SQL_Q3.format(c="sqlv_customer", o="sqlv_orders", l="sqlv_lineitem")
    )
    return q.selectExpr(
        "okey",
        "CAST(rev_c AS DOUBLE) / 100.0e0 AS revenue",
        "o_orderdate",
        "o_orderpriority",
    )


# --- NULL-key join semantics battery --------------------------------------


@query(
    "sql_join_null_semantics",
    oracle=(
        "WITH e AS (SELECT event_id, "
        "CASE WHEN event_id % 7 = 0 THEN NULL ELSE user_id END AS uid "
        "FROM events), "
        "c AS (SELECT c_custkey FROM customer) "
        "SELECT "
        "(SELECT COUNT(*) FROM e JOIN c ON e.uid = c.c_custkey) "
        "AS n_inner, "
        "(SELECT COUNT(*) FROM e LEFT JOIN c ON e.uid = c.c_custkey) "
        "AS n_left, "
        "(SELECT COUNT(*) FROM e LEFT JOIN c ON e.uid = c.c_custkey "
        "WHERE c.c_custkey IS NULL) AS n_left_unmatched, "
        "(SELECT COUNT(*) FROM e SEMI JOIN c ON e.uid = c.c_custkey) "
        "AS n_semi, "
        "(SELECT COUNT(*) FROM e ANTI JOIN c ON e.uid = c.c_custkey) "
        "AS n_anti, "
        "(SELECT COUNT(*) FROM e WHERE uid IN "
        "(SELECT c_custkey FROM c)) AS n_in, "
        "(SELECT COUNT(*) FROM e WHERE uid NOT IN "
        "(SELECT c_custkey FROM c)) AS n_not_in, "
        "(SELECT COUNT(*) FROM e JOIN c "
        "ON e.uid IS NOT DISTINCT FROM c.c_custkey) AS n_nullsafe, "
        "(SELECT COUNT(*) FROM e WHERE uid NOT IN "
        "(SELECT c_custkey FROM c UNION ALL SELECT NULL)) "
        "AS n_not_in_nullbuild"
    ),
)
def sql_join_null_semantics(spark, sf_dir):
    """NULL-key join semantics, pinned: rows whose join key is NULL
    never match an equi-join — inner drops them, left null-pads them,
    semi drops them, and ANTI KEEPS them (NULL = 'no known match').
    NOT IN's infamous trap (one NULL in the subquery empties the whole
    result) does not fire here because the build side has no NULLs, so
    n_not_in and n_anti agree only on the null-key rows' treatment —
    NOT IN drops the NULL-key probe rows (the comparison is unknown)
    while anti-join keeps them, and the two counts differ by exactly
    that. The null-safe equality join (<=> / IS NOT DISTINCT FROM)
    matches NULL to NULL — what a data-repair join sometimes wants.
    The ninth column fires the trap on purpose: one NULL injected into
    the NOT IN subquery makes every comparison unknown, so the count
    collapses to zero — Spark plans this as a null-aware anti join
    (BroadcastNestedLoopJoin), and both engines agree on the empty
    result. One query pins all nine behaviors so a join-rewrite
    regression (e.g. anti-join -> NOT IN) cannot silently change NULL
    handling.

    The nine probes necessarily run as nine scalar-subquery jobs (each
    is a DIFFERENT join shape — that is the query's point), so both
    projected inputs are materialized: the parquet is read once and
    the probes re-read the persisted two-column frames (the previous
    form re-scanned events once per probe — 7.6x parquet reads,
    round-7 scan audit)."""
    from ..operators.textops import materialize as _mat

    ev = _mat(
        tables.load(spark, sf_dir, "events").selectExpr(
            "event_id",
            "CASE WHEN event_id % 7 = 0 THEN NULL ELSE user_id END AS uid",
        )
    )
    cu = _mat(tables.load(spark, sf_dir, "customer").select("c_custkey"))
    ev.createOrReplaceTempView("njs_e")
    cu.createOrReplaceTempView("njs_c")
    return spark.sql(
        "SELECT "
        "(SELECT COUNT(*) FROM njs_e e JOIN njs_c c "
        "ON e.uid = c.c_custkey) AS n_inner, "
        "(SELECT COUNT(*) FROM njs_e e LEFT JOIN njs_c c "
        "ON e.uid = c.c_custkey) AS n_left, "
        "(SELECT COUNT(*) FROM njs_e e LEFT JOIN njs_c c "
        "ON e.uid = c.c_custkey WHERE c.c_custkey IS NULL) "
        "AS n_left_unmatched, "
        "(SELECT COUNT(*) FROM njs_e e LEFT SEMI JOIN njs_c c "
        "ON e.uid = c.c_custkey) AS n_semi, "
        "(SELECT COUNT(*) FROM njs_e e LEFT ANTI JOIN njs_c c "
        "ON e.uid = c.c_custkey) AS n_anti, "
        "(SELECT COUNT(*) FROM njs_e WHERE uid IN "
        "(SELECT c_custkey FROM njs_c)) AS n_in, "
        "(SELECT COUNT(*) FROM njs_e WHERE uid NOT IN "
        "(SELECT c_custkey FROM njs_c)) AS n_not_in, "
        "(SELECT COUNT(*) FROM njs_e e JOIN njs_c c "
        "ON e.uid <=> c.c_custkey) AS n_nullsafe, "
        "(SELECT COUNT(*) FROM njs_e WHERE uid NOT IN "
        "(SELECT c_custkey FROM njs_c UNION ALL SELECT NULL)) "
        "AS n_not_in_nullbuild"
    )
