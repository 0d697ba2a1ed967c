"""Spark 4 SQL-surface features, exercised as oracle-checked queries:
recursive CTEs (WITH RECURSIVE), the VARIANT semi-structured type
(parse_json / variant_get), and declarative SQL UDFs (CREATE FUNCTION
... RETURN).

These are capabilities the reference era's Spark 3.5 lacked
(ref:requirements.txt:2 pins pyspark==3.5.0); each query proves the
rebuilt engine exposes them with exact cross-engine semantics:

- VARIANT is Spark's shredded binary JSON — at 100 TB it replaces
  per-query string re-parsing (`get_json_object`) with parse-once
  typed access, the same role BSON/JSONB play in document stores.
- Recursive CTEs subsume the hand-unrolled iteration oracles used by
  the PageRank/label-propagation queries: one SQL text, both engines.
- SQL UDFs are INLINED into the Catalyst plan (they are named
  expression templates, not black boxes), so they keep whole-stage
  codegen and pushdown — unlike Python UDFs, they are free.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from .. import tables
from .. import weather_domain as wd
from ..functions.exprs import rnd
from ..registry import query

# --- VARIANT: parse-once typed access to nested JSON ----------------------

_VARIANT_ORACLE = (
    "WITH " + tables.EVENTS_ORACLE_CTE + ", "
    "doc AS (SELECT event_id, to_json(struct_pack("
    "main := struct_pack(temp := value), "
    "weather := [struct_pack(description := event_type)], "
    "props := json(props))) AS j FROM events_t) "
    "SELECT event_id, "
    "TRY_CAST(json_extract_string(j, '$.main.temp') AS DOUBLE) AS temp, "
    "json_extract_string(j, '$.weather[0].description') AS description, "
    "TRY_CAST(json_extract_string(j, '$.props.k') AS INTEGER) AS k "
    "FROM doc"
)


@query("events_variant_extract", oracle=_VARIANT_ORACLE)
def events_variant_extract(spark, sf_dir):
    """VARIANT round-trip: build the nested OpenWeatherMap-shaped doc
    (S5's to_json(struct(...)) idiom), parse it ONCE into a VARIANT,
    then pull three typed leaves with variant_get — S4's JSONPath
    extraction re-expressed on Spark 4's binary JSON type.

    Scale rationale: `get_json_object` re-parses the string per path
    (3 paths = 3 parses per row); VARIANT parses once and navigates a
    shredded binary encoding, and a VARIANT column persisted to
    parquet supports field extraction without re-parsing at all. Both
    engines recover the original double exactly because each side's
    JSON serializer is round-trip-exact for its own parser."""
    ev = tables.load(spark, sf_dir, "events")
    doc = ev.select(
        "event_id",
        F.expr(
            "to_json(named_struct("
            "'main', named_struct('temp', value), "
            "'weather', array(named_struct('description', event_type)), "
            "'props', from_json(props, 'k INT')))"
        ).alias("j"),
    )
    return doc.select(
        "event_id", F.expr("parse_json(j)").alias("v")
    ).select(
        "event_id",
        F.expr("variant_get(v, '$.main.temp', 'double')").alias("temp"),
        F.expr(
            "variant_get(v, '$.weather[0].description', 'string')"
        ).alias("description"),
        F.expr("variant_get(v, '$.props.k', 'int')").alias("k"),
    )


# --- recursive CTE: BFS reachability, one SQL text for both engines -------

#: symmetric strongest-30% co-occurrence edge list (the same exact
#: integer rank cut as graph_triangle_brands). The {l}/{p} placeholders
#: are the only engine difference (temp-view names vs driver views).
_EDGE_CTES = """ob AS (
  SELECT DISTINCT l.l_orderkey AS okey, p.p_brand AS brand
  FROM {l} l JOIN {p} p ON l.l_partkey = p.p_partkey
),
pairs AS (
  SELECT a.brand AS ba, b.brand AS bb, COUNT(*) AS w
  FROM ob a JOIN ob b ON a.okey = b.okey AND a.brand < b.brand
  GROUP BY a.brand, b.brand
),
ne AS (SELECT COUNT(*) AS n FROM pairs),
rk AS (
  SELECT ba, bb, ROW_NUMBER() OVER (ORDER BY w DESC, ba, bb) AS r
  FROM pairs
),
kept AS (SELECT ba, bb FROM rk CROSS JOIN ne WHERE 10 * r <= 3 * ne.n)"""

_EDGE_SELECT = (
    "SELECT ba AS src, bb AS dst FROM kept "
    "UNION ALL SELECT bb, ba FROM kept"
)

_EDGE_SQL = "WITH " + _EDGE_CTES + "\n" + _EDGE_SELECT

#: hops<=3 BFS from the lexicographically-first brand over {e} — the
#: recursion text is IDENTICAL in both engines; only the edge-relation
#: name differs (Spark: a materialized temp view, so the recursion
#: never re-derives the graph from the fact table per iteration).
_REACH_SQL = """WITH RECURSIVE seed AS (SELECT MIN(src) AS brand FROM {e}),
reach AS (
  SELECT brand, 0 AS dist FROM seed
  UNION ALL
  SELECT s.dst, r.dist + 1
  FROM reach r JOIN {e} s ON s.src = r.brand
  WHERE r.dist < 3
)
SELECT brand, MIN(dist) AS hops FROM reach GROUP BY brand"""

#: oracle: the same recursion over a sym CTE holding the same edges
_REACH_ORACLE = (
    "WITH RECURSIVE "
    + _EDGE_CTES.format(l="lineitem", p="part")
    + ",\nsym AS ("
    + _EDGE_SELECT
    + "),\n"
    + _REACH_SQL.format(e="sym").replace(
        "WITH RECURSIVE ", "", 1
    )
)


@query("sql_recursive_brand_reach", oracle=_REACH_ORACLE)
def sql_recursive_brand_reach(spark, sf_dir):
    """WITH RECURSIVE in Spark 4: 3-hop BFS from a seed brand over the
    sparsified co-occurrence graph, the recursion text IDENTICAL on
    both engines (the iterative-algorithm queries — PageRank, label
    propagation — had to hand-unroll their oracles against Spark 3's
    missing recursion; this closes that gap).

    Execution: the edge list is built ONCE and pinned (node-cardinality
    — without this, Spark's iterated-union recursion re-derives the
    whole graph from the fact table on every step: measured 10s -> ~1s
    at sf0.1). Each recursion step is then one hash join of the
    frontier against the tiny edge relation — the 100 TB shape is
    edges-build once + iterations x frontier-join, same as
    graph_pagerank_brands. The dist < 3 guard bounds the loop;
    MIN(dist) collapses revisits after the fact (BFS frontier dedup
    would be the optimization at depth >> 3)."""
    from ..operators.textops import materialize
    from .advanced import _brand_cooc_kept

    # Round 9: the edge build rides the shared one-scan DataFrame core
    # (advanced._brand_cooc_kept) instead of this query's private SQL
    # CTE chain — whose twice-referenced `ob`/`pairs` CTEs Spark
    # INLINED into two fact scans + a self-join (the round-7 hazard,
    # here inside a single query). The recursion TEXT stays identical
    # in both engines; only the edge relation it runs over changed
    # builders, and the oracle keeps the naive SQL chain.
    kept = _brand_cooc_kept(spark, sf_dir)
    # Symmetrize with ONE in-row explode instead of union-of-kept: a
    # union reads the kept chain twice (forcing a persist the
    # interleaved A/B measured as a net loss); the explode reads it
    # once, so kept stays un-pinned. The recursive CTE re-resolves
    # this view on every recursion step: the lineage must be CUT (a
    # leaf plan), or each step re-analyzes — and can re-execute — the
    # whole edge-build subtree (measured 2.8s -> 9.8s under plain
    # persist at sf0.1)
    sym = materialize(
        kept.select(
            F.explode(
                F.expr(
                    "array(struct(ba AS src, bb AS dst), "
                    "struct(bb AS src, ba AS dst))"
                )
            ).alias("e")
        ).select("e.src", "e.dst"),
        cut_lineage=True,
    )
    sym.createOrReplaceTempView("rcte_sym")
    return spark.sql(_REACH_SQL.format(e="rcte_sym"))


# --- SQL UDF: declarative scalar function, inlined by Catalyst ------------

_DP = "CAST(ROUND(t - ((100 - h) / 5.0e0)) AS INTEGER)"

_UDF_ORACLE = (
    f"WITH {wd.oracle_enriched_cte()}, "
    "dp AS (SELECT city_name, "
    + _DP.replace("t ", "temperature ").replace("h)", "humidity)")
    + " AS dew_point FROM casted) "
    "SELECT city_name, COUNT(dew_point) AS n, "
    "MIN(dew_point) AS min_dp, MAX(dew_point) AS max_dp, "
    + rnd("CAST(SUM(dew_point) AS DOUBLE) / COUNT(dew_point)", 2)
    + " AS avg_dp FROM dp GROUP BY city_name"
)


@query("sql_udf_dew_point", oracle=_UDF_ORACLE)
def sql_udf_dew_point(spark, sf_dir):
    """Declarative SQL UDF (Spark 4 CREATE FUNCTION ... RETURN): the
    dew-point formula (F1, ref:spark-apps/weather_streaming.py:83)
    registered once as a named scalar function and applied per city.

    Unlike a Python UDF, a SQL UDF is substituted into the plan during
    analysis — the executed plan is plain Project + HashAggregate with
    whole-stage codegen and NO Python boundary (plan-asserted in
    tests/test_plans.py), so shared formula libraries cost nothing at
    any scale. NULL inputs flow through arithmetic as SQL semantics
    dictate; COUNT(dew_point) counts only computable rows."""
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION dew_point_udf(t INT, h INT) "
        f"RETURNS INT RETURN {_DP}"
    )
    wd.enriched_frame(spark, sf_dir).createOrReplaceTempView("udf_enriched")
    return spark.sql(
        "SELECT city_name, COUNT(dp) AS n, "
        "MIN(dp) AS min_dp, MAX(dp) AS max_dp, "
        + rnd("CAST(SUM(dp) AS DOUBLE) / COUNT(dp)", 2)
        + " AS avg_dp FROM (SELECT city_name, "
        "dew_point_udf(temperature, humidity) AS dp FROM udf_enriched) "
        "GROUP BY city_name"
    )


# --- LATERAL: correlated per-group top-k as a join operator ---------------

#: top-2 customers by balance per nation through a correlated LATERAL
#: subquery — the SQL-standard spelling of per-group top-k. Spark
#: decorrelates this into the same WindowGroupLimit shape as the
#: window-function form (events_top_days_per_type), so the scale story
#: is identical: per-partition 2-row heaps before any exchange.
_LATERAL_SQL = """SELECT n.n_name, x.c_custkey, x.c_name, x.c_acctbal
FROM {n} n, LATERAL (
  SELECT c_custkey, c_name, c_acctbal FROM {c} c
  WHERE c.c_nationkey = n.n_nationkey
  ORDER BY c_acctbal DESC, c_custkey LIMIT 2) x"""


@query(
    "sql_lateral_topk_customers",
    oracle=_LATERAL_SQL.format(n="nation", c="customer"),
)
def sql_lateral_topk_customers(spark, sf_dir):
    """Correlated LATERAL subquery with ORDER BY ... LIMIT: the richest
    two customers of every nation, identical SQL text on both engines.
    Tie-break on c_custkey makes the pick total-ordered; balances are
    per-row values (no cross-row float arithmetic), so no snapping is
    needed."""
    for t in ("nation", "customer"):
        tables.load(spark, sf_dir, t).createOrReplaceTempView(f"lat_{t}")
    return spark.sql(_LATERAL_SQL.format(n="lat_nation", c="lat_customer"))


# --- SQL table function: reusable set-returning logic ---------------------


@query(
    "sql_table_fn_date_spine",
    oracle=(
        "WITH " + tables.EVENTS_ORACLE_CTE + ", "
        "b AS (SELECT event_type, MIN(CAST(ts AS DATE)) AS d0, "
        "MAX(CAST(ts AS DATE)) AS d1 FROM events_t GROUP BY event_type) "
        "SELECT event_type, COUNT(*) AS n_days FROM b, LATERAL ("
        "SELECT CAST(unnest(generate_series(CAST(d0 AS TIMESTAMP), "
        "CAST(d1 AS TIMESTAMP), INTERVAL 1 DAY)) AS DATE) AS day) x "
        "GROUP BY event_type"
    ),
)
def sql_table_fn_date_spine(spark, sf_dir):
    """SQL table function (CREATE FUNCTION ... RETURNS TABLE): the
    calendar-spine generator behind events_daily_gapfill packaged as a
    named, reusable set-returning function and applied per event type
    via LATERAL. Like scalar SQL UDFs it is inlined during analysis —
    the plan is the same explode(sequence(...)) Generate node, zero
    Python. The spine is generated from each type's own [min, max]
    bounds row, so the generated row count is calendar-bounded."""
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION date_spine(d0 DATE, d1 DATE) "
        "RETURNS TABLE(day DATE) "
        "RETURN SELECT explode(sequence(d0, d1, interval 1 day))"
    )
    tables.load(spark, sf_dir, "events").createOrReplaceTempView(
        "spine_events"
    )
    return spark.sql(
        "WITH b AS (SELECT event_type, MIN(CAST(ts AS DATE)) AS d0, "
        "MAX(CAST(ts AS DATE)) AS d1 FROM spine_events GROUP BY event_type) "
        "SELECT event_type, COUNT(*) AS n_days "
        "FROM b, LATERAL date_spine(d0, d1) GROUP BY event_type"
    )


# --- collations: case-insensitive grouping without lower() rewrites -------


@query(
    "weather_collated_city_stats",
    oracle=(
        f"WITH {wd.oracle_enriched_cte()}, "
        "mixed AS (SELECT CASE WHEN event_id % 2 = 0 "
        "THEN UPPER(city_name) ELSE city_name END AS city_mixed, "
        "temperature FROM casted) "
        "SELECT LOWER(city_mixed) AS city, COUNT(*) AS n, "
        "MIN(temperature) AS min_temp, MAX(temperature) AS max_temp "
        "FROM mixed GROUP BY LOWER(city_mixed)"
    ),
)
def weather_collated_city_stats(spark, sf_dir):
    """Spark 4 collations: grouping on a UTF8_LCASE-collated key makes
    case-insensitive semantics a TYPE property instead of a lower()
    rewrite at every use site (the reference's dashboard normalized
    names by hand, ref:streamlit/app.py:228-231). Mixed-case city names
    (deterministically upper-cased on even event_ids) collapse into one
    group per city; the output key is lowered because the collated
    group's representative casing is partition-order-dependent — the
    group COUNTS are what the collation guarantees."""
    mixed = wd.enriched_frame(spark, sf_dir).select(
        F.expr(
            "CASE WHEN event_id % 2 = 0 THEN UPPER(city_name) "
            "ELSE city_name END COLLATE UTF8_LCASE"
        ).alias("city_mixed"),
        "temperature",
    )
    return mixed.groupBy("city_mixed").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("temperature").alias("min_temp"),
        F.max("temperature").alias("max_temp"),
    ).select(
        F.expr("CAST(LOWER(city_mixed) AS STRING)").alias("city"),
        "n",
        "min_temp",
        "max_temp",
    )


# --- SQL pipe syntax ------------------------------------------------------

_PIPE_ORACLE = (
    "WITH " + tables.EVENTS_ORACLE_CTE + ", "
    "f AS (SELECT event_type, CAST(ts AS DATE) AS day, "
    "CAST(ROUND(value * 100.0e0) AS BIGINT) AS v_c FROM events_t "
    "WHERE event_type IN ('purchase', 'click')), "
    "g AS (SELECT event_type, day, COUNT(*) AS n, SUM(v_c) AS s_c "
    "FROM f GROUP BY event_type, day) "
    "SELECT event_type, day, n, "
    "CAST(s_c AS DOUBLE) / 100.0e0 AS revenue FROM g"
)


@query("sql_pipe_syntax_daily_revenue", oracle=_PIPE_ORACLE)
def sql_pipe_syntax_daily_revenue(spark, sf_dir):
    """Spark 4 SQL PIPE syntax (`|>`): the linear query form where each
    stage reads top-to-bottom (FROM |> WHERE |> EXTEND |> AGGREGATE |>
    SELECT) instead of SQL's inside-out nesting — same Catalyst plan as
    the nested form, purely an authoring-surface feature, pinned here
    because a user migrating dashboards to this engine may write it.
    The pipeline: filter monetized event types, derive exact cents and
    the event day, aggregate per (type, day), unscale at the edge.
    Oracle runs the equivalent classic SQL on DuckDB (which has no pipe
    syntax) — identical results prove the pipe form is sugar, not
    semantics."""
    tables.load(spark, sf_dir, "events").createOrReplaceTempView(
        "pipe_events"
    )
    return spark.sql(
        "FROM pipe_events "
        "|> WHERE event_type IN ('purchase', 'click') "
        "|> EXTEND CAST(ROUND(value * 100.0e0) AS BIGINT) AS v_c, "
        "to_date(ts) AS day "
        "|> AGGREGATE COUNT(*) AS n, SUM(v_c) AS s_c "
        "GROUP BY event_type, day "
        "|> EXTEND CAST(s_c AS DOUBLE) / 100.0e0 AS revenue "
        "|> SELECT event_type, day, n, revenue"
    )


# --- GROUP BY ALL ---------------------------------------------------------

#: body shared verbatim by both engines; only the table name differs
_GBA_BODY = (
    "SELECT o_orderpriority, YEAR(o_orderdate) AS order_year, "
    "COUNT(*) AS n_orders, "
    "CAST(SUM(CAST(ROUND(o_totalprice * 100.0e0) AS BIGINT)) AS DOUBLE) "
    "/ 100.0e0 AS revenue "
    "FROM {orders} GROUP BY ALL"
)


@query("sql_group_by_all", oracle=_GBA_BODY.format(orders="orders"))
def sql_group_by_all(spark, sf_dir):
    """GROUP BY ALL (Spark 3.4+/4, DuckDB): the grouping key list is
    inferred as every non-aggregate select item — the dashboard-authoring
    shorthand that removes the classic copy-the-select-list failure mode.
    Identical SQL text runs on both engines (only the table binding
    differs), so parity proves the inference resolves to the same
    explicit (priority, year) grouping; revenue rides the exact-cents
    idiom. Plan is the ordinary partial+final hash aggregate — the
    feature is analysis-time sugar with zero physical cost."""
    tables.load(spark, sf_dir, "orders").createOrReplaceTempView(
        "gba_orders"
    )
    return spark.sql(_GBA_BODY.format(orders="gba_orders"))


# --- subquery decorrelation battery ---------------------------------------

#: identical text on both engines; {c}/{o} are the table spellings.
#: Each count exercises one subquery shape Catalyst must decorrelate:
#: EXISTS -> left-semi join, NOT EXISTS -> left-anti join, IN ->
#: left-semi, NOT IN over a null-producing projection -> null-aware
#: anti join (the three-valued-logic trap: one NULL in the subquery
#: makes NOT IN UNKNOWN everywhere, so the count is 0 BY DESIGN),
#: correlated scalar MAX -> aggregate + equi join.
_SUBQ_BODY = (
    "SELECT "
    "(SELECT COUNT(*) FROM {c} c WHERE EXISTS "
    "(SELECT 1 FROM {o} o WHERE o.o_custkey = c.c_custkey)) AS n_exists, "
    "(SELECT COUNT(*) FROM {c} c WHERE NOT EXISTS "
    "(SELECT 1 FROM {o} o WHERE o.o_custkey = c.c_custkey)) "
    "AS n_not_exists, "
    "(SELECT COUNT(*) FROM {c} c WHERE c.c_custkey IN "
    "(SELECT o_custkey FROM {o} WHERE o_totalprice > 150000.0e0)) "
    "AS n_in_big_spenders, "
    "(SELECT COUNT(*) FROM {c} c WHERE c.c_custkey NOT IN "
    "(SELECT CASE WHEN o_orderkey % 2 = 0 THEN NULL ELSE o_custkey END "
    "FROM {o})) AS n_not_in_null_trap, "
    "(SELECT COUNT(*) FROM {c} c WHERE c.c_acctbal > "
    "(SELECT 1.0e-1 * MAX(o.o_totalprice) FROM {o} o "
    "WHERE o.o_custkey = c.c_custkey)) AS n_above_tenth_max"
)


@query(
    "sql_subquery_battery",
    oracle=_SUBQ_BODY.format(c="customer", o="orders"),
)
def sql_subquery_battery(spark, sf_dir):
    """Subquery-decorrelation battery: EXISTS / NOT EXISTS / IN /
    null-trap NOT IN / correlated scalar aggregate, one count each,
    IDENTICAL SQL text on both engines. The reference never writes a
    subquery (SURVEY §2.6) but any SQL surface must: Catalyst rewrites
    every shape here into a join (semi, anti, null-aware anti,
    aggregate+equi) rather than a per-row re-execution — the plan gate
    asserts no Python and no cartesian blowup survives. The NOT IN
    count is 0 by three-valued logic (a NULL in the subquery makes the
    predicate UNKNOWN for every row) — kept deliberately as the
    regression canary for null-aware anti-join semantics.

    The five probes necessarily run as five scalar-subquery jobs (each
    pins a DIFFERENT decorrelation shape), so both inputs are
    materialized: each parquet is read once and the probes re-read the
    persisted frames (the from-source form re-scanned customer+orders
    per probe — 4x, round-7 scan audit). The persisted frames are
    PROJECTED to the battery's columns first — persisting a bare table
    load would let the session cache substitute other queries' scans
    of the same table and silently defeat their filter pushdown."""
    from ..operators.textops import materialize as _mat

    _mat(
        tables.load(spark, sf_dir, "customer").select(
            "c_custkey", "c_acctbal"
        )
    ).createOrReplaceTempView("subq_customer")
    _mat(
        tables.load(spark, sf_dir, "orders").select(
            "o_custkey", "o_totalprice", "o_orderkey"
        )
    ).createOrReplaceTempView("subq_orders")
    return spark.sql(_SUBQ_BODY.format(c="subq_customer", o="subq_orders"))
