"""Batch analytics surface: everything `streamlit/app.py` computed in
pandas, re-expressed as Catalyst plans over the enriched weather frame
(M1 of SURVEY.md §7; covers SURVEY §2.4 A1-A9, §2.5 O1-O3, §2.2 P6-P12).

One working set serves every panel (the Shark pattern for repeated
interactive queries): the 11 columns the panels read
(`weather_domain.PINNED_COLUMNS`), projected from the enriched plan and
pinned in Spark's in-memory columnar cache (`weather_domain.pinned_frame`).
The enriched plan is memoized per (applicationId, sf_dir) and events
frame of `tables.load` (which changes when events.parquet is rewritten),
so a panel costs one small aggregate, not the wire synthesis, the
cast/enrich analyses and a parquet scan.

One answer per panel per snapshot: each query that reads the pin is a
body `(pin) -> DataFrame` registered by `panel`, and its registry
callable returns the answer `weather_domain.prepared` built from that
body over the current pin and persisted. The first action on it runs the
panel's aggregate over the pin and fills the answer's cache entry; every
later request in the same snapshot scans that cached answer, with no
DataFrame construction, analysis, planning or aggregation. That is exact
because a snapshot's input never changes.

Invalidation: a rewritten events.parquet rebuilds the plan and unpersists
the old answers, then the old pin, before the new one is pinned; a pin
dropped from the cache (`spark.catalog.clearCache()`) is re-pinned on the
next panel, and its answers are unpersisted and rebuilt. An answer lives
exactly as long as its pin. Pin and answers use the default
MEMORY_AND_DISK level, so a working set larger than executor memory
spills to local disk instead of failing. The enriched
plan has no exchange, so the pin follows the events scan's splits: a
one-split scan (every shipped fixture and the benchmark's file) is
pinned declared `SinglePartition` (`coalesce(1)`, which moves no data),
so the panels' aggregates, distincts and sorts over it plan no shuffle:
one job per panel. A multi-split scan is pinned as the bare projection.

Scale notes (100 TB design stance):
- the export-style panels (`weather_export_json`, `weather_renamed`,
  `weather_time_series`) cache about one row per event, as large as the
  pin; at MEMORY_AND_DISK such an answer spills instead of failing;
- every aggregation here is a hash aggregate with map-side partial
  aggregation (8 city keys / 4 alert keys -> tiny shuffle);
- histogram/box-stats get their global bounds via a 1-row aggregate
  cross-joined (broadcast) onto the fact scan — no driver round-trip,
  no collect;
- all averages/stddevs are computed from EXACT integer sums
  (sum/sum-of-squares of int columns), so results are deterministic
  under any partitioning — this is also what makes the DuckDB oracle
  hash-match bitwise (streaming single-pass stddev would not be).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from .. import weather_domain as wd
from ..functions.exprs import rnd
from ..registry import query


def panel(select: str):
    """Register ``body(pin) -> DataFrame`` as the query named after it,
    with oracle ``select`` over the DuckDB `enriched` CTE chain. The
    registered ``(spark, sf_dir)`` callable serves the answer
    `weather_domain.prepared` persists for the current pin."""

    def deco(body):
        name = body.__name__

        @query(name, oracle=f"WITH {wd.oracle_enriched_cte()} {select}")
        def run(spark, sf_dir):
            return wd.prepared(spark, sf_dir, name, body)

        return body

    return deco


# --- A1: per-city multi-agg (ref:streamlit/app.py:333-338) ----------------
# pandas used .agg(['mean','min','max','std']).round(2); std is ddof=1.
_CITY_STATS_EXPRS = {
    "avg_temp": rnd("CAST(SUM(temperature) AS DOUBLE) / COUNT(temperature)", 2),
    "min_temp": "MIN(temperature)",
    "max_temp": "MAX(temperature)",
    "std_temp": rnd(
        "SQRT((CAST(SUM(CAST(temperature AS BIGINT) * temperature) AS DOUBLE)"
        " - CAST(SUM(temperature) AS DOUBLE) * SUM(temperature) / COUNT(temperature))"
        " / (COUNT(temperature) - 1))",
        2,
    ),
}


@panel(
    "SELECT city_name, "
    + ", ".join(f"{e} AS {k}" for k, e in _CITY_STATS_EXPRS.items())
    + " FROM enriched GROUP BY city_name"
)
def weather_city_stats(pin):
    return pin.groupBy("city_name").agg(
        *[F.expr(e).alias(k) for k, e in _CITY_STATS_EXPRS.items()]
    )


# --- A2/A3/A4/A9: global stats + counts (ref:streamlit/app.py:183-206,396-405)
@panel(
    "SELECT COUNT(*) AS n_records, "
    "COUNT(DISTINCT city_name) AS n_cities, "
    + ", ".join(f"{e} AS {k}" for k, e in _CITY_STATS_EXPRS.items())
    + " FROM enriched"
)
def weather_global_stats(pin):
    return pin.agg(
        F.count(F.lit(1)).alias("n_records"),
        F.countDistinct("city_name").alias("n_cities"),
        *[F.expr(e).alias(k) for k, e in _CITY_STATS_EXPRS.items()],
    )


# --- A5/O3: alert value_counts desc (ref:streamlit/app.py:360) ------------
@panel(
    "SELECT alert_type, COUNT(*) AS n FROM enriched GROUP BY alert_type"
)
def weather_alert_counts(pin):
    return (
        pin.groupBy("alert_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"))
    )


# --- A6: distinct values feeding UI selectors (ref:streamlit/app.py:255) --
@panel("SELECT DISTINCT city_name FROM enriched")
def weather_distinct_cities(pin):
    return pin.select("city_name").distinct()


# --- A7: histogram binning, 30 bins (ref:streamlit/app.py:304-313) --------

#: shared bin expression (tested on a degenerate constant-temperature
#: frame in tests/test_robustness.py): the explicit CASE on tmax > tmin
#: forces bin 0 when the range collapses — a NULLIF-divisor + COALESCE
#: spelling does NOT, because both engines' LEAST() skips NULL args so
#: LEAST(NULL, 29) = 29 and the COALESCE never fires (round-4 ADVICE)
_HIST_BIN = (
    "CASE WHEN tmax > tmin THEN "
    "LEAST(CAST(FLOOR((temperature - tmin) * 30.0e0 "
    "/ (tmax - tmin)) AS INTEGER), 29) ELSE 0 END"
)


@panel(
    f"SELECT {_HIST_BIN} AS bin, "
    "COUNT(*) AS n "
    "FROM enriched, (SELECT MIN(temperature) AS tmin, "
    "MAX(temperature) AS tmax FROM enriched) "
    "WHERE temperature IS NOT NULL GROUP BY bin"
)
def weather_temp_histogram(pin):
    """plotly's px.histogram(nbins=30) as a declarative plan: global
    bounds via broadcast 1-row aggregate, then floor-binning. The bounds
    join is a BroadcastNestedLoopJoin of a single row — free at any scale."""
    bounds = pin.agg(
        F.min("temperature").alias("tmin"), F.max("temperature").alias("tmax")
    )
    return (
        pin.filter(F.col("temperature").isNotNull())
        .crossJoin(F.broadcast(bounds))
        .select(F.expr(_HIST_BIN).alias("bin"))
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias("n"))
    )


# --- A7+: 2-D density heatmap (temp x humidity) ---------------------------
@panel(
    "SELECT CAST(FLOOR(CAST(temperature AS DOUBLE) / 5.0e0) AS INTEGER) "
    "AS t_bin, "
    "CAST(FLOOR(CAST(humidity AS DOUBLE) / 10.0e0) AS INTEGER) AS h_bin, "
    "COUNT(*) AS n FROM enriched "
    "WHERE temperature IS NOT NULL AND humidity IS NOT NULL "
    "GROUP BY t_bin, h_bin"
)
def weather_temp_humidity_heatmap(pin):
    """2-D density heatmap: fixed-width bins (5 °C x 10 %RH) over two
    integer-valued columns — the declarative form of a plotly
    density_heatmap. Fixed widths need no bounds pass (unlike the
    min/max-scaled 1-D histogram), so the whole plan is one narrow
    projection + one grouped count; FLOOR over doubles keeps negative
    temperatures binning identically in both engines."""
    return (
        pin.filter(
            F.col("temperature").isNotNull() & F.col("humidity").isNotNull()
        )
        .groupBy(
            F.floor(F.col("temperature").cast("double") / 5.0)
            .cast("integer")
            .alias("t_bin"),
            F.floor(F.col("humidity").cast("double") / 10.0)
            .cast("integer")
            .alias("h_bin"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )


# --- A8: per-city box-plot stats (ref:streamlit/app.py:317-327) -----------
@panel(
    "SELECT city_name, "
    "quantile_cont(temperature, 0.25) AS q1, "
    "quantile_cont(temperature, 0.5) AS median, "
    "quantile_cont(temperature, 0.75) AS q3 "
    "FROM enriched WHERE temperature IS NOT NULL GROUP BY city_name"
)
def weather_city_boxstats(pin):
    """Exact percentiles (linear interpolation) per group. At 100 TB the
    drop-in scale path is percentile_approx (t-digest, mergeable partial
    aggregation); exact percentile is kept here because the oracle needs
    bit parity and group cardinality is tiny."""
    return (
        pin.filter(F.col("temperature").isNotNull())
        .groupBy("city_name")
        .agg(
            F.expr("percentile(temperature, 0.25)").alias("q1"),
            F.expr("percentile(temperature, 0.5)").alias("median"),
            F.expr("percentile(temperature, 0.75)").alias("q3"),
        )
    )


# --- A9: min/max slider bounds (ref:streamlit/app.py:419-421) -------------
@panel(
    "SELECT MIN(temperature) AS tmin, MAX(temperature) AS tmax, "
    "MIN(wind_speed_num) AS wmin, MAX(wind_speed_num) AS wmax "
    "FROM enriched"
)
def weather_minmax(pin):
    return pin.agg(
        F.min("temperature").alias("tmin"),
        F.max("temperature").alias("tmax"),
        F.min("wind_speed_num").alias("wmin"),
        F.max("wind_speed_num").alias("wmax"),
    )


# --- O2/O3: newest alerts first, top-k (ref:streamlit/app.py:378,360) -----
@panel(
    "SELECT event_id, timestamp_dt, city_name, alert_type, temperature "
    "FROM enriched WHERE alert_type <> 'NORMAL' "
    "ORDER BY timestamp_dt DESC, event_id DESC LIMIT 20"
)
def weather_recent_alerts(pin):
    """Top-k: Catalyst compiles orderBy+limit into TakeOrderedAndProject
    (per-partition heap + driver merge of k rows — no full sort, no full
    shuffle). event_id desc tie-break makes the k rows total-ordered."""
    return (
        pin.filter(F.col("alert_type") != "NORMAL")
        .select("event_id", "timestamp_dt", "city_name", "alert_type", "temperature")
        .orderBy(F.desc("timestamp_dt"), F.desc("event_id"))
        .limit(20)
    )


# --- O1: time-ascending series (ref:streamlit/app.py:251) -----------------
@panel(
    "SELECT event_id, timestamp_dt, city_name, temperature "
    "FROM enriched WHERE temperature IS NOT NULL"
)
def weather_time_series(pin):
    return (
        pin.filter(F.col("temperature").isNotNull())
        .select("event_id", "timestamp_dt", "city_name", "temperature")
        .orderBy("timestamp_dt")
    )


# --- P7: range predicate / slider (ref:streamlit/app.py:417-423) ----------
@panel(
    "SELECT event_id, city_name, temperature, humidity FROM enriched "
    "WHERE temperature BETWEEN 18 AND 24"
)
def weather_range_filter(pin):
    return (
        pin.filter(F.col("temperature").between(18, 24))
        .select("event_id", "city_name", "temperature", "humidity")
    )


# --- P8: set-membership multiselect (ref:streamlit/app.py:263,429-435) ----
@panel(
    "SELECT event_id, city_name, temperature FROM enriched "
    "WHERE city_name IN ('Casablanca', 'Rabat', 'Agadir')"
)
def weather_city_isin(pin):
    return (
        pin.filter(F.col("city_name").isin("Casablanca", "Rabat", "Agadir"))
        .select("event_id", "city_name", "temperature")
    )


# --- P10: null-row filter (ref:streamlit/app.py:138) ----------------------
@panel(
    "SELECT city_name, COUNT(*) AS n_valid FROM enriched "
    "WHERE temperature IS NOT NULL GROUP BY city_name"
)
def weather_valid_rows(pin):
    return (
        pin.dropna(subset=["temperature"])
        .groupBy("city_name")
        .agg(F.count(F.lit(1)).alias("n_valid"))
    )


# --- P11: rename normalization (ref:streamlit/app.py:228-231) -------------
@panel(
    "SELECT event_id, city_name AS city, temperature AS temp, "
    "humidity AS rel_humidity FROM enriched"
)
def weather_renamed(pin):
    return (
        pin.select("event_id", "city_name", "temperature", "humidity")
        .withColumnRenamed("city_name", "city")
        .withColumnRenamed("temperature", "temp")
        .withColumnRenamed("humidity", "rel_humidity")
    )


# --- P12: deterministic preview limit (ref:streamlit/app.py:222) ----------
@panel(
    "SELECT event_id, city_name, temperature, alert_type FROM enriched "
    "ORDER BY event_id LIMIT 100"
)
def weather_preview(pin):
    return (
        pin.select("event_id", "city_name", "temperature", "alert_type")
        .orderBy("event_id")
        .limit(100)
    )


# --- S13: JSON export records (ref:streamlit/app.py:460) ------------------
@panel(
    "SELECT event_id, CAST(to_json(struct_pack(city := city_name, "
    "temp := temperature, alert := alert_type)) AS VARCHAR) AS rec "
    "FROM enriched WHERE temperature IS NOT NULL"
)
def weather_export_json(pin):
    """df.to_json(orient='records') as a distributed projection:
    to_json(struct(...)) — each executor serializes its partition, no
    driver collect (the reference serialized the whole frame in the
    Streamlit process)."""
    return (
        pin.filter(F.col("temperature").isNotNull())
        .select(
            "event_id",
            F.to_json(
                F.struct(
                    F.col("city_name").alias("city"),
                    F.col("temperature").alias("temp"),
                    F.col("alert_type").alias("alert"),
                )
            ).alias("rec"),
        )
    )


# --- the SQL surface: same engine, spark.sql() entry ----------------------
@panel(
    "SELECT city_name, COUNT(*) AS n, MAX(heat_index) AS max_heat, "
    "MIN(wind_chill) AS min_chill FROM enriched GROUP BY city_name"
)
def weather_sql_city_summary(pin):
    """The Spark SQL surface: the enriched pipeline registered as a temp
    view, queried with spark.sql — identical Catalyst plan to the
    DataFrame twin (views are just named logical plans)."""
    pin.createOrReplaceTempView("weather_enriched_v")
    return pin.sparkSession.sql(
        "SELECT city_name, COUNT(*) AS n, MAX(heat_index) AS max_heat, "
        "MIN(wind_chill) AS min_chill FROM weather_enriched_v "
        "GROUP BY city_name"
    )


# --- pivot: city x alert_type count matrix --------------------------------
_ALERT_TYPES = [
    "NORMAL", "EXTREME_TEMPERATURE", "HIGH_WIND", "PRESSURE_ANOMALY",
]


@panel(
    "SELECT city_name, "
    + ", ".join(
        f"COUNT(CASE WHEN alert_type = '{a}' THEN 1 END) AS {a}"
        for a in _ALERT_TYPES
    )
    + " FROM enriched GROUP BY city_name"
)
def weather_city_alert_pivot(pin):
    """groupBy().pivot() with the value list DECLARED — one shuffle and
    fixed output schema. Omitting the list makes Spark run an extra
    distinct pass and yields data-dependent columns (schema instability —
    never do that at scale)."""
    return (
        pin.groupBy("city_name")
        .pivot("alert_type", _ALERT_TYPES)
        .count()
        .na.fill(0, _ALERT_TYPES)
    )


# --- P9: null-column pruning (ref:streamlit/app.py:146) -------------------
# pandas dropna(axis=1, how='all'): keep columns with any non-null value.
# Declarative twin: ONE global aggregate row of per-column counts (single
# pass, map-side partial agg), unpivoted via stack — the surviving-column
# list, with evidence counts. No per-column scans at 100 TB.
_P9_COLS = [
    "temperature", "humidity", "pressure", "wind_speed_num",
    "dew_point", "heat_index", "wind_chill",
]


@panel(
    "SELECT column_name, n_nonnull FROM ("
    + " UNION ALL ".join(
        f"SELECT '{c}' AS column_name, COUNT({c}) AS n_nonnull FROM enriched"
        for c in _P9_COLS
    )
    + ") WHERE n_nonnull > 0"
)
def weather_nonnull_columns(pin):
    counts = pin.agg(
        *[F.count(c).alias(c) for c in _P9_COLS]
    )
    stack_args = ", ".join(f"'{c}', {c}" for c in _P9_COLS)
    return counts.selectExpr(
        f"stack({len(_P9_COLS)}, {stack_args}) AS (column_name, n_nonnull)"
    ).filter(F.col("n_nonnull") > 0)


# --- F12: timestamped export filenames (ref:streamlit/app.py:454,463) -----
@panel(
    "SELECT 'weather_data_' || strftime(MAX(timestamp_dt), "
    "'%Y%m%d_%H%M%S') || '.csv' AS data_file, "
    "'weather_alerts_' || strftime(MAX(timestamp_dt), "
    "'%Y%m%d_%H%M%S') || '.json' AS alerts_file FROM enriched"
)
def weather_export_filename(pin):
    """The dashboard stamps export filenames with now(); deterministic
    twin uses the data's own max event time (same date_format idiom)."""
    return (
        pin.agg(F.max("timestamp_dt").alias("m"))
        .select(
            F.concat(
                F.lit("weather_data_"),
                F.date_format("m", "yyyyMMdd_HHmmss"),
                F.lit(".csv"),
            ).alias("data_file"),
            F.concat(
                F.lit("weather_alerts_"),
                F.date_format("m", "yyyyMMdd_HHmmss"),
                F.lit(".json"),
            ).alias("alerts_file"),
        )
    )


# --- F9: epoch-unit heuristic (ref:streamlit/app.py:117-143) --------------
@query(
    "epoch_unit_heuristic",
    oracle=(
        "SELECT event_id, "
        "make_timestamp(CASE WHEN mixed > 1000000000000 THEN mixed // 1000 "
        "ELSE mixed END * 1000000) AS parsed_ts "
        "FROM (SELECT event_id, (1704067200 + event_id * 97) "
        "* (CASE WHEN event_id % 3 = 0 THEN 1000 ELSE 1 END) AS mixed "
        "FROM events)"
    ),
)
def epoch_unit_heuristic(spark, sf_dir):
    """The dashboard's ms-vs-s epoch sniffing, done declaratively: values
    above 1e12 are treated as milliseconds. Mixed-unit column synthesized
    deterministically from events."""
    from .. import tables

    ev = tables.load(spark, sf_dir, "events").select("event_id")
    return ev.select(
        "event_id",
        F.expr(
            f"(({wd.EPOCH0} + event_id * 97) * "
            "(CASE WHEN event_id % 3 = 0 THEN 1000 ELSE 1 END))"
        ).alias("mixed"),
    ).select(
        "event_id",
        F.expr(
            "timestampadd(MICROSECOND, "
            "(CASE WHEN mixed > 1000000000000 THEN mixed div 1000 "
            "ELSE mixed END) * 1000000, "
            "to_timestamp_ntz('1970-01-01 00:00:00'))"
        ).alias("parsed_ts"),
    )


# --- equi-depth temperature buckets --------------------------------------


@panel(
    ", t AS (SELECT event_id, temperature FROM enriched "
    "WHERE temperature IS NOT NULL), "
    "q AS (SELECT temperature, NTILE(4) OVER ("
    "ORDER BY temperature, event_id) AS bucket FROM t) "
    "SELECT bucket, COUNT(*) AS n, MIN(temperature) AS t_lo, "
    "MAX(temperature) AS t_hi FROM q GROUP BY bucket"
)
def weather_temp_equidepth(pin):
    """Equi-DEPTH temperature quartile buckets (equal row counts,
    data-driven boundaries) — the complement of the dashboard's
    fixed-width histogram (A7). NTILE over the (temperature, event_id)
    total order makes bucket membership deterministic across engines
    and partitionings despite integer-temperature ties. The global-sort
    window is the cost (documented: at 100 TB swap NTILE for
    percentile_approx boundaries + a narrow bucket lookup — same
    output shape, no global sort); the aggregate after it is 4 keys."""
    from pyspark.sql import Window

    t = pin.filter(F.col("temperature").isNotNull()).select(
        "event_id", "temperature"
    )
    q = t.select(
        "temperature",
        F.ntile(4)
        .over(Window.orderBy("temperature", "event_id"))
        .alias("bucket"),
    )
    return q.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("temperature").alias("t_lo"),
        F.max("temperature").alias("t_hi"),
    )
