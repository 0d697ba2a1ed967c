"""Weather-pipeline queries: the reference's entire streaming ETL surface
as batch-checkable queries (M0 of SURVEY.md §7).

Covers SURVEY §2: S2/S4/S5 (wire synthesis + parse), P1-P6 (casts, drops,
projections, alert filter), F1-F8 (all scalar derivations), T-path parity
(the same `enrich` fns run under Structured Streaming on the ingest
path in `streaming/jobs.py`, and the windowed and stateful twins in
`streaming/twins.py`).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from .. import weather_domain as wd
from ..functions.exprs import rnd
from ..registry import query


@query("weather_enrich", oracle=wd.oracle_enriched_select())
def weather_enrich(spark, sf_dir):
    """Flagship: wire -> cast -> enrich, the reference's full record
    (ref:spark-apps/weather_streaming.py:59-142)."""
    return wd.enriched_frame(spark, sf_dir)


@query("weather_alerts", oracle=wd.oracle_alerts_select())
def weather_alerts(spark, sf_dir):
    """P6 inequality filter + P5 narrow projection
    (ref:spark-apps/weather_streaming.py:183-192)."""
    return wd.alerts_frame(spark, sf_dir)


@query(
    "weather_console_view",
    oracle=(
        f"WITH {wd.oracle_enriched_cte()} "
        "SELECT event_id, timestamp_dt, city_name, temperature, humidity, "
        "pressure, heat_index, dew_point, wind_chill, comfort_level, "
        "alert_type FROM enriched"
    ),
)
def weather_console_view(spark, sf_dir):
    """P4: the 10-column console projection
    (ref:spark-apps/weather_streaming.py:149-160)."""
    return wd.enriched_frame(spark, sf_dir).select(
        "event_id", "timestamp_dt", "city_name", "temperature", "humidity",
        "pressure", "heat_index", "dew_point", "wind_chill", "comfort_level",
        "alert_type",
    )


# --- degree days ----------------------------------------------------------

_DD_BASE = 18  # base temperature, deg C


@query(
    "weather_degree_days",
    oracle=(
        f"WITH {wd.oracle_enriched_cte()}, "
        "daily AS (SELECT city_name, CAST(timestamp_dt AS DATE) AS day, "
        "CAST(ROUND(CAST(SUM(CAST(temperature AS BIGINT)) AS DOUBLE) "
        "/ COUNT(temperature) * 100.0e0) AS BIGINT) "
        "AS t_c FROM enriched WHERE temperature IS NOT NULL "
        "GROUP BY city_name, CAST(timestamp_dt AS DATE)) "
        "SELECT city_name, COUNT(*) AS n_days, "
        f"SUM(CASE WHEN t_c < {_DD_BASE * 100} THEN {_DD_BASE * 100} - t_c "
        "ELSE 0 END) AS hdd_c, "
        f"SUM(CASE WHEN t_c > {_DD_BASE * 100} THEN t_c - {_DD_BASE * 100} "
        "ELSE 0 END) AS cdd_c "
        "FROM daily GROUP BY city_name"
    ),
)
def weather_degree_days(spark, sf_dir):
    """Heating/cooling degree days per city (base 18 °C) — the standard
    energy-sector weather aggregate the reference's dashboard lacks.
    The daily mean is an exact BIGINT temperature sum divided once
    (never a float AVG — partial-agg order would leak in), snapped to
    centi-degrees; the seasonal HDD/CDD sums are then exact integer
    arithmetic: order-insensitive, engine-identical. Two hash-aggs,
    both keyed well below fact volume."""
    e = wd.enriched_frame(spark, sf_dir)
    daily = (
        e.filter(F.col("temperature").isNotNull())
        .groupBy(
            "city_name", F.to_date("timestamp_dt").alias("day")
        )
        .agg(
            F.expr(
                "CAST(ROUND(CAST(SUM(CAST(temperature AS BIGINT)) AS DOUBLE)"
                " / COUNT(temperature) * 100.0e0) AS BIGINT)"
            ).alias("t_c")
        )
    )
    b = _DD_BASE * 100
    return daily.groupBy("city_name").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.sum(
            F.expr(f"CASE WHEN t_c < {b} THEN {b} - t_c ELSE 0 END")
        ).alias("hdd_c"),
        F.sum(
            F.expr(f"CASE WHEN t_c > {b} THEN t_c - {b} ELSE 0 END")
        ).alias("cdd_c"),
    )


# --- record-breaking days -------------------------------------------------

_REC_ORACLE = (
    f"WITH {wd.oracle_enriched_cte()}, "
    "r AS (SELECT city_name, timestamp_dt, event_id, temperature, "
    "MAX(temperature) OVER w AS prev_max, "
    "MIN(temperature) OVER w AS prev_min FROM enriched "
    "WINDOW w AS (PARTITION BY city_name ORDER BY timestamp_dt, event_id "
    "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)) "
    "SELECT city_name, timestamp_dt, event_id, temperature, "
    "CASE WHEN temperature > prev_max THEN 'record_high' "
    "ELSE 'record_low' END AS record_kind, "
    "CASE WHEN temperature > prev_max THEN prev_max "
    "ELSE prev_min END AS previous_record "
    "FROM r WHERE temperature > prev_max OR temperature < prev_min"
)


@query("weather_record_days", oracle=_REC_ORACLE)
def weather_record_days(spark, sf_dir):
    """Record-breaking observations: every reading that sets a new
    all-time high or low for its city at the moment it arrives (running
    extrema over strictly PRIOR readings — the first observation sets
    no record), with the record it broke. The 'new record temperature'
    headline the reference's dashboard cannot produce from its
    whole-lake rescans without recomputing history per hit; here it is
    one ordered window per city, O(1) running state, and the SAME
    query incrementalizes under streaming as a stateful max/min
    (stateful_city_extremes_stream carries exactly this state). Ties
    do not break records (strict inequality, both engines)."""
    from pyspark.sql import Window

    e = wd.enriched_frame(spark, sf_dir)
    w = (
        Window.partitionBy("city_name")
        .orderBy("timestamp_dt", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    r = e.select(
        "city_name",
        "timestamp_dt",
        "event_id",
        "temperature",
        F.max("temperature").over(w).alias("prev_max"),
        F.min("temperature").over(w).alias("prev_min"),
    )
    return r.filter(
        (F.col("temperature") > F.col("prev_max"))
        | (F.col("temperature") < F.col("prev_min"))
    ).select(
        "city_name",
        "timestamp_dt",
        "event_id",
        "temperature",
        F.expr(
            "CASE WHEN temperature > prev_max THEN 'record_high' "
            "ELSE 'record_low' END"
        ).alias("record_kind"),
        F.expr(
            "CASE WHEN temperature > prev_max THEN prev_max "
            "ELSE prev_min END"
        ).alias("previous_record"),
    )


# --- heat-wave runs -------------------------------------------------------

_HW_RUN_MIN = 3  # minimum consecutive hot days

_HEATWAVE_ORACLE = (
    f"WITH {wd.oracle_enriched_cte()}, "
    "d AS (SELECT city_name, CAST(timestamp_dt AS DATE) AS day, "
    "MAX(temperature) AS dmax FROM enriched GROUP BY 1, 2), "
    "p AS (SELECT city_name, quantile_cont(2 * dmax, 0.9e0) AS p90_2x "
    "FROM d GROUP BY city_name), "
    "h AS (SELECT d.city_name, d.day, d.dmax FROM d "
    "JOIN p ON p.city_name = d.city_name WHERE 2 * d.dmax >= p90_2x), "
    "g AS (SELECT *, day - CAST(ROW_NUMBER() OVER ("
    "PARTITION BY city_name ORDER BY day) AS INTEGER) AS grp FROM h) "
    "SELECT city_name, MIN(day) AS run_start, MAX(day) AS run_end, "
    "COUNT(*) AS run_days, MAX(dmax) AS peak_temp "
    "FROM g GROUP BY city_name, grp "
    f"HAVING COUNT(*) >= {_HW_RUN_MIN}"
)


@query("weather_heatwave_runs", oracle=_HEATWAVE_ORACLE)
def weather_heatwave_runs(spark, sf_dir):
    """Heat waves: runs of {n}+ CONSECUTIVE days where a city's daily
    max reaches its own 90th percentile — the event the reference's
    per-reading threshold alerts (ref:weather_streaming.py:127-142)
    structurally cannot see, because a heat wave is a property of a
    day SEQUENCE, not any single observation. Self-calibrating per
    city (each city's own p90, computed on doubled units so the
    interpolated threshold compares exactly in both engines), then the
    gaps-and-islands day-minus-row_number constant groups consecutive
    hot days; runs shorter than {n} days drop. All frames from the
    daily aggregate down are calendar-sized.""".format(n=_HW_RUN_MIN)
    from pyspark.sql import Window

    e = wd.enriched_frame(spark, sf_dir)
    d = e.groupBy(
        "city_name", F.to_date("timestamp_dt").alias("day")
    ).agg(F.max("temperature").alias("dmax"))
    # Round 9: the per-city p90 threshold is a window over the SAME
    # city partition the run-grouping window needs — the old separate
    # percentile aggregate + join-back consumed a pinned copy of the
    # daily frame twice (persist + extra exchange + join, all gone;
    # measured 1.9 s -> 1.5 s interleaved at sf0.1, identical rows).
    h = d.withColumn(
        "p90_2x",
        F.expr("percentile(2 * dmax, 0.9e0)").over(
            Window.partitionBy("city_name")
        ),
    ).filter(F.expr("2 * dmax >= p90_2x"))
    g = h.withColumn(
        "grp",
        F.expr(
            "day - make_dt_interval(CAST(ROW_NUMBER() OVER ("
            "PARTITION BY city_name ORDER BY day) AS INT), 0, 0, 0)"
        ),
    )
    return (
        g.groupBy("city_name", "grp")
        .agg(
            F.min("day").alias("run_start"),
            F.max("day").alias("run_end"),
            F.count(F.lit(1)).alias("run_days"),
            F.max("dmax").alias("peak_temp"),
        )
        .filter(F.col("run_days") >= _HW_RUN_MIN)
        .drop("grp")
    )


# --- comfort-state dwell time ---------------------------------------------

_DWELL_ORACLE = (
    f"WITH {wd.oracle_enriched_cte()}, "
    "r AS (SELECT city_name, comfort_level, "
    "epoch_us(LEAD(timestamp_dt) OVER (PARTITION BY city_name "
    "ORDER BY timestamp_dt, event_id)) - epoch_us(timestamp_dt) AS g "
    "FROM enriched) "
    "SELECT city_name, comfort_level, COUNT(g) AS n_intervals, "
    "SUM(g) AS dwell_us, "
    + "(CAST(ROUND((CAST(SUM(g) AS DOUBLE) / 3.6e9) * 1e4) AS DOUBLE) "
    "/ 1e4)"
    + " AS dwell_hours "
    "FROM r WHERE g IS NOT NULL GROUP BY city_name, comfort_level"
)


@query("weather_comfort_dwell", oracle=_DWELL_ORACLE)
def weather_comfort_dwell(spark, sf_dir):
    """State dwell-time accounting: how long each city SPENDS in each
    comfort level — every inter-reading interval attributed to the
    state observed at its start (step-function semantics, the standard
    telemetry convention). Counting readings per state (what the
    dashboard's value_counts does) weights by SAMPLING RATE, not time,
    and lies whenever observation cadence varies; this does not. One
    lead window per city (exact integer microsecond gaps), one hash
    aggregate to (city x comfort) cells; the last reading of each city
    has no successor and contributes no dwell — both engines agree."""
    from pyspark.sql import Window

    e = wd.enriched_frame(spark, sf_dir)
    epoch = (
        "timestampdiff(MICROSECOND, to_timestamp_ntz('1970-01-01 00:00:00'), "
        "{c})"
    )
    w = Window.partitionBy("city_name").orderBy("timestamp_dt", "event_id")
    r = e.select(
        "city_name",
        "comfort_level",
        (
            F.expr(epoch.format(c="lead(timestamp_dt) OVER (PARTITION BY "
                                  "city_name ORDER BY timestamp_dt, event_id)"))
            - F.expr(epoch.format(c="timestamp_dt"))
        ).alias("g"),
    )
    return (
        r.filter(F.col("g").isNotNull())
        .groupBy("city_name", "comfort_level")
        .agg(
            F.count("g").alias("n_intervals"),
            F.sum("g").alias("dwell_us"),
            F.expr(
                "(CAST(ROUND((CAST(SUM(g) AS DOUBLE) / 3.6e9) * 1e4) "
                "AS DOUBLE) / 1e4)"
            ).alias("dwell_hours"),
        )
    )


# --- stuck-sensor (flatline) detection ------------------------------------

_FLAT_MIN = 2  # demo threshold (fixture temps rarely repeat);
#              production telemetry uses >= 5

_FLATLINE_ORACLE = (
    f"WITH {wd.oracle_enriched_cte()}, "
    "r AS (SELECT city_name, temperature, timestamp_dt, event_id, "
    "ROW_NUMBER() OVER (PARTITION BY city_name "
    "ORDER BY timestamp_dt, event_id) - "
    "ROW_NUMBER() OVER (PARTITION BY city_name, temperature "
    "ORDER BY timestamp_dt, event_id) AS grp FROM enriched) "
    "SELECT city_name, temperature AS stuck_value, "
    "MIN(timestamp_dt) AS run_start, MAX(timestamp_dt) AS run_end, "
    "COUNT(*) AS run_len FROM r "
    "GROUP BY city_name, temperature, grp "
    f"HAVING COUNT(*) >= {_FLAT_MIN}"
)


@query("weather_flatline_runs", oracle=_FLATLINE_ORACLE)
def weather_flatline_runs(spark, sf_dir):
    """Stuck-sensor detection: runs of {n}+ CONSECUTIVE identical
    temperature readings per city — the telemetry data-quality failure
    (frozen sensor, stale cache, repeated retransmit) that per-reading
    range checks pass happily, because every individual value is
    plausible. Value-keyed gaps-and-islands: the difference of two
    row_numbers (per city vs per city+value) is constant exactly while
    the value repeats; two window passes over one exchange, then a
    run-level aggregate. Streaming twin: the same detection is a tiny
    extension of stateful_city_extremes_stream's per-city state (carry
    last value + run length).""".format(n=_FLAT_MIN)
    from pyspark.sql import Window

    e = wd.enriched_frame(spark, sf_dir)
    w_all = Window.partitionBy("city_name").orderBy(
        "timestamp_dt", "event_id"
    )
    w_val = Window.partitionBy("city_name", "temperature").orderBy(
        "timestamp_dt", "event_id"
    )
    r = e.select(
        "city_name",
        "temperature",
        "timestamp_dt",
        "event_id",
        (
            F.row_number().over(w_all) - F.row_number().over(w_val)
        ).alias("grp"),
    )
    return (
        r.groupBy("city_name", "temperature", "grp")
        .agg(
            F.min("timestamp_dt").alias("run_start"),
            F.max("timestamp_dt").alias("run_end"),
            F.count(F.lit(1)).alias("run_len"),
        )
        .filter(F.col("run_len") >= _FLAT_MIN)
        .select(
            "city_name",
            F.col("temperature").alias("stuck_value"),
            "run_start",
            "run_end",
            "run_len",
        )
    )


# --- Beaufort wind-force climatology ---------------------------------------

#: Beaufort breakpoints in km/h (classes 0-7+; the fixture's wind span
#: tops out around 60 km/h so higher forces collapse into 7)
_BEAUFORT = (
    "CASE WHEN wind_speed_num < 2 THEN 0 WHEN wind_speed_num < 6 THEN 1 "
    "WHEN wind_speed_num < 12 THEN 2 WHEN wind_speed_num < 20 THEN 3 "
    "WHEN wind_speed_num < 29 THEN 4 WHEN wind_speed_num < 39 THEN 5 "
    "WHEN wind_speed_num < 50 THEN 6 ELSE 7 END"
)


@query(
    "weather_beaufort_distribution",
    oracle=(
        "WITH " + wd.oracle_enriched_cte() + ", "
        "b AS (SELECT " + _BEAUFORT + " AS beaufort, temperature, "
        "CASE WHEN alert_type <> 'NORMAL' THEN 1 ELSE 0 END AS alerted "
        "FROM enriched WHERE wind_speed_num IS NOT NULL) "
        "SELECT beaufort, COUNT(*) AS n_obs, "
        "CAST(SUM(CAST(temperature AS BIGINT)) AS DOUBLE) "
        "/ COUNT(temperature) AS avg_temp, "
        "CAST(SUM(alerted) AS BIGINT) AS n_alerted "
        "FROM b GROUP BY beaufort"
    ),
)
def weather_beaufort_distribution(spark, sf_dir):
    """Beaufort wind-force climatology: observations bucketed into the
    standard wind-force classes with per-class mean temperature and
    alert counts — the domain aggregation (wind climatology) the
    reference's dashboard never computes from the wind_speed it
    faithfully casts (ref:weather_streaming.py:68). Pure narrow CASE
    binning + one class-cardinality aggregate; the average rides the
    exact integer temperature sum."""
    e = wd.enriched_frame(spark, sf_dir)
    return (
        e.filter(F.col("wind_speed_num").isNotNull())
        .select(
            F.expr(_BEAUFORT).alias("beaufort"),
            "temperature",
            F.expr(
                "CASE WHEN alert_type <> 'NORMAL' THEN 1 ELSE 0 END"
            ).alias("alerted"),
        )
        .groupBy("beaufort")
        .agg(
            F.count(F.lit(1)).alias("n_obs"),
            F.expr(
                "CAST(SUM(CAST(temperature AS BIGINT)) AS DOUBLE)"
                " / COUNT(temperature)"
            ).alias("avg_temp"),
            F.sum("alerted").cast("bigint").alias("n_alerted"),
        )
    )


# --- extreme-value analysis: Gumbel return levels --------------------------

def _gumbel_sql() -> str:
    """Block-maxima extreme-value fit: daily maximum temperature, Gumbel
    parameters by method of moments (beta = sqrt(6) s / pi, mu = xbar -
    gamma beta), return level T = mu - beta ln(-ln(1 - 1/T)). Daily
    maxima are exact integers, moments exact sums; the closed forms run
    once on a single row with literal constants."""
    lvl = "(mu - beta * LN(-LN(1.0e0 - 1.0e0 / {t}.0e0)))"
    return (
        "dm AS (SELECT CAST(timestamp_dt AS DATE) AS day, "
        "MAX(CAST(temperature AS BIGINT)) AS mx FROM enriched "
        "WHERE temperature IS NOT NULL "
        "GROUP BY CAST(timestamp_dt AS DATE)), "
        "m AS (SELECT COUNT(*) AS n, SUM(mx) AS sx, "
        "SUM(mx * mx) AS sxx FROM dm), "
        # NULLIF/GREATEST: a one-day corpus zeroes (n-1) (fit
        # undefined -> NULL); SQRT absorbs cancellation negatives
        "p AS (SELECT n, CAST(sx AS DOUBLE) / NULLIF(n, 0) AS xbar, "
        "SQRT(GREATEST((CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) "
        "* sx / NULLIF(n, 0)) "
        "/ NULLIF(n - 1, 0), 0.0e0)) AS sdev FROM m), "
        "g AS (SELECT n, xbar, sdev, "
        "0.7796968012336761e0 * sdev AS beta FROM p), "
        "f AS (SELECT n, beta, "
        "xbar - 0.5772156649015329e0 * beta AS mu FROM g) "
        "SELECT CAST(n AS BIGINT) AS n_days, "
        + rnd("mu", 4) + " AS gumbel_mu, "
        + rnd("beta", 4) + " AS gumbel_beta, "
        + rnd(lvl.format(t=10), 2) + " AS return_level_10d, "
        + rnd(lvl.format(t=50), 2) + " AS return_level_50d, "
        + rnd(lvl.format(t=100), 2) + " AS return_level_100d FROM f"
    )


@query(
    "weather_gumbel_return_levels",
    oracle=(
        "WITH " + wd.oracle_enriched_cte() + ", " + _gumbel_sql()
    ),
)
def weather_gumbel_return_levels(spark, sf_dir):
    """Extreme-value analysis of daily maximum temperature: Gumbel
    distribution fitted to the block maxima by method of moments, and
    the 10/50/100-day return levels — 'how hot a day should we plan
    for once per N days', the question heat-infrastructure design
    actually asks, which no mean/percentile of the raw stream answers
    (extremes follow their own distribution). One day-grain max
    aggregate, exact moment sums, closed forms with literal Gumbel
    constants (sqrt(6)/pi, Euler-Mascheroni)."""
    wd.enriched_frame(spark, sf_dir).createOrReplaceTempView("enriched")
    return spark.sql("WITH " + _gumbel_sql())


# --- diurnal temperature range climatology ---------------------------------

@query(
    "weather_diurnal_range",
    oracle=(
        "WITH " + wd.oracle_enriched_cte() + ", "
        "d AS (SELECT city_name, CAST(timestamp_dt AS DATE) AS day, "
        "MAX(CAST(temperature AS BIGINT)) AS tmax, "
        "MIN(CAST(temperature AS BIGINT)) AS tmin, "
        "COUNT(temperature) AS n_obs FROM enriched "
        "WHERE temperature IS NOT NULL "
        "GROUP BY city_name, CAST(timestamp_dt AS DATE)), "
        "r AS (SELECT city_name, tmax - tmin AS rng FROM d "
        "WHERE n_obs >= 2) "
        "SELECT city_name, COUNT(*) AS n_days, "
        "CAST(SUM(rng) AS DOUBLE) / COUNT(*) AS mean_diurnal_range, "
        "CAST(MAX(rng) AS BIGINT) AS max_diurnal_range "
        "FROM r GROUP BY city_name"
    ),
)
def weather_diurnal_range(spark, sf_dir):
    """Diurnal temperature range climatology per city: the daily
    max-minus-min spread, averaged and maxed over days with at least
    two observations — continentality in one number (coastal cities
    compress the range, inland ones stretch it), and the swing an HVAC
    or agriculture planner sizes against. Day-grain min/max aggregate
    then a city-cardinality reduce; ranges are exact integers so the
    mean is an exact-sum division."""
    e = wd.enriched_frame(spark, sf_dir)
    d = (
        e.filter(F.col("temperature").isNotNull())
        .groupBy("city_name", F.to_date("timestamp_dt").alias("day"))
        .agg(
            F.max(F.col("temperature").cast("bigint")).alias("tmax"),
            F.min(F.col("temperature").cast("bigint")).alias("tmin"),
            F.count("temperature").alias("n_obs"),
        )
        .filter(F.col("n_obs") >= 2)
    )
    return (
        d.select("city_name", (F.col("tmax") - F.col("tmin")).alias("rng"))
        .groupBy("city_name")
        .agg(
            F.count(F.lit(1)).alias("n_days"),
            F.expr(
                "CAST(SUM(rng) AS DOUBLE) / COUNT(*)"
            ).alias("mean_diurnal_range"),
            F.max("rng").cast("bigint").alias("max_diurnal_range"),
        )
    )


# --- wet-bulb temperature (Stull approximation) ----------------------------

#: Stull (2011) wet-bulb approximation from dry-bulb T (C) and RH (%):
#: identical function set (ATAN/SQRT/POW) in both engines; inputs are
#: exact integers so each row is one deterministic IEEE evaluation,
#: snapped to centi-degrees before any aggregate.
_WETBULB_U = (
    "CAST(ROUND((CAST(temperature AS DOUBLE) * ATAN(0.151977e0 * "
    "SQRT(CAST(humidity AS DOUBLE) + 8.313659e0)) "
    "+ ATAN(CAST(temperature AS DOUBLE) + CAST(humidity AS DOUBLE)) "
    "- ATAN(CAST(humidity AS DOUBLE) - 1.676331e0) "
    "+ 0.00391838e0 * POW(CAST(humidity AS DOUBLE), 1.5e0) "
    "* ATAN(0.023101e0 * CAST(humidity AS DOUBLE)) "
    "- 4.686035e0) * 100.0e0) AS BIGINT)"
)


@query(
    "weather_wet_bulb_stats",
    oracle=(
        "WITH " + wd.oracle_enriched_cte() + ", "
        "w AS (SELECT city_name, " + _WETBULB_U + " AS wb_u "
        "FROM enriched WHERE temperature IS NOT NULL "
        "AND humidity IS NOT NULL) "
        "SELECT city_name, COUNT(*) AS n_obs, "
        "CAST(SUM(wb_u) AS DOUBLE) / (100.0e0 * COUNT(*)) "
        "AS mean_wet_bulb, "
        "CAST(MAX(wb_u) AS DOUBLE) / 100.0e0 AS max_wet_bulb, "
        "CAST(SUM(CASE WHEN wb_u >= 3000 THEN 1 ELSE 0 END) AS BIGINT) "
        "AS n_dangerous_obs FROM w GROUP BY city_name"
    ),
)
def weather_wet_bulb_stats(spark, sf_dir):
    """Wet-bulb temperature (Stull's 2011 one-equation approximation
    from dry-bulb and relative humidity) per city: mean, max, and the
    count of observations at or above the 30 C danger line where
    evaporative cooling stops working — the heat-safety metric the
    reference's heat index approximates more coarsely
    (ref:weather_streaming.py:89-92), extending the derived-meteorology
    family (dew point / heat index / wind chill). Per-row evaluation
    snaps to centi-degrees so city aggregates ride exact integers."""
    e = wd.enriched_frame(spark, sf_dir)
    return (
        e.filter(
            F.col("temperature").isNotNull()
            & F.col("humidity").isNotNull()
        )
        .select("city_name", F.expr(_WETBULB_U).alias("wb_u"))
        .groupBy("city_name")
        .agg(
            F.count(F.lit(1)).alias("n_obs"),
            F.expr(
                "CAST(SUM(wb_u) AS DOUBLE) / (100.0e0 * COUNT(*))"
            ).alias("mean_wet_bulb"),
            F.expr("CAST(MAX(wb_u) AS DOUBLE) / 100.0e0").alias(
                "max_wet_bulb"
            ),
            F.expr(
                "CAST(SUM(CASE WHEN wb_u >= 3000 THEN 1 ELSE 0 END) "
                "AS BIGINT)"
            ).alias("n_dangerous_obs"),
        )
    )


# --- comfort-state transition matrix ---------------------------------------

@query(
    "weather_comfort_transitions",
    oracle=(
        "WITH " + wd.oracle_enriched_cte() + ", "
        "p AS (SELECT city_name, comfort_level AS to_state, "
        "LAG(comfort_level) OVER (PARTITION BY city_name "
        "ORDER BY timestamp_dt, event_id) AS from_state FROM enriched "
        "WHERE comfort_level IS NOT NULL), "
        "c AS (SELECT from_state, to_state, COUNT(*) AS n FROM p "
        "WHERE from_state IS NOT NULL GROUP BY from_state, to_state), "
        "r AS (SELECT from_state, SUM(n) AS nf FROM c "
        "GROUP BY from_state) "
        "SELECT c.from_state, c.to_state, CAST(c.n AS BIGINT) "
        "AS n_transitions, "
        + rnd("CAST(c.n AS DOUBLE) / r.nf", 6)
        + " AS p_transition FROM c JOIN r ON r.from_state = c.from_state"
    ),
)
def weather_comfort_transitions(spark, sf_dir):
    """Comfort-state transition matrix: per-city observation sequences
    lagged into (from -> to) comfort-level transitions with
    row-normalized probabilities — the Markov machinery
    (events_transition_matrix) applied to the reference's own derived
    classification (ref:weather_streaming.py:117-124): high diagonal
    mass means comfort states persist and forecasting them is easy;
    the off-diagonal structure says which discomfort a city slides
    into. One lag window on the city partition, a states^2 aggregate,
    exact counts into one snapped division."""
    e = wd.enriched_frame(spark, sf_dir)
    from pyspark.sql import Window

    w = Window.partitionBy("city_name").orderBy("timestamp_dt", "event_id")
    p = e.filter(F.col("comfort_level").isNotNull()).select(
        F.col("comfort_level").alias("to_state"),
        F.lag("comfort_level").over(w).alias("from_state"),
    )
    c = p.filter(F.col("from_state").isNotNull()).groupBy(
        "from_state", "to_state"
    ).agg(F.count(F.lit(1)).alias("n"))
    r = c.groupBy("from_state").agg(F.sum("n").alias("nf"))
    return c.join(r, "from_state").select(
        "from_state",
        "to_state",
        F.col("n").cast("bigint").alias("n_transitions"),
        F.expr(rnd("CAST(n AS DOUBLE) / nf", 6)).alias("p_transition"),
    )


# --- pressure tendency (METAR-style 3-reading barometric trend) ------------

_PT_CLASS = (
    "CASE WHEN d3 IS NULL THEN 'unknown' "
    "WHEN d3 <= -200 THEN 'falling_rapidly' "
    "WHEN d3 < 0 THEN 'falling' "
    "WHEN d3 = 0 THEN 'steady' "
    "WHEN d3 < 200 THEN 'rising' "
    "ELSE 'rising_rapidly' END"
)

_PT_ORACLE = (
    f"WITH {wd.oracle_enriched_cte()}, "
    "t AS (SELECT city_name, "
    "(pressure - LAG(pressure, 3) OVER (PARTITION BY city_name "
    "ORDER BY timestamp_dt, event_id)) * 100 AS d3 FROM enriched), "
    f"c AS (SELECT city_name, {_PT_CLASS} AS tendency, d3 FROM t) "
    "SELECT city_name, tendency, COUNT(*) AS n_obs, "
    "SUM(CASE WHEN d3 IS NULL THEN 0 ELSE d3 END) AS sum_d3_cpa "
    "FROM c GROUP BY city_name, tendency"
)


@query("weather_pressure_tendency", oracle=_PT_ORACLE)
def weather_pressure_tendency(spark, sf_dir):
    """Barometric pressure tendency, the METAR/synoptic trend code the
    reference's alert engine never derives: each reading's change over
    the 3 PRIOR readings of its city (the '3-hour tendency' at this
    feed's cadence), classified into the five falling/steady/rising
    grades that front-of-house forecasting keys on (a rapid fall is
    the storm-approach signal). One lag window per city (integer hPa,
    scaled to exact centi-hPa) + one bounded hash-agg to (city x
    grade) cells; incrementalizes under streaming as a 3-deep
    per-city buffer. First three readings of a city classify
    'unknown' rather than silently dropping (both engines)."""
    from pyspark.sql import Window

    e = wd.enriched_frame(spark, sf_dir)
    w = Window.partitionBy("city_name").orderBy("timestamp_dt", "event_id")
    t = e.select(
        "city_name",
        (
            (F.col("pressure") - F.lag("pressure", 3).over(w)) * 100
        ).alias("d3"),
    )
    return (
        t.select("city_name", F.expr(_PT_CLASS).alias("tendency"), "d3")
        .groupBy("city_name", "tendency")
        .agg(
            F.count(F.lit(1)).alias("n_obs"),
            F.sum(F.expr("CASE WHEN d3 IS NULL THEN 0 ELSE d3 END")).alias(
                "sum_d3_cpa"
            ),
        )
    )


# --- WMO-style step / spike QC battery -------------------------------------

#: step threshold in deg C between consecutive readings. WMO's guide
#: uses ~3 K/min for synoptic stations; the fixture's wire cadence and
#: pseudo-random temps make 30 the discriminative demo value.
_QC_STEP_T = "30.0e0"

_QC_ORACLE = (
    f"WITH {wd.oracle_enriched_cte()}, "
    "b AS (SELECT city_name, temperature AS t, timestamp_dt, event_id "
    "FROM enriched WHERE temperature IS NOT NULL), "
    "r AS (SELECT city_name, t, "
    "LAG(t) OVER (PARTITION BY city_name "
    "ORDER BY timestamp_dt, event_id) AS pv, "
    "LEAD(t) OVER (PARTITION BY city_name "
    "ORDER BY timestamp_dt, event_id) AS nx FROM b) "
    "SELECT city_name, COUNT(*) AS n_obs, "
    "CAST(SUM(CASE WHEN pv IS NOT NULL "
    f"AND ABS(t - pv) > {_QC_STEP_T} THEN 1 ELSE 0 END) AS BIGINT) "
    "AS n_steps, "
    "CAST(SUM(CASE WHEN pv IS NOT NULL AND nx IS NOT NULL "
    f"AND ABS(t - pv) > {_QC_STEP_T} AND ABS(t - nx) > {_QC_STEP_T} "
    "AND (t - pv) * (t - nx) > 0.0e0 THEN 1 ELSE 0 END) AS BIGINT) "
    "AS n_spikes, "
    + rnd("MAX(CASE WHEN pv IS NOT NULL THEN ABS(t - pv) END)", 2)
    + " AS max_abs_step FROM r GROUP BY city_name"
)


@query("weather_step_spike_qc", oracle=_QC_ORACLE)
def weather_step_spike_qc(spark, sf_dir):
    """WMO-style temporal-consistency QC battery per station: STEP test
    (|delta| to the previous reading above threshold) and SPIKE test
    (deviates the same direction from BOTH neighbors beyond threshold —
    the single-point transmission glitch that a step test double-counts
    and a range check passes), summarized per city with the worst step.
    Completes the sensor-QC trio with weather_flatline_runs (the
    persistence test) and the enrich stage's range-based anomaly flags:
    range / step / spike / persistence are the four WMO Guide No. 8
    temporal checks. One lag+lead window per city over the dirty-row-
    filtered frame, one hash aggregate; at 100 TB partition-by-station
    windows parallelize per station exactly like every other window in
    the weather family."""
    from pyspark.sql import Window

    e = wd.enriched_frame(spark, sf_dir)
    w = Window.partitionBy("city_name").orderBy("timestamp_dt", "event_id")
    r = e.filter(F.col("temperature").isNotNull()).select(
        "city_name",
        F.col("temperature").alias("t"),
        F.lag("temperature").over(w).alias("pv"),
        F.lead("temperature").over(w).alias("nx"),
    )
    return r.groupBy("city_name").agg(
        F.count(F.lit(1)).alias("n_obs"),
        F.sum(
            F.expr(
                "CASE WHEN pv IS NOT NULL "
                f"AND ABS(t - pv) > {_QC_STEP_T} THEN 1 ELSE 0 END"
            )
        )
        .cast("bigint")
        .alias("n_steps"),
        F.sum(
            F.expr(
                "CASE WHEN pv IS NOT NULL AND nx IS NOT NULL "
                f"AND ABS(t - pv) > {_QC_STEP_T} "
                f"AND ABS(t - nx) > {_QC_STEP_T} "
                "AND (t - pv) * (t - nx) > 0.0e0 THEN 1 ELSE 0 END"
            )
        )
        .cast("bigint")
        .alias("n_spikes"),
        F.expr(
            rnd("MAX(CASE WHEN pv IS NOT NULL THEN ABS(t - pv) END)", 2)
        ).alias("max_abs_step"),
    )
