"""Weather domain: wire schema, synthetic wire generator, and the shared
scalar-expression spec used by BOTH the Spark pipeline and the DuckDB oracle.

The reference's only entity is a weather-observation stream
(ref:spark-apps/weather_streaming.py:28-43 wire schema;
ref:spark-apps/weather_streaming.py:62-142 cast + enrichment). The driver's
fixtures have no weather table, so we derive a deterministic weather-shaped
wire stream from `events` with pure integer arithmetic (exact in both
engines) — FIXTURES.md §B sanctions exactly this mapping.

Design: every scalar formula is written ONCE as an ANSI-SQL snippet that
both Spark (`F.expr`, compiled by Catalyst into JVM codegen — zero Python
at runtime) and DuckDB (oracle) evaluate identically. Structure (what is a
column, stage ordering, sinks) is DataFrame API on the Spark side.

Semantics preserved from the reference, line-for-line:
- cast battery ref:spark-apps/weather_streaming.py:62-74 (try_cast => the
  reference's non-ANSI null-on-bad-cast semantics, FIXTURES.md "dirty rows")
- dew point / heat index / wind chill ref:...:81-102
- weather_category LIKE-chain, order matters ("clear" before "cloud")
  ref:...:105-114
- comfort_level ref:...:117-124; anomaly flags + alert_type ref:...:127-142
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import tables

# --- deterministic synthetic wire spec (exact integer arithmetic) ---------

CITIES = [
    "Casablanca", "Rabat", "Marrakech", "Fes",
    "Tangier", "Agadir", "Oujda", "Essaouira",
]
# one per LIKE branch of ref:spark-apps/weather_streaming.py:107-113,
# plus 'mist'/'haze' falling through to 'Other'
DESCRIPTIONS = [
    "clear sky", "few clouds", "scattered clouds", "overcast clouds",
    "light rain", "moderate rain", "thunderstorm", "light snow",
    "fog", "mist",
]

EPOCH0 = 1_704_067_200  # 2024-01-01 00:00:00 UTC


def _case_from_list(expr: str, values: list[str]) -> str:
    branches = " ".join(
        f"WHEN {i} THEN '{v}'" for i, v in enumerate(values)
    )
    return f"CASE {expr} {branches} END"


# Engine-neutral SQL snippets computing the *numeric* wire values from
# events columns. Ranges chosen to exercise every when-branch
# (FIXTURES.md §A1 generator hints): temp spans <0..>40, wind spans
# <=4.8/>4.8/>50, pressure spans <980/>1040, humidity 0..100.
# All fractional literals carry e0 (double) and intermediates are CAST to
# DOUBLE: bare `0.1` parses as DECIMAL in Spark but the promotion rules
# differ from DuckDB's, producing different doubles on mixed expressions.
# Pinning everything to IEEE double arithmetic makes both engines produce
# bit-identical values.
WIRE_NUMERIC = {
    "epoch_s": f"({EPOCH0} + event_id * 97)",
    "t_raw": "(CAST((event_id * 7919) % 6100 AS DOUBLE) / 100.0e0 - 10.0e0)",
    "hum": "((event_id * 104729) % 101)",
    "press": "(950 + (event_id * 13) % 111)",
    "wind": "(CAST((event_id * 31) % 601 AS DOUBLE) / 10.0e0)",
    "lat": "(20.0e0 + CAST(user_id % 300 AS DOUBLE) / 10.0e0)",
    "lon": "(-15.0e0 + CAST(user_id % 200 AS DOUBLE) / 10.0e0)",
}

# feels/min/max derive from t_raw (exact halves / tenths keep doubles exact)
WIRE_DERIVED = {
    "feels": "(t_raw + 0.1e0 * hum - 0.2e0 * wind)",
    "min_t": "(t_raw - CAST(event_id % 7 AS DOUBLE) * 0.5e0)",
    "max_t": "(t_raw + CAST(event_id % 9 AS DOUBLE) * 0.5e0)",
}

DIRTY_TEMP_PRED = "event_id % 97 = 0"  # -> 'N/A' wire value -> null cast


def wire_wide_sql(q: str) -> dict[str, str]:
    """The 14 wire columns (all strings; quoting char `q` wraps the two
    accented French names). Keys are wire-schema column names,
    ref:spark-apps/weather_streaming.py:28-43."""
    return {
        "date": "ts_fmt(epoch_s)",
        "weather_description": _case_from_list("(event_id % 10)", DESCRIPTIONS),
        "latitude": "CAST(lat AS STRING)",
        "pression": "CAST(press AS STRING)",
        f"humidit{q}": "CAST(hum AS STRING)",
        "feels_like": "CAST(feels AS STRING)",
        "city_name": _case_from_list("(user_id % 8)", CITIES),
        "local_time": "ts_fmt(epoch_s + 3600)",
        "min_temp": "CAST(min_t AS STRING)",
        "wind_speed": "CAST(wind AS STRING)",
        f"temp{q}rature": (
            f"CASE WHEN {DIRTY_TEMP_PRED} THEN 'N/A' "
            "ELSE CAST(t_raw AS STRING) END"
        ),
        "max_temp": "CAST(max_t AS STRING)",
        "timestamp": "CAST(epoch_s AS STRING)",
        "longitude": "CAST(lon AS STRING)",
    }


# --- cast stage (ref:spark-apps/weather_streaming.py:62-74) ---------------
# Written against the wire columns; `e`/`h` are the quoted accent names.

def cast_stage_sql(qo: str, qc: str) -> dict[str, str]:
    """qo/qc: identifier open/close quote (backtick for Spark, `"` for
    DuckDB)."""
    t = f"{qo}température{qc}"
    h = f"{qo}humidité{qc}"
    return {
        "temperature": f"CAST(ROUND(TRY_CAST({t} AS DOUBLE)) AS INTEGER)",
        # reference casts double->int directly (values are whole numbers)
        "humidity": f"CAST(TRY_CAST({h} AS DOUBLE) AS INTEGER)",
        "pressure": "CAST(TRY_CAST(pression AS DOUBLE) AS INTEGER)",
        "wind_speed_num": "TRY_CAST(wind_speed AS DOUBLE)",
        "feels_like_num": "CAST(ROUND(TRY_CAST(feels_like AS DOUBLE)) AS INTEGER)",
        "min_temp_num": "CAST(ROUND(TRY_CAST(min_temp AS DOUBLE)) AS INTEGER)",
        "max_temp_num": "CAST(ROUND(TRY_CAST(max_temp AS DOUBLE)) AS INTEGER)",
        "lat": "TRY_CAST(latitude AS DOUBLE)",
        "lon": "TRY_CAST(longitude AS DOUBLE)",
        "event_time": "ts_fmt(TRY_CAST(timestamp AS BIGINT))",
        "timestamp_dt": "ts_parse(event_time)",
    }


DROP_AFTER_CAST = [  # ref:spark-apps/weather_streaming.py:73-74
    "température", "humidité", "pression", "feels_like", "min_temp",
    "max_temp", "latitude", "longitude", "wind_speed",
]

# --- enrichment stage (ref:spark-apps/weather_streaming.py:81-142) --------

ENRICH_SQL = {
    "dew_point": (
        "CAST(ROUND(temperature - ((100 - humidity) / 5.0e0)) AS INTEGER)"
    ),
    "heat_index": (
        "CASE WHEN temperature >= 27 THEN "
        "CAST(ROUND(temperature + 0.33e0 * humidity "
        "- 0.70e0 * wind_speed_num - 4.00e0) AS INTEGER) "
        "ELSE temperature END"
    ),
    "wind_chill": (
        "CASE WHEN temperature <= 10 AND wind_speed_num > 4.8e0 THEN "
        "CAST(ROUND(13.12e0 + 0.6215e0 * temperature "
        "- 11.37e0 * POW(wind_speed_num, 0.16e0) "
        "+ 0.3965e0 * temperature * POW(wind_speed_num, 0.16e0)) AS INTEGER) "
        "ELSE temperature END"
    ),
    "weather_category": (
        "CASE WHEN weather_description LIKE '%clear%' THEN 'Clear' "
        "WHEN weather_description LIKE '%cloud%' THEN 'Cloudy' "
        "WHEN weather_description LIKE '%rain%' THEN 'Rainy' "
        "WHEN weather_description LIKE '%storm%' THEN 'Stormy' "
        "WHEN weather_description LIKE '%snow%' THEN 'Snowy' "
        "WHEN weather_description LIKE '%fog%' THEN 'Foggy' "
        "ELSE 'Other' END"
    ),
    "comfort_level": (
        "CASE WHEN temperature BETWEEN 18 AND 24 "
        "AND humidity BETWEEN 30 AND 60 THEN 'Comfortable' "
        "WHEN temperature > 30 THEN 'Very Hot' "
        "WHEN temperature < 10 THEN 'Cold' "
        "WHEN humidity > 80 THEN 'Humid' "
        "ELSE 'Moderate' END"
    ),
    "is_extreme_temp": (
        "CASE WHEN temperature > 40 OR temperature < 0 "
        "THEN TRUE ELSE FALSE END"
    ),
    "is_high_wind": "CASE WHEN wind_speed_num > 50 THEN TRUE ELSE FALSE END",
    "is_pressure_anomaly": (
        "CASE WHEN pressure < 980 OR pressure > 1040 THEN TRUE ELSE FALSE END"
    ),
}

ALERT_SQL = (
    "CASE WHEN is_extreme_temp THEN 'EXTREME_TEMPERATURE' "
    "WHEN is_high_wind THEN 'HIGH_WIND' "
    "WHEN is_pressure_anomaly THEN 'PRESSURE_ANOMALY' "
    "ELSE 'NORMAL' END"
)

#: final enriched column order (reference's 24 + event_id for joinability)
ENRICHED_COLUMNS = [
    "event_id", "date", "weather_description", "city_name", "local_time",
    "timestamp", "temperature", "humidity", "pressure", "wind_speed_num",
    "feels_like_num", "min_temp_num", "max_temp_num", "lat", "lon",
    "event_time", "timestamp_dt", "dew_point", "heat_index", "wind_chill",
    "weather_category", "comfort_level", "is_extreme_temp", "is_high_wind",
    "is_pressure_anomaly", "alert_type",
]

ALERT_COLUMNS = [  # ref:spark-apps/weather_streaming.py:185-192
    "timestamp_dt", "city_name", "alert_type", "temperature",
    "wind_speed_num", "pressure",
]

#: every column a dashboard panel (queries/analytics.py) reads: the
#: narrow projection pinned_frame keeps in the cache
PINNED_COLUMNS = [
    "event_id", "city_name", "timestamp_dt", "alert_type", "temperature",
    "humidity", "pressure", "wind_speed_num", "dew_point", "heat_index",
    "wind_chill",
]


# --- engine adapters ------------------------------------------------------

def _adapt(sql: str, engine: str) -> str:
    """Expand the two tz-free helper macros per engine.

    ts_fmt(epoch)  -> 'yyyy-MM-dd HH:mm:ss' string (UTC)
    ts_parse(s)    -> naive timestamp
    """
    if engine == "spark":
        sql = sql.replace("ts_fmt(", "from_unixtime(")
        # from_unixtime(x) already defaults to yyyy-MM-dd HH:mm:ss; session
        # tz forced to UTC by session.tune
        sql = sql.replace("ts_parse(", "to_timestamp_ntz(")
    else:
        out = []
        i = 0
        while True:
            j = sql.find("ts_fmt(", i)
            if j < 0:
                out.append(sql[i:])
                break
            out.append(sql[i:j])
            depth = 1
            k = j + len("ts_fmt(")
            start = k
            while depth:
                if sql[k] == "(":
                    depth += 1
                elif sql[k] == ")":
                    depth -= 1
                k += 1
            inner = sql[start : k - 1]
            out.append(
                f"strftime(make_timestamp(({inner}) * 1000000), "
                "'%Y-%m-%d %H:%M:%S')"
            )
            i = k
        sql = "".join(out)
        sql = sql.replace("ts_parse(", "CAST_TS(")
        sql = sql.replace("CAST_TS(event_time)", "CAST(event_time AS TIMESTAMP)")
        sql = sql.replace(" AS STRING)", " AS VARCHAR)")
    return sql


# --- Spark-side pipeline (DataFrame API structure, F.expr scalars) --------

def wire_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthetic weather wire stream: 14 all-string columns, the exact
    reference wire schema (ref:spark-apps/weather_streaming.py:28-43).

    Synthesized straight over the events scan, with no exchange: every
    stage downstream is narrow, so the plan runs in the scan's own
    splits. Round-robin spreading a one-row-group scan across the cores
    was measured a loss on this path (sf0.1 on 4 cores, 23 weather/geo
    queries: 0.82x the wall and 0.61x the CPU without it)."""
    ev = tables.load(spark, sf_dir, "events")
    num = ev.select(
        "event_id",
        "user_id",
        *[F.expr(_adapt(s, "spark")).alias(k) for k, s in WIRE_NUMERIC.items()],
    )
    num = num.select(
        "*",
        *[F.expr(_adapt(s, "spark")).alias(k) for k, s in WIRE_DERIVED.items()],
    )
    return num.select(
        "event_id",
        *[
            F.expr(_adapt(s, "spark")).alias(k)
            for k, s in wire_wide_sql("é").items()
        ],
    )


def cast_wire(df: DataFrame) -> DataFrame:
    """P2/P3: cast battery + drop of raw wire columns
    (ref:spark-apps/weather_streaming.py:62-74). Works on batch AND
    streaming frames (pure narrow projections). One select per
    dependency level: a select re-analyzes the whole plan once, where
    a withColumn chain re-analyzes it once per column."""
    cast = {
        k: F.expr(_adapt(s, "spark")).alias(k)
        for k, s in cast_stage_sql("`", "`").items()
    }
    ts = cast.pop("timestamp_dt")  # reads event_time: the second level
    keep = [c for c in df.columns if c not in DROP_AFTER_CAST]
    return df.select(*keep, *cast.values()).select("*", ts)


def enrich(df: DataFrame) -> DataFrame:
    """F1-F7 enrichment (ref:spark-apps/weather_streaming.py:81-142);
    narrow, streaming-safe, whole-stage-codegen'd (no Python at runtime).
    Two selects: alert_type reads the is_* flags of the first."""
    flags = [F.expr(_adapt(s, "spark")).alias(k) for k, s in ENRICH_SQL.items()]
    alert = F.expr(_adapt(ALERT_SQL, "spark")).alias("alert_type")
    return df.select("*", *flags).select("*", alert)


def memo_stats() -> dict[str, int]:
    """Cumulative counts of this process's dashboard memo entries
    (:func:`tables.memo`): enriched plans built (``snapshots_built``),
    pins built (``pins_built``, a re-pin after ``clearCache`` counts),
    answers built over a pin (``panel_builds``) and served again
    (``panel_hits``)."""
    n = tables.MEMO_COUNTS
    return {
        "snapshots_built": n["enriched", "built"],
        "pins_built": n["pin", "built"],
        "panel_builds": n["panel", "built"],
        "panel_hits": n["panel", "served"],
    }


def enriched_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full wire -> cast -> enrich pipeline, reference parity end-to-end.
    One memoized plan per events frame of tables.load, i.e. per
    events.parquet snapshot: building it costs ~5 plan analyses, which
    every dashboard panel would otherwise pay."""
    return tables.memo(
        spark, ("enriched", sf_dir), tables.load(spark, sf_dir, "events"),
        lambda: enrich(cast_wire(wire_frame(spark, sf_dir))),
    )


def pinned_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PINNED_COLUMNS projection of :func:`enriched_frame`, pinned
    in Spark's in-memory columnar cache: repeated queries over it read
    one warm working set instead of re-deriving the enrichment from
    parquet. One pin per enriched plan, pinned again when its blocks
    were dropped (:func:`tables.memo`).

    The pin shape follows the events scan's split count. One split is
    pinned as ``coalesce(1)``: over one partition that moves no data,
    but it declares the cached plan's partitioning ``SinglePartition``,
    which the in-memory scan passes on, so a group-by, global aggregate,
    distinct or sort over the pin plans no shuffle exchange and runs as
    one job. Several splits are pinned as the bare projection. The plan
    has no exchange, so reading the split count runs no Spark job."""
    frame = enriched_frame(spark, sf_dir)

    def pin() -> DataFrame:
        pin = frame.select(*PINNED_COLUMNS)
        if tables.load(spark, sf_dir, "events").rdd.getNumPartitions() == 1:
            pin = pin.coalesce(1)
        return pin.persist()

    return tables.memo(spark, ("pin", sf_dir), frame, pin)


def prepared(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    body: Callable[[DataFrame], DataFrame],
) -> DataFrame:
    """The answer ``body(pinned_frame(spark, sf_dir))``, persisted once
    per pin and served again under ``name`` while it and the pin keep
    their cached blocks. The first action fills it (``MEMORY_AND_DISK``,
    so a large answer spills instead of failing); every later one in the
    snapshot scans the cached answer, with no construction, analysis,
    planning or aggregation. The pin is checked first: an answer built
    over a dropped pin would rebuild the old pin's buffers as a second,
    untracked cached RDD."""
    pin = pinned_frame(spark, sf_dir)
    return tables.memo(
        spark, ("panel", sf_dir, name), pin, lambda: body(pin).persist()
    )


def alerts_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P5/P6 alert view (ref:spark-apps/weather_streaming.py:183-192)."""
    df = enriched_frame(spark, sf_dir)
    return df.filter(F.col("alert_type") != "NORMAL").select(
        "event_id", *ALERT_COLUMNS
    )


# --- DuckDB oracle SQL ----------------------------------------------------

def oracle_wire_cte() -> str:
    """CTE chain producing the same wire table in DuckDB."""
    num_cols = ",\n    ".join(
        f"{_adapt(s, 'duck')} AS {k}" for k, s in WIRE_NUMERIC.items()
    )
    der_cols = ",\n    ".join(
        f"{_adapt(s, 'duck')} AS {k}" for k, s in WIRE_DERIVED.items()
    )
    wire_cols = ",\n    ".join(
        f'{_adapt(s, "duck")} AS "{k}"'
        for k, s in wire_wide_sql("é").items()
    )
    return f"""
w_num AS (
  SELECT event_id, user_id,
    {num_cols}
  FROM events
),
w_der AS (
  SELECT *,
    {der_cols}
  FROM w_num
),
wire AS (
  SELECT event_id,
    {wire_cols}
  FROM w_der
)"""


def oracle_enriched_cte() -> str:
    """CTE chain: wire -> cast -> enrich, mirroring the Spark pipeline."""
    cast_cols = ",\n    ".join(
        f"{_adapt(s, 'duck')} AS {k}" for k, s in cast_stage_sql('"', '"').items()
    )
    keep = [
        "event_id", '"date"', "weather_description", "city_name",
        "local_time", '"timestamp"',
    ]
    enrich_cols = ",\n    ".join(
        f"{_adapt(s, 'duck')} AS {k}" for k, s in ENRICH_SQL.items()
    )
    return f"""{oracle_wire_cte()},
casted AS (
  SELECT {', '.join(keep)},
    {cast_cols}
  FROM wire
),
enriched0 AS (
  SELECT *,
    {enrich_cols}
  FROM casted
),
enriched AS (
  SELECT *, {_adapt(ALERT_SQL, 'duck')} AS alert_type
  FROM enriched0
)"""


def oracle_enriched_select() -> str:
    cols = ", ".join(
        f'"{c}"' if c in ("date", "timestamp") else c for c in ENRICHED_COLUMNS
    )
    return f"WITH {oracle_enriched_cte()}\nSELECT {cols} FROM enriched"


def oracle_alerts_select() -> str:
    cols = ", ".join(["event_id", *ALERT_COLUMNS])
    return (
        f"WITH {oracle_enriched_cte()}\nSELECT {cols} FROM enriched "
        "WHERE alert_type <> 'NORMAL'"
    )
