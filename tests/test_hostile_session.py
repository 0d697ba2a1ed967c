"""The driver builds its OWN SparkSession with unknown confs — queries
must self-tune (session.tune) and not rely on session-construction
settings. This probe flips the most dangerous runtime confs (ANSI
mode changes cast/overflow semantics; a non-UTC zone changes every
epoch<->string function; ICU case mappings change which code path
lower()/upper() take) and asserts oracle parity still holds."""

from __future__ import annotations

import pytest

import __spark_entry__ as entry
from tests.conftest import SF_SMOKE
from tools.check_oracle import compare, duck_connect

PROBES = [
    "weather_enrich",          # try_cast battery + epoch formatting
    "weather_city_stats",      # aggregation over enriched
    "events_hourly_window",    # timestamp truncation
    "events_user_sessions",    # session windows on timestamps
    "epoch_unit_heuristic",    # raw epoch arithmetic
    "events_moment_stats",     # hour(ts) second variable + ANSI sums
    "window_time_range_avg",   # timestampdiff epoch + RANGE frame
    "events_pivot_daily_types",  # to_date(ts) day bucketing
    "events_funnel_conversion",  # timestamp ordering comparisons
    "events_daily_gapfill",      # date sequence generation
    "events_cohort_retention",   # datediff arithmetic
    "sql_datetime_functions",    # the whole datetime battery
    "events_hour_profile",       # weekday/hour cells
    "events_funnel_latency",     # NTZ timestampdiff seconds
    "events_time_rollup",        # date_trunc grouping sets
    "events_value_trend_ols",    # epoch-day regression x
    "weather_degree_days",       # timestamp_dt day bucketing
    "events_value_ewma",         # to_date daily fold input
    "events_anomaly_mad",        # daily counts + exact-int medians
    "events_variant_extract",    # JSON serialize/parse round-trip
    "sql_table_fn_date_spine",   # CAST(ts AS DATE) + date sequence
    "sql_udf_dew_point",         # SQL UDF over try_cast battery
    "weather_collated_city_stats",  # collation + cast battery
    # this session's timestamp-heavy additions
    "events_value_twap",            # epoch-us lead durations
    "events_lateness_profile",      # epoch-us running max
    "events_dau_mau_stickiness",    # date sequences + distinct windows
    "events_ab_sprt",               # (ts, id)-ordered prefix sums
    "events_stl_decompose",         # CAST(ts AS DATE) + weekday
    "events_attribution_linear",    # epoch bucketing band join
    "orders_interorder_gamma_fit",  # datediff lag gaps
    "events_interrupted_timeseries",  # daily indexing
    # round-4 additions: integer binning / hashing under ANSI
    "events_gini_binned",            # cents ROUND + ceil-div binning
    "corpus_rendezvous_shards",      # GREATEST hash chains
    "privacy_t_closeness",           # domain-grid ratios
    "join_asof_tolerance",           # epoch-us staleness bound
    "join_asof_strict_before",       # tie-exclusion ordering
    "events_snaive_mase_backtest",   # weekday split + rank windows
    # case mappings: the fixture presets ICU case mappings on
    "sql_string_functions",          # UPPER/LOWER in the string battery
    "corpus_url_canonicalize",       # lower() over URL columns
]


@pytest.fixture()
def hostile(spark):
    saved = {
        "spark.sql.ansi.enabled": spark.conf.get("spark.sql.ansi.enabled"),
        "spark.sql.session.timeZone": spark.conf.get(
            "spark.sql.session.timeZone"
        ),
        "spark.sql.icu.caseMappings.enabled": spark.conf.get(
            "spark.sql.icu.caseMappings.enabled"
        ),
    }
    spark.conf.set("spark.sql.ansi.enabled", "true")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    spark.conf.set("spark.sql.icu.caseMappings.enabled", "true")
    yield spark
    for k, v in saved.items():
        spark.conf.set(k, v)


@pytest.mark.parametrize("name", PROBES)
def test_query_survives_hostile_confs(hostile, name):
    qs, oracles = entry.queries(), entry.oracle_sql()
    duck = duck_connect(SF_SMOKE)
    try:
        df = qs[name](hostile, SF_SMOKE)
        # building the query self-tuned the session (tables.load -> tune)
        assert hostile.conf.get("spark.sql.icu.caseMappings.enabled") == "false"
        problems = compare(name, df, oracles[name], duck)
        assert not problems, "\n".join(problems)
    finally:
        duck.close()
