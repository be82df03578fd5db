"""ETL / ingestion-parity queries (SURVEY.md §2 block A) on ``events``.

Every query returns rounded, stably-named columns so the DuckDB oracle
hash-matches (see SURVEY.md §6 for the rounding conventions).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pygeoapi_ingestor_spark.operators import (
    correction,
    curves,
    indices,
    temporal,
    thresholds,
    zonal,
)
from pygeoapi_ingestor_spark.sources.readers import read_events as _events, read_table

# stage -> discharge rating-curve points (public-shape lookup table, spans
# the events value range 0..500)
RATING_CURVE = [
    (0.0, 0.0),
    (50.0, 10.0),
    (100.0, 35.0),
    (200.0, 120.0),
    (300.0, 300.0),
    (500.0, 800.0),
]

# the global danger ladder (thresholds.DANGER_LEVELS) as (bound, label)
# rows; per-station ladders scale these bounds by a station factor
BASE_LADDER = [
    (50.0, "darkblue"),
    (100.0, "blue"),
    (125.0, "green"),
    (150.0, "yellow"),
    (175.0, "orange"),
    (200.0, "red"),
]

# precomputed bias-correction transfer curves per lead hour — the
# "fitted offline artifact" of the reference's bctf__* files
# (bias_correction_cds_process.py:310-400), here a deterministic public
# stand-in: per-lead slope/offset applied to 5 anchor points. Values are
# materialized as Python floats so Spark and the oracle embed the SAME
# literals (no cross-engine expression drift).
CORRECTION_CURVES = [
    (h, float(x), round(x * (0.85 + 0.01 * (h % 10)) + 2.0 * h, 6))
    for h in range(24)
    for x in (0.0, 50.0, 150.0, 300.0, 500.0)
]


# events.value is exactly 2-decimal; aggregating it as DECIMAL makes
# every sum/avg order-independent. This matters for the ORACLE side:
# DuckDB's multi-threaded double aggregation merges partials in
# nondeterministic order, so a double-summed oracle can flip its 6th
# decimal between runs and randomly fail the hash gate (observed on
# threshold_per_station). Exact decimal sums are bit-stable in BOTH
# engines; averages derive as CAST(sum AS DOUBLE)/count — the same
# convention the TPC-H money queries already use.
VALUE_DEC = "decimal(14,2)"


def _daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day exact-decimal totals; ``daily_total`` is DECIMAL (cast
    when a double is needed), ``avg_value`` derives from the exact sum."""
    d = temporal.resample(
        _events(spark, sf_dir).withColumn("value", F.col("value").cast(VALUE_DEC)),
        ts_col="ts",
        series_cols=["event_type"],
        value_col="value",
        freq="day",
        aggs={"daily_total": "sum", "n_obs": "count"},
    )
    return d.withColumn(
        "avg_value", F.col("daily_total").cast("double") / F.col("n_obs")
    )


def q_select_time_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    out = temporal.select_time_range(
        ev,
        ts_col="ts",
        start="2024-01-08",
        end="2024-01-15",
        predicate=(F.col("event_type").isin("click", "purchase")) & (F.col("value") > 100),
        columns=["event_id", "ts", "event_type", "value"],
    )
    return out


def q_resample_daily_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _daily(spark, sf_dir)
    return d.select(
        "event_type",
        F.col("bucket"),
        F.round(F.col("daily_total").cast("double"), 4).alias("daily_total"),
        F.col("n_obs").cast("bigint").alias("n_obs"),
        F.round("avg_value", 6).alias("avg_value"),
    )


def q_resample_weekly_max(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    # one scan, one shuffle: all weekly aggregates in a single groupBy
    return ev.groupBy(
        "event_type", temporal.wall_trunc("week", F.col("ts")).alias("bucket")
    ).agg(
        F.round(F.max("value"), 6).alias("weekly_max"),
        F.count(F.lit(1)).cast("bigint").alias("n_obs"),
        F.max("ts").alias("last_ts"),
    )


def q_resample_weekly_max_sun(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sunday-anchored weekly max — exact parity with the reference's
    pandas ``resample('1W')`` (weeks END Sunday, labeled by that Sunday;
    ll_nl_danger_levels.py:68-105)."""
    ev = _events(spark, sf_dir)
    out = temporal.resample(
        ev, ts_col="ts", series_cols=["event_type"], value_col="value",
        freq="week", week_anchor="sun_end",
        aggs={"weekly_max": "max", "n_obs": "count"},
    )
    return out.select(
        "event_type", "bucket",
        F.round("weekly_max", 6).alias("weekly_max"),
        F.col("n_obs").cast("bigint").alias("n_obs"),
    )


def q_resample_monthly_scaled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly mean rate x days-in-month = monthly total — the
    reference's SPI preprocessing step (utils_spi.py:419,
    ``ds * ds.time.dt.days_in_month``)."""
    ev = _events(spark, sf_dir).withColumn("value", F.col("value").cast(VALUE_DEC))
    m = temporal.resample(
        ev, ts_col="ts", series_cols=["event_type"], value_col="value",
        freq="month", aggs={"monthly_sum": "sum", "n_obs": "count"},
    )
    avg = F.col("monthly_sum").cast("double") / F.col("n_obs")
    return m.select(
        "event_type", "bucket",
        F.col("n_obs").cast("bigint").alias("n_obs"),
        temporal.days_in_month("bucket").cast("int").alias("n_days"),
        F.round(avg, 6).alias("monthly_avg"),
        F.round(avg * temporal.days_in_month("bucket"), 4).alias("monthly_total"),
    )


def q_spi_gamma_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference SPI chain end-to-end: monthly days-in-month-scaled
    totals (utils_spi.py:419) feeding the gamma-fit SPI
    (utils_spi.py:428-478). rows-only check (gamma fit is applyInPandas,
    not SQL-expressible); the resample stage is hash-gated separately as
    resample_monthly_scaled. NB the test events span a single month, so
    the per-series fit has one point and SPI is NULL by design here —
    the gamma math itself is exercised by spi_gamma (30 daily periods)
    and the numerics unit tests; this entry gates the CHAIN (scaling ->
    fit -> quantile transform) wiring."""
    ev = _events(spark, sf_dir).withColumn("value", F.col("value").cast(VALUE_DEC))
    m = temporal.resample(
        ev, ts_col="ts", series_cols=["event_type"], value_col="value",
        freq="month", aggs={"monthly_sum": "sum", "n_obs": "count"},
    )
    scaled = m.select(
        "event_type", "bucket",
        (
            F.col("monthly_sum").cast("double") / F.col("n_obs")
            * temporal.days_in_month("bucket")
        ).alias("monthly_total"),
    )
    out = indices.spi(
        scaled, series_cols=["event_type"], bucket_col="bucket",
        value_col="monthly_total", spi_ts=1,
    )
    return out.select(
        "event_type", "bucket",
        F.round("monthly_value", 4).alias("monthly_total"),
        F.round("spi", 6).alias("spi"),
    )


def q_rolling_sum_7d(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _daily(spark, sf_dir)
    rolled = temporal.rolling_agg(
        d,
        series_cols=["event_type"],
        order_col="bucket",
        value_col="daily_total",
        window=7,
        fn="sum",
        out_col="rolling_7d",
    )
    return rolled.select(
        "event_type", "bucket",
        F.round(F.col("rolling_7d").cast("double"), 4).alias("rolling_7d"),
    )


def q_rolling_sum_7d_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-range rolling total (gap-correct twin of rolling_sum_7d)."""
    d = _daily(spark, sf_dir)
    rolled = temporal.rolling_agg_range(
        d, series_cols=["event_type"], ts_col="bucket",
        value_col="daily_total", window_seconds=6 * 86400, out_col="rolling_7d",
    )
    return rolled.select(
        "event_type", "bucket",
        F.round(F.col("rolling_7d").cast("double"), 4).alias("rolling_7d"),
    )


def q_forward_fill_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward-fill: null out sub-threshold readings (sensor-dropout
    analog), then carry the last valid value forward per series."""
    ev = _events(spark, sf_dir)
    with_gaps = ev.withColumn(
        "v_gappy", F.when(F.col("value") >= 10.0, F.col("value"))
    )
    # chunked scan: event_type has 5 values, so the plain per-series
    # window would sort 1/5 of the table in one task; weekly chunks +
    # boundary exchange keep the result identical and the sort parallel
    filled = temporal.chunked_forward_fill(
        with_gaps, series_cols=["event_type"], order_cols=["ts", "event_id"],
        value_col="v_gappy", chunk_col=temporal.wall_trunc("week", F.col("ts")),
        out_col="v_filled",
    )
    return filled.select(
        "event_id", "event_type",
        F.round("v_gappy", 6).alias("v_gappy"),
        F.round("v_filled", 6).alias("v_filled"),
    )


def q_linear_interp_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear time-interpolation across nulled-out readings."""
    ev = _events(spark, sf_dir)
    with_gaps = ev.withColumn(
        "v_gappy", F.when(F.col("value") >= 10.0, F.col("value"))
    )
    out = temporal.chunked_linear_interp(
        with_gaps, series_cols=["event_type"], ts_col="ts",
        value_col="v_gappy", chunk_col=temporal.wall_trunc("week", F.col("ts")),
        out_col="v_interp",
    )
    return out.select(
        "event_id", "event_type", F.round("v_interp", 6).alias("v_interp")
    )


def q_climatology_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    clim = indices.climatology(
        ev, series_cols=["event_type"], bucket_col="ts", value_col="value",
        cycle="hour", exact_decimal=VALUE_DEC,
    )
    return clim.select(
        "event_type",
        F.col("cycle_key").alias("hour_of_day"),
        F.round("clim_mean", 6).alias("clim_mean"),
        F.round("clim_std", 6).alias("clim_std"),
        "clim_n",
    )


def q_anomaly_vs_climatology(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    clim = indices.climatology(
        ev, series_cols=["event_type"], bucket_col="ts", value_col="value",
        cycle="hour", exact_decimal=VALUE_DEC,
    )
    anom = indices.anomaly(
        ev, clim, series_cols=["event_type"], bucket_col="ts",
        value_col="value", out_col="zscore", cycle="hour",
    )
    return anom.select(
        "event_id", "event_type", F.round("zscore", 6).alias("zscore")
    )


def q_spi_gamma(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _daily(spark, sf_dir).select("event_type", "bucket", "daily_total")
    out = indices.spi(
        d, series_cols=["event_type"], bucket_col="bucket",
        value_col="daily_total", spi_ts=1,
    )
    return out.select(
        "event_type",
        "bucket",
        F.round("monthly_value", 4).alias("period_total"),
        F.round("spi", 6).alias("spi"),
    )


def q_spi_gamma_ts3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-period SPI timescale (reference spi_ts=3: utils_spi.py:444-448
    rolling totals before the gamma fit)."""
    d = _daily(spark, sf_dir).select("event_type", "bucket", "daily_total")
    out = indices.spi(
        d, series_cols=["event_type"], bucket_col="bucket",
        value_col="daily_total", spi_ts=3,
    )
    return out.filter(F.col("spi").isNotNull()).select(
        "event_type",
        "bucket",
        F.round("spi", 6).alias("spi"),
    )


def q_spi_empirical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nonparametric (Gringorten plotting-position) SPI — the
    distribution-free twin of spi_gamma, oracle-gated."""
    d = _daily(spark, sf_dir).select("event_type", "bucket", "daily_total")
    out = indices.spi_empirical(
        d, series_cols=["event_type"], bucket_col="bucket", value_col="daily_total"
    )
    return out.select(
        "event_type", "bucket", F.round("spi_emp", 6).alias("spi_emp")
    )


def q_zonal_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    cust = read_table(spark, sf_dir, "customer")
    nat = read_table(spark, sf_dir, "nation")
    zones = cust.join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey).select(
        F.col("c_custkey").alias("user_id"), F.col("n_name").alias("zone")
    )
    # values are 2-decimal quantized sensor readings -> the one-pass
    # value-compressed histogram (r11 zonal_stats_polygon machinery;
    # equality with the drill-down pinned in tests/test_zonal_hist)
    out = zonal.zonal_stats_hist(
        ev,
        zones,
        join_key="user_id",
        zone_col="zone",
        bucket_col=temporal.wall_trunc("week", F.col("ts")).alias("bucket"),
        value_col="value",
        percentiles=(0.05, 0.5, 0.95),
    )
    return out.select(
        "zone",
        "bucket",
        F.round("v_min", 6).alias("v_min"),
        F.round("v_max", 6).alias("v_max"),
        F.round("p05", 6).alias("p05"),
        F.round("p50", 6).alias("p50"),
        F.round("p95", 6).alias("p95"),
    )


def q_ensemble_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    # member series: each user's daily mean, then collapse the member axis
    member_daily = temporal.resample(
        ev.withColumn("value", F.col("value").cast(VALUE_DEC)),
        ts_col="ts", series_cols=["event_type", "user_id"],
        value_col="value", freq="day",
        aggs={"member_sum": "sum", "member_n": "count"},
    ).withColumn(
        "member_avg", F.col("member_sum").cast("double") / F.col("member_n")
    )
    out = zonal.ensemble_stats(
        member_daily, bucket_cols=["event_type", "bucket"],
        value_col="member_avg", percentiles=(0.10, 0.90),
    )
    return out.select(
        "event_type",
        "bucket",
        F.round("ens_min", 6).alias("ens_min"),
        F.round("ens_max", 6).alias("ens_max"),
        F.round("ens_median", 6).alias("ens_median"),
        "ens_n",
        F.round("ens_p10", 6).alias("ens_p10"),
        F.round("ens_p90", 6).alias("ens_p90"),
    )


# the reference's published forecast quantile set
# (data_prep_knmi_evapo_forecast.py:161 — quantile([0.1, 0.3, 0.5,
# 0.7, 0.9], dim="epoches"))
ENSEMBLE_FC_QUANTILES = (0.10, 0.30, 0.50, 0.70, 0.90)


def q_ensemble_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9 parameterized to the KNMI forecast product's quantile list
    (r6 verdict item 5): the ensemble-member axis collapsed to the
    published [p10, p30, p50, p70, p90] per bucket — both engines use
    the linear-interpolation quantile convention (F.percentile /
    quantile_cont), the parity q_ensemble_stats already proves."""
    ev = _events(spark, sf_dir)
    member_daily = temporal.resample(
        ev.withColumn("value", F.col("value").cast(VALUE_DEC)),
        ts_col="ts", series_cols=["event_type", "user_id"],
        value_col="value", freq="day",
        aggs={"member_sum": "sum", "member_n": "count"},
    ).withColumn(
        "member_avg", F.col("member_sum").cast("double") / F.col("member_n")
    )
    out = zonal.ensemble_stats(
        member_daily, bucket_cols=["event_type", "bucket"],
        value_col="member_avg", percentiles=ENSEMBLE_FC_QUANTILES,
    )
    return out.select(
        "event_type",
        "bucket",
        "ens_n",
        *[
            F.round(f"ens_p{int(round(p * 100)):02d}", 6)
            .alias(f"ens_p{int(round(p * 100)):02d}")
            for p in ENSEMBLE_FC_QUANTILES
        ],
    )


def q_bias_correction_qmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped quantile mapping: one empirical map per lead-hour series —
    the reference's per-(variable, init-month, lead-month) correction
    structure (bias_correction_cds_process.py:310-384), so series
    cardinality, not data volume, bounds every sort partition."""
    ev = _events(spark, sf_dir)
    model = ev.filter(F.col("event_type") == "error").select(
        "event_id", "value", F.hour("ts").cast("int").alias("lead_hour")
    )
    ref = ev.filter(F.col("event_type") == "click").select(
        "value", F.hour("ts").cast("int").alias("lead_hour")
    )
    mapped = correction.quantile_map(
        model, ref, series_cols=["lead_hour"], value_col="value", out_col="value_adj"
    )
    return mapped.select(
        "event_id", "lead_hour", "value", F.round("value_adj", 6).alias("value_adj")
    )


def q_rating_curve_interp(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    # literal-curve fast path: compiled CASE projection, no join
    out = ev.withColumn(
        "discharge", curves.interpolate_points_expr(RATING_CURVE, "value")
    )
    return out.select(
        "event_id", "value", F.round("discharge", 6).alias("discharge")
    )


def q_threshold_categorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    out = thresholds.categorize_counts(
        ev, group_cols=["event_type"], value_col="value", out_col="danger_level"
    )
    return out.select(
        "event_type", "danger_level", "n", F.round("avg_value", 6).alias("avg_value")
    )


def q_threshold_per_station(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-station danger classification (ll_nl_danger_levels.py:107-121:
    every station has its own threshold ladder). The ladder dimension is
    derived deterministically here (base ladder x a station factor) and
    applied via thresholds.categorize_by_table — one broadcast join, no
    fact-side shuffle for the labeling."""
    ev = _events(spark, sf_dir)
    stations = ev.select("user_id").distinct()
    ladder_arr = F.array(
        *[
            F.struct(F.lit(b).alias("base_bound"), F.lit(lbl).alias("label"))
            for b, lbl in BASE_LADDER
        ]
    )
    mult = (F.lit(10) + F.col("user_id") % 5) / F.lit(10.0)
    levels = (
        stations.select("user_id", F.explode(ladder_arr).alias("lv"))
        .select(
            "user_id",
            (F.col("lv.base_bound") * mult).alias("bound"),
            F.col("lv.label").alias("label"),
        )
    )
    labeled = thresholds.categorize_by_table(
        ev, levels, station_col="user_id", value_col="value", out_col="danger_level"
    )
    return labeled.groupBy("user_id", "danger_level").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.round(
            F.sum(F.col("value").cast(VALUE_DEC)).cast("double") / F.count(F.lit(1)), 6
        ).alias("avg_value"),
    )


def q_bias_correction_stored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production-mode bias correction: apply the PRECOMPUTED per-lead
    transfer curves (the reference's fitted bctf__* artifacts,
    bias_correction_cds_process.py:310-400) with linear in-range
    interpolation and constant additive tail adjustment — one broadcast
    of the parameter table, zero extra shuffles."""
    ev = _events(spark, sf_dir)
    model = ev.filter(F.col("event_type") == "error").select(
        "event_id", "value", F.hour("ts").cast("int").alias("lead_hour")
    )
    curve = spark.createDataFrame(
        CORRECTION_CURVES, "lead_hour int, x double, y double"
    )
    out = correction.apply_curve_table(
        model, curve, series_cols=["lead_hour"], x_col="x", y_col="y",
        value_col="value", out_col="value_adj",
    )
    return out.select(
        "event_id", "lead_hour", "value", F.round("value_adj", 6).alias("value_adj")
    )


def q_precip_deficit_cumsum(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _daily(spark, sf_dir).select("event_type", "bucket", "daily_total")
    out = temporal.cumulative_sum(
        d, series_cols=["event_type"], order_col="bucket",
        value_col="daily_total", out_col="cum_total",
    )
    return out.select(
        "event_type", "bucket",
        F.round(F.col("cum_total").cast("double"), 4).alias("cum_total"),
    )


def q_unit_convert_derive(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    # reference conversions (bias_correction_cds_process.py:274-299):
    # K -> degC, m -> mm, plus a derived range/midpoint pair
    return ev.select(
        "event_id",
        F.round(F.col("value") - 273.15, 6).alias("value_degc"),
        F.round(F.col("value") * 1000.0, 4).alias("value_mm"),
        F.round((F.col("value") - 32.0) * 5.0 / 9.0, 6).alias("value_f2c"),
    )


def q_regrid_snap_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    cell = (F.floor(F.col("value") / 25.0) * 25.0).alias("cell")
    return ev.groupBy("event_type", cell).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.round(
            F.sum(F.col("value").cast(VALUE_DEC)).cast("double") / F.count(F.lit(1)), 6
        ).alias("cell_avg"),
    )


def q_dedup_latest_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    out = temporal.dedup_latest(
        ev, key_cols=["user_id", "event_type"], order_col="ts", tiebreak_col="event_id"
    )
    return out.select("user_id", "event_type", "event_id", "ts", "value")


def q_collection_healthcheck(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collection extents: temporal + value + SPATIAL bbox per collection
    (the reference registers [min_x, min_y, max_x, max_y] alongside the
    time extent: utils_spi.py:481-562, collection_healthcheck.py:1-73).
    Station coordinates come from a deterministic synthetic station grid
    (the public stand-in for the reference's station-metadata lookup) —
    a pure projection, so the extent stays one aggregate pass."""
    from pygeoapi_ingestor_spark.operators import spatial

    ev = _events(spark, sf_dir)
    with_coords = ev.withColumn(
        "lon", F.lit(-10.0) + (F.col("user_id") % 10) * F.lit(2.5)
    ).withColumn(
        "lat", F.lit(35.0) + (F.expr("(user_id div 10) % 10")) * F.lit(1.5)
    )
    return with_coords.groupBy("event_type").agg(
        F.min("ts").alias("ts_begin"),
        F.max("ts").alias("ts_end"),
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.round(F.min("value"), 6).alias("v_min"),
        F.round(F.max("value"), 6).alias("v_max"),
        *spatial.bbox_agg_exprs("lon", "lat"),
    )


def q_asof_join_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("click_ts"),
        F.col("value").alias("click_value"),
    )
    out = temporal.asof_join(
        purchases,
        clicks,
        left_on="ts",
        right_on="click_ts",
        left_keys=["user_id"],
        right_keys=["c_user"],
        right_value_cols=["click_ts", "click_value"],
    )
    return out.select(
        "event_id", "user_id", "ts", "value", "click_ts",
        F.round("click_value", 6).alias("click_value"),
    )


def q_skew_join_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe fact-to-dim join via salting (functions/skew.salt_join):
    the big side's hot keys fan out over 8 salt values, the dim is
    replicated per salt, and the join shuffles on (user_id, _salt) — the
    technique for when a hot key would otherwise pin one reducer. The
    shuffle_hash hint keeps the demo on the shuffle path (a dim this
    small would broadcast outright in production, making salting moot —
    the point here is the plan shape under skew). Results are identical
    to the plain join, which is exactly what the oracle checks."""
    from pygeoapi_ingestor_spark.functions import skew

    ev = _events(spark, sf_dir)
    cust = (
        read_table(spark, sf_dir, "customer")
        .select(
            F.col("c_custkey").alias("user_id"),
            F.col("c_nationkey").alias("nationkey"),
        )
        .hint("shuffle_hash")
    )
    joined = skew.salt_join(ev, cust, on=["user_id"], n_salts=8)
    return joined.groupBy("nationkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.round(F.sum(F.col("value").cast(VALUE_DEC)), 2)
        .cast("double")
        .alias("total_value"),
    )


def q_ewma_smooth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive EWMA smoothing per series (sensor-smoothing analog;
    batch twin of streaming/stateful.py's alert EWMA). rows-only by
    declared contract: the recursion's float evaluation order (Horner
    in pandas vs any SQL re-expression) diverges in the last bits, so
    no engine-neutral hash oracle exists — exactness is pinned by the
    property test against pandas ewm(adjust=False) instead."""
    ev = _events(spark, sf_dir)
    out = temporal.chunked_ewma(
        ev, series_cols=["event_type"], order_cols=["ts", "event_id"],
        value_col="value", alpha=0.3,
        chunk_col=temporal.wall_trunc("week", F.col("ts")), out_col="ewma",
    )
    return out.select(
        "event_id", "event_type", F.round("ewma", 6).alias("ewma")
    )


def q_asof_join_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of with tolerance (merge_asof direction='forward'):
    each purchase matched to the NEXT click of the same user within one
    hour — the lead-time shape (forecast issue -> first observation)."""
    ev = _events(spark, sf_dir)
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("click_ts"),
        F.col("value").alias("click_value"),
    )
    out = temporal.asof_join(
        purchases,
        clicks,
        left_on="ts",
        right_on="click_ts",
        left_keys=["user_id"],
        right_keys=["c_user"],
        right_value_cols=["click_ts", "click_value"],
        direction="forward",
        tolerance_seconds=3600,
    )
    return out.select(
        "event_id", "user_id", "ts", "value", "click_ts",
        F.round("click_value", 6).alias("click_value"),
    )


def q_sessionize_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    s = temporal.sessionize(ev, key_cols=["user_id"], ts_col="ts", gap_seconds=1800)
    return s.groupBy(
        "user_id", F.col("session_id").cast("bigint").alias("session_id")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        F.round(F.sum(F.col("value").cast(VALUE_DEC)).cast("double"), 4).alias("session_value"),
    )


ETL_QUERIES = {
    "select_time_range": q_select_time_range,
    "resample_daily_sum": q_resample_daily_sum,
    "resample_weekly_max": q_resample_weekly_max,
    "resample_weekly_max_sun": q_resample_weekly_max_sun,
    "resample_monthly_scaled": q_resample_monthly_scaled,
    "spi_gamma_monthly": q_spi_gamma_monthly,
    "rolling_sum_7d": q_rolling_sum_7d,
    "rolling_sum_7d_range": q_rolling_sum_7d_range,
    "forward_fill_gaps": q_forward_fill_gaps,
    "linear_interp_gaps": q_linear_interp_gaps,
    "climatology_hourly": q_climatology_hourly,
    "anomaly_vs_climatology": q_anomaly_vs_climatology,
    "spi_gamma": q_spi_gamma,
    "spi_gamma_ts3": q_spi_gamma_ts3,
    "spi_empirical": q_spi_empirical,
    "zonal_stats": q_zonal_stats,
    "ensemble_stats": q_ensemble_stats,
    "ensemble_quantiles": q_ensemble_quantiles,
    "bias_correction_qmap": q_bias_correction_qmap,
    "rating_curve_interp": q_rating_curve_interp,
    "threshold_categorize": q_threshold_categorize,
    "threshold_per_station": q_threshold_per_station,
    "bias_correction_stored": q_bias_correction_stored,
    "precip_deficit_cumsum": q_precip_deficit_cumsum,
    "unit_convert_derive": q_unit_convert_derive,
    "regrid_snap_agg": q_regrid_snap_agg,
    "dedup_latest_snapshot": q_dedup_latest_snapshot,
    "collection_healthcheck": q_collection_healthcheck,
    "asof_join_events": q_asof_join_events,
    "asof_join_forward": q_asof_join_forward,
    "ewma_smooth": q_ewma_smooth,
    "skew_join_salted": q_skew_join_salted,
    "sessionize_gap": q_sessionize_gap,
}


_DAILY_CTE = """
WITH daily AS (
    SELECT event_type, CAST(date_trunc('day', ts) AS TIMESTAMP) AS bucket,
           sum(CAST(value AS DECIMAL(14,2))) AS daily_total,
           count(*) AS n_obs,
           CAST(sum(CAST(value AS DECIMAL(14,2))) AS DOUBLE) / count(*) AS avg_value
    FROM events GROUP BY 1, 2
)
"""

ETL_ORACLES = {
    "select_time_range": """
        SELECT event_id, ts, event_type, value
        FROM events
        WHERE ts >= TIMESTAMP '2024-01-08' AND ts < TIMESTAMP '2024-01-15'
          AND event_type IN ('click', 'purchase') AND value > 100
    """,
    "resample_daily_sum": _DAILY_CTE + """
        SELECT event_type, bucket,
               round(CAST(daily_total AS DOUBLE), 4) AS daily_total,
               CAST(n_obs AS BIGINT) AS n_obs, round(avg_value, 6) AS avg_value
        FROM daily
    """,
    "resample_weekly_max": """
        SELECT event_type, CAST(date_trunc('week', ts) AS TIMESTAMP) AS bucket,
               round(max(value), 6) AS weekly_max,
               CAST(count(*) AS BIGINT) AS n_obs,
               max(ts) AS last_ts
        FROM events GROUP BY 1, 2
    """,
    "resample_weekly_max_sun": """
        SELECT event_type,
               CAST(date_trunc('week', ts) AS TIMESTAMP) + INTERVAL 6 DAY AS bucket,
               round(max(value), 6) AS weekly_max,
               CAST(count(*) AS BIGINT) AS n_obs
        FROM events GROUP BY 1, 2
    """,
    "resample_monthly_scaled": """
        WITH m AS (
            SELECT event_type, CAST(date_trunc('month', ts) AS TIMESTAMP) AS bucket,
                   CAST(sum(CAST(value AS DECIMAL(14,2))) AS DOUBLE) / count(*)
                       AS monthly_avg,
                   count(*) AS n_obs
            FROM events GROUP BY 1, 2
        )
        SELECT event_type, bucket,
               CAST(n_obs AS BIGINT) AS n_obs,
               CAST(day(last_day(CAST(bucket AS DATE))) AS INTEGER) AS n_days,
               round(monthly_avg, 6) AS monthly_avg,
               round(monthly_avg * day(last_day(CAST(bucket AS DATE))), 4) AS monthly_total
        FROM m
    """,
    "rolling_sum_7d": _DAILY_CTE + """
        SELECT event_type, bucket,
               round(CAST(rolling_7d AS DOUBLE), 4) AS rolling_7d FROM (
            SELECT event_type, bucket,
                   sum(daily_total) OVER w AS rolling_7d,
                   count(*) OVER w AS wn
            FROM daily
            WINDOW w AS (PARTITION BY event_type ORDER BY bucket
                         ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
        ) WHERE wn = 7
    """,
    "rolling_sum_7d_range": _DAILY_CTE + """
        SELECT event_type, bucket,
               round(CAST(sum(daily_total) OVER (PARTITION BY event_type ORDER BY bucket
                     RANGE BETWEEN INTERVAL 6 DAYS PRECEDING AND CURRENT ROW) AS DOUBLE), 4)
                   AS rolling_7d
        FROM daily
    """,
    "forward_fill_gaps": """
        WITH gappy AS (
            SELECT event_id, event_type,
                   CASE WHEN value >= 10.0 THEN value END AS v_gappy, ts
            FROM events
        )
        SELECT event_id, event_type,
               round(v_gappy, 6) AS v_gappy,
               round(last_value(v_gappy IGNORE NULLS) OVER (
                     PARTITION BY event_type ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6)
                   AS v_filled
        FROM gappy
    """,
    "linear_interp_gaps": """
        WITH gappy AS (
            SELECT event_id, event_type, ts,
                   CASE WHEN value >= 10.0 THEN value END AS v
            FROM events
        ), spans AS (
            SELECT event_id, event_type, v, epoch(ts) AS t,
                   last_value(v IGNORE NULLS) OVER wp AS prev_v,
                   last_value(CASE WHEN v IS NOT NULL THEN epoch(ts) END IGNORE NULLS)
                       OVER wp AS prev_t,
                   first_value(v IGNORE NULLS) OVER wn AS next_v,
                   first_value(CASE WHEN v IS NOT NULL THEN epoch(ts) END IGNORE NULLS)
                       OVER wn AS next_t
            FROM gappy
            WINDOW wp AS (PARTITION BY event_type ORDER BY ts
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                   wn AS (PARTITION BY event_type ORDER BY ts
                          ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
        )
        SELECT event_id, event_type,
               round(CASE WHEN v IS NOT NULL THEN v
                          ELSE prev_v + (next_v - prev_v) *
                               (CASE WHEN next_t > prev_t
                                     THEN (t - prev_t) / (next_t - prev_t)
                                     ELSE 0.0 END)
                     END, 6) AS v_interp
        FROM spans
    """,
    "climatology_hourly": """
        WITH s AS (
            SELECT event_type, CAST(hour(ts) AS INTEGER) AS hour_of_day,
                   CAST(sum(CAST(value AS DECIMAL(14,2))) AS DOUBLE) AS sx,
                   CAST(sum(CAST(value AS DECIMAL(14,2))
                            * CAST(value AS DECIMAL(14,2))) AS DOUBLE) AS sxx,
                   count(*) AS n
            FROM events GROUP BY 1, 2
        )
        SELECT event_type, hour_of_day,
               round(sx / n, 6) AS clim_mean,
               round(CASE WHEN n > 1
                          THEN sqrt((sxx - sx * sx / n) / (n - 1)) END, 6) AS clim_std,
               CAST(n AS BIGINT) AS clim_n
        FROM s
    """,
    "anomaly_vs_climatology": """
        WITH s AS (
            SELECT event_type, hour(ts) AS hh,
                   CAST(sum(CAST(value AS DECIMAL(14,2))) AS DOUBLE) AS sx,
                   CAST(sum(CAST(value AS DECIMAL(14,2))
                            * CAST(value AS DECIMAL(14,2))) AS DOUBLE) AS sxx,
                   count(*) AS n
            FROM events GROUP BY 1, 2
        )
        SELECT event_id, e.event_type,
               round((value - sx / n)
                     / sqrt((sxx - sx * sx / n) / (n - 1)), 6) AS zscore
        FROM events e JOIN s ON e.event_type = s.event_type AND hour(e.ts) = s.hh
    """,
    "spi_empirical": _DAILY_CTE + """
        , ranked AS (
            SELECT event_type, bucket, daily_total,
                   rank() OVER (PARTITION BY event_type ORDER BY daily_total) AS rnk,
                   count(*) OVER (PARTITION BY event_type) AS n
            FROM daily
        ), probs AS (
            SELECT event_type, bucket,
                   (CAST(rnk AS DOUBLE) - 0.44) / (CAST(n AS DOUBLE) + 0.12) AS h
            FROM ranked
        ), tvals AS (
            SELECT event_type, bucket, h,
                   CASE WHEN h <= 0.5 THEN h ELSE 1.0 - h END AS q
            FROM probs
        ), zvals AS (
            SELECT event_type, bucket, h,
                   sqrt(ln(1.0 / (q * q))) AS t
            FROM tvals
        )
        SELECT event_type, bucket,
               round(CASE WHEN h <= 0.5 THEN -1 ELSE 1 END *
                     (t - (2.515517 + 0.802853 * t + 0.010328 * t * t)
                          / (1.0 + 1.432788 * t + 0.189269 * t * t
                             + 0.001308 * t * t * t)), 6) AS spi_emp
        FROM zvals
    """,
    "zonal_stats": """
        SELECT n_name AS zone, CAST(date_trunc('week', ts) AS TIMESTAMP) AS bucket,
               round(min(value), 6) AS v_min,
               round(max(value), 6) AS v_max,
               round(quantile_cont(value, 0.05), 6) AS p05,
               round(quantile_cont(value, 0.50), 6) AS p50,
               round(quantile_cont(value, 0.95), 6) AS p95
        FROM events
        JOIN customer ON user_id = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        GROUP BY 1, 2
    """,
    "ensemble_stats": """
        WITH member_daily AS (
            SELECT event_type, user_id, CAST(date_trunc('day', ts) AS TIMESTAMP) AS bucket,
                   CAST(sum(CAST(value AS DECIMAL(14,2))) AS DOUBLE) / count(*)
                       AS member_avg
            FROM events GROUP BY 1, 2, 3
        )
        SELECT event_type, bucket,
               round(min(member_avg), 6) AS ens_min,
               round(max(member_avg), 6) AS ens_max,
               round(quantile_cont(member_avg, 0.5), 6) AS ens_median,
               CAST(count(*) AS BIGINT) AS ens_n,
               round(quantile_cont(member_avg, 0.10), 6) AS ens_p10,
               round(quantile_cont(member_avg, 0.90), 6) AS ens_p90
        FROM member_daily GROUP BY 1, 2
    """,
    "ensemble_quantiles": """
        WITH member_daily AS (
            SELECT event_type, user_id, CAST(date_trunc('day', ts) AS TIMESTAMP) AS bucket,
                   CAST(sum(CAST(value AS DECIMAL(14,2))) AS DOUBLE) / count(*)
                       AS member_avg
            FROM events GROUP BY 1, 2, 3
        )
        SELECT event_type, bucket,
               CAST(count(*) AS BIGINT) AS ens_n,
               round(quantile_cont(member_avg, 0.10), 6) AS ens_p10,
               round(quantile_cont(member_avg, 0.30), 6) AS ens_p30,
               round(quantile_cont(member_avg, 0.50), 6) AS ens_p50,
               round(quantile_cont(member_avg, 0.70), 6) AS ens_p70,
               round(quantile_cont(member_avg, 0.90), 6) AS ens_p90
        FROM member_daily GROUP BY 1, 2
    """,
    "bias_correction_qmap": """
        WITH m AS (
            SELECT event_id, value, CAST(hour(ts) AS INTEGER) AS lead_hour,
                   percent_rank() OVER (PARTITION BY hour(ts) ORDER BY value) AS pr
            FROM events WHERE event_type = 'error'
        ), r AS (
            SELECT value AS ref_value, CAST(hour(ts) AS INTEGER) AS lead_hour,
                   percent_rank() OVER (PARTITION BY hour(ts) ORDER BY value) AS pr
            FROM events WHERE event_type = 'click'
        )
        SELECT m.event_id, m.lead_hour, m.value,
               round(max(r.ref_value), 6) AS value_adj
        FROM m JOIN r ON r.lead_hour = m.lead_hour AND r.pr <= m.pr
        GROUP BY m.event_id, m.lead_hour, m.value
    """,
    "rating_curve_interp": """
        WITH pts(stage, discharge) AS (VALUES
            (0.0, 0.0), (50.0, 10.0), (100.0, 35.0),
            (200.0, 120.0), (300.0, 300.0), (500.0, 800.0)
        ), segs AS (
            SELECT stage AS x_lo, lead(stage) OVER (ORDER BY stage) AS x_hi,
                   discharge AS y_lo, lead(discharge) OVER (ORDER BY stage) AS y_hi,
                   max(stage) OVER () AS x_max
            FROM pts
        )
        SELECT event_id, value,
               round(y_lo + (y_hi - y_lo) * (value - x_lo) / (x_hi - x_lo), 6)
                   AS discharge
        FROM events
        LEFT JOIN segs ON value >= x_lo
            AND (value < x_hi OR (x_hi = x_max AND value <= x_hi))
    """,
    "threshold_categorize": """
        WITH labeled AS (
            SELECT event_type, value,
                   CASE WHEN value < 50 THEN 'darkblue'
                        WHEN value < 100 THEN 'blue'
                        WHEN value < 125 THEN 'green'
                        WHEN value < 150 THEN 'yellow'
                        WHEN value < 175 THEN 'orange'
                        WHEN value < 200 THEN 'red'
                        ELSE 'darkred' END AS danger_level
            FROM events
        )
        SELECT event_type, danger_level, CAST(count(*) AS BIGINT) AS n,
               round(CAST(sum(CAST(value AS DECIMAL(14,2))) AS DOUBLE) / count(*), 6)
                   AS avg_value
        FROM labeled GROUP BY 1, 2
    """,
    "threshold_per_station": """
        WITH stations AS (SELECT DISTINCT user_id FROM events),
        ladder(base_bound, label) AS (VALUES
            (50.0, 'darkblue'), (100.0, 'blue'), (125.0, 'green'),
            (150.0, 'yellow'), (175.0, 'orange'), (200.0, 'red')),
        lev AS (
            SELECT user_id, base_bound * ((10 + user_id % 5) / 10.0) AS bound, label
            FROM stations CROSS JOIN ladder
        ),
        labeled AS (
            SELECT e.event_id, e.user_id, e.value,
                   coalesce(arg_min(l.label, l.bound), 'darkred') AS danger_level
            FROM events e
            LEFT JOIN lev l ON l.user_id = e.user_id AND e.value < l.bound
            GROUP BY e.event_id, e.user_id, e.value
        )
        SELECT user_id, danger_level, CAST(count(*) AS BIGINT) AS n,
               round(CAST(sum(CAST(value AS DECIMAL(14,2))) AS DOUBLE) / count(*), 6)
                   AS avg_value
        FROM labeled GROUP BY 1, 2
    """,
    "bias_correction_stored": f"""
        WITH curve(lead_hour, x, y) AS (VALUES
            {", ".join(f"({h}, {x!r}, {y!r})" for h, x, y in CORRECTION_CURVES)}),
        segs AS (
            SELECT lead_hour, x AS x_lo, lead(x) OVER w AS x_hi,
                   y AS y_lo, lead(y) OVER w AS y_hi
            FROM curve WINDOW w AS (PARTITION BY lead_hour ORDER BY x)
        ),
        ends AS (
            SELECT lead_hour, min(x) AS x_min, max(x) AS x_max,
                   arg_min(y, x) AS y_min, arg_max(y, x) AS y_max
            FROM curve GROUP BY 1
        ),
        m AS (
            SELECT event_id, value, CAST(hour(ts) AS INTEGER) AS lead_hour
            FROM events WHERE event_type = 'error'
        )
        SELECT m.event_id, m.lead_hour, m.value,
               round(CASE WHEN m.value < e.x_min THEN e.y_min + (m.value - e.x_min)
                          WHEN m.value >= e.x_max THEN e.y_max + (m.value - e.x_max)
                          ELSE s.y_lo + (s.y_hi - s.y_lo)
                               * ((m.value - s.x_lo) / (s.x_hi - s.x_lo))
                     END, 6) AS value_adj
        FROM m
        JOIN ends e USING (lead_hour)
        LEFT JOIN segs s ON s.lead_hour = m.lead_hour
            AND m.value >= s.x_lo AND m.value < s.x_hi
    """,
    "precip_deficit_cumsum": _DAILY_CTE + """
        SELECT event_type, bucket,
               round(CAST(sum(daily_total) OVER (PARTITION BY event_type ORDER BY bucket
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE), 4)
                   AS cum_total
        FROM daily
    """,
    "unit_convert_derive": """
        SELECT event_id,
               round(value - 273.15, 6) AS value_degc,
               round(value * 1000.0, 4) AS value_mm,
               round((value - 32.0) * 5.0 / 9.0, 6) AS value_f2c
        FROM events
    """,
    "regrid_snap_agg": """
        SELECT event_type, floor(value / 25.0) * 25.0 AS cell,
               CAST(count(*) AS BIGINT) AS n,
               round(CAST(sum(CAST(value AS DECIMAL(14,2))) AS DOUBLE) / count(*), 6)
                   AS cell_avg
        FROM events GROUP BY 1, 2
    """,
    "dedup_latest_snapshot": """
        SELECT user_id, event_type, event_id, ts, value FROM (
            SELECT *, row_number() OVER (PARTITION BY user_id, event_type
                                         ORDER BY ts DESC, event_id DESC) AS rn
            FROM events
        ) WHERE rn = 1
    """,
    "collection_healthcheck": """
        WITH coords AS (
            SELECT *,
                   -10.0 + (user_id % 10) * CAST(2.5 AS DOUBLE) AS lon,
                   35.0 + ((user_id // 10) % 10) * CAST(1.5 AS DOUBLE) AS lat
            FROM events
        )
        SELECT event_type, min(ts) AS ts_begin, max(ts) AS ts_end,
               CAST(count(*) AS BIGINT) AS n_rows,
               round(min(value), 6) AS v_min, round(max(value), 6) AS v_max,
               min(lon) AS bbox_w, min(lat) AS bbox_s,
               max(lon) AS bbox_e, max(lat) AS bbox_n
        FROM coords GROUP BY 1
    """,
    "asof_join_events": """
        SELECT p.event_id, p.user_id, p.ts, p.value,
               c.click_ts, round(c.click_value, 6) AS click_value
        FROM (SELECT event_id, user_id, ts, value FROM events
              WHERE event_type = 'purchase') p
        ASOF LEFT JOIN (SELECT user_id AS c_user, ts AS click_ts,
                               value AS click_value
                        FROM events WHERE event_type = 'click') c
            ON p.user_id = c.c_user AND p.ts >= c.click_ts
    """,
    "skew_join_salted": """
        SELECT c.c_nationkey AS nationkey,
               CAST(count(*) AS BIGINT) AS n_events,
               CAST(round(sum(CAST(e.value AS DECIMAL(14,2))), 2) AS DOUBLE) AS total_value
        FROM events e JOIN customer c ON e.user_id = c.c_custkey
        GROUP BY 1
    """,
    "asof_join_forward": """
        WITH m AS (
            SELECT p.event_id, p.user_id, p.ts, p.value,
                   c.click_ts, c.click_value
            FROM (SELECT event_id, user_id, ts, value FROM events
                  WHERE event_type = 'purchase') p
            ASOF LEFT JOIN (SELECT user_id AS c_user, ts AS click_ts,
                                   value AS click_value
                            FROM events WHERE event_type = 'click') c
                ON p.user_id = c.c_user AND p.ts <= c.click_ts
        )
        SELECT event_id, user_id, ts, value,
               CASE WHEN epoch(click_ts) - epoch(ts) <= 3600
                    THEN click_ts END AS click_ts,
               CASE WHEN epoch(click_ts) - epoch(ts) <= 3600
                    THEN round(click_value, 6) END AS click_value
        FROM m
    """,
    "sessionize_gap": """
        WITH flagged AS (
            SELECT user_id, ts, value,
                   CASE WHEN lag(ts) OVER w IS NULL
                             OR epoch(ts) - epoch(lag(ts) OVER w) > 1800
                        THEN 1 ELSE 0 END AS is_new
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts)
        ), sess AS (
            SELECT user_id, ts, value,
                   sum(is_new) OVER (PARTITION BY user_id ORDER BY ts
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS session_id
            FROM flagged
        )
        SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
               CAST(count(*) AS BIGINT) AS n_events,
               min(ts) AS session_start, max(ts) AS session_end,
               round(CAST(sum(CAST(value AS DECIMAL(14,2))) AS DOUBLE), 4) AS session_value
        FROM sess GROUP BY 1, 2
    """,
}


# ---------------------------------------------------------------------------
# round-4 additions: oracled bilinear regrid + Z-order cell rollup (A20/A22
# graduate from tests-only to value-hash-gated catalog rows)
# ---------------------------------------------------------------------------


def _interp_grid_and_targets(spark, sf_dir, glat="lat", glon="lon"):
    """Shared synthetic lattice for the interpolation queries:
    regrid_bilinear and idw_interp use the SAME grid (pre-cutoff daily
    exact-DECIMAL cell means on the user/event modular lattice) and the
    SAME 200 targets — one definition so the two queries and their
    oracles cannot drift apart (only the grid column names differ)."""
    ev = _events(spark, sf_dir)
    day = F.col("ts").cast("date")
    grid = (
        ev.filter(day < F.lit("2024-01-03").cast("date"))
        .groupBy(
            day.alias("day"),
            (F.col("user_id") % 10).cast("double").alias(glat),
            (F.col("event_id") % 10).cast("double").alias(glon),
        )
        .agg(
            (
                F.sum(F.col("value").cast("decimal(14,2)")).cast("double")
                / F.count(F.lit(1))
            ).alias("gval")
        )
    )
    targets = (
        ev.filter((F.col("event_id") < 200) & (day < F.lit("2024-01-03").cast("date")))
        .select(
            "event_id",
            day.alias("day"),
            ((F.col("user_id") % 93) / F.lit(10.0)).alias("lat"),
            ((F.col("event_id") % 87) / F.lit(10.0)).alias("lon"),
        )
    )
    return grid, targets


def q_regrid_bilinear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bilinear regrid of a gridded daily field onto scattered target
    points (reference: bias_correction_cds_process.py:272,295 —
    ``ds.interp(method="linear")``). The grid derives deterministically
    from events (10x10 lattice per day, exact DECIMAL cell means so the
    field itself is bit-stable); targets are fractional points, some
    outside the envelope (NULL path exercised). Axis interval tables
    broadcast; corner lookup is one explode + equi-join."""
    from pygeoapi_ingestor_spark.operators import regrid

    grid, targets = _interp_grid_and_targets(spark, sf_dir)
    out = regrid.bilinear_regrid(
        grid, targets, value_col="gval", time_col="day",
        lat_col="lat", lon_col="lon", out_col="value_interp",
    )
    return out.select(
        "event_id", "day",
        F.round("lat", 6).alias("lat"),
        F.round("lon", 6).alias("lon"),
        F.round("value_interp", 6).alias("value_interp"),
    )


def q_morton_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) spatial rollup: interleave quantized lon/lat
    bits into a cell id and aggregate per cell — the co-locating
    partition key for spatial scans (a bbox touches a contiguous id
    range). Coordinates derive from events on a 1/16-degree lattice
    (binary-exact doubles), stats use exact DECIMAL sums."""
    from pygeoapi_ingestor_spark.operators import spatial

    ev = _events(spark, sf_dir)
    pts = ev.select(
        ((F.col("event_id") % 5760) / F.lit(16.0) - F.lit(180.0)).alias("lon"),
        ((F.col("user_id") % 2880) / F.lit(16.0) - F.lit(90.0)).alias("lat"),
        F.col("value"),
    )
    cell = spatial.morton_cell("lon", "lat", bits_per_axis=8).alias("cell_id")
    return pts.groupBy(cell).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.round(
            F.sum(F.col("value").cast("decimal(14,2)")).cast("double"), 2
        ).alias("cell_total"),
        F.round(F.min("value"), 6).alias("cell_min"),
        F.round(F.max("value"), 6).alias("cell_max"),
        F.round(
            F.sum(F.col("lon").cast("decimal(14,4)")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("centroid_lon"),
    )


ETL_QUERIES["regrid_bilinear"] = q_regrid_bilinear
ETL_QUERIES["morton_cells"] = q_morton_cells

ETL_ORACLES["regrid_bilinear"] = """
WITH ev AS (
    SELECT event_id, user_id, value, CAST(ts AS DATE) AS day FROM events
    WHERE CAST(ts AS DATE) < DATE '2024-01-03'
), grid AS (
    SELECT day,
           CAST(user_id % 10 AS DOUBLE) AS glat,
           CAST(event_id % 10 AS DOUBLE) AS glon,
           CAST(sum(CAST(value AS DECIMAL(14,2))) AS DOUBLE) / count(*) AS gv
    FROM ev GROUP BY 1, 2, 3
), lats AS (SELECT DISTINCT glat AS v FROM grid),
lat_cells AS (
    SELECT v AS lo, lead(v) OVER (ORDER BY v) AS hi,
           lead(v) OVER (ORDER BY v) = (SELECT max(v) FROM lats) AS last
    FROM lats QUALIFY hi IS NOT NULL
), lons AS (SELECT DISTINCT glon AS v FROM grid),
lon_cells AS (
    SELECT v AS lo, lead(v) OVER (ORDER BY v) AS hi,
           lead(v) OVER (ORDER BY v) = (SELECT max(v) FROM lons) AS last
    FROM lons QUALIFY hi IS NOT NULL
), targets AS (
    SELECT event_id, day,
           (user_id % 93) / 10.0 AS tlat,
           (event_id % 87) / 10.0 AS tlon
    FROM ev WHERE event_id < 200
), bracketed AS (
    SELECT t.*, la.lo AS lat_lo, la.hi AS lat_hi, lo_.lo AS lon_lo, lo_.hi AS lon_hi
    FROM targets t
    LEFT JOIN lat_cells la
      ON t.tlat >= la.lo AND (t.tlat < la.hi OR (la.last AND t.tlat <= la.hi))
    LEFT JOIN lon_cells lo_
      ON t.tlon >= lo_.lo AND (t.tlon < lo_.hi OR (lo_.last AND t.tlon <= lo_.hi))
), cornered AS (
    SELECT b.*,
           g00.gv AS vlolo, g01.gv AS vlohi, g10.gv AS vhilo, g11.gv AS vhihi
    FROM bracketed b
    LEFT JOIN grid g00 ON g00.day = b.day AND g00.glat = b.lat_lo AND g00.glon = b.lon_lo
    LEFT JOIN grid g01 ON g01.day = b.day AND g01.glat = b.lat_lo AND g01.glon = b.lon_hi
    LEFT JOIN grid g10 ON g10.day = b.day AND g10.glat = b.lat_hi AND g10.glon = b.lon_lo
    LEFT JOIN grid g11 ON g11.day = b.day AND g11.glat = b.lat_hi AND g11.glon = b.lon_hi
), weighted AS (
    SELECT *,
           CASE WHEN (lat_hi - lat_lo) > 0
                THEN (tlat - lat_lo) / (lat_hi - lat_lo) ELSE 0.0 END AS wy,
           CASE WHEN (lon_hi - lon_lo) > 0
                THEN (tlon - lon_lo) / (lon_hi - lon_lo) ELSE 0.0 END AS wx
    FROM cornered
)
SELECT event_id, day,
       round(tlat, 6) AS lat, round(tlon, 6) AS lon,
       round(CASE WHEN lat_lo IS NOT NULL AND lon_lo IS NOT NULL
                  THEN vlolo * (1 - wy) * (1 - wx)
                     + vlohi * (1 - wy) * wx
                     + vhilo * wy * (1 - wx)
                     + vhihi * wy * wx
             END, 6) AS value_interp
FROM weighted
"""


def _morton_oracle_sql(bits: int = 8) -> str:
    scale = (1 << bits) - 1
    ix = " + ".join(f"(((x >> {i}) & 1) << {2 * i})" for i in range(bits))
    iy = " + ".join(f"(((y >> {i}) & 1) << {2 * i + 1})" for i in range(bits))
    return f"""
WITH pts AS (
    SELECT (event_id % 5760) / 16.0 - 180.0 AS lon,
           (user_id % 2880) / 16.0 - 90.0 AS lat,
           value
    FROM events
), q AS (
    SELECT CAST(round((greatest(-180.0, least(180.0, lon)) + 180.0)
                      / 360.0 * {scale}, 0) AS BIGINT) AS x,
           CAST(round((greatest(-90.0, least(90.0, lat)) + 90.0)
                      / 180.0 * {scale}, 0) AS BIGINT) AS y,
           lon, value
    FROM pts
), cells AS (
    SELECT ({ix}) + ({iy}) AS cell_id, lon, value FROM q
)
SELECT CAST(cell_id AS BIGINT) AS cell_id,
       CAST(count(*) AS BIGINT) AS n,
       round(CAST(sum(CAST(value AS DECIMAL(14,2))) AS DOUBLE), 2) AS cell_total,
       round(min(value), 6) AS cell_min,
       round(max(value), 6) AS cell_max,
       round(CAST(sum(CAST(lon AS DECIMAL(14,4))) AS DOUBLE) / count(*), 6)
         AS centroid_lon
FROM cells GROUP BY 1
"""


ETL_ORACLES["morton_cells"] = _morton_oracle_sql()


def q_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO / CDC upsert: the first half-month's latest snapshot
    per (user, event_type) key, updated by the second half-month as a
    change batch — low-value changes act as deletes, the rest as
    upserts. The idempotent re-ingest shape (utils_spi.py:205-358) every
    collection maintainer runs."""
    from pyspark.sql import Window

    ev = _events(spark, sf_dir)
    cut = F.lit("2024-01-16").cast("date")
    snap_w = Window.partitionBy("user_id", "event_type").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    base = (
        ev.filter(F.col("ts").cast("date") < cut)
        .withColumn("_rn", F.row_number().over(snap_w))
        .filter(F.col("_rn") == 1)
        .select("user_id", "event_type", "ts", "event_id", "value")
    )
    changes = ev.filter(F.col("ts").cast("date") >= cut).select(
        "user_id", "event_type", "ts", "event_id", "value",
        F.when(F.col("value") < 25.0, F.lit("D")).otherwise(F.lit("U")).alias("op"),
    )
    out = temporal.apply_changes(
        base, changes, key_cols=["user_id", "event_type"],
        order_cols=["ts", "event_id"], op_col="op",
    )
    return out.select(
        "user_id", "event_type", "ts", "event_id",
        F.round("value", 6).alias("value"), "src",
    )


ETL_QUERIES["merge_upsert"] = q_merge_upsert

def _spline_params() -> list[tuple]:
    """Deterministic per-lead-hour cubic-spline transfer params — the
    public stand-in for the reference's fitted ``bctf__*`` artifacts
    (bias_correction_cds_process.py:322-344: knots t, coefficients c,
    degree k, dmin/dmax per (variable, init, lead)). Clamped cubic over
    [50, 450] (inside the 0..500 value range, so BOTH constant-adjust
    tails are exercised), strictly increasing interior knots. Plain
    Python floats: Spark's createDataFrame and the oracle's VALUES parse
    the identical doubles."""
    rows = []
    for h in range(24):
        interior = [120.0 + 3.0 * h, 250.0 + 2.0 * h, 380.0 + 1.0 * h]
        t = [50.0] * 4 + interior + [450.0] * 4
        c = [
            2.0 * h,
            60.0 + 1.0 * h,
            130.0 + 2.0 * h,
            210.0 + 1.0 * h,
            300.0 + 2.0 * h,
            390.0 + 1.0 * h,
            480.0 + 2.0 * h,
        ]
        rows.append((h, t, c, -5.0 + 0.1 * h, 8.0 - 0.2 * h))
    return rows


SPLINE_PARAMS = _spline_params()


def q_bias_correction_spline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree-3 B-spline transfer evaluation over stored (t, c, k)
    params — the reference's ``splev`` bias-correction mode with
    constant out-of-range adjustment
    (bias_correction_cds_process.py:336-359), via de Boor's algorithm as
    a single broadcast-join projection (operators/correction.py)."""
    ev = _events(spark, sf_dir)
    model = ev.filter(F.col("event_type") == "error").select(
        "event_id", "value", F.hour("ts").cast("int").alias("lead_hour")
    )
    params = spark.createDataFrame(
        SPLINE_PARAMS,
        "lead_hour int, t array<double>, c array<double>, dmin double, dmax double",
    )
    out = correction.apply_spline_table(
        model, params, series_cols=["lead_hour"], value_col="value", k=3
    )
    return out.select(
        "event_id", "lead_hour", "value", F.round("value_adj", 6).alias("value_adj")
    )


ETL_QUERIES["bias_correction_spline"] = q_bias_correction_spline


def _spline_oracle_sql() -> str:
    rows = ",\n           ".join(
        "({}, [{}], [{}], {!r}, {!r})".format(
            h,
            ", ".join(repr(x) for x in t),
            ", ".join(repr(x) for x in c),
            dmin,
            dmax,
        )
        for h, t, c, dmin, dmax in SPLINE_PARAMS
    )
    expr = correction.spline_transfer_sql(
        "value", "t", "c", 3, "dmin", "dmax", dialect="duckdb"
    )
    return f"""
WITH params(lead_hour, t, c, dmin, dmax) AS (
    VALUES {rows}
), model AS (
    SELECT event_id, value, CAST(hour(ts) AS INT) AS lead_hour
    FROM events WHERE event_type = 'error'
)
SELECT event_id, lead_hour, value,
       round({expr}, 6) AS value_adj
FROM model LEFT JOIN params USING (lead_hour)
"""


ETL_ORACLES["bias_correction_spline"] = _spline_oracle_sql()


# fit-on-reference / apply-to-forecast SPI composition: the forecast
# period starts here; everything before is the reference climate window
SPI_FORECAST_CUT = "2024-01-22"


def _member_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per (event_type, ensemble member, day) exact-decimal totals — the
    ensemble-member axis ``r`` of the forecast dataset, derived
    deterministically as user_id % 4."""
    ev = _events(spark, sf_dir).withColumn(
        "member", (F.col("user_id") % 4).cast("int")
    )
    return temporal.resample(
        ev.withColumn("value", F.col("value").cast(VALUE_DEC)),
        ts_col="ts",
        series_cols=["event_type", "member"],
        value_col="value",
        freq="day",
        aggs={"daily_total": "sum"},
    )


def q_spi_forecast_blend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's forecast-SPI composition with the hash-oracle-able
    empirical transform: per (event_type, ensemble member) the Gringorten
    plotting positions are FIT on the reference window (< SPI_FORECAST_CUT)
    and APPLIED to the appended forecast days, then the member axis is
    collapsed with ensemble stats — ingestor_cds_spi_forecast_process.py:
    240-270 (``xr.concat([ref_dataset, poi_dataset])`` -> per-``r`` SPI ->
    ensemble collapse in compute_zonal_stats / save_spi_coverage)."""
    d = _member_daily(spark, sf_dir)
    cut = F.lit(SPI_FORECAST_CUT).cast("timestamp_ntz")
    ref = d.filter(F.col("bucket") < cut)
    fc = d.filter(F.col("bucket") >= cut)
    spi = indices.spi_empirical_apply(
        ref, fc, series_cols=["event_type", "member"],
        value_col="daily_total", out_col="spi_emp",
    )
    out = zonal.ensemble_stats(
        spi, bucket_cols=["event_type", "bucket"], value_col="spi_emp",
        percentiles=(),
    )
    # + 0.0 collapses IEEE -0.0 to +0.0 on BOTH sides (queries_ml
    # new_weight convention): a tiny negative SPI rounding to zero kept
    # its sign in DuckDB but not in Spark — caught by the r11 sf0.1
    # full-ledger run (CORRECTNESS_FULL_SF01), invisible at sf0.01
    return out.select(
        "event_type",
        "bucket",
        (F.round("ens_min", 6) + F.lit(0.0)).alias("ens_min"),
        (F.round("ens_max", 6) + F.lit(0.0)).alias("ens_max"),
        (F.round("ens_median", 6) + F.lit(0.0)).alias("ens_median"),
        "ens_n",
    )


ETL_QUERIES["spi_forecast_blend"] = q_spi_forecast_blend

ETL_ORACLES["spi_forecast_blend"] = f"""
WITH member_daily AS (
    SELECT event_type, CAST(user_id % 4 AS INT) AS member,
           CAST(date_trunc('day', ts) AS TIMESTAMP) AS bucket,
           sum(CAST(value AS DECIMAL(14,2))) AS daily_total
    FROM events GROUP BY 1, 2, 3
), ref AS (
    SELECT event_type, member, CAST(daily_total AS DOUBLE) AS v
    FROM member_daily WHERE bucket < TIMESTAMP '{SPI_FORECAST_CUT}'
), refn AS (
    SELECT event_type, member, count(*) AS nref
    FROM ref GROUP BY 1, 2
), fc AS (
    SELECT event_type, member, bucket, CAST(daily_total AS DOUBLE) AS x
    FROM member_daily WHERE bucket >= TIMESTAMP '{SPI_FORECAST_CUT}'
), positioned AS (
    SELECT f.event_type, f.member, f.bucket,
           least(greatest((SELECT count(*) FROM ref r
                           WHERE r.event_type = f.event_type
                             AND r.member = f.member AND r.v <= f.x), 1),
                 n.nref) AS rnk,
           n.nref AS n
    FROM fc f JOIN refn n
      ON n.event_type = f.event_type AND n.member = f.member
), probs AS (
    SELECT event_type, member, bucket,
           (CAST(rnk AS DOUBLE) - 0.44) / (CAST(n AS DOUBLE) + 0.12) AS h
    FROM positioned
), tvals AS (
    SELECT event_type, member, bucket, h,
           CASE WHEN h <= 0.5 THEN h ELSE 1.0 - h END AS q
    FROM probs
), zvals AS (
    SELECT event_type, member, bucket, h,
           sqrt(ln(1.0 / (q * q))) AS t
    FROM tvals
), spi AS (
    SELECT event_type, member, bucket,
           CASE WHEN h <= 0.5 THEN -1 ELSE 1 END *
           (t - (2.515517 + 0.802853 * t + 0.010328 * t * t)
                / (1.0 + 1.432788 * t + 0.189269 * t * t
                   + 0.001308 * t * t * t)) AS spi_emp
    FROM zvals
)
SELECT event_type, bucket,
       round(min(spi_emp), 6) + 0.0 AS ens_min,
       round(max(spi_emp), 6) + 0.0 AS ens_max,
       round(quantile_cont(spi_emp, 0.5), 6) + 0.0 AS ens_median,
       CAST(count(*) AS BIGINT) AS ens_n
FROM spi GROUP BY 1, 2
"""


def q_spi_forecast_gamma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The gamma leg of the forecast-SPI composition: Thom gamma + zero
    probability fit on the reference window per (event_type, member),
    zero-corrected CDF + normal quantile applied to the forecast days,
    then ensemble stats (ingestor_cds_spi_forecast_process.py:240-270 +
    utils_spi.py:428-478). Rows-only by the SURVEY §2 A7 argument (the
    iterative special-function fit has no SQL twin); the empirical
    composition twin ``spi_forecast_blend`` carries the value-hash gate
    and tests/test_round5_ops.py property-tests this leg against a
    direct numpy evaluation."""
    d = _member_daily(spark, sf_dir)
    cut = F.lit(SPI_FORECAST_CUT).cast("timestamp_ntz")
    spi = indices.spi_fit_apply_gamma(
        d.withColumn("_is_ref", F.col("bucket") < cut),
        series_cols=["event_type", "member"],
        bucket_col="bucket",
        value_col="daily_total",
        is_ref_col="_is_ref",
    )
    out = zonal.ensemble_stats(
        spi, bucket_cols=["event_type", "bucket"], value_col="spi",
        percentiles=(),
    )
    return out.select(
        "event_type",
        "bucket",
        F.round("ens_min", 6).alias("ens_min"),
        F.round("ens_max", 6).alias("ens_max"),
        F.round("ens_median", 6).alias("ens_median"),
        "ens_n",
    )


ETL_QUERIES["spi_forecast_gamma"] = q_spi_forecast_gamma


# basin polygons over the station lattice (lon -10..12.5 step 2.5,
# lat 35..48.5 step 1.5 — the collection_healthcheck coordinate rule).
# Vertices sit at .1-.9 offsets so no lattice point ever lands exactly on
# an edge; rings are disjoint; east_lshape is CONCAVE (the even-odd
# parity must handle the notch). Shared verbatim by the Spark edge table
# and the oracle's VALUES list.
ZONAL_POLYGONS = {
    "west_basin": [(-10.7, 34.3), (-3.1, 34.1), (-2.7, 42.3), (-10.9, 41.9)],
    "east_lshape": [
        (0.3, 34.2), (12.9, 34.3), (12.8, 48.9), (6.3, 48.8), (6.2, 40.7),
        (0.2, 40.6),
    ],
    "north_tri": [(-10.6, 43.1), (-0.9, 49.3), (-10.4, 49.1)],
}


def q_zonal_stats_polygon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zonal stats with the zone membership COMPUTED from geometry —
    point-in-polygon via broadcast edge table + ray-casting parity
    (utils_spi.py:566-605: ``rio.clip([basin_geometry], ...)`` per basin
    from ``gpd.read_file``), then the existing zonal drill-down.

    The spatial predicate runs on the LATTICE CELL dimension, never the
    fact table: the coordinate rule depends only on ``user_id % 100``
    (lon <- id%10, lat <- (id div 10)%10), so membership is exact per
    cell and the dimension is a literal 100-row range — the r10 shape
    re-derived ``distinct user_id`` from the fact table inside every
    one of the drill-down's scans, a full fact shuffle x4 that
    dominated the key's 17.6x-DuckDB constant factor (VERDICT r10 item
    1a). Facts pay only a broadcast join on the derived cell.

    Prepared-plan (plans/prepared.py): ~90% of the r10 warm cost was
    Catalyst re-planning of an identical plan; the memoized plan
    rescans the parquet on every execution (no data cached) and embeds
    no released-on-finalize artifact."""

    def _build() -> DataFrame:
        from pygeoapi_ingestor_spark.operators import spatial

        ev = _events(spark, sf_dir)
        cells = spark.range(100).select(
            F.col("id").cast("int").alias("_cell"),
            (F.lit(-10.0) + (F.col("id") % 10) * F.lit(2.5)).alias("lon"),
            (F.lit(35.0) + (F.col("id") / 10).cast("int") * F.lit(1.5)).alias("lat"),
        )
        edges = spark.createDataFrame(
            spatial.polygon_edges_rows(ZONAL_POLYGONS),
            "zone string, x1 double, y1 double, x2 double, y2 double",
        )
        memb = spatial.polygon_membership(cells, edges, key_cols=["_cell"])
        # values are 2-decimal-quantized sensor readings -> the one-pass
        # value-compressed histogram replaces the 3-scan drill-down
        out = zonal.zonal_stats_hist(
            ev.withColumn("_cell", (F.col("user_id") % 100).cast("int")),
            memb.select("_cell", "zone"),
            join_key="_cell",
            zone_col="zone",
            bucket_col=temporal.wall_trunc("week", F.col("ts")).alias("bucket"),
            value_col="value",
            percentiles=(0.05, 0.5, 0.95),
        )
        return out.select(
            "zone",
            "bucket",
            F.round("v_min", 6).alias("v_min"),
            F.round("v_max", 6).alias("v_max"),
            F.round("p05", 6).alias("p05"),
            F.round("p50", 6).alias("p50"),
            F.round("p95", 6).alias("p95"),
        )

    from pygeoapi_ingestor_spark.plans.prepared import prepared_plan

    return prepared_plan("zonal_stats_polygon", spark, sf_dir, _build)


ETL_QUERIES["zonal_stats_polygon"] = q_zonal_stats_polygon


def _zonal_polygon_oracle_sql() -> str:
    from pygeoapi_ingestor_spark.operators import spatial

    edge_values = ",\n           ".join(
        f"('{z}', {x1!r}, {y1!r}, {x2!r}, {y2!r})"
        for z, x1, y1, x2, y2 in spatial.polygon_edges_rows(ZONAL_POLYGONS)
    )
    return f"""
WITH stations AS (
    SELECT DISTINCT user_id,
           -10.0 + (user_id % 10) * 2.5 AS lon,
           35.0 + ((user_id // 10) % 10) * 1.5 AS lat
    FROM events
), edges(zone, x1, y1, x2, y2) AS (
    VALUES {edge_values}
), memb AS (
    SELECT user_id, zone
    FROM stations s CROSS JOIN edges e
    GROUP BY user_id, zone, lon, lat
    HAVING sum(CASE WHEN (e.y1 > s.lat) <> (e.y2 > s.lat)
                    THEN CASE WHEN s.lon < e.x1 + (e.x2 - e.x1)
                                        * (s.lat - e.y1) / (e.y2 - e.y1)
                              THEN 1 ELSE 0 END
                    ELSE 0 END) % 2 = 1
)
SELECT zone, CAST(date_trunc('week', ts) AS TIMESTAMP) AS bucket,
       round(min(value), 6) AS v_min,
       round(max(value), 6) AS v_max,
       round(quantile_cont(value, 0.05), 6) AS p05,
       round(quantile_cont(value, 0.50), 6) AS p50,
       round(quantile_cont(value, 0.95), 6) AS p95
FROM events JOIN memb USING (user_id)
GROUP BY 1, 2
"""


ETL_ORACLES["zonal_stats_polygon"] = _zonal_polygon_oracle_sql()

ETL_ORACLES["merge_upsert"] = """
WITH base AS (
    SELECT user_id, event_type, ts, event_id, value FROM (
        SELECT *, row_number() OVER (PARTITION BY user_id, event_type
                                     ORDER BY ts DESC, event_id DESC) AS rn
        FROM events WHERE CAST(ts AS DATE) < DATE '2024-01-16'
    ) WHERE rn = 1
), lc AS (
    SELECT user_id, event_type, ts, event_id, value,
           CASE WHEN value < 25.0 THEN 'D' ELSE 'U' END AS op
    FROM (
        SELECT *, row_number() OVER (PARTITION BY user_id, event_type
                                     ORDER BY ts DESC, event_id DESC) AS rn
        FROM events WHERE CAST(ts AS DATE) >= DATE '2024-01-16'
    ) WHERE rn = 1
), joined AS (
    SELECT coalesce(b.user_id, c.user_id) AS user_id,
           coalesce(b.event_type, c.event_type) AS event_type,
           b.ts AS b_ts, b.event_id AS b_eid, b.value AS b_v,
           c.ts AS c_ts, c.event_id AS c_eid, c.value AS c_v, c.op
    FROM base b FULL OUTER JOIN lc c
      ON b.user_id = c.user_id AND b.event_type = c.event_type
)
SELECT user_id, event_type,
       CASE WHEN op IS NOT NULL THEN c_ts ELSE b_ts END AS ts,
       CASE WHEN op IS NOT NULL THEN c_eid ELSE b_eid END AS event_id,
       round(CASE WHEN op IS NOT NULL THEN c_v ELSE b_v END, 6) AS value,
       CASE WHEN op IS NOT NULL THEN 'change' ELSE 'base' END AS src
FROM joined
WHERE op IS NULL OR op <> 'D'
"""


# ---------------------------------------------------------------------------
# Round 5 (continuation): trend / autocorrelation diagnostics.
#
# The reference's drought products are consumed as trend statements
# ("SPI declining over the period") — utils_spi.py's monthly series are
# exactly what gets regressed downstream. Both operators below reduce the
# fact table once to the per-(series, day) exact-decimal totals (_daily)
# and then work on integer sums only: daily totals have exactly 2
# decimals, so yi = 100 * daily_total is a BIGINT and every moment
# (Σx, Σy, Σxy, Σx², Σy²) is computed in exact integer/decimal
# arithmetic — order-independent in both engines; floats appear only in
# the final slope/correlation division. Day index x is anchored at
# 2024-01-01 (the dataset epoch) so no extra min() pass is needed.
# ---------------------------------------------------------------------------

# Spark: datediff(end, start); DuckDB: date_diff('day', start, end)
_X_DAY_SPARK = "datediff(CAST(bucket AS DATE), DATE '2024-01-01')"
_X_DAY_DUCK = "date_diff('day', DATE '2024-01-01', CAST(bucket AS DATE))"


def _daily_xy(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _daily(spark, sf_dir)
    return d.select(
        "event_type",
        F.expr(_X_DAY_SPARK).cast("bigint").alias("x"),
        (F.col("daily_total") * 100).cast("bigint").alias("yi"),
    )


# quadratic-pair cap (r6 verdict item 4): the Theil-Sen / Mann-Kendall
# pair joins are quadratic in DAYS per series — bounded at one month of
# testdata, but a production deployment holds years (10^4 days -> 10^8
# pairs PER SERIES). Both fits therefore run on the TRAILING
# TREND_WINDOW_DAYS buckets per series (the SimHash bucket-cap
# precedent, operators/dedup.py): a documented, oracle-mirrored window
# that bounds pair work at window^2 while leaving any series shorter
# than the window bit-identical to the uncapped fit (cap-invariance
# pinned in tests on the one-month testdata).
TREND_WINDOW_DAYS = 200


def _cap_trailing(base: DataFrame, window_days: int = TREND_WINDOW_DAYS) -> DataFrame:
    """Keep the trailing ``window_days`` buckets per series of a
    (event_type, x, yi) table."""
    from pyspark.sql import Window

    w = Window.partitionBy("event_type").orderBy(F.col("x").desc())
    return (
        base.withColumn("_rx", F.row_number().over(w))
        .filter(F.col("_rx") <= window_days)
        .drop("_rx")
    )


def _daily_xy_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _cap_trailing(_daily_xy(spark, sf_dir))


_CAPPED_XY_DUCK = f"""
, capped AS (
    SELECT event_type, x, yi FROM (
        SELECT event_type, x, yi,
               row_number() OVER (PARTITION BY event_type ORDER BY x DESC) AS rx
        FROM base
    ) WHERE rx <= {TREND_WINDOW_DAYS}
)
"""


def q_trend_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-series OLS trend (slope / intercept / r²) of the daily totals
    — the climate-trend regression run on every SPI/deficit series.

    Single shuffle to (event_type); all five moments are exact integer
    sums (yi² routed through DECIMAL(19,0)² so the 38-digit product is
    legal at any SF), so the hash oracle closes bit-for-bit. Scale: the
    moment aggregation is map-side combinable; the per-series state is
    five numbers regardless of row count.
    """
    base = _daily_xy(spark, sf_dir)
    y19 = F.col("yi").cast("decimal(19,0)")
    agg = base.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        F.sum("yi").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("yi")).cast("bigint").alias("sxy"),
        F.sum(y19 * y19).cast("decimal(38,0)").alias("syy"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    den_x = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    den_y = (
        F.col("n").cast("decimal(38,0)") * F.col("syy")
        - F.col("sy").cast("decimal(19,0)") * F.col("sy").cast("decimal(19,0)")
    ).cast("double")
    slope100 = num / den_x
    return agg.select(
        "event_type",
        "n",
        F.round(slope100 / 100.0, 6).alias("slope"),
        F.round(
            (F.col("sy").cast("double") - slope100 * F.col("sx")) / F.col("n") / 100.0,
            4,
        ).alias("intercept"),
        F.round(num * num / (den_x * den_y), 6).alias("r2"),
    )


ETL_QUERIES["trend_ols"] = q_trend_ols

ETL_ORACLES["trend_ols"] = _DAILY_CTE + f"""
, base AS (
    SELECT event_type, CAST({_X_DAY_DUCK} AS BIGINT) AS x,
           CAST(daily_total * 100 AS BIGINT) AS yi
    FROM daily
), agg AS (
    SELECT event_type, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(x) AS BIGINT) AS sx, CAST(sum(x * x) AS BIGINT) AS sxx,
           CAST(sum(yi) AS BIGINT) AS sy, CAST(sum(x * yi) AS BIGINT) AS sxy,
           sum(CAST(yi AS HUGEINT) * yi) AS syy
    FROM base GROUP BY 1
)
SELECT event_type, n,
       round(CAST(n * sxy - sx * sy AS DOUBLE)
             / CAST(n * sxx - sx * sx AS DOUBLE) / 100.0, 6) AS slope,
       round((CAST(sy AS DOUBLE)
              - CAST(n * sxy - sx * sy AS DOUBLE)
                / CAST(n * sxx - sx * sx AS DOUBLE) * sx) / n / 100.0, 4)
           AS intercept,
       round(CAST(n * sxy - sx * sy AS DOUBLE) * CAST(n * sxy - sx * sy AS DOUBLE)
             / (CAST(n * sxx - sx * sx AS DOUBLE)
                * CAST(CAST(n AS HUGEINT) * syy
                       - CAST(sy AS HUGEINT) * sy AS DOUBLE)), 6) AS r2
FROM agg
"""


def q_acf_lags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-series autocorrelation of the daily totals at lags 1..3 —
    the persistence diagnostic behind drought-index timescale choice
    (how many periods a wet/dry anomaly carries).

    Pairs come from one equi-join of the tiny daily table to itself on
    (series, x + k) after exploding k in {1,2,3}; every moment over the
    overlap window is an exact integer sum (pairwise Pearson r with
    different margins per lag), floats only in the final r. Scale: the
    join keys on (event_type, day) — cardinality = series × days, not
    fact rows.
    """
    base = _daily_xy(spark, sf_dir)
    a = base.select(
        "event_type", "x", "yi",
        F.explode(F.array(F.lit(1), F.lit(2), F.lit(3))).alias("k"),
    )
    b = base.select(
        F.col("event_type").alias("event_type_b"),
        F.col("x").alias("xb"),
        F.col("yi").alias("yb"),
    )
    pairs = a.join(
        b,
        (F.col("event_type") == F.col("event_type_b"))
        & (F.col("xb") == F.col("x") + F.col("k")),
    )
    a19 = F.col("yi").cast("decimal(19,0)")
    b19 = F.col("yb").cast("decimal(19,0)")
    agg = pairs.groupBy("event_type", "k").agg(
        F.count(F.lit(1)).cast("bigint").alias("m"),
        F.sum("yi").cast("bigint").alias("sa"),
        F.sum("yb").cast("bigint").alias("sb"),
        F.sum(a19 * a19).cast("decimal(38,0)").alias("saa"),
        F.sum(b19 * b19).cast("decimal(38,0)").alias("sbb"),
        F.sum(a19 * b19).cast("decimal(38,0)").alias("sab"),
    )
    m38 = F.col("m").cast("decimal(38,0)")
    cov = (m38 * F.col("sab") - F.col("sa").cast("decimal(19,0)") * F.col("sb").cast("decimal(19,0)")).cast("double")
    va = (m38 * F.col("saa") - F.col("sa").cast("decimal(19,0)") * F.col("sa").cast("decimal(19,0)")).cast("double")
    vb = (m38 * F.col("sbb") - F.col("sb").cast("decimal(19,0)") * F.col("sb").cast("decimal(19,0)")).cast("double")
    return agg.select(
        "event_type",
        F.col("k").cast("int").alias("k"),
        "m",
        F.round(cov / (F.sqrt(va) * F.sqrt(vb)), 6).alias("acf"),
    )


ETL_QUERIES["acf_lags"] = q_acf_lags

ETL_ORACLES["acf_lags"] = _DAILY_CTE + f"""
, base AS (
    SELECT event_type, CAST({_X_DAY_DUCK} AS BIGINT) AS x,
           CAST(daily_total * 100 AS BIGINT) AS yi
    FROM daily
), pairs AS (
    SELECT a.event_type, k.k, a.yi AS ya, b.yi AS yb
    FROM base a
    JOIN (VALUES (1), (2), (3)) k(k) ON TRUE
    JOIN base b ON b.event_type = a.event_type AND b.x = a.x + k.k
), agg AS (
    SELECT event_type, k, CAST(count(*) AS BIGINT) AS m,
           CAST(sum(ya) AS BIGINT) AS sa, CAST(sum(yb) AS BIGINT) AS sb,
           sum(CAST(ya AS HUGEINT) * ya) AS saa,
           sum(CAST(yb AS HUGEINT) * yb) AS sbb,
           sum(CAST(ya AS HUGEINT) * yb) AS sab
    FROM pairs GROUP BY 1, 2
)
SELECT event_type, CAST(k AS INT) AS k, m,
       round(CAST(CAST(m AS HUGEINT) * sab - CAST(sa AS HUGEINT) * sb AS DOUBLE)
             / (sqrt(CAST(CAST(m AS HUGEINT) * saa
                          - CAST(sa AS HUGEINT) * sa AS DOUBLE))
                * sqrt(CAST(CAST(m AS HUGEINT) * sbb
                            - CAST(sb AS HUGEINT) * sb AS DOUBLE))), 6) AS acf
FROM agg
"""


N_SITES = 40


def q_nearest_site_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-site (station) assignment: every event point joins to its
    closest of N_SITES monitoring sites, then per-site stats — the
    grid-point -> station extraction step of the reference's pipelines
    (ingestor_cds_process.py:808-809 ``ds.sel(..., method="nearest")``,
    ingestor_knmi_evapo_fc.py:209 nearest-interp onto the target grid).

    Both point and site coordinates live on the shared 1/16-degree
    lattice, so the squared planar distance is EXACT double arithmetic
    (differences are k/16, squares k²/256 with k² < 2^25 — no rounding
    anywhere), making the argmin deterministic; ties break on site_id.
    Plan: broadcast the bounded site dim, explode points x sites (40x,
    map-side combinable min per point — no shuffle of the blowup), then
    one shuffle on site_id for the per-site rollup. At production site
    counts the Morton-cell neighborhood prune (operators/spatial) caps
    the fanout instead of the full cross product.
    """
    ev = _events(spark, sf_dir)
    pts = ev.select(
        "event_id",
        ((F.col("event_id") % 5760) / F.lit(16.0) - F.lit(180.0)).alias("lon"),
        ((F.col("user_id") % 2880) / F.lit(16.0) - F.lit(90.0)).alias("lat"),
        F.col("value").cast(VALUE_DEC).alias("value"),
    )
    sites = spark.range(N_SITES).select(
        F.col("id").cast("int").alias("site_id"),
        ((F.col("id") * 997 % 5760) / F.lit(16.0) - F.lit(180.0)).alias("site_lon"),
        ((F.col("id") * 601 % 2880) / F.lit(16.0) - F.lit(90.0)).alias("site_lat"),
    )
    d2 = (
        (F.col("lon") - F.col("site_lon")) * (F.col("lon") - F.col("site_lon"))
        + (F.col("lat") - F.col("site_lat")) * (F.col("lat") - F.col("site_lat"))
    )
    assigned = (
        pts.crossJoin(F.broadcast(sites))
        .groupBy("event_id")
        .agg(
            F.min(F.struct(d2.alias("d2"), F.col("site_id"))).alias("best"),
            F.first("value").alias("value"),
        )
        .select("event_id", F.col("best.site_id").alias("site_id"), "value")
    )
    return (
        assigned.groupBy("site_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_points"),
            F.round(F.sum("value").cast("double"), 2).alias("value_total"),
        )
        .join(F.broadcast(sites), "site_id")
        .select(
            "site_id",
            F.round("site_lon", 6).alias("site_lon"),
            F.round("site_lat", 6).alias("site_lat"),
            "n_points", "value_total",
        )
    )


ETL_QUERIES["nearest_site_join"] = q_nearest_site_join

ETL_ORACLES["nearest_site_join"] = f"""
WITH pts AS (
    SELECT event_id,
           (event_id % 5760) / 16.0 - 180.0 AS lon,
           (user_id % 2880) / 16.0 - 90.0 AS lat,
           CAST(value AS DECIMAL(14,2)) AS value
    FROM events
), sites AS (
    SELECT CAST(s AS INT) AS site_id,
           (s * 997 % 5760) / 16.0 - 180.0 AS site_lon,
           (s * 601 % 2880) / 16.0 - 90.0 AS site_lat
    FROM (SELECT unnest(range(0, {N_SITES})) AS s)
), ranked AS (
    SELECT event_id, site_id, value,
           row_number() OVER (
               PARTITION BY event_id
               ORDER BY (lon - site_lon) * (lon - site_lon)
                        + (lat - site_lat) * (lat - site_lat),
                        site_id) AS rn
    FROM pts CROSS JOIN sites
), assigned AS (
    SELECT event_id, site_id, value FROM ranked WHERE rn = 1
)
SELECT a.site_id, round(s.site_lon, 6) AS site_lon,
       round(s.site_lat, 6) AS site_lat,
       CAST(count(*) AS BIGINT) AS n_points,
       round(CAST(sum(a.value) AS DOUBLE), 2) AS value_total
FROM assigned a JOIN sites s ON a.site_id = s.site_id
GROUP BY 1, 2, 3
"""


def q_changepoint_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-series CUSUM changepoint screen on the daily totals: the
    maximum cumulative deviation from the series mean and the day it
    peaks — the classic regime-shift detector run on drought/discharge
    series (the decision step downstream of precip_deficit_cumsum's
    running deficits).

    Exactness: S_t = Σ_{i<=t}(y_i - ȳ) is held as n·100·S_t =
    n·cumsum(yi) - t·Σyi — pure BIGINT (the window cumsum is an integer
    sum, order-fixed by the day ordering), so argmax/tie-break are
    deterministic and the float appears only in the reported magnitude.
    One shuffle to (series); the window walks each series' ~30 daily
    rows, never raw events.
    """
    from pyspark.sql import Window

    base = _daily_xy(spark, sf_dir)
    w = Window.partitionBy("event_type").orderBy("x")
    tot = Window.partitionBy("event_type")
    scored = base.select(
        "event_type",
        "x",
        F.sum("yi").over(w).alias("cum"),
        F.sum("yi").over(tot).alias("sy"),
        F.count(F.lit(1)).over(tot).alias("n"),
        F.row_number().over(w).alias("t"),
    ).select(
        "event_type", "x", "n",
        (F.col("n") * F.col("cum") - F.col("t") * F.col("sy")).alias("ns"),
    )
    best = scored.groupBy("event_type").agg(
        F.max(
            F.struct(
                F.abs(F.col("ns")).alias("a"),
                (-F.col("x")).alias("negx"),
                F.col("ns").alias("ns"),
                F.col("x").alias("x"),
                F.col("n").alias("n"),
            )
        ).alias("b")
    )
    return best.select(
        "event_type",
        F.col("b.n").cast("bigint").alias("n"),
        F.col("b.x").cast("bigint").alias("t_star"),
        F.round(
            F.col("b.ns").cast("double")
            / (F.col("b.n").cast("double") * 100.0),
            6,
        ).alias("cusum_peak"),
    )


ETL_QUERIES["changepoint_cusum"] = q_changepoint_cusum

ETL_ORACLES["changepoint_cusum"] = _DAILY_CTE + f"""
, base AS (
    SELECT event_type, CAST({_X_DAY_DUCK} AS BIGINT) AS x,
           CAST(daily_total * 100 AS BIGINT) AS yi
    FROM daily
), scored AS (
    SELECT event_type, x,
           CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n,
           CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT)
             * sum(yi) OVER (PARTITION BY event_type ORDER BY x
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           - row_number() OVER (PARTITION BY event_type ORDER BY x)
             * sum(yi) OVER (PARTITION BY event_type) AS ns
    FROM base
), ranked AS (
    SELECT event_type, n, x, ns,
           row_number() OVER (PARTITION BY event_type
                              ORDER BY abs(ns) DESC, x ASC) AS rn
    FROM scored
)
SELECT event_type, n, CAST(x AS BIGINT) AS t_star,
       round(CAST(ns AS DOUBLE) / (CAST(n AS DOUBLE) * 100.0), 6)
           AS cusum_peak
FROM ranked WHERE rn = 1
"""


TSS_QUERY_SERIES, TSS_QUERY_WEEK, TSS_TOPK = "click", 1, 5


def q_ts_similarity_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series similarity search (the EDBT'19 streaming-similarity
    shape): find the TSS_TOPK week-windows whose daily profile is most
    Pearson-correlated with a query window — "which station-weeks look
    like this flood week" over the ingested collections.

    Windows are (series, week-of-dataset) daily vectors; the query
    window broadcasts and pairs align on day-of-week, so similarity is
    one broadcast equi-join + a tiny per-window aggregate over exact
    integer moments (the acf_lags arithmetic — floats only in the final
    r). Top-k via TakeOrdered, never a global sort. At 100 TB the same
    plan searches billions of windows: the broadcast side stays one
    window and the moment state is five integers per candidate.
    """
    base = _daily_xy(spark, sf_dir).select(
        "event_type",
        (F.col("x") / 7).cast("bigint").alias("wk"),
        (F.col("x") % 7).cast("bigint").alias("dow"),
        "yi",
    )
    qwin = base.filter(
        (F.col("event_type") == TSS_QUERY_SERIES) & (F.col("wk") == TSS_QUERY_WEEK)
    ).select(F.col("dow").alias("dow"), F.col("yi").alias("qy"))
    pairs = base.join(F.broadcast(qwin), "dow").filter(
        ~((F.col("event_type") == TSS_QUERY_SERIES) & (F.col("wk") == TSS_QUERY_WEEK))
    )
    a19 = F.col("yi").cast("decimal(19,0)")
    q19 = F.col("qy").cast("decimal(19,0)")
    agg = pairs.groupBy("event_type", "wk").agg(
        F.count(F.lit(1)).cast("bigint").alias("m"),
        F.sum("yi").cast("bigint").alias("sa"),
        F.sum("qy").cast("bigint").alias("sb"),
        F.sum(a19 * a19).cast("decimal(38,0)").alias("saa"),
        F.sum(q19 * q19).cast("decimal(38,0)").alias("sbb"),
        F.sum(a19 * q19).cast("decimal(38,0)").alias("sab"),
    ).filter(F.col("m") >= 3)
    m38 = F.col("m").cast("decimal(38,0)")
    cov = (m38 * F.col("sab") - F.col("sa").cast("decimal(19,0)") * F.col("sb").cast("decimal(19,0)")).cast("double")
    va = (m38 * F.col("saa") - F.col("sa").cast("decimal(19,0)") * F.col("sa").cast("decimal(19,0)")).cast("double")
    vb = (m38 * F.col("sbb") - F.col("sb").cast("decimal(19,0)") * F.col("sb").cast("decimal(19,0)")).cast("double")
    # zero-variance windows have no defined correlation; gate BEFORE the
    # division so neither engine manufactures NaN/Inf
    scored = (
        agg.withColumn("_va", va)
        .withColumn("_vb", vb)
        .filter((F.col("_va") > 0) & (F.col("_vb") > 0))
        .select(
            "event_type",
            "wk",
            "m",
            F.round(cov / (F.sqrt(F.col("_va")) * F.sqrt(F.col("_vb"))), 6).alias("sim"),
        )
    )
    return (
        scored.orderBy(F.col("sim").desc(), "event_type", "wk")
        .limit(TSS_TOPK)
    )


ETL_QUERIES["ts_similarity_topk"] = q_ts_similarity_topk

ETL_ORACLES["ts_similarity_topk"] = _DAILY_CTE + f"""
, base AS (
    SELECT event_type,
           CAST({_X_DAY_DUCK} AS BIGINT) // 7 AS wk,
           CAST({_X_DAY_DUCK} AS BIGINT) % 7 AS dow,
           CAST(daily_total * 100 AS BIGINT) AS yi
    FROM daily
), qwin AS (
    SELECT dow, yi AS qy FROM base
    WHERE event_type = '{TSS_QUERY_SERIES}' AND wk = {TSS_QUERY_WEEK}
), pairs AS (
    SELECT b.event_type, b.wk, b.yi, q.qy
    FROM base b JOIN qwin q ON b.dow = q.dow
    WHERE NOT (b.event_type = '{TSS_QUERY_SERIES}' AND b.wk = {TSS_QUERY_WEEK})
), agg AS (
    SELECT event_type, wk, CAST(count(*) AS BIGINT) AS m,
           CAST(sum(yi) AS BIGINT) AS sa, CAST(sum(qy) AS BIGINT) AS sb,
           sum(CAST(yi AS HUGEINT) * yi) AS saa,
           sum(CAST(qy AS HUGEINT) * qy) AS sbb,
           sum(CAST(yi AS HUGEINT) * qy) AS sab
    FROM pairs GROUP BY 1, 2
    HAVING count(*) >= 3
), gated AS (
    SELECT event_type, wk, m,
           CAST(CAST(m AS HUGEINT) * sab - CAST(sa AS HUGEINT) * sb AS DOUBLE) AS cov,
           CAST(CAST(m AS HUGEINT) * saa - CAST(sa AS HUGEINT) * sa AS DOUBLE) AS va,
           CAST(CAST(m AS HUGEINT) * sbb - CAST(sb AS HUGEINT) * sb AS DOUBLE) AS vb
    FROM agg
), scored AS (
    SELECT event_type, wk, m,
           round(cov / (sqrt(va) * sqrt(vb)), 6) AS sim
    FROM gated WHERE va > 0 AND vb > 0
)
SELECT event_type, wk, m, sim FROM scored
ORDER BY sim DESC, event_type, wk
LIMIT {TSS_TOPK}
"""


def _member_daily_dec(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(event_type, bucket, user_id, x): per-member daily totals as
    exact DECIMAL — the ensemble axis of ensemble_stats, kept integral
    so verification scores below stay order-independent."""
    ev = _events(spark, sf_dir)
    return temporal.resample(
        ev.withColumn("value", F.col("value").cast(VALUE_DEC)),
        ts_col="ts", series_cols=["event_type", "user_id"],
        value_col="value", freq="day", aggs={"x": "sum"},
    )


def q_ensemble_crps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CRPS ensemble-forecast verification (the acceptance metric of the
    reference's CDS seasonal-forecast products): per (series, day),
    score the ensemble against a held-out analysis member (the lowest
    user_id). CRPS = mean|x_i - y| - (1/2m²)·ΣΣ|x_i - x_j|.

    The O(m²) pair term collapses to the sorted-rank identity
    Σ_{i<j}(x_(j)-x_(i)) = Σ_i (2i-m-1)·x_(i) — O(m log m) within each
    bucket's bounded member set, and every sum is exact DECIMAL times an
    integer coefficient (tie-invariant), so the gate closes bit-for-bit;
    floats appear only in the two final divisions.
    """
    from pyspark.sql import Window

    md = _member_daily_dec(spark, sf_dir)
    w_obs = Window.partitionBy("event_type", "bucket").orderBy("user_id")
    marked = md.withColumn("_rn", F.row_number().over(w_obs))
    obs = marked.filter(F.col("_rn") == 1).select(
        "event_type", "bucket", F.col("x").alias("y")
    )
    ens = marked.filter(F.col("_rn") > 1).drop("_rn")
    w_v = Window.partitionBy("event_type", "bucket").orderBy("x", "user_id")
    cnt = Window.partitionBy("event_type", "bucket")
    scored = (
        ens.join(F.broadcast(obs), ["event_type", "bucket"])
        .withColumn("_rv", F.row_number().over(w_v))
        .withColumn("_m", F.count(F.lit(1)).over(cnt))
    )
    agg = scored.groupBy("event_type", "bucket").agg(
        F.first("_m").cast("bigint").alias("m"),
        F.sum(F.abs(F.col("x") - F.col("y"))).alias("t1"),
        F.sum(
            (F.lit(2) * F.col("_rv") - F.col("_m") - F.lit(1)) * F.col("x")
        ).alias("t2"),
    ).filter(F.col("m") >= 2)
    return agg.select(
        "event_type", "bucket", "m",
        F.round(
            F.col("t1").cast("double") / F.col("m")
            - F.col("t2").cast("double") / (F.col("m") * F.col("m")),
            4,
        ).alias("crps"),
    )


ETL_QUERIES["ensemble_crps"] = q_ensemble_crps

ETL_ORACLES["ensemble_crps"] = """
WITH md AS (
    SELECT event_type, user_id,
           CAST(date_trunc('day', ts) AS TIMESTAMP) AS bucket,
           sum(CAST(value AS DECIMAL(14,2))) AS x
    FROM events GROUP BY 1, 2, 3
), marked AS (
    SELECT *, row_number() OVER (PARTITION BY event_type, bucket
                                 ORDER BY user_id) AS rn
    FROM md
), obs AS (
    SELECT event_type, bucket, x AS y FROM marked WHERE rn = 1
), ens AS (
    SELECT m.event_type, m.bucket, m.user_id, m.x, o.y,
           row_number() OVER (PARTITION BY m.event_type, m.bucket
                              ORDER BY m.x, m.user_id) AS rv,
           count(*) OVER (PARTITION BY m.event_type, m.bucket) AS mm
    FROM marked m JOIN obs o
      ON m.event_type = o.event_type AND m.bucket = o.bucket
    WHERE m.rn > 1
), agg AS (
    SELECT event_type, bucket, CAST(min(mm) AS BIGINT) AS m,
           sum(abs(x - y)) AS t1,
           sum((2 * rv - mm - 1) * x) AS t2
    FROM ens GROUP BY 1, 2
    HAVING min(mm) >= 2
)
SELECT event_type, bucket, m,
       round(CAST(t1 AS DOUBLE) / m - CAST(t2 AS DOUBLE) / (m * m), 4)
           AS crps
FROM agg
"""


def q_brier_exceedance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brier score of the ensemble's probability-of-exceedance forecast
    (danger-level verification: "P(daily total > climatological mean)"),
    per (series, day) against the held-out analysis member. p and o are
    exact rationals (counts over exact-decimal comparisons), so the
    (p - o)² is the same double in both engines; no cross-bucket float
    sum exists.
    """
    from pyspark.sql import Window

    md = _member_daily_dec(spark, sf_dir)
    thr = md.groupBy("event_type").agg(
        (F.sum("x").cast("double") / F.count(F.lit(1))).alias("thr")
    )
    w_obs = Window.partitionBy("event_type", "bucket").orderBy("user_id")
    marked = md.withColumn("_rn", F.row_number().over(w_obs))
    obs = marked.filter(F.col("_rn") == 1).select(
        "event_type", "bucket", F.col("x").alias("y")
    )
    ens = marked.filter(F.col("_rn") > 1)
    agg = (
        ens.join(F.broadcast(thr), "event_type")
        .groupBy("event_type", "bucket")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("m"),
            F.sum((F.col("x").cast("double") > F.col("thr")).cast("bigint"))
            .cast("bigint")
            .alias("k"),
        )
    )
    out = (
        agg.join(F.broadcast(obs), ["event_type", "bucket"])
        .join(F.broadcast(thr), "event_type")
        .select(
            "event_type", "bucket", "m", "k",
            (F.col("y").cast("double") > F.col("thr")).cast("int").alias("o"),
            F.round(
                (
                    F.col("k").cast("double") / F.col("m")
                    - (F.col("y").cast("double") > F.col("thr")).cast("int")
                )
                * (
                    F.col("k").cast("double") / F.col("m")
                    - (F.col("y").cast("double") > F.col("thr")).cast("int")
                ),
                6,
            ).alias("brier"),
        )
    )
    return out


ETL_QUERIES["brier_exceedance"] = q_brier_exceedance

ETL_ORACLES["brier_exceedance"] = """
WITH md AS (
    SELECT event_type, user_id,
           CAST(date_trunc('day', ts) AS TIMESTAMP) AS bucket,
           sum(CAST(value AS DECIMAL(14,2))) AS x
    FROM events GROUP BY 1, 2, 3
), thr AS (
    SELECT event_type, CAST(sum(x) AS DOUBLE) / count(*) AS thr
    FROM md GROUP BY 1
), marked AS (
    SELECT *, row_number() OVER (PARTITION BY event_type, bucket
                                 ORDER BY user_id) AS rn
    FROM md
), obs AS (
    SELECT event_type, bucket, x AS y FROM marked WHERE rn = 1
), agg AS (
    SELECT m.event_type, m.bucket,
           CAST(count(*) AS BIGINT) AS m,
           CAST(sum(CASE WHEN CAST(m.x AS DOUBLE) > t.thr THEN 1 ELSE 0 END)
                AS BIGINT) AS k
    FROM marked m JOIN thr t ON m.event_type = t.event_type
    WHERE m.rn > 1
    GROUP BY 1, 2
)
SELECT a.event_type, a.bucket, a.m, a.k,
       CAST(CAST(o.y AS DOUBLE) > t.thr AS INT) AS o,
       round((CAST(a.k AS DOUBLE) / a.m
              - CAST(CAST(o.y AS DOUBLE) > t.thr AS INT))
             * (CAST(a.k AS DOUBLE) / a.m
                - CAST(CAST(o.y AS DOUBLE) > t.thr AS INT)), 6) AS brier
FROM agg a
JOIN obs o ON a.event_type = o.event_type AND a.bucket = o.bucket
JOIN thr t ON a.event_type = t.event_type
"""


def q_rank_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ensemble rank (Talagrand) histogram: where the held-out analysis
    member ranks within each day's sorted ensemble, aggregated per
    series — THE dispersion diagnostic of ensemble systems (U-shape =
    under-dispersive, dome = over-dispersive). Pure counting: the rank
    is #members strictly below y plus a deterministic half-count of
    ties, all on exact DECIMAL comparisons — no floats anywhere, so the
    gate is exact by construction. One member-bucket shuffle + one tiny
    histogram aggregate.
    """
    from pyspark.sql import Window

    md = _member_daily_dec(spark, sf_dir)
    w_obs = Window.partitionBy("event_type", "bucket").orderBy("user_id")
    marked = md.withColumn("_rn", F.row_number().over(w_obs))
    obs = marked.filter(F.col("_rn") == 1).select(
        "event_type", "bucket", F.col("x").alias("y")
    )
    ens = marked.filter(F.col("_rn") > 1)
    ranked = (
        ens.join(F.broadcast(obs), ["event_type", "bucket"])
        .groupBy("event_type", "bucket")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("m"),
            F.sum((F.col("x") < F.col("y")).cast("bigint")).cast("bigint").alias("below"),
            F.sum((F.col("x") == F.col("y")).cast("bigint")).cast("bigint").alias("ties"),
        )
        .filter(F.col("m") >= 4)
    )
    # normalized rank bin in 0..4 (quintiles of m+1 slots); ties split
    # deterministically by flooring the half-count
    rank = F.col("below") + F.floor(F.col("ties") / 2)
    bin_ = F.least(
        F.lit(4), F.floor(rank * 5 / (F.col("m") + 1)).cast("int")
    )
    return (
        ranked.select("event_type", bin_.alias("rank_bin"))
        .groupBy("event_type", "rank_bin")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_days"))
    )


ETL_QUERIES["rank_histogram"] = q_rank_histogram

ETL_ORACLES["rank_histogram"] = """
WITH md AS (
    SELECT event_type, user_id,
           CAST(date_trunc('day', ts) AS TIMESTAMP) AS bucket,
           sum(CAST(value AS DECIMAL(14,2))) AS x
    FROM events GROUP BY 1, 2, 3
), marked AS (
    SELECT *, row_number() OVER (PARTITION BY event_type, bucket
                                 ORDER BY user_id) AS rn
    FROM md
), obs AS (
    SELECT event_type, bucket, x AS y FROM marked WHERE rn = 1
), ranked AS (
    SELECT m.event_type, m.bucket,
           CAST(count(*) AS BIGINT) AS mm,
           CAST(sum(CASE WHEN m.x < o.y THEN 1 ELSE 0 END) AS BIGINT) AS below,
           CAST(sum(CASE WHEN m.x = o.y THEN 1 ELSE 0 END) AS BIGINT) AS ties
    FROM marked m JOIN obs o
      ON m.event_type = o.event_type AND m.bucket = o.bucket
    WHERE m.rn > 1
    GROUP BY 1, 2
    HAVING count(*) >= 4
)
SELECT event_type,
       CAST(least(4, (below + ties // 2) * 5 // (mm + 1)) AS INT) AS rank_bin,
       CAST(count(*) AS BIGINT) AS n_days
FROM ranked GROUP BY 1, 2
"""


def q_reliability_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability (calibration) diagram for the exceedance forecast:
    bin the ensemble's P(exceed) into deciles, report observed exceed
    frequency per bin — a calibrated system sits on the diagonal.
    Completes the verification trio (CRPS, Brier, reliability). The bin
    index is integer arithmetic on exact counts (k·10 // (m+1)); the
    only floats are the two reported per-bin means of rationals.
    """
    from pyspark.sql import Window

    md = _member_daily_dec(spark, sf_dir)
    thr = md.groupBy("event_type").agg(
        (F.sum("x").cast("double") / F.count(F.lit(1))).alias("thr")
    )
    w_obs = Window.partitionBy("event_type", "bucket").orderBy("user_id")
    marked = md.withColumn("_rn", F.row_number().over(w_obs))
    obs = marked.filter(F.col("_rn") == 1).select(
        "event_type", "bucket", F.col("x").alias("y")
    )
    per_day = (
        marked.filter(F.col("_rn") > 1)
        .join(F.broadcast(thr), "event_type")
        .groupBy("event_type", "bucket")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("m"),
            F.sum((F.col("x").cast("double") > F.col("thr")).cast("bigint"))
            .cast("bigint")
            .alias("k"),
        )
        .join(F.broadcast(obs), ["event_type", "bucket"])
        .join(F.broadcast(thr), "event_type")
        .select(
            "event_type",
            F.least(F.lit(9), (F.col("k") * 10 / (F.col("m") + 1)).cast("bigint"))
            .cast("int")
            .alias("p_bin"),
            "m",
            "k",
            (F.col("y").cast("double") > F.col("thr")).cast("bigint").alias("o"),
        )
    )
    return per_day.groupBy("event_type", "p_bin").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.sum("o").cast("bigint").alias("n_exceed"),
        F.round(F.sum("o") / F.count(F.lit(1)), 6).alias("obs_freq"),
        F.round(
            F.sum(F.col("k").cast("double") / F.col("m")) / F.count(F.lit(1)), 6
        ).alias("mean_p"),
    )


ETL_QUERIES["reliability_bins"] = q_reliability_bins

ETL_ORACLES["reliability_bins"] = """
WITH md AS (
    SELECT event_type, user_id,
           CAST(date_trunc('day', ts) AS TIMESTAMP) AS bucket,
           sum(CAST(value AS DECIMAL(14,2))) AS x
    FROM events GROUP BY 1, 2, 3
), thr AS (
    SELECT event_type, CAST(sum(x) AS DOUBLE) / count(*) AS thr
    FROM md GROUP BY 1
), marked AS (
    SELECT *, row_number() OVER (PARTITION BY event_type, bucket
                                 ORDER BY user_id) AS rn
    FROM md
), obs AS (
    SELECT event_type, bucket, x AS y FROM marked WHERE rn = 1
), per_day AS (
    SELECT m.event_type, m.bucket,
           CAST(count(*) AS BIGINT) AS mm,
           CAST(sum(CASE WHEN CAST(m.x AS DOUBLE) > t.thr THEN 1 ELSE 0 END)
                AS BIGINT) AS k
    FROM marked m JOIN thr t ON m.event_type = t.event_type
    WHERE m.rn > 1
    GROUP BY 1, 2
), labeled AS (
    SELECT p.event_type,
           CAST(least(9, p.k * 10 // (p.mm + 1)) AS INT) AS p_bin,
           p.mm, p.k,
           CAST(CAST(o.y AS DOUBLE) > t.thr AS BIGINT) AS o
    FROM per_day p
    JOIN obs o ON p.event_type = o.event_type AND p.bucket = o.bucket
    JOIN thr t ON p.event_type = t.event_type
)
SELECT event_type, p_bin,
       CAST(count(*) AS BIGINT) AS n_days,
       CAST(sum(o) AS BIGINT) AS n_exceed,
       round(CAST(sum(o) AS DOUBLE) / count(*), 6) AS obs_freq,
       round(sum(CAST(k AS DOUBLE) / mm) / count(*), 6) AS mean_p
FROM labeled GROUP BY 1, 2
"""


def q_seasonal_decompose_dow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly-seasonality decomposition of the daily series: per
    (series, day-of-week), the seasonal mean and the residual spread
    after removing it — the additive decomposition step (xarray
    ``groupby('time.dayofweek') - mean`` shape) behind the reference's
    climatology/anomaly chain, at weekly period. All moments are exact
    integer sums over yi = 100·daily_total: seasonal mean = sy/n, and
    the residual variance per dow collapses to (n·syy − sy²)/n² — no
    float accumulates anywhere, division only in the reported columns.
    """
    base = _daily_xy(spark, sf_dir)
    y19 = F.col("yi").cast("decimal(19,0)")
    agg = base.groupBy(
        "event_type", (F.col("x") % 7).cast("int").alias("dow")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("yi").cast("bigint").alias("sy"),
        F.sum(y19 * y19).cast("decimal(38,0)").alias("syy"),
    )
    n38 = F.col("n").cast("decimal(38,0)")
    var_num = (
        n38 * F.col("syy")
        - F.col("sy").cast("decimal(19,0)") * F.col("sy").cast("decimal(19,0)")
    ).cast("double")
    return agg.select(
        "event_type", "dow", "n",
        F.round(F.col("sy").cast("double") / F.col("n") / 100.0, 4).alias(
            "seasonal_mean"
        ),
        F.round(
            F.sqrt(var_num / (F.col("n") * F.col("n")).cast("double")) / 100.0, 4
        ).alias("residual_std"),
    )


ETL_QUERIES["seasonal_decompose_dow"] = q_seasonal_decompose_dow

ETL_ORACLES["seasonal_decompose_dow"] = _DAILY_CTE + f"""
, base AS (
    SELECT event_type, CAST({_X_DAY_DUCK} AS BIGINT) AS x,
           CAST(daily_total * 100 AS BIGINT) AS yi
    FROM daily
), agg AS (
    SELECT event_type, CAST(x % 7 AS INT) AS dow,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(yi) AS BIGINT) AS sy,
           sum(CAST(yi AS HUGEINT) * yi) AS syy
    FROM base GROUP BY 1, 2
)
SELECT event_type, dow, n,
       round(CAST(sy AS DOUBLE) / n / 100.0, 4) AS seasonal_mean,
       round(sqrt(CAST(CAST(n AS HUGEINT) * syy
                       - CAST(sy AS HUGEINT) * sy AS DOUBLE)
                  / CAST(n * n AS DOUBLE)) / 100.0, 4) AS residual_std
FROM agg
"""


def q_cell_pyramid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-resolution (zoom-pyramid) spatial rollup: per-cell stats at
    8/6/4 bits-per-axis simultaneously — the tile-pyramid build behind
    any map service over the ingested collections. Morton ids make the
    pyramid FREE: a parent cell id is the child id right-shifted by
    2·Δbits (dropping one bit per axis), so every level derives from
    ONE quantization pass and the whole pyramid is a single shuffle on
    (level, cell). Exact DECIMAL cell sums as in morton_cells.
    """
    from pygeoapi_ingestor_spark.operators import spatial

    ev = _events(spark, sf_dir)
    pts = ev.select(
        ((F.col("event_id") % 5760) / F.lit(16.0) - F.lit(180.0)).alias("lon"),
        ((F.col("user_id") % 2880) / F.lit(16.0) - F.lit(90.0)).alias("lat"),
        F.col("value"),
    )
    base = pts.withColumn(
        "cell8", spatial.morton_cell("lon", "lat", bits_per_axis=8)
    )
    leveled = base.select(
        "value",
        "cell8",
        F.explode(F.expr("array(8, 6, 4)")).alias("level"),
    ).withColumn("cell_id", F.expr("shiftright(cell8, (8 - level) * 2)"))
    return leveled.groupBy(
        F.col("level").cast("int").alias("level"), "cell_id"
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.round(
            F.sum(F.col("value").cast(VALUE_DEC)).cast("double"), 2
        ).alias("cell_total"),
    )


ETL_QUERIES["cell_pyramid"] = q_cell_pyramid


def _pyramid_oracle_sql(bits: int = 8) -> str:
    scale = (1 << bits) - 1
    ix = " + ".join(f"(((x >> {i}) & 1) << {2 * i})" for i in range(bits))
    iy = " + ".join(f"(((y >> {i}) & 1) << {2 * i + 1})" for i in range(bits))
    return f"""
WITH pts AS (
    SELECT (event_id % 5760) / 16.0 - 180.0 AS lon,
           (user_id % 2880) / 16.0 - 90.0 AS lat,
           value
    FROM events
), q AS (
    SELECT CAST(round((greatest(-180.0, least(180.0, lon)) + 180.0)
                      / 360.0 * {scale}, 0) AS BIGINT) AS x,
           CAST(round((greatest(-90.0, least(90.0, lat)) + 90.0)
                      / 180.0 * {scale}, 0) AS BIGINT) AS y,
           value
    FROM pts
), cells AS (
    SELECT ({ix}) + ({iy}) AS cell8, value FROM q
), leveled AS (
    SELECT CAST(l.level AS INT) AS level,
           CAST(cell8 >> ((8 - l.level) * 2) AS BIGINT) AS cell_id,
           value
    FROM cells CROSS JOIN (VALUES (8), (6), (4)) l(level)
)
SELECT level, cell_id, CAST(count(*) AS BIGINT) AS n,
       round(CAST(sum(CAST(value AS DECIMAL(14,2))) AS DOUBLE), 2) AS cell_total
FROM leveled GROUP BY 1, 2
"""


ETL_ORACLES["cell_pyramid"] = _pyramid_oracle_sql()


# ---------------------------------------------------------------------------
# Round 5 (continuation 2): neighborhood/focal raster stats, robust
# (Theil-Sen) trend, cross-correlation, and IDW interpolation — the
# remaining members of the reference's spatial-interp / trend-diagnostic
# families (regrid/interp: bias_correction_cds_process.py:272,295 and
# ingestor_knmi_evapo_fc.py:209; trend consumption of the SPI series:
# utils_spi.py monthly products).
# ---------------------------------------------------------------------------

FOCAL_NX, FOCAL_NY = 24, 16


def q_focal_stats_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Focal (3x3 neighborhood) statistics over the snapped grid — the
    raster smoothing/neighborhood pass (xarray ``rolling`` over both
    spatial dims) every gridded product applies before publication.

    Spark-native shape: ONE pass snaps events to (ix, iy) cells with
    exact DECIMAL sums; the focal step then operates on the CELL table
    (bounded by grid size, never row count): each cell explodes to its
    9 neighbor positions and re-groups, so the shuffle is 9x|cells| tiny
    rows. The focal mean pools neighbor (sum, n) pairs — exact decimal /
    bigint arithmetic, float only in the final division — rather than
    averaging per-cell means, which would be order-dependent float
    addition. Edge cells aggregate only their existing neighbors; the
    join back to the base cell table keeps focal rows only for real
    cells (no halo rows).
    """
    ev = _events(spark, sf_dir)
    cells = (
        ev.groupBy(
            (F.col("event_id") % FOCAL_NX).cast("int").alias("ix"),
            (F.col("user_id") % FOCAL_NY).cast("int").alias("iy"),
        )
        .agg(
            F.sum(F.col("value").cast(VALUE_DEC)).alias("cell_total"),
            F.count(F.lit(1)).cast("bigint").alias("cell_n"),
            F.max("value").alias("cell_max"),
        )
    )
    neigh = cells.select(
        "ix", "iy", "cell_total", "cell_n", "cell_max",
        F.explode(F.expr(
            "array(-1, 0, 1)"
        )).alias("dx"),
    ).select(
        "*", F.explode(F.expr("array(-1, 0, 1)")).alias("dy")
    ).select(
        (F.col("ix") + F.col("dx")).alias("fx"),
        (F.col("iy") + F.col("dy")).alias("fy"),
        "cell_total", "cell_n", "cell_max",
    )
    focal = neigh.groupBy("fx", "fy").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_neighbors"),
        F.sum("cell_total").alias("f_total"),
        F.sum("cell_n").cast("bigint").alias("f_n"),
        F.max("cell_max").alias("f_max"),
    )
    base = cells.select(F.col("ix").alias("fx"), F.col("iy").alias("fy"))
    return focal.join(base, ["fx", "fy"]).select(
        F.col("fx").cast("int").alias("ix"),
        F.col("fy").cast("int").alias("iy"),
        "n_neighbors",
        F.col("f_n").alias("n_points"),
        F.round(F.col("f_total").cast("double") / F.col("f_n"), 6).alias("focal_mean"),
        F.round("f_max", 6).alias("focal_max"),
    )


ETL_QUERIES["focal_stats_grid"] = q_focal_stats_grid

ETL_ORACLES["focal_stats_grid"] = f"""
WITH cells AS (
    SELECT CAST(event_id % {FOCAL_NX} AS INT) AS ix,
           CAST(user_id % {FOCAL_NY} AS INT) AS iy,
           sum(CAST(value AS DECIMAL(14,2))) AS cell_total,
           CAST(count(*) AS BIGINT) AS cell_n,
           max(value) AS cell_max
    FROM events GROUP BY 1, 2
), neigh AS (
    SELECT ix + dx.d AS fx, iy + dy.d AS fy, cell_total, cell_n, cell_max
    FROM cells
    CROSS JOIN (VALUES (-1), (0), (1)) dx(d)
    CROSS JOIN (VALUES (-1), (0), (1)) dy(d)
), focal AS (
    SELECT fx, fy, CAST(count(*) AS BIGINT) AS n_neighbors,
           sum(cell_total) AS f_total, CAST(sum(cell_n) AS BIGINT) AS f_n,
           max(cell_max) AS f_max
    FROM neigh GROUP BY 1, 2
)
SELECT CAST(f.fx AS INT) AS ix, CAST(f.fy AS INT) AS iy, n_neighbors,
       f_n AS n_points,
       round(CAST(f_total AS DOUBLE) / f_n, 6) AS focal_mean,
       round(f_max, 6) AS focal_max
FROM focal f JOIN cells c ON f.fx = c.ix AND f.fy = c.iy
"""


def q_theilsen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-series Theil-Sen robust trend: slope = median of all pairwise
    slopes, intercept = median residual at that slope — the
    outlier-robust twin of trend_ols that climate services prefer for
    sparse/spiky station series (a single flood day cannot flip it).

    Pairs come from ONE self-join of the tiny per-(series, day) table
    (bounded by series x days², never fact rows). Each pairwise slope is
    a single IEEE division of exact integers — deterministic and
    identical in both engines — and the median is taken positionally
    (row_number + middle-two average), NOT via an engine median()
    aggregate whose interpolation conventions differ. The residual
    median reuses the same positional mechanic over the ~30 daily rows
    per series. Scale: the pair blowup is quadratic in DAYS, so the fit
    runs on the trailing TREND_WINDOW_DAYS buckets per series (see the
    cap note above _daily_xy_capped) — pair work is bounded at window²
    while series parallelism stays unbounded.
    """
    return _theilsen_from_xy(_daily_xy_capped(spark, sf_dir))


def _theilsen_from_xy(base: DataFrame) -> DataFrame:
    """Theil-Sen fit over a (event_type, x, yi) table — split out so the
    cap-engagement property test can drive it with a synthetic long
    series."""
    from pyspark.sql import Window

    a = base.select("event_type", F.col("x").alias("xa"), F.col("yi").alias("ya"))
    b = base.select(
        F.col("event_type").alias("et_b"),
        F.col("x").alias("xb"),
        F.col("yi").alias("yb"),
    )
    pairs = a.join(
        b, (F.col("event_type") == F.col("et_b")) & (F.col("xb") > F.col("xa"))
    ).select(
        "event_type",
        (
            (F.col("yb") - F.col("ya")).cast("double")
            / (F.col("xb") - F.col("xa")).cast("double")
            / F.lit(100.0)
        ).alias("slope"),
    )
    w = Window.partitionBy("event_type").orderBy("slope")
    ranked = pairs.select(
        "event_type",
        "slope",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy("event_type")).alias("m"),
    )
    # median positions: lo = floor((m+1)/2), hi = floor(m/2)+1 — one row
    # when m is odd, the two middles when m is even (their average is the
    # textbook even-count median)
    med_slope = (
        ranked.filter(
            (F.col("rn") == F.floor((F.col("m") + 1) / 2))
            | (F.col("rn") == F.floor(F.col("m") / 2) + 1)
        )
        .groupBy("event_type")
        .agg(
            (F.sum("slope") / F.count(F.lit(1))).alias("slope"),
            F.first("m").alias("n_pairs"),
        )
    )
    resid = base.join(F.broadcast(med_slope), "event_type").select(
        "event_type",
        "slope",
        "n_pairs",
        (F.col("yi").cast("double") / 100.0 - F.col("slope") * F.col("x")).alias("r"),
    )
    wr = Window.partitionBy("event_type").orderBy("r")
    rranked = resid.select(
        "event_type", "slope", "n_pairs", "r",
        F.row_number().over(wr).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy("event_type")).alias("n"),
    )
    return (
        rranked.filter(
            (F.col("rn") == F.floor((F.col("n") + 1) / 2))
            | (F.col("rn") == F.floor(F.col("n") / 2) + 1)
        )
        .groupBy("event_type")
        .agg(
            F.first("n").cast("bigint").alias("n_days"),
            F.first("n_pairs").cast("bigint").alias("n_pairs"),
            F.round(F.first("slope"), 6).alias("slope"),
            F.round(F.sum("r") / F.count(F.lit(1)), 4).alias("intercept"),
        )
    )


ETL_QUERIES["theilsen_trend"] = q_theilsen_trend

ETL_ORACLES["theilsen_trend"] = _DAILY_CTE + f"""
, base AS (
    SELECT event_type, CAST({_X_DAY_DUCK} AS BIGINT) AS x,
           CAST(daily_total * 100 AS BIGINT) AS yi
    FROM daily
){_CAPPED_XY_DUCK}, pairs AS (
    SELECT a.event_type,
           CAST(b.yi - a.yi AS DOUBLE) / CAST(b.x - a.x AS DOUBLE) / 100.0 AS slope
    FROM capped a JOIN capped b
      ON b.event_type = a.event_type AND b.x > a.x
), ranked AS (
    SELECT event_type, slope,
           row_number() OVER (PARTITION BY event_type ORDER BY slope) AS rn,
           count(*) OVER (PARTITION BY event_type) AS m
    FROM pairs
), med AS (
    SELECT event_type, sum(slope) / count(*) AS slope, min(m) AS n_pairs
    FROM ranked
    WHERE rn = CAST(floor((m + 1) / 2.0) AS BIGINT)
       OR rn = CAST(floor(m / 2.0) AS BIGINT) + 1
    GROUP BY 1
), resid AS (
    SELECT b.event_type, med.slope, med.n_pairs,
           CAST(b.yi AS DOUBLE) / 100.0 - med.slope * b.x AS r
    FROM capped b JOIN med ON b.event_type = med.event_type
), rranked AS (
    SELECT event_type, slope, n_pairs, r,
           row_number() OVER (PARTITION BY event_type ORDER BY r) AS rn,
           count(*) OVER (PARTITION BY event_type) AS n
    FROM resid
)
SELECT event_type, CAST(min(n) AS BIGINT) AS n_days,
       CAST(min(n_pairs) AS BIGINT) AS n_pairs,
       round(min(slope), 6) AS slope,
       round(sum(r) / count(*), 4) AS intercept
FROM rranked
WHERE rn = CAST(floor((n + 1) / 2.0) AS BIGINT)
   OR rn = CAST(floor(n / 2.0) AS BIGINT) + 1
GROUP BY 1
"""


CCF_REF_SERIES = "view"


def q_ccf_lags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-correlation of every series against the CCF_REF_SERIES
    daily series at lags 0..3 — the driver-response diagnostic
    (precip -> discharge lag structure) downstream of the reference's
    ingested station series.

    Same exact-moment arithmetic as acf_lags, but the lagged partner is
    the broadcast reference series: response series rows at day x join
    reference rows at day x - k. All five moments are exact integer
    sums over the per-lag overlap; the float appears only in the final
    Pearson division. One shuffle builds the daily table; the lag join
    keys on (day) against a broadcast ~30-row dim.
    """
    base = _daily_xy(spark, sf_dir)
    ref = base.filter(F.col("event_type") == CCF_REF_SERIES).select(
        F.col("x").alias("xr"), F.col("yi").alias("yr")
    )
    resp = base.filter(F.col("event_type") != CCF_REF_SERIES).select(
        "event_type", "x", "yi",
        F.explode(F.expr("array(0, 1, 2, 3)")).alias("k"),
    )
    pairs = resp.join(
        F.broadcast(ref), F.col("xr") == F.col("x") - F.col("k")
    )
    a19 = F.col("yi").cast("decimal(19,0)")
    r19 = F.col("yr").cast("decimal(19,0)")
    agg = pairs.groupBy("event_type", "k").agg(
        F.count(F.lit(1)).cast("bigint").alias("m"),
        F.sum("yi").cast("bigint").alias("sa"),
        F.sum("yr").cast("bigint").alias("sb"),
        F.sum(a19 * a19).cast("decimal(38,0)").alias("saa"),
        F.sum(r19 * r19).cast("decimal(38,0)").alias("sbb"),
        F.sum(a19 * r19).cast("decimal(38,0)").alias("sab"),
    )
    m38 = F.col("m").cast("decimal(38,0)")
    cov = (m38 * F.col("sab") - F.col("sa").cast("decimal(19,0)") * F.col("sb").cast("decimal(19,0)")).cast("double")
    va = (m38 * F.col("saa") - F.col("sa").cast("decimal(19,0)") * F.col("sa").cast("decimal(19,0)")).cast("double")
    vb = (m38 * F.col("sbb") - F.col("sb").cast("decimal(19,0)") * F.col("sb").cast("decimal(19,0)")).cast("double")
    return agg.select(
        "event_type",
        F.col("k").cast("int").alias("k"),
        "m",
        F.round(cov / (F.sqrt(va) * F.sqrt(vb)), 6).alias("ccf"),
    )


ETL_QUERIES["ccf_lags"] = q_ccf_lags

ETL_ORACLES["ccf_lags"] = _DAILY_CTE + f"""
, base AS (
    SELECT event_type, CAST({_X_DAY_DUCK} AS BIGINT) AS x,
           CAST(daily_total * 100 AS BIGINT) AS yi
    FROM daily
), ref AS (
    SELECT x AS xr, yi AS yr FROM base WHERE event_type = '{CCF_REF_SERIES}'
), pairs AS (
    SELECT a.event_type, k.k, a.yi AS ya, r.yr
    FROM base a
    JOIN (VALUES (0), (1), (2), (3)) k(k) ON TRUE
    JOIN ref r ON r.xr = a.x - k.k
    WHERE a.event_type <> '{CCF_REF_SERIES}'
), agg AS (
    SELECT event_type, k, CAST(count(*) AS BIGINT) AS m,
           CAST(sum(ya) AS BIGINT) AS sa, CAST(sum(yr) AS BIGINT) AS sb,
           sum(CAST(ya AS HUGEINT) * ya) AS saa,
           sum(CAST(yr AS HUGEINT) * yr) AS sbb,
           sum(CAST(ya AS HUGEINT) * yr) AS sab
    FROM pairs GROUP BY 1, 2
)
SELECT event_type, CAST(k AS INT) AS k, m,
       round(CAST(CAST(m AS HUGEINT) * sab - CAST(sa AS HUGEINT) * sb AS DOUBLE)
             / (sqrt(CAST(CAST(m AS HUGEINT) * saa
                          - CAST(sa AS HUGEINT) * sa AS DOUBLE))
                * sqrt(CAST(CAST(m AS HUGEINT) * sbb
                            - CAST(sb AS HUGEINT) * sb AS DOUBLE))), 6) AS ccf
FROM agg
"""


def q_idw_interp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverse-distance-weighted (Shepard p=2) interpolation of the
    gridded daily field at scattered target points — the third member of
    the reference's interpolation family next to bilinear
    (bias_correction_cds_process.py:272,295) and nearest
    (ingestor_cds_process.py:808-809): the estimator used when the
    source field is scattered stations rather than a regular grid.

    The neighborhood is the 5x5 cell window around each target (radius-2
    circle filter on exact squared distances), generated by exploding 25
    candidate offsets and EQUI-joining to the grid on (day, cell) — at
    scale the join stays hash-partitioned on cell keys, never a range
    scan. Determinism across engines: every distance is IEEE arithmetic
    on identical expressions; each weight term is rounded to a fixed
    scale and summed as DECIMAL, so the accumulation is
    order-independent (the same convention as embedding_qa_stats). A
    zero-distance target takes its cell's value exactly (the coincident
    cell is unique per day).
    """
    grid, targets = _interp_grid_and_targets(spark, sf_dir, glat="glat", glon="glon")
    cand = targets.select(
        "event_id", "day", "lat", "lon",
        F.explode(F.expr("array(-2, -1, 0, 1, 2)")).alias("dy"),
    ).select(
        "*", F.explode(F.expr("array(-2, -1, 0, 1, 2)")).alias("dx")
    ).select(
        "event_id", "day", "lat", "lon",
        (F.floor("lat") + F.col("dy")).cast("double").alias("glat"),
        (F.floor("lon") + F.col("dx")).cast("double").alias("glon"),
    )
    d2 = (
        (F.col("lat") - F.col("glat")) * (F.col("lat") - F.col("glat"))
        + (F.col("lon") - F.col("glon")) * (F.col("lon") - F.col("glon"))
    )
    joined = cand.join(grid, ["day", "glat", "glon"]).withColumn("d2", d2).filter(
        F.col("d2") <= 4.0
    )
    agg = joined.groupBy("event_id", "day", "lat", "lon").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_cells"),
        F.max(F.when(F.col("d2") == 0.0, F.col("gval"))).alias("exact_val"),
        F.sum(
            F.when(
                F.col("d2") > 0.0,
                F.round(F.col("gval") / F.col("d2"), 6).cast("decimal(24,6)"),
            )
        ).alias("num"),
        F.sum(
            F.when(
                F.col("d2") > 0.0,
                F.round(F.lit(1.0) / F.col("d2"), 9).cast("decimal(20,9)"),
            )
        ).alias("den"),
    )
    return agg.select(
        "event_id", "day",
        F.round("lat", 6).alias("lat"),
        F.round("lon", 6).alias("lon"),
        "n_cells",
        F.round(
            F.coalesce(
                F.col("exact_val"),
                F.col("num").cast("double") / F.col("den").cast("double"),
            ),
            6,
        ).alias("idw_value"),
    )


ETL_QUERIES["idw_interp"] = q_idw_interp

ETL_ORACLES["idw_interp"] = """
WITH grid AS (
    SELECT CAST(ts AS DATE) AS day,
           CAST(user_id % 10 AS DOUBLE) AS glat,
           CAST(event_id % 10 AS DOUBLE) AS glon,
           CAST(sum(CAST(value AS DECIMAL(14,2))) AS DOUBLE) / count(*) AS gval
    FROM events WHERE CAST(ts AS DATE) < DATE '2024-01-03'
    GROUP BY 1, 2, 3
), targets AS (
    SELECT event_id, CAST(ts AS DATE) AS day,
           (user_id % 93) / 10.0 AS lat,
           (event_id % 87) / 10.0 AS lon
    FROM events
    WHERE event_id < 200 AND CAST(ts AS DATE) < DATE '2024-01-03'
), cand AS (
    SELECT event_id, day, lat, lon,
           CAST(floor(lat) + dy.d AS DOUBLE) AS glat,
           CAST(floor(lon) + dx.d AS DOUBLE) AS glon
    FROM targets
    CROSS JOIN (VALUES (-2), (-1), (0), (1), (2)) dy(d)
    CROSS JOIN (VALUES (-2), (-1), (0), (1), (2)) dx(d)
), joined AS (
    SELECT c.event_id, c.day, c.lat, c.lon, g.gval,
           (c.lat - c.glat) * (c.lat - c.glat)
           + (c.lon - c.glon) * (c.lon - c.glon) AS d2
    FROM cand c
    JOIN grid g ON g.day = c.day AND g.glat = c.glat AND g.glon = c.glon
    WHERE (c.lat - c.glat) * (c.lat - c.glat)
          + (c.lon - c.glon) * (c.lon - c.glon) <= 4.0
), agg AS (
    SELECT event_id, day, lat, lon,
           CAST(count(*) AS BIGINT) AS n_cells,
           max(CASE WHEN d2 = 0.0 THEN gval END) AS exact_val,
           sum(CASE WHEN d2 > 0.0
                    THEN CAST(round(gval / d2, 6) AS DECIMAL(24,6)) END) AS num,
           sum(CASE WHEN d2 > 0.0
                    THEN CAST(round(1.0 / d2, 9) AS DECIMAL(20,9)) END) AS den
    FROM joined GROUP BY 1, 2, 3, 4
)
SELECT event_id, day, round(lat, 6) AS lat, round(lon, 6) AS lon, n_cells,
       round(coalesce(exact_val, CAST(num AS DOUBLE) / CAST(den AS DOUBLE)), 6)
           AS idw_value
FROM agg
"""


def q_climate_cdd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Consecutive-dry-days (CDD) climate indices per series: dry-day
    count, dry-spell count, and the longest dry spell — the ETCCDI
    drought indicator computed downstream of every ingested precip
    series (the run-length view of precip_deficit_cumsum's deficits).

    A day is "dry" when its total falls below 0.8x the series mean; the
    comparison is EXACT — cross-multiplied decimals
    (10·daily_total·n < 8·series_total), no float threshold. Spells are
    gaps-and-islands on the day index (x - row_number over dry days), so
    calendar gaps break runs correctly. Two window passes over the tiny
    per-(series, day) table, shuffle keyed on series.
    """
    from pyspark.sql import Window

    d = _daily(spark, sf_dir).select(
        "event_type",
        F.expr(_X_DAY_SPARK).cast("bigint").alias("x"),
        "daily_total",
    )
    ws = Window.partitionBy("event_type")
    flagged = d.select(
        "event_type", "x",
        (
            F.col("daily_total") * 10 * F.count(F.lit(1)).over(ws)
            < F.sum("daily_total").over(ws) * 8
        ).alias("dry"),
        F.count(F.lit(1)).over(ws).alias("n_days"),
    )
    dry = flagged.filter("dry")
    wd = Window.partitionBy("event_type").orderBy("x")
    runs = dry.withColumn("grp", F.col("x") - F.row_number().over(wd)).groupBy(
        "event_type", "grp"
    ).agg(F.count(F.lit(1)).cast("bigint").alias("run_len"))
    spells = runs.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_spells"),
        F.max("run_len").cast("bigint").alias("max_spell_days"),
        F.sum("run_len").cast("bigint").alias("n_dry_days"),
    )
    totals = flagged.groupBy("event_type").agg(
        F.first("n_days").cast("bigint").alias("n_days")
    )
    return totals.join(spells, "event_type", "left").select(
        "event_type",
        "n_days",
        F.coalesce("n_dry_days", F.lit(0)).cast("bigint").alias("n_dry_days"),
        F.coalesce("n_spells", F.lit(0)).cast("bigint").alias("n_spells"),
        F.coalesce("max_spell_days", F.lit(0)).cast("bigint").alias("max_spell_days"),
    )


ETL_QUERIES["climate_cdd"] = q_climate_cdd

ETL_ORACLES["climate_cdd"] = _DAILY_CTE + f"""
, d AS (
    SELECT event_type, CAST({_X_DAY_DUCK} AS BIGINT) AS x, daily_total
    FROM daily
), flagged AS (
    SELECT event_type, x,
           daily_total * 10 * count(*) OVER (PARTITION BY event_type)
             < sum(daily_total) OVER (PARTITION BY event_type) * 8 AS dry,
           count(*) OVER (PARTITION BY event_type) AS n_days
    FROM d
), runs AS (
    SELECT event_type,
           x - row_number() OVER (PARTITION BY event_type ORDER BY x) AS grp
    FROM flagged WHERE dry
), spells AS (
    SELECT event_type, CAST(count(*) AS BIGINT) AS run_len
    FROM runs GROUP BY event_type, grp
), agg AS (
    SELECT event_type, CAST(count(*) AS BIGINT) AS n_spells,
           CAST(max(run_len) AS BIGINT) AS max_spell_days,
           CAST(sum(run_len) AS BIGINT) AS n_dry_days
    FROM spells GROUP BY 1
), totals AS (
    SELECT event_type, CAST(min(n_days) AS BIGINT) AS n_days FROM flagged GROUP BY 1
)
SELECT t.event_type, t.n_days,
       CAST(coalesce(a.n_dry_days, 0) AS BIGINT) AS n_dry_days,
       CAST(coalesce(a.n_spells, 0) AS BIGINT) AS n_spells,
       CAST(coalesce(a.max_spell_days, 0) AS BIGINT) AS max_spell_days
FROM totals t LEFT JOIN agg a ON t.event_type = a.event_type
"""


RETURN_LEVEL_TOPK = 5


def q_return_levels_empirical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empirical return levels per series: the top-k daily totals with
    their Weibull plotting-position return periods T = (n+1)/rank — the
    flood-frequency table (utils_spi.py's extreme tails consumed as
    "1-in-N-day event" statements) without a fitted distribution.

    One shuffle to (series); ranking walks the ~30-row daily table per
    series, ties broken on the day for determinism. Counts and levels
    exact; the return period is the single rounded float. At scale the
    per-series sort is bounded by days, and series parallelize.
    """
    from pyspark.sql import Window

    d = _daily(spark, sf_dir).select(
        "event_type",
        F.expr(_X_DAY_SPARK).cast("bigint").alias("x"),
        "daily_total",
    )
    ws = Window.partitionBy("event_type")
    wrank = Window.partitionBy("event_type").orderBy(
        F.col("daily_total").desc(), F.col("x").asc()
    )
    ranked = d.select(
        "event_type", "x", "daily_total",
        F.row_number().over(wrank).alias("rank"),
        F.count(F.lit(1)).over(ws).alias("n_days"),
    ).filter(F.col("rank") <= RETURN_LEVEL_TOPK)
    return ranked.select(
        "event_type",
        F.col("rank").cast("int").alias("rank"),
        F.col("x").alias("day_index"),
        F.col("n_days").cast("bigint").alias("n_days"),
        F.round(F.col("daily_total").cast("double"), 2).alias("level"),
        F.round(
            (F.col("n_days") + 1).cast("double") / F.col("rank"), 4
        ).alias("return_period_days"),
    )


ETL_QUERIES["return_levels_empirical"] = q_return_levels_empirical

ETL_ORACLES["return_levels_empirical"] = _DAILY_CTE + f"""
, d AS (
    SELECT event_type, CAST({_X_DAY_DUCK} AS BIGINT) AS x, daily_total
    FROM daily
), ranked AS (
    SELECT event_type, x, daily_total,
           row_number() OVER (PARTITION BY event_type
                              ORDER BY daily_total DESC, x ASC) AS rank,
           count(*) OVER (PARTITION BY event_type) AS n_days
    FROM d
)
SELECT event_type, CAST(rank AS INT) AS rank, x AS day_index,
       CAST(n_days AS BIGINT) AS n_days,
       round(CAST(daily_total AS DOUBLE), 2) AS level,
       round(CAST(n_days + 1 AS DOUBLE) / rank, 4) AS return_period_days
FROM ranked WHERE rank <= {RETURN_LEVEL_TOPK}
"""


ALARM_HIGH, ALARM_LOW = 175.0, 150.0


def q_threshold_crossings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Danger-level alerting with HYSTERESIS per series: an alarm raises
    when the value reaches ALARM_HIGH and clears only when it falls to
    ALARM_LOW — the latched form of ll_nl_danger_levels.py's class
    assignment (the batch twin of streaming/stateful.py's EWMA alert
    latch), so oscillation between the two bounds never re-fires.

    Spark-native shape: the latch state only changes on BOUNDARY rows
    (value >= high or value <= low), so the state machine collapses to
    lag() transitions over the boundary subset — no recursion, no UDF,
    one shuffle on the series key; the window walks each series'
    boundary rows ordered by (ts, event_id).
    """
    from pyspark.sql import Window

    ev = _events(spark, sf_dir)
    b = ev.filter(
        (F.col("value") >= ALARM_HIGH) | (F.col("value") <= ALARM_LOW)
    ).select(
        "event_type", "ts", "event_id",
        F.when(F.col("value") >= ALARM_HIGH, F.lit(1)).otherwise(F.lit(0)).alias("flag"),
    )
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    t = b.withColumn("prev", F.lag("flag").over(w))
    enters = F.when(
        (F.col("flag") == 1) & (F.col("prev").isNull() | (F.col("prev") == 0)),
        F.lit(1),
    ).otherwise(F.lit(0))
    exits = F.when((F.col("flag") == 0) & (F.col("prev") == 1), F.lit(1)).otherwise(
        F.lit(0)
    )
    return t.groupBy("event_type").agg(
        F.sum(enters).cast("bigint").alias("n_alarms"),
        F.sum(exits).cast("bigint").alias("n_clears"),
        F.min(F.when(enters == 1, F.col("ts"))).alias("first_alarm_ts"),
        F.max(F.struct("ts", "event_id", "flag")).getField("flag").cast("int").alias("last_state"),
    )


ETL_QUERIES["threshold_crossings"] = q_threshold_crossings

ETL_ORACLES["threshold_crossings"] = f"""
WITH b AS (
    SELECT event_type, ts, event_id,
           CASE WHEN value >= {ALARM_HIGH} THEN 1 ELSE 0 END AS flag
    FROM events
    WHERE value >= {ALARM_HIGH} OR value <= {ALARM_LOW}
), t AS (
    SELECT event_type, ts, event_id, flag,
           lag(flag) OVER (PARTITION BY event_type ORDER BY ts, event_id) AS prev,
           row_number() OVER (PARTITION BY event_type
                              ORDER BY ts DESC, event_id DESC) AS rn_last
    FROM b
)
SELECT event_type,
       CAST(sum(CASE WHEN flag = 1 AND (prev IS NULL OR prev = 0)
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_alarms,
       CAST(sum(CASE WHEN flag = 0 AND prev = 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_clears,
       min(CASE WHEN flag = 1 AND (prev IS NULL OR prev = 0) THEN ts END)
           AS first_alarm_ts,
       CAST(max(CASE WHEN rn_last = 1 THEN flag END) AS INT) AS last_state
FROM t GROUP BY 1
"""


QC_SPIKE, QC_RANGE_HI, QC_RANGE_LO = 250.0, 300.0, 0.1


def q_qc_flags_station(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Station-data quality control per (series, day): spike flags
    (first difference beyond QC_SPIKE), flatline flags (three identical
    consecutive readings), and range violations — the QC screen a
    production ingest runs on every station feed before publication
    (the reference ingests SMHI/KNMI/ARPAE station series raw;
    this is the standard meteorological QC layered on that intake).

    One shuffle on the series key; lag windows walk each series once,
    then a per-(series, day) rollup. Values are 2-decimal DECIMAL so
    every comparison (diff magnitude, equality) is exact — no float
    tolerance ambiguity between engines.
    """
    from pyspark.sql import Window

    ev = _events(spark, sf_dir).select(
        "event_type", "ts", "event_id", F.col("value").cast(VALUE_DEC).alias("v")
    )
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    t = (
        ev.withColumn("prev", F.lag("v").over(w))
        .withColumn("prev2", F.lag("v", 2).over(w))
    )
    spike = F.when(
        F.col("prev").isNotNull()
        & (F.abs(F.col("v") - F.col("prev")) > QC_SPIKE),
        1,
    ).otherwise(0)
    flat = F.when(
        (F.col("v") == F.col("prev")) & (F.col("prev") == F.col("prev2")), 1
    ).otherwise(0)
    rng = F.when(
        (F.col("v") > QC_RANGE_HI) | (F.col("v") < QC_RANGE_LO), 1
    ).otherwise(0)
    day = temporal.wall_trunc("day", F.col("ts")).alias("day")
    flagged = t.select(
        "event_type", day, spike.alias("spike"), flat.alias("flat"), rng.alias("rng")
    )
    return flagged.groupBy("event_type", "day").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_obs"),
        F.sum("spike").cast("bigint").alias("n_spikes"),
        F.sum("flat").cast("bigint").alias("n_flatline"),
        F.sum("rng").cast("bigint").alias("n_range"),
        F.round(
            (F.sum("spike") + F.sum("flat") + F.sum("rng"))
            / F.count(F.lit(1)).cast("double"),
            6,
        ).alias("flag_rate"),
    )


ETL_QUERIES["qc_flags_station"] = q_qc_flags_station

ETL_ORACLES["qc_flags_station"] = f"""
WITH t AS (
    SELECT event_type, ts,
           CAST(value AS DECIMAL(14,2)) AS v,
           lag(CAST(value AS DECIMAL(14,2))) OVER
               (PARTITION BY event_type ORDER BY ts, event_id) AS prev,
           lag(CAST(value AS DECIMAL(14,2)), 2) OVER
               (PARTITION BY event_type ORDER BY ts, event_id) AS prev2
    FROM events
), flagged AS (
    SELECT event_type, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
           CASE WHEN prev IS NOT NULL AND abs(v - prev) > {QC_SPIKE}
                THEN 1 ELSE 0 END AS spike,
           CASE WHEN v = prev AND prev = prev2 THEN 1 ELSE 0 END AS flat,
           CASE WHEN v > {QC_RANGE_HI} OR v < {QC_RANGE_LO}
                THEN 1 ELSE 0 END AS rng
    FROM t
)
SELECT event_type, day, CAST(count(*) AS BIGINT) AS n_obs,
       CAST(sum(spike) AS BIGINT) AS n_spikes,
       CAST(sum(flat) AS BIGINT) AS n_flatline,
       CAST(sum(rng) AS BIGINT) AS n_range,
       round((sum(spike) + sum(flat) + sum(rng)) / CAST(count(*) AS DOUBLE), 6)
           AS flag_rate
FROM flagged GROUP BY 1, 2
"""


# 36-row latitude-band weight table, cos(lat) computed ONCE in Python so
# both engines embed the SAME literals — no cross-engine libm trust
# needed (cos is not required to be correctly rounded; sqrt is)
import math as _math

AW_LAT_BANDS = [
    (li, round((li - 17.5) * 5.0, 1), round(_math.cos(_math.radians((li - 17.5) * 5.0)), 9))
    for li in range(36)
]


def q_area_weighted_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Area-weighted (cos-latitude) daily spatial mean — the correct
    global/zonal mean over a lat/lon grid, where a 1-degree cell near
    the pole covers far less area than one at the equator (xarray's
    ``weighted(cos(lat)).mean()`` idiom; the reference's basin means at
    utils_spi.py:576-590 are small-extent so it skips the weighting —
    at continental extents that shortcut biases the mean poleward).

    The 36-band weight table is Python-computed literals broadcast to
    both engines; weighted sums are DECIMAL x DECIMAL exact products,
    so accumulation order cannot flip a bit. One shuffle to (day);
    weights join via broadcast.
    """
    ev = _events(spark, sf_dir)
    bands = spark.createDataFrame(
        [(li, lat, w) for li, lat, w in AW_LAT_BANDS], "li int, lat double, w string"
    ).select("li", "lat", F.col("w").cast("decimal(10,9)").alias("w"))
    pts = ev.select(
        F.col("ts").cast("date").alias("day"),
        (F.col("user_id") % 36).cast("int").alias("li"),
        F.col("value").cast(VALUE_DEC).alias("v"),
    )
    j = pts.join(F.broadcast(bands), "li")
    return j.groupBy("day").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_obs"),
        F.round(
            F.sum(F.col("w") * F.col("v")).cast("double")
            / F.sum("w").cast("double"),
            6,
        ).alias("aw_mean"),
        F.round(
            F.sum("v").cast("double") / F.count(F.lit(1)), 6
        ).alias("plain_mean"),
    )


ETL_QUERIES["area_weighted_mean"] = q_area_weighted_mean


def _aw_oracle_sql() -> str:
    rows = ", ".join(f"({li}, {lat}, {w:.9f})" for li, lat, w in AW_LAT_BANDS)
    return f"""
WITH bands(li, lat, w) AS (
    SELECT li, lat, CAST(w AS DECIMAL(10,9))
    FROM (VALUES {rows}) t(li, lat, w)
), pts AS (
    SELECT CAST(ts AS DATE) AS day,
           CAST(user_id % 36 AS INT) AS li,
           CAST(value AS DECIMAL(14,2)) AS v
    FROM events
)
SELECT day, CAST(count(*) AS BIGINT) AS n_obs,
       round(CAST(sum(b.w * p.v) AS DOUBLE) / CAST(sum(b.w) AS DOUBLE), 6)
           AS aw_mean,
       round(CAST(sum(p.v) AS DOUBLE) / count(*), 6) AS plain_mean
FROM pts p JOIN bands b ON p.li = b.li
GROUP BY 1
"""


ETL_ORACLES["area_weighted_mean"] = _aw_oracle_sql()


def q_asof_join_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest as-of with tolerance (merge_asof direction='nearest'):
    each purchase matched to the CLOSEST click of the same user within
    30 minutes, whichever side of the purchase it falls on — completes
    the backward/forward/nearest family (observation matched to the
    nearest forecast step, either direction).

    One key shuffle feeding BOTH carries (one exchange, two in-partition
    sorts); exact-tie prefers the backward row (documented convention,
    mirrored in the oracle's ranking).
    """
    ev = _events(spark, sf_dir)
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("click_ts"),
        F.col("value").alias("click_value"),
    )
    out = temporal.asof_join(
        purchases,
        clicks,
        left_on="ts",
        right_on="click_ts",
        left_keys=["user_id"],
        right_keys=["c_user"],
        right_value_cols=["click_ts", "click_value"],
        direction="nearest",
        tolerance_seconds=1800,
    )
    return out.select(
        "event_id", "user_id", "ts", "value", "click_ts",
        F.round("click_value", 6).alias("click_value"),
    )


ETL_QUERIES["asof_join_nearest"] = q_asof_join_nearest

# candidate ranking mirrors the carry semantics exactly: closest first,
# backward preferred on distance ties, then (click_ts, click_value)
# descending — the greatest-struct-wins convention for duplicate right
# timestamps
ETL_ORACLES["asof_join_nearest"] = """
WITH purchases AS (
    SELECT event_id, user_id, ts, value FROM events
    WHERE event_type = 'purchase'
), clicks AS (
    SELECT user_id AS c_user, ts AS click_ts, value AS click_value
    FROM events WHERE event_type = 'click'
), cand AS (
    SELECT p.event_id, p.user_id, p.ts, p.value, c.click_ts, c.click_value,
           abs(date_diff('microsecond', c.click_ts, p.ts)) AS gap,
           CASE WHEN c.click_ts <= p.ts THEN 0 ELSE 1 END AS is_fwd,
           row_number() OVER (
               PARTITION BY p.event_id
               ORDER BY abs(date_diff('microsecond', c.click_ts, p.ts)),
                        CASE WHEN c.click_ts <= p.ts THEN 0 ELSE 1 END,
                        c.click_ts DESC, c.click_value DESC
           ) AS rn
    FROM purchases p JOIN clicks c ON p.user_id = c.c_user
    WHERE abs(date_diff('microsecond', c.click_ts, p.ts)) <= 1800 * 1000000
)
SELECT p.event_id, p.user_id, p.ts, p.value, c.click_ts,
       round(c.click_value, 6) AS click_value
FROM purchases p
LEFT JOIN (SELECT * FROM cand WHERE rn = 1) c ON p.event_id = c.event_id
"""


# Warm-spell threshold as an exact rational multiple of the series
# mean: hot iff daily_total * DEN * n > Σ * NUM (cross-multiplied
# decimals — no float mean anywhere). 51/50 = 1.02x: the synthetic
# daily totals concentrate toward the mean as SF grows (relative
# spread shrinks ~1/sqrt(events-per-day)), so the classic 1.25x WSDI
# multiplier stops firing beyond sf0.001 and the oracle gate was
# VACUOUS at both gate SFs (r12 verdict item 3 — two engines agreeing
# on an empty result). 1.02x keeps ">= 3 consecutive above-normal
# days" semantics while producing events at sf0.001/0.01/0.1
# (measured 7/6/5 events), so the counting, longest-spell, and
# tie-break branches are all exercised by the hash gate.
HEAT_MULT_NUM, HEAT_MULT_DEN = 51, 50


def q_heat_wave_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Warm-spell (WSDI-family) events per series: runs of >= 3
    consecutive days whose total exceeds HEAT_MULT (51/50) times the
    series mean — the high-tail sibling of climate_cdd (which counts
    dry days below 0.8x), reported as event counts plus the longest
    event's length and start day. Same exactness scheme: the hot
    threshold is a cross-multiplied decimal comparison
    (DEN·daily_total·n > NUM·Σ), runs are gaps-and-islands on the day
    index, and the longest-event pick breaks ties on the earliest
    start.
    """
    from pyspark.sql import Window

    d = _daily(spark, sf_dir).select(
        "event_type",
        F.expr(_X_DAY_SPARK).cast("bigint").alias("x"),
        "daily_total",
    )
    ws = Window.partitionBy("event_type")
    hot = d.select(
        "event_type", "x",
        (
            F.col("daily_total") * HEAT_MULT_DEN * F.count(F.lit(1)).over(ws)
            > F.sum("daily_total").over(ws) * HEAT_MULT_NUM
        ).alias("hot"),
    ).filter("hot")
    wd = Window.partitionBy("event_type").orderBy("x")
    runs = (
        hot.withColumn("grp", F.col("x") - F.row_number().over(wd))
        .groupBy("event_type", "grp")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("run_len"),
            F.min("x").cast("bigint").alias("start_x"),
        )
        .filter(F.col("run_len") >= 3)
    )
    runs = runs.withColumn(
        "mx_len", F.max("run_len").over(Window.partitionBy("event_type"))
    )
    return runs.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.sum("run_len").cast("bigint").alias("n_event_days"),
        F.max("run_len").cast("bigint").alias("max_event_days"),
        F.min(
            F.when(F.col("run_len") == F.col("mx_len"), F.col("start_x"))
        ).cast("bigint").alias("longest_start_day"),
    )


ETL_QUERIES["heat_wave_events"] = q_heat_wave_events

ETL_ORACLES["heat_wave_events"] = _DAILY_CTE + f"""
, d AS (
    SELECT event_type, CAST({_X_DAY_DUCK} AS BIGINT) AS x, daily_total
    FROM daily
), hot AS (
    SELECT event_type, x FROM (
        SELECT event_type, x,
               daily_total * {HEAT_MULT_DEN} * count(*) OVER (PARTITION BY event_type)
                 > sum(daily_total) OVER (PARTITION BY event_type) * {HEAT_MULT_NUM} AS hot
        FROM d
    ) WHERE hot
), runs AS (
    SELECT event_type, CAST(count(*) AS BIGINT) AS run_len,
           CAST(min(x) AS BIGINT) AS start_x
    FROM (
        SELECT event_type, x,
               x - row_number() OVER (PARTITION BY event_type ORDER BY x) AS grp
        FROM hot
    ) GROUP BY event_type, grp
    HAVING count(*) >= 3
), mx AS (
    SELECT event_type, max(run_len) AS mx_len FROM runs GROUP BY 1
)
SELECT r.event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(r.run_len) AS BIGINT) AS n_event_days,
       CAST(max(r.run_len) AS BIGINT) AS max_event_days,
       CAST(min(CASE WHEN r.run_len = m.mx_len THEN r.start_x END) AS BIGINT)
           AS longest_start_day
FROM runs r JOIN mx m ON r.event_type = m.event_type
GROUP BY 1
"""


DMC_REF_SERIES = "view"


def q_double_mass_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Double-mass curve per series vs the reference series: cumulative
    total against cumulative reference total by day — the classic
    hydrological homogeneity screen (a slope break means a gauge moved
    or its exposure changed; rer_river_discharge_arpae_process.py's
    stage records are exactly what this QC protects).

    Exact DECIMAL cumulative sums on both axes (window order fixed by
    the day index), ratio as the single rounded float. One shuffle to
    the series key; the reference cumulative joins via broadcast of the
    tiny per-day reference table.
    """
    from pyspark.sql import Window

    d = _daily(spark, sf_dir).select(
        "event_type",
        F.expr(_X_DAY_SPARK).cast("bigint").alias("x"),
        "daily_total",
    )
    ref = d.filter(F.col("event_type") == DMC_REF_SERIES).select(
        "x", F.col("daily_total").alias("ref_total")
    )
    wr = Window.orderBy("x").rowsBetween(Window.unboundedPreceding, 0)
    ref_cum = ref.select(
        "x", F.sum("ref_total").over(wr).alias("cum_ref")
    )
    w = Window.partitionBy("event_type").orderBy("x").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = d.filter(F.col("event_type") != DMC_REF_SERIES).select(
        "event_type", "x", F.sum("daily_total").over(w).alias("cum_series")
    )
    return cum.join(F.broadcast(ref_cum), "x").select(
        "event_type",
        F.col("x").alias("day_index"),
        F.round(F.col("cum_series").cast("double"), 2).alias("cum_series"),
        F.round(F.col("cum_ref").cast("double"), 2).alias("cum_ref"),
        F.round(
            F.col("cum_series").cast("double") / F.col("cum_ref").cast("double"),
            6,
        ).alias("mass_ratio"),
    )


ETL_QUERIES["double_mass_curve"] = q_double_mass_curve

ETL_ORACLES["double_mass_curve"] = _DAILY_CTE + f"""
, d AS (
    SELECT event_type, CAST({_X_DAY_DUCK} AS BIGINT) AS x, daily_total
    FROM daily
), ref_cum AS (
    SELECT x, sum(daily_total) OVER (ORDER BY x
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_ref
    FROM d WHERE event_type = '{DMC_REF_SERIES}'
), cum AS (
    SELECT event_type, x,
           sum(daily_total) OVER (PARTITION BY event_type ORDER BY x
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_series
    FROM d WHERE event_type <> '{DMC_REF_SERIES}'
)
SELECT c.event_type, c.x AS day_index,
       round(CAST(c.cum_series AS DOUBLE), 2) AS cum_series,
       round(CAST(r.cum_ref AS DOUBLE), 2) AS cum_ref,
       round(CAST(c.cum_series AS DOUBLE) / CAST(r.cum_ref AS DOUBLE), 6)
           AS mass_ratio
FROM cum c JOIN ref_cum r ON c.x = r.x
"""


def q_kge_nse_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kling-Gupta and Nash-Sutcliffe efficiency of every series as a
    'simulation' against the reference 'observation' series — THE two
    verification numbers a hydrological service reports for its
    discharge models (the deterministic siblings of the ensemble CRPS /
    Brier family).

    All moments (Σs, Σo, Σs², Σo², Σso, Σ(s−o)²) are exact integer sums
    over the aligned daily pairs (yi = 100x totals as in trend_ols);
    floats appear only in the final r / alpha / beta / KGE / NSE
    divisions. One equi-join on the day against the broadcast
    observation table, one shuffle to the series key.
    """
    base = _daily_xy(spark, sf_dir)
    obs = base.filter(F.col("event_type") == DMC_REF_SERIES).select(
        "x", F.col("yi").alias("oi")
    )
    pairs = base.filter(F.col("event_type") != DMC_REF_SERIES).join(
        F.broadcast(obs), "x"
    )
    s19 = F.col("yi").cast("decimal(19,0)")
    o19 = F.col("oi").cast("decimal(19,0)")
    agg = pairs.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("yi").cast("bigint").alias("ss"),
        F.sum("oi").cast("bigint").alias("so"),
        F.sum(s19 * s19).cast("decimal(38,0)").alias("sss"),
        F.sum(o19 * o19).cast("decimal(38,0)").alias("soo"),
        F.sum(s19 * o19).cast("decimal(38,0)").alias("sso"),
        F.sum((s19 - o19) * (s19 - o19)).cast("decimal(38,0)").alias("sse"),
    )
    n38 = F.col("n").cast("decimal(38,0)")
    cov = (n38 * F.col("sso") - F.col("ss").cast("decimal(19,0)") * F.col("so").cast("decimal(19,0)")).cast("double")
    vs = (n38 * F.col("sss") - F.col("ss").cast("decimal(19,0)") * F.col("ss").cast("decimal(19,0)")).cast("double")
    vo = (n38 * F.col("soo") - F.col("so").cast("decimal(19,0)") * F.col("so").cast("decimal(19,0)")).cast("double")
    r = cov / (F.sqrt(vs) * F.sqrt(vo))
    alpha = F.sqrt(vs) / F.sqrt(vo)
    beta = F.col("ss").cast("double") / F.col("so").cast("double")
    kge = 1.0 - F.sqrt(
        (r - 1.0) * (r - 1.0)
        + (alpha - 1.0) * (alpha - 1.0)
        + (beta - 1.0) * (beta - 1.0)
    )
    # NSE = 1 - Σ(s-o)² / Σ(o-ō)²; the denominator is vo/n
    nse = 1.0 - F.col("sse").cast("double") / (vo / F.col("n").cast("double"))
    return agg.select(
        "event_type", "n",
        F.round(r, 6).alias("r"),
        F.round(alpha, 6).alias("alpha"),
        F.round(beta, 6).alias("beta"),
        F.round(kge, 6).alias("kge"),
        F.round(nse, 6).alias("nse"),
    )


ETL_QUERIES["kge_nse_scores"] = q_kge_nse_scores

ETL_ORACLES["kge_nse_scores"] = _DAILY_CTE + f"""
, base AS (
    SELECT event_type, CAST({_X_DAY_DUCK} AS BIGINT) AS x,
           CAST(daily_total * 100 AS BIGINT) AS yi
    FROM daily
), obs AS (
    SELECT x, yi AS oi FROM base WHERE event_type = '{DMC_REF_SERIES}'
), agg AS (
    SELECT b.event_type, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(b.yi) AS BIGINT) AS ss, CAST(sum(o.oi) AS BIGINT) AS so,
           sum(CAST(b.yi AS HUGEINT) * b.yi) AS sss,
           sum(CAST(o.oi AS HUGEINT) * o.oi) AS soo,
           sum(CAST(b.yi AS HUGEINT) * o.oi) AS sso,
           sum(CAST(b.yi - o.oi AS HUGEINT) * (b.yi - o.oi)) AS sse
    FROM base b JOIN obs o ON b.x = o.x
    WHERE b.event_type <> '{DMC_REF_SERIES}'
    GROUP BY 1
)
, scores AS (
    SELECT event_type, n,
           CAST(CAST(n AS HUGEINT) * sso - CAST(ss AS HUGEINT) * so AS DOUBLE)
           / (sqrt(CAST(CAST(n AS HUGEINT) * sss - CAST(ss AS HUGEINT) * ss AS DOUBLE))
              * sqrt(CAST(CAST(n AS HUGEINT) * soo - CAST(so AS HUGEINT) * so AS DOUBLE)))
               AS r,
           sqrt(CAST(CAST(n AS HUGEINT) * sss - CAST(ss AS HUGEINT) * ss AS DOUBLE))
           / sqrt(CAST(CAST(n AS HUGEINT) * soo - CAST(so AS HUGEINT) * so AS DOUBLE))
               AS alpha,
           CAST(ss AS DOUBLE) / so AS beta,
           1.0 - CAST(sse AS DOUBLE)
             / (CAST(CAST(n AS HUGEINT) * soo - CAST(so AS HUGEINT) * so AS DOUBLE)
                / CAST(n AS DOUBLE)) AS nse
    FROM agg
)
SELECT event_type, n,
       round(r, 6) AS r, round(alpha, 6) AS alpha, round(beta, 6) AS beta,
       round(1.0 - sqrt((r - 1.0) * (r - 1.0)
                        + (alpha - 1.0) * (alpha - 1.0)
                        + (beta - 1.0) * (beta - 1.0)), 6) AS kge,
       round(nse, 6) AS nse
FROM scores
"""


def q_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall trend significance test per series — the
    distribution-free S statistic with tie-corrected variance and the
    normalized Z score, the standard companion to theilsen_trend in
    every climate trend statement ("significant at p<0.05").

    S = Σ sign(y_j − y_i) over day-ordered pairs is a pure integer sum
    from the same bounded pair join as Theil-Sen — computed on the
    trailing TREND_WINDOW_DAYS buckets per series (the cap note above
    _daily_xy_capped), so pair work is window² per series; the tie
    correction aggregates value multiplicities exactly over the same
    window. Floats enter only at Z's division; the verdict thresholds
    at |Z| > 1.96.
    """
    return _mann_kendall_from_xy(_daily_xy_capped(spark, sf_dir))


def _mann_kendall_from_xy(base: DataFrame) -> DataFrame:
    """Mann-Kendall statistic over a (event_type, x, yi) table — split
    out so the cap-engagement property test can drive it with a
    synthetic long series."""
    a = base.select("event_type", F.col("x").alias("xa"), F.col("yi").alias("ya"))
    b = base.select(
        F.col("event_type").alias("et_b"),
        F.col("x").alias("xb"),
        F.col("yi").alias("yb"),
    )
    s_tab = (
        a.join(b, (F.col("event_type") == F.col("et_b")) & (F.col("xb") > F.col("xa")))
        .groupBy("event_type")
        .agg(
            F.sum(F.signum((F.col("yb") - F.col("ya")).cast("double")).cast("bigint"))
            .cast("bigint")
            .alias("s_stat"),
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        )
    )
    ties = (
        base.groupBy("event_type", "yi")
        .agg(F.count(F.lit(1)).cast("bigint").alias("t"))
        .groupBy("event_type")
        .agg(
            F.sum(F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5))
            .cast("bigint")
            .alias("tie_term"),
            F.sum("t").cast("bigint").alias("n"),
        )
    )
    j = s_tab.join(ties, "event_type")
    var_s = (
        (
            F.col("n") * (F.col("n") - 1) * (2 * F.col("n") + 5) - F.col("tie_term")
        ).cast("double")
        / 18.0
    )
    z = (
        F.when(F.col("s_stat") > 0, (F.col("s_stat") - 1).cast("double") / F.sqrt(var_s))
        .when(F.col("s_stat") < 0, (F.col("s_stat") + 1).cast("double") / F.sqrt(var_s))
        .otherwise(F.lit(0.0))
    )
    return j.select(
        "event_type",
        "n",
        "s_stat",
        F.round(var_s, 4).alias("var_s"),
        F.round(z, 6).alias("z"),
        F.when(z > 1.96, "increasing")
        .when(z < -1.96, "decreasing")
        .otherwise("none")
        .alias("trend"),
    )


ETL_QUERIES["mann_kendall"] = q_mann_kendall

ETL_ORACLES["mann_kendall"] = _DAILY_CTE + f"""
, base AS (
    SELECT event_type, CAST({_X_DAY_DUCK} AS BIGINT) AS x,
           CAST(daily_total * 100 AS BIGINT) AS yi
    FROM daily
){_CAPPED_XY_DUCK}, s_tab AS (
    SELECT a.event_type,
           CAST(sum(CAST(sign(CAST(b.yi - a.yi AS DOUBLE)) AS BIGINT)) AS BIGINT)
               AS s_stat
    FROM capped a JOIN capped b
      ON b.event_type = a.event_type AND b.x > a.x
    GROUP BY 1
), ties AS (
    SELECT event_type,
           CAST(sum(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tie_term,
           CAST(sum(t) AS BIGINT) AS n
    FROM (
        SELECT event_type, yi, CAST(count(*) AS BIGINT) AS t
        FROM capped GROUP BY 1, 2
    ) GROUP BY 1
), j AS (
    SELECT s.event_type, s.s_stat, t.n,
           CAST(t.n * (t.n - 1) * (2 * t.n + 5) - t.tie_term AS DOUBLE) / 18.0
               AS var_s
    FROM s_tab s JOIN ties t ON s.event_type = t.event_type
)
SELECT event_type, n, s_stat, round(var_s, 4) AS var_s,
       round(CASE WHEN s_stat > 0 THEN CAST(s_stat - 1 AS DOUBLE) / sqrt(var_s)
                  WHEN s_stat < 0 THEN CAST(s_stat + 1 AS DOUBLE) / sqrt(var_s)
                  ELSE 0.0 END, 6) AS z,
       CASE WHEN CASE WHEN s_stat > 0 THEN CAST(s_stat - 1 AS DOUBLE) / sqrt(var_s)
                      WHEN s_stat < 0 THEN CAST(s_stat + 1 AS DOUBLE) / sqrt(var_s)
                      ELSE 0.0 END > 1.96 THEN 'increasing'
            WHEN CASE WHEN s_stat > 0 THEN CAST(s_stat - 1 AS DOUBLE) / sqrt(var_s)
                      WHEN s_stat < 0 THEN CAST(s_stat + 1 AS DOUBLE) / sqrt(var_s)
                      ELSE 0.0 END < -1.96 THEN 'decreasing'
            ELSE 'none' END AS trend
FROM j
"""


GUMBEL_TS = (10, 50, 100)


def q_gumbel_return_levels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gumbel (EV1) return levels per series by method of moments on
    daily totals: beta = s·√6/π, mu = x̄ − γ·beta, level(T) = mu −
    beta·ln(−ln(1−1/T)) for T in GUMBEL_TS — the fitted-distribution
    counterpart of return_levels_empirical (plotting positions only
    reach T ≈ n; design values at T=100 need the fit; the reference's
    flood products quote exactly these).

    Mean and variance come from the exact integer moments (the
    trend_ols arithmetic); the Gumbel constants are literal doubles, so
    every float expression is engine-identical. One shuffle to the
    series key, then a 3-row explode per series for the T grid.
    """
    base = _daily_xy(spark, sf_dir)
    y19 = F.col("yi").cast("decimal(19,0)")
    agg = base.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("yi").cast("bigint").alias("sy"),
        F.sum(y19 * y19).cast("decimal(38,0)").alias("syy"),
    )
    n38 = F.col("n").cast("decimal(38,0)")
    var_num = (
        n38 * F.col("syy")
        - F.col("sy").cast("decimal(19,0)") * F.col("sy").cast("decimal(19,0)")
    ).cast("double")
    # population variance of yi/100: var_num / n² / 100²
    std = F.sqrt(var_num) / F.col("n").cast("double") / 100.0
    mean = F.col("sy").cast("double") / F.col("n") / 100.0
    beta = std * 0.7796968012336293  # sqrt(6)/pi
    mu = mean - 0.5772156649015329 * beta  # Euler-Mascheroni
    t_rows = agg.select(
        "event_type", "n", mean.alias("_mean"), beta.alias("_beta"), mu.alias("_mu"),
        F.explode(F.array(*[F.lit(t) for t in GUMBEL_TS])).alias("t"),
    )
    level = F.col("_mu") - F.col("_beta") * F.log(-F.log(1.0 - 1.0 / F.col("t")))
    return t_rows.select(
        "event_type",
        "n",
        F.col("t").cast("int").alias("t"),
        F.round("_mean", 4).alias("mean_daily"),
        F.round("_beta", 6).alias("beta"),
        F.round("_mu", 4).alias("mu"),
        F.round(level, 4).alias("return_level"),
    )


ETL_QUERIES["gumbel_return_levels"] = q_gumbel_return_levels

ETL_ORACLES["gumbel_return_levels"] = _DAILY_CTE + f"""
, base AS (
    SELECT event_type, CAST(daily_total * 100 AS BIGINT) AS yi FROM daily
), agg AS (
    SELECT event_type, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(yi) AS BIGINT) AS sy,
           sum(CAST(yi AS HUGEINT) * yi) AS syy
    FROM base GROUP BY 1
), fitted AS (
    SELECT event_type, n,
           CAST(sy AS DOUBLE) / n / 100.0 AS m,
           sqrt(CAST(CAST(n AS HUGEINT) * syy
                     - CAST(sy AS HUGEINT) * sy AS DOUBLE))
             / CAST(n AS DOUBLE) / 100.0 * 0.7796968012336293 AS beta
    FROM agg
)
SELECT f.event_type, f.n, CAST(t.t AS INT) AS t,
       round(f.m, 4) AS mean_daily,
       round(f.beta, 6) AS beta,
       round(f.m - 0.5772156649015329 * f.beta, 4) AS mu,
       round(f.m - 0.5772156649015329 * f.beta
             - f.beta * ln(-ln(1.0 - 1.0 / t.t)), 4) AS return_level
FROM fitted f CROSS JOIN (VALUES {", ".join(f"({t})" for t in GUMBEL_TS)}) t(t)
"""


def q_disaggregate_daily_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mass-preserving temporal disaggregation: spread each (series,
    day) total over 24 hours proportionally to the series' HOURLY
    CLIMATOLOGY (the A5 diurnal profile) — the standard downscaling
    that turns daily products into hourly forcing series
    (data_prep_knmi_evapo_forecast.py consumes exactly such splits).

    Exactness: the hourly share is formed from exact DECIMAL
    climatology sums (share = hour_sum / day_sum as one double
    division), and the disaggregated value is daily_total·share with
    both factors engine-identical. Mass preservation is property-tested
    (Σ hours == daily total to rounding). Shuffles: the climatology
    profile is series x 24 — broadcast; one shuffle builds the daily
    table.
    """
    ev = _events(spark, sf_dir).withColumn("value", F.col("value").cast(VALUE_DEC))
    prof = (
        ev.groupBy(
            "event_type", F.hour("ts").cast("int").alias("hod")
        )
        .agg(F.sum("value").alias("hour_sum"))
    )
    day_tot = prof.groupBy("event_type").agg(F.sum("hour_sum").alias("all_sum"))
    shares = prof.join(day_tot, "event_type").select(
        "event_type", "hod",
        (F.col("hour_sum").cast("double") / F.col("all_sum").cast("double")).alias("share"),
    )
    daily = _daily(spark, sf_dir).select(
        "event_type", F.col("bucket"), "daily_total"
    )
    out = daily.join(F.broadcast(shares), "event_type")
    return out.select(
        "event_type",
        F.col("bucket").alias("day"),
        F.col("hod"),
        F.round(F.col("daily_total").cast("double") * F.col("share"), 4).alias(
            "hourly_value"
        ),
        F.round("share", 6).alias("share"),
    )


ETL_QUERIES["disaggregate_daily_hourly"] = q_disaggregate_daily_hourly

ETL_ORACLES["disaggregate_daily_hourly"] = _DAILY_CTE + """
, prof AS (
    SELECT event_type, CAST(hour(ts) AS INT) AS hod,
           sum(CAST(value AS DECIMAL(14,2))) AS hour_sum
    FROM events GROUP BY 1, 2
), day_tot AS (
    SELECT event_type, sum(hour_sum) AS all_sum FROM prof GROUP BY 1
), shares AS (
    SELECT p.event_type, p.hod,
           CAST(p.hour_sum AS DOUBLE) / CAST(t.all_sum AS DOUBLE) AS share
    FROM prof p JOIN day_tot t ON p.event_type = t.event_type
)
SELECT d.event_type, d.bucket AS day, s.hod,
       round(CAST(d.daily_total AS DOUBLE) * s.share, 4) AS hourly_value,
       round(s.share, 6) AS share
FROM daily d JOIN shares s ON d.event_type = s.event_type
"""


PERIODOGRAM_PS = (7, 14)


def q_periodogram_coarse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Coarse periodogram: spectral power of each series' daily totals
    at candidate periods (7 and 14 days) plus the fraction of total
    variance each explains — the periodicity detector that picks the
    seasonal period BEFORE seasonal_decompose_dow assumes one.

    Power(P) = (Σ y·cos(2πx/P))² + (Σ y·sin(2πx/P))² over the
    mean-centered series. Cross-engine determinism: each cos/sin term
    is rounded then DECIMAL-summed (the js-divergence convention —
    libm's last ulp sits 6 digits below the rounding scale), squares
    and ratios derive from those exact sums. One shuffle to (series,
    period) after a 2-way explode of the tiny daily table.
    """
    import math as _math

    base = _daily_xy(spark, sf_dir)
    stats = base.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("yi").cast("bigint").alias("sy"),
        F.sum(F.col("yi").cast("decimal(19,0)") * F.col("yi").cast("decimal(19,0)"))
        .cast("decimal(38,0)")
        .alias("syy"),
    )
    centered = base.join(F.broadcast(stats), "event_type").select(
        "event_type", "x", "n", "sy", "syy",
        (
            F.col("yi").cast("double") / 100.0
            - F.col("sy").cast("double") / F.col("n") / 100.0
        ).alias("yc"),
        F.explode(F.array(*[F.lit(p) for p in PERIODOGRAM_PS])).alias("p"),
    )
    ang = 2.0 * _math.pi * F.col("x").cast("double") / F.col("p").cast("double")
    agg = centered.groupBy("event_type", "p").agg(
        F.first("n").alias("n"),
        F.first("sy").alias("sy"),
        F.first("syy").alias("syy"),
        F.sum(F.round(F.col("yc") * F.cos(ang), 6).cast("decimal(24,6)")).alias("sc"),
        F.sum(F.round(F.col("yc") * F.sin(ang), 6).cast("decimal(24,6)")).alias("ss"),
    )
    power = (
        F.col("sc").cast("double") * F.col("sc").cast("double")
        + F.col("ss").cast("double") * F.col("ss").cast("double")
    )
    # total sum of squares of the centered series (exact):
    # Σ(y-ȳ)² = (n·Σy² − (Σy)²) / n / 100²
    tss = (
        (
            F.col("n").cast("decimal(38,0)") * F.col("syy")
            - F.col("sy").cast("decimal(19,0)") * F.col("sy").cast("decimal(19,0)")
        ).cast("double")
        / F.col("n").cast("double")
        / 10000.0
    )
    return agg.select(
        "event_type",
        F.col("p").cast("int").alias("p"),
        F.col("n").cast("bigint").alias("n"),
        F.round(power, 4).alias("power"),
        F.round(2.0 * power / (F.col("n").cast("double") * tss), 6).alias(
            "var_fraction"
        ),
    )


ETL_QUERIES["periodogram_coarse"] = q_periodogram_coarse

ETL_ORACLES["periodogram_coarse"] = _DAILY_CTE + f"""
, base AS (
    SELECT event_type, CAST({_X_DAY_DUCK} AS BIGINT) AS x,
           CAST(daily_total * 100 AS BIGINT) AS yi
    FROM daily
), stats AS (
    SELECT event_type, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(yi) AS BIGINT) AS sy,
           sum(CAST(yi AS HUGEINT) * yi) AS syy
    FROM base GROUP BY 1
), centered AS (
    SELECT b.event_type, b.x, s.n, s.sy, s.syy, p.p,
           CAST(b.yi AS DOUBLE) / 100.0
             - CAST(s.sy AS DOUBLE) / s.n / 100.0 AS yc
    FROM base b
    JOIN stats s ON b.event_type = s.event_type
    CROSS JOIN (VALUES {", ".join(f"({p})" for p in PERIODOGRAM_PS)}) p(p)
), agg AS (
    SELECT event_type, p, min(n) AS n, min(sy) AS sy, min(syy) AS syy,
           sum(CAST(round(yc * cos(2.0 * pi() * CAST(x AS DOUBLE)
                                   / CAST(p AS DOUBLE)), 6)
                    AS DECIMAL(24,6))) AS sc,
           sum(CAST(round(yc * sin(2.0 * pi() * CAST(x AS DOUBLE)
                                   / CAST(p AS DOUBLE)), 6)
                    AS DECIMAL(24,6))) AS ss
    FROM centered GROUP BY 1, 2
)
SELECT event_type, CAST(p AS INT) AS p, CAST(n AS BIGINT) AS n,
       round(CAST(sc AS DOUBLE) * CAST(sc AS DOUBLE)
             + CAST(ss AS DOUBLE) * CAST(ss AS DOUBLE), 4) AS power,
       round(2.0 * (CAST(sc AS DOUBLE) * CAST(sc AS DOUBLE)
                    + CAST(ss AS DOUBLE) * CAST(ss AS DOUBLE))
             / (CAST(n AS DOUBLE)
                * (CAST(CAST(n AS HUGEINT) * syy
                        - CAST(sy AS HUGEINT) * sy AS DOUBLE)
                   / CAST(n AS DOUBLE) / 10000.0)), 6) AS var_fraction
FROM agg
"""


# extraterrestrial radiation (Ra, MJ m⁻² day⁻¹) per latitude band —
# Python-computed literals like AW_LAT_BANDS (FAO-56 eq. 21 at a fixed
# representative day-of-year), so both engines embed identical doubles
RA_LAT_BANDS = [
    (
        li,
        round(
            max(
                0.5,  # polar floor: Ra is nonnegative by construction,
                # and a positive floor also keeps PET's sign exact
                # (a negative Ra times sqrt(0) would make -0.0 in one
                # engine and +0.0 in the other — observed, not
                # hypothetical)
                24 * 60 / _math.pi * 0.0820 * 0.985
                * (
                    _math.cos(_math.radians((li - 17.5) * 5.0)) * 0.9025
                    + _math.sin(_math.radians((li - 17.5) * 5.0)) * 0.05
                ),
            ),
            6,
        ),
    )
    for li in range(36)
]


def q_pet_hargreaves(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hargreaves potential evapotranspiration per (lat-band, day):
    PET = 0.0023 · Ra · (Tmean + 17.8) · √(Tmax − Tmin) — the
    temperature-only PET the reference's evapotranspiration chain
    computes when radiation data is missing (ingestor_knmi_evapo.py /
    data_prep_knmi_evapo_forecast.py consume exactly this family;
    values here read the synthetic series as temperature-like).

    Tmean/Tmax/Tmin come from exact DECIMAL/exact-extreme daily
    aggregates per band; Ra is a broadcast 36-row literal table (the
    area_weighted_mean convention — no cross-engine libm trust). The
    PET expression is one identical float chain; negative ranges are
    impossible (max >= min) and zero ranges yield PET 0.
    """
    ev = _events(spark, sf_dir)
    daily = ev.groupBy(
        (F.col("user_id") % 36).cast("int").alias("li"),
        F.col("ts").cast("date").alias("day"),
    ).agg(
        (
            F.sum(F.col("value").cast(VALUE_DEC)).cast("double")
            / F.count(F.lit(1))
        ).alias("t_mean"),
        F.max("value").alias("t_max"),
        F.min("value").alias("t_min"),
        F.count(F.lit(1)).cast("bigint").alias("n_obs"),
    )
    ra = spark.createDataFrame(
        [(li, v) for li, v in RA_LAT_BANDS], "li int, ra double"
    )
    out = daily.join(F.broadcast(ra), "li")
    pet = (
        0.0023
        * F.col("ra")
        * (F.col("t_mean") / 10.0 + 17.8)
        * F.sqrt((F.col("t_max") - F.col("t_min")) / 10.0)
    )
    # t_mean = (2-decimal sum)/count lands EXACTLY on 4-decimal .5
    # boundaries for power-of-two counts (x.xx/8 has 5 decimals), where
    # Spark rounds HALF_UP and DuckDB HALF_EVEN — round at 6 decimals,
    # beyond the value's own precision, so no boundary exists
    return out.select(
        "li", "day", "n_obs",
        F.round("t_mean", 6).alias("t_mean"),
        F.round("t_max", 2).alias("t_max"),
        F.round("t_min", 2).alias("t_min"),
        F.round(pet, 4).alias("pet"),
    )


ETL_QUERIES["pet_hargreaves"] = q_pet_hargreaves


def _pet_oracle_sql() -> str:
    rows = ", ".join(f"({li}, {v})" for li, v in RA_LAT_BANDS)
    return f"""
WITH daily AS (
    SELECT CAST(user_id % 36 AS INT) AS li, CAST(ts AS DATE) AS day,
           CAST(sum(CAST(value AS DECIMAL(14,2))) AS DOUBLE) / count(*) AS t_mean,
           max(value) AS t_max, min(value) AS t_min,
           CAST(count(*) AS BIGINT) AS n_obs
    FROM events GROUP BY 1, 2
), ra(li, ra) AS (SELECT * FROM (VALUES {rows}) t(li, ra))
SELECT d.li, d.day, d.n_obs,
       round(d.t_mean, 6) AS t_mean,
       round(d.t_max, 2) AS t_max,
       round(d.t_min, 2) AS t_min,
       round(0.0023 * r.ra * (d.t_mean / 10.0 + 17.8)
             * sqrt((d.t_max - d.t_min) / 10.0), 4) AS pet
FROM daily d JOIN ra r ON d.li = r.li
"""


ETL_ORACLES["pet_hargreaves"] = _pet_oracle_sql()


WET_THRESHOLD = 50.0


def q_wet_day_markov(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order wet-day Markov chain per series: P01 (dry->wet) and
    P11 (wet->wet) transition probabilities plus the stationary wet
    fraction — THE parameters a stochastic weather generator fits to an
    observed precip series before simulating synthetic forcing (the
    generative counterpart of climate_cdd's descriptive spells).

    Wet = daily total above WET_THRESHOLD x n_obs-independent decimal
    compare; transitions come from one lag over the day index with
    calendar-gap guarding (a missing day breaks the chain rather than
    faking a transition). All counts exact; the three probabilities are
    the only floats.
    """
    from pyspark.sql import Window

    d = _daily(spark, sf_dir).select(
        "event_type",
        F.expr(_X_DAY_SPARK).cast("bigint").alias("x"),
        (F.col("daily_total") > F.lit(WET_THRESHOLD) * F.col("n_obs")).alias("wet"),
        "n_obs",
    )
    w = Window.partitionBy("event_type").orderBy("x")
    t = d.select(
        "event_type", "x", "wet",
        F.lag("wet").over(w).alias("prev_wet"),
        F.lag("x").over(w).alias("prev_x"),
    ).filter(
        F.col("prev_wet").isNotNull() & (F.col("x") - F.col("prev_x") == 1)
    )
    agg = t.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_trans"),
        F.sum(F.when(~F.col("prev_wet"), 1).otherwise(0)).cast("bigint").alias("n_from_dry"),
        F.sum(F.when(~F.col("prev_wet") & F.col("wet"), 1).otherwise(0))
        .cast("bigint").alias("n_dry_wet"),
        F.sum(F.when(F.col("prev_wet"), 1).otherwise(0)).cast("bigint").alias("n_from_wet"),
        F.sum(F.when(F.col("prev_wet") & F.col("wet"), 1).otherwise(0))
        .cast("bigint").alias("n_wet_wet"),
    )
    wet_frac = d.groupBy("event_type").agg(
        F.round(
            F.sum(F.col("wet").cast("int")) / F.count(F.lit(1)).cast("double"), 6
        ).alias("wet_fraction")
    )
    return agg.join(wet_frac, "event_type").select(
        "event_type", "n_trans", "n_from_dry", "n_from_wet",
        F.round(
            F.when(F.col("n_from_dry") > 0,
                   F.col("n_dry_wet") / F.col("n_from_dry").cast("double")),
            6,
        ).alias("p01"),
        F.round(
            F.when(F.col("n_from_wet") > 0,
                   F.col("n_wet_wet") / F.col("n_from_wet").cast("double")),
            6,
        ).alias("p11"),
        "wet_fraction",
    )


ETL_QUERIES["wet_day_markov"] = q_wet_day_markov

ETL_ORACLES["wet_day_markov"] = _DAILY_CTE + f"""
, d AS (
    SELECT event_type, CAST({_X_DAY_DUCK} AS BIGINT) AS x,
           daily_total > {WET_THRESHOLD} * n_obs AS wet
    FROM daily
), t AS (
    SELECT event_type, x, wet,
           lag(wet) OVER (PARTITION BY event_type ORDER BY x) AS prev_wet,
           lag(x) OVER (PARTITION BY event_type ORDER BY x) AS prev_x
    FROM d
), trans AS (
    SELECT * FROM t WHERE prev_wet IS NOT NULL AND x - prev_x = 1
), agg AS (
    SELECT event_type, CAST(count(*) AS BIGINT) AS n_trans,
           CAST(sum(CASE WHEN NOT prev_wet THEN 1 ELSE 0 END) AS BIGINT)
               AS n_from_dry,
           CAST(sum(CASE WHEN NOT prev_wet AND wet THEN 1 ELSE 0 END) AS BIGINT)
               AS n_dry_wet,
           CAST(sum(CASE WHEN prev_wet THEN 1 ELSE 0 END) AS BIGINT)
               AS n_from_wet,
           CAST(sum(CASE WHEN prev_wet AND wet THEN 1 ELSE 0 END) AS BIGINT)
               AS n_wet_wet
    FROM trans GROUP BY 1
), wf AS (
    SELECT event_type,
           round(sum(CASE WHEN wet THEN 1 ELSE 0 END)
                 / CAST(count(*) AS DOUBLE), 6) AS wet_fraction
    FROM d GROUP BY 1
)
SELECT a.event_type, a.n_trans, a.n_from_dry, a.n_from_wet,
       round(CASE WHEN a.n_from_dry > 0
                  THEN a.n_dry_wet / CAST(a.n_from_dry AS DOUBLE) END, 6) AS p01,
       round(CASE WHEN a.n_from_wet > 0
                  THEN a.n_wet_wet / CAST(a.n_from_wet AS DOUBLE) END, 6) AS p11,
       w.wet_fraction
FROM agg a JOIN wf w ON a.event_type = w.event_type
"""


# Re — the reference's day-of-year extraterrestrial-radiation lookup
# (ingestor_knmi_evapo.py:300-303 get_Re reads tab_Re.csv keyed
# "day-month") — embedded as (month, day, value) literals so both
# engines broadcast bit-identical doubles (the RA_LAT_BANDS
# convention). The full 366-entry table (leap 29-2 included) rides
# along even though the testdata spans part of the year.
KNMI_RE_TABLE: list[tuple[int, int, float]] = [
    (1, 1, 1.83), (1, 2, 1.83), (1, 3, 1.83), (1, 4, 1.83), (1, 5, 1.83), (1, 6, 1.83),
    (1, 7, 1.83), (1, 8, 1.83), (1, 9, 2.33), (1, 10, 2.33), (1, 11, 2.33), (1, 12, 2.33),
    (1, 13, 2.33), (1, 14, 2.33), (1, 15, 2.33), (1, 16, 2.33), (1, 17, 2.33), (1, 18, 2.33),
    (1, 19, 2.33), (1, 20, 2.33), (1, 21, 2.33), (1, 22, 2.33), (1, 23, 2.33), (1, 24, 3.35),
    (1, 25, 3.35), (1, 26, 3.35), (1, 27, 3.35), (1, 28, 3.35), (1, 29, 3.35), (1, 30, 3.35),
    (1, 31, 3.35), (2, 1, 3.35), (2, 2, 3.35), (2, 3, 3.35), (2, 4, 3.35), (2, 5, 3.35),
    (2, 6, 3.35), (2, 7, 3.35), (2, 8, 4.74), (2, 9, 4.74), (2, 10, 4.74), (2, 11, 4.74),
    (2, 12, 4.74), (2, 13, 4.74), (2, 14, 4.74), (2, 15, 4.74), (2, 16, 4.74), (2, 17, 4.74),
    (2, 18, 4.74), (2, 19, 4.74), (2, 20, 4.74), (2, 21, 4.74), (2, 22, 4.74), (2, 23, 6.4),
    (2, 24, 6.4), (2, 25, 6.4), (2, 26, 6.4), (2, 27, 6.4), (2, 28, 6.4), (2, 29, 6.4),
    (3, 1, 6.4), (3, 2, 6.4), (3, 3, 6.4), (3, 4, 6.4), (3, 5, 6.4), (3, 6, 6.4),
    (3, 7, 6.4), (3, 8, 8.37), (3, 9, 8.37), (3, 10, 8.37), (3, 11, 8.37), (3, 12, 8.37),
    (3, 13, 8.37), (3, 14, 8.37), (3, 15, 8.37), (3, 16, 8.37), (3, 17, 8.37), (3, 18, 8.37),
    (3, 19, 8.37), (3, 20, 8.37), (3, 21, 8.37), (3, 22, 8.37), (3, 23, 10.7), (3, 24, 10.7),
    (3, 25, 10.7), (3, 26, 10.7), (3, 27, 10.7), (3, 28, 10.7), (3, 29, 10.7), (3, 30, 10.7),
    (3, 31, 10.7), (4, 1, 10.7), (4, 2, 10.7), (4, 3, 10.7), (4, 4, 10.7), (4, 5, 10.7),
    (4, 6, 10.7), (4, 7, 10.7), (4, 8, 13.19), (4, 9, 13.19), (4, 10, 13.19), (4, 11, 13.19),
    (4, 12, 13.19), (4, 13, 13.19), (4, 14, 13.19), (4, 15, 13.19), (4, 16, 13.19), (4, 17, 13.19),
    (4, 18, 13.19), (4, 19, 13.19), (4, 20, 13.19), (4, 21, 13.19), (4, 22, 13.19), (4, 23, 15.51),
    (4, 24, 15.51), (4, 25, 15.51), (4, 26, 15.51), (4, 27, 15.51), (4, 28, 15.51), (4, 29, 15.51),
    (4, 30, 15.51), (5, 1, 15.51), (5, 2, 15.51), (5, 3, 15.51), (5, 4, 15.51), (5, 5, 15.51),
    (5, 6, 15.51), (5, 7, 15.51), (5, 8, 17.41), (5, 9, 17.41), (5, 10, 17.41), (5, 11, 17.41),
    (5, 12, 17.41), (5, 13, 17.41), (5, 14, 17.41), (5, 15, 17.41), (5, 16, 17.41), (5, 17, 17.41),
    (5, 18, 17.41), (5, 19, 17.41), (5, 20, 17.41), (5, 21, 17.41), (5, 22, 17.41), (5, 23, 17.41),
    (5, 24, 18.57), (5, 25, 18.57), (5, 26, 18.57), (5, 27, 18.57), (5, 28, 18.57), (5, 29, 18.57),
    (5, 30, 18.57), (5, 31, 18.57), (6, 1, 18.57), (6, 2, 18.57), (6, 3, 18.57), (6, 4, 18.57),
    (6, 5, 18.57), (6, 6, 18.57), (6, 7, 18.57), (6, 8, 18.75), (6, 9, 18.75), (6, 10, 18.75),
    (6, 11, 18.75), (6, 12, 18.75), (6, 13, 18.75), (6, 14, 18.75), (6, 15, 18.75), (6, 16, 18.75),
    (6, 17, 18.75), (6, 18, 18.75), (6, 19, 18.75), (6, 20, 18.75), (6, 21, 18.75), (6, 22, 18.75),
    (6, 23, 18.75), (6, 24, 18.04), (6, 25, 18.04), (6, 26, 18.04), (6, 27, 18.04), (6, 28, 18.04),
    (6, 29, 18.04), (6, 30, 18.04), (7, 1, 18.04), (7, 2, 18.04), (7, 3, 18.04), (7, 4, 18.04),
    (7, 5, 18.04), (7, 6, 18.04), (7, 7, 18.04), (7, 8, 18.04), (7, 9, 16.99), (7, 10, 16.99),
    (7, 11, 16.99), (7, 12, 16.99), (7, 13, 16.99), (7, 14, 16.99), (7, 15, 16.99), (7, 16, 16.99),
    (7, 17, 16.99), (7, 18, 16.99), (7, 19, 16.99), (7, 20, 16.99), (7, 21, 16.99), (7, 22, 16.99),
    (7, 23, 16.99), (7, 24, 15.96), (7, 25, 15.96), (7, 26, 15.96), (7, 27, 15.96), (7, 28, 15.96),
    (7, 29, 15.96), (7, 30, 15.96), (7, 31, 15.96), (8, 1, 15.96), (8, 2, 15.96), (8, 3, 15.96),
    (8, 4, 15.96), (8, 5, 15.96), (8, 6, 15.96), (8, 7, 15.96), (8, 8, 14.77), (8, 9, 14.77),
    (8, 10, 14.77), (8, 11, 14.77), (8, 12, 14.77), (8, 13, 14.77), (8, 14, 14.77), (8, 15, 14.77),
    (8, 16, 14.77), (8, 17, 14.77), (8, 18, 14.77), (8, 19, 14.77), (8, 20, 14.77), (8, 21, 14.77),
    (8, 22, 14.77), (8, 23, 14.77), (8, 24, 13.04), (8, 25, 13.04), (8, 26, 13.04), (8, 27, 13.04),
    (8, 28, 13.04), (8, 29, 13.04), (8, 30, 13.04), (8, 31, 13.04), (9, 1, 13.04), (9, 2, 13.04),
    (9, 3, 13.04), (9, 4, 13.04), (9, 5, 13.04), (9, 6, 13.04), (9, 7, 13.04), (9, 8, 10.8),
    (9, 9, 10.8), (9, 10, 10.8), (9, 11, 10.8), (9, 12, 10.8), (9, 13, 10.8), (9, 14, 10.8),
    (9, 15, 10.8), (9, 16, 10.8), (9, 17, 10.8), (9, 18, 10.8), (9, 19, 10.8), (9, 20, 10.8),
    (9, 21, 10.8), (9, 22, 10.8), (9, 23, 10.8), (9, 24, 8.41), (9, 25, 8.41), (9, 26, 8.41),
    (9, 27, 8.41), (9, 28, 8.41), (9, 29, 8.41), (9, 30, 8.41), (10, 1, 8.41), (10, 2, 8.41),
    (10, 3, 8.41), (10, 4, 8.41), (10, 5, 8.41), (10, 6, 8.41), (10, 7, 8.41), (10, 8, 8.41),
    (10, 9, 6.17), (10, 10, 6.17), (10, 11, 6.17), (10, 12, 6.17), (10, 13, 6.17), (10, 14, 6.17),
    (10, 15, 6.17), (10, 16, 6.17), (10, 17, 6.17), (10, 18, 6.17), (10, 19, 6.17), (10, 20, 6.17),
    (10, 21, 6.17), (10, 22, 6.17), (10, 23, 6.17), (10, 24, 4.27), (10, 25, 4.27), (10, 26, 4.27),
    (10, 27, 4.27), (10, 28, 4.27), (10, 29, 4.27), (10, 30, 4.27), (10, 31, 4.27), (11, 1, 4.27),
    (11, 2, 4.27), (11, 3, 4.27), (11, 4, 4.27), (11, 5, 4.27), (11, 6, 4.27), (11, 7, 4.27),
    (11, 8, 2.88), (11, 9, 2.88), (11, 10, 2.88), (11, 11, 2.88), (11, 12, 2.88), (11, 13, 2.88),
    (11, 14, 2.88), (11, 15, 2.88), (11, 16, 2.88), (11, 17, 2.88), (11, 18, 2.88), (11, 19, 2.88),
    (11, 20, 2.88), (11, 21, 2.88), (11, 22, 2.88), (11, 23, 2.88), (11, 24, 2.09), (11, 25, 2.09),
    (11, 26, 2.09), (11, 27, 2.09), (11, 28, 2.09), (11, 29, 2.09), (11, 30, 2.09), (12, 1, 2.09),
    (12, 2, 2.09), (12, 3, 2.09), (12, 4, 2.09), (12, 5, 2.09), (12, 6, 2.09), (12, 7, 2.09),
    (12, 8, 2.09), (12, 9, 1.78), (12, 10, 1.78), (12, 11, 1.78), (12, 12, 1.78), (12, 13, 1.78),
    (12, 14, 1.78), (12, 15, 1.78), (12, 16, 1.78), (12, 17, 1.78), (12, 18, 1.78), (12, 19, 1.78),
    (12, 20, 1.78), (12, 21, 1.78), (12, 22, 1.78), (12, 23, 1.78), (12, 24, 1.83), (12, 25, 1.83),
    (12, 26, 1.83), (12, 27, 1.83), (12, 28, 1.83), (12, 29, 1.83), (12, 30, 1.83), (12, 31, 1.83),
]


def _knmi_daily_ta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily mean temperature per series from the even-user sensor
    family, centered into a plausible °C range (2·t_mean − 90 → roughly [−22, 72] on this testdata, with ~1 in 5 days under the −5 °C floor) so the reference's Ta+5 ≤ 0 zero-floor branch is
    actually exercised by the testdata."""
    ev = _events(spark, sf_dir).filter(F.col("user_id") % 2 == 0)
    return ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(
        (
            F.sum(F.col("value").cast(VALUE_DEC)).cast("double")
            / F.count(F.lit(1)) * 2.0 - 90.0
        ).alias("ta"),
        F.count(F.lit(1)).cast("bigint").alias("n_obs"),
    )


_KNMI_TA_DUCK = (
    "SELECT event_type, CAST(ts AS DATE) AS day, "
    "CAST(sum(CAST(value AS DECIMAL(14,2))) AS DOUBLE) / count(*) * 2.0 - 90.0 AS ta, "
    "CAST(count(*) AS BIGINT) AS n_obs "
    "FROM events WHERE user_id % 2 = 0 GROUP BY 1, 2"
)


def _pet_knmi_expr():
    """The reference PET expression, term-for-term
    (ingestor_knmi_evapo.py:305-317 calc_PET): kc·(Re/(λρ))·
    ((Ta+Tadd)/Tscale)·1000 with kc=1, ρ=1000, Tadd=5, Tscale=45,
    λ = 2.501 − 0.002361·Ta, floored to 0 where Ta+Tadd ≤ 0. Pure
    rational arithmetic — no libm — so Spark and an external engine
    produce bit-identical doubles."""
    lam = F.lit(2.501) - F.lit(0.002361) * F.col("ta")
    pet = (
        (F.col("re") / (lam * F.lit(1000.0)))
        * ((F.col("ta") + F.lit(5.0)) / F.lit(45.0))
        * F.lit(1000.0)
    )
    return F.when(F.col("ta") + F.lit(5.0) > 0, pet).otherwise(F.lit(0.0))


_PET_KNMI_DUCK = (
    "CASE WHEN ta + 5.0 > 0 THEN (re / ((2.501 - 0.002361 * ta) * 1000.0)) "
    "* ((ta + 5.0) / 45.0) * 1000.0 ELSE 0.0 END"
)


def q_pet_knmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact reference potential evapotranspiration: the KNMI evapo
    process's calc_PET formula applied per (series, day), with Re from
    the broadcast day-of-year table — the formula whose outputs feed
    the production deficit chain, re-expressed as one projection after
    the daily aggregate (reference: ingestor_knmi_evapo.py:300-317
    get_Re/calc_PET; numpy where → WHEN, scalar Re lookup → broadcast
    (month, day) equi-join)."""
    ta = _knmi_daily_ta(spark, sf_dir)
    re = spark.createDataFrame(
        KNMI_RE_TABLE, "m int, d int, re double"
    )
    out = ta.join(
        F.broadcast(re),
        (F.month("day") == F.col("m")) & (F.dayofmonth("day") == F.col("d")),
    )
    return out.select(
        "event_type", "day", "n_obs",
        F.round("ta", 6).alias("ta"),
        "re",
        F.round(_pet_knmi_expr(), 6).alias("pet"),
    )


ETL_QUERIES["pet_knmi"] = q_pet_knmi


def _pet_knmi_oracle_sql() -> str:
    rows = ", ".join(f"({m}, {d}, {v})" for m, d, v in KNMI_RE_TABLE)
    return f"""
WITH ta_daily AS ({_KNMI_TA_DUCK}),
re_tab AS (SELECT m, d, CAST(re AS DOUBLE) AS re FROM (VALUES {rows}) t(m, d, re))
SELECT event_type, day, n_obs,
       round(ta, 6) AS ta, re,
       round({_PET_KNMI_DUCK}, 6) AS pet
FROM ta_daily JOIN re_tab
  ON month(day) = re_tab.m AND dayofmonth(day) = re_tab.d
"""


ETL_ORACLES["pet_knmi"] = _pet_knmi_oracle_sql()


def q_pet_deficit_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end KNMI process arc: PET → daily deficit → zero-clamped
    running accumulation — the full production chain verified as one
    query (reference: ingestor_knmi_evapo.py:393-416, where p_def =
    PET − precip and each appended day stores max(prev + p_def, 0) via
    calc_p_def / calc_init_p_def).

    The reference's day-at-a-time recursion c_t = max(c_{t-1} + d_t, 0)
    is re-expressed CLOSED-FORM over two window passes:
    c_t = S_t − min(0, running_min(S_t)) with S the running sum of
    deficits — algebraically identical (init day included:
    c_0 = max(d_0, 0)), but embarrassingly parallel per series instead
    of a sequential append loop, and expressible in any SQL engine.
    Precip comes from the odd-user gauge family (p_mean/100, sized so the daily deficit straddles zero and the clamp genuinely engages); a missing
    calendar day chains to the next present day, matching the
    append-only zarr semantics."""
    from pyspark.sql import Window

    ta = _knmi_daily_ta(spark, sf_dir)
    re = spark.createDataFrame(KNMI_RE_TABLE, "m int, d int, re double")
    pet = ta.join(
        F.broadcast(re),
        (F.month("day") == F.col("m")) & (F.dayofmonth("day") == F.col("d")),
    ).select("event_type", "day", _pet_knmi_expr().alias("pet"))
    precip = (
        _events(spark, sf_dir)
        .filter(F.col("user_id") % 2 == 1)
        .groupBy("event_type", F.col("ts").cast("date").alias("day"))
        .agg(
            (
                F.sum(F.col("value").cast(VALUE_DEC)).cast("double")
                / F.count(F.lit(1)) / 100.0
            ).alias("p")
        )
    )
    d = pet.join(precip, ["event_type", "day"]).select(
        "event_type", "day", (F.col("pet") - F.col("p")).alias("p_def")
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    with_s = d.select(
        "event_type", "day", "p_def", F.sum("p_def").over(w).alias("s")
    )
    out = with_s.withColumn("s_min", F.min("s").over(w))
    return out.select(
        "event_type", "day",
        F.round("p_def", 6).alias("p_def"),
        F.round(F.col("s") - F.least(F.col("s_min"), F.lit(0.0)), 6).alias("cum_deficit"),
    )


ETL_QUERIES["pet_deficit_chain"] = q_pet_deficit_chain


def _pet_deficit_oracle_sql() -> str:
    rows = ", ".join(f"({m}, {d}, {v})" for m, d, v in KNMI_RE_TABLE)
    return f"""
WITH ta_daily AS ({_KNMI_TA_DUCK}),
re_tab AS (SELECT m, d, CAST(re AS DOUBLE) AS re FROM (VALUES {rows}) t(m, d, re)),
pet AS (
    SELECT event_type, day, {_PET_KNMI_DUCK} AS pet
    FROM ta_daily JOIN re_tab
      ON month(day) = re_tab.m AND dayofmonth(day) = re_tab.d
),
precip AS (
    SELECT event_type, CAST(ts AS DATE) AS day,
           CAST(sum(CAST(value AS DECIMAL(14,2))) AS DOUBLE) / count(*) / 100.0 AS p
    FROM events WHERE user_id % 2 = 1 GROUP BY 1, 2
),
d AS (
    SELECT pet.event_type, pet.day, pet.pet - precip.p AS p_def
    FROM pet JOIN precip ON pet.event_type = precip.event_type AND pet.day = precip.day
),
win1 AS (
    SELECT event_type, day, p_def,
           sum(p_def) OVER (PARTITION BY event_type ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s
    FROM d
),
win AS (
    SELECT event_type, day, p_def, s,
           min(s) OVER (PARTITION BY event_type ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s_min
    FROM win1
)
SELECT event_type, day, round(p_def, 6) AS p_def,
       round(s - least(s_min, 0.0), 6) AS cum_deficit
FROM win
"""


ETL_ORACLES["pet_deficit_chain"] = _pet_deficit_oracle_sql()


ISO_LEVELS = [50.0, 100.0, 125.0, 150.0, 175.0, 200.0]
ISO_BITS = 6  # 64x64 grid


def _iso_labeled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Region-labeled isoband raster (x, y, band, n_pts, region) as a
    verify-once shared artifact: quantize+aggregate the facts into the
    cell raster, classify bands, dissolve via the two-pass CCL, and
    ``localCheckpoint`` the labeled result once per (session, corpus).
    Lives in the queries_llm artifact registry (same eviction/release
    contract as shared_dup_components / the words checkpoint: re-fetch
    per use, corpus switch evicts, finalize_job releases). The
    dissolve's interior fixpoint checkpoints are freed as soon as this
    artifact materializes — only the labeled raster's blocks stay."""
    from pygeoapi_ingestor_spark.operators import spatial
    from pygeoapi_ingestor_spark.plans import queries_llm as qllm

    key = ("iso", spark.sparkContext.applicationId, sf_dir)
    hit = qllm._VP_ARTIFACTS.get(key)
    if hit is not None:
        return hit
    with qllm._ART_LOCK:  # double-checked (ADVICE r12): one build ever
        hit = qllm._VP_ARTIFACTS.get(key)
        if hit is not None:
            return hit
        return _build_iso_labeled(spark, sf_dir, key, qllm)


def _build_iso_labeled(spark, sf_dir, key, qllm) -> DataFrame:
    from pygeoapi_ingestor_spark.operators import spatial

    for k in [k for k in qllm._VP_ARTIFACTS if k[1:] != key[1:]]:
        qllm._free_local_ckpt(qllm._VP_ARTIFACTS.pop(k))
    scale = (1 << ISO_BITS) - 1
    ev = _events(spark, sf_dir)
    pts = ev.select(
        ((F.col("event_id") % 5760) / F.lit(16.0) - F.lit(180.0)).alias("lon"),
        ((F.col("user_id") % 2880) / F.lit(16.0) - F.lit(90.0)).alias("lat"),
        F.col("value"),
    )
    x = F.round(
        (F.greatest(F.lit(-180.0), F.least(F.lit(180.0), F.col("lon"))) + 180.0)
        / 360.0 * scale, 0,
    ).cast("long")
    y = F.round(
        (F.greatest(F.lit(-90.0), F.least(F.lit(90.0), F.col("lat"))) + 90.0)
        / 180.0 * scale, 0,
    ).cast("long")
    cells = pts.groupBy(x.alias("x"), y.alias("y")).agg(
        (
            F.sum(F.col("value").cast(VALUE_DEC)).cast("double")
            / F.count(F.lit(1))
        ).alias("v"),
        F.count(F.lit(1)).cast("bigint").alias("n_pts"),
    ).withColumn("band", spatial.band_classify(F.col("v"), ISO_LEVELS))
    regions = spatial.dissolve_regions(
        cells, x_col="x", y_col="y", band_col="band", width=scale + 1
    ).select("x", "y", "band", "n_pts", "region")
    ckpt = regions.localCheckpoint()  # eager: fixpoint runs once here
    # the dissolve's comp checkpoints are now dead weight — free them
    # (leaf-walk of the superseded lazy plan), keep only the artifact
    qllm._free_local_ckpt(regions)
    qllm._VP_ARTIFACTS[key] = ckpt
    return ckpt


def q_isoband_regions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isoband (contour polygon) extraction, Spark-native: classify
    each raster cell into a fixed-level band, then dissolve same-band
    4-adjacent cells into labeled regions with a cell count and bbox —
    the tabular form of the polygons the reference publishes from
    ``gdal_contour -p -amin lvlmin -amax lvlmax -fl 50 100 125 150 175
    200`` (ingestor_knmi_evapo.py:454-457) to PostGIS for the evapo
    map layer.

    Pipeline: one quantization + aggregate builds the cell raster
    (exact DECIMAL means, the morton_cells lattice), band index is a
    sum of >=-comparisons (engine-exact), the dissolve is two shifted
    equi-joins + min-label propagation (operators/spatial.py
    dissolve_regions reusing the dedup connected-components kernel).
    Cells ≪ points, so every iterative round runs on the coarsened
    raster, not the fact table. region_id = smallest cell id in the
    region (deterministic); bbox edges come straight off the integer
    grid (x·360/63 − 180 exact double chain in both engines).

    The LABELED raster is a verify-once shared artifact (r12, the
    dedup_components precedent): the CCL fixpoint runs eagerly at
    build, so a non-shared shape re-ran the whole dissolve per
    invocation (r11 BENCH_FULL: warm 11.5s ≈ cold at sf0.1). In
    production the polygonize runs once per dataset snapshot and the
    region table is served repeatedly — _iso_labeled models exactly
    that: built once per (session, corpus), released by
    ``scheduler.finalize_job``, honest cold cost visible in the
    headline_stable series (which releases artifacts around each rep).
    """
    scale = (1 << ISO_BITS) - 1
    regions = _iso_labeled(spark, sf_dir)
    lon_of = lambda c: F.col(c).cast("double") * 360.0 / scale - 180.0  # noqa: E731
    lat_of = lambda c: F.col(c).cast("double") * 180.0 / scale - 90.0  # noqa: E731
    return regions.groupBy(
        F.col("band").cast("int").alias("band"),
        F.col("region").alias("region_id"),
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_cells"),
        F.sum("n_pts").cast("bigint").alias("n_points"),
        F.min("x").alias("x_min"), F.max("x").alias("x_max"),
        F.min("y").alias("y_min"), F.max("y").alias("y_max"),
    ).select(
        "band", "region_id", "n_cells", "n_points",
        F.round(lon_of("x_min"), 6).alias("bbox_w"),
        F.round(lat_of("y_min"), 6).alias("bbox_s"),
        F.round(lon_of("x_max"), 6).alias("bbox_e"),
        F.round(lat_of("y_max"), 6).alias("bbox_n"),
    )


ETL_QUERIES["isoband_regions"] = q_isoband_regions


def _isoband_oracle_sql() -> str:
    scale = (1 << ISO_BITS) - 1
    band = " + ".join(f"CAST(v >= {lv} AS INT)" for lv in ISO_LEVELS)
    return f"""
WITH RECURSIVE pts AS (
    SELECT (event_id % 5760) / 16.0 - 180.0 AS lon,
           (user_id % 2880) / 16.0 - 90.0 AS lat,
           value
    FROM events
), q AS (
    SELECT CAST(round((greatest(-180.0, least(180.0, lon)) + 180.0)
                      / 360.0 * {scale}, 0) AS BIGINT) AS x,
           CAST(round((greatest(-90.0, least(90.0, lat)) + 90.0)
                      / 180.0 * {scale}, 0) AS BIGINT) AS y,
           value
    FROM pts
), cells AS (
    SELECT x, y, y * {scale + 1} + x AS node,
           CAST(sum(CAST(value AS DECIMAL(14,2))) AS DOUBLE) / count(*) AS v,
           CAST(count(*) AS BIGINT) AS n_pts
    FROM q GROUP BY x, y
), banded AS (
    SELECT x, y, node, n_pts, {band} AS band FROM cells
), edges AS (
    SELECT a.node AS a, b.node AS b
    FROM banded a JOIN banded b
      ON b.x = a.x + 1 AND b.y = a.y AND b.band = a.band
    UNION ALL
    SELECT a.node, b.node
    FROM banded a JOIN banded b
      ON b.x = a.x AND b.y = a.y + 1 AND b.band = a.band
), sym AS (
    SELECT a, b FROM edges UNION SELECT b, a FROM edges
), reach(node, lbl) AS (
    SELECT node, node FROM banded
    UNION
    SELECT s.a, r.lbl FROM reach r JOIN sym s ON s.b = r.node
), comp AS (
    SELECT node, min(lbl) AS region FROM reach GROUP BY node
)
SELECT CAST(band AS INT) AS band, region AS region_id,
       CAST(count(*) AS BIGINT) AS n_cells,
       CAST(sum(n_pts) AS BIGINT) AS n_points,
       round(CAST(min(x) AS DOUBLE) * 360.0 / {scale} - 180.0, 6) AS bbox_w,
       round(CAST(min(y) AS DOUBLE) * 180.0 / {scale} - 90.0, 6) AS bbox_s,
       round(CAST(max(x) AS DOUBLE) * 360.0 / {scale} - 180.0, 6) AS bbox_e,
       round(CAST(max(y) AS DOUBLE) * 180.0 / {scale} - 90.0, 6) AS bbox_n
FROM banded JOIN comp USING (node)
GROUP BY band, region
"""


ETL_ORACLES["isoband_regions"] = _isoband_oracle_sql()


DANGER_COLORS = [
    "darkblue", "blue", "green", "yellow", "orange", "red", "darkred",
]


def q_danger_levels_weekly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end danger-level feed — the composed form of the
    reference's rijnland process (ll_nl_danger_levels.py:68-121):
    masked-region daily series → Sunday-END weekly max → ISO week /
    month numbers per Sunday label → the exact 7-color ladder at the
    isoband levels [50,100,125,150,175,200] ('darkblue'…'darkred',
    categorize() verbatim).

    The region mask (reference: cells where mask == 666) maps to the
    station family user_id % 7 == 3; the weekly metric is 2.5 × the
    weekly max of exact-DECIMAL daily means — the pet_knmi unit-mapping
    convention, sized so several ladder rungs are live on the
    testdata. Every step is zone-free date arithmetic (weekday/
    date_add on the wall date), so the feed matches the oracle under
    any session timezone."""
    from pygeoapi_ingestor_spark.operators import spatial

    ev = _events(spark, sf_dir).filter(F.col("user_id") % 7 == 3)
    daily = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(
        (
            F.sum(F.col("value").cast(VALUE_DEC)).cast("double")
            / F.count(F.lit(1))
        ).alias("t_mean")
    )
    week_end = F.date_add(
        F.date_sub(F.col("day"), F.weekday(F.col("day"))), 6
    )
    weekly = daily.groupBy(
        "event_type", week_end.alias("week_end")
    ).agg((F.max("t_mean") * 2.5).alias("deficit"))
    band = spatial.band_classify(F.col("deficit"), ISO_LEVELS)
    colors = F.array(*[F.lit(c) for c in DANGER_COLORS])
    return weekly.select(
        "event_type", "week_end",
        F.weekofyear("week_end").cast("int").alias("iso_week"),
        F.month("week_end").cast("int").alias("month_no"),
        F.round("deficit", 6).alias("deficit"),
        F.element_at(colors, band + 1).alias("color"),
    )


ETL_QUERIES["danger_levels_weekly"] = q_danger_levels_weekly


def _danger_oracle_sql() -> str:
    ladder = " ".join(
        f"WHEN deficit >= {lv} THEN '{DANGER_COLORS[i + 1]}'"
        for i, lv in reversed(list(enumerate(ISO_LEVELS)))
    )
    return f"""
WITH d AS (
    SELECT event_type, CAST(ts AS DATE) AS day,
           CAST(sum(CAST(value AS DECIMAL(14,2))) AS DOUBLE) / count(*) AS t_mean
    FROM events WHERE user_id % 7 = 3 GROUP BY 1, 2
), w AS (
    SELECT event_type, CAST(date_trunc('week', day) AS DATE) + 6 AS week_end,
           max(t_mean) * 2.5 AS deficit
    FROM d GROUP BY 1, 2
)
SELECT event_type, week_end,
       CAST(weekofyear(week_end) AS INT) AS iso_week,
       CAST(month(week_end) AS INT) AS month_no,
       round(deficit, 6) AS deficit,
       CASE {ladder} ELSE '{DANGER_COLORS[0]}' END AS color
FROM w
"""


ETL_ORACLES["danger_levels_weekly"] = _danger_oracle_sql()


# The ARPAE river-discharge rating table, verbatim (H stage (m) -> Q
# discharge (m**3/s); reference: rer_river_discharge_arpae_process.py
# :325-457 portata_lineare) — embedded as literals like pet_knmi's Re
# table so both engines interpolate over bit-identical doubles.
# NOTE: the pair (2.55, 738.8) breaks monotonicity (589.2 @ 2.5,
# 637.8 @ 2.6) IN THE REFERENCE ITSELF — almost certainly a typo for
# ~613.8, but exact parity means reproducing the table as published,
# anomaly included; do not "fix" it here.
ARPAE_RATING: list[tuple[float, float]] = [
    (0.0, 0.0), (0.03, 0.49), (0.05, 1.41), (0.06, 1.72),
    (0.09, 3.59), (0.1, 4.38), (0.15, 9.85), (0.2, 16.0),
    (0.25, 22.8), (0.3, 30.1), (0.35, 37.7), (0.4, 45.6),
    (0.45, 53.7), (0.5, 61.9), (0.55, 70.3), (0.6, 79.0),
    (0.65, 87.8), (0.7, 96.8), (0.75, 106.0), (0.8, 115.0),
    (0.85, 125.0), (0.9, 134.0), (0.95, 144.0), (1.0, 153.0),
    (1.05, 163.0), (1.1, 172.0), (1.15, 182.0), (1.2, 192.0),
    (1.25, 202.0), (1.3, 213.0), (1.31, 215.0), (1.36, 239.0),
    (1.44, 258.0), (1.52, 277.0), (1.6, 296.0), (1.66, 312.0),
    (1.68, 326.0), (1.73, 341.0), (1.85, 363.0), (1.95, 392.0),
    (2.03, 417.0), (2.1, 437.3), (2.15, 453.3), (2.2, 470.0),
    (2.25, 487.4), (2.3, 505.8), (2.35, 525.1), (2.4, 545.4),
    (2.45, 566.7), (2.5, 589.2), (2.55, 738.8), (2.6, 637.8),
    (2.65, 664.0), (2.7, 691.6), (2.75, 720.7), (2.78, 739.0),
]


def q_river_discharge_arpae(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact reference stage→discharge conversion: piecewise-linear
    interpolation over the verbatim 56-point ARPAE rating table with
    the reference's CLAMPED edge semantics (h ≤ H[0] → Q[0], h ≥ H[-1]
    → Q[-1]; rer_river_discharge_arpae_process.py:444-457) — unlike
    rating_curve_interp's NULL-outside-range synthetic curve. The
    whole table compiles into one chained CASE projection (no join, no
    shuffle; codegen evaluates it inside the scan) — the 100 TB path
    for fixed rating tables. Stage h = value/100 m, spanning both
    clamps and the interior segments on the testdata."""
    ev = _events(spark, sf_dir)
    h = (F.col("value") / 100.0).alias("h")
    out = ev.select("event_id", h).withColumn(
        "discharge",
        curves.interpolate_points_expr(ARPAE_RATING, "h", clamp_edges=True),
    )
    return out.select(
        "event_id",
        F.round("h", 6).alias("h"),
        F.round("discharge", 6).alias("discharge"),
    )


ETL_QUERIES["river_discharge_arpae"] = q_river_discharge_arpae


def _arpae_oracle_sql() -> str:
    pts = sorted(ARPAE_RATING)
    cases = " ".join(
        "WHEN h >= " + repr(x0) + " AND h < " + repr(x1) + " THEN "
        + repr(y0) + " + (" + repr(y1) + " - " + repr(y0) + ") * (h - "
        + repr(x0) + ") / (" + repr(x1) + " - " + repr(x0) + ")"
        for (x0, y0), (x1, y1) in zip(pts, pts[1:])
    )
    return (
        "WITH src AS (SELECT event_id, value / 100.0 AS h FROM events)\n"
        "SELECT event_id, round(h, 6) AS h,\n"
        "       round(CASE WHEN h <= " + repr(pts[0][0]) + " THEN " + repr(pts[0][1]) + "\n"
        "                  WHEN h >= " + repr(pts[-1][0]) + " THEN " + repr(pts[-1][1]) + "\n"
        "                  " + cases + " END, 6) AS discharge\n"
        "FROM src"
    )


ETL_ORACLES["river_discharge_arpae"] = _arpae_oracle_sql()


# ---------------------------------------------------------------------------
# Parametric (gamma/normal) quantile mapping — the Georgia seasonal
# bias correction (georgia_cds_bias_correction_process.py:346-461).
#
# Stored distribution parameters: the reference loads per-(initmonth,
# leadtime, lat, lon, variable) fitted params from the
# bias_correction_{forecast,observed}_{gamma,normal}.csv artifacts.
# These tables are the deterministic public stand-in, keyed by
# (leadtime, station): leadtime plays the reference's ilead month
# index (masked to < 6, line 355-359), station the (lat, lon) cell.
# Values are Python floats so Spark and the oracle embed identical
# literals (the CORRECTION_CURVES convention).
QM_NORMAL_PARAMS = [
    (
        lead,
        st,
        -225.0 + 2.0 * lead + st,     # fc_mean  (of value - 273.15)
        55.0 + 1.0 * lead + 0.5 * st,  # fc_std
        -220.0 + 1.5 * lead + st,     # obs_mean
        50.0 + 1.0 * lead + 0.5 * st,  # obs_std
    )
    for lead in range(6)
    for st in range(5)
]

QM_GAMMA_PARAMS = [
    (
        lead,
        st,
        1.0 + 0.1 * lead + 0.05 * st,   # fc_alpha
        45.0 + 2.0 * lead + st,         # fc_scale
        0.9 + 0.08 * lead + 0.04 * st,  # obs_alpha
        50.0 + 1.5 * lead + st,         # obs_scale
    )
    for lead in range(6)
    for st in range(5)
]

# tp leg params: the preprocess is diff(time) * 1000 (cumulative m ->
# daily mm), so daily values span roughly +-5e5; the gamma scales are
# sized for that magnitude.
QM_TP_PARAMS = [
    (
        lead,
        st,
        1.1 + 0.08 * lead + 0.05 * st,        # fc_alpha
        50000.0 + 1500.0 * lead + 800.0 * st,  # fc_scale
        1.0 + 0.06 * lead + 0.04 * st,        # obs_alpha
        52000.0 + 1200.0 * lead + 900.0 * st,  # obs_scale
    )
    for lead in range(6)
    for st in range(5)
]

_QM_KEY_SCHEMA_N = (
    "leadtime int, station int, fc_mean double, fc_std double, "
    "obs_mean double, obs_std double"
)
_QM_KEY_SCHEMA_G = (
    "leadtime int, station int, fc_alpha double, fc_scale double, "
    "obs_alpha double, obs_scale double"
)


def _qm_fact(ev: DataFrame, value_expr, value_name: str) -> DataFrame:
    """(leadtime, station) keying shared by the three parametric-QM
    queries: leadtime = (day-of-month - 1) % 8 with the reference's
    six-lead mask applied (georgia_cds_bias_correction_process.py:
    355-359 keeps only forecasts < 6 months from the reference time),
    station = user_id % 5."""
    return ev.select(
        "event_id",
        ((F.dayofmonth("ts") - 1) % 8).cast("int").alias("leadtime"),
        (F.col("user_id") % 5).cast("int").alias("station"),
        value_expr.alias(value_name),
    ).filter(F.col("leadtime") < 6)


def q_bias_correction_parametric(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NORMAL leg (tmn/tmx): Kelvin->Celsius preprocess (line 375), then
    the stored-params correction rvo.ppf(rv.cdf(x)) with both sides
    normal — the closed-form affine obs_mean + obs_std*(x-fc_mean)/fc_std
    (see correction.parametric_normal_map). One broadcast join + one
    codegen projection; hash-oracled end to end."""
    ev = _events(spark, sf_dir)
    fact = _qm_fact(ev, F.col("value") - 273.15, "value_c")
    params = spark.createDataFrame(QM_NORMAL_PARAMS, _QM_KEY_SCHEMA_N)
    out = correction.parametric_normal_map(
        fact, params, ["leadtime", "station"], "value_c"
    )
    return out.select(
        "event_id", "leadtime", "station",
        F.round("value_c", 6).alias("value_c"),
        F.round("value_bc", 6).alias("value_bc"),
    )


def q_bias_correction_parametric_gamma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GAMMA leg (tp): stored-params correction with both sides gamma —
    obs_scale * P^-1(obs_alpha, P(fc_alpha, x/fc_scale)) via the
    scipy-free incomplete-gamma kernels (rows-only: DuckDB has no
    incomplete gamma; property-tested like the SPI family)."""
    ev = _events(spark, sf_dir)
    fact = _qm_fact(ev, F.col("value"), "value")
    params = spark.createDataFrame(QM_GAMMA_PARAMS, _QM_KEY_SCHEMA_G)
    out = correction.parametric_gamma_map(
        fact, params, ["leadtime", "station"], "value"
    )
    return out.select(
        "event_id", "leadtime", "station", "value",
        F.round("value_bc", 6).alias("value_bc"),
    )


def q_bias_correction_parametric_tp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed tp arc: diff(time)*1000 preprocess (cumulative total
    precipitation in m -> daily mm, line 364), gamma-gamma correction,
    inf->nan post_process (line 374). Negative diffs (the raw field is
    not monotone) hit CDF 0 -> bc 0 — the implicit negative clamp.
    Rows-only (gamma kernels), with the lag-diff window partitioned per
    (event_type, user_id) series so the preprocess shuffle is bounded by
    series cardinality."""
    from pyspark.sql import Window

    ev = _events(spark, sf_dir)
    w = Window.partitionBy("event_type", "user_id").orderBy("ts", "event_id")
    daily = (
        ev.withColumn("_prev", F.lag("value").over(w))
        .filter(F.col("_prev").isNotNull())
        .withColumn("daily_mm", (F.col("value") - F.col("_prev")) * 1000.0)
    )
    fact = _qm_fact(daily, F.col("daily_mm"), "daily_mm")
    params = spark.createDataFrame(QM_TP_PARAMS, _QM_KEY_SCHEMA_G)
    out = correction.parametric_gamma_map(
        fact, params, ["leadtime", "station"], "daily_mm"
    )
    return out.select(
        "event_id", "leadtime", "station",
        F.round("daily_mm", 4).alias("daily_mm"),
        F.round("value_bc", 6).alias("value_bc"),
    )


ETL_QUERIES["bias_correction_parametric"] = q_bias_correction_parametric
ETL_QUERIES["bias_correction_parametric_gamma"] = q_bias_correction_parametric_gamma
ETL_QUERIES["bias_correction_parametric_tp"] = q_bias_correction_parametric_tp

ETL_ORACLES["bias_correction_parametric"] = f"""
    WITH params(leadtime, station, fc_mean, fc_std, obs_mean, obs_std) AS (VALUES
        {", ".join(f"({le}, {st}, {fm!r}, {fs!r}, {om!r}, {os_!r})"
                   for le, st, fm, fs, om, os_ in QM_NORMAL_PARAMS)}),
    fact AS (
        SELECT event_id, CAST((day(ts) - 1) % 8 AS INTEGER) AS leadtime,
               CAST(user_id % 5 AS INTEGER) AS station,
               value - 273.15 AS value_c
        FROM events
    )
    SELECT f.event_id, f.leadtime, f.station,
           round(f.value_c, 6) AS value_c,
           round(p.obs_mean + p.obs_std * ((f.value_c - p.fc_mean) / p.fc_std), 6)
               AS value_bc
    FROM fact f JOIN params p USING (leadtime, station)
    WHERE f.leadtime < 6
"""


def q_skew_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A21 skew utilities on the hash gate (r8 verdict item 7): the
    two-phase salted aggregation from functions/skew.py — partial
    aggregate over (key, salt) so a hot key fans out over n_salts
    reducers, then an algebraic merge on the key. Because every partial
    is algebraic, the merged result must be IDENTICAL to a direct
    groupBy — which is exactly what the oracle computes, so hash
    equality certifies salt-invariance of the whole construction, not
    just that it ran. Sums run in DECIMAL per the module convention
    (order-independent in both engines); the salt itself
    (xxhash64 + monotonically_increasing_id) never reaches the output.

    Reference parity: the reference aggregates station series with no
    skew handling at all (single-node xarray); the salt path is what
    the same rollup needs when one station dominates a 100 TB feed.
    """
    from pygeoapi_ingestor_spark.functions import skew

    ev = _events(spark, sf_dir).select(
        "event_type",
        "value",
        F.col("value").cast(VALUE_DEC).alias("_vdec"),
    )
    out = skew.salted_agg(
        ev,
        key_cols=["event_type"],
        aggs={
            "n_values": ("count", "value"),
            "sum_value": ("sum", "_vdec"),
            "min_value": ("min", "value"),
            "max_value": ("max", "value"),
        },
        n_salts=16,
    )
    return out.select(
        "event_type",
        "n_values",
        F.col("sum_value").cast("double").alias("sum_value"),
        "min_value",
        "max_value",
    )


ETL_QUERIES["skew_salted_agg"] = q_skew_salted_agg

ETL_ORACLES["skew_salted_agg"] = """
    SELECT event_type,
           count(value) AS n_values,
           CAST(SUM(CAST(value AS DECIMAL(14,2))) AS DOUBLE) AS sum_value,
           min(value) AS min_value,
           max(value) AS max_value
    FROM events
    GROUP BY event_type
"""
