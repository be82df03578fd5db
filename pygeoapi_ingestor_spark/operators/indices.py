"""Climate indices: climatology, anomaly (z-score SPI variant), and the
full gamma-fit SPI.

Reference semantics: utils_spi.py:428-478 (``compute_timeseries_spi``) —
per-pixel gamma fit over a reference period, zero-corrected CDF, normal
quantile transform. Our data model is tabular: a "pixel" is a series key
(``event_type``), monthly totals come from ``temporal.resample``.

Scale design: the gamma fit is per-series over at most a few hundred
monthly totals, so ``applyInPandas`` groups are tiny and the shuffle is
bounded by series cardinality. Climatology/anomaly stay fully in
whole-stage codegen.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from pygeoapi_ingestor_spark.functions.numerics import spi_from_series


_CYCLES = {"month": F.month, "hour": F.hour, "dayofweek": F.dayofweek, "day": F.dayofmonth}


def climatology(
    monthly: DataFrame,
    series_cols: list[str],
    bucket_col: str,
    value_col: str,
    cycle: str = "month",
    exact_decimal: str | None = None,
) -> DataFrame:
    """Per (series, cycle position) mean/std over the reference window —
    month-of-year for seasonal climatology, hour-of-day for diurnal.

    Output is O(series x cycle length) — always broadcastable back to the
    fact side.

    ``exact_decimal`` (e.g. "decimal(14,2)" for 2-decimal data): compute
    mean and std from EXACT decimal sums (two-pass formula
    sqrt((Σx² − (Σx)²/n)/(n−1))) instead of the engines' streaming
    double aggregates, whose partial-merge order — and therefore last
    ulp — is nondeterministic under parallelism. With exact sums both
    Spark and any SQL oracle evaluate the identical double expression.
    """
    cycle_fn = _CYCLES[cycle]
    grouped = monthly.groupBy(
        *series_cols, cycle_fn(bucket_col).cast("int").alias("cycle_key")
    )
    if exact_decimal is None:
        return grouped.agg(
            F.avg(value_col).alias("clim_mean"),
            F.stddev_samp(value_col).alias("clim_std"),
            F.count(F.lit(1)).cast("bigint").alias("clim_n"),
        )
    x = F.col(value_col).cast(exact_decimal)
    agg = grouped.agg(
        F.sum(x).cast("double").alias("_sx"),
        F.sum(x * x).cast("double").alias("_sxx"),
        F.count(F.lit(1)).cast("bigint").alias("clim_n"),
    )
    n = F.col("clim_n")
    mean = F.col("_sx") / n
    std = F.sqrt(
        (F.col("_sxx") - F.col("_sx") * F.col("_sx") / n) / (n - F.lit(1))
    )
    return agg.select(
        *series_cols, "cycle_key",
        mean.alias("clim_mean"),
        F.when(n > 1, std).alias("clim_std"),
        "clim_n",
    )


def anomaly(
    monthly: DataFrame,
    clim: DataFrame,
    series_cols: list[str],
    bucket_col: str,
    value_col: str,
    cycle: str = "month",
) -> DataFrame:
    """Standardized anomaly (x - clim_mean) / clim_std — the z-score SPI
    variant. Climatology side is broadcast (O(series x cycle))."""
    cycle_fn = _CYCLES[cycle]
    # left join: rows whose (series, cycle) is absent from the reference
    # climatology keep flowing with a NULL zscore instead of vanishing
    joined = monthly.withColumn(
        "cycle_key", cycle_fn(bucket_col).cast("int")
    ).join(F.broadcast(clim), [*series_cols, "cycle_key"], "left")
    return joined.withColumn(
        "zscore",
        F.when(
            F.col("clim_std") > 0,
            (F.col(value_col) - F.col("clim_mean")) / F.col("clim_std"),
        ),
    )


def normal_ppf_expr(p):
    """Abramowitz & Stegun 26.2.23 standard-normal quantile as a column
    expression (the same public formula the reference applies,
    utils_spi.py:462-474) — keeps the transform JVM-side."""
    lower = p <= 0.5
    q = F.when(lower, p).otherwise(1.0 - p)
    t = F.sqrt(F.log(1.0 / (q * q)))
    c0, c1, c2 = 2.515517, 0.802853, 0.010328
    d1, d2, d3 = 1.432788, 0.189269, 0.001308
    z = t - (c0 + c1 * t + c2 * t * t) / (1.0 + d1 * t + d2 * t * t + d3 * t * t * t)
    return F.when(lower, -z).otherwise(z)


def spi_empirical(
    monthly: DataFrame,
    series_cols: list[str],
    bucket_col: str,
    value_col: str,
) -> DataFrame:
    """Nonparametric SPI: Gringorten plotting-position probability
    H = (rank - 0.44) / (n + 0.12) per series, then the A&S normal
    quantile — the distribution-free variant of the gamma SPI, no UDF.

    The rank comes from ``ranks.bucketed_rank`` (value-range buckets +
    offset exchange), so the sort is partitioned by (series, bucket) and
    a low-cardinality series key — e.g. one series per variable — cannot
    collapse the whole table into one sorted task."""
    from pygeoapi_ingestor_spark.functions.ranks import bucketed_rank

    ranked = bucketed_rank(
        monthly, series_cols, value_col, out_col="_rank", count_col="_n"
    )
    h = (F.col("_rank").cast("double") - 0.44) / (F.col("_n").cast("double") + 0.12)
    return ranked.withColumn("spi_emp", normal_ppf_expr(h)).drop("_rank", "_n")


def spi_empirical_apply(
    reference: DataFrame,
    target: DataFrame,
    series_cols: list[str],
    value_col: str,
) -> DataFrame:
    """FIT-ON-REFERENCE / APPLY-TO-TARGET empirical SPI: the Gringorten
    plotting position of each target value within the REFERENCE sample
    only — the distribution-free twin of the reference's forecast-SPI
    composition (ingestor_cds_spi_forecast_process.py:240-257: the
    1980-2010 reference series is concatenated with the forecast period
    per ensemble member and the transform's fit window is the reference
    climate, then applied to the appended forecast months).

    The reference window is fixed-length by construction (a bounded
    number of periods per series), so the per-series sorted sample array
    is O(window), the fit table is O(series x window), and it BROADCASTS:
    the target side pays one broadcast hash join + a projection — no
    shuffle, no window function, no re-fit per target row. H is computed
    from the <=-count (clamped to [1, n]) so out-of-sample values land
    on the nearest plotting position; H stays strictly inside (0, 1).
    """
    ref_agg = reference.groupBy(*series_cols).agg(
        F.array_sort(
            F.collect_list(F.col(value_col).cast("double"))
        ).alias("_ref"),
        F.count(F.lit(1)).alias("_nref"),
    )
    joined = target.join(F.broadcast(ref_agg), series_cols, "inner")
    x = F.col(value_col).cast("double")
    cnt_le = F.size(F.filter(F.col("_ref"), lambda e: e <= x))
    r = F.least(F.greatest(cnt_le, F.lit(1)), F.col("_nref")).cast("double")
    h = (r - 0.44) / (F.col("_nref").cast("double") + 0.12)
    return joined.withColumn("spi_emp", normal_ppf_expr(h)).drop("_ref", "_nref")


def spi_fit_apply_gamma(
    monthly: DataFrame,
    series_cols: list[str],
    bucket_col: str,
    value_col: str,
    is_ref_col: str,
    spi_ts: int = 1,
) -> DataFrame:
    """Gamma-SPI with the fit/apply split: per series,
    ``numerics.spi_from_series`` fits on the REFERENCE rows
    (``is_ref_col`` boolean) of the concatenated reference + forecast
    series and is kept on the FORECAST rows — the reference's
    fit-on-climate / apply-to-forecast composition
    (ingestor_cds_spi_forecast_process.py:240-270, per ensemble member
    ``r``) with utils_spi.py:428-478 as the transform. Rolling totals,
    fit, CDF, quantile and the edge contract are that function's.

    Same scale shape as ``spi``: one ``applyInPandas`` per series whose
    group is a bounded number of periods — the shuffle is keyed by
    series cardinality, never raw rows. Returns FORECAST rows only:
    (series..., bucket, monthly_value, spi).
    """

    def fit_group(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(bucket_col)
        vals = pdf[value_col].to_numpy(dtype=float)
        is_ref = pdf[is_ref_col].to_numpy(dtype=bool)
        spi_vals = spi_from_series(vals, is_ref, spi_ts=spi_ts)
        out = pdf.loc[~is_ref, [*series_cols, bucket_col]].copy()
        out["monthly_value"] = vals[~is_ref]
        out["spi"] = spi_vals[~is_ref]
        return out

    from pygeoapi_ingestor_spark.session import ensure_package_on_executors

    ensure_package_on_executors(monthly.sparkSession)
    return monthly.groupBy(*series_cols).applyInPandas(
        fit_group, schema=_spi_schema(monthly, series_cols, bucket_col)
    )


def spi(
    monthly: DataFrame,
    series_cols: list[str],
    bucket_col: str,
    value_col: str,
    spi_ts: int = 1,
) -> DataFrame:
    """Full SPI per series: Thom gamma fit on every row + zero-corrected
    CDF + A&S normal quantile (``numerics.spi_from_series``). Returns
    (series..., bucket, monthly_value, spi).
    """

    def fit_group(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(bucket_col)
        vals = pdf[value_col].to_numpy(dtype=float)
        spi_vals = spi_from_series(vals, np.ones(vals.size, dtype=bool), spi_ts=spi_ts)
        out = pdf[[*series_cols, bucket_col]].copy()
        out["monthly_value"] = vals
        out["spi"] = spi_vals
        return out

    from pygeoapi_ingestor_spark.session import ensure_package_on_executors

    ensure_package_on_executors(monthly.sparkSession)
    return monthly.groupBy(*series_cols).applyInPandas(
        fit_group, schema=_spi_schema(monthly, series_cols, bucket_col)
    )


def _spi_schema(monthly: DataFrame, series_cols: list[str], bucket_col: str) -> str:
    """Output schema of the SPI operators: (series..., bucket,
    monthly_value, spi)."""
    series = ", ".join(
        f"{c} {monthly.schema[c].dataType.simpleString()}" for c in series_cols
    )
    return f"{series}, {bucket_col} timestamp, monthly_value double, spi double"
