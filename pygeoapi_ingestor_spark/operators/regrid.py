"""Grid resampling: bilinear interpolation of a gridded field onto
target points.

Reference: bias_correction_cds_process.py:272,295 — ``ds.interp(lat=...,
lon=..., method="linear")`` regrids CDS fields onto the bias-parameter
grid. Tabular re-expression: the source grid is (time, lat, lon, value)
rows; each target point finds its four bracketing grid nodes and blends
them with the standard bilinear weights.

Spark-first: the grid AXES (distinct lats, distinct lons — small) become
broadcast interval tables; each target picks its lat/lon cell via two
broadcast range-joins (plan size independent of axis length — a CASE
chain per axis value would blow past JVM codegen limits on ERA5-sized
grids), then the four corner lookups are one explode + equi-join keyed
by (time, lat, lon). No cross product, no range-join on the fact side.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pygeoapi_ingestor_spark.sources.readers import local_table

_INTERNAL_COLS = {
    "_tid", "t_time", "t_lat", "t_lon", "c_lat", "c_lon", "corner", "_c", "_gv",
    "_lat_lo", "_lat_hi", "_lon_lo", "_lon_hi", "_vlolo", "_vlohi", "_vhilo", "_vhihi",
}


def _clean_axis(values, name: str) -> list[float]:
    out = sorted(
        float(v) for v in values if v is not None and not math.isnan(float(v))
    )
    if len(out) < 2:
        raise ValueError(f"grid must have at least 2 distinct finite {name} values")
    return out


def _interval_table(spark, axis: list[float], lo_name: str, hi_name: str):
    """Half-open cells [lo, hi), last cell closed — one row per cell."""
    rows = [
        (axis[i], axis[i + 1], i == len(axis) - 2) for i in range(len(axis) - 1)
    ]
    return local_table(
        spark, rows, f"{lo_name} double, {hi_name} double, _last boolean"
    )


def bilinear_regrid(
    grid: DataFrame,
    targets: DataFrame,
    value_col: str = "tp",
    time_col: str = "time",
) -> DataFrame:
    """Interpolate ``grid[value_col]`` at each target (time, lat, lon).

    Targets outside the grid envelope get NULL. Exactly-on-node targets
    resolve via zero-width weights. Duplicate target rows are preserved
    (internal unique row id). Passthrough target columns must not use
    the reserved internal names.
    """
    spark = grid.sparkSession
    passthrough = [c for c in targets.columns if c not in (time_col, "lat", "lon")]
    clash = (_INTERNAL_COLS | {"value_interp"}) & set(passthrough)
    if clash:
        raise ValueError(f"target columns collide with internal names: {sorted(clash)}")

    lats = _clean_axis((r[0] for r in grid.select("lat").distinct().collect()), "lat")
    lons = _clean_axis((r[0] for r in grid.select("lon").distinct().collect()), "lon")

    lat_cells = F.broadcast(_interval_table(spark, lats, "_lat_lo", "_lat_hi"))
    lon_cells = F.broadcast(
        _interval_table(spark, lons, "_lon_lo", "_lon_hi").withColumnsRenamed(
            {"_last": "_last2"}
        )
    )

    t_lat, t_lon = F.col("t_lat"), F.col("t_lon")
    t = targets.select(
        F.monotonically_increasing_id().alias("_tid"),
        F.col(time_col).alias("t_time"),
        F.col("lat").alias("t_lat"),
        F.col("lon").alias("t_lon"),
        *passthrough,
    )
    in_lat = (t_lat >= F.col("_lat_lo")) & (
        (t_lat < F.col("_lat_hi")) | (F.col("_last") & (t_lat <= F.col("_lat_hi")))
    )
    in_lon = (t_lon >= F.col("_lon_lo")) & (
        (t_lon < F.col("_lon_hi")) | (F.col("_last2") & (t_lon <= F.col("_lon_hi")))
    )
    t = (
        t.join(lat_cells, on=in_lat, how="left")
        .drop("_last")
        .join(lon_cells, on=in_lon, how="left")
        .drop("_last2")
    )

    corners = F.array(
        *[
            F.struct(
                F.col(f"_lat_{a}").alias("c_lat"),
                F.col(f"_lon_{b}").alias("c_lon"),
                F.lit(f"{a}{b}").alias("corner"),
            )
            for a in ("lo", "hi")
            for b in ("lo", "hi")
        ]
    )
    t_exp = (
        t.withColumn("_c", F.explode(corners))
        .select(
            "*",
            F.col("_c.c_lat").alias("c_lat"),
            F.col("_c.c_lon").alias("c_lon"),
            F.col("_c.corner").alias("corner"),
        )
        .drop("_c")
    )

    g = grid.select(
        F.col(time_col).alias("t_time"),
        F.col("lat").alias("c_lat"),
        F.col("lon").alias("c_lon"),
        F.col(value_col).alias("_gv"),
    )
    joined = t_exp.join(g, ["t_time", "c_lat", "c_lon"], "left")

    pivot = joined.groupBy(
        "_tid", "t_time", "t_lat", "t_lon", "_lat_lo", "_lat_hi", "_lon_lo", "_lon_hi",
        *passthrough,
    ).agg(
        *[
            F.first(F.when(F.col("corner") == cc, F.col("_gv")), ignorenulls=True).alias(f"_v{cc}")
            for cc in ("lolo", "lohi", "hilo", "hihi")
        ]
    )

    dlat = F.col("_lat_hi") - F.col("_lat_lo")
    dlon = F.col("_lon_hi") - F.col("_lon_lo")
    wy = F.when(dlat > 0, (t_lat - F.col("_lat_lo")) / dlat).otherwise(F.lit(0.0))
    wx = F.when(dlon > 0, (t_lon - F.col("_lon_lo")) / dlon).otherwise(F.lit(0.0))
    interp = (
        F.col("_vlolo") * (1 - wy) * (1 - wx)
        + F.col("_vlohi") * (1 - wy) * wx
        + F.col("_vhilo") * wy * (1 - wx)
        + F.col("_vhihi") * wy * wx
    )
    in_bounds = F.col("_lat_lo").isNotNull() & F.col("_lon_lo").isNotNull()
    return pivot.withColumn("value_interp", F.when(in_bounds, interp)).select(
        F.col("t_time").alias(time_col),
        F.col("t_lat").alias("lat"),
        F.col("t_lon").alias("lon"),
        *passthrough,
        "value_interp",
    )
