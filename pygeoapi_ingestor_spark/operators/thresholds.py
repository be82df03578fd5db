"""Threshold categorization (danger levels).

Reference: ll_nl_danger_levels.py:107-121 — precipitation-deficit value →
color-coded danger class via fixed breakpoints. Re-expressed as a single
CASE expression (whole-stage codegen; zero shuffles for the labeling).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# (upper_bound_exclusive, label) — the reference's Rijnland deficit scale
DANGER_LEVELS = (
    (50.0, "darkblue"),
    (100.0, "blue"),
    (125.0, "green"),
    (150.0, "yellow"),
    (175.0, "orange"),
    (200.0, "red"),
)
DANGER_FALLBACK = "darkred"


def categorize(value_col) -> Column:
    """value → class label by ascending breakpoints (first match wins)."""
    col = F.col(value_col) if isinstance(value_col, str) else value_col
    # NULL values stay NULL: every `col < bound` comparison is NULL for a
    # NULL input, so without this branch the chain would fall through to
    # the fallback and label missing data as the most severe class
    expr = F.when(col.isNull(), F.lit(None).cast("string"))
    for bound, label in DANGER_LEVELS:
        expr = expr.when(col < F.lit(bound), label)
    return expr.otherwise(DANGER_FALLBACK)


def categorize_by_table(
    df: DataFrame,
    levels: DataFrame,
    station_col: str,
    value_col: str,
) -> DataFrame:
    """Per-station threshold categorization (reference
    ll_nl_danger_levels.py:107-121: each station carries its own danger
    ladder, loaded from a threshold table rather than global literals).

    ``levels`` is a (station, bound, label) dimension. It is collapsed to
    one sorted ladder array per station and BROADCAST, so the fact side
    is labeled in a single projection after one broadcast hash join —
    no per-row shuffle, no row-multiplying join, no re-aggregation. The
    label is the first ladder entry with value < bound (ascending
    bounds), else ``DANGER_FALLBACK``. Stations absent from the table and NULL
    values get NULL (surface them, don't silently default)."""
    ladders = levels.groupBy(F.col(station_col).alias("_station")).agg(
        F.array_sort(
            F.collect_list(F.struct(F.col("bound").alias("x"), F.col("label").alias("lbl")))
        ).alias("_ladder")
    )
    v = F.col(value_col)
    joined = df.join(
        F.broadcast(ladders), df[station_col] == F.col("_station"), "left"
    ).drop("_station")
    hit = F.filter(F.col("_ladder"), lambda p: v < p.getField("x"))
    label = F.when(
        # missing ladder OR missing value both surface as NULL — a NULL
        # value would otherwise drop every ladder rung (NULL comparisons)
        # and take the fallback, labeling missing data as the worst class
        F.col("_ladder").isNull() | v.isNull(), F.lit(None).cast("string")
    ).otherwise(
        # F.get is null-on-out-of-bounds (ANSI-safe where element_at throws)
        F.coalesce(F.get(hit, 0).getField("lbl"), F.lit(DANGER_FALLBACK))
    )
    return joined.withColumn("danger_level", label).drop("_ladder")


def categorize_counts(
    df: DataFrame, group_cols: list[str], value_col: str
) -> DataFrame:
    """Label every row, then count per (group, label)."""
    labeled = df.withColumn("danger_level", categorize(value_col))
    return labeled.groupBy(*group_cols, "danger_level").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.avg(value_col).alias("avg_value"),
    )
