"""Zonal and ensemble statistics.

Reference semantics:
- zonal stats: utils_spi.py:565-621 — per-basin min/max/median/p05..p95
  of the SPI field per time step (``basin_zonal_stat``).
- ensemble stats: utils_spi.py:576-590 + CDS seasonal forecasts — the
  ensemble-member dimension ``r`` is collapsed with median/min/max/
  percentiles.

Spark-first: a zone is a join key (dimension table, broadcast), the
statistics are one groupBy — percentiles via the exact interpolated
``percentile`` aggregate so results are deterministic and oracle-able.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

ZONAL_PERCENTILES = (0.05, 0.10, 0.30, 0.50, 0.70, 0.90, 0.95)


def zonal_stats(
    fact: DataFrame,
    zones: DataFrame,
    join_key: str,
    zone_col: str,
    bucket_col,
    value_col: str,
    percentiles: tuple[float, ...] = (0.05, 0.5, 0.95),
) -> DataFrame:
    """Per (zone, bucket) min/max + interpolated percentiles.

    ``zones`` is a small dimension (basin table analog) — broadcast so
    the fact side never shuffles for the join. Percentiles come from the
    bucket drill-down (functions/ranks.exact_percentiles), never the
    buffering ``percentile`` aggregate: a (zone, week) group holds every
    event of a basin-week, which one task cannot buffer at 100 TB.
    Identical values (SQL percentile_cont interpolation) either way.
    """
    from pygeoapi_ingestor_spark.functions import ranks

    bucket = bucket_col if not isinstance(bucket_col, str) else F.col(bucket_col)
    joined = fact.join(F.broadcast(zones), on=join_key).select(
        F.col(zone_col).alias("_zone"), bucket.alias("_bucket_v"), F.col(value_col).alias("_v")
    )
    base = joined.groupBy("_zone", "_bucket_v").agg(
        F.min("_v").alias("v_min"),
        F.max("_v").alias("v_max"),
    )
    # exact_percentiles requires a non-null value column (SQL percentile
    # aggregates skip nulls); unfiltered nulls would land in bucket -1,
    # shift every percentile position and corrupt the interpolation
    pcts = ranks.exact_percentiles(
        joined.filter(F.col("_v").isNotNull()),
        series_cols=["_zone", "_bucket_v"], value_col="_v",
        ps=list(percentiles), tiebreak_cols=[],
    )
    wide = pcts.groupBy("_zone", "_bucket_v").agg(
        *[
            F.min(F.when(F.col("p") == float(p), F.col("pct"))).alias(
                f"p{int(round(p * 100)):02d}"
            )
            for p in percentiles
        ]
    )
    # left join: a (zone, bucket) group whose values are ALL null still
    # surfaces (with null percentiles) instead of vanishing
    out = base.join(wide, ["_zone", "_bucket_v"], "left")
    # derive the output name of bucket_col portably (works on classic and
    # Connect — no private _jc): the analyzed single-column projection's
    # schema carries exactly the alias the caller gave the expression
    bucket_name = fact.select(bucket_col).columns[0]
    return out.withColumnRenamed("_zone", zone_col).withColumnRenamed(
        "_bucket_v", bucket_name
    )


def zonal_stats_hist(
    fact: DataFrame,
    zones: DataFrame,
    join_key: str,
    zone_col: str,
    bucket_col,
    value_col: str,
) -> DataFrame:
    """``zonal_stats`` for QUANTIZED measurement values — one
    value-compressed histogram pipeline instead of the 3-scan bucket
    drill-down (the mad_outliers r9 lesson applied to the zonal family,
    VERDICT r10 item 1a), fully distributed: no driver state at all.

    Sensor readings are 2-decimal-quantized, so distinct
    (zone, bucket, value) triples are bounded (~10k per series at ANY
    corpus size). Shape: ONE ``groupBy(zone, bucket, value).count()``
    over the facts — map-side combinable, the shuffle carries the
    compressed histogram, never rows — then one window pass over the
    histogram (cumulative counts per group) and one tiny aggregate pick
    out min/max and the ``quantile_cont`` interpolation neighbours
    entirely JVM-side. All downstream stages are O(histogram); at
    100 TB the fact scan dominates and the window partitions stay at
    ~10k rows regardless of corpus size (they grow with the VALUE
    DOMAIN, not the data). The interpolation arithmetic —
    ``t=(n-1)*p``, floor/ceil/frac in doubles, ``v_lo+(v_hi-v_lo)*frac``
    — mirrors functions/ranks.exact_percentiles and the SQL twin
    bit-for-bit.

    NULL values count toward group PRESENCE (a group whose values are
    all NULL surfaces with NULL stats — skip-null min/max/percentile
    semantics, same as the drill-down's left join) but not toward the
    order statistics. For genuinely continuous measures fall back to
    ``zonal_stats`` (the per-(series,value) histogram would approach
    row cardinality and the window partition bound would not hold).
    """
    bucket = bucket_col if not isinstance(bucket_col, str) else F.col(bucket_col)
    joined = fact.join(F.broadcast(zones), on=join_key).select(
        F.col(zone_col).alias("_zone"),
        bucket.alias("_bucket_v"),
        F.col(value_col).alias("_v"),
    )
    hist = joined.groupBy("_zone", "_bucket_v", "_v").agg(
        F.count(F.lit(1)).cast("bigint").alias("_c")
    )
    # ONE branch, nulls ordered LAST with a zero count contribution:
    # null-value rows keep group PRESENCE (an all-NULL group's _n is 0,
    # every neighbour condition is false, min/max skip nulls -> the
    # group surfaces with NULL stats, matching the drill-down's left
    # join) without a second lineage over the facts. The window and
    # the final groupBy share hashpartitioning(_zone, _bucket_v), so
    # the whole post-histogram tail rides one exchange.
    cnn = F.when(F.col("_v").isNotNull(), F.col("_c")).otherwise(F.lit(0))
    w = Window.partitionBy("_zone", "_bucket_v").orderBy(
        F.col("_v").asc_nulls_last()
    )
    w_all = Window.partitionBy("_zone", "_bucket_v")
    cum = (
        hist.withColumn("_cum", F.sum(cnn).over(w))
        .withColumn("_n", F.sum(cnn).over(w_all))
        .withColumn("_off", F.col("_cum") - cnn)
    )
    # quantile_cont: target=(n-1)*p; the row whose [off, off+c) range
    # covers floor/ceil(target) holds the neighbour value. The
    # positions are PROJECTED once per row (small named columns) so
    # the aggregate expressions below stay shallow — inlining the
    # floor((n-1)*p) trees into all 9 min() CASEs doubled in the
    # partial+final split and put ~2s of pure Catalyst analysis/
    # codegen on every fresh plan (the r10 constant factor was
    # planning cost, not data cost).
    proj_cols, p_specs = [], []
    for p in (0.05, 0.5, 0.95):
        nm = f"p{int(round(p * 100)):02d}"
        t = (F.col("_n") - 1).cast("double") * F.lit(float(p))
        proj_cols.append(F.floor(t).cast("bigint").alias(f"_lo_{nm}"))
        proj_cols.append(F.ceil(t).cast("bigint").alias(f"_hi_{nm}"))
        proj_cols.append((t - F.floor(t)).alias(f"_fr_{nm}"))
        p_specs.append(nm)
    cum = cum.select("*", *proj_cols)

    def _covers(pos_col):
        return (F.col("_off") <= F.col(pos_col)) & (
            F.col(pos_col) < F.col("_cum")
        )

    aggs = [
        F.min("_v").alias("v_min"),
        F.max("_v").alias("v_max"),
    ]
    p_names = []
    for nm in p_specs:
        p_names.append(nm)
        v_lo = F.min(F.when(_covers(f"_lo_{nm}"), F.col("_v")))
        v_hi = F.min(F.when(_covers(f"_hi_{nm}"), F.col("_v")))
        f = F.min(F.when(_covers(f"_lo_{nm}"), F.col(f"_fr_{nm}")))
        aggs.append((v_lo + (v_hi - v_lo) * f).alias(nm))
    out = cum.groupBy("_zone", "_bucket_v").agg(*aggs)
    bucket_name = fact.select(bucket_col).columns[0]
    return out.withColumnRenamed("_zone", zone_col).withColumnRenamed(
        "_bucket_v", bucket_name
    )


def ensemble_stats(
    df: DataFrame,
    bucket_cols: list,
    value_col: str,
    percentiles: tuple[float, ...] = (0.10, 0.90),
) -> DataFrame:
    """Collapse the ensemble-member dimension: per bucket median/min/max
    plus requested percentiles (reference ``spi_ensemble``/``spi_perc``).

    The buffering ``percentile`` aggregate is fine HERE: group size is
    the ensemble-member count (tens, by data model), not a data-scaled
    row count — unlike zonal_stats, which drills down instead."""
    aggs = [
        F.min(value_col).alias("ens_min"),
        F.max(value_col).alias("ens_max"),
        F.percentile(value_col, F.lit(0.5)).alias("ens_median"),
        F.count(F.lit(1)).cast("bigint").alias("ens_n"),
    ]
    for p in percentiles:
        aggs.append(
            F.percentile(value_col, F.lit(p)).alias(f"ens_p{int(round(p * 100)):02d}")
        )
    return df.groupBy(*bucket_cols).agg(*aggs)
