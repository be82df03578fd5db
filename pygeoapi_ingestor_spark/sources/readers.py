"""Parquet readers with schema normalization.

Some tables (events) are written with nanosecond timestamps, which
Spark's parquet reader rejects by default. ``read_table`` inspects the
parquet footer (pyarrow) for TIMESTAMP(NANOS) columns; when present it
flips the session to read nanos as raw longs and rebuilds microsecond
TimestampType columns with exact integer arithmetic (``div`` — a double
round-trip would lose sub-ms precision at 2^60 nanosecond magnitudes).
The source data is microsecond-precision, so the conversion is lossless
and matches DuckDB's own ns->us truncation.

The footer check is what keeps the session-level ``nanosAsLong`` flag
safe: every read through this module rebuilds ANY ns column it
encounters, so a later ns-typed parquet can't silently surface as
bigint just because an earlier ``read_events`` flipped the flag.
"""

from __future__ import annotations

import glob
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _ns_timestamp_cols(path: str) -> list[str]:
    """Column names declared TIMESTAMP(NANOS) in the parquet footer.
    Accepts a single file or a directory of part files (footer read from
    one part — parquet datasets are schema-uniform)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    target = path
    if os.path.isdir(path):
        parts = sorted(glob.glob(os.path.join(path, "*.parquet"))) or sorted(
            glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
        )
        if not parts:
            return []
        target = parts[0]
    schema = pq.read_schema(target)
    return [
        f.name
        for f in schema
        if pa.types.is_timestamp(f.type) and f.type.unit == "ns"
    ]


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    path = f"{sf_dir}/{name}.parquet"
    ns_cols = _ns_timestamp_cols(path)
    if not ns_cols:
        return spark.read.parquet(path)
    # session-level side effect by design: the conf must remain true when
    # the (lazy) scan executes, so it cannot be restored after this call.
    # Safe because every reader in this module rebuilds ns columns found
    # in the footer rather than trusting surfaced dtypes.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(path)
    dtypes = dict(df.dtypes)
    for c in ns_cols:
        if dtypes.get(c) == "bigint":
            df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
    return df


def read_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return read_table(spark, sf_dir, "events")


def read_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    return read_table(spark, sf_dir, "documents")


def as_double_vec(df: DataFrame, col: str = "embedding") -> DataFrame:
    """Widen an array<float> vector column to array<double> (exact) — the
    element type every embedding kernel and its SQL twin
    (``CAST(v AS DOUBLE[])``) compute in."""
    return df.withColumn(col, F.transform(col, lambda x: x.cast("double")))


def read_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    return as_double_vec(read_table(spark, sf_dir, "embeddings"))


def read_geojsonl(spark: SparkSession, path: str) -> DataFrame:
    """Read newline-delimited GeoJSON Point features (the shape
    ``sinks.export_geojsonl`` writes and the reference's vector
    collections carry) back into a flat DataFrame: one row per feature,
    ``lon``/``lat`` columns plus every property column. Geometry types
    other than Point keep NULL coordinates rather than failing, so a
    mixed collection still loads."""
    raw = spark.read.json(path)
    is_point = F.col("geometry.type") == "Point"
    out = raw.select(
        F.when(is_point, F.col("geometry.coordinates")[0]).alias("lon"),
        F.when(is_point, F.col("geometry.coordinates")[1]).alias("lat"),
        F.col("properties.*"),
    )
    return out
