"""Parquet readers with schema normalization, and literal tables.

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

Reads start no Spark job: without a schema, ``spark.read.parquet``
runs a schema-inference job per call. ``read_table`` runs the footer
check and the inference once per path and generation and then reads
with ``.schema()``; the schemas are per-generation state of
``functions.storage`` (``table_schema``), so a corpus switch drops
them. The ``nanosAsLong`` conf is still set on every ns read.

``local_table`` builds every literal table of the package (rating
curves, parameter tables, driver-side summaries): a ``pyarrow.Table``
handed to ``createDataFrame`` plans a JVM ``LocalRelation``. A Python
list would plan a ``LogicalRDD`` over a PythonRDD, which pickles the
rows and runs Python worker tasks on every execution.
"""

from __future__ import annotations

import glob
import os
from collections.abc import Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructType

from pygeoapi_ingestor_spark.functions.storage import table_schema

_NANOS_AS_LONG = "spark.sql.legacy.parquet.nanosAsLong"


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


def _infer(spark: SparkSession, path: str) -> tuple[list[str], StructType]:
    ns_cols = _ns_timestamp_cols(path)
    if ns_cols:
        spark.conf.set(_NANOS_AS_LONG, "true")
    return ns_cols, spark.read.parquet(path).schema


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    path = f"{sf_dir}/{name}.parquet"
    ns_cols, schema = table_schema(spark, sf_dir, path, lambda: _infer(spark, path))
    if ns_cols:
        # session-level side effect by design: the conf must remain true
        # when the (lazy) scan executes, so it cannot be restored after
        # this call. Safe because every reader in this module rebuilds
        # ns columns found in the footer rather than trusting surfaced
        # dtypes.
        spark.conf.set(_NANOS_AS_LONG, "true")
    df = spark.read.schema(schema).parquet(path)
    for c in ns_cols:
        if isinstance(schema[c].dataType, LongType):
            df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
    return df


def local_table(
    spark: SparkSession, rows: Iterable, schema: StructType | str
) -> DataFrame:
    """A DataFrame over driver-side ``rows`` (tuples, dicts or Rows) as
    a ``LocalRelation``: no PythonRDD, no pickling, no Python worker.
    ``schema`` is a StructType or a DDL string; nullability is kept as
    declared. Values go through ``schema.toInternal`` first, the
    conversion ``createDataFrame`` applies to a list, so timestamps and
    dates land on the same instants and days."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    arrow_schema = to_arrow_schema(schema)
    internal = [schema.toInternal(r) for r in rows]
    cols = zip(*internal) if internal else [()] * len(schema.fields)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, arrow_schema)],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, schema)


def read_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return read_table(spark, sf_dir, "events")


def read_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    return read_table(spark, sf_dir, "documents")


def as_double_vec(df: DataFrame) -> DataFrame:
    """Widen an array<float> vector column to array<double> (exact) — the
    element type every embedding kernel and its SQL twin
    (``CAST(v AS DOUBLE[])``) compute in."""
    return df.withColumn(
        "embedding", F.transform("embedding", lambda x: x.cast("double"))
    )


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
