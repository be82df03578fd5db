"""Collection writer + catalog registry.

Reference parity: every ingestion process ends by (1) writing the
dataset to a collection store (ZARR on S3) and (2) registering the
collection in the pygeoapi config with its spatial/temporal extents
(utils_spi.py:481-562 ``create_s3_collection_data``/``update_config``,
collection_healthcheck.py).

Spark-first: the collection store is partitioned parquet (columnar,
predicate-pushdown-friendly — the tabular analog of chunked ZARR), and
the catalog is a JSON registry whose extents are computed with one
aggregate over the data. At 100 TB the partition columns (e.g.
date(ts)) give partition pruning on every time-sliced query.

A catalog entry also stores the schema the collection was written
with, and readers of a published collection (``ProcessAPI.items``, the
ingest's own extents read) pass it to ``.schema()``: a parquet read
without one runs a schema-inference job first.
"""

from __future__ import annotations

import datetime
import json
import os
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DataType, MapType, StructField, StructType

# data path -> the catalog file that last registered it (this process)
_PUBLISHERS: dict[str, str] = {}


def write_collection(
    df: DataFrame,
    path: str,
    partition_by: list[str] | None = None,
) -> None:
    """Write a dataset as a partitioned parquet collection."""
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def parquet_read_schema(dt: DataType) -> DataType:
    """The schema a parquet read reports for data written as ``dt``:
    the same types with every field, element and map value nullable
    (Spark reads any file source ``asNullable``)."""
    if isinstance(dt, StructType):
        return StructType([
            StructField(f.name, parquet_read_schema(f.dataType), True, f.metadata)
            for f in dt.fields
        ])
    if isinstance(dt, ArrayType):
        return ArrayType(parquet_read_schema(dt.elementType), True)
    if isinstance(dt, MapType):
        return MapType(
            parquet_read_schema(dt.keyType), parquet_read_schema(dt.valueType), True
        )
    return dt


def compute_extents(
    df: DataFrame,
    ts_col: str | None = None,
    value_cols: list[str] | None = None,
) -> dict[str, Any]:
    """One-pass extents aggregate (the reference reads coord min/max from
    the opened dataset; we aggregate — no data pulled to the driver
    beyond one row)."""
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    if ts_col:
        aggs += [F.min(ts_col).alias("ts_begin"), F.max(ts_col).alias("ts_end")]
    for c in value_cols or []:
        aggs += [F.min(c).alias(f"{c}_min"), F.max(c).alias(f"{c}_max")]
    row = df.agg(*aggs).collect()[0].asDict()
    return {
        k: (v.isoformat() if isinstance(v, (datetime.datetime, datetime.date)) else v)
        for k, v in row.items()
    }


EXPORT_FORMATS = ("parquet", "json", "csv", "orc")


def export(
    df: DataFrame, path: str, fmt: str = "parquet", mode: str = "overwrite"
) -> None:
    """Out-format conversion (reference: utils_spi.py:653-702
    ``coverage_to_out_format`` — netcdf/json/dataframe/tif/zarr). The
    tabular analogs: parquet (zarr-like chunked columnar), json
    (records), csv (the 'dataframe' text form), orc. Writers stay
    distributed — one file per partition, no driver materialization."""
    if fmt not in EXPORT_FORMATS:
        raise ValueError(f"unsupported export format {fmt!r}; one of {EXPORT_FORMATS}")
    writer = df.write.mode(mode)
    if fmt == "csv":
        writer = writer.option("header", "true").option("sep", ";")
    getattr(writer, fmt)(path)


def geojson_feature_expr(
    lon_col: str, lat_col: str, props_cols: list[str]
) -> "F.Column":
    """One RFC 7946 Point Feature per row as a JSON string — a pure
    projection (to_json stays JVM-side), so feature serialization
    distributes with the data."""
    return F.to_json(
        F.struct(
            F.lit("Feature").alias("type"),
            F.struct(
                F.lit("Point").alias("type"),
                F.array(F.col(lon_col), F.col(lat_col)).alias("coordinates"),
            ).alias("geometry"),
            F.struct(*props_cols).alias("properties"),
        )
    )


def export_geojsonl(
    df: DataFrame,
    path: str,
    lon_col: str,
    lat_col: str,
    props_cols: list[str],
    mode: str = "overwrite",
) -> None:
    """Vector-feature export (reference GeoJSON collections:
    ingestor_smhi_process_vector.py, ingestor_ll_gpkg_process.py) as
    newline-delimited GeoJSON features (RFC 8142 text-sequence style) —
    the DISTRIBUTED form: one feature per line, one file per partition,
    nothing materialized on the driver. Readable back with
    ``spark.read.json``."""
    df.select(
        geojson_feature_expr(lon_col, lat_col, props_cols).alias("value")
    ).write.mode(mode).text(path)


class CollectionCatalog:
    """JSON-file catalog of registered collections (the pygeoapi
    ``resources`` config analog). Methods mirror the reference flow:
    register after write, healthcheck over all entries."""

    def __init__(self, catalog_path: str):
        self.catalog_path = catalog_path
        self._lock_path = catalog_path + ".lock"

    def _locked(self):
        """Cross-process advisory lock around load-modify-save (the
        reference serializes config updates with FileLock the same way:
        utils_spi.py:519). Context manager yielding nothing."""
        import contextlib
        import fcntl

        @contextlib.contextmanager
        def cm():
            with open(self._lock_path, "w") as lf:
                fcntl.flock(lf, fcntl.LOCK_EX)
                try:
                    yield
                finally:
                    fcntl.flock(lf, fcntl.LOCK_UN)

        return cm()

    def _load(self) -> dict:
        if os.path.exists(self.catalog_path):
            with open(self.catalog_path) as f:
                return json.load(f)
        return {"resources": {}}

    def _save(self, cfg: dict) -> None:
        tmp = self.catalog_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(cfg, f, indent=2, sort_keys=True)
        os.replace(tmp, self.catalog_path)

    def register(
        self,
        collection_id: str,
        data_path: str,
        extents: dict[str, Any],
        schema: StructType | None = None,
    ) -> dict:
        """Register (or replace) a collection entry. ``schema`` is the
        schema a read of ``data_path`` reports; readers of the published
        collection use it instead of inferring one (``published_schema``)."""
        entry = {
            "type": "collection",
            "title": collection_id,
            "description": "",
            "extents": extents,
            "providers": [{"type": "feature", "name": "parquet", "data": data_path}],
        }
        if schema is not None:
            entry["schema"] = schema.jsonValue()
        with self._locked():
            cfg = self._load()
            cfg["resources"][collection_id] = entry
            self._save(cfg)
        _PUBLISHERS[data_path] = self.catalog_path
        return entry

    def exists(self, collection_id: str) -> bool:
        """Idempotent-ingest check (reference: skip when the collection
        is already in bucket + config)."""
        return collection_id in self._load()["resources"]

    def healthcheck(self, spark) -> list[dict]:
        """Verify every registered collection is readable and non-empty
        (collection_healthcheck.py analog)."""
        report = []
        for cid, entry in self._load()["resources"].items():
            path = entry["providers"][0]["data"]
            try:
                n = spark.read.parquet(path).limit(1).count()
                report.append({"id": cid, "ok": n > 0, "error": None})
            except Exception as e:  # unreadable path -> unhealthy, not fatal
                report.append({"id": cid, "ok": False, "error": str(e)[:200]})
        return report


def published_schema(data_path: str) -> StructType | None:
    """The schema stored with the catalog entry that last published
    ``data_path`` in this process, or None: for a path no catalog here
    registered, and for an entry registered without one (the reader
    then infers)."""
    catalog_path = _PUBLISHERS.get(data_path)
    if catalog_path is None:
        return None
    for entry in CollectionCatalog(catalog_path)._load()["resources"].values():
        if entry["providers"][0]["data"] == data_path and "schema" in entry:
            return StructType.fromJson(entry["schema"])
    return None


def schema_diff(spark, collection_path: str, batch_df) -> dict:
    """Schema-drift gate for incremental ingest: diff an incoming batch
    against a stored collection's schema BEFORE appending — the check
    the reference performs implicitly by re-opening the stored dataset
    (evolving upstream feeds silently add/drop/retype fields; at scale
    an appended type change poisons every later scan).

    Pure metadata: the stored schema comes from parquet footers (no data
    read), the batch schema from its analyzed plan. Returns
    {added, removed, changed, ok} where `changed` maps column ->
    (stored_type, batch_type); `ok` is True when the batch is
    append-safe (no removals, no type changes — additions are safe
    with mergeSchema).
    """
    stored = {f.name: f.dataType.simpleString()
              for f in spark.read.parquet(collection_path).schema.fields}
    batch = {f.name: f.dataType.simpleString()
             for f in batch_df.schema.fields}
    added = sorted(set(batch) - set(stored))
    removed = sorted(set(stored) - set(batch))
    changed = {
        c: (stored[c], batch[c])
        for c in sorted(set(stored) & set(batch))
        if stored[c] != batch[c]
    }
    return {
        "added": added,
        "removed": removed,
        "changed": changed,
        "ok": not removed and not changed,
    }


def apply_retention(
    spark,
    path: str,
    partition_col: str,
    keep_since: str,
    dry_run: bool = False,
) -> dict:
    """TTL retention for a partitioned collection: drop every
    ``{partition_col}=...`` directory whose partition value sorts below
    ``keep_since`` — the data-lifecycle half of idempotent ingest (the
    reference re-publishes rolling windows; at 100 TB the old windows
    must actually leave the store, and partition-directory deletion is
    the only O(expired) way to do it — no rewrite, no scan).

    Values compare as ISO strings (date partitions sort correctly).
    ``dry_run`` lists what would go. Returns {kept, dropped, dry_run}.
    """
    jvm = spark._jvm
    root = jvm.org.apache.hadoop.fs.Path(path)
    fs = root.getFileSystem(spark._jsc.hadoopConfiguration())
    prefix = f"{partition_col}="
    kept, dropped = [], []
    for st in fs.listStatus(root):
        name = st.getPath().getName()
        if not name.startswith(prefix):
            continue
        value = name[len(prefix):]
        if value < keep_since:
            dropped.append(value)
            if not dry_run:
                fs.delete(st.getPath(), True)
        else:
            kept.append(value)
    return {"kept": sorted(kept), "dropped": sorted(dropped),
            "dry_run": dry_run}


def missing_partitions(
    spark, path: str, partition_col: str, start: str, end: str
) -> list[str]:
    """Backfill planner: the date partitions a collection is MISSING in
    [start, end] — the skip-if-exists check behind the reference's
    idempotent scheduled ingest (utils_spi.py:205-358 decides per tick
    whether a slice already landed), inverted into a work list a
    scheduler can fan out.

    Pure directory listing (no data read); values compare as ISO dates.
    """
    import datetime as _dt

    jvm = spark._jvm
    root = jvm.org.apache.hadoop.fs.Path(path)
    fs = root.getFileSystem(spark._jsc.hadoopConfiguration())
    prefix = f"{partition_col}="
    have = set()
    if fs.exists(root):
        for st in fs.listStatus(root):
            name = st.getPath().getName()
            if name.startswith(prefix):
                have.add(name[len(prefix):])
    d0 = _dt.date.fromisoformat(start)
    d1 = _dt.date.fromisoformat(end)
    out = []
    d = d0
    while d <= d1:
        if d.isoformat() not in have:
            out.append(d.isoformat())
        d += _dt.timedelta(days=1)
    return out


def geojson_polygon_expr(
    w_col: str, s_col: str, e_col: str, n_col: str, props_cols: list[str]
) -> "F.Column":
    """One RFC 7946 Polygon Feature per row from bbox columns (closed
    counter-clockwise ring) — pure projection like
    ``geojson_feature_expr``; the polygon twin the isoband publication
    path needs (reference: ingestor_knmi_evapo.py:454-476 publishes
    gdal_contour polygons to PostGIS)."""
    w, s, e, n = (F.col(c) for c in (w_col, s_col, e_col, n_col))
    ring = F.array(
        F.array(w, s), F.array(e, s), F.array(e, n), F.array(w, n),
        F.array(w, s),
    )
    return F.to_json(
        F.struct(
            F.lit("Feature").alias("type"),
            F.struct(
                F.lit("Polygon").alias("type"),
                F.array(ring).alias("coordinates"),
            ).alias("geometry"),
            F.struct(*props_cols).alias("properties"),
        )
    )


def export_polygons_geojsonl(
    df: DataFrame,
    path: str,
    w_col: str,
    s_col: str,
    e_col: str,
    n_col: str,
    props_cols: list[str],
    mode: str = "overwrite",
) -> None:
    """Distributed polygon-feature export (newline-delimited GeoJSON,
    one feature per line, one file per partition) — the publication
    sink for ``isoband_regions``' (band, region, bbox) output: the
    tabular re-expression of the reference's contour-polygon → PostGIS
    step (ingestor_knmi_evapo.py:454-476)."""
    df.select(
        geojson_polygon_expr(w_col, s_col, e_col, n_col, props_cols).alias("value")
    ).write.mode(mode).text(path)
