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


def atomic_dir_swap(jvm, fs, path: str, tmp: str, bak: str, label: str) -> None:
    """Swap a fully-written sibling ``tmp`` directory in as ``path``:
    rename live -> bak, tmp -> live, drop bak (restoring bak on a failed
    swap) — the shared dance behind compaction, rollup-state updates and
    CDC snapshot maintenance, so a concurrent reader always sees a
    complete directory."""
    live_p = jvm.org.apache.hadoop.fs.Path(path)
    tmp_p = jvm.org.apache.hadoop.fs.Path(tmp)
    bak_p = jvm.org.apache.hadoop.fs.Path(bak)
    if fs.exists(bak_p):
        fs.delete(bak_p, True)
    if fs.exists(live_p) and not fs.rename(live_p, bak_p):
        raise IOError(f"{label}: could not move {path} aside")
    if not fs.rename(tmp_p, live_p):
        if fs.exists(bak_p):
            fs.rename(bak_p, live_p)
        raise IOError(f"{label}: could not swap in {path}")
    fs.delete(bak_p, True)


def write_collection(
    df: DataFrame,
    path: str,
    partition_by: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Write a dataset as a partitioned parquet collection."""
    writer = df.write.mode(mode)
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


def write_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_cols: list[str],
    n_buckets: int,
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Write a bucketed (and optionally sorted) managed table.

    Bucketing pre-shuffles the data on the join/agg key at write time:
    two tables bucketed on the same key with the same bucket count join
    WITHOUT a shuffle, and per-bucket sorting turns the join into a merge
    — the at-rest co-location strategy for repeated fact-fact joins at
    100 TB. (Bucketed output requires ``saveAsTable``; plain
    ``parquet(path)`` cannot carry bucket metadata.)
    """
    writer = df.write.mode(mode).bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.format("parquet").saveAsTable(table_name)


def compact_collection(
    spark,
    path: str,
    target_bytes: int = 128 * 1024 * 1024,
    partition_by: list[str] | None = None,
) -> dict:
    """Rewrite a parquet collection into target-size files (small-files
    compaction).

    Streaming/incremental ingest leaves collections as thousands of tiny
    files; at 100 TB that means a scan pays per-file open/footer costs
    and the driver pays per-file listing/planning memory. Compaction
    reads the collection, repartitions to ``ceil(total_bytes /
    target_bytes)`` output files, and atomically swaps the rewritten
    copy in (write to sibling tmp dir, rename old -> .bak, tmp -> path,
    drop .bak) so a concurrent reader never sees a half-written
    collection.

    File sizes come from Hadoop's FileSystem API (works for any
    supported scheme, not just local paths). Returns
    {files_before, files_after, bytes}.
    """
    jvm = spark._jvm
    jsc = spark._jsc
    hadoop_path = jvm.org.apache.hadoop.fs.Path(path)
    fs = hadoop_path.getFileSystem(jsc.hadoopConfiguration())

    it = fs.listFiles(hadoop_path, True)
    total_bytes, files_before = 0, 0
    while it.hasNext():
        f = it.next()
        name = f.getPath().getName()
        if name.startswith("_") or name.startswith("."):
            continue
        total_bytes += f.getLen()
        files_before += 1

    n_files = max(1, -(-total_bytes // int(target_bytes)))
    df = spark.read.parquet(path)
    tmp = path.rstrip("/") + "._compact_tmp"
    bak = path.rstrip("/") + "._compact_bak"
    writer = df.repartition(int(n_files)).write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(tmp)

    atomic_dir_swap(jvm, fs, path, tmp, bak, "compact")

    it = fs.listFiles(hadoop_path, True)
    files_after = 0
    while it.hasNext():
        name = it.next().getPath().getName()
        if not (name.startswith("_") or name.startswith(".")):
            files_after += 1
    return {
        "files_before": files_before,
        "files_after": files_after,
        "bytes": int(total_bytes),
    }


def compute_extents(
    df: DataFrame,
    ts_col: str | None = None,
    value_cols: list[str] | None = None,
    lon_col: str | None = None,
    lat_col: str | None = None,
) -> dict[str, Any]:
    """One-pass extents aggregate (the reference reads coord min/max from
    the opened dataset; we aggregate — no data pulled to the driver
    beyond one row). With lon/lat columns the result carries the OGC
    ``bbox`` [W, S, E, N] the reference registers in the collection
    config (utils_spi.py:481-562)."""
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    if ts_col:
        aggs += [F.min(ts_col).alias("ts_begin"), F.max(ts_col).alias("ts_end")]
    for c in value_cols or []:
        aggs += [F.min(c).alias(f"{c}_min"), F.max(c).alias(f"{c}_max")]
    if lon_col and lat_col:
        from pygeoapi_ingestor_spark.operators.spatial import bbox_agg_exprs

        aggs += bbox_agg_exprs(lon_col, lat_col)
    row = df.agg(*aggs).collect()[0].asDict()
    out = {
        k: (v.isoformat() if isinstance(v, (datetime.datetime, datetime.date)) else v)
        for k, v in row.items()
    }
    if lon_col and lat_col:
        out["bbox"] = [
            out.pop("bbox_w"), out.pop("bbox_s"),
            out.pop("bbox_e"), out.pop("bbox_n"),
        ]
    return out


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


def feature_collection(
    df: DataFrame,
    lon_col: str,
    lat_col: str,
    props_cols: list[str],
    limit: int = 10000,
) -> dict[str, Any]:
    """A single in-memory GeoJSON FeatureCollection (the reference's
    one-file vector output shape). Driver-side BY DESIGN and bounded:
    refuses more than ``limit`` features — for unbounded data use
    ``export_geojsonl``."""
    rows = df.select(
        geojson_feature_expr(lon_col, lat_col, props_cols).alias("f")
    ).limit(limit + 1).collect()
    if len(rows) > limit:
        raise ValueError(
            f"feature_collection is driver-side and capped at {limit} features; "
            "use export_geojsonl for distributed output"
        )
    return {
        "type": "FeatureCollection",
        "features": [json.loads(r["f"]) for r in rows],
    }


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
        provider: str = "parquet",
        description: str = "",
        schema: StructType | None = None,
    ) -> dict:
        """Register (or replace) a collection entry. ``schema`` is the
        schema a read of ``data_path`` reports; readers of the published
        collection use it instead of inferring one (``published_schema``)."""
        entry = {
            "type": "collection",
            "title": collection_id,
            "description": description,
            "extents": extents,
            "providers": [{"type": "feature", "name": provider, "data": data_path}],
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


def write_zordered(
    df,
    path: str,
    lon_col: str = "lon",
    lat_col: str = "lat",
    bits_per_axis: int = 12,
    n_files: int = 8,
    extra_sort_cols: list[str] | None = None,
) -> None:
    """Write a point table spatially clustered by Z-order (Morton) id:
    range-partition on the cell id (contiguous id ranges per file), sort
    within partitions, drop the helper column. A bbox scan then touches
    a contiguous run of files/row-groups and parquet min/max stats prune
    the rest — the data-layout half of spatial performance at 100 TB
    (the Morton rollup operator is the compute half).

    ``repartitionByRange`` samples the id distribution, so files are
    balanced even when points cluster geographically."""
    from pygeoapi_ingestor_spark.operators.spatial import morton_cell

    keyed = df.withColumn(
        "_zcell", morton_cell(lon_col, lat_col, bits_per_axis)
    )
    (
        keyed.repartitionByRange(n_files, "_zcell")
        .sortWithinPartitions("_zcell", *(extra_sort_cols or []))
        .drop("_zcell")
        .write.mode("overwrite")
        .parquet(path)
    )


def write_chunk_grid(
    df,
    path: str,
    ts_col: str,
    lon_col: str,
    lat_col: str,
    chunk_days: int = 7,
    bits_per_axis: int = 4,
) -> dict:
    """Chunk-grid collection layout: the parquet re-expression of the
    reference's ZARR publication (utils_spi.py writes every product as
    chunked zarr to S3). Data lands partitioned by (time_chunk,
    cell_chunk) — a fixed time-window x Morton-cell grid — with a JSON
    manifest recording the chunk geometry and per-chunk row counts, so
    a reader (or the items API) can address any space-time chunk
    directly, exactly like a zarr chunk key.

    One shuffle on the chunk key; the manifest aggregates the same pass.
    Readers prune by partition directory (PartitionFilters), paying for
    only the chunks a bbox/time slice touches.
    """
    import json as _json

    from pyspark.sql import functions as F

    from pygeoapi_ingestor_spark.operators import spatial

    day_anchor = "2024-01-01"
    tchunk = (
        F.datediff(F.col(ts_col).cast("date"), F.lit(day_anchor).cast("date"))
        / chunk_days
    )
    chunked = df.withColumn(
        "time_chunk", F.floor(tchunk).cast("int")
    ).withColumn(
        "cell_chunk",
        spatial.morton_cell(lon_col, lat_col, bits_per_axis=bits_per_axis),
    )
    (
        chunked.repartition("time_chunk", "cell_chunk")
        .write.mode("overwrite")
        .partitionBy("time_chunk", "cell_chunk")
        .parquet(path)
    )
    written = df.sparkSession.read.parquet(path)
    counts = (
        written.groupBy("time_chunk", "cell_chunk").count().collect()
    )
    manifest = {
        "layout": "chunk_grid",
        "chunk_days": chunk_days,
        "bits_per_axis": bits_per_axis,
        "anchor": day_anchor,
        # record the column names so readers work for collections
        # written with non-default ts/lon/lat columns
        "ts_col": ts_col,
        "lon_col": lon_col,
        "lat_col": lat_col,
        "n_chunks": len(counts),
        "chunks": {
            f"{r['time_chunk']}.{r['cell_chunk']}": r["count"]
            for r in sorted(counts, key=lambda r: (r["time_chunk"], r["cell_chunk"]))
        },
    }
    jvm = df.sparkSession._jvm
    mpath = jvm.org.apache.hadoop.fs.Path(path.rstrip("/") + "/_chunk_manifest.json")
    fs = mpath.getFileSystem(df.sparkSession._jsc.hadoopConfiguration())
    out = fs.create(mpath, True)
    out.write(bytearray(_json.dumps(manifest, indent=1).encode()))
    out.close()
    return manifest


def read_chunk(spark, path: str, time_chunk: int, cell_chunk: int):
    """Address one space-time chunk of a chunk-grid collection; the
    partition filters prune the scan to that chunk's directory."""
    from pyspark.sql import functions as F

    return (
        spark.read.parquet(path)
        .filter(
            (F.col("time_chunk") == time_chunk)
            & (F.col("cell_chunk") == cell_chunk)
        )
    )


def merge_into_partitioned(
    changes,
    snapshot_path: str,
    key_cols: list[str],
    order_cols: list[str],
    op_col: str = "op",
    delete_op: str = "D",
    n_buckets: int = 16,
) -> dict:
    """Fact-scale MERGE INTO: the snapshot lives partitioned by a
    deterministic key-hash bucket, and a change batch rewrites ONLY the
    buckets it touches — the partition-pruned form of
    operators.temporal.apply_changes (and the scale path
    cdc_upsert_stream's docstring promises: at 100 TB you cannot
    rewrite the whole snapshot per batch).

    Bucket = pmod(hash(keys), n_buckets) — Spark's hash() is a fixed-
    seed Murmur3, stable across sessions, so the same key always lands
    in the same partition directory. The merge reads the touched
    buckets via partition pruning, applies MERGE semantics, and
    replaces exactly those directories with dynamic partition
    overwrite; untouched buckets' files are never opened or rewritten.

    Returns {touched_buckets, total_buckets, rows_written}.
    """
    from pyspark.sql import functions as F

    from pygeoapi_ingestor_spark.operators.temporal import apply_changes

    spark = changes.sparkSession
    bucket = F.pmod(F.hash(*[F.col(c) for c in key_cols]), F.lit(n_buckets)).cast(
        "int"
    )
    jvm = spark._jvm
    hadoop_path = jvm.org.apache.hadoop.fs.Path(snapshot_path)
    fs = hadoop_path.getFileSystem(spark._jsc.hadoopConfiguration())

    if not fs.exists(hadoop_path):
        init = changes.filter(F.col(op_col) != delete_op)
        w = [F.col(c).desc() for c in order_cols]
        from pyspark.sql import Window

        latest = (
            init.withColumn(
                "_rn",
                F.row_number().over(Window.partitionBy(*key_cols).orderBy(*w)),
            )
            .filter(F.col("_rn") == 1)
            .drop("_rn", op_col)
        )
        out = latest.withColumn("bucket", bucket)
        out.write.mode("overwrite").partitionBy("bucket").parquet(snapshot_path)
        # read the buckets back from the materialized snapshot instead of
        # re-running the dedup window a second time just to list them
        snap = spark.read.parquet(snapshot_path)
        return {
            "touched_buckets": sorted(
                r["bucket"] for r in snap.select("bucket").distinct().collect()
            ),
            "total_buckets": n_buckets,
            "rows_written": snap.count(),
        }

    touched = sorted(
        r["b"] for r in changes.select(bucket.alias("b")).distinct().collect()
    )
    base = (
        spark.read.parquet(snapshot_path)
        .filter(F.col("bucket").isin(touched))
        .drop("bucket")
    )
    merged = apply_changes(
        base, changes, key_cols, order_cols, op_col=op_col, delete_op=delete_op
    ).drop("src")
    # the merged plan READS the same files the overwrite will replace:
    # materialize it eagerly (lineage cut) BEFORE touching the snapshot,
    # or any post-write action replays the read over deleted files
    out = merged.withColumn("bucket", bucket).localCheckpoint(eager=True)
    n_rows = out.count()
    surviving = {r["bucket"] for r in out.select("bucket").distinct().collect()}
    prev_mode = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        out.write.mode("overwrite").partitionBy("bucket").parquet(snapshot_path)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev_mode)
        # release the checkpoint blocks (clearCache does not reach
        # RDD-level checkpoint storage — the connected_components fix).
        # BLOCKING: this is a job-write boundary; a fire-and-forget
        # unpersist leaves blocks visible to getRDDStorageInfo for an
        # arbitrary beat under load (the finalize_job contract race).
        # Leaf-walking helper: survives a projection-rooted `out`
        from pygeoapi_ingestor_spark.functions.storage import free_local_ckpt

        free_local_ckpt(out, blocking=True)
    # dynamic overwrite only replaces partitions PRESENT in the output:
    # a bucket whose every key was deleted would keep its stale
    # directory — drop those explicitly
    for b in touched:
        if b not in surviving:
            fs.delete(
                jvm.org.apache.hadoop.fs.Path(f"{snapshot_path}/bucket={b}"), True
            )
    return {
        "touched_buckets": touched,
        "total_buckets": n_buckets,
        "rows_written": n_rows,
    }


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


def _morton_py(x: int, y: int, bits: int) -> int:
    z = 0
    for i in range(bits):
        z |= ((x >> i) & 1) << (2 * i)
        z |= ((y >> i) & 1) << (2 * i + 1)
    return z


def chunk_keys_for_bbox(
    bbox: tuple[float, float, float, float],
    t0: str,
    t1: str,
    chunk_days: int,
    bits_per_axis: int,
    anchor: str = "2024-01-01",
) -> tuple[list[int], list[int]]:
    """The (time_chunk, cell_chunk) key sets a space-time slice touches —
    the zarr chunk-index computation, driver-side and O(cells in bbox)
    at the CHUNK resolution (bits_per_axis is small by design: chunks
    are coarse; fine-grained pruning happens inside each chunk via
    parquet min/max)."""
    import datetime as _dt
    import math as _math

    scale = (1 << bits_per_axis) - 1
    w, s, e, n = bbox

    def q(v, lo, span):
        import decimal as _dec

        scaled = (min(max(v, lo), lo + span) - lo) / span * scale
        # mirror spatial.morton_cell's F.round (BigDecimal HALF_UP of
        # the exact double) exactly. Python round() is half-to-even,
        # and floor(x + 0.5) breaks at doubles just under .5 (e.g.
        # 0.49999999999999994 + 0.5 rounds to 1.0 in FP) — only
        # Decimal(scaled).quantize(HALF_UP) reproduces Spark on every
        # representable double.
        cell = int(
            _dec.Decimal(scaled).quantize(0, rounding=_dec.ROUND_HALF_UP)
        )
        return min(scale, max(0, cell))

    x0, x1 = q(w, -180.0, 360.0), q(e, -180.0, 360.0)
    y0, y1 = q(s, -90.0, 180.0), q(n, -90.0, 180.0)
    cells = sorted(
        {
            _morton_py(x, y, bits_per_axis)
            for x in range(x0, x1 + 1)
            for y in range(y0, y1 + 1)
        }
    )
    a = _dt.date.fromisoformat(anchor)
    d0 = (_dt.date.fromisoformat(t0) - a).days
    d1 = (_dt.date.fromisoformat(t1) - a).days
    tc0, tc1 = _math.floor(d0 / chunk_days), _math.floor(d1 / chunk_days)
    return list(range(tc0, tc1 + 1)), cells


def read_chunks_bbox(
    spark,
    path: str,
    bbox: tuple[float, float, float, float],
    t0: str,
    t1: str,
):
    """Space-time slice of a chunk-grid collection: prunes on BOTH
    partition dimensions (time_chunk IN ..., cell_chunk IN ...) so the
    scan opens only the chunk directories the slice touches, then
    applies the exact bbox/time filter inside them. Reads the chunk
    geometry from the collection's manifest."""
    import json as _json

    from pyspark.sql import functions as F

    jvm = spark._jvm
    mpath = jvm.org.apache.hadoop.fs.Path(path.rstrip("/") + "/_chunk_manifest.json")
    fs = mpath.getFileSystem(spark._jsc.hadoopConfiguration())
    stream = fs.open(mpath)
    try:
        # py4j cannot fill a Python bytearray through read(byte[]);
        # route the copy through commons-io (ships with Hadoop)
        text = jvm.org.apache.commons.io.IOUtils.toString(
            stream, "UTF-8"
        )
        manifest = _json.loads(text)
    finally:
        stream.close()
    tchunks, cells = chunk_keys_for_bbox(
        bbox, t0, t1, manifest["chunk_days"], manifest["bits_per_axis"],
        manifest["anchor"],
    )
    w, s, e, n = bbox
    # column names come from the manifest (older manifests predate the
    # ts_col/lon_col/lat_col fields — fall back to the old defaults)
    ts_col = manifest.get("ts_col", "ts")
    lon_col = manifest.get("lon_col", "lon")
    lat_col = manifest.get("lat_col", "lat")
    return (
        spark.read.parquet(path)
        .filter(F.col("time_chunk").isin(tchunks))
        .filter(F.col("cell_chunk").isin(cells))
        .filter(
            (F.col(lon_col) >= w) & (F.col(lon_col) <= e)
            & (F.col(lat_col) >= s) & (F.col(lat_col) <= n)
        )
        .filter(
            (F.col(ts_col) >= F.lit(t0).cast("timestamp"))
            & (F.col(ts_col) < F.lit(t1).cast("timestamp"))
        )
    )


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


def collection_stats(spark, path: str) -> dict:
    """Storage observability for a collection: file/byte totals, per
    partition-directory byte sizes, and bytes-per-row — the numbers
    that drive compaction and retention decisions (files_per_partition
    creeping up says "compact"; bytes_per_row jumping says a schema or
    encoding regression). Footer-only row count (parquet metadata), no
    data scan.
    """
    jvm = spark._jvm
    root = jvm.org.apache.hadoop.fs.Path(path)
    fs = root.getFileSystem(spark._jsc.hadoopConfiguration())
    per_dir: dict[str, dict] = {}
    total_bytes = n_files = 0
    it = fs.listFiles(root, True)
    root_str = str(fs.makeQualified(root))
    while it.hasNext():
        f = it.next()
        name = f.getPath().getName()
        if name.startswith("_") or name.startswith("."):
            continue
        rel = str(f.getPath().getParent())[len(root_str):].strip("/")
        d = per_dir.setdefault(rel or ".", {"files": 0, "bytes": 0})
        d["files"] += 1
        d["bytes"] += f.getLen()
        total_bytes += f.getLen()
        n_files += 1
    n_rows = spark.read.parquet(path).count()  # metadata-only for parquet
    return {
        "n_files": n_files,
        "total_bytes": int(total_bytes),
        "n_rows": int(n_rows),
        "bytes_per_row": round(total_bytes / n_rows, 2) if n_rows else None,
        "partitions": dict(sorted(per_dir.items())),
    }


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
    step."""
    df.select(
        geojson_polygon_expr(w_col, s_col, e_col, n_col, props_cols).alias("value")
    ).write.mode(mode).text(path)
