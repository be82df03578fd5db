"""Spatial primitives for gridded/point data: bbox slicing, grid-cell
ids, and cell-partitioned aggregation.

Reference semantics:
- bbox selection: utils_spi.py:38-45 + ``sel``/``rio.clip`` slicing of
  fields to a living-lab envelope.
- spatial chunking: ZARR chunks the grid; our analog is a Z-order
  (Morton) cell id that keeps spatially-near rows in the same partition
  range — the at-rest layout that makes bbox queries prune at 100 TB.

All pure column expressions; no UDFs, no shuffles beyond the explicit
cell aggregation.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def bbox_filter(
    df: DataFrame,
    min_x: float,
    min_y: float,
    max_x: float,
    max_y: float,
    lon_col: str = "lon",
    lat_col: str = "lat",
) -> DataFrame:
    """Envelope selection (W, S, E, N inclusive)."""
    lat_ok = (F.col(lat_col) >= min_y) & (F.col(lat_col) <= max_y)
    if min_x <= max_x:
        lon_ok = (F.col(lon_col) >= min_x) & (F.col(lon_col) <= max_x)
    else:
        # antimeridian-crossing envelope (OGC W > E form): wrap around
        lon_ok = (F.col(lon_col) >= min_x) | (F.col(lon_col) <= max_x)
    return df.filter(lon_ok & lat_ok)


def bbox_agg_exprs(lon_col: str = "lon", lat_col: str = "lat") -> list[Column]:
    """The four OGC-order bbox aggregate expressions (W, S, E, N) for a
    collection's spatial extent registration (utils_spi.py:481-562
    registers [min_x, min_y, max_x, max_y] the same way)."""
    return [
        F.min(lon_col).alias("bbox_w"),
        F.min(lat_col).alias("bbox_s"),
        F.max(lon_col).alias("bbox_e"),
        F.max(lat_col).alias("bbox_n"),
    ]


def _interleave_bits(v: Column, n_bits: int, offset: int) -> Column:
    out = F.lit(0).cast("long")
    for i in range(n_bits):
        bit = F.shiftrightunsigned(v.cast("long"), i).bitwiseAND(F.lit(1))
        out = out.bitwiseOR(F.shiftleft(bit, 2 * i + offset))
    return out


def morton_cell(
    lon_col: str = "lon",
    lat_col: str = "lat",
    bits_per_axis: int = 12,
) -> Column:
    """Z-order cell id over the global lon/lat envelope.

    ``bits_per_axis=12`` → 4096x4096 cells (~0.09° ≈ 10 km at the
    equator). Sorting/partitioning by this id co-locates spatial
    neighborhoods, so bbox scans touch a contiguous id range.
    """
    scale = (1 << bits_per_axis) - 1
    # clamp to the valid envelope first: out-of-range coordinates would
    # otherwise overflow the bit budget and alias into distant cells
    lon = F.greatest(F.lit(-180.0), F.least(F.lit(180.0), F.col(lon_col)))
    lat = F.greatest(F.lit(-90.0), F.least(F.lit(90.0), F.col(lat_col)))
    x = F.round((lon + 180.0) / 360.0 * scale, 0).cast("long")
    y = F.round((lat + 90.0) / 180.0 * scale, 0).cast("long")
    return _interleave_bits(x, bits_per_axis, 0).bitwiseOR(
        _interleave_bits(y, bits_per_axis, 1)
    )


def polygon_edges_rows(polygons: dict[str, list[tuple[float, float]]]) -> list[tuple]:
    """Flatten polygon vertex rings into edge rows ``(zone, x1, y1, x2, y2)``.

    The ring closes implicitly (last vertex connects back to the first).
    This row shape is the engine-neutral at-rest form of a basin geometry
    table: both Spark (``createDataFrame``) and an external SQL oracle
    (``VALUES``) embed the identical float literals, so the crossing
    parity below is bit-identical across engines.
    """
    rows: list[tuple] = []
    for zone, ring in polygons.items():
        n = len(ring)
        for i in range(n):
            x1, y1 = ring[i]
            x2, y2 = ring[(i + 1) % n]
            rows.append((zone, float(x1), float(y1), float(x2), float(y2)))
    return rows


def crossing_expr(lon, lat) -> Column:
    """Ray-casting crossing indicator (1/0) for one polygon edge row
    (``x1,y1,x2,y2`` columns) against a point — the standard even-odd
    rule: a rightward ray from the point crosses the edge iff the edge
    spans the point's latitude (strict ``>`` on both ends, the PNPOLY
    convention) and the intersection lies right of the point.

    Nested ``when`` keeps the division inside the spanning branch, so
    horizontal edges (y1 == y2) never divide by zero — CASE is
    short-circuit in Spark and ANSI SQL alike, which is what lets one
    SQL text serve as both the plan and its oracle."""
    x1, y1, x2, y2 = (F.col(c) for c in ("x1", "y1", "x2", "y2"))
    xing = lon < x1 + (x2 - x1) * (lat - y1) / (y2 - y1)
    return (
        F.when((y1 > lat) != (y2 > lat), F.when(xing, 1).otherwise(0))
        .otherwise(0)
    )


def polygon_membership(
    points: DataFrame,
    edges: DataFrame,
    key_cols: list[str],
    zone_col: str = "zone",
    lon_col: str = "lon",
    lat_col: str = "lat",
) -> DataFrame:
    """Point-in-polygon zone assignment via broadcast edge table +
    ray-casting crossing parity — the spatial predicate behind the
    reference's per-basin clipping (utils_spi.py:566-567 ``rio.clip(
    [basin_geometry], ...)`` over ``gpd.read_file`` basins at :605),
    re-expressed as a pure SQL aggregate.

    ``points`` is the bounded station/grid-cell dimension (NEVER the
    fact table): membership is computed once per distinct coordinate and
    then broadcast-joined onto facts, so the raster-sized side pays one
    broadcast hash join and no per-row geometry. The edge table is tiny
    (sum of polygon vertex counts) and broadcast; the crossing count is
    one map-side-combinable aggregate per (point, zone); a point is
    inside iff its rightward ray crosses an odd number of edges
    (even-odd rule — handles concave rings with no extra machinery).

    Returns ``(key_cols..., zone)`` with one row per (point, containing
    zone); points outside every polygon produce no row.
    """
    lat, lon = F.col(lat_col), F.col(lon_col)
    j = points.crossJoin(F.broadcast(edges))
    return (
        j.groupBy(*key_cols, zone_col)
        .agg(F.sum(crossing_expr(lon, lat)).alias("_crossings"))
        .filter(F.col("_crossings") % 2 == 1)
        .drop("_crossings")
    )


def cell_aggregate(
    df: DataFrame,
    value_col: str,
    lon_col: str = "lon",
    lat_col: str = "lat",
    bits_per_axis: int = 8,
) -> DataFrame:
    """Aggregate a point/grid field per Z-order cell (spatial rollup —
    the tabular analog of coarsening a raster)."""
    cell = morton_cell(lon_col, lat_col, bits_per_axis).alias("cell_id")
    return df.groupBy(cell).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.avg(value_col).alias("cell_mean"),
        F.min(value_col).alias("cell_min"),
        F.max(value_col).alias("cell_max"),
        F.avg(lon_col).alias("centroid_lon"),
        F.avg(lat_col).alias("centroid_lat"),
    )


def band_classify(value: Column, levels: list[float]) -> Column:
    """Fixed-level band index for isoband extraction: band k means
    ``levels[k-1] <= v < levels[k]`` (band 0 below the first level,
    band len(levels) at/above the last) — the cell-wise half of
    ``gdal_contour -p -fl ...`` (reference:
    ingestor_knmi_evapo.py:454-457). Expressed as a sum of exact
    >=-comparisons so any SQL engine reproduces it bit-identically."""
    b = None
    for lv in levels:
        t = (value >= F.lit(float(lv))).cast("int")
        b = t if b is None else b + t
    return b


def dissolve_regions(
    cells: DataFrame,
    x_col: str,
    y_col: str,
    band_col: str,
    width: int,
    max_iter: int | None = None,
    driver_threshold: int = 1 << 20,
) -> DataFrame:
    """Dissolve same-band 4-adjacent grid cells into region labels —
    the polygonize step of isoband extraction (the reference shells to
    ``gdal_contour -p`` for this; here it is a pure DataFrame
    computation).

    Two-pass distributed CCL, the standard raster formulation:

    1. **Run collapse** — contiguous same-band cells within a row fold
       into one run labeled by its smallest cell id (two window passes
       keyed on the row — no iteration). This is the step that makes
       the iterative part cheap: a run spans many cells, so the run
       graph is a fraction of the cell graph and its diameter (what
       bounds propagation rounds) collapses with it.
    2. **Run-graph components** — vertical cell adjacencies (one
       shifted equi-join) map to run-pair edges; the dedup
       connected-components min-label kernel labels each region with
       its smallest run id, which IS the smallest cell id in the
       region (same fixpoint as cell-level propagation, so an external
       cell-level oracle reproduces the labels exactly).

    Cells ≪ points (the raster is already the coarsened form), so
    every stage runs on coarse data; isolated runs never enter the
    edge list and label themselves on the way out. Returns the cells
    frame plus ``node`` (y·width + x) and ``region``.
    """
    from pyspark.sql import Window

    from pygeoapi_ingestor_spark.operators.dedup import connected_components

    node = (F.col(y_col).cast("long") * width + F.col(x_col)).alias("node")
    # persist the raster: with_node feeds the run build AND the final
    # label join — without this, every consumer replays the upstream
    # cells aggregation (a fact-table scan in the isoband query)
    with_node = cells.withColumn("node", node).persist()
    row_w = Window.partitionBy(y_col).orderBy(x_col)
    runs = with_node.select(
        x_col, y_col, band_col, "node",
        F.when(
            F.col(x_col) - F.lag(x_col).over(row_w) == 1,
            (F.col(band_col) != F.lag(band_col).over(row_w)).cast("int"),
        ).otherwise(F.lit(1)).alias("_new_run"),
    ).withColumn(
        "_seg",
        F.sum("_new_run").over(
            row_w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    ).withColumn(
        "run_id",
        F.min("node").over(Window.partitionBy(y_col, "_seg")),
    ).select(x_col, y_col, band_col, "node", "run_id").persist()
    below = runs.select(
        F.col(x_col), (F.col(y_col) - 1).alias(y_col),
        F.col(band_col), F.col("run_id").alias("run_b"),
    )
    run_edges = (
        runs.join(below, [x_col, y_col, band_col])
        .select(F.col("run_id").alias("run_a"), "run_b")
        .filter(F.col("run_a") != F.col("run_b"))
        .distinct()
    )
    if width * width <= driver_threshold:
        # BOUNDED-SUMMARY path (r12): the run graph is bounded by the
        # RASTER (≤ width² runs, ≤ ~2·width² edges) — a value-domain
        # bound, not a data-scale bound, exactly like the mad_outliers
        # histogram and the IVF centroid build. Collect the edge list
        # and label components with driver-side union-find
        # (min-representative = the same smallest-run-id label as the
        # distributed min-label fixpoint), then broadcast the tiny
        # (run_id, region) map back. This replaces ~6-10 fixpoint
        # rounds × (join + eager localCheckpoint) with ONE aggregate
        # collect + a broadcast join — measured 9.5-11.5s → ~2s for
        # the sf0.1 isoband build, identical labels. The fact scan
        # already happened (runs derive from the aggregated raster);
        # at 100 TB the collected edge list does not grow with the
        # data, only with the grid resolution.
        # Collect COMPACTLY (ADVICE r12): at the threshold's own worst
        # case (~width² distinct edges at width²=1M cells) a Row-object
        # collect is hundreds of MB of driver heap; the Arrow transfer
        # is two int64 columns (~16 B/edge, ≤ ~32 MB worst case) — the
        # driver footprint now matches the bounded-summary claim.
        try:
            tbl = run_edges.toArrow()
            edges = list(
                zip(
                    tbl.column("run_a").to_pylist(),
                    tbl.column("run_b").to_pylist(),
                )
            )
        except Exception:  # very old Spark without toArrow — row path
            edges = [(r["run_a"], r["run_b"]) for r in run_edges.collect()]
        parent: dict = {}

        def _find(x):
            root = x
            while parent.get(root, root) != root:
                root = parent[root]
            while parent.get(x, x) != x:  # path compression
                parent[x], x = root, parent[x]
            return root

        for a_id, b_id in edges:
            ra, rb = _find(a_id), _find(b_id)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        # roots only ever decrease at a union, and every id starts as
        # its own root, so the final root IS the component minimum —
        # the same label the distributed min-label fixpoint converges
        # to (and the label the SQL oracle reproduces)
        seen = {n for e in edges for n in e}
        mapping = [(int(n), int(_find(n))) for n in seen]
        comp = runs.sparkSession.createDataFrame(
            mapping, schema="node long, comp long"
        )
        comp = F.broadcast(comp)
    else:
        # distributed min-label fixpoint for rasters too large to
        # summarize driver-side. steps_per_round=2 measured best on
        # the run graph (sf0.1: 10.8s at 1 hop/round, 7.0s at 2,
        # plan-depth regression past 4). The hop budget defaults to
        # the worst POSSIBLE path on this grid (a serpentine region
        # has ~width² runs): the loop exits at the fixpoint, so real
        # rasters still converge in a few rounds — the bound only
        # prevents a legitimate long thin region from spuriously
        # raising, never adds work
        if max_iter is None:
            max_iter = max(96, (width * width + 1) // 2)
        comp = connected_components(
            run_edges, a_col="run_a", b_col="run_b", max_iter=max_iter,
            steps_per_round=2,
        )
    labeled = runs.join(
        comp.select(F.col("node").alias("run_id"), F.col("comp").alias("region")),
        "run_id",
        "left",
    ).withColumn("region", F.coalesce(F.col("region"), F.col("run_id")))
    return with_node.join(
        labeled.select("node", "region"), "node"
    )
