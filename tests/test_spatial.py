from __future__ import annotations

from pyspark.sql import functions as F

from pygeoapi_ingestor_spark.operators import spatial
from pygeoapi_ingestor_spark.sources import external


def test_bbox_filter(spark, tmp_path):
    grid = external.ingest(spark, "cds", str(tmp_path / "cds"))
    # full grid spans lon 44..47.5, lat 40..42.5
    inside = spatial.bbox_filter(grid, 45.0, 41.0, 46.0, 42.0)
    rows = inside.select("lon", "lat").distinct().collect()
    assert rows
    assert all(45.0 <= r["lon"] <= 46.0 and 41.0 <= r["lat"] <= 42.0 for r in rows)
    # empty envelope -> empty result, no error
    assert spatial.bbox_filter(grid, -10, -10, -5, -5).count() == 0


def test_morton_cell_locality(spark):
    pts = spark.createDataFrame(
        [
            (0, 10.0, 50.0),
            (1, 10.0001, 50.0001),   # ~10 m from point 0
            (2, -120.0, -30.0),      # far away
        ],
        "pid int, lon double, lat double",
    )
    cells = {r["pid"]: r["c"] for r in pts.select("pid", spatial.morton_cell().alias("c")).collect()}
    assert cells[0] == cells[1]
    assert cells[0] != cells[2]
    assert all(v >= 0 for v in cells.values())


def test_dissolve_regions_matches_flood_fill(spark):
    """The run-collapse + min-label dissolve must produce exactly the
    same cell partition as a literal 4-neighbor flood fill, on a
    synthetic raster with concentric bands, a diagonal (touching only
    at corners — must NOT merge), and isolated cells."""
    from pygeoapi_ingestor_spark.operators.spatial import dissolve_regions

    W = 12
    def band_of(x, y):
        # concentric square rings + a diagonal stripe of a third band
        if x == y and x % 2 == 0:
            return 7  # diagonal: same band, corner-touching -> isolated
        d = max(abs(x - W // 2), abs(y - W // 2))
        return d // 2

    cells = [(x, y, band_of(x, y)) for x in range(W) for y in range(W)]
    df = spark.createDataFrame(cells, "x long, y long, band int")
    got = {
        r["node"]: r["region"]
        for r in dissolve_regions(df, "x", "y", "band", width=W).collect()
    }

    # reference flood fill
    grid = {(x, y): b for x, y, b in cells}
    seen, regions = set(), {}
    for (x, y) in sorted(grid, key=lambda c: (c[1] * W + c[0])):
        if (x, y) in seen:
            continue
        stack, comp = [(x, y)], []
        seen.add((x, y))
        while stack:
            cx, cy = stack.pop()
            comp.append((cx, cy))
            for nx, ny in ((cx+1,cy),(cx-1,cy),(cx,cy+1),(cx,cy-1)):
                if (nx, ny) in grid and (nx, ny) not in seen \
                        and grid[nx, ny] == grid[cx, cy]:
                    seen.add((nx, ny))
                    stack.append((nx, ny))
        label = min(cy * W + cx for cx, cy in comp)
        for cx, cy in comp:
            regions[cy * W + cx] = label

    assert got == regions
    # the corner-touching diagonal cells must each be their own region
    diag = [y * W + x for x in range(W) for y in range(W)
            if band_of(x, y) == 7]
    assert all(regions[n] == n for n in diag)


def test_dissolve_driver_and_distributed_paths_equal(spark):
    """The r12 bounded-summary dissolve (driver union-find over the
    raster-bounded run graph) must label identically to the
    distributed min-label fixpoint — min-root union-find and the
    fixpoint both converge to the component-minimum id."""
    import random

    from pyspark.sql import functions as F

    from pygeoapi_ingestor_spark.operators.spatial import dissolve_regions

    rng = random.Random(7)
    W = 24
    rows = [
        (x, y, rng.randint(0, 2))
        for x in range(W) for y in range(W) if rng.random() < 0.8
    ]
    df = spark.createDataFrame(rows, "x long, y long, band int")
    a = sorted(
        map(tuple, dissolve_regions(df, "x", "y", "band", width=W)
            .select("node", "region").collect())
    )
    b = sorted(
        map(tuple, dissolve_regions(
            df, "x", "y", "band", width=W, driver_threshold=0)
            .select("node", "region").collect())
    )
    assert a == b and a, "both label paths must agree"
