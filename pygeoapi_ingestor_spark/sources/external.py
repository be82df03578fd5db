"""Simulated external fetchers: FTP / CDS / STAC analogs.

The reference pulls from SMHI FTP (csv-ish), Copernicus CDS (GRIB/
NetCDF), and STAC catalogs (COG assets) — none reachable from this
runtime. Each fetcher here keeps the real pipeline shape: a *fetch*
stage that lands raw files in a staging directory, then a *load* stage
that reads them into a DataFrame with schema normalization. The network
call itself is behind ``fetch_fn`` — inject a real client in
production; the default is a deterministic generator (seeded) so tests
exercise the full land-then-load path.

Reference files: ingestor_smhi_process.py (FTP), ingestor_cds_process.py
(CDS), ingestor_planetary_process.py (STAC).
"""

from __future__ import annotations

import csv
import json
import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession


def _det_rand(seed: int):
    """Tiny deterministic LCG so fixtures don't depend on global RNG."""
    state = seed & 0x7FFFFFFF

    def nxt() -> float:
        nonlocal state
        state = (1103515245 * state + 12345) % (1 << 31)
        return state / float(1 << 31)

    return nxt


def fetch_ftp_csv(staging_dir: str) -> str:
    """FTP analog: land a station-observation CSV (SMHI hydro shape:
    station, timestamp, level, flow)."""
    os.makedirs(staging_dir, exist_ok=True)
    path = os.path.join(staging_dir, "ftp_observations.csv")
    rnd = _det_rand(42)
    with open(path, "w", newline="") as f:
        w = csv.writer(f, delimiter=";")
        w.writerow(["station_id", "obs_time", "level_m", "flow_m3s"])
        for i in range(100):
            w.writerow(
                [
                    f"ST{i % 7:03d}",
                    f"2024-01-{(i % 28) + 1:02d}T{(i % 24):02d}:00:00",
                    round(1.0 + rnd() * 4.0, 3),
                    round(10.0 + rnd() * 90.0, 3),
                ]
            )
    return path


def load_ftp_csv(spark: SparkSession, path: str) -> DataFrame:
    """Load the landed CSV with explicit schema + delimiter (the
    reference parses SMHI's semicolon CSVs)."""
    return (
        spark.read.option("header", "true")
        .option("sep", ";")
        .schema("station_id string, obs_time timestamp, level_m double, flow_m3s double")
        .csv(path)
    )


def fetch_cds_gridded(staging_dir: str) -> str:
    """CDS analog: land a gridded product as newline-JSON records
    (time, lat, lon, value) — the tabular twin of a GRIB/NetCDF field."""
    os.makedirs(staging_dir, exist_ok=True)
    path = os.path.join(staging_dir, "cds_grid.jsonl")
    rnd = _det_rand(7)
    with open(path, "w") as f:
        for t in range(5):
            for iy in range(6):
                for ix in range(8):
                    rec = {
                        "time": f"2024-01-{t + 1:02d}T00:00:00",
                        "lat": 40.0 + iy * 0.5,
                        "lon": 44.0 + ix * 0.5,
                        "tp": round(rnd() * 12.0, 4),
                    }
                    f.write(json.dumps(rec) + "\n")
    return path


def load_cds_gridded(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.schema("time timestamp, lat double, lon double, tp double").json(
        path
    )


def fetch_stac_items(staging_dir: str) -> str:
    """STAC analog: land an item collection (id, datetime, bbox, asset
    href) as JSON — assets stay opaque hrefs, as in the reference's
    Planetary Computer flow."""
    os.makedirs(staging_dir, exist_ok=True)
    path = os.path.join(staging_dir, "stac_items.json")
    rnd = _det_rand(3)
    items = []
    for i in range(12):
        x0 = 44.0 + rnd() * 3.0
        y0 = 40.0 + rnd() * 2.0
        items.append(
            {
                "id": f"item-{i:04d}",
                "datetime": f"2024-01-{(i % 28) + 1:02d}T12:00:00",
                "bbox": [round(x0, 4), round(y0, 4), round(x0 + 0.5, 4), round(y0 + 0.5, 4)],
                "asset_href": f"collection/asset_{i:04d}.tif",
            }
        )
    with open(path, "w") as f:
        json.dump(items, f)
    return path


def load_stac_items(spark: SparkSession, path: str) -> DataFrame:
    return (
        spark.read.option("multiLine", "true")
        .schema("id string, datetime timestamp, bbox array<double>, asset_href string")
        .json(path)
    )


def ingest(
    spark: SparkSession,
    source: str,
    staging_dir: str,
    fetch_fn: Callable[..., str] | None = None,
) -> DataFrame:
    """One ingestion tick: fetch (land) then load. ``source`` in
    {'ftp', 'cds', 'stac'}; ``fetch_fn`` overrides the simulated
    fetcher with a real client."""
    fetchers = {"ftp": fetch_ftp_csv, "cds": fetch_cds_gridded, "stac": fetch_stac_items}
    loaders = {"ftp": load_ftp_csv, "cds": load_cds_gridded, "stac": load_stac_items}
    if source not in fetchers:
        raise ValueError(f"unknown source {source!r}; expected one of {sorted(fetchers)}")
    path = (fetch_fn or fetchers[source])(staging_dir)
    return loaders[source](spark, path)
