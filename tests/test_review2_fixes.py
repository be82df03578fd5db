"""Regression tests for the second review pass: API hardening, catalog
locking, spatial clamping/antimeridian, regrid guards."""

from __future__ import annotations

import datetime
import threading

import pytest
from pyspark.sql import functions as F

from pygeoapi_ingestor_spark.api import ProcessAPI
from pygeoapi_ingestor_spark.operators import regrid, spatial
from pygeoapi_ingestor_spark.processes import IngestProcess
from pygeoapi_ingestor_spark.sinks import CollectionCatalog
from pygeoapi_ingestor_spark.sources import external


def test_api_limit_is_capped_and_validated(spark, sf_dir):
    api = ProcessAPI(default_sf_dir=sf_dir)
    res = api.execute(spark, "token_count", {"limit": 10**9})
    assert res["status"] == "successful"
    assert res["value"]["n_rows_sampled"] <= 100
    bad = api.execute(spark, "token_count", {"limit": "abc"})
    assert bad["status"] == "failed"
    neg = api.execute(spark, "token_count", {"limit": -5})
    assert neg["status"] == "successful" and neg["value"]["n_rows_sampled"] == 0


def test_api_query_errors_are_dicts_and_rows_json_safe(spark, sf_dir):
    import json

    api = ProcessAPI(default_sf_dir=sf_dir)
    bad = api.execute(spark, "q1_pricing_summary", {"sf_dir": "/nonexistent"})
    assert bad["status"] == "failed" and bad["message"]

    res = api.execute(spark, "collection_healthcheck", {"limit": 3})
    json.dumps(res)  # timestamps must have been isoformatted
    assert isinstance(res["value"]["rows"][0]["ts_begin"], str)


def test_api_rejects_shadowing_ingestor(spark, tmp_path):
    api = ProcessAPI()
    cat = CollectionCatalog(str(tmp_path / "c.json"))
    proc = IngestProcess(
        collection_id="q1_pricing_summary",
        fetch=lambda s: external.ingest(s, "ftp", str(tmp_path / "st")),
        transform=lambda df: df, out_path=str(tmp_path / "o"), catalog=cat,
    )
    with pytest.raises(ValueError):
        api.register_ingestor(proc)


def test_catalog_concurrent_register_loses_nothing(spark, tmp_path):
    cat = CollectionCatalog(str(tmp_path / "cat.json"))
    ids = [f"c{i}" for i in range(16)]
    threads = [
        threading.Thread(target=cat.register, args=(cid, f"/data/{cid}", {}))
        for cid in ids
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert all(cat.exists(cid) for cid in ids)


def test_bbox_antimeridian_wrap(spark):
    pts = spark.createDataFrame(
        [(175.0, 0.0), (-175.0, 0.0), (0.0, 0.0)], "lon double, lat double"
    )
    got = spatial.bbox_filter(pts, 170.0, -10.0, -170.0, 10.0).collect()
    assert sorted(r["lon"] for r in got) == [-175.0, 175.0]


def test_morton_clamps_out_of_range(spark):
    pts = spark.createDataFrame(
        [(0, 190.0, 50.0), (1, 180.0, 50.0), (2, -500.0, 0.0), (3, -180.0, 0.0)],
        "pid int, lon double, lat double",
    )
    cells = {r["pid"]: r["c"] for r in pts.select("pid", spatial.morton_cell().alias("c")).collect()}
    assert cells[0] == cells[1]  # 190 clamps to 180
    assert cells[2] == cells[3]  # -500 clamps to -180


def test_regrid_rejects_reserved_columns_and_null_axes(spark, tmp_path):
    grid = external.ingest(spark, "cds", str(tmp_path / "cds"))
    bad_targets = spark.createDataFrame(
        [(datetime.datetime(2024, 1, 1), 40.0, 44.0, "x")],
        "time timestamp, lat double, lon double, corner string",
    )
    with pytest.raises(ValueError, match="collide"):
        regrid.bilinear_regrid(grid, bad_targets)

    null_grid = grid.withColumn(
        "lat", F.when(F.col("lon") == 44.0, None).otherwise(F.col("lat"))
    )
    # null coordinates are excluded from the axes rather than crashing
    ok_targets = spark.createDataFrame(
        [(datetime.datetime(2024, 1, 1), 40.25, 45.25)],
        "time timestamp, lat double, lon double",
    )
    out = regrid.bilinear_regrid(null_grid, ok_targets).collect()
    assert len(out) == 1


def test_token_gate_requires_secret_match(spark, tmp_path, monkeypatch):
    """With a configured secret, only the exact token passes; omitted
    params never auto-pass."""
    import pytest

    from pygeoapi_ingestor_spark.processes import (
        IngestProcess,
        ProcessorExecuteError,
    )
    from pygeoapi_ingestor_spark.sinks.collections import CollectionCatalog

    cat = CollectionCatalog(str(tmp_path / "cat.json"))
    proc = IngestProcess(
        "c1", fetch=lambda s: s.range(3), transform=lambda d: d,
        out_path=str(tmp_path / "c1"), catalog=cat,
    )
    # omitted params: no auto-token
    with pytest.raises(ProcessorExecuteError):
        proc.execute(spark, None)
    monkeypatch.setenv(IngestProcess.TOKEN_ENV, "s3cret")
    with pytest.raises(ProcessorExecuteError):
        proc.execute(spark, {"token": "wrong"})
    res = proc.execute(spark, {"token": "s3cret"})
    assert res.status == "OK"


def test_cron_dow_range_ending_in_seven():
    """'5-7' (Fri-Sun) must match Friday, Saturday AND Sunday; wrap
    ranges like 6-1 cover Sat..Mon."""
    import datetime

    from pygeoapi_ingestor_spark.streaming.scheduler import cron_matches

    fri = datetime.datetime(2024, 1, 5, 0, 0)   # Friday
    sat = datetime.datetime(2024, 1, 6, 0, 0)
    sun = datetime.datetime(2024, 1, 7, 0, 0)
    mon = datetime.datetime(2024, 1, 8, 0, 0)
    for d, want in [(fri, True), (sat, True), (sun, True), (mon, False)]:
        assert cron_matches("0 0 * * 5-7", d) is want, d
    for d, want in [(sat, True), (sun, True), (mon, True), (fri, False)]:
        assert cron_matches("0 0 * * 6-1", d) is want, d


def test_read_table_rebuilds_any_ns_column(spark, tmp_path):
    """A ns-typed parquet read AFTER read_events (flag already flipped)
    must still surface proper timestamps, not raw longs."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from pygeoapi_ingestor_spark.sources.readers import read_events, read_table

    read_events(spark, "/root/testdata/sf0.001")  # flips nanosAsLong
    t = pa.table({
        "id": pa.array([1, 2], pa.int64()),
        "created": pa.array([1704067200_000_000_000, 1704067260_500_000_000],
                            pa.timestamp("ns")),
    })
    pq.write_table(t, str(tmp_path / "other.parquet"))
    df = read_table(spark, str(tmp_path), "other")
    assert dict(df.dtypes)["created"] == "timestamp"
    rows = sorted(df.collect(), key=lambda r: r["id"])
    assert rows[0]["created"].year == 2024
    assert rows[1]["created"].microsecond == 500000


def test_salt_spreads_duplicate_rows(spark):
    """Fully-identical rows must fan out across salts (the hot-key case
    salting exists for)."""
    from pyspark.sql import functions as F

    from pygeoapi_ingestor_spark.functions.skew import with_salt

    dup = spark.range(2000).select(
        F.lit("hot").alias("k"), F.lit(1.0).alias("v")
    ).repartition(8)
    n_salts = with_salt(dup, 16).select("_salt").distinct().count()
    assert n_salts >= 8
