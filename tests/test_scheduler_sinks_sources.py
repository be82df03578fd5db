from __future__ import annotations

import datetime

from pyspark.sql import functions as F

from pygeoapi_ingestor_spark.sinks import CollectionCatalog, write_collection
from pygeoapi_ingestor_spark.sinks.collections import compute_extents
from pygeoapi_ingestor_spark.sources import external
from pygeoapi_ingestor_spark.sources.readers import read_events
from pygeoapi_ingestor_spark.streaming import scheduler


def test_scheduler_config_and_cron():
    cfg = {
        "jobs": [
            {"name": "startup", "process": "p1", "frequency": "on-demand"},
            {"name": "hourly", "process": "p2", "frequency": "0 * * * *"},
            {"name": "monthly6", "process": "p3", "frequency": "0 12 6 * *",
             "inputs": {"x": 1}},
        ]
    }
    jobs = scheduler.parse_scheduler_config(cfg)
    assert [j.on_demand for j in jobs] == [True, False, False]

    at = datetime.datetime(2024, 3, 6, 12, 0)
    due = scheduler.due_jobs(jobs, at, include_on_demand=True)
    assert {j.name for j in due} == {"startup", "hourly", "monthly6"}
    due2 = scheduler.due_jobs(jobs, datetime.datetime(2024, 3, 7, 12, 30),
                              include_on_demand=False)
    assert due2 == []


def test_cron_vixie_semantics():
    # Sunday as 7 and as 0 both match a Sunday (2024-03-03)
    sunday = datetime.datetime(2024, 3, 3, 0, 0)
    assert scheduler.cron_matches("0 0 * * 7", sunday)
    assert scheduler.cron_matches("0 0 * * 0", sunday)
    # restricted dom AND dow => OR semantics (crontab(5))
    first_not_monday = datetime.datetime(2024, 3, 1, 0, 0)  # a Friday
    monday_not_first = datetime.datetime(2024, 3, 4, 0, 0)
    assert scheduler.cron_matches("0 0 1 * 1", first_not_monday)
    assert scheduler.cron_matches("0 0 1 * 1", monday_not_first)
    assert not scheduler.cron_matches("0 0 1 * 1", datetime.datetime(2024, 3, 5, 0, 0))
    # range with step
    assert scheduler.cron_matches("0 0 * * 1-5/2", datetime.datetime(2024, 3, 6, 0, 0))  # Wed
    assert not scheduler.cron_matches("0 0 * * 1-5/2", datetime.datetime(2024, 3, 5, 0, 0))  # Tue


def test_run_process_with_registry(spark, sf_dir):
    registry = {
        "count_events": lambda spark_, threshold=0.0: (
            read_events(spark_, sf_dir).filter(F.col("value") > threshold)
        )
    }
    job = scheduler.ScheduledProcess(
        name="j", process="count_events", frequency="on-demand",
        inputs={"threshold": 100.0},
    )
    df = scheduler.run_process(spark, registry, job)
    assert df.count() > 0


def test_collection_roundtrip(spark, sf_dir, tmp_path):
    ev = read_events(spark, sf_dir)
    daily = ev.withColumn("day", F.to_date("ts"))
    path = str(tmp_path / "events_collection")
    write_collection(daily, path, partition_by=["day"])

    extents = compute_extents(ev, ts_col="ts", value_cols=["value"])
    assert extents["n_rows"] == ev.count()
    assert extents["ts_begin"] < extents["ts_end"]

    cat = CollectionCatalog(str(tmp_path / "catalog.json"))
    assert not cat.exists("events_daily")
    cat.register("events_daily", path, extents)
    assert cat.exists("events_daily")

    report = cat.healthcheck(spark)
    assert report == [{"id": "events_daily", "ok": True, "error": None}]

    # partition pruning surface: reading one day's partition works
    one = spark.read.parquet(path).filter(F.col("day") == "2024-01-02")
    assert one.count() > 0

    # unhealthy path is reported, not raised
    cat.register("broken", str(tmp_path / "missing"), {})
    assert any(r["id"] == "broken" and not r["ok"] for r in cat.healthcheck(spark))


def test_external_sources_land_and_load(spark, tmp_path):
    ftp = external.ingest(spark, "ftp", str(tmp_path / "ftp"))
    assert ftp.count() == 100
    assert ftp.schema["obs_time"].dataType.typeName() == "timestamp"

    cds = external.ingest(spark, "cds", str(tmp_path / "cds"))
    assert cds.count() == 8 * 6 * 5
    assert cds.filter(F.col("tp") < 0).count() == 0

    stac = external.ingest(spark, "stac", str(tmp_path / "stac"))
    assert stac.count() == 12
    row = stac.orderBy("id").first()
    assert len(row["bbox"]) == 4 and row["asset_href"].endswith(".tif")


def test_geojson_export_roundtrip(spark, sf_dir, tmp_path):
    """GeoJSONL export writes one RFC 7946 Feature per line, distributed;
    reading it back preserves geometry and properties."""
    from pyspark.sql import functions as F

    from pygeoapi_ingestor_spark.sinks import export_geojsonl
    from pygeoapi_ingestor_spark.sources.readers import read_events

    ev = (
        read_events(spark, sf_dir)
        .withColumn("lon", F.lit(-10.0) + (F.col("user_id") % 10) * F.lit(2.5))
        .withColumn("lat", F.lit(35.0) + F.expr("(user_id div 10) % 10") * F.lit(1.5))
        .limit(200)
    )
    path = str(tmp_path / "features")
    export_geojsonl(ev, path, "lon", "lat", ["event_id", "event_type", "value"])

    back = spark.read.json(path)
    assert back.count() == 200
    row = back.filter(F.col("properties.event_id") == 0).collect()[0]
    assert row["type"] == "Feature"
    assert row["geometry"]["type"] == "Point"
    assert len(row["geometry"]["coordinates"]) == 2
    assert row["properties"]["event_type"] is not None


def test_geojsonl_reader_roundtrip(spark, sf_dir, tmp_path):
    """export_geojsonl -> read_geojsonl is a lossless round trip for
    Point features: coordinates and properties come back as columns."""
    from pyspark.sql import functions as F

    from pygeoapi_ingestor_spark.sinks import export_geojsonl
    from pygeoapi_ingestor_spark.sources.readers import read_events, read_geojsonl

    ev = (
        read_events(spark, sf_dir)
        .withColumn("lon", F.lit(-10.0) + (F.col("user_id") % 10) * F.lit(2.5))
        .withColumn("lat", F.lit(35.0) + F.expr("(user_id div 10) % 10") * F.lit(1.5))
        .limit(100)
    )
    path = str(tmp_path / "features")
    export_geojsonl(ev, path, "lon", "lat", ["event_id", "event_type", "value"])
    back = read_geojsonl(spark, path)
    assert set(back.columns) == {"lon", "lat", "event_id", "event_type", "value"}
    orig = {r["event_id"]: r for r in ev.select("event_id", "lon", "lat", "value").collect()}
    for r in back.collect():
        o = orig[r["event_id"]]
        assert abs(r["lon"] - o["lon"]) < 1e-9 and abs(r["lat"] - o["lat"]) < 1e-9
        assert abs(r["value"] - o["value"]) < 1e-9


def test_finalize_job_releases_persisted_artifacts(spark, sf_dir):
    from pygeoapi_ingestor_spark.plans import QUERIES
    from pygeoapi_ingestor_spark.streaming.scheduler import finalize_job

    # a job whose operator persists an index artifact
    QUERIES["dedup_containment"](spark, sf_dir).count()
    jsc = spark.sparkContext._jsc.sc()
    assert not jsc.getRDDStorageInfo() == ()  # artifact cached
    finalize_job(spark)
    assert jsc.getRDDStorageInfo() == () or len(jsc.getRDDStorageInfo()) == 0


def test_schema_diff_flags_drift(spark, sf_dir, tmp_path):
    from pygeoapi_ingestor_spark.sinks.collections import schema_diff
    from pygeoapi_ingestor_spark.sources.readers import read_events

    ev = read_events(spark, sf_dir)
    path = str(tmp_path / "drift_base")
    ev.limit(100).write.parquet(path)

    same = schema_diff(spark, path, ev)
    assert same["ok"] and not same["added"] and not same["removed"]

    drifted = (
        ev.withColumn("value", F.col("value").cast("string"))  # retype
        .drop("props")                                          # removal
        .withColumn("new_field", F.lit(1))                      # addition
    )
    d = schema_diff(spark, path, drifted)
    assert not d["ok"]
    assert d["added"] == ["new_field"]
    assert d["removed"] == ["props"]
    assert d["changed"] == {"value": ("double", "string")}

    # additions alone are append-safe
    add_only = ev.withColumn("extra", F.lit(0.0))
    assert schema_diff(spark, path, add_only)["ok"]


def test_apply_retention_drops_expired_partitions(spark, sf_dir, tmp_path):
    import os

    from pygeoapi_ingestor_spark.sinks.collections import apply_retention
    from pygeoapi_ingestor_spark.sources.readers import read_events

    ev = read_events(spark, sf_dir).withColumn("day", F.to_date("ts"))
    path = str(tmp_path / "retained")
    ev.write.partitionBy("day").parquet(path)
    all_days = sorted(
        d.split("=")[1] for d in os.listdir(path) if d.startswith("day=")
    )
    cutoff = all_days[len(all_days) // 2]

    preview = apply_retention(spark, path, "day", cutoff, dry_run=True)
    assert preview["dry_run"] and preview["dropped"] == [
        d for d in all_days if d < cutoff
    ]
    # dry run deleted nothing
    assert sorted(
        d.split("=")[1] for d in os.listdir(path) if d.startswith("day=")
    ) == all_days

    res = apply_retention(spark, path, "day", cutoff)
    assert res["dropped"] == preview["dropped"]
    remaining = sorted(
        d.split("=")[1] for d in os.listdir(path) if d.startswith("day=")
    )
    assert remaining == [d for d in all_days if d >= cutoff]
    # the collection still reads cleanly and holds exactly the kept days
    back = spark.read.parquet(path)
    assert sorted(str(r["day"]) for r in back.select("day").distinct().collect()) == remaining


def test_missing_partitions_backfill_plan(spark, sf_dir, tmp_path):
    from pygeoapi_ingestor_spark.sinks.collections import missing_partitions
    from pygeoapi_ingestor_spark.sources.readers import read_events

    ev = read_events(spark, sf_dir).withColumn("day", F.to_date("ts"))
    path = str(tmp_path / "backfill")
    # land only the first 10 days
    ev.filter(F.col("day") < "2024-01-11").write.partitionBy("day").parquet(path)
    missing = missing_partitions(spark, path, "day", "2024-01-01", "2024-01-15")
    assert missing == [f"2024-01-{d:02d}" for d in range(11, 16)]
    # a nonexistent collection needs the whole range
    assert len(
        missing_partitions(spark, str(tmp_path / "nope"), "day",
                           "2024-01-01", "2024-01-03")
    ) == 3


def test_backfill_lands_missing_days_idempotently(spark, sf_dir, tmp_path):
    from pygeoapi_ingestor_spark.sinks.collections import missing_partitions
    from pygeoapi_ingestor_spark.sources.readers import read_events

    ev = read_events(spark, sf_dir).withColumn("day", F.to_date("ts"))
    path = str(tmp_path / "bf")
    ev.filter(F.col("day") < "2024-01-04").write.partitionBy("day").parquet(path)

    registry = {
        "daily_slice": lambda spark_, day: ev.filter(F.col("day") == day)
    }
    res = scheduler.backfill(
        spark, registry, "daily_slice", path, "day", "2024-01-01", "2024-01-06"
    )
    assert res["planned"] == ["2024-01-04", "2024-01-05", "2024-01-06"]
    assert res["landed"] == res["planned"] and not res["failed"]
    # collection now complete over the range...
    assert missing_partitions(spark, path, "day", "2024-01-01", "2024-01-06") == []
    # ...with exactly the source's rows per backfilled day (no dupes)
    for day in res["landed"]:
        got = spark.read.parquet(path).filter(F.col("day") == day).count()
        exp = ev.filter(F.col("day") == day).count()
        assert got == exp
    # a second pass plans nothing — the idempotency contract
    res2 = scheduler.backfill(
        spark, registry, "daily_slice", path, "day", "2024-01-01", "2024-01-06"
    )
    assert res2["planned"] == [] and res2["landed"] == []
