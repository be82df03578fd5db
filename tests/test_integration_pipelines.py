"""End-to-end pipeline integration tests telling the reference-parity
story: the SPI ingestion arc (resample -> SPI -> zonal stats -> store ->
register) and scheduler-driven execution; plus a planted-near-duplicate
quality check for the LSH dedup path.
"""

from __future__ import annotations

import datetime

from pyspark.sql import functions as F

from pygeoapi_ingestor_spark import processes
from pygeoapi_ingestor_spark.operators import dedup, indices, temporal, zonal
from pygeoapi_ingestor_spark.sinks import CollectionCatalog
from pygeoapi_ingestor_spark.sources.readers import read_events
from pygeoapi_ingestor_spark.streaming import scheduler


def test_spi_pipeline_end_to_end(spark, sf_dir, tmp_path):
    """The reference SPI process arc (ingestor_cds_spi_historic_process +
    utils_spi), tabular: daily totals -> gamma SPI -> per-zone stats ->
    partitioned collection -> catalog registration."""
    cat = CollectionCatalog(str(tmp_path / "cat.json"))

    def fetch(s):
        return read_events(s, sf_dir)

    def transform(ev):
        daily = temporal.resample(
            ev, ts_col="ts", series_cols=["event_type"], value_col="value",
            freq="day", aggs={"daily_total": "sum"},
        )
        spi = indices.spi(
            daily, series_cols=["event_type"], bucket_col="bucket",
            value_col="daily_total", spi_ts=1,
        )
        zones = spark.createDataFrame(
            [("click", "zoneA"), ("error", "zoneA"), ("purchase", "zoneB"),
             ("signup", "zoneB"), ("view", "zoneB")],
            "event_type string, zone string",
        )
        return zonal.zonal_stats(
            spi, zones, join_key="event_type", zone_col="zone",
            bucket_col=F.date_trunc("week", F.col("bucket")).alias("week"),
            value_col="spi", percentiles=(0.05, 0.5, 0.95),
        )

    proc = processes.IngestProcess(
        collection_id="spi_zonal", fetch=fetch, transform=transform,
        out_path=str(tmp_path / "spi_zonal"), catalog=cat,
        ts_col="week", value_cols=["p50"],
    )
    res = proc.execute(spark, {"token": "t"})
    assert res.status == processes.OK

    out = spark.read.parquet(str(tmp_path / "spi_zonal"))
    rows = out.collect()
    assert len(rows) > 0
    # SPI medians are standardized: within a plausible z-range
    assert all(abs(r["p50"]) < 4 for r in rows if r["p50"] is not None)
    assert cat.healthcheck(spark)[0]["ok"]


def test_scheduler_drives_registered_processes(spark, sf_dir, tmp_path):
    """scheduler.yaml-shaped config end-to-end: due jobs execute through
    the process registry (init_main.py + scheduler.sh analog)."""
    ran = []
    registry = {
        "count_by_type": lambda s, sf: (
            ran.append("count_by_type")
            or read_events(s, sf).groupBy("event_type").count()
        ),
    }
    jobs = scheduler.parse_scheduler_config(
        {"jobs": [
            {"name": "boot-count", "process": "count_by_type",
             "frequency": "on-demand", "inputs": {"sf": sf_dir}},
            {"name": "never", "process": "count_by_type",
             "frequency": "0 0 29 2 *", "inputs": {"sf": sf_dir}},
        ]}
    )
    due = scheduler.due_jobs(jobs, datetime.datetime(2024, 5, 1, 10, 30), True)
    assert [j.name for j in due] == ["boot-count"]
    df = scheduler.run_process(spark, registry, due[0])
    assert df.count() == 5 and ran == ["count_by_type"]


def test_lsh_finds_planted_near_duplicates(spark):
    """Quality check: documents with ~90% shingle overlap must surface as
    LSH candidates with est_jaccard near the true value; unrelated docs
    must not pair with them."""
    base = " ".join(f"tok{i}" for i in range(100))
    near = " ".join(f"tok{i}" for i in range(5, 100)) + " x1 x2 x3 x4 x5"
    rows = [(0, base), (1, near)]
    # unrelated docs from a disjoint vocabulary
    for i in range(2, 40):
        rows.append((i, " ".join(f"v{i}_{j}" for j in range(80))))
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    pairs = {
        (r["doc_a"], r["doc_b"]): r["est_jaccard"]
        for r in dedup.minhash_lsh_pairs(docs, "doc_id", "text").collect()
    }
    assert (0, 1) in pairs
    exact = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in dedup.ngram_jaccard_pairs(docs, "doc_id", "text", threshold=0.0).collect()
    }
    true_j = exact[(0, 1)]
    assert true_j > 0.7
    assert abs(pairs[(0, 1)] - true_j) < 0.25
    # no unrelated doc pairs with the planted pair
    assert all({a, b} <= {0, 1} for (a, b) in pairs)


def test_danger_levels_publication_arc(spark, sf_dir, tmp_path):
    """r6 verdict item 7: the full ll_nl_danger_levels execute arc
    composed end-to-end from the STREAMING path — event stream ->
    windowed danger feed -> collection publish + catalog register ->
    items API page -> the reference's result_json payload
    ({iso_week: color}, ll_nl_danger_levels.py:139-151) written to the
    bucket path. Pins the composition, not just the parts."""
    import json

    from pygeoapi_ingestor_spark.api import ProcessAPI
    from pygeoapi_ingestor_spark.operators import spatial
    from pygeoapi_ingestor_spark.plans.queries_etl import (
        DANGER_COLORS,
        ISO_LEVELS,
    )
    from pygeoapi_ingestor_spark.streaming import pipeline

    src = str(tmp_path / "danger_src")
    ev = read_events(spark, sf_dir)
    ev.coalesce(2).write.mode("overwrite").json(src)

    # 1. continuous feed -> registered collection (one availableNow tick,
    # append mode: the windows the 1-day watermark has closed land)
    cat = CollectionCatalog(str(tmp_path / "cat.json"))
    stream = pipeline.read_event_stream(spark, src, fmt="json")
    feed = pipeline.danger_levels_stream(stream)
    coll = str(tmp_path / "danger_coll")
    pipeline.run_to_collection(
        feed, "danger_levels", coll, str(tmp_path / "ckpt"),
        cat, ts_col="window_start",
    )
    assert cat.exists("danger_levels")
    assert cat.healthcheck(spark)[0]["ok"]

    # 2. the /items read surface pages the published feed
    api = ProcessAPI()
    page = api.items(
        spark, coll, properties={"event_type": "click"},
        sort_col="window_start", limit=10,
    )
    assert page["numberReturned"] > 0
    assert {"window_start", "window_max", "color"} <= set(
        page["features"][0]
    )

    # 3. execute -> result_json: the reference's week/month/value/color
    # payload, written to the "bucket" path like the process does
    weekly = (
        spark.read.parquet(coll)
        .filter(F.col("event_type") == "click")
    )
    payload = pipeline.danger_levels_result_json(weekly)
    out_file = tmp_path / "result.json"
    out_file.write_text(json.dumps(payload))
    got = json.loads(out_file.read_text())

    # shape: {week: color} dict + full series rows
    assert got["weeks"] and got["series"]
    assert set(got["weeks"].values()) <= set(DANGER_COLORS)
    assert all(1 <= int(w) <= 53 for w in got["weeks"])
    for row in got["series"]:
        assert {"week", "month", "value", "color"} == set(row)
        assert 1 <= row["month"] <= 12

    # the streamed payload must classify exactly like the batch ladder
    batch = (
        ev.filter(F.col("event_type") == "click")
        .groupBy(F.window("ts", "7 days").alias("w"))
        .agg(F.max("value").alias("window_max"))
        .select(
            F.col("w.end").alias("window_end"), "window_max",
            F.element_at(
                F.array(*[F.lit(c) for c in DANGER_COLORS]),
                spatial.band_classify(F.col("window_max"), ISO_LEVELS)
                + F.lit(1),
            ).alias("color"),
        )
    )
    exp = pipeline.danger_levels_result_json(batch)
    assert got["weeks"].items() <= {str(k): v for k, v in exp["weeks"].items()}.items()


def test_result_json_labels_by_last_included_day(spark):
    """Regression (round-7 review): window_end is the EXCLUSIVE bound —
    a July window [Jul 25, Aug 1) must publish July's week/month, not
    August's."""
    import datetime

    from pygeoapi_ingestor_spark.streaming import pipeline

    df = spark.createDataFrame(
        [(datetime.datetime(2024, 8, 1), 120.0, "green")],
        "window_end timestamp, window_max double, color string",
    )
    payload = pipeline.danger_levels_result_json(df)
    row = payload["series"][0]
    last_day = datetime.date(2024, 7, 31)
    assert row["month"] == 7
    assert row["week"] == last_day.isocalendar()[1]
    assert payload["weeks"] == {last_day.isocalendar()[1]: "green"}
