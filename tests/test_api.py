from __future__ import annotations

from pyspark.sql import functions as F

from pygeoapi_ingestor_spark.api import ProcessAPI
from pygeoapi_ingestor_spark.processes import IngestProcess
from pygeoapi_ingestor_spark.sinks import CollectionCatalog
from pygeoapi_ingestor_spark.sources import external


def test_list_and_execute_query_process(spark, sf_dir):
    api = ProcessAPI(default_sf_dir=sf_dir)
    listing = api.list_processes()
    ids = {p["id"] for p in listing}
    assert "q1_pricing_summary" in ids and len(ids) >= 51

    res = api.execute(spark, "q1_pricing_summary")
    assert res["status"] == "successful"
    assert res["value"]["n_rows_sampled"] == 6
    assert {"l_returnflag", "sum_qty"} <= set(res["value"]["rows"][0])

    bad = api.execute(spark, "nope")
    assert bad["status"] == "failed" and "unknown process" in bad["message"]


def test_execute_ingestor_process(spark, tmp_path):
    api = ProcessAPI()
    cat = CollectionCatalog(str(tmp_path / "cat.json"))
    api.register_ingestor(
        IngestProcess(
            collection_id="stac_items",
            fetch=lambda s: external.ingest(s, "stac", str(tmp_path / "stage")),
            transform=lambda df: df.withColumn("day", F.to_date("datetime")),
            out_path=str(tmp_path / "coll"),
            catalog=cat,
            ts_col="datetime",
        )
    )
    assert any(p["id"] == "stac_items" and p["kind"] == "ingestor" for p in api.list_processes())

    res = api.execute(spark, "stac_items", {"token": "t"})
    assert res["status"] == "ok" and res["value"]["n_rows"] == 12
    # idempotent second run
    res2 = api.execute(spark, "stac_items", {"token": "t"})
    assert res2["status"] == "skipped"
    # validation failure surfaces as failed, not an exception
    res3 = api.execute(spark, "stac_items", {"force": True})
    assert res3["status"] == "failed"


def test_items_paging_filters_pushdown(spark, sf_dir, tmp_path):
    from pyspark.sql import functions as F

    from pygeoapi_ingestor_spark.sources.readers import read_events

    api = ProcessAPI(default_sf_dir=sf_dir)
    path = str(tmp_path / "coll")
    read_events(spark, sf_dir).write.mode("overwrite").parquet(path)

    # datetime + property filter, keyset paging: two disjoint pages
    kw = dict(
        datetime_range=("2024-01-02", "2024-01-20"),
        properties={"event_type": "click"},
        sort_col="event_id",
        limit=5,
        count_matched=True,
    )
    p1 = api.items(spark, path, offset=0, **kw)
    p2 = api.items(spark, path, offset=5, **kw)
    assert p1["numberReturned"] == 5 and p2["numberReturned"] == 5
    ids1 = [r["event_id"] for r in p1["features"]]
    ids2 = [r["event_id"] for r in p2["features"]]
    assert ids1 == sorted(ids1) and ids2 == sorted(ids2)
    assert max(ids1) < min(ids2)
    assert p1["numberMatched"] == p2["numberMatched"] > 10
    assert all(r["event_type"] == "click" for r in p1["features"] + p2["features"])

    # the filters must reach the parquet scan
    df = spark.read.parquet(path).filter(
        (F.col("ts") >= F.lit("2024-01-02")) & (F.col("event_type") == "click")
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [" in plan
    assert "IsNotNull(event_type)" in plan or "EqualTo(event_type" in plan


def test_items_negative_offset_clamps_to_first_page(spark, sf_dir, tmp_path):
    """A negative offset is clamped to 0 the way a bad limit is clamped,
    instead of reaching Spark's OFFSET as an analysis error."""
    from pygeoapi_ingestor_spark.sources.readers import read_events

    api = ProcessAPI(default_sf_dir=sf_dir)
    path = str(tmp_path / "coll")
    read_events(spark, sf_dir).write.mode("overwrite").parquet(path)

    kw = dict(sort_col="event_id", limit=5)
    first = api.items(spark, path, offset=0, **kw)
    assert api.items(spark, path, offset=-5, **kw) == first
    assert first["numberReturned"] == 5


def test_async_jobs_lifecycle(spark, sf_dir):
    from pygeoapi_ingestor_spark.api import JobManager, ProcessAPI

    api = ProcessAPI(default_sf_dir=sf_dir)
    jm = JobManager(api, max_workers=2)

    # two concurrent jobs over the shared session
    j1 = jm.submit(spark, "q6_forecast_revenue")
    j2 = jm.submit(spark, "resample_daily_sum", {"limit": 5})
    assert jm.status(j1)["status"] in ("accepted", "running")
    s1, s2 = jm.wait(j1), jm.wait(j2)
    assert s1["status"] == "successful" and s2["status"] == "successful"
    r2 = jm.result(j2)
    assert r2["value"]["n_rows_sampled"] == 5

    # failure is a terminal state with the error captured, not a raise
    j3 = jm.submit(spark, "no_such_process")
    assert jm.wait(j3)["status"] == "failed"
    assert "unknown process" in jm.result(j3)["message"]

    # unknown job id and dismissal semantics
    assert jm.status("job-999999")["status"] == "not-found"
    j4 = jm.submit(spark, "q1_pricing_summary")
    jm.dismiss(spark, j4)
    st = jm.wait(j4)
    assert st["status"] == "dismissed"
    assert jm.result(j4) is None


def test_async_ingestor_job_reaches_terminal_state(spark, tmp_path):
    """ADVICE r5: ProcessAPI.execute returns the reference's ok/skipped
    vocabulary for ingestors; the job ledger must map both onto the OGC
    'successful' terminal state or wait() spins its whole timeout."""
    import time

    from pygeoapi_ingestor_spark.api import JobManager, ProcessAPI

    api = ProcessAPI()
    cat = CollectionCatalog(str(tmp_path / "cat.json"))
    api.register_ingestor(
        IngestProcess(
            collection_id="stac_items",
            fetch=lambda s: external.ingest(s, "stac", str(tmp_path / "stage")),
            transform=lambda df: df.withColumn("day", F.to_date("datetime")),
            out_path=str(tmp_path / "coll"),
            catalog=cat,
            ts_col="datetime",
        )
    )
    jm = JobManager(api, max_workers=2)

    j1 = jm.submit(spark, "stac_items", {"token": "t"})
    t0 = time.monotonic()
    st = jm.wait(j1, timeout_s=120.0)
    assert st["status"] == "successful"
    # wait() must return on completion, not burn the full timeout
    assert time.monotonic() - t0 < 60.0
    # the raw result keeps the reference's vocabulary
    assert jm.result(j1)["status"] == "ok"

    # idempotent rerun: skipped is also terminal-successful
    j2 = jm.submit(spark, "stac_items", {"token": "t"})
    assert jm.wait(j2, timeout_s=120.0)["status"] == "successful"
    assert jm.result(j2)["status"] == "skipped"


def test_dismiss_terminal_job_keeps_outcome(spark, sf_dir):
    """ADVICE r5: OGC dismiss on a finished job must not rewrite its
    true outcome (or drop its result)."""
    from pygeoapi_ingestor_spark.api import JobManager, ProcessAPI

    api = ProcessAPI(default_sf_dir=sf_dir)
    jm = JobManager(api, max_workers=2)
    j = jm.submit(spark, "resample_daily_sum", {"limit": 3})
    assert jm.wait(j, timeout_s=120.0)["status"] == "successful"
    out = jm.dismiss(spark, j)
    assert out["status"] == "successful"
    assert jm.status(j)["status"] == "successful"
    assert jm.result(j)["value"]["n_rows_sampled"] == 3


def test_execute_releases_index_artifacts_between_jobs(spark, sf_dir):
    """r5 verdict item 8: the service path must apply the scheduler's
    between-jobs finalize — two back-to-back index-building queries
    through ProcessAPI.execute may not accumulate persisted blocks."""
    api = ProcessAPI(default_sf_dir=sf_dir)
    jsc = spark.sparkContext._jsc.sc()
    spark.catalog.clearCache()
    baseline = len(jsc.getRDDStorageInfo())
    for key in ("dedup_ppjoin", "sim_search_lsh"):
        res = api.execute(spark, key)
        assert res["status"] == "successful"
        assert len(jsc.getRDDStorageInfo()) == baseline, key


def test_items_keyset_paging_matches_offset_and_pushes_down(spark, sf_dir, tmp_path):
    """Keyset paging (after=cursor) must walk the exact same sequence
    as offset paging, and the cursor predicate must reach the parquet
    scan as a pushed-down filter (depth-independent cost — the 100 TB
    paging mode)."""
    from pygeoapi_ingestor_spark.sources.readers import read_events

    api = ProcessAPI(default_sf_dir=sf_dir)
    path = str(tmp_path / "coll")
    read_events(spark, sf_dir).write.mode("overwrite").parquet(path)

    kw = dict(properties={"event_type": "click"}, sort_col="event_id", limit=5)
    via_offset = []
    for off in (0, 5, 10):
        via_offset += [r["event_id"] for r in
                       api.items(spark, path, offset=off, **kw)["features"]]

    via_keyset, cursor = [], None
    for _ in range(3):
        page = api.items(spark, path, after=cursor, **kw)
        via_keyset += [r["event_id"] for r in page["features"]]
        cursor = page["nextAfter"]
    assert via_keyset == via_offset and len(via_keyset) == 15

    # the cursor predicate must be a pushed-down scan filter
    plan = (
        spark.read.parquet(path)
        .filter(F.col("event_id") > cursor)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "PushedFilters: [" in plan and "GreaterThan(event_id" in plan

    # keyset requires a sort column
    import pytest

    with pytest.raises(ValueError):
        api.items(spark, path, after=3)


def test_items_cursor_is_json_safe_and_lossless(spark, tmp_path):
    """r6 ADVICE: nextAfter must survive json.dumps even when the sort
    key is a timestamp or DECIMAL, and the decoded cursor must rebuild
    the EXACT original value (no Decimal→float skip, no hex-text
    collation change)."""
    import datetime
    import decimal
    import json

    path = str(tmp_path / "tscoll")
    rows = [
        (datetime.datetime(2024, 1, 1, 0, 0, i), decimal.Decimal(f"{i}.25"), i)
        for i in range(9)
    ]
    spark.createDataFrame(
        rows, "ts timestamp, amount decimal(10,2), n int"
    ).write.mode("overwrite").parquet(path)
    api = ProcessAPI()

    for sort_col in ("ts", "amount"):
        walked, cursor = [], None
        for _ in range(3):
            page = api.items(spark, path, sort_col=sort_col, limit=3,
                             after=cursor)
            # the full response (cursor included) must be JSON text and
            # round-trip back into a usable cursor
            page = json.loads(json.dumps(page))
            walked += [r["n"] for r in page["features"]]
            cursor = page["nextAfter"]
        assert walked == list(range(9)), sort_col

    # the raw (untagged) value form still works as a cursor
    page = api.items(spark, path, sort_col="ts", limit=3,
                     after=datetime.datetime(2024, 1, 1, 0, 0, 5))
    assert [r["n"] for r in page["features"]] == [6, 7, 8]


def test_jobmanager_finalizes_when_pool_drains(spark, sf_dir):
    """Concurrent jobs must NOT trigger mid-flight global cache clears
    (finalize_job defers while another execute is in flight); the last
    job out releases, returning storage to baseline."""
    import time

    from pygeoapi_ingestor_spark.api import JobManager, ProcessAPI

    api = ProcessAPI(default_sf_dir=sf_dir)
    jm = JobManager(api, max_workers=2)
    jsc = spark.sparkContext._jsc.sc()
    spark.catalog.clearCache()
    baseline = len(jsc.getRDDStorageInfo())
    j1 = jm.submit(spark, "dedup_ppjoin")
    j2 = jm.submit(spark, "sim_search_lsh")
    assert jm.wait(j1, timeout_s=180.0)["status"] == "successful"
    assert jm.wait(j2, timeout_s=180.0)["status"] == "successful"
    deadline = time.monotonic() + 10
    while time.monotonic() < deadline and len(jsc.getRDDStorageInfo()) > baseline:
        time.sleep(0.2)
    assert len(jsc.getRDDStorageInfo()) <= baseline
