"""Extents from the write pass.

``IngestProcess.execute`` observes ``extent_aggs`` on the DataFrame it
writes, so the registered extents must equal ``compute_extents`` and
each value column's range over the written files: with time and value
columns, with NaN and NULL
values, for an empty fetch, for a partitioned collection, and for two
ingests of one collection running at once through ``JobManager``.
"""

from __future__ import annotations

import json
import math

import pytest
from pyspark.sql import functions as F

from pygeoapi_ingestor_spark.processes import OK, IngestProcess
from pygeoapi_ingestor_spark.sinks.collections import (
    CollectionCatalog,
    compute_extents,
)


def _rows(spark, lo: int, hi: int):
    """Ids ``lo``..``hi-1`` with a station, an hourly timestamp and a
    value that is NULL for id % 7 == 4 and NaN for id % 11 == 5."""
    return spark.range(lo, hi).select(
        "id",
        (F.col("id") % 3).cast("int").alias("station"),
        F.timestamp_seconds(F.col("id") * 3600).alias("ts"),
        F.when(F.col("id") % 7 == 4, F.lit(None))
        .when(F.col("id") % 11 == 5, F.lit(float("nan")))
        .otherwise(F.col("id") * 0.5)
        .alias("value"),
        (F.col("id") * 2).alias("level"),
    )


def _same(a: dict, b: dict) -> bool:
    """Extents equality with NaN equal to NaN."""
    return a.keys() == b.keys() and all(
        a[k] == b[k]
        or (isinstance(a[k], float) and isinstance(b[k], float)
            and math.isnan(a[k]) and math.isnan(b[k]))
        for k in a
    )


def _process(tmp_path, name, fetch, out=None, **kw):
    return IngestProcess(
        collection_id=name, fetch=fetch, transform=lambda df: df,
        out_path=str(tmp_path / (out or name)),
        catalog=CollectionCatalog(str(tmp_path / "catalog.json")), **kw,
    )


def _check(spark, proc, extents):
    """``extents`` equal ``compute_extents`` plus each value column's
    min and max over the written files, and so does the catalog entry
    when it names these files; returns them."""
    written = spark.read.parquet(proc.out_path)
    want = compute_extents(written, ts_col=proc.ts_col)
    for c in proc.value_cols:
        lo, hi = written.agg(F.min(c), F.max(c)).first()
        want |= {f"{c}_min": lo, f"{c}_max": hi}
    assert _same(extents, want), (extents, want)
    with open(proc.catalog.catalog_path) as f:
        entry = json.load(f)["resources"][proc.collection_id]
    if entry["providers"][0]["data"] == proc.out_path:
        assert _same(entry["extents"], want), (entry["extents"], want)
    return want


CASES = {
    "ts_and_values": dict(
        fetch=lambda s: _rows(s, 0, 40).where(F.col("value").isNotNull()
                                              & ~F.isnan("value")),
        ts_col="ts", value_cols=["value", "level"],
    ),
    "nan_and_null": dict(
        fetch=lambda s: _rows(s, 0, 40), ts_col="ts", value_cols=["value", "level"],
    ),
    "empty_fetch": dict(
        fetch=lambda s: _rows(s, 0, 40).where("id < 0"),
        ts_col="ts", value_cols=["value"],
    ),
    "partitioned": dict(
        fetch=lambda s: _rows(s, 0, 40), ts_col="ts", value_cols=["value"],
        partition_by=["station"],
    ),
}


@pytest.mark.parametrize("case", sorted(CASES))
def test_observed_extents_equal_written_aggregate(spark, tmp_path, case):
    proc = _process(tmp_path, case, **CASES[case])
    res = proc.execute(spark, {"token": "t"}, force=True)
    assert res.status == OK, res.message
    want = _check(spark, proc, res.extents)
    if case == "empty_fetch":
        assert want["n_rows"] == 0 and want["ts_begin"] is None
    if case == "nan_and_null":
        assert math.isnan(want["value_max"])


def test_concurrent_ingests_of_one_collection(spark, tmp_path):
    """Two ingests of one collection id, each with its own data and
    path, run at once on two JobManager workers: each reports the
    extents of its own files."""
    from pygeoapi_ingestor_spark.api import JobManager, ProcessAPI

    procs = [
        _process(tmp_path, "twin", lambda s, lo=lo: _rows(s, lo, lo + 500).repartition(4),
                 out=f"twin_{lo}", ts_col="ts", value_cols=["value", "level"])
        for lo in (0, 10_000)
    ]
    apis = [ProcessAPI(), ProcessAPI()]
    jobs = []
    for api, proc in zip(apis, procs):
        api.register_ingestor(proc)
        jm = JobManager(api, max_workers=1)
        jobs.append((jm, jm.submit(spark, "twin", {"token": "t", "force": True})))
    results = []
    for jm, job in jobs:
        assert jm.wait(job, timeout_s=300.0)["status"] == "successful"
        results.append(jm.result(job)["value"])
    wants = [_check(spark, proc, ext) for proc, ext in zip(procs, results)]
    assert wants[0]["ts_begin"] != wants[1]["ts_begin"]
    with open(procs[0].catalog.catalog_path) as f:
        entry = json.load(f)["resources"]["twin"]
    assert any(_same(entry["extents"], w) for w in wants)
