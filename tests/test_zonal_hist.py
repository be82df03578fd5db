"""zonal_stats_hist (r11): the value-compressed one-pass zonal stats
must agree with the bucket drill-down zonal_stats on quantized inputs,
including NULL handling (all-NULL groups surface with NULL stats) and
heavy ties (the compression case)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pygeoapi_ingestor_spark.operators import zonal


def _rows(df):
    def norm(v):
        return round(v, 9) if isinstance(v, float) else v

    return sorted(
        tuple(norm(v) for v in r) for r in df.collect()
    )


@pytest.fixture()
def fixture_data(spark):
    # 3 zones x 2 buckets, quantized 2-decimal values, heavy ties,
    # NULLs sprinkled, one group ENTIRELY null, group sizes 1..40
    rows = []
    for z in range(3):
        for b in range(2):
            n = (z * 2 + b) * 8 + 1
            for i in range(n):
                if z == 2 and b == 1:
                    v = None  # all-null group
                else:
                    v = round((i % 7) * 0.25 - 0.5, 2)
                    if i % 11 == 10:
                        v = None
                rows.append((z * 10 + b, f"z{z}", b, v))
    fact = spark.createDataFrame(
        rows, "k int, zone_name string, bucket int, value double"
    )
    zones = spark.createDataFrame(
        [(z * 10 + b, f"z{z}") for z in range(3) for b in range(2)],
        "k int, zone string",
    )
    return fact, zones


def test_hist_matches_drilldown(spark, fixture_data):
    fact, zones = fixture_data
    kwargs = dict(
        join_key="k", zone_col="zone",
        bucket_col=F.col("bucket").alias("bkt"), value_col="value",
    )
    hist = zonal.zonal_stats_hist(fact, zones, **kwargs)
    drill = zonal.zonal_stats(fact, zones, **kwargs)
    assert hist.columns == drill.columns
    assert _rows(hist) == _rows(drill)


def test_all_null_group_surfaces_with_null_stats(spark, fixture_data):
    fact, zones = fixture_data
    out = zonal.zonal_stats_hist(
        fact, zones, join_key="k", zone_col="zone",
        bucket_col=F.col("bucket").alias("bkt"), value_col="value",
    )
    row = [r for r in out.collect() if r["zone"] == "z2" and r["bkt"] == 1]
    assert len(row) == 1
    assert row[0]["v_min"] is None
    assert row[0]["v_max"] is None
    assert row[0]["p50"] is None


def test_single_value_group(spark):
    fact = spark.createDataFrame([(1, 0, 3.25)], "k int, bucket int, value double")
    zones = spark.createDataFrame([(1, "only")], "k int, zone string")
    out = zonal.zonal_stats_hist(
        fact, zones, join_key="k", zone_col="zone",
        bucket_col=F.col("bucket").alias("bkt"), value_col="value",
    ).collect()
    assert len(out) == 1
    r = out[0]
    assert r["v_min"] == r["v_max"] == r["p05"] == r["p95"] == 3.25
