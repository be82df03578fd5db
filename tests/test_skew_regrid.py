from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pygeoapi_ingestor_spark.functions import skew
from pygeoapi_ingestor_spark.operators import regrid
from pygeoapi_ingestor_spark.sources import external
from pygeoapi_ingestor_spark.sources.readers import read_events


def test_salted_agg_matches_plain(spark, sf_dir):
    ev = read_events(spark, sf_dir)
    plain = {
        (r["event_type"],): (r["n"], round(r["total"], 4))
        for r in ev.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("total"))
        .collect()
    }
    salted = {
        (r["event_type"],): (r["n"], round(r["total"], 4))
        for r in skew.salted_agg(
            ev, ["event_type"], {"n": ("count", "value"), "total": ("sum", "value")},
        ).collect()
    }
    assert salted == plain


def test_salted_agg_rejects_non_algebraic(spark, sf_dir):
    ev = read_events(spark, sf_dir)
    with pytest.raises(ValueError):
        skew.salted_agg(ev, ["event_type"], {"a": ("avg", "value")})


def test_salt_join_matches_plain_join(spark, sf_dir):
    ev = read_events(spark, sf_dir).select("event_id", "user_id", "value")
    dim = spark.read.parquet(f"{sf_dir}/customer.parquet").select(
        F.col("c_custkey").alias("user_id"), "c_nationkey"
    )
    plain = ev.join(dim, ["user_id"]).count()
    salted = skew.salt_join(ev, dim, on=["user_id"]).count()
    assert salted == plain


def test_bilinear_regrid_exact_on_nodes_and_midpoints(spark, tmp_path):
    grid = external.ingest(spark, "cds", str(tmp_path / "cds"))
    # target exactly on a grid node reproduces the node value
    node = grid.limit(1).collect()[0]
    targets = spark.createDataFrame(
        [
            (node["time"], node["lat"], node["lon"], "on_node"),
            (node["time"], node["lat"] + 0.25, node["lon"] + 0.25, "cell_mid"),
            (node["time"], -80.0, 0.0, "outside"),
        ],
        "time timestamp, lat double, lon double, tag string",
    )
    out = {r["tag"]: r for r in regrid.bilinear_regrid(grid, targets).collect()}
    assert abs(out["on_node"]["value_interp"] - node["tp"]) < 1e-9
    assert out["outside"]["value_interp"] is None

    # duplicate target rows stay distinct in the output
    dupes = spark.createDataFrame(
        [(node["time"], node["lat"], node["lon"], "d")] * 3,
        "time timestamp, lat double, lon double, tag string",
    )
    assert regrid.bilinear_regrid(grid, dupes).count() == 3

    # midpoint equals the average of the 4 surrounding nodes
    g = {(r["lat"], r["lon"]): r["tp"] for r in grid.filter(F.col("time") == node["time"]).collect()}
    corners = [
        g[(node["lat"], node["lon"])],
        g[(node["lat"], node["lon"] + 0.5)],
        g[(node["lat"] + 0.5, node["lon"])],
        g[(node["lat"] + 0.5, node["lon"] + 0.5)],
    ]
    assert abs(out["cell_mid"]["value_interp"] - sum(corners) / 4.0) < 1e-9
