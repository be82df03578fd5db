"""Round-9 additions: salted exact top-k, multi-metric bucketed row
numbers, driver-histogram exact percentiles — each pinned against the
plain-window formulation it replaces (tiny data, where the naive
window is safe to run)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from pygeoapi_ingestor_spark.functions import ranks


@pytest.fixture(scope="module")
def toy(spark):
    rng = np.random.RandomState(7)
    rows = [
        (int(i), ["a", "b", "c"][i % 3], float(rng.randint(0, 40)))
        for i in range(500)
    ]
    return spark.createDataFrame(rows, "id bigint, grp string, v double")


def test_grouped_topk_equals_window_topk(toy):
    got = {
        (r["grp"], r["_rn"]): r["id"]
        for r in ranks.grouped_topk(
            toy, ["grp"], "v", ["id"], k=7
        ).collect()
    }
    w = Window.partitionBy("grp").orderBy("v", "id")
    want = {
        (r["grp"], r["rn"]): r["id"]
        for r in toy.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 7)
        .collect()
    }
    assert got == want


def test_bucketed_row_numbers_multi_equals_windows(toy):
    # v3 holds NaN, which orders above every number (and its max makes
    # the bucket width NaN)
    df = toy.withColumn("v2", -F.col("v") + F.col("id") % 5).withColumn(
        "v3", F.when(F.col("id") % 7 == 0, F.lit(float("nan"))).otherwise(F.col("v"))
    )
    out = ranks.bucketed_row_numbers_multi(
        df, ["grp"], {"v": "rn_v", "v2": "rn_v2", "v3": "rn_v3"}, ["id"]
    )
    cols = ("rn_v", "rn_v2", "rn_v3", "n")
    got = {r["id"]: tuple(r[c] for c in cols) for r in out.collect()}
    wv = Window.partitionBy("grp").orderBy("v", "id")
    wv2 = Window.partitionBy("grp").orderBy("v2", "id")
    wv3 = Window.partitionBy("grp").orderBy("v3", "id")
    wn = Window.partitionBy("grp")
    want = {
        r["id"]: tuple(r[c] for c in cols)
        for r in df.withColumn("rn_v", F.row_number().over(wv))
        .withColumn("rn_v2", F.row_number().over(wv2))
        .withColumn("rn_v3", F.row_number().over(wv3))
        .withColumn("n", F.count(F.lit(1)).over(wn))
        .collect()
    }
    assert got == want


def test_exact_percentiles_match_numpy_linear(toy):
    ps = [0.05, 0.5, 0.95]
    out = ranks.exact_percentiles(
        toy, ["grp"], "v", ps, tiebreak_cols=["id"]
    )
    got = {(r["grp"], r["p"]): r["pct"] for r in out.collect()}
    data = {}
    for r in toy.collect():
        data.setdefault(r["grp"], []).append(r["v"])
    for g, vals in data.items():
        for p in ps:
            want = float(np.percentile(np.asarray(vals), p * 100,
                                       method="linear"))
            assert got[(g, p)] == pytest.approx(want, abs=1e-12), (g, p)
    assert len(got) == 3 * len(data)


def test_exact_percentiles_single_value_series(spark):
    df = spark.createDataFrame(
        [(1, "x", 5.0), (2, "x", 5.0), (3, "y", 1.0)],
        "id bigint, grp string, v double",
    )
    out = {
        (r["grp"], r["p"]): r["pct"]
        for r in ranks.exact_percentiles(
            df, ["grp"], "v", [0.5], tiebreak_cols=["id"]
        ).collect()
    }
    assert out == {("x", 0.5): 5.0, ("y", 0.5): 1.0}
