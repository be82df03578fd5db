"""The local mirror of the driver's correctness gate: run every catalog
query on Spark AND its DuckDB oracle, compare row count, column names,
and order-insensitive values exactly.
"""

from __future__ import annotations

import datetime
import math

import duckdb
import pytest

from pygeoapi_ingestor_spark.functions.storage import finalize_job
from pygeoapi_ingestor_spark.plans import ORACLES, QUERIES
from pygeoapi_ingestor_spark.session import TABLES


def _duck(sf_dir: str):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def _norm_cell(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if v == 0.0:
            return 0.0  # collapse -0.0
        return v
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, datetime.date):
        return v.isoformat()
    return v


def _normalize(rows, colnames):
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    out = [tuple(_norm_cell(r[i]) for i in order) for r in rows]
    return sorted(out, key=repr)


@pytest.fixture(autouse=True)
def _clear_cache(spark):
    """CACHE CONTRACT (functions/storage.finalize_job): queries persist
    index artifacts and never unpersist returned lineage — the harness
    releases between keys, as the service does, so the catalog-wide
    session doesn't accumulate every key's cached partitions. A bare
    ``clearCache()`` would leave prepared plans running uncached
    (storage's PERSISTED INTERMEDIATES)."""
    yield
    finalize_job(spark)


@pytest.mark.slow  # full-catalog sweep: run with -m slow (see pytest.ini)
@pytest.mark.parametrize("key", sorted(QUERIES))
def test_query_matches_oracle(spark, sf_dir, key):
    df = QUERIES[key](spark, sf_dir)
    spark_cols = df.columns
    spark_rows = [tuple(r) for r in df.collect()]

    if key not in ORACLES:
        # rows-only check (non-SQL-expressible): must run and be stable
        assert isinstance(spark_rows, list)
        rerun = [tuple(r) for r in QUERIES[key](spark, sf_dir).collect()]
        assert _normalize(spark_rows, spark_cols) == _normalize(rerun, spark_cols)
        return

    con = _duck(sf_dir)
    res = con.execute(ORACLES[key])
    duck_cols = [d[0] for d in res.description]
    duck_rows = res.fetchall()

    assert sorted(spark_cols) == sorted(duck_cols), (
        f"{key}: column mismatch {spark_cols} vs {duck_cols}"
    )
    assert len(spark_rows) == len(duck_rows), (
        f"{key}: row count {len(spark_rows)} vs {len(duck_rows)}"
    )
    ns, nd = _normalize(spark_rows, spark_cols), _normalize(duck_rows, duck_cols)
    mismatches = [
        (a, b) for a, b in zip(ns, nd) if a != b
    ]
    assert not mismatches, f"{key}: first mismatches: {mismatches[:5]}"
