"""bench.py's spot mode: a cold cell is a prepared-plan registry miss, a
warm cell is a hit, builds count their py4j calls and, once each table's
schema is known, start no Spark job; every cell carries the driver's JIT
compile time and Janino compile count; oracle keys carry DuckDB times
and the run leaves nothing persisted; unknown keys fail before any
Spark session starts.

Importing ``bench`` here, under pytest's own argv, also checks that the
module parses no arguments at import time."""

from __future__ import annotations

import pytest

import bench

KEYS = ["river_discharge_arpae", "zonal_stats"]


def _persisted(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def test_spot_cold_builds_warm_hits_and_nothing_is_left(spark, sf_dir):
    before = _persisted(spark)
    res = bench.spot(spark, sf_dir, KEYS, reps=2)

    assert list(res["keys"]) == KEYS
    for key in KEYS:
        cells = res["keys"][key]
        assert set(cells) == {"cold", "warm", "noop", "duckdb_cold", "duckdb_warm"}
        for cell in cells.values():
            assert len(cell["all"]) == 2
            assert cell["min"] <= cell["median"]
        reps = zip(cells["cold"]["all"], cells["warm"]["all"])
        for rep, (cold, warm) in enumerate(reps):
            assert set(bench.SPOT_LAYERS) <= set(cold)
            # driver JIT compile time across the cell (CompilationMXBean)
            assert cold["jit_ms"] >= 0 and warm["jit_ms"] >= 0, (key, cold, warm)
            # Janino compiles across the cell (CodegenMetrics); a warm
            # hit re-runs plans whose classes the cache already holds
            for cell in (cold, warm):
                assert isinstance(cell["janino_compiles"], int), (key, cell)
                assert cell["janino_compiles"] >= 0, (key, cell)
            if rep:  # the first rep's reads may infer a schema
                assert cold["build_jobs"] == 0, (key, cold)
            assert cold["jobs"] > cold["build_jobs"], (key, cold)
            assert warm["build_jobs"] == 0, (key, warm)
            assert warm["build_s"] < cold["build_s"], (key, cold, warm)
            # a hit is a dict lookup; a miss builds an expression tree
            assert warm["build_py4j"] < 10 < cold["build_py4j"], (key, cold, warm)
    assert 0 < res["harvest_s"] < res["wall_s"]
    assert _persisted(spark) <= before


@pytest.mark.parametrize("argv, message", [
    (["zonal_stats", "no_such_key", "nor_this"], "unknown keys: no_such_key nor_this"),
    (["--reps", "2"], "--reps needs at least one KEY"),
])
def test_bad_arguments_exit_before_spark(monkeypatch, capsys, argv, message):
    def no_spark(*args, **kwargs):
        raise AssertionError("a Spark session was started")

    monkeypatch.setattr(bench, "get_spark", no_spark)
    with pytest.raises(SystemExit) as exc:
        bench.main(argv)
    assert exc.value.code != 0
    assert message in capsys.readouterr().err
