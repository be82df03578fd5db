"""Checks of the benchmark itself (no Spark needed):

    python3 -m pytest perfbench/test_perfbench.py -q

The correctness checks must count a wrong answer as failed, and every
metric the benchmark declares must be printed with its unit.
"""

from __future__ import annotations

import copy
import json
import os

import checks
import metrics
from workloads import Op

HERE = os.path.dirname(os.path.abspath(__file__))

COLS = ["zone", "bucket", "p50"]
ROWS = [("NATION_1", "2024-01-01T00:00:00", 12.5),
        ("NATION_2", "2024-01-01T00:00:00", 7.25),
        ("NATION_2", "2024-01-08T00:00:00", 9.0)]


def _response(rows):
    dicts = [dict(zip(COLS, r)) for r in rows]
    return {"id": "k", "status": "successful",
            "value": {"n_rows_sampled": len(dicts), "rows": dicts}}


def test_api_response_matches_reference():
    ref = checks.reference_digest(COLS, ROWS)
    assert checks.check_api_response(_response(ROWS), ref, limit=100) == []
    # a sample of a larger result passes when every row is a member
    assert checks.check_api_response(_response(ROWS[:2]), ref, limit=2) == []


def test_api_perturbed_value_fails():
    ref = checks.reference_digest(COLS, ROWS)
    bad = _response(ROWS)
    bad["value"]["rows"][1]["p50"] = 7.26
    assert checks.check_api_response(bad, ref, limit=100)


def test_api_dropped_row_fails():
    ref = checks.reference_digest(COLS, ROWS)
    assert checks.check_api_response(_response(ROWS[:2]), ref, limit=100)


def test_api_duplicated_row_fails():
    ref = checks.reference_digest(COLS, ROWS)
    assert checks.check_api_response(_response([ROWS[0], ROWS[0], ROWS[1]]), ref, limit=100)


def test_api_failed_status_fails():
    ref = checks.reference_digest(COLS, ROWS)
    assert checks.check_api_response({"status": "failed", "message": "x"}, ref, 100)


def test_extents():
    expected = {"n_rows": 3, "ts_begin": "2024-01-01T00:00:00", "spi_max": 1.5}
    assert checks.check_extents(dict(expected), expected) == []
    wrong = dict(expected, spi_max=1.25)
    assert checks.check_extents(wrong, expected)
    assert checks.check_extents(None, expected)


def _pages(keys_per_page, station=3):
    return [{"numberReturned": len(ks),
             "features": [{"event_id": k, "station": station} for k in ks]}
            for ks in keys_per_page]


def test_items_keyset_walk():
    flt = {"properties": {"station": 3}}
    good = _pages([[1, 4], [7, 9]])
    assert checks.check_items_walk(good, flt, [1, 4, 7, 9], "event_id", 2) == []
    overlapping = _pages([[1, 4], [4, 9]])
    assert checks.check_items_walk(overlapping, flt, [1, 4, 7, 9], "event_id", 2)
    dropped = _pages([[1, 4], [9]])
    assert checks.check_items_walk(dropped, flt, [1, 4, 7, 9], "event_id", 2)
    off_filter = _pages([[1, 4], [7, 9]], station=2)
    assert checks.check_items_walk(off_filter, flt, [1, 4, 7, 9], "event_id", 2)


def test_items_datetime_window():
    flt = {"time_col": "bucket",
           "datetime_range": ("2024-01-02T00:00:00", "2024-01-04T00:00:00")}
    rows = [{"bucket": "2024-01-02T00:00:00", "v": 1.0},
            {"bucket": "2024-01-03T00:00:00", "v": 2.0}]
    expected = [tuple(sorted(r.items())) for r in rows]
    page = [{"numberReturned": 2, "features": rows}]
    assert checks.check_items_walk(page, flt, expected, None, 100) == []
    late = [{"numberReturned": 2, "features": [rows[0], {"bucket": "2024-01-04T00:00:00", "v": 2.0}]}]
    assert checks.check_items_walk(late, flt, expected, None, 100)


def test_stream_check():
    rows = [("2024-01-01T00:00:00", "click", 10.5, 2), ("2024-01-01T01:00:00", "view", 3.0, 1)]
    assert checks.check_stream(list(rows), list(rows)) == []
    assert checks.check_stream(rows[:1], rows)
    assert checks.check_stream([rows[0], ("2024-01-01T01:00:00", "view", 3.5, 1)], rows)


def _synthetic_ops():
    stats = dict(jobs=2, stages=3, tasks=8, task_wall_s=1.5, task_cpu_s=0.5,
                 task_gc_ms=3.0, shuffle_bytes=100, spill_bytes=0, intervals=[(0.2, 0.9)])
    ops = [
        Op("request", "spi_gamma", 1.2, detail={"group": "op1", "collect_rows": 100, "cpu_s": 2.5,
                                                "exec": stats, "build_exec": dict(stats, jobs=1)}),
        Op("ingest", "spi_gamma", 2.0, detail={"group": "op2", "exec": stats,
                                               "bytes_written": 10, "files_written": 1}),
        Op("items", "spi_gamma", 0.3, detail={"group": "op3", "returned": 10, "scan_rows": 40}),
        Op("stream", "event_windows", 3.0, detail={"group": "op4", "batches": [dict(
            rows=100, trigger_s=0.5, add_batch_s=0.3, commit_s=0.1, query_planning_s=0.02,
            state_rows=10, state_memory_bytes=1000)]}),
    ]
    spans = [
        dict(id=1, name="api.execute", parent=None, group="op1", start=0.0, end=1.2,
             wall_start=0.0, wall_end=1.2),
        dict(id=2, name="plans.build", parent=1, group="op1|build", start=0.0, end=0.2,
             wall_start=0.0, wall_end=0.2),
    ]
    return ops, spans


def _benchmark_json():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        return json.load(f)


def test_every_declared_metric_is_printed_with_its_unit():
    bench = _benchmark_json()
    ops, spans = _synthetic_ops()
    e2e = metrics.with_units(
        metrics.end_to_end([1.0, 2.0, 3.0], 30.0, 1),
        metrics.END_TO_END)
    layers = metrics.with_units(
        metrics.per_layer(ops, copy.deepcopy(spans), (5.0, 1), 0.1, 10.0),
        metrics.PER_LAYER)
    for declared, printed in ((bench["end_to_end"], e2e), (bench["per_layer"], layers)):
        assert sorted(m["name"] for m in declared) == sorted(printed)
        for m in declared:
            assert printed[m["name"]]["unit"] == m["unit"]
            assert isinstance(printed[m["name"]]["value"], (int, float))
    details = metrics.details("ingest_publish", ops, 10.0, 1)
    assert sorted(details) == sorted(metrics.DETAIL)


def test_names_from_the_benchmark_definition_are_covered():
    """The metric names the benchmark was specified with: end-to-end
    ones are either declared or detail figures, per-layer ones are all
    declared."""
    e2e = ["setup_s", "run_wall_s", "request_p50_s", "request_tail_s", "requests_per_s",
           "run_cpu_s", "request_cpu_p50_s",
           "ingest_process_p50_s", "items_p50_s", "stream_rows_per_s",
           "stream_batch_p50_s", "failed_ratio"]
    layers = [
        "plans.build_s", "plans.build_jobs", "plans.jobfree_build_ratio", "plans.plan_s",
        "operators.task_wall_s", "operators.task_cpu_s", "operators.python_wait_s",
        "operators.jobs", "operators.stages", "operators.tasks", "operators.shuffle_bytes",
        "operators.spill_bytes", "operators.task_gc_ms", "api.collect_s", "api.collect_rows",
        "streaming.finalize_s", "streaming.persisted_rdds_after", "session.driver_gc_ms",
        "session.driver_gc_count", "processes.fetch_transform_s", "sinks.write_s",
        "sinks.extents_s", "sinks.register_s", "sinks.bytes_written", "sinks.files_written",
        "api.items_s", "api.items_rows_scanned_per_returned", "streaming.add_batch_s",
        "streaming.commit_s", "streaming.query_planning_s", "streaming.state_rows",
        "streaming.state_memory_bytes", "streaming.rows_per_batch",
    ]
    assert set(e2e) <= set(metrics.END_TO_END) | set(metrics.DETAIL)
    assert set(layers) <= set(metrics.PER_LAYER)


def test_union_length():
    from tracing import union_length

    assert union_length([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert union_length([(0, 2)], 1, 10) == 1
    assert union_length([], 0, 1) == 0
