"""Turn one run's operation records and spans into the reported metrics.

Pure functions over plain records, so the metric names and units can be
tested without Spark. ``END_TO_END`` and ``PER_LAYER`` are the metric
schemas; ``BENCHMARK.json`` lists the same names.
"""

from __future__ import annotations

import statistics

from tracing import union_length

# name -> unit. Printed by every untraced run (--trace 0). Besides the
# set-up time, the gate is CPU seconds of the program's processes
# (driver, JVM, Python workers) per round: on a shared host the
# hypervisor's CPU steal moves wall time by up to a third between runs,
# and CPU time does not include it (README.md, "Why CPU time is gated").
END_TO_END = {
    "setup_s": "s",
    "run_cpu_s": "s",
}

# Wall-time and workload-specific figures, printed on the detail line of
# every untraced run (0 where the workload has no such operation).
DETAIL = {
    "run_wall_s": "s",
    "request_p50_s": "s",
    "request_cpu_p50_s": "s",
    "requests_per_s": "1/s",
    "request_tail_s": "s",
    "ingest_process_p50_s": "s",
    "items_p50_s": "s",
    "stream_rows_per_s": "1/s",
    "stream_batch_p50_s": "s",
    "failed_ratio": "ratio",
}

# name -> unit. Printed by every traced run (--trace 1); a layer the
# workload does not exercise reads 0.
PER_LAYER = {
    "plans.build_s": "s",
    "plans.build_jobs": "count",
    "plans.jobfree_build_ratio": "ratio",
    "plans.plan_s": "s",
    "operators.task_wall_s": "s",
    "operators.task_cpu_s": "s",
    "operators.python_wait_s": "s",
    "operators.jobs": "count",
    "operators.stages": "count",
    "operators.tasks": "count",
    "operators.shuffle_bytes": "bytes",
    "operators.spill_bytes": "bytes",
    "operators.task_gc_ms": "ms",
    "api.collect_s": "s",
    "api.collect_rows": "count",
    "api.items_s": "s",
    "api.items_rows_scanned_per_returned": "ratio",
    "streaming.finalize_s": "s",
    "streaming.persisted_rdds_after": "count",
    "streaming.add_batch_s": "s",
    "streaming.commit_s": "s",
    "streaming.query_planning_s": "s",
    "streaming.state_rows": "count",
    "streaming.state_memory_bytes": "bytes",
    "streaming.rows_per_batch": "count",
    "session.driver_gc_ms": "ms",
    "session.driver_gc_count": "count",
    "processes.fetch_transform_s": "s",
    "sinks.write_s": "s",
    "sinks.extents_s": "s",
    "sinks.register_s": "s",
    "sinks.bytes_written": "bytes",
    "sinks.files_written": "count",
    "trace.harvest_s": "s",
    "trace.coverage": "ratio",
}

# The spans the submitting thread's time is divided into.
TOP_SPANS = ("api.execute", "processes.ingest", "api.items", "streaming.tick",
             "trace.harvest", "bench.check")

# Share of requests at or below the tail percentile: the highest
# percentile with at least ten samples above it needs 10 / (1 - p)
# samples, which one run of the API workloads (10 to 40 requests) only
# reaches for p = 0.75 in the best case, so the tail is a detail figure.
TAIL_Q = 0.9


def _median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def percentile(xs, q: float) -> float:
    xs = sorted(xs)
    if not xs:
        return 0.0
    i = min(len(xs) - 1, max(0, int(round(q * (len(xs) - 1)))))
    return float(xs[i])


def primary_kind(workload: str) -> str:
    """The operation a workload's request metrics describe: an API
    request, or one ingest process run for the scheduler arc."""
    return "ingest" if workload == "ingest_publish" else "request"


def end_to_end(setups: list[float], cpu_s: float, rounds: int) -> dict:
    return {"setup_s": _median(setups), "run_cpu_s": cpu_s / max(1, rounds)}


def details(workload: str, ops: list, wall_s: float, rounds: int) -> dict:
    kind = primary_kind(workload)
    lat = [o.latency_s for o in ops if o.kind == kind]
    batches = [b for o in ops if o.kind == "stream" for b in o.detail["batches"]]
    trigger = sum(b["trigger_s"] for b in batches)
    return {
        "run_wall_s": wall_s / max(1, rounds),
        "request_p50_s": _median(lat),
        "request_cpu_p50_s": _median(o.detail.get("cpu_s", 0.0) for o in ops if o.kind == kind),
        "requests_per_s": len(lat) / wall_s if wall_s > 0 else 0.0,
        "request_tail_s": percentile(lat, TAIL_Q),
        "ingest_process_p50_s": _median(o.latency_s for o in ops if o.kind == "ingest"),
        "items_p50_s": _median(o.latency_s for o in ops if o.kind == "items"),
        "stream_rows_per_s": sum(b["rows"] for b in batches) / trigger if trigger else 0.0,
        "stream_batch_p50_s": _median(b["trigger_s"] for b in batches),
        "failed_ratio": sum(1 for o in ops if o.errors) / max(1, len(ops)),
    }


def _spans_by_group(spans: list[dict]) -> dict:
    out: dict = {}
    for s in spans:
        out.setdefault(s.get("group"), []).append(s)
    return out


def _dur(spans, name: str) -> float:
    return sum(s["end"] - s["start"] for s in spans if s["name"] == name)


def per_layer(ops: list, spans: list[dict], gc_delta: tuple[float, int],
              harvest_s: float, loop_s: float) -> dict:
    """Medians per operation that exercised the layer; ratios over the
    run's totals; GC as the run's delta."""
    by_group = _spans_by_group(spans)
    work = [o for o in ops if o.kind in ("request", "ingest")]
    build_s, build_jobs, plan_s, collect_s, collect_rows = [], [], [], [], []
    fin_s, fetch_s, write_s, ext_s, reg_s = [], [], [], [], []
    ex = {k: [] for k in ("task_wall_s", "task_cpu_s", "python_wait_s", "jobs",
                          "stages", "tasks", "shuffle_bytes", "spill_bytes", "task_gc_ms")}
    for o in work:
        g = o.detail["group"]
        mine = by_group.get(g, []) + by_group.get(f"{g}|build", [])
        b, f = _dur(mine, "plans.build"), _dur(mine, "streaming.finalize")
        build_s.append(b)
        fin_s.append(f)
        build_jobs.append(o.detail.get("build_exec", {}).get("jobs", 0))
        st = o.detail.get("exec", {})
        for k in ex:
            if k == "python_wait_s":
                ex[k].append(st.get("task_wall_s", 0.0) - st.get("task_cpu_s", 0.0))
            else:
                ex[k].append(st.get(k, 0))
        # driver time of the action(s) outside the build and finalize
        # with no Spark job running: analysis, planning, AQE re-planning
        outer = [s for s in mine if s["name"] in ("api.execute", "processes.ingest")]
        if outer:
            s0 = outer[0]
            busy = union_length(st.get("intervals", []), s0["wall_start"], s0["wall_end"])
            plan_s.append(max(0.0, o.latency_s - b - f - busy))
        if o.kind == "request":
            collect_s.append(o.latency_s - b - f)
            collect_rows.append(o.detail.get("collect_rows", 0))
        else:
            fetch_s.append(_dur(mine, "processes.fetch_transform"))
            write_s.append(_dur(mine, "sinks.write"))
            ext_s.append(_dur(mine, "sinks.extents"))
            reg_s.append(_dur(mine, "sinks.register"))
    items = [o for o in ops if o.kind == "items"]
    returned = sum(o.detail.get("returned", 0) for o in items)
    batches = [b for o in ops if o.kind == "stream" for b in o.detail["batches"]]
    ingests = [o for o in ops if o.kind == "ingest"]
    top = [s for s in spans if s["name"] in TOP_SPANS]
    return {
        "plans.build_s": _median(build_s),
        "plans.build_jobs": _median(build_jobs),
        "plans.jobfree_build_ratio":
            sum(1 for j in build_jobs if j == 0) / len(build_jobs) if build_jobs else 0.0,
        "plans.plan_s": _median(plan_s),
        **{f"operators.{k}": _median(v) for k, v in ex.items()},
        "api.collect_s": _median(collect_s),
        "api.collect_rows": _median(collect_rows),
        "api.items_s": _median(o.latency_s for o in items),
        "api.items_rows_scanned_per_returned":
            sum(o.detail.get("scan_rows", 0) for o in items) / returned if returned else 0.0,
        "streaming.finalize_s": _median(fin_s),
        "streaming.persisted_rdds_after":
            max((o.detail.get("persisted_rdds_after", 0) for o in work), default=0),
        "streaming.add_batch_s": _median(b["add_batch_s"] for b in batches),
        "streaming.commit_s": _median(b["commit_s"] for b in batches),
        "streaming.query_planning_s": _median(b["query_planning_s"] for b in batches),
        "streaming.state_rows": max((b["state_rows"] for b in batches), default=0),
        "streaming.state_memory_bytes": max((b["state_memory_bytes"] for b in batches), default=0),
        "streaming.rows_per_batch": _median(b["rows"] for b in batches),
        "session.driver_gc_ms": gc_delta[0],
        "session.driver_gc_count": gc_delta[1],
        "processes.fetch_transform_s": _median(fetch_s),
        "sinks.write_s": _median(write_s),
        "sinks.extents_s": _median(ext_s),
        "sinks.register_s": _median(reg_s),
        "sinks.bytes_written": _median(o.detail.get("bytes_written", 0) for o in ingests),
        "sinks.files_written": _median(o.detail.get("files_written", 0) for o in ingests),
        "trace.harvest_s": harvest_s,
        # top-level spans of the submitting thread against the loop's
        # wall: the blocking layers must account for the run's time
        "trace.coverage": union_length(
            [(s["start"], s["end"]) for s in top], float("-inf"), float("inf")
        ) / loop_s if loop_s else 0.0,
    }


def with_units(values: dict, schema: dict) -> dict:
    return {k: {"value": values[k], "unit": schema[k]} for k in schema}
