"""The benchmark's workloads, their reference answers and their checks.

Each workload drives the package only through its public entry points
(``api.ProcessAPI``, ``api.JobManager``, ``processes.IngestProcess``,
``streaming.pipeline``) and loops over whole rounds of fixed work until
the run's deadline has passed. The seed only picks the order inside a
round, the items filters and the stream file splits, so every run of a
workload does the same mix of work.

Every operation appends an ``Op`` record. Correctness is checked outside
every operation's timer: after the loop for the API workloads, between
operations for ``ingest_publish``, whose round time and CPU exclude the
checks (``Run.checking``).
"""

from __future__ import annotations

import contextlib
import dataclasses
import json
import os
import random
import shutil
import time
from typing import Any

import duckdb
import pyarrow.parquet as pq

import checks

# The reference process families (catalog keys) the API serves: the
# heaviest plan build, a join over three tables, the spline correction
# and two JVM aggregations, all with a DuckDB oracle. The Arrow gamma
# kernels run in ingest_publish. README.md says why not all ten.
API_KEYS = (
    "river_discharge_arpae",
    "zonal_stats",
    "bias_correction_spline",
    "threshold_per_station",
    "resample_monthly_scaled",
)
API_LIMIT = 100  # api.MAX_SAMPLE_ROWS: execute's default sample size

# Families the ingest arc writes and publishes, with the extent columns
# each registers: the two Arrow gamma kernels, SPI (operators.indices)
# and the gamma-gamma correction (operators.correction), both over
# functions.numerics.
INGEST_FAMILIES = {
    "spi_gamma": dict(ts_col="bucket", value_cols=["spi"]),
    "bias_correction_parametric_gamma": dict(ts_col=None, value_cols=["value_bc"]),
}
INGEST_TOKEN = "perfbench"
# keyset walk: unique event_id, filtered on station (user_id % 5)
KEYSET_COLLECTION = "bias_correction_parametric_gamma"
N_STATIONS = 5
WINDOW_COLLECTIONS = ("spi_gamma",)  # time column "bucket"
KEYSET_PAGES = 3
STREAM_FILES = 2


def _duckdb() -> duckdb.DuckDBPyConnection:
    """The independent engine every check compares against."""
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    con.execute("SET threads=1")
    return con


def tree_cpu_s(root: int) -> float:
    """User plus system CPU seconds of process ``root`` and every process
    below it (the JVM and its Python workers), reaped children
    included. CPU time the hypervisor steals is not charged to them."""
    parents, cpu = {}, {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:  # exited while listing
            continue
        rest = stat[stat.rindex(")") + 2:].split()
        parents[int(d)] = int(rest[1])
        cpu[int(d)] = sum(int(x) for x in rest[11:15])
    children: dict = {}
    for pid, ppid in parents.items():
        children.setdefault(ppid, []).append(pid)
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        total += cpu.get(pid, 0)
        todo += children.get(pid, [])
    return total / os.sysconf("SC_CLK_TCK")


@dataclasses.dataclass
class Op:
    kind: str  # request | ingest | items | stream
    key: str
    latency_s: float
    payload: Any = None
    errors: list = dataclasses.field(default_factory=list)
    detail: dict = dataclasses.field(default_factory=dict)


class Run:
    """State shared by one workload run."""

    def __init__(self, spark, api, tracer, sf_dir: str, work: str,
                 seed: int, seconds: float, nproc: int):
        self.spark, self.api, self.tracer = spark, api, tracer
        self.sf_dir, self.work = sf_dir, work
        self.rng = random.Random(seed)
        self.seconds, self.nproc = seconds, nproc
        self.ops: list[Op] = []
        self.rounds = 0
        self.wall_s = 0.0
        # in-loop correctness checks, kept out of wall_s and cpu_s
        self.check_s = self.check_cpu_s = 0.0
        self.loop_s = self.cpu_s = 0.0
        self._op_n = 0

    def next_group(self) -> str:
        self._op_n += 1
        return f"op{self._op_n}"

    def duck(self) -> duckdb.DuckDBPyConnection:
        """DuckDB over the generated corpus, for the API oracles."""
        con = _duckdb()
        for t in ("events", "customer", "nation"):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{self.sf_dir}/{t}.parquet')"
            )
        return con

    def loop_rounds(self, one_round) -> None:
        """Run whole rounds until ``seconds`` have passed."""
        cpu0 = tree_cpu_s(os.getpid())
        t0 = time.perf_counter()
        while True:
            one_round()
            self.rounds += 1
            if time.perf_counter() - t0 - self.check_s >= self.seconds:
                break
        self.loop_s = time.perf_counter() - t0
        self.wall_s = self.loop_s - self.check_s
        self.cpu_s = tree_cpu_s(os.getpid()) - cpu0 - self.check_cpu_s

    @contextlib.contextmanager
    def checking(self):
        """A correctness check between timed operations."""
        t, c = time.perf_counter(), tree_cpu_s(os.getpid())
        with self.tracer.span("bench.check"):
            yield
        self.check_s += time.perf_counter() - t
        self.check_cpu_s += tree_cpu_s(os.getpid()) - c


@contextlib.contextmanager
def _patched(obj, name: str, new):
    old = getattr(obj, name)
    setattr(obj, name, new)
    try:
        yield
    finally:
        setattr(obj, name, old)


# -- API workloads ------------------------------------------------------------

@contextlib.contextmanager
def _api_traced(run: Run):
    """Traced runs time the catalog build (``QUERIES[key]``) and
    ``finalize_job`` as ``ProcessAPI.execute`` calls them."""
    import pygeoapi_ingestor_spark.api as api_mod
    from pygeoapi_ingestor_spark.plans import QUERIES

    if not run.tracer.enabled:
        yield
        return
    saved = {k: QUERIES[k] for k in API_KEYS}
    QUERIES.update({k: run.tracer.wrap("plans.build", fn, "build") for k, fn in saved.items()})
    try:
        with _patched(api_mod, "finalize_job", run.tracer.wrap(
                "streaming.finalize", api_mod.finalize_job)):
            yield
    finally:
        QUERIES.update(saved)


def _traced_request_stats(run: Run, group: str, op: Op) -> None:
    """Attribute one request's Spark work (traced runs only)."""
    tr = run.tracer
    with tr.harvesting():
        build = tr.group_stats(f"{group}|build")
        execd = tr.group_stats(group)
        op.detail.update(
            build_jobs=build["jobs"], exec=execd,
            build_exec=build, persisted_rdds_after=tr.persisted_rdds(),
        )


def _n_rows(resp: dict | None) -> int:
    return len(((resp or {}).get("value") or {}).get("rows", []))


def api_sequential(run: Run) -> None:
    """One closed-loop client; every request is ``ProcessAPI.execute``
    with the default ``finalize=True``."""
    inputs = {"sf_dir": run.sf_dir}

    def one_round():
        for key in run.rng.sample(API_KEYS, len(API_KEYS)):
            group = run.next_group()
            run.tracer.set_group(group)
            c = tree_cpu_s(os.getpid())
            with run.tracer.span("api.execute", key=key, group=group):
                t = time.perf_counter()
                resp = run.api.execute(run.spark, key, dict(inputs))
                lat = time.perf_counter() - t
            c = tree_cpu_s(os.getpid()) - c
            run.tracer.set_group(None)
            op = Op("request", key, lat, resp, detail={
                "group": group, "collect_rows": _n_rows(resp), "cpu_s": c})
            run.ops.append(op)
            if run.tracer.enabled:
                _traced_request_stats(run, group, op)

    with _api_traced(run):
        run.loop_rounds(one_round)


def api_concurrent(run: Run) -> None:
    """``JobManager(max_workers=nproc)``; one submitting thread keeps
    ``nproc`` jobs outstanding (closed loop) and stops submitting at a
    round boundary once the deadline has passed."""
    from pygeoapi_ingestor_spark.api import JobManager

    jm = JobManager(run.api, max_workers=run.nproc)
    inputs = {"sf_dir": run.sf_dir}
    queue: list[str] = []
    outstanding: dict[str, tuple[str, float]] = {}
    submitted = 0
    cpu0 = tree_cpu_s(os.getpid())
    t0 = time.perf_counter()
    with _api_traced(run):
        while True:
            past = time.perf_counter() - t0 >= run.seconds
            while len(outstanding) < run.nproc and not (past and submitted % len(API_KEYS) == 0):
                if not queue:
                    queue = run.rng.sample(API_KEYS, len(API_KEYS))
                key = queue.pop()
                outstanding[jm.submit(run.spark, key, dict(inputs))] = (key, time.perf_counter())
                submitted += 1
            if not outstanding:
                break
            for job_id, (key, t_sub) in list(outstanding.items()):
                if jm.status(job_id)["status"] in ("successful", "failed"):
                    lat = time.perf_counter() - t_sub
                    del outstanding[job_id]
                    resp = jm.result(job_id)
                    run.ops.append(Op("request", key, lat, resp, detail={
                        "group": job_id, "collect_rows": _n_rows(resp)}))
            time.sleep(0.002)
    run.wall_s = run.loop_s = time.perf_counter() - t0
    run.cpu_s = tree_cpu_s(os.getpid()) - cpu0
    run.rounds = submitted // len(API_KEYS)
    if run.tracer.enabled:
        for op in run.ops:
            _traced_request_stats(run, op.detail["group"], op)


def api_references(run: Run) -> dict:
    """Per-key reference answers from the DuckDB oracles, computed once
    before the measured loop."""
    from pygeoapi_ingestor_spark.plans import ORACLES

    refs = {}
    con = run.duck()
    for key in API_KEYS:
        res = con.execute(ORACLES[key])
        cols = [d[0] for d in res.description]
        refs[key] = checks.reference_digest(cols, res.fetchall())
    con.close()
    return refs


def check_api(run: Run, refs: dict) -> None:
    for op in run.ops:
        op.errors += checks.check_api_response(op.payload or {}, refs[op.key], API_LIMIT)
        op.payload = None


# -- ingest and publish -------------------------------------------------------

def stage_stream_files(run: Run) -> str:
    """Events in time order, cut into ``STREAM_FILES`` files of
    seed-chosen sizes (each within 30% of an equal share), so each file
    is one micro-batch."""
    src = os.path.join(run.work, "stream_src")
    shutil.rmtree(src, ignore_errors=True)
    os.makedirs(src)
    ev = pq.read_table(f"{run.sf_dir}/events.parquet").sort_by("ts")
    n = ev.num_rows
    share = n / STREAM_FILES
    cuts = [int(share * (i + run.rng.uniform(-0.3, 0.3))) for i in range(1, STREAM_FILES)]
    for i, (a, b) in enumerate(zip([0] + cuts, cuts + [n])):
        pq.write_table(ev.slice(a, b - a), os.path.join(src, f"part-{i:03d}.parquet"))
    return src


def _items_plan(run: Run) -> list[dict]:
    """The items reads of one round: a keyset walk with a property filter
    and one datetime-window page per time-indexed collection. No
    published collection carries lon/lat columns, so none uses bbox."""
    plan = [dict(
        collection=KEYSET_COLLECTION, sort_col="event_id",
        limit=run.rng.choice((25, 50, 100)), pages=KEYSET_PAGES,
        filter=dict(properties={"station": run.rng.randrange(N_STATIONS)}),
    )]
    for coll in WINDOW_COLLECTIONS:
        d0 = run.rng.randrange(1, 25)
        d1 = d0 + run.rng.randrange(2, 7)
        plan.append(dict(
            collection=coll, sort_col=None, limit=100, pages=1,
            filter=dict(time_col="bucket", datetime_range=(
                f"2024-01-{d0:02d}T00:00:00", f"2024-01-{d1:02d}T00:00:00")),
        ))
    return plan


def ingest_publish(run: Run) -> None:
    """The scheduler arc, one round: every family is ingested with
    ``IngestProcess.execute(force=True)`` and followed by
    ``finalize_job``; then the published collections are read through
    ``ProcessAPI.items``; then one streaming tick lands the staged event
    files in a collection through ``run_to_collection``."""
    from pygeoapi_ingestor_spark import processes
    from pygeoapi_ingestor_spark.plans import QUERIES
    from pygeoapi_ingestor_spark.sinks import collections as sink_mod
    from pygeoapi_ingestor_spark.sinks.collections import CollectionCatalog
    from pygeoapi_ingestor_spark.streaming import pipeline as spipe
    from pygeoapi_ingestor_spark.streaming.scheduler import finalize_job

    tr = run.tracer
    catalog = CollectionCatalog(os.path.join(run.work, "catalog.json"))
    finalize = tr.wrap("streaming.finalize", finalize_job)
    build = {k: tr.wrap("plans.build", QUERIES[k], group_suffix="build")
             for k in INGEST_FAMILIES}

    def fetch_for(key):
        def fetch(spark):
            with tr.span("processes.fetch_transform"):
                return build[key](spark, run.sf_dir)
        return fetch

    procs = {
        key: processes.IngestProcess(
            collection_id=key, fetch=fetch_for(key), transform=lambda df: df,
            out_path=os.path.join(run.work, "collections", key),
            catalog=catalog, **cfg,
        )
        for key, cfg in INGEST_FAMILIES.items()
    }
    src = stage_stream_files(run)

    def one_round():
        # a scheduler runs its configured jobs in their configured order
        for key in INGEST_FAMILIES:
            group = run.next_group()
            tr.set_group(group)
            c = tree_cpu_s(os.getpid())
            with tr.span("processes.ingest", key=key, group=group):
                t = time.perf_counter()
                res = procs[key].execute(run.spark, {"token": INGEST_TOKEN}, force=True)
                finalize(run.spark)
                lat = time.perf_counter() - t
            c = tree_cpu_s(os.getpid()) - c
            tr.set_group(None)
            op = Op("ingest", key, lat, res, detail={"group": group, "cpu_s": c})
            with run.checking():
                op.errors += _check_ingest(procs[key], res)
            run.ops.append(op)
            if tr.enabled:
                with tr.harvesting():
                    op.detail["exec"] = tr.group_stats(group)
                    op.detail["build_exec"] = tr.group_stats(f"{group}|build")
                    op.detail["persisted_rdds_after"] = tr.persisted_rdds()
                    op.detail["bytes_written"], op.detail["files_written"] = \
                        _du(procs[key].out_path)
        for item in _items_plan(run):
            _items_walk(run, item)
        _stream_tick(run, spipe, src, catalog)

    with contextlib.ExitStack() as stack:
        if tr.enabled:
            # the sink calls IngestProcess.execute and run_to_collection make
            for obj, name, span in (
                (processes, "write_collection", "sinks.write"),
                (processes, "compute_extents", "sinks.extents"),
                (sink_mod, "compute_extents", "sinks.extents"),
                (catalog, "register", "sinks.register"),
            ):
                stack.enter_context(_patched(obj, name, tr.wrap(span, getattr(obj, name))))
        run.loop_rounds(one_round)


def _check_ingest(proc, res) -> list[str]:
    """Registered extents against DuckDB's aggregate of the written
    files (runs between timed operations)."""
    if res.status != "OK":
        return [f"ingest status {res.status}: {res.message[:200]}"]
    aggs = ["count(*) AS n_rows"]
    if proc.ts_col:
        aggs += [f"min({proc.ts_col}) AS ts_begin", f"max({proc.ts_col}) AS ts_end"]
    for c in proc.value_cols or []:
        aggs += [f"min({c}) AS {c}_min", f"max({c}) AS {c}_max"]
    con = _duckdb()
    res_d = con.execute(
        f"SELECT {', '.join(aggs)} FROM read_parquet('{proc.out_path}/*.parquet')"
    )
    names = [d[0] for d in res_d.description]
    expected = dict(zip(names, res_d.fetchone()))
    con.close()
    with open(proc.catalog.catalog_path) as f:
        entry = json.load(f)["resources"].get(proc.collection_id) or {}
    return checks.check_extents(entry.get("extents"), expected)


def _du(path: str) -> tuple[int, int]:
    total, files = 0, 0
    for root, _, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                total += os.path.getsize(os.path.join(root, n))
                files += 1
    return total, files


def _items_walk(run: Run, item: dict) -> None:
    tr = run.tracer
    path = os.path.join(run.work, "collections", item["collection"])
    flt = item["filter"]
    pages, after = [], None
    for _ in range(item["pages"]):
        group = run.next_group()
        tr.set_group(group)
        with tr.span("api.items", key=item["collection"], group=group):
            t = time.perf_counter()
            page = run.api.items(
                run.spark, path, datetime_range=flt.get("datetime_range"),
                properties=flt.get("properties"), sort_col=item["sort_col"],
                limit=item["limit"], after=after,
                time_col=flt.get("time_col", "ts"),
            )
            lat = time.perf_counter() - t
        tr.set_group(None)
        op = Op("items", item["collection"], lat, detail={"group": group})
        if tr.enabled:
            with tr.harvesting():
                op.detail["exec"] = tr.group_stats(group)
                op.detail["scan_rows"] = tr.scan_rows(group)
        op.detail["returned"] = page.get("numberReturned", 0)
        run.ops.append(op)
        pages.append(page)
        after = page.get("nextAfter")
        if after is None:
            break
    with run.checking():
        walk_errors = checks.check_items_walk(
            pages, flt, _items_expected(path, item), item["sort_col"], item["limit"]
        )
    # a wrong walk fails every page of it
    for op in run.ops[-len(pages):]:
        op.errors += walk_errors


def _items_expected(path: str, item: dict) -> list:
    """What the walk must return, from DuckDB over the written files."""
    flt = item["filter"]
    where = ["TRUE"]
    for k, v in (flt.get("properties") or {}).items():
        where.append(f"{k} = '{v}'" if isinstance(v, str) else f"{k} = {v}")
    if flt.get("datetime_range"):
        lo, hi = flt["datetime_range"]
        t = flt["time_col"]
        where.append(f"CAST({t} AS TIMESTAMP) >= TIMESTAMP '{lo}'")
        where.append(f"CAST({t} AS TIMESTAMP) < TIMESTAMP '{hi}'")
    con = _duckdb()
    base = f"FROM read_parquet('{path}/*.parquet') WHERE {' AND '.join(where)}"
    if item["sort_col"]:
        sc = item["sort_col"]
        n = item["limit"] * item["pages"]
        out = [r[0] for r in con.execute(f"SELECT {sc} {base} ORDER BY {sc} LIMIT {n}").fetchall()]
    else:
        res = con.execute(f"SELECT * {base}")
        cols = [d[0] for d in res.description]
        out = [tuple(sorted((c, checks.norm_cell(v)) for c, v in zip(cols, r)))
               for r in res.fetchall()]
    con.close()
    return out


def _stream_tick(run: Run, spipe, src: str, catalog) -> None:
    tr = run.tracer
    tick = run.rounds
    out = os.path.join(run.work, f"stream_out_{tick}")
    ck = os.path.join(run.work, f"stream_ck_{tick}")
    group = run.next_group()
    tr.set_group(group)
    with tr.span("streaming.tick", group=group):
        t = time.perf_counter()
        stream = spipe.read_event_stream(run.spark, src, fmt="parquet",
                                         max_files_per_trigger=1)
        agg = spipe.windowed_agg(stream, window_duration="1 hour")
        q = spipe.run_to_collection(agg, "event_windows", out, ck, catalog,
                                    ts_col="window_start")
        lat = time.perf_counter() - t
    tr.set_group(None)
    progress = list(q.recentProgress)
    op = Op("stream", "event_windows", lat, detail={
        "group": group,
        "batches": [_batch_record(p) for p in progress if p.get("numInputRows", 0) > 0],
    })
    watermark = max((p.get("eventTime", {}).get("watermark", "") for p in progress), default="")
    with run.checking():
        op.errors += _check_stream(src, out, watermark)
    run.ops.append(op)


def _batch_record(p: dict) -> dict:
    d = p.get("durationMs", {})
    states = p.get("stateOperators") or [{}]
    return {
        "rows": p["numInputRows"],
        "trigger_s": d.get("triggerExecution", 0) / 1000.0,
        "add_batch_s": d.get("addBatch", 0) / 1000.0,
        "commit_s": (d.get("commitOffsets", 0) + d.get("walCommit", 0)) / 1000.0,
        "query_planning_s": d.get("queryPlanning", 0) / 1000.0,
        "state_rows": sum(s.get("numRowsTotal", 0) for s in states),
        "state_memory_bytes": sum(s.get("memoryUsedBytes", 0) for s in states),
    }


def _check_stream(src: str, out: str, watermark: str) -> list[str]:
    """The streamed collection equals the batch windowed aggregate of
    the staged input over the windows the final watermark closed."""
    if not watermark:
        return ["stream reported no watermark"]
    wm = watermark.replace("Z", "").replace("T", " ")
    con = _duckdb()
    got = con.execute(
        f"SELECT CAST(window_start AS TIMESTAMP), event_type, total_value, n_events "
        f"FROM read_parquet('{out}/**/*.parquet', hive_partitioning=true)"
    ).fetchall()
    expected = con.execute(
        f"SELECT time_bucket(INTERVAL 1 hour, ts) AS ws, event_type, sum(value), count(*) "
        f"FROM read_parquet('{src}/*.parquet') GROUP BY ws, event_type "
        f"HAVING ws + INTERVAL 1 hour <= TIMESTAMP '{wm}'"
    ).fetchall()
    con.close()
    return checks.check_stream(got, expected)


WORKLOADS = {
    "api_sequential": api_sequential,
    "api_concurrent": api_concurrent,
    "ingest_publish": ingest_publish,
}
