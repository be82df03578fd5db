"""Job-free, worker-free plan builds.

- Literal tables come from one helper, ``sources.readers.local_table``,
  as ``LocalRelation``s. A twin run checks every call site in the
  package against the list path it replaced (``createDataFrame`` of a
  Python list): same rows, same StructType with nullability. An AST
  census keeps ``createDataFrame(`` inside the helper.
- The distributed window family computes its carries in the plan, not
  on the driver: an AST census keeps the carry frame and the
  value-range bucket rule in ``functions/ranks.py``.
- Once each table's schema is known, the perfbench keys build with no
  Spark job, no new Python worker and no LogicalRDD leaf the artifact
  registry does not own.
- The rating-curve CASE is one ``F.expr`` call and bit-identical to the
  Column tree it replaced.
- ``spread_if_narrow`` decides without a job, the same way as the
  executed partition count.
- ``read_table`` infers a schema once per generation; a published
  collection carries its schema to its readers, and a non-partitioned
  ingest starts no job after its write.
"""

from __future__ import annotations

import ast
import gc
import json
import math
import os
import shutil
import struct
import sys
import threading
from pathlib import Path

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from pygeoapi_ingestor_spark import session
from pygeoapi_ingestor_spark.functions import storage
from pygeoapi_ingestor_spark.plans import QUERIES
from pygeoapi_ingestor_spark.sources import readers

PKG = Path(__file__).resolve().parents[1] / "pygeoapi_ingestor_spark"

PERFBENCH_KEYS = [
    "river_discharge_arpae", "zonal_stats", "bias_correction_spline",
    "threshold_per_station", "resample_monthly_scaled", "spi_gamma",
    "bias_correction_parametric_gamma",
]

# catalog keys whose builds reach the package's local_table sites; the
# remaining sites are driven directly below
SITE_KEYS = [
    "interval_overlap_join", "mad_outliers", "bias_correction_stored",
    "bias_correction_spline", "zonal_stats_polygon", "area_weighted_mean",
    "pet_hargreaves", "pet_knmi", "pet_deficit_chain",
    "bias_correction_parametric", "bias_correction_parametric_gamma",
    "bias_correction_parametric_tp", "rrf_fusion", "pca_power_iteration",
    "regrid_bilinear", "isoband_regions",
]


class _Calls(ast.NodeVisitor):
    """(line, enclosing function) of every call to ``name``, plain or
    as an attribute, that ``match`` accepts."""

    def __init__(self, name: str, match=lambda node: True):
        self.name, self.match, self.stack, self.found = name, match, ["<module>"], []

    def visit_FunctionDef(self, node):
        self.stack.append(node.name)
        self.generic_visit(node)
        self.stack.pop()

    visit_AsyncFunctionDef = visit_FunctionDef

    def visit_Call(self, node):
        f = node.func
        callee = f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)
        if callee == self.name and self.match(node):
            self.found.append((node.lineno, self.stack[-1]))
        self.generic_visit(node)


def _call_sites(name: str, match=lambda node: True) -> set[tuple[str, int, str]]:
    out = set()
    for path in sorted(PKG.rglob("*.py")):
        v = _Calls(name, match)
        v.visit(ast.parse(path.read_text(), str(path)))
        rel = str(path.relative_to(PKG.parent))
        out |= {(rel, line, fn) for line, fn in v.found}
    return out


def _jvm_schema(df) -> StructType:
    return StructType.fromJson(json.loads(df._jdf.schema().json()))


def _job_ids(spark, group: str, fn):
    """Run ``fn()`` under job group ``group``; return its result and the
    ids of the Spark jobs it started."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


def _daemons() -> set[str]:
    """Pids of the running Python worker daemons: pyspark's own, or the
    package's ``worker_daemon`` that local sessions start."""
    pids = set()
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                cmd = f.read()
                if b"pyspark.daemon" in cmd or b".worker_daemon" in cmd:
                    pids.add(pid)
        except OSError:
            continue
    return pids


# ---------------------------------------------------------------------------
# literal tables


def test_create_dataframe_only_inside_local_table():
    sites = _call_sites("createDataFrame")
    assert sites and {(p, fn) for p, _, fn in sites} == {
        ("pygeoapi_ingestor_spark/sources/readers.py", "local_table")
    }, sites


def _is_carry_frame(node) -> bool:
    """``rowsBetween(Window.unboundedPreceding, -1)``: the frame over a
    series' strictly earlier (or later) chunks."""
    if len(node.args) != 2:
        return False
    lo, hi = node.args
    return (
        isinstance(lo, ast.Attribute) and lo.attr == "unboundedPreceding"
        and ast.unparse(hi).replace(" ", "") == "-1"
    )


def _is_bucket_case(node) -> bool:
    """``least(floor((v - lo) / width), ...)``: the value-range bucket."""
    if not node.args or not isinstance(node.args[0], ast.Call):
        return False
    inner = node.args[0]
    name = getattr(inner.func, "attr", getattr(inner.func, "id", None))
    return (
        name == "floor" and len(inner.args) == 1
        and isinstance(inner.args[0], ast.BinOp)
        and isinstance(inner.args[0].op, ast.Div)
        and isinstance(inner.args[0].left, ast.BinOp)
        and isinstance(inner.args[0].left.op, ast.Sub)
    )


def test_boundary_exchange_is_built_once():
    """The distributed window family shares one boundary exchange: its
    carry frame and its value-range bucket rule are built only in
    ``functions/ranks.py``, and the bucket rule in one place."""
    ranks_py = "pygeoapi_ingestor_spark/functions/ranks.py"
    frames = _call_sites("rowsBetween", _is_carry_frame)
    assert {(p, fn) for p, _, fn in frames} == {(ranks_py, "_carries")}, frames
    buckets = _call_sites("least", _is_bucket_case)
    assert {(p, fn) for p, _, fn in buckets} == {(ranks_py, "_bucket")}, buckets
    assert len(buckets) == 1, buckets


def _typed_keys(spark):
    """Rows whose series keys take every dynamic key type the ranks
    literal tables copy from their input: timestamp (both flavors),
    date, decimal, string (with a NULL) and the NULL type."""
    even = F.col("id") % 2 == 0
    return spark.range(24).select(
        "id",
        (F.col("id") % 5).cast("double").alias("v"),
        F.when(even, F.lit("2024-01-01 00:00:00")).otherwise(
            F.lit("2024-03-10 12:30:00.5")).cast("timestamp").alias("k_ts"),
        F.when(even, F.lit("2024-01-02 03:04:05.000006")).otherwise(
            F.lit("1969-12-31 23:59:59")).cast("timestamp_ntz").alias("k_ntz"),
        F.when(even, F.lit("2024-02-29")).otherwise(
            F.lit("1900-01-01")).cast("date").alias("k_date"),
        F.when(even, F.lit("12.34")).otherwise(
            F.lit("-0.05")).cast("decimal(10,2)").alias("k_dec"),
        F.when(F.col("id") % 3 == 0, F.lit(None)).otherwise(
            F.lit("é")).cast("string").alias("k_str"),
        F.lit(None).alias("k_null"),
    )


def test_local_table_twins_the_list_path_at_every_site(spark, sf_dir, monkeypatch):
    from pygeoapi_ingestor_spark.functions import ranks
    from pygeoapi_ingestor_spark.operators import similarity

    real = readers.local_table
    hit: set[tuple[str, int]] = set()
    mismatches = []

    def twin(spark_, rows, schema):
        caller = sys._getframe(1)
        rel = str(Path(caller.f_code.co_filename).resolve().relative_to(PKG.parent))
        hit.add((rel, caller.f_lineno))
        rows = list(rows)
        new = real(spark_, rows, schema)
        old = spark_.createDataFrame(rows, schema)
        assert new._jdf.queryExecution().analyzed().getClass().getSimpleName() == (
            "LocalRelation"
        )
        if _jvm_schema(new) != _jvm_schema(old):
            mismatches.append(
                (rel, caller.f_lineno, "schema", _jvm_schema(new), _jvm_schema(old))
            )
        got = sorted(repr(r) for r in new.collect())
        want = sorted(repr(r) for r in old.collect())
        if got != want:
            mismatches.append((rel, caller.f_lineno, "rows", got[:3], want[:3]))
        return new

    for mod in list(sys.modules.values()):
        if getattr(mod, "local_table", None) is real:
            monkeypatch.setattr(mod, "local_table", twin)

    for key in SITE_KEYS:
        storage.release_corpus_artifacts()
        QUERIES[key](spark, sf_dir)
    storage.release_corpus_artifacts()

    keyed = _typed_keys(spark)
    keys = ["k_ts", "k_ntz", "k_date", "k_dec", "k_str", "k_null"]
    ranks.exact_percentiles(keyed, keys, "v", [0.25, 0.5], ["id"])
    ranks.bucketed_row_numbers_multi(keyed, keys, {"v": "rn_v", "id": "rn_id"}, ["id"])
    emb = spark.range(3).select(
        F.col("id").alias("vec_id"), F.array(F.lit(1.0), F.lit(0.0)).alias("embedding")
    )
    empty = similarity._empty_topk(emb, emb.withColumnRenamed("vec_id", "query_id"),
                                   "vec_id", "query_id")
    assert empty.count() == 0
    similarity._cents_table(spark, [(0, [1, -2, 3]), (7, [0, 0, 127])])

    sites = {(p, line) for p, line, _ in _call_sites("local_table")}
    assert len(sites) == 20, sites
    assert hit == sites, (sites - hit, hit - sites)
    assert not mismatches, mismatches


# ---------------------------------------------------------------------------
# build census


def test_perfbench_builds_start_no_job_no_worker_and_embed_no_rdd(spark, sf_dir):
    for t in session.TABLES:
        readers.read_table(spark, sf_dir, t)
    # rfm_segments: its multi-metric ranks carry their offsets in the plan
    for key in [*PERFBENCH_KEYS, "rfm_segments"]:
        storage.release_corpus_artifacts()
        before = _daemons()
        df, jobs = _job_ids(spark, f"census:{key}", lambda: QUERIES[key](spark, sf_dir))
        assert jobs == [], (key, jobs)
        assert not _daemons() - before, key
        leaves = {r.id() for r in storage.logical_rdds(df)}
        assert leaves <= storage.owned_rdd_ids(), (key, leaves)
    storage.release_corpus_artifacts()


# ---------------------------------------------------------------------------
# rating curves


def _case_tree(points, value_col, clamp_edges=False):
    """The chained ``F.when`` Column tree ``interpolate_points_expr``
    built before it rendered one SQL string: the twin's reference."""
    pts = sorted(points)
    v = F.col(value_col)
    expr = None
    if clamp_edges:
        expr = F.when(v <= F.lit(pts[0][0]), F.lit(pts[0][1])).when(
            v >= F.lit(pts[-1][0]), F.lit(pts[-1][1])
        )
    for (x_lo, y_lo), (x_hi, y_hi) in zip(pts, pts[1:]):
        interp = F.lit(y_lo) + (F.lit(y_hi) - F.lit(y_lo)) * (v - F.lit(x_lo)) / (
            F.lit(x_hi) - F.lit(x_lo)
        )
        cond = (v >= F.lit(x_lo)) & (v < F.lit(x_hi))
        expr = F.when(cond, interp) if expr is None else expr.when(cond, interp)
    if not clamp_edges:
        expr = expr.when(v == F.lit(pts[-1][0]), F.lit(pts[-1][1]))
    return expr.otherwise(F.lit(None).cast("double"))


def _probe_inputs(points) -> list:
    xs = sorted(x for x, _ in points)
    lo, hi = xs[0] - 1.0, xs[-1] + 1.0
    out = [None, float("nan"), float("inf"), -float("inf"), 0.0, -0.0]
    for x in xs:
        out += [x, math.nextafter(x, -math.inf), math.nextafter(x, math.inf)]
    out += [(a + b) / 2 for a, b in zip(xs, xs[1:])]
    n = 5000
    out += [lo + (hi - lo) * i / n for i in range(n + 1)]
    return out


@pytest.mark.parametrize("table, clamp", [
    ("ARPAE_RATING", True), ("ARPAE_RATING", False), ("RATING_CURVE", False),
])
def test_rating_curve_expr_is_one_call_and_bit_identical(spark, table, clamp):
    from pygeoapi_ingestor_spark.operators.curves import interpolate_points_expr
    from pygeoapi_ingestor_spark.plans import queries_etl

    points = getattr(queries_etl, table)
    client = spark.sparkContext._gateway._gateway_client
    send, calls, me = client.send_command, [], threading.get_ident()
    # py4j releases a collected JavaObject through send_command too, from
    # its finalizer thread (a backlog of earlier tests' releases drained
    # there read as 20+ calls): count this thread's commands only, free
    # earlier tests' cyclic garbage first and hold the collector off, so
    # only the build's own calls are counted
    gc.collect()
    gc.disable()

    def counted(*a, **k):
        if threading.get_ident() == me:
            calls.append(1)
        return send(*a, **k)

    client.send_command = counted
    try:
        new = interpolate_points_expr(points, "h", clamp_edges=clamp)
    finally:
        client.send_command = send
        gc.enable()
    assert len(calls) < 20, len(calls)

    inputs = _probe_inputs(points)
    assert len(inputs) > 5000
    df = spark.createDataFrame([(i, h) for i, h in enumerate(inputs)], "i int, h double")
    old = _case_tree(points, "h", clamp)
    rows = df.select("i", new.alias("new"), old.alias("old")).collect()

    def bits(x):
        return None if x is None else struct.pack(">d", x)

    diff = [(inputs[r["i"]], r["new"], r["old"]) for r in rows
            if bits(r["new"]) != bits(r["old"])]
    assert not diff, diff[:5]


# ---------------------------------------------------------------------------
# spread_if_narrow


SPREAD_KEYS = [
    "bias_correction_parametric_gamma", "bias_correction_parametric_tp",
    "dedup_minhash_lsh", "dedup_containment", "sim_search_ivf",
    "winnow_fingerprints",
]


def test_spread_decision_is_job_free_and_unchanged(spark, sf_dir, monkeypatch):
    """Every spread_if_narrow call these builds make decides as the
    executed partition count would; a narrow input (file scan under the
    streamed side of a broadcast join) is counted without a job."""
    real = session.spread_if_narrow
    seen = []

    def check(df):
        plan = df._jdf.queryExecution().sparkPlan()
        est, jobs = _job_ids(
            spark, f"spread:{len(seen)}", lambda: session._narrow_partitions(plan)
        )
        assert jobs == []
        n = df.rdd.getNumPartitions()
        seen.append((est, n))
        assert est is None or est == n
        return real(df)

    monkeypatch.setattr(session, "spread_if_narrow", check)
    for key in SPREAD_KEYS:
        storage.release_corpus_artifacts()
        QUERIES[key](spark, sf_dir)
    storage.release_corpus_artifacts()
    assert len(seen) >= len(SPREAD_KEYS)
    assert any(est is None for est, _ in seen)  # a shuffle falls back
    assert sum(est is not None for est, _ in seen) > len(seen) // 2

    ev = readers.read_events(spark, sf_dir)
    small = spark.range(3).withColumnRenamed("id", "user_id")
    joined = ev.join(F.broadcast(small), "user_id")
    assert session._narrow_partitions(joined._jdf.queryExecution().sparkPlan()) == (
        joined.rdd.getNumPartitions()
    )
    for wide in (ev.groupBy("event_type").count(), ev.coalesce(1), ev.repartition(3)):
        assert session._narrow_partitions(wide._jdf.queryExecution().sparkPlan()) is None


# ---------------------------------------------------------------------------
# read schemas


def test_read_table_infers_once_per_generation(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    corpus = str(tmp_path)
    pq.write_table(pa.table({"a": pa.array([1, 2], pa.int64()),
                             "b": pa.array(["x", None])}), f"{corpus}/t.parquet")
    key = (f"{corpus}/t.parquet", spark.sparkContext.applicationId, corpus)
    first, jobs = _job_ids(spark, "schema:first",
                           lambda: readers.read_table(spark, corpus, "t"))
    assert jobs, "the first read infers"
    second, jobs = _job_ids(spark, "schema:second",
                            lambda: readers.read_table(spark, corpus, "t"))
    assert jobs == []
    assert second.schema == first.schema
    assert sorted(second.collect()) == sorted(first.collect())

    from pygeoapi_ingestor_spark.streaming.scheduler import finalize_job

    finalize_job(spark)
    assert key in storage._SCHEMAS, "a release keeps the schemas"
    storage.corpus_artifact("probe", spark, corpus + "/other", lambda s, d: 1)
    assert key not in storage._SCHEMAS, "a generation switch drops them"
    storage.release_corpus_artifacts()


# ---------------------------------------------------------------------------
# publish-time schema


def test_read_schema_twins_parquet_inference(spark, tmp_path):
    from pygeoapi_ingestor_spark.sinks.collections import parquet_read_schema

    df = spark.sql("""
        SELECT CAST(id AS INT) AS i, id * 1.5 AS d,
               CAST(id AS DECIMAL(14, 2)) AS dec,
               TIMESTAMP '2024-01-01 00:00:00' + make_interval(0, 0, 0, 0, 0, 0, id) AS ts,
               CAST(TIMESTAMP '2024-01-01 00:00:00' AS TIMESTAMP_NTZ) AS ntz,
               DATE '2024-01-01' AS day, CAST(id AS STRING) AS s,
               array(id, id + 1) AS arr, map('k', id) AS m,
               named_struct('x', id, 'y', array(1.0D)) AS st
        FROM range(4)
    """)
    assert not all(f.nullable for f in df.schema.fields)
    path = str(tmp_path / "c")
    df.write.parquet(path)
    assert parquet_read_schema(df.schema) == spark.read.parquet(path).schema


def _ingest(spark, tmp_path, name, partition_by=None):
    from pygeoapi_ingestor_spark.processes import IngestProcess
    from pygeoapi_ingestor_spark.sinks.collections import CollectionCatalog

    catalog = CollectionCatalog(str(tmp_path / "catalog.json"))
    proc = IngestProcess(
        collection_id=name,
        fetch=lambda s: s.range(30).select(
            "id", (F.col("id") % 3).cast("int").alias("station"),
            (F.col("id") * 0.5).alias("value"),
        ),
        transform=lambda df: df,
        out_path=str(tmp_path / name),
        catalog=catalog,
        partition_by=partition_by,
        value_cols=["value"],
    )
    res = proc.execute(spark, {"token": "t"}, force=True)
    assert res.status == "OK", res.message
    return proc


@pytest.mark.parametrize("partition_by", [None, ["station"]])
def test_published_schema_reaches_items_without_inference(spark, tmp_path, partition_by):
    from pygeoapi_ingestor_spark.api import ProcessAPI
    from pygeoapi_ingestor_spark.sinks.collections import published_schema

    proc = _ingest(spark, tmp_path, "pub", partition_by)
    with open(proc.catalog.catalog_path) as f:
        entry = json.load(f)["resources"]["pub"]
    inferred = spark.read.parquet(proc.out_path).schema
    assert StructType.fromJson(entry["schema"]) == inferred
    assert published_schema(proc.out_path) == inferred

    # an unregistered copy of the same files is read with inference
    copy = str(tmp_path / "copy")
    shutil.copytree(proc.out_path, copy)
    assert published_schema(copy) is None
    api = ProcessAPI()

    def page(path):
        return lambda: api.items(spark, path, properties={"station": 1},
                                 sort_col="id", limit=4)

    got, jobs_pub = _job_ids(spark, "items:pub", page(proc.out_path))
    want, jobs_copy = _job_ids(spark, "items:copy", page(copy))
    assert got == want and got["numberReturned"] == 4
    assert len(jobs_pub) < len(jobs_copy), (jobs_pub, jobs_copy)


def test_non_partitioned_ingest_starts_only_the_write_jobs(spark, tmp_path):
    """The extents ride on the write and the schema needs no read: a
    non-partitioned ingest starts as many jobs as writing the same
    DataFrame does."""
    from pygeoapi_ingestor_spark.sinks.collections import write_collection

    proc, ingest = _job_ids(spark, "census:ingest",
                            lambda: _ingest(spark, tmp_path, "census"))
    _, plain = _job_ids(spark, "census:write", lambda: write_collection(
        proc.fetch(spark), str(tmp_path / "plain")))
    assert plain and len(ingest) == len(plain), (ingest, plain)


def test_entry_without_schema_falls_back_to_inference(spark, tmp_path):
    from pygeoapi_ingestor_spark.api import ProcessAPI
    from pygeoapi_ingestor_spark.sinks.collections import (
        CollectionCatalog,
        published_schema,
    )

    path = str(tmp_path / "plain")
    spark.range(5).write.parquet(path)
    CollectionCatalog(str(tmp_path / "catalog.json")).register("plain", path, {})
    assert published_schema(path) is None
    page = ProcessAPI().items(spark, path, sort_col="id", limit=10)
    assert [r["id"] for r in page["features"]] == list(range(5))
