"""Round-5 operator tests: polygon point-in-polygon zonal membership,
B-spline transfer evaluation, SPI forecast composition, codebook-table
argmin at production sizes, SimHash bucket cap."""

from __future__ import annotations

import math
import random

import pytest
from pyspark.sql import functions as F

from pygeoapi_ingestor_spark.operators import spatial


# ---------------------------------------------------------------------------
# point-in-polygon vs brute-force winding number
# ---------------------------------------------------------------------------


def winding_number(px: float, py: float, ring: list[tuple[float, float]]) -> int:
    """Textbook winding-number point-in-polygon (Sunday's crossing form):
    counts signed upward/downward edge crossings using the left-of test.
    For simple (non-self-intersecting) rings, wn != 0 <=> even-odd inside
    — an independent algorithm to check the ray-casting parity against."""
    wn = 0
    n = len(ring)
    for i in range(n):
        x1, y1 = ring[i]
        x2, y2 = ring[(i + 1) % n]
        is_left = (x2 - x1) * (py - y1) - (px - x1) * (y2 - y1)
        if y1 <= py:
            if y2 > py and is_left > 0:
                wn += 1
        else:
            if y2 <= py and is_left < 0:
                wn -= 1
    return wn


def _random_polygon(rng: random.Random, concave: bool) -> list[tuple[float, float]]:
    """Simple polygon by angle-sorted vertices around a center; alternating
    radii make it star-shaped (concave) while staying non-self-intersecting."""
    cx, cy = rng.uniform(-5, 5), rng.uniform(-5, 5)
    n = rng.randint(5, 9)
    angles = sorted(rng.uniform(0, 2 * math.pi) for _ in range(n))
    ring = []
    for i, a in enumerate(angles):
        r = rng.uniform(2.0, 5.0)
        if concave and i % 2 == 1:
            r *= 0.35
        ring.append((cx + r * math.cos(a), cy + r * math.sin(a)))
    return ring


@pytest.mark.parametrize("concave", [False, True])
def test_polygon_membership_matches_winding(spark, concave):
    rng = random.Random(97 if concave else 31)
    polys = {f"z{i}": _random_polygon(rng, concave) for i in range(3)}
    pts = [
        (i, rng.uniform(-12, 12), rng.uniform(-12, 12)) for i in range(300)
    ]
    points = spark.createDataFrame(pts, "pid int, lon double, lat double")
    edges = spark.createDataFrame(
        spatial.polygon_edges_rows(polys),
        "zone string, x1 double, y1 double, x2 double, y2 double",
    )
    got = {
        (r["pid"], r["zone"])
        for r in spatial.polygon_membership(points, edges, key_cols=["pid"]).collect()
    }
    want = {
        (pid, z)
        for pid, px, py in pts
        for z, ring in polys.items()
        if winding_number(px, py, ring) != 0
    }
    assert got == want


# ---------------------------------------------------------------------------
# B-spline de Boor evaluation vs independent Cox-de Boor basis recursion
# ---------------------------------------------------------------------------


def bspline_basis(i: int, k: int, t: list[float], x: float) -> float:
    """Cox-de Boor basis recursion B_{i,k}(x) — a genuinely different
    formulation from the operator's de Boor pyramid (sums of basis
    products vs nested convex combinations), so agreement is evidence,
    not tautology."""
    if k == 0:
        return 1.0 if t[i] <= x < t[i + 1] else 0.0
    out = 0.0
    d1 = t[i + k] - t[i]
    if d1 > 0:
        out += (x - t[i]) / d1 * bspline_basis(i, k - 1, t, x)
    d2 = t[i + k + 1] - t[i + 1]
    if d2 > 0:
        out += (t[i + k + 1] - x) / d2 * bspline_basis(i + 1, k - 1, t, x)
    return out


def spline_eval_reference(
    t: list[float], c: list[float], k: int, x: float, dmin: float, dmax: float
) -> float:
    tmin, tmax = t[k], t[-k]
    if x < tmin:
        return x + dmin
    if x > tmax:
        return x + dmax
    return sum(c[i] * bspline_basis(i, k, t, x) for i in range(len(c)))


def test_spline_transfer_matches_basis_recursion(spark):
    from pygeoapi_ingestor_spark.operators import correction

    rng = random.Random(1234)
    params, facts, want = [], [], {}
    for s in range(6):
        k = 3
        interior = sorted(rng.uniform(15.0, 85.0) for _ in range(rng.randint(2, 5)))
        # reject degenerate (too-close) interior knots for numeric headroom
        if any(b - a < 1.0 for a, b in zip(interior, interior[1:])):
            interior = [20.0 + 12.0 * i for i in range(len(interior))]
        t = [10.0] * (k + 1) + interior + [90.0] * (k + 1)
        c = [rng.uniform(-50.0, 50.0) for _ in range(len(t) - k - 1)]
        dmin, dmax = rng.uniform(-5, 0), rng.uniform(0, 5)
        params.append((s, t, c, dmin, dmax))
        for j in range(40):
            x = rng.uniform(0.0, 100.0)  # covers both tails + in-range
            fid = s * 1000 + j
            facts.append((fid, s, x))
            want[fid] = spline_eval_reference(t, c, k, x, dmin, dmax)

    fact_df = spark.createDataFrame(facts, "fid int, series int, value double")
    param_df = spark.createDataFrame(
        params, "series int, t array<double>, c array<double>, dmin double, dmax double"
    )
    out = correction.apply_spline_table(
        fact_df, param_df, series_cols=["series"], value_col="value"
    )
    got = {r["fid"]: r["value_adj"] for r in out.collect()}
    assert set(got) == set(want)
    for fid, w in want.items():
        assert got[fid] == pytest.approx(w, rel=1e-9, abs=1e-9), fid


def test_spline_sql_dialects_agree():
    """The two dialect emissions differ ONLY in array-function names —
    the arithmetic text is identical, which is what guarantees
    cross-engine ulp-identical results."""
    from pygeoapi_ingestor_spark.operators import correction

    s = correction.spline_transfer_sql("v", "t", "c", 3, "dmin", "dmax", "spark")
    d = correction.spline_transfer_sql("v", "t", "c", 3, "dmin", "dmax", "duckdb")
    canon = (
        d.replace("list_extract", "element_at")
        .replace("list_filter", "filter")
        .replace("len(", "size(")
    )
    assert canon == s
    assert "__J__" not in s


# ---------------------------------------------------------------------------
# SPI fit-on-reference / apply-to-forecast
# ---------------------------------------------------------------------------


def test_spi_fit_apply_gamma_matches_numpy(spark):
    import datetime as dt

    import numpy as np

    from pygeoapi_ingestor_spark.functions.numerics import (
        gammainc_lower,
        normal_ppf_as,
        thom_gamma_fit,
    )
    from pygeoapi_ingestor_spark.operators import indices

    rng = random.Random(55)
    rows, expected = [], {}
    for s in range(3):
        ref = [round(max(0.0, rng.gauss(40 + 10 * s, 15)), 2) for _ in range(30)]
        fc = [round(max(0.0, rng.gauss(40 + 10 * s, 20)), 2) for _ in range(8)]
        base = dt.datetime(2024, 1, 1)
        for i, v in enumerate(ref + fc):
            rows.append((s, base + dt.timedelta(days=i), float(v), i < len(ref)))
        shape, scale = thom_gamma_fit(np.array([v for v in ref if v > 0]))
        q = sum(1 for v in ref if v == 0) / len(ref)
        g = gammainc_lower(shape, np.clip(np.array(fc), 0.0, None) / scale)
        h = np.clip(q + (1.0 - q) * g, 1e-12, 1.0 - 1e-12)
        for i, z in enumerate(normal_ppf_as(h)):
            expected[(s, base + dt.timedelta(days=len(ref) + i))] = float(z)

    df = spark.createDataFrame(
        rows, "series int, bucket timestamp, v double, is_ref boolean"
    )
    out = indices.spi_fit_apply_gamma(
        df, series_cols=["series"], bucket_col="bucket", value_col="v",
        is_ref_col="is_ref",
    ).collect()
    got = {(r["series"], r["bucket"]): r["spi"] for r in out}
    assert set(got) == set(expected)
    for key, w in expected.items():
        assert got[key] == pytest.approx(w, rel=1e-12, abs=1e-12), key


@pytest.mark.parametrize(
    "ref_values, spi_ts",
    [([None, None, None], 1), ([12.5], 3)],
    ids=["null-reference", "reference-shorter-than-window"],
)
def test_spi_fit_apply_gamma_no_finite_reference_is_null(spark, ref_values, spi_ts):
    """A series with no finite reference total has no fit: its forecast
    SPI is NULL, not 0.0."""
    import datetime as dt

    from pygeoapi_ingestor_spark.operators import indices

    base = dt.datetime(2024, 1, 1)
    vals = [*ref_values, 30.0, 45.5, 12.0, 60.25]
    rows = [
        (0, base + dt.timedelta(days=i), v, i < len(ref_values))
        for i, v in enumerate(vals)
    ]
    df = spark.createDataFrame(
        rows, "series int, bucket timestamp, v double, is_ref boolean"
    )
    out = indices.spi_fit_apply_gamma(
        df, series_cols=["series"], bucket_col="bucket", value_col="v",
        is_ref_col="is_ref", spi_ts=spi_ts,
    ).collect()
    assert len(out) == 4
    assert all(r["spi"] is None or math.isnan(r["spi"]) for r in out), out


def test_spi_empirical_apply_plotting_positions(spark):
    """In-sample targets land exactly on the Gringorten positions of
    their <=-count; out-of-range targets clamp to the edge positions."""
    from pygeoapi_ingestor_spark.operators import indices

    ref_vals = [10.0, 20.0, 30.0, 40.0, 50.0]
    ref = spark.createDataFrame([(1, v) for v in ref_vals], "s int, v double")
    targets = [(1, 5.0), (1, 20.0), (1, 35.0), (1, 99.0)]
    tgt = spark.createDataFrame(targets, "s int, v double")
    out = indices.spi_empirical_apply(ref, tgt, ["s"], "v").collect()

    def ppf(h):
        q = h if h <= 0.5 else 1.0 - h
        t = math.sqrt(math.log(1.0 / (q * q)))
        z = t - (2.515517 + 0.802853 * t + 0.010328 * t * t) / (
            1.0 + 1.432788 * t + 0.189269 * t * t + 0.001308 * t ** 3
        )
        return -z if h <= 0.5 else z

    n = len(ref_vals)
    want = {
        5.0: ppf((1 - 0.44) / (n + 0.12)),    # below range -> clamped to rank 1
        20.0: ppf((2 - 0.44) / (n + 0.12)),   # cnt_le = 2
        35.0: ppf((3 - 0.44) / (n + 0.12)),   # cnt_le = 3
        99.0: ppf((5 - 0.44) / (n + 0.12)),   # above range -> rank n
    }
    got = {r["v"]: r["spi_emp"] for r in out}
    for v, w in want.items():
        assert got[v] == pytest.approx(w, rel=1e-12), v


# ---------------------------------------------------------------------------
# thresholded centroid/codebook tables (production-k plan growth)
# ---------------------------------------------------------------------------


def _random_cents(rng, k, dim):
    return [(i, [rng.randint(-127, 127) for _ in range(dim)]) for i in range(k)]


def test_argmin_table_path_matches_inline(spark):
    from pygeoapi_ingestor_spark.operators import similarity

    rng = random.Random(8)
    dim, k = 16, 12
    cents = _random_cents(rng, k, dim)
    vecs = [(i, [rng.randint(-127, 127) for _ in range(dim)]) for i in range(50)]
    df = spark.createDataFrame(vecs, "vid int, _q array<int>")

    inline = {
        (r["vid"], r["_best"]["cid"], r["_best"]["d"])
        for r in similarity.with_best_centroid(
            df, "_q", cents, inline_max=k + 1
        ).collect()
    }
    table = {
        (r["vid"], r["_best"]["cid"], r["_best"]["d"])
        for r in similarity.with_best_centroid(
            df, "_q", cents, inline_max=0
        ).collect()
    }
    assert inline == table

    d_inline = similarity.with_centroid_dists(df, "_q", cents, "_d", inline_max=k + 1)
    d_table = similarity.with_centroid_dists(df, "_q", cents, "_d", inline_max=0)
    di = {(r["vid"], tuple((s["d"], s["cid"]) for s in r["_d"])) for r in d_inline.collect()}
    dt = {(r["vid"], tuple((s["d"], s["cid"]) for s in r["_d"])) for r in d_table.collect()}
    assert di == dt


def test_pq_adc_kernel_matches_python_twin(spark, sf_dir):
    """r13: encode + ADC tables run in Arrow numpy kernels (the former
    inline-literal and broadcast-table fold paths collapsed into one).
    Pin the full search against a pure-python twin of the r12 fold
    semantics: md5-draw codebook, exact int64 (q-c)^2 sums, argmin
    ties to the LOWEST code id, ADC = sum of table lookups, top-k by
    (adc_dist, neighbor_id)."""
    import hashlib

    from pygeoapi_ingestor_spark.operators import similarity
    from pygeoapi_ingestor_spark.sources.readers import read_table

    e = read_table(spark, sf_dir, "embeddings").limit(120)
    q = e.limit(3)
    kw = dict(
        id_col="vec_id", vec_col="embedding",
        query_id_col="vec_id", query_vec_col="embedding",
        k=4,
    )
    got = {tuple(r) for r in similarity.pq_adc_topk(e, q, **kw).collect()}
    assert len(got) > 0

    # python twin over Spark's own (unchanged) quantization — the
    # kernel rewrite touched only the integer encode/table/scan logic,
    # so the twin starts from the quantized ints, not the floats
    vecs = {
        r["vec_id"]: [int(x) for x in r["q_vec"]]
        for r in similarity.quantize_int8(
            e.select("vec_id", "embedding"), "embedding"
        ).select("vec_id", "q_vec").collect()
    }
    seeds = sorted(
        sorted(vecs, key=lambda i: hashlib.md5(str(i).encode()).hexdigest())[:16]
    )
    m_subs, sub_dim, kk = 8, 8, 4
    cb = [
        [vecs[s][m * sub_dim:(m + 1) * sub_dim] for s in seeds]
        for m in range(m_subs)
    ]

    def code(v, m):
        sub = v[m * sub_dim:(m + 1) * sub_dim]
        ds = [
            sum((a - b) * (a - b) for a, b in zip(sub, cvec))
            for cvec in cb[m]
        ]
        return ds.index(min(ds))

    qids = [r["vec_id"] for r in q.select("vec_id").collect()]
    want = set()
    for qid in qids:
        tabs = [
            [
                sum(
                    (a - b) * (a - b)
                    for a, b in zip(
                        vecs[qid][m * sub_dim:(m + 1) * sub_dim], cvec
                    )
                )
                for cvec in cb[m]
            ]
            for m in range(m_subs)
        ]
        scored = sorted(
            (
                sum(tabs[m][code(v, m)] for m in range(m_subs)),
                nid,
            )
            for nid, v in vecs.items()
            if nid != qid
        )
        for rank, (d, nid) in enumerate(scored[:kk], 1):
            want.add((qid, nid, d, rank))
    assert got == want


def test_production_k_plan_analysis_fast(spark):
    """k=1024 centroids x dim=64: the broadcast-table argmin must keep
    plan ANALYSIS near-constant (the literal-inline form would build a
    megabyte expression tree here). Sub-second per the round-4 verdict's
    acceptance bar; generous wall bound for CI noise."""
    import time

    from pygeoapi_ingestor_spark.operators import similarity

    rng = random.Random(99)
    cents = _random_cents(rng, 1024, 64)
    df = spark.createDataFrame(
        [(i, [rng.randint(-127, 127) for _ in range(64)]) for i in range(4)],
        "vid int, _q array<int>",
    )
    # warm up the createDataFrame/analysis machinery once
    similarity.with_best_centroid(df, "_q", _random_cents(rng, 80, 64)).schema
    t0 = time.perf_counter()
    out = similarity.with_best_centroid(df, "_q", cents)
    _ = out.schema  # forces full analysis
    dt = time.perf_counter() - t0
    assert dt < 2.0, f"analysis took {dt:.2f}s at k=1024"
    # and it actually computes: argmin cid within range
    rows = out.collect()
    assert len(rows) == 4 and all(0 <= r["_best"]["cid"] < 1024 for r in rows)


# ---------------------------------------------------------------------------
# SimHash bucket cap
# ---------------------------------------------------------------------------


def test_simhash_cap_no_loss_on_real_corpus(spark, sf_dir):
    """On the test corpus no bucket exceeds the default cap, so the
    capped output is IDENTICAL to uncapped — the hash-gate invariance
    the verdict requires."""
    from pygeoapi_ingestor_spark.operators import dedup
    from pygeoapi_ingestor_spark.sources.readers import read_table

    docs = read_table(spark, sf_dir, "documents")
    capped = {
        tuple(r)
        for r in dedup.simhash_near_pairs(
            docs, "doc_id", "text", token_hash="md5"
        ).collect()
    }
    uncapped = {
        tuple(r)
        for r in dedup.simhash_near_pairs(
            docs, "doc_id", "text", token_hash="md5", bucket_cap=None
        ).collect()
    }
    assert capped == uncapped


def test_simhash_cap_bounds_hot_bucket(spark):
    """Synthetic degenerate corpus: 60 single-token docs (identical
    signature -> one hot bucket per band) plus one genuine near-dup
    pair. With a
    cap below the hot-bucket size the degenerate candidate mass
    disappears (bounded task input) while the real pair — whose shared
    bands live in small buckets — survives the pigeonhole guarantee."""
    from pygeoapi_ingestor_spark.operators import dedup

    base = (
        "the quick brown fox jumps over the lazy dog while seventeen "
        "sailors watch from the harbor wall at dawn"
    )
    rows = [(i, "aaa") for i in range(60)]  # one shared token -> one signature
    rows += [(100, base), (101, base + " extra")]
    docs = spark.createDataFrame(rows, "doc_id int, text string")

    uncapped = dedup.simhash_near_pairs(
        docs, "doc_id", "text", token_hash="md5", bucket_cap=None
    ).collect()
    capped = dedup.simhash_near_pairs(
        docs, "doc_id", "text", token_hash="md5", bucket_cap=50
    ).collect()

    pairs_unc = {(r["doc_a"], r["doc_b"]) for r in uncapped}
    pairs_cap = {(r["doc_a"], r["doc_b"]) for r in capped}
    # the degenerate block produced ~60*59/2 identical-signature pairs
    assert sum(1 for a, b in pairs_unc if a < 60 and b < 60) > 1500
    # cap removes every degenerate pair but keeps the real near-dup
    assert all(not (a < 60 and b < 60) for a, b in pairs_cap)
    if (100, 101) in pairs_unc:
        assert (100, 101) in pairs_cap


# ---------------------------------------------------------------------------
# axis_seconds TZ dispatch
# ---------------------------------------------------------------------------


def test_axis_seconds_tz_uses_true_epoch(spark):
    """TZ-typed timestamps get unix_micros (true elapsed time across DST);
    NTZ keeps the zone-free wall-clock anchor."""
    import datetime as dt

    from pygeoapi_ingestor_spark.operators.temporal import axis_seconds

    ts = dt.datetime(2024, 6, 1, 12, 0, 0)
    df_tz = spark.createDataFrame([(ts,)], "ts timestamp")
    df_ntz = spark.createDataFrame([(ts,)], "ts timestamp_ntz")
    got_tz = df_tz.select(axis_seconds(df_tz, "ts").alias("s")).collect()[0]["s"]
    got_ntz = df_ntz.select(axis_seconds(df_ntz, "ts").alias("s")).collect()[0]["s"]
    want = ts.replace(tzinfo=dt.timezone.utc).timestamp()
    # session zone is pinned UTC, so both flavors agree here; the TZ path
    # additionally goes through unix_micros (plan contains no NTZ anchor)
    assert got_tz == pytest.approx(want)
    assert got_ntz == pytest.approx(want)
    plan_tz = df_tz.select(axis_seconds(df_tz, "ts"))._jdf.queryExecution().analyzed().toString()
    assert "unix_micros" in plan_tz


# ---------------------------------------------------------------------------
# items API over a Z-ordered collection: pushdown + min/max pruning
# ---------------------------------------------------------------------------


def test_items_bbox_over_zordered_collection(spark, sf_dir, tmp_path):
    """A bbox items query over a Z-ordered collection (range-partitioned
    and sorted on the Morton cell id) (a) answers correctly, (b) pushes
    the lon/lat predicates into the parquet scan, and (c) the layout
    makes per-file min/max stats SELECTIVE — only a minority of files
    intersect a tight bbox, which is exactly what the scan's row-group
    pruning keys on."""
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from pygeoapi_ingestor_spark.api import ProcessAPI
    from pygeoapi_ingestor_spark.operators.spatial import bbox_filter, morton_cell
    from pygeoapi_ingestor_spark.sources.readers import read_events

    pts = read_events(spark, sf_dir).select(
        "event_id",
        "ts",
        "event_type",
        "value",
        ((F.col("event_id") % 720) / F.lit(2.0) - F.lit(180.0)).alias("lon"),
        (((F.col("event_id") * 7) % 360) / F.lit(2.0) - F.lit(90.0)).alias("lat"),
    )
    path = str(tmp_path / "zcoll")
    (
        pts.repartitionByRange(8, morton_cell())
        .sortWithinPartitions(morton_cell())
        .write.mode("overwrite").parquet(path)
    )

    bbox = (-60.0, -30.0, -30.0, 10.0)  # W, S, E, N — a tight window
    api = ProcessAPI(default_sf_dir=sf_dir)
    page = api.items(
        spark, path, bbox=bbox, sort_col="event_id", limit=50, count_matched=True
    )
    in_box = [
        r
        for r in page["features"]
        if bbox[0] <= r["lon"] <= bbox[2] and bbox[1] <= r["lat"] <= bbox[3]
    ]
    assert len(in_box) == page["numberReturned"] > 0
    want_matched = pts.filter(
        (F.col("lon") >= bbox[0]) & (F.col("lon") <= bbox[2])
        & (F.col("lat") >= bbox[1]) & (F.col("lat") <= bbox[3])
    ).count()
    assert page["numberMatched"] == want_matched

    # (b) predicates reach the scan
    df = bbox_filter(spark.read.parquet(path), *bbox)
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "PushedFilters: [" in plan
    assert "GreaterThanOrEqual(lon,-60.0)" in plan
    assert "LessThanOrEqual(lat,10.0)" in plan

    # (c) layout selectivity: per-file lon/lat envelopes from parquet
    # footers — the same stats the reader prunes row groups with
    import glob

    files = sorted(glob.glob(f"{path}/part-*.parquet"))
    assert len(files) >= 6
    hit = 0
    for f in files:
        meta = pq.ParquetFile(f).metadata
        lo_lon = hi_lon = lo_lat = hi_lat = None
        for rg in range(meta.num_row_groups):
            row = meta.row_group(rg)
            for ci in range(row.num_columns):
                col = row.column(ci)
                name = col.path_in_schema
                st = col.statistics
                if st is None:
                    continue
                if name == "lon":
                    lo_lon = st.min if lo_lon is None else min(lo_lon, st.min)
                    hi_lon = st.max if hi_lon is None else max(hi_lon, st.max)
                if name == "lat":
                    lo_lat = st.min if lo_lat is None else min(lo_lat, st.min)
                    hi_lat = st.max if hi_lat is None else max(hi_lat, st.max)
        if (
            lo_lon is not None
            and not (hi_lon < bbox[0] or lo_lon > bbox[2] or hi_lat < bbox[1] or lo_lat > bbox[3])
        ):
            hit += 1
    assert hit < len(files), "Z-order layout should let min/max stats skip files"


def test_polygon_membership_concave_notch(spark):
    """The L-shape notch: a point inside the bbox but in the notch must be
    OUTSIDE (even-odd parity on a concave ring)."""
    ring = {"L": [(0.0, 0.0), (10.0, 0.0), (10.0, 10.0), (6.0, 10.0), (6.0, 4.0), (0.0, 4.0)]}
    pts = [(1, 3.0, 2.0), (2, 8.0, 8.0), (3, 2.0, 8.0), (4, 3.0, 3.9), (5, 5.9, 9.9)]
    # pids 3 and 5 sit in the notch (lon<6, lat>4): inside bbox, outside the L
    points = spark.createDataFrame(pts, "pid int, lon double, lat double")
    edges = spark.createDataFrame(
        spatial.polygon_edges_rows(ring),
        "zone string, x1 double, y1 double, x2 double, y2 double",
    )
    got = {
        r["pid"]
        for r in spatial.polygon_membership(points, edges, key_cols=["pid"]).collect()
    }
    assert got == {1, 2, 4}
