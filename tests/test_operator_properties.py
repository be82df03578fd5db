"""Property tests: the window-trick operators (as-of join, quantile map,
sessionize) checked against naive per-row reference implementations on
randomized small inputs.
"""

from __future__ import annotations

import datetime

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pygeoapi_ingestor_spark.operators import correction, temporal

BASE = datetime.datetime(2024, 1, 1)


def _ts(minutes: float) -> datetime.datetime:
    return BASE + datetime.timedelta(minutes=float(minutes))


@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    left=st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 2000)), min_size=1, max_size=15
    ),
    right=st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 2000), st.floats(0, 100)),
        min_size=0,
        max_size=15,
    ),
)
def test_asof_join_matches_naive(spark, left, right):
    ldf = spark.createDataFrame(
        [(i, k, _ts(m)) for i, (k, m) in enumerate(left)], "lid int, k int, ts timestamp"
    )
    rdf = spark.createDataFrame(
        [(k, _ts(m), round(v, 3)) for k, m, v in right],
        "rk int, rts timestamp, rv double",
    )
    out = temporal.asof_join(
        ldf, rdf, left_on="ts", right_on="rts",
        left_keys=["k"], right_keys=["rk"], right_value_cols=["rts", "rv"],
    ).collect()

    naive = {}
    for i, (k, m) in enumerate(left):
        cands = [(rm, rv) for (rk, rm, rv) in right if rk == k and _ts(rm) <= _ts(m)]
        naive[i] = max(cands)[1] if cands else None

    got = {r["lid"]: (round(r["rv"], 3) if r["rv"] is not None else None) for r in out}
    want = {i: (round(v, 3) if v is not None else None) for i, v in naive.items()}
    assert len(out) == len(left)
    assert got == want


@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    left=st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 2000)), min_size=1, max_size=15
    ),
    right=st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 2000), st.floats(0, 100)),
        min_size=0,
        max_size=15,
    ),
    tol=st.sampled_from([None, 600]),
)
def test_asof_join_forward_matches_naive(spark, left, right, tol):
    ldf = spark.createDataFrame(
        [(i, k, _ts(m)) for i, (k, m) in enumerate(left)], "lid int, k int, ts timestamp"
    )
    rdf = spark.createDataFrame(
        [(k, _ts(m), round(v, 3)) for k, m, v in right],
        "rk int, rts timestamp, rv double",
    )
    out = temporal.asof_join(
        ldf, rdf, left_on="ts", right_on="rts",
        left_keys=["k"], right_keys=["rk"], right_value_cols=["rts", "rv"],
        direction="forward", tolerance_seconds=tol,
    ).collect()

    naive = {}
    for i, (k, m) in enumerate(left):
        cands = [(rm, rv) for (rk, rm, rv) in right if rk == k and rm >= m]
        if not cands:
            naive[i] = None
            continue
        # nearest first (min rts; among ties the max value, matching the
        # operator's greatest-struct tiebreak), THEN the tolerance gate
        rm_min = min(rm for rm, _ in cands)
        rv_pick = max(rv for rm, rv in cands if rm == rm_min)
        naive[i] = rv_pick if tol is None or (rm_min - m) * 60 <= tol else None

    got = {r["lid"]: (round(r["rv"], 3) if r["rv"] is not None else None) for r in out}
    want = {i: (round(v, 3) if v is not None else None) for i, v in naive.items()}
    assert len(out) == len(left)
    assert got == want


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    model=st.lists(st.floats(0, 100), min_size=2, max_size=20),
    ref=st.lists(st.floats(0, 100), min_size=2, max_size=20),
)
def test_quantile_map_matches_naive(spark, model, ref):
    model = [round(x, 3) for x in model]
    ref = [round(x, 3) for x in ref]
    mdf = spark.createDataFrame(
        [(i, 1, v) for i, v in enumerate(model)], "mid int, s int, value double"
    )
    rdf = spark.createDataFrame([(1, v) for v in ref], "s int, value double")
    out = correction.quantile_map(
        mdf, rdf, series_cols=["s"], value_col="value"
    ).collect()

    # naive: percent_rank on each side, adj = max ref value whose rank <= model rank
    def ranks(vals):
        n = len(vals)
        svals = sorted(vals)
        return {
            i: (svals.index(v)) / (n - 1) if n > 1 else 0.0
            for i, v in enumerate(vals)
        }

    mr = ranks(model)
    rr = ranks(ref)
    got = {r["mid"]: round(r["value_adj"], 6) for r in out}
    for i, v in enumerate(model):
        cands = [ref[j] for j in range(len(ref)) if rr[j] <= mr[i] + 1e-12]
        want = round(max(cands), 6)
        assert got[i] == want, (i, v, got[i], want)


def test_anomaly_keeps_rows_without_climatology(spark):
    from pygeoapi_ingestor_spark.operators import indices

    clim_src = spark.createDataFrame(
        [("a", BASE, 1.0), ("a", BASE, 3.0)], "s string, ts timestamp, v double"
    )
    clim = indices.climatology(clim_src, ["s"], "ts", "v", cycle="hour")
    # series "b" has no climatology entry: must survive with NULL zscore
    facts = spark.createDataFrame(
        [("a", BASE, 2.0), ("b", BASE, 5.0)], "s string, ts timestamp, v double"
    )
    out = indices.anomaly(facts, clim, ["s"], "ts", "v", cycle="hour").collect()
    assert len(out) == 2
    by_s = {r["s"]: r["zscore"] for r in out}
    assert by_s["a"] is not None
    assert by_s["b"] is None


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    gaps=st.lists(st.integers(1, 4000), min_size=1, max_size=20),
)
def test_sessionize_matches_naive(spark, gaps):
    # one user; cumulative offsets; gap threshold 1800 s
    times = []
    acc = 0
    for g in gaps:
        acc += g
        times.append(acc)
    df = spark.createDataFrame(
        [(1, BASE + datetime.timedelta(seconds=s)) for s in times],
        "user int, ts timestamp",
    )
    out = temporal.sessionize(df, key_cols=["user"], ts_col="ts", gap_seconds=1800)
    rows = sorted(out.collect(), key=lambda r: r["ts"])

    want_id = 0
    prev = None
    for r, s in zip(rows, sorted(times)):
        if prev is None or s - prev > 1800:
            want_id += 1
        assert r["session_id"] == want_id, (s, r["session_id"], want_id)
        prev = s


def test_chunked_ops_equal_plain_windows(spark, sf_dir):
    """Boundary exchange must be exact: chunked lag/ffill/interp with
    DAY chunks reproduce the single-partition-per-series windows
    row for row, including nulls at series heads and all-null chunks."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from pygeoapi_ingestor_spark.operators import temporal
    from pygeoapi_ingestor_spark.sources.readers import read_events

    ev = read_events(spark, sf_dir).withColumn(
        "v", F.when(F.col("value") >= 30.0, F.col("value"))
    )
    day = F.date_trunc("day", F.col("ts"))

    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    plain_lag = ev.select(
        "event_id", F.lag("v").over(w).alias("x")
    ).collect()
    chunk_lag = temporal.chunked_lag(
        ev, ["event_type"], ["ts", "event_id"], "v", day, out_col="x"
    ).select("event_id", "x").collect()
    assert sorted(map(tuple, plain_lag)) == sorted(map(tuple, chunk_lag))

    wf = w.rowsBetween(Window.unboundedPreceding, 0)
    plain_ff = ev.select(
        "event_id", F.last("v", ignorenulls=True).over(wf).alias("x")
    ).collect()
    chunk_ff = temporal.chunked_forward_fill(
        ev, ["event_type"], ["ts", "event_id"], "v", day, out_col="x"
    ).select("event_id", "x").collect()
    assert sorted(map(tuple, plain_ff)) == sorted(map(tuple, chunk_ff))

    plain_li = temporal.linear_interp_gaps(
        ev, ["event_type"], "ts", "v", out_col="x"
    ).select("event_id", F.round("x", 9).alias("x")).collect()
    chunk_li = temporal.chunked_linear_interp(
        ev, ["event_type"], "ts", "v", day
    ).select("event_id", F.round("v_interp", 9).alias("x")).collect()
    assert sorted(map(tuple, plain_li)) == sorted(map(tuple, chunk_li))


def test_bucketed_rank_equals_window_rank(spark, sf_dir):
    """bucketed_rank/row_number must equal the plain window functions."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from pygeoapi_ingestor_spark.functions import ranks
    from pygeoapi_ingestor_spark.sources.readers import read_events

    ev = read_events(spark, sf_dir).limit(3000)
    w = Window.partitionBy("event_type").orderBy("value")
    plain = ev.select(
        "event_id", F.rank().over(w).alias("r")
    ).collect()
    got = ranks.bucketed_rank(
        ev, ["event_type"], "value", out_col="r"
    ).select("event_id", "r").collect()
    assert sorted(map(tuple, plain)) == sorted(map(tuple, got))

    w2 = Window.partitionBy("event_type").orderBy("value", "event_id")
    plain_rn = ev.select("event_id", F.row_number().over(w2).alias("r")).collect()
    got_rn = ranks.bucketed_row_number(
        ev, ["event_type"], "value", ["event_id"], out_col="r"
    ).select("event_id", "r").collect()
    assert sorted(map(tuple, plain_rn)) == sorted(map(tuple, got_rn))

    # ntile closed form vs SQL ntile for several k
    for k in (3, 4, 7):
        plain_nt = ev.select(
            "event_id", F.ntile(k).over(w2).alias("t")
        ).collect()
        got_nt = (
            ranks.bucketed_row_number(
                ev, ["event_type"], "value", ["event_id"],
                out_col="_rn", count_col="_cnt",
            )
            .select("event_id", ranks.ntile_expr("_rn", "_cnt", k).alias("t"))
            .collect()
        )
        assert sorted(map(tuple, plain_nt)) == sorted(map(tuple, got_nt)), k


def test_scrub_pii_patterns(spark):
    """The PII patterns must hit real email/IP/phone shapes (the corpus
    has none, so the catalog query exercises only the blocklist arm)."""
    from pygeoapi_ingestor_spark.operators.text import scrub

    rows = [
        (0, "contact alice.smith+x@example.org or bob@sub.domain.co"),
        (1, "server at 192.168.0.1 and 10.0.0.255 responded"),
        (2, "call +1 555 123 4567 or 020-7946-0958 today"),
        (3, "clean text with no identifiers at all"),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    out = {r["doc_id"]: r for r in scrub(df, "text").collect()}
    assert out[0]["n_email"] == 2 and "[REDACTED]" in out[0]["scrubbed"]
    assert "@" not in out[0]["scrubbed"]
    assert out[1]["n_ipv4"] == 2 and "192.168.0.1" not in out[1]["scrubbed"]
    assert out[2]["n_phone"] >= 2
    assert out[3]["n_email"] == 0 and out[3]["scrubbed"] == rows[3][1]


def _canon(df, *cols):
    """Sorted rows of ``cols``, NaN equal to NaN (each value by repr)."""
    return sorted(tuple(map(repr, r)) for r in df.select(*cols).collect())


def test_chunked_and_rank_edge_cases(spark):
    """Adversarial shapes: all-null series, single-row series, every
    value tied around a NULL, chunks with no valid rows, NaN and both
    infinities — chunked ops and bucketed ranks must still equal their
    single-partition window twins."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from pygeoapi_ingestor_spark.functions import ranks
    from pygeoapi_ingestor_spark.operators import temporal

    nan, inf = float("nan"), float("inf")
    rows = []
    # series A: all nulls          series B: one row
    rows += [("A", i, None) for i in range(6)]
    rows += [("B", 0, 5.0)]
    # series C: every value tied, with a NULL inside
    rows += [("C", i, None if i == 4 else 7.0) for i in range(9)]
    # series D: nulls interleaved so some chunks are entirely null
    rows += [("D", i, (None if (i // 3) % 2 == 0 else float(i))) for i in range(12)]
    # series E: NaN and both infinities among finite values and a NULL
    e = [1.0, nan, 2.0, inf, None, -inf, 3.0, nan, 5.0, None, -inf, 4.0]
    rows += [("E", i, x) for i, x in enumerate(e)]
    # series F: finite values and +inf (no NaN), G: -inf and finite
    rows += [("F", i, x) for i, x in enumerate([2.0, inf, 1.0, 2.0, 8.0, inf])]
    rows += [("G", i, x) for i, x in enumerate([-inf, 3.0, -inf, 0.5, 9.0])]
    df = spark.createDataFrame(rows, "s string, i int, v double").repartition(4)
    chunk = F.col("i") - F.col("i") % 3

    w = Window.partitionBy("s").orderBy("i")
    plain_lag = _canon(df.withColumn("x", F.lag("v").over(w)), "s", "i", "x")
    got_lag = _canon(temporal.chunked_lag(
        df, ["s"], ["i"], "v", chunk, out_col="x"), "s", "i", "x")
    assert plain_lag == got_lag

    wf = w.rowsBetween(Window.unboundedPreceding, 0)
    plain_ff = _canon(df.withColumn(
        "x", F.last("v", ignorenulls=True).over(wf)), "s", "i", "x")
    got_ff = _canon(temporal.chunked_forward_fill(
        df, ["s"], ["i"], "v", chunk, out_col="x"), "s", "i", "x")
    assert plain_ff == got_ff

    plain_cs = _canon(df.withColumn("x", F.sum("v").over(wf)), "s", "i", "x")
    got_cs = _canon(temporal.chunked_cumulative_sum(
        df, ["s"], ["i"], "v", chunk, out_col="x"), "s", "i", "x")
    assert plain_cs == got_cs

    plain_li = _canon(temporal.linear_interp_gaps(
        df, ["s"], "i", "v", out_col="x"), "s", "i", "x")
    got_li = _canon(temporal.chunked_linear_interp(
        df, ["s"], "i", "v", chunk), "s", "i", "v_interp")
    assert plain_li == got_li

    wv = Window.partitionBy("s").orderBy("v")
    plain_rank = _canon(df.withColumn("r", F.rank().over(wv)), "s", "i", "r")
    got_rank = _canon(ranks.bucketed_rank(
        df, ["s"], "v", out_col="r"), "s", "i", "r")
    assert plain_rank == got_rank

    wn = Window.partitionBy("s")
    plain_rn = _canon(df.withColumn(
        "r", F.row_number().over(Window.partitionBy("s").orderBy("v", "i"))
    ).withColumn("n", F.count(F.lit(1)).over(wn)), "s", "i", "r", "n")
    got_rn = _canon(ranks.bucketed_row_number(
        df, ["s"], "v", ["i"], out_col="r"), "s", "i", "r", "n")
    assert plain_rn == got_rn


def test_exact_percentiles_matches_percentile_agg(spark, sf_dir):
    """Bucket drill-down percentiles must equal Spark's exact
    `percentile` aggregate, including the p=0/p=1 edges."""
    from pyspark.sql import functions as F

    import pytest

    from pygeoapi_ingestor_spark.functions import ranks
    from pygeoapi_ingestor_spark.sources.readers import read_events

    ev = read_events(spark, sf_dir).limit(3000)
    ps = [0.0, 0.25, 0.5, 0.9, 1.0]
    plain = {
        (r["event_type"], p): r[f"q{i}"]
        for r in ev.groupBy("event_type")
        .agg(*[F.percentile("value", F.lit(p)).alias(f"q{i}") for i, p in enumerate(ps)])
        .collect()
        for i, p in enumerate(ps)
    }
    got = {
        (r["event_type"], r["p"]): r["pct"]
        for r in ranks.exact_percentiles(
            ev, ["event_type"], "value", ps, ["event_id"]
        ).collect()
    }
    assert set(got) == set(plain)
    for k in plain:
        assert got[k] == pytest.approx(plain[k], abs=1e-9), k


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    data=st.lists(
        st.tuples(st.integers(0, 1), st.integers(0, 5000), st.floats(0, 100)),
        min_size=1,
        max_size=40,
        unique_by=lambda t: (t[0], t[1]),
    ),
    alpha=st.sampled_from([0.1, 0.5, 0.9]),
)
def test_chunked_ewma_matches_pandas(spark, data, alpha):
    import pandas as pd
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(k, i, _ts(m), round(v, 3)) for i, (k, m, v) in enumerate(data)],
        "k int, rid int, ts timestamp, v double",
    )
    got = {
        r["rid"]: r["ewma"]
        for r in temporal.chunked_ewma(
            df, ["k"], ["ts", "rid"], "v", alpha,
            F.date_trunc("day", F.col("ts")),
        ).collect()
    }
    pdf = pd.DataFrame(
        [(k, i, m, round(v, 3)) for i, (k, m, v) in enumerate(data)],
        columns=["k", "rid", "m", "v"],
    ).sort_values(["k", "m", "rid"])
    pdf["y"] = pdf.groupby("k")["v"].transform(
        lambda s: s.ewm(alpha=alpha, adjust=False).mean()
    )
    want = dict(zip(pdf["rid"], pdf["y"]))
    assert set(got) == set(want)
    for rid in want:
        assert abs(got[rid] - want[rid]) < 1e-9, (rid, got[rid], want[rid])


@settings(max_examples=20, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    deficits=st.lists(
        st.floats(-50.0, 50.0, allow_nan=False, allow_infinity=False),
        min_size=1, max_size=40,
    )
)
def test_clamped_cumsum_closed_form_property(spark, deficits):
    """The pet_deficit_chain identity on arbitrary sequences:
    c_t = max(c_{t-1} + d_t, 0) (reference recursion, init included)
    == S_t − min(0, running_min(S_t)) (the two-window closed form)."""
    import datetime as _dt

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    rows = [
        ("s", _dt.date(2024, 1, 1) + _dt.timedelta(days=i), float(d))
        for i, d in enumerate(deficits)
    ]
    df = spark.createDataFrame(rows, "k string, day date, p_def double")
    w = (
        Window.partitionBy("k").orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    with_s = df.select("k", "day", "p_def", F.sum("p_def").over(w).alias("s"))
    out = with_s.withColumn("s_min", F.min("s").over(w)).select(
        "day", (F.col("s") - F.least(F.col("s_min"), F.lit(0.0))).alias("cum")
    )
    got = {r["day"]: r["cum"] for r in out.collect()}
    cum = 0.0
    for i, d in enumerate(deficits):
        cum = max(cum + d, 0.0)
        day = _dt.date(2024, 1, 1) + _dt.timedelta(days=i)
        assert abs(got[day] - cum) < 1e-9, (i, d, got[day], cum)
