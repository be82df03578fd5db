"""Temporal operators: selection, resampling, rolling windows, cumulative
sums, dedup-latest, as-of joins, sessionization.

Reference semantics:
- time-range + predicate selection: utils_spi.py:399-425 (``sel(time=slice)``)
- monthly resample: utils_spi.py:418-425 (monthly precip totals)
- weekly max: ll_nl_danger_levels.py:68-105 (weekly max; NB the
  reference's pandas '1W' weeks END on Sunday while date_trunc('week')
  anchors on Monday — shift ts by +1 day before resampling when exact
  Sunday-week parity is required)
- rolling sum: utils_spi.py:444-448 (``rolling(spi_ts).sum()``)
- cumulative deficit: ingestor_knmi_evapo.py (running deficit)
- idempotent latest-snapshot ingest: utils_spi.py:205-358
- stage/discharge time alignment: rer_river_discharge_arpae_process.py

All operators shuffle on ``(series, bucket)`` — cardinality bounded by the
number of series x periods, never by raw row count — and keep everything
inside whole-stage codegen (no Python UDFs).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def ts_seconds(col) -> "F.Column":
    """Wall-clock seconds since 1970-01-01 as double (µs precision).

    Type-agnostic replacement for ``cast(ts as double)`` /
    ``unix_micros``: naive-µs parquet surfaces as TIMESTAMP_NTZ under
    Spark 4, where both of those are analysis errors. ``timestamp_diff``
    accepts TIMESTAMP and TIMESTAMP_NTZ alike; with an NTZ epoch anchor
    the NTZ path is fully timezone-free (matches DuckDB ``epoch()`` on
    naive timestamps), and the TZ path resolves under the session zone.
    """
    epoch = F.expr("TIMESTAMP_NTZ '1970-01-01 00:00:00'")
    return F.timestamp_diff("MICROSECOND", epoch, col) / F.lit(1e6)


def micros_between(start, end) -> "F.Column":
    """Signed whole microseconds ``end - start`` for any timestamp type.

    Pairwise (same-typed operands), so no epoch anchor or timezone enters
    at all — the NTZ-safe form of ``unix_micros(end) - unix_micros(start)``.
    """
    return F.timestamp_diff("MICROSECOND", start, end)


def wall_trunc(freq: str, col) -> "F.Column":
    """WALL-CLOCK ``date_trunc``, independent of the session timezone.

    Spark's ``date_trunc`` pushes TIMESTAMP_NTZ input through the
    session zone and returns TIMESTAMP, so under a non-UTC session a
    naive '2024-01-19 00:00' day-bucket surfaces shifted (e.g. 05:00)
    — and even an NTZ→trunc→NTZ round trip converts through the zone
    internally, which shifts buckets by an hour in zones whose DST
    spring-forward lands at midnight (America/Santiago, Azores), where
    local midnight does not exist on transition days.

    The calendar frequencies therefore truncate via PURE DATE
    ARITHMETIC on the NTZ value — ``cast(ntz as date)`` (wall-date
    extraction, no zone), Monday via ``weekday`` (no zone),
    month/year via ``trunc`` on the date, hour via field extraction
    into ``make_timestamp_ntz`` — so no session zone enters at any
    point and the result matches DuckDB's ``date_trunc`` on naive
    timestamps under ANY session zone, midnight-DST ones included
    (tests/test_tz_independence.py sweeps America/Santiago).
    TIMESTAMP (tz-aware) input still resolves its wall clock through
    the session zone first — that IS its wall-clock semantic."""
    c = F.col(col) if isinstance(col, str) else col
    c = c.cast("timestamp_ntz")
    f = freq.lower()
    if f == "hour":
        return F.make_timestamp_ntz(
            F.year(c), F.month(c), F.dayofmonth(c), F.hour(c),
            F.lit(0), F.lit(0),
        )
    if f in ("day", "week", "month", "year"):
        d = c.cast("date")
        if f == "week":
            d = F.date_sub(d, F.weekday(d))
        elif f == "month":
            d = F.trunc(d, "month")
        elif f == "year":
            d = F.trunc(d, "year")
        return d.cast("timestamp_ntz")
    # sub-hour frequencies: the zoned round trip (exact for any
    # fixed-offset zone; DST transitions never land mid-hour)
    return F.date_trunc(f, c).cast("timestamp_ntz")


def axis_seconds(df: DataFrame, ts_col: str) -> "F.Column":
    """Numeric ordering axis for ``ts_col``: epoch seconds when the
    column is a timestamp, plain ``cast(double)`` when it is already
    numeric (operators like interpolation accept integer axes in tests
    and sensor-sequence data).

    Type dispatch (round-4 advice): plain TIMESTAMP (tz-aware) takes
    ``unix_micros`` — legal there, and TRUE epoch time, so range windows
    and session gaps measure real elapsed seconds across DST
    transitions. TIMESTAMP_NTZ keeps the NTZ epoch anchor
    (``ts_seconds``), where unix_micros is an analysis error and a
    wall-clock axis is the zone-free semantic."""
    dt = dict(df.dtypes).get(ts_col, "")
    if dt == "timestamp":
        return F.unix_micros(F.col(ts_col)) / F.lit(1e6)
    if dt.startswith("timestamp"):
        return ts_seconds(F.col(ts_col))
    return F.col(ts_col).cast("double")


def select_time_range(
    df: DataFrame,
    ts_col: str,
    start: str,
    end: str,
    predicate=None,
    columns: list[str] | None = None,
) -> DataFrame:
    """Spatio-temporal selection: half-open time slice + optional predicate,
    projecting only the requested columns so parquet scans prune/pushdown."""
    out = df.filter((F.col(ts_col) >= F.lit(start)) & (F.col(ts_col) < F.lit(end)))
    if predicate is not None:
        out = out.filter(predicate)
    if columns:
        out = out.select(*columns)
    return out


def resample(
    df: DataFrame,
    ts_col: str,
    series_cols: list[str],
    value_col: str,
    freq: str,
    aggs: dict[str, str],
    week_anchor: str = "mon",
) -> DataFrame:
    """Time-bucketed aggregation (xarray ``resample`` analog).

    freq: 'month' | 'week' | 'day' (date_trunc granularities).
    aggs: {out_name: fn} with fn in {'sum','max','min','avg','count'}.
    week_anchor (freq='week' only): 'mon' labels each week by its Monday
    (date_trunc native); 'sun_end' reproduces the reference's pandas
    ``resample('1W')`` (ll_nl_danger_levels.py:68-105) where weeks END
    on Sunday and are labeled by that Sunday — every ts Mon..Sun maps to
    date_trunc('week', ts) + 6 days.
    One shuffle on (series, bucket); map-side partial aggregation applies.
    """
    bucket_expr = wall_trunc(freq, F.col(ts_col))
    if freq == "week" and week_anchor == "sun_end":
        bucket_expr = bucket_expr + F.expr("INTERVAL 6 DAY")
    elif week_anchor not in ("mon", "sun_end"):
        raise ValueError(f"unknown week_anchor {week_anchor!r}")
    bucket = bucket_expr.alias("bucket")
    agg_exprs = []
    for out_name, fn in aggs.items():
        col = F.count(F.lit(1)) if fn == "count" else getattr(F, fn)(value_col)
        agg_exprs.append(col.alias(out_name))
    return df.groupBy(*series_cols, bucket).agg(*agg_exprs)


def days_in_month(bucket_col) -> "F.Column":
    """Day count of the month containing ``bucket_col`` — the reference's
    ``ds.time.dt.days_in_month`` scaling factor (utils_spi.py:419) used
    to turn monthly mean rates into monthly totals."""
    col = F.col(bucket_col) if isinstance(bucket_col, str) else bucket_col
    return F.dayofmonth(F.last_day(col))


def rolling_agg(
    df: DataFrame,
    series_cols: list[str],
    order_col: str,
    value_col: str,
    window: int,
    out_col: str = "rolling_value",
) -> DataFrame:
    """Per-series trailing sum over `window` rows (SPI timescale sums);
    rows before the first full window are dropped.

    Window partitioned by series: each series' rows land on one partition —
    fine because series count >> series length in our data model.
    """
    w = (
        Window.partitionBy(*series_cols)
        .orderBy(order_col)
        .rowsBetween(-(window - 1), 0)
    )
    cnt = F.count(F.lit(1)).over(w)
    return (
        df.withColumn(out_col, F.sum(value_col).over(w))
        .withColumn("_wn", cnt).filter(F.col("_wn") == window).drop("_wn")
    )


def rolling_agg_range(
    df: DataFrame,
    series_cols: list[str],
    ts_col: str,
    value_col: str,
    window_seconds: int,
    out_col: str = "rolling_value",
) -> DataFrame:
    """Time-RANGE trailing window: sums everything within
    ``window_seconds`` of each row's timestamp — gap-correct where the
    row-count window (``rolling_agg``) silently widens over missing
    periods."""
    w = (
        Window.partitionBy(*series_cols)
        # axis_seconds, not cast(long): NTZ timestamps reject the cast,
        # and the wall-clock µs-precision axis is type-agnostic
        .orderBy(axis_seconds(df, ts_col))
        .rangeBetween(-window_seconds, 0)
    )
    return df.withColumn(out_col, F.sum(value_col).over(w))


def linear_interp_gaps(
    df: DataFrame,
    series_cols: list[str],
    ts_col: str,
    value_col: str,
    out_col: str = "v_interp",
) -> DataFrame:
    """Linear time-interpolation of NULL runs between valid neighbors
    (rer_river_discharge_arpae_process.py:450-457 interpolates between
    bracketing observations the same way, on the level axis).

    For a null row: v = prev + (next - prev) * (t - t_prev)/(t_next -
    t_prev); leading/trailing nulls (no bracket) stay NULL. Two window
    passes per series, no UDF.

    Both lookups use RUNNING frames (unboundedPreceding..current): the
    "next valid" side runs over DESCENDING time, because a
    ``first() OVER (... ROWS BETWEEN CURRENT ROW AND UNBOUNDED
    FOLLOWING)`` frame is evaluated per row from scratch — quadratic in
    the partition length — while a running ``last()`` is one linear
    scan.
    """
    w_prev = (
        Window.partitionBy(*series_cols)
        .orderBy(ts_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_next_rev = (
        Window.partitionBy(*series_cols)
        .orderBy(F.col(ts_col).desc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    v = F.col(value_col)
    t = axis_seconds(df, ts_col)
    prev_v = F.last(v, ignorenulls=True).over(w_prev)
    prev_t = F.last(F.when(v.isNotNull(), t), ignorenulls=True).over(w_prev)
    next_v = F.last(v, ignorenulls=True).over(w_next_rev)
    next_t = F.last(F.when(v.isNotNull(), t), ignorenulls=True).over(w_next_rev)
    frac = F.when(next_t > prev_t, (t - prev_t) / (next_t - prev_t)).otherwise(0.0)
    interp = prev_v + (next_v - prev_v) * frac
    return df.withColumn(
        out_col, F.when(v.isNotNull(), v).otherwise(interp)
    )


def chunked_lag(
    df: DataFrame,
    series_cols: list[str],
    order_cols: list[str],
    value_col: str,
    chunk_col,
    out_col: str = "lag_value",
) -> DataFrame:
    """Exact per-series lag(1) with the sort partitioned by
    (series, chunk) instead of the bare series key — the classic
    chunked-scan + boundary-exchange construction for low-cardinality
    series over big facts.

    Per chunk: an ordinary local lag. Chunk boundaries: a per-chunk
    summary (last row's value by order) is lagged across chunks on the
    TINY (series x chunks) summary table and broadcast back, filling the
    first row of each chunk. Identical output to
    ``lag(value) OVER (PARTITION BY series ORDER BY order_cols)``;
    parallelism scales with the chunk count (e.g. weeks), not with the
    series cardinality.
    """
    chunk = chunk_col if not isinstance(chunk_col, str) else F.col(chunk_col)
    d = df.withColumn("_chunk", chunk)
    w_local = Window.partitionBy(*series_cols, "_chunk").orderBy(*order_cols)
    last_by_order = F.max(
        F.struct(*[F.col(c) for c in order_cols], F.col(value_col).alias("_v"))
    )
    summary = d.groupBy(*series_cols, "_chunk").agg(last_by_order.alias("_last"))
    w_sum = Window.partitionBy(*series_cols).orderBy("_chunk")
    carry = summary.select(
        *series_cols, "_chunk",
        F.lag(F.col("_last").getField("_v")).over(w_sum).alias("_carry"),
    )
    out = d.join(F.broadcast(carry), [*series_cols, "_chunk"])
    res = F.when(
        F.row_number().over(w_local) == 1, F.col("_carry")
    ).otherwise(F.lag(value_col).over(w_local))
    return out.withColumn(out_col, res).drop("_chunk", "_carry")


def chunked_forward_fill(
    df: DataFrame,
    series_cols: list[str],
    order_cols: list[str],
    value_col: str,
    chunk_col,
    out_col: str | None = None,
) -> DataFrame:
    """Carry the last non-null observation forward per series (the gap
    treatment for missing sensor readings before resampling), keyed to
    (series, chunk) with boundary exchange: rows before a chunk's first
    valid value take the carry-in (the last valid value of any earlier
    chunk, computed on the tiny summary). Identical output to a
    ``last(ignorenulls)`` window over the whole series."""
    chunk = chunk_col if not isinstance(chunk_col, str) else F.col(chunk_col)
    d = df.withColumn("_chunk", chunk)
    v = F.col(value_col)
    w_local = (
        Window.partitionBy(*series_cols, "_chunk")
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    last_valid = F.max(
        F.when(v.isNotNull(), F.struct(*[F.col(c) for c in order_cols], v.alias("_v")))
    )
    summary = d.groupBy(*series_cols, "_chunk").agg(last_valid.alias("_lv"))
    w_sum = (
        Window.partitionBy(*series_cols)
        .orderBy("_chunk")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    carry = summary.select(
        *series_cols, "_chunk",
        F.last(F.col("_lv").getField("_v"), ignorenulls=True).over(w_sum).alias("_carry_in"),
    )
    out = d.join(F.broadcast(carry), [*series_cols, "_chunk"])
    filled = F.coalesce(F.last(v, ignorenulls=True).over(w_local), F.col("_carry_in"))
    return out.withColumn(out_col or value_col, filled).drop("_chunk", "_carry_in")


def chunked_linear_interp(
    df: DataFrame,
    series_cols: list[str],
    ts_col: str,
    value_col: str,
    chunk_col,
) -> DataFrame:
    """``linear_interp_gaps`` re-keyed to (series, chunk) with boundary
    exchange in BOTH directions: per chunk the local prev/next valid
    neighbors, with the cross-chunk neighbors (last valid of earlier
    chunks, first valid of later chunks) carried via the tiny summary.
    Identical output to the single-partition-per-series variant."""
    chunk = chunk_col if not isinstance(chunk_col, str) else F.col(chunk_col)
    d = df.withColumn("_chunk", chunk)
    v = F.col(value_col)
    t = axis_seconds(df, ts_col)
    valid = F.when(v.isNotNull(), F.struct(t.alias("_t"), v.alias("_v")))

    # running frames only — a (current..unboundedFollowing) frame with
    # first() re-scans the tail per row (quadratic in chunk length);
    # "next valid" is a running last() over DESCENDING time instead
    w_prev = (
        Window.partitionBy(*series_cols, "_chunk")
        .orderBy(ts_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_next_rev = (
        Window.partitionBy(*series_cols, "_chunk")
        .orderBy(F.col(ts_col).desc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    summary = d.groupBy(*series_cols, "_chunk").agg(
        F.max(valid).alias("_lastv"), F.min(valid).alias("_firstv")
    )
    w_in = (
        Window.partitionBy(*series_cols)
        .orderBy("_chunk")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_out_rev = (
        Window.partitionBy(*series_cols)
        .orderBy(F.col("_chunk").desc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    carry = summary.select(
        *series_cols, "_chunk",
        F.last("_lastv", ignorenulls=True).over(w_in).alias("_cin"),
        F.last("_firstv", ignorenulls=True).over(w_out_rev).alias("_cout"),
    )
    out = d.join(F.broadcast(carry), [*series_cols, "_chunk"])

    prev = F.coalesce(F.last(valid, ignorenulls=True).over(w_prev), F.col("_cin"))
    nxt = F.coalesce(F.last(valid, ignorenulls=True).over(w_next_rev), F.col("_cout"))
    prev_v, prev_t = prev.getField("_v"), prev.getField("_t")
    next_v, next_t = nxt.getField("_v"), nxt.getField("_t")
    frac = F.when(next_t > prev_t, (t - prev_t) / (next_t - prev_t)).otherwise(0.0)
    interp = prev_v + (next_v - prev_v) * frac
    return out.withColumn(
        "v_interp", F.when(v.isNotNull(), v).otherwise(interp)
    ).drop("_chunk", "_cin", "_cout")


def chunked_cumulative_sum(
    df: DataFrame,
    series_cols: list[str],
    order_cols: list[str],
    value_col: str,
    chunk_col,
    out_col: str = "cum_value",
) -> DataFrame:
    """``cumulative_sum`` re-keyed to (series, chunk) with boundary
    exchange: local running totals within each chunk, plus the summed
    carry of all earlier chunks (computed on the tiny per-chunk summary
    and broadcast back). Identical output to the per-series window;
    parallelism scales with the chunk count."""
    chunk = chunk_col if not isinstance(chunk_col, str) else F.col(chunk_col)
    d = df.withColumn("_chunk", chunk)
    w_local = (
        Window.partitionBy(*series_cols, "_chunk")
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    summary = d.groupBy(*series_cols, "_chunk").agg(
        F.sum(value_col).alias("_chunk_total")
    )
    w_sum = (
        Window.partitionBy(*series_cols)
        .orderBy("_chunk")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    carry = summary.select(
        *series_cols, "_chunk",
        F.sum("_chunk_total").over(w_sum).alias("_carry"),
    )
    out = d.join(F.broadcast(carry), [*series_cols, "_chunk"])
    local = F.sum(value_col).over(w_local)
    # SQL sum null semantics: the running total is NULL only while NO
    # non-null value has appeared anywhere in the frame — an all-null
    # chunk must pass the carry through, and a null carry (no earlier
    # values) must not null out a live local sum
    total = F.when(
        local.isNotNull() | F.col("_carry").isNotNull(),
        F.coalesce(local, F.lit(0)) + F.coalesce(F.col("_carry"), F.lit(0)),
    )
    return out.withColumn(out_col, total).drop("_chunk", "_carry")


def cumulative_sum(
    df: DataFrame,
    series_cols: list[str],
    order_col: str,
    value_col: str,
    out_col: str = "cum_value",
) -> DataFrame:
    """Running total per series (precipitation-deficit accumulation)."""
    w = (
        Window.partitionBy(*series_cols)
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return df.withColumn(out_col, F.sum(value_col).over(w))


def dedup_latest(
    df: DataFrame, key_cols: list[str], order_col: str, tiebreak_col: str | None = None
) -> DataFrame:
    """Latest record per key (idempotent-ingest snapshot semantics).

    row_number over (key, order desc) then keep rank 1 — a single shuffle
    on the key; AQE handles skewed keys.
    """
    order = [F.col(order_col).desc()]
    if tiebreak_col:
        order.append(F.col(tiebreak_col).desc())
    w = Window.partitionBy(*key_cols).orderBy(*order)
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def asof_join(
    left: DataFrame,
    right: DataFrame,
    left_on: str,
    right_on: str,
    left_keys: list[str],
    right_keys: list[str],
    right_value_cols: list[str],
    direction: str = "backward",
    tolerance_seconds: float | None = None,
) -> DataFrame:
    """As-of join (pandas ``merge_asof`` semantics): for each left row,
    the latest right row with ``right_on <= left_on`` (backward) or the
    earliest with ``right_on >= left_on`` (forward) within the key
    group; with ``tolerance_seconds`` the nearest match is discarded
    (nulled) when further than the tolerance — matching merge_asof,
    which picks the nearest row FIRST and then applies the tolerance.

    Spark-first formulation: union both sides tagged with a side marker,
    sort within key by time (descending for forward), carry the last
    right value with ``last(..., ignorenulls=True)``, keep left rows.
    One shuffle on the key — no range-explosion, no per-row lookup;
    scales linearly. The forward case deliberately re-sorts descending
    instead of using a (CURRENT ROW .. UNBOUNDED FOLLOWING) frame with
    ``first()``, which Spark evaluates quadratically per partition.
    """
    if direction not in ("backward", "forward", "nearest"):
        raise ValueError(
            f"direction must be backward|forward|nearest, got {direction!r}"
        )
    lkey = [F.col(k).alias(f"_k{i}") for i, k in enumerate(left_keys)]
    rkey = [F.col(k).alias(f"_k{i}") for i, k in enumerate(right_keys)]
    key_names = [f"_k{i}" for i in range(len(left_keys))]

    # the matched right timestamp (_rt) rides inside the carried struct
    # so the tolerance gate can compare it against the left timestamp
    rt_type = right.schema[right_on].dataType.simpleString()
    l_tag = left.select(
        *lkey, F.col(left_on).alias("_t"), F.lit(1).alias("_side"), F.struct(*left.columns).alias("_l")
    ).withColumn("_r", F.lit(None).cast(
        "struct<_rt:" + rt_type + ","
        + ",".join(f"{c}:{right.schema[c].dataType.simpleString()}" for c in right_value_cols) + ">"
    ))
    r_tag = right.select(
        *rkey, F.col(right_on).alias("_t"), F.lit(0).alias("_side"),
        F.lit(None).cast(l_tag.schema["_l"].dataType).alias("_l"),
        F.struct(F.col(right_on).alias("_rt"), *right_value_cols).alias("_r"),
    )
    unioned = l_tag.unionByName(r_tag)
    # right rows sort before left rows at equal timestamps => inclusive
    # comparison on both directions; tertiary key on the value struct
    # makes duplicate right timestamps resolve deterministically
    # (greatest value wins). Forward = the same carry over descending
    # time: the last right row seen before a left row in DESC order is
    # the one with the smallest right_on still >= left_on.
    def _carry(df: DataFrame, t_order) -> Column:
        w = (
            Window.partitionBy(*key_names)
            .orderBy(t_order, F.col("_side").asc(), F.col("_r").asc())
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        return F.last("_r", ignorenulls=True).over(w)

    if direction == "nearest":
        # merge_asof direction='nearest': both carries share ONE key
        # partitioning (one exchange, two sorts); the closer match wins,
        # exact-tie prefers the backward row (documented convention)
        matched = unioned.withColumn(
            "_rb", _carry(unioned, F.col("_t").asc())
        ).withColumn("_rf", _carry(unioned, F.col("_t").desc()))
        if rt_type.startswith("timestamp"):
            gb = F.abs(micros_between(F.col("_rb._rt"), F.col("_t")))
            gf = F.abs(micros_between(F.col("_rf._rt"), F.col("_t")))
        else:
            gb = F.abs(F.col("_t").cast("double") - F.col("_rb._rt").cast("double"))
            gf = F.abs(F.col("_t").cast("double") - F.col("_rf._rt").cast("double"))
        pick = (
            F.when(F.col("_rf").isNull(), F.col("_rb"))
            .when(F.col("_rb").isNull(), F.col("_rf"))
            .when(gb <= gf, F.col("_rb"))
            .otherwise(F.col("_rf"))
        )
        matched = matched.withColumn("_rlast", pick).drop("_rb", "_rf")
    else:
        t_order = (
            F.col("_t").asc() if direction == "backward" else F.col("_t").desc()
        )
        matched = unioned.withColumn("_rlast", _carry(unioned, t_order))
    if tolerance_seconds is not None:
        if rt_type.startswith("timestamp"):
            gap = F.abs(
                micros_between(F.col("_rlast._rt"), F.col("_t")) / F.lit(1e6)
            )
        else:
            gap = F.abs(
                F.col("_t").cast("double") - F.col("_rlast._rt").cast("double")
            )
        matched = matched.withColumn(
            "_rlast", F.when(gap <= F.lit(float(tolerance_seconds)), F.col("_rlast"))
        )
    out = (
        matched.filter(F.col("_side") == 1)
        .select("_l.*", "_rlast.*")
        .drop("_rt")
    )
    return out


def chunked_ewma(
    df: DataFrame,
    series_cols: list[str],
    order_cols: list[str],
    value_col: str,
    alpha: float,
    chunk_col,
) -> DataFrame:
    """Exact recursive EWMA (pandas ``ewm(alpha, adjust=False)``:
    y_0 = x_0, y_t = (1-a)·y_{t-1} + a·x_t) without a per-series sort —
    the batch twin of the streaming EWMA alert state
    (streaming/stateful.py), for reference-style sensor smoothing.

    The recursion is linear, so a chunk's output is affine in its
    incoming carry c (the previous chunk's final y):
    ``y_t = D_t·c + L_t`` with D_t = (1-a)^(t+1) and L_t the zero-init
    recursion. One Arrow-batched ``applyInPandas`` pass over
    (series, chunk) computes L/D per row; the per-chunk summaries
    (A = D_end, B = L_end, first x) resolve the carries sequentially on
    the TINY (series × chunks) table; a broadcast join finishes
    ``y = L + D·c``. The first chunk's carry is its own first value
    (x_0 solves (1-a)·c + a·x_0 = x_0), which makes every chunk
    uniform. Parallelism scales with chunk count, never with series
    cardinality; per-task memory is one chunk.
    """
    import pandas as pd

    chunk = chunk_col if not isinstance(chunk_col, str) else F.col(chunk_col)
    d = df.withColumn("_chunk", chunk)
    a = float(alpha)

    ld_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in d.schema.fields
    ) + ", _L double, _D double"

    def _local(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values(list(order_cols), kind="mergesort").reset_index(drop=True)
        x = pdf[value_col].to_numpy(dtype="float64")
        n = len(x)
        L = [0.0] * n
        D = [0.0] * n
        prev_l, prev_d = 0.0, 1.0
        for i in range(n):
            prev_l = (1.0 - a) * prev_l + a * x[i]
            prev_d = (1.0 - a) * prev_d
            L[i] = prev_l
            D[i] = prev_d
        pdf["_L"] = L
        pdf["_D"] = D
        return pdf

    with_ld = d.groupBy(*series_cols, "_chunk").applyInPandas(_local, schema=ld_schema)

    first_by_order = F.min(
        F.struct(*[F.col(c) for c in order_cols], F.col(value_col).alias("_v"))
    )
    last_by_order = F.max(
        F.struct(*[F.col(c) for c in order_cols], F.col("_L").alias("_l"), F.col("_D").alias("_d"))
    )
    summary = with_ld.groupBy(*series_cols, "_chunk").agg(
        first_by_order.getField("_v").alias("_x_first"),
        last_by_order.getField("_l").alias("_B"),
        last_by_order.getField("_d").alias("_A"),
    )

    carry_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}"
        for f in summary.schema.fields
        if f.name in ([*series_cols, "_chunk"])
    ) + ", _carry_in double"

    def _resolve(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values(["_chunk"], kind="mergesort").reset_index(drop=True)
        carries = []
        c = float(pdf["_x_first"].iloc[0])  # first chunk: y_0 = x_0
        for i in range(len(pdf)):
            carries.append(c)
            c = float(pdf["_A"].iloc[i]) * c + float(pdf["_B"].iloc[i])
        pdf["_carry_in"] = carries
        return pdf[[*series_cols, "_chunk", "_carry_in"]]

    carries = summary.groupBy(*series_cols).applyInPandas(_resolve, schema=carry_schema)
    out = with_ld.join(F.broadcast(carries), [*series_cols, "_chunk"])
    return out.withColumn(
        "ewma", F.col("_L") + F.col("_D") * F.col("_carry_in")
    ).drop("_chunk", "_L", "_D", "_carry_in")


def sessionize(
    df: DataFrame,
    key_cols: list[str],
    ts_col: str,
    gap_seconds: int,
) -> DataFrame:
    """Gap-based sessionization: a new session starts when the inactivity
    gap exceeds ``gap_seconds``. Adds ``session_id`` (cumulative count of
    session starts within the key) — classic lag + running-sum formulation,
    one shuffle on the key.
    """
    w = Window.partitionBy(*key_cols).orderBy(ts_col)
    prev = F.lag(F.col(ts_col)).over(w)
    # microsecond-precision diff (parity with DuckDB's epoch());
    # unix_timestamp would truncate to seconds
    a = axis_seconds(df, ts_col)
    prev_a = F.lag(a).over(w)
    gap = a - prev_a
    is_new = F.when(prev.isNull() | (gap > gap_seconds), 1).otherwise(0)
    run = Window.partitionBy(*key_cols).orderBy(ts_col).rowsBetween(
        Window.unboundedPreceding, 0
    )
    return df.withColumn("_new", is_new).withColumn(
        "session_id", F.sum("_new").over(run)
    ).drop("_new")


def funnel_stages(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    type_col: str,
    stages: list,
) -> DataFrame:
    """Ordered event-funnel depth per user: how far each user progressed
    through ``stages`` where each stage's event must occur STRICTLY
    after the previous stage's (the classic view -> click -> purchase
    conversion funnel; `windowFunnel` in other engines — Spark lacks the
    aggregate, so it is composed from collect_list + a fold).

    One shuffle: groupBy(user) collects that user's funnel-relevant
    events (pre-filtered to the stage types, so per-user state is
    bounded by the user's funnel activity, not their event count), sorts
    them by (ts, type) and folds once: the state (depth, last_ts)
    advances when the next required stage appears after last_ts. Scanning
    in sorted order makes "first qualifying event" equal "min(ts) among
    qualifying" — the relational formulation an oracle uses.

    Returns (user, depth) with depth in [0, len(stages)].
    """
    seq = F.sort_array(
        F.collect_list(
            F.struct(F.col(ts_col).alias("ts"), F.col(type_col).alias("et"))
        )
    )
    per_user = (
        df.filter(F.col(type_col).isin(list(stages)))
        .groupBy(F.col(user_col).alias("user"))
        .agg(seq.alias("_seq"))
    )

    init = F.struct(
        F.lit(0).cast("int").alias("depth"),
        F.lit(None).cast("timestamp").alias("last"),
    )

    def step(acc, e):
        depth, last = acc.getField("depth"), acc.getField("last")
        out = None
        for i, st in enumerate(stages):
            cond = (depth == i) & (e.getField("et") == F.lit(st))
            if i > 0:
                cond = cond & (e.getField("ts") > last)
            adv = F.struct(
                F.lit(i + 1).cast("int").alias("depth"),
                e.getField("ts").alias("last"),
            )
            out = F.when(cond, adv) if out is None else out.when(cond, adv)
        return out.otherwise(acc)

    folded = F.aggregate(F.col("_seq"), init, step)
    return per_user.select("user", folded.getField("depth").alias("depth"))


def time_weighted_avg(
    df: DataFrame,
    series_cols: list,
    ts_col: str,
    value_col: str,
    id_col: str,
) -> DataFrame:
    """Per-(series, day) time-weighted average of an irregular series:
    each observation holds until the next one (step interpolation), the
    last observation of the day holds until midnight; TWA = sum(value_i
    * hold_us_i) / sum(hold_us_i). The standard downsampling for
    irregular sensor data (the reference's stations report on irregular
    cadence; a plain avg over-weights bursts).

    Windows partition on (series, day) — high cardinality, the re-keyed
    pattern from the round-1 verdict, never a 5-value key. Determinism:
    hold intervals come from ``lead`` ordered by (ts, id) so equal
    timestamps break ties identically in any engine, weights are exact
    integer microseconds, and the weighted sum is an exact DECIMAL x
    BIGINT product — bit-stable under any partitioning/merge order.
    Returns (series..., day, n_events, twa).
    """
    day = wall_trunc("day", F.col(ts_col))
    base = df.select(
        *[F.col(c) for c in series_cols],
        day.alias("_day"),
        F.col(ts_col).alias("_ts"),
        F.col(id_col).alias("_id"),
        F.col(value_col).cast("decimal(14,2)").alias("_v"),
    )
    w = Window.partitionBy(*series_cols, "_day").orderBy("_ts", "_id")
    day_end = F.col("_day") + F.expr("INTERVAL 1 DAY")
    hold = F.coalesce(
        micros_between(F.col("_ts"), F.lead("_ts").over(w)),
        micros_between(F.col("_ts"), day_end),
    )
    weighted = base.withColumn("_hold", hold)
    return (
        weighted.groupBy(*series_cols, F.col("_day").cast("date").alias("day"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.round(
                F.sum(F.col("_v") * F.col("_hold")).cast("double")
                / F.sum("_hold").cast("double"),
                6,
            ).alias("twa"),
        )
    )


def apply_changes(
    base: DataFrame,
    changes: DataFrame,
    key_cols: list[str],
    order_cols: list[str],
) -> DataFrame:
    """MERGE INTO semantics as a batch operator: apply a change batch
    (upserts + deletes) onto a keyed base snapshot — the idempotent
    re-ingest of utils_spi.py:205-358 generalized to CDC shape.

    Only the LATEST change per key (by ``order_cols``) applies; a
    change with op "D" removes the key, any other op replaces the base
    row, keys untouched by the batch keep their base row. Two shuffles
    (latest-change window on the key, one full-outer equi-join), both on
    the high-cardinality key — the standard scale shape; no driver
    round-trips.

    Returns base-schema columns plus ``src`` ('base' | 'change').
    """
    w = Window.partitionBy(*key_cols).orderBy(
        *[F.col(c).desc() for c in order_cols]
    )
    lc = (
        changes.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    data_cols = [c for c in base.columns if c not in key_cols]
    b = base.select(
        *key_cols, F.struct(*data_cols).alias("_b")
    )
    c = lc.select(
        *key_cols,
        F.col("op").alias("_op"),
        F.struct(*data_cols).alias("_c"),
    )
    joined = b.join(c, key_cols, "full_outer")
    keep = joined.filter(
        F.col("_op").isNull() | (F.col("_op") != "D")
    )
    src = F.when(F.col("_op").isNotNull(), F.lit("change")).otherwise(
        F.lit("base")
    )
    picked = F.when(F.col("_op").isNotNull(), F.col("_c")).otherwise(F.col("_b"))
    return keep.select(
        *key_cols,
        *[picked.getField(dc).alias(dc) for dc in data_cols],
        src.alias("src"),
    )
