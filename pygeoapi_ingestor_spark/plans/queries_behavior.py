"""Behavioral / user-journey analytics (SURVEY.md §2 block B continued):
cohort retention, RFM segmentation, robust outliers, session statistics,
activity streaks, calendar gap-fill, and 2-D histograms.

These are the event-log analyses a reference user layers on top of the
ingested collections (the reference's own dashboards aggregate station
events per period; the cohort/session/streak family is the same shape
keyed on users). Same parity conventions as the other catalogs: exact
DECIMAL money/value sums, derived doubles rounded, identical aliases in
both engines.

Scale notes: every query shuffles on a high-cardinality key (user_id,
(event_type, day), (source, word)) or on aggregated summaries; global
quantile windows route through functions/ranks (bucketed two-phase
construction), never a single-partition sort of raw rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pygeoapi_ingestor_spark.operators import temporal
from pygeoapi_ingestor_spark.operators.temporal import micros_between
from pygeoapi_ingestor_spark.sources.readers import local_table, read_events

SESSION_GAP_S = 1800
MAD_K = 3.0
VBUCKET_W = 50.0


def q_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic cohort retention: users grouped by first-active day, then
    distinct-user counts per (cohort, day-offset). Two shuffles — one on
    user_id to find cohorts (map-side combinable min), one on the tiny
    (cohort, offset) key — both scale-safe at any row count."""
    ev = read_events(spark, sf_dir)
    user_day = ev.select(
        "user_id", F.col("ts").cast("date").alias("day")
    ).distinct()
    cohort = user_day.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    joined = user_day.join(cohort, "user_id")
    return (
        joined.groupBy(
            "cohort_day",
            F.datediff("day", "cohort_day").cast("int").alias("day_offset"),
        )
        .agg(F.countDistinct("user_id").cast("bigint").alias("n_users"))
    )


def q_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM (recency / frequency / monetary) quartile segmentation of
    customers from their orders — the standard marketing-analytics
    cube. Quartiles come from the bucketed distributed row_number +
    closed-form ntile (functions/ranks), NOT a single-partition
    ``ntile(4) OVER (ORDER BY ...)``: the global sort that formulation
    needs is the round-1-verdict scale-killer. All three metrics rank
    ascending with c_custkey tie-break so the SQL twin's ntile choices
    match exactly."""
    from pygeoapi_ingestor_spark.functions import ranks

    from pygeoapi_ingestor_spark.sources.readers import read_table

    o = read_table(spark, sf_dir, "orders")
    maxd = o.agg(F.max("o_orderdate").alias("_maxd"))
    per_cust = (
        o.crossJoin(F.broadcast(maxd))
        .groupBy("o_custkey")
        .agg(
            F.datediff(F.first("_maxd"), F.max("o_orderdate"))
            .cast("int")
            .alias("recency_days"),
            F.count(F.lit(1)).cast("bigint").alias("frequency"),
            F.sum(F.col("o_totalprice").cast("decimal(14,2)")).alias("_mon"),
        )
        .withColumn("_g", F.lit(1))
    )
    from pyspark import StorageLevel

    # all three quartile rankings in ONE multi-metric pass: shared
    # stats aggregate, one stacked histogram, three independent window
    # stages inside a single job (ranks.bucketed_row_numbers_multi) —
    # replacing the r8 shape of three sequential rank passes with a
    # persist+count barrier each (~4 jobs per metric of pure overhead).
    # per_cust is persisted because the stats/histogram/final passes
    # each scan it; one row per customer, bounded, spillable.
    cur = per_cust.withColumn(
        "_mon_d", F.col("_mon").cast("double")
    ).persist(StorageLevel.MEMORY_AND_DISK)
    ranked = ranks.bucketed_row_numbers_multi(
        cur, series_cols=["_g"],
        value_cols={"recency_days": "_rn_r", "frequency": "_rn_f", "_mon_d": "_rn_m"},
        tiebreak_cols=["o_custkey"], count_col="_cnt",
    )
    for rn, out in (("_rn_r", "r_q"), ("_rn_f", "f_q"), ("_rn_m", "m_q")):
        ranked = ranked.withColumn(out, ranks.ntile_expr(rn, "_cnt", 4))
    return ranked.groupBy("r_q", "f_q", "m_q").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_customers"),
        F.round(F.sum("_mon").cast("double"), 2).alias("total_monetary"),
    )


def q_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier detection per series: median + MAD (median
    absolute deviation), flag |v - med| > 3*MAD. The robust sibling of
    the z-score screens in the reference's QC stage — MAD shrugs off
    the very outliers a stddev-based gate lets widen the band.

    Plan shape (r9 verdict item 8 — the old double bucket-drill-down
    paid ~8 sequential Spark jobs of constant factor): measurement
    values are QUANTIZED (2-decimal sensor readings, ~10k distinct per
    series at any SF), so ONE ``groupBy(series, value).count()`` pass
    compresses the full order statistics into a bounded histogram. The
    driver walks it exactly — median by the quantile_cont position
    formula, then folds the same histogram around the median for the
    MAD (|v-med| per distinct value, re-sorted with counts) — all in
    IEEE doubles bit-identical to the SQL twin. One more pass flags
    outliers against the broadcast (med, mad) literals. Two data passes
    total; driver state O(distinct values), the same bounded-summary
    pattern as the IVF centroid build, with an explicit cap guard."""
    import math

    ev = read_events(spark, sf_dir).select("event_type", "value")
    hist = ev.groupBy("event_type", "value").agg(
        F.count(F.lit(1)).cast("bigint").alias("_c")
    ).collect()
    if len(hist) > 4_000_000:
        raise RuntimeError(
            "mad_outliers value histogram exceeds the driver-state bound "
            f"({len(hist)} distinct (series, value) pairs): the values "
            "are not quantized — use functions.ranks.exact_percentiles "
            "bucket drill-down instead"
        )
    per_series: dict[str, list] = {}
    for r in hist:
        per_series.setdefault(r["event_type"], []).append((r["value"], r["_c"]))

    def interp_median(sorted_pairs, n: int) -> float:
        # quantile_cont(0.5): target = (n-1)*0.5, linear interpolation
        # between the floor/ceil order statistics — identical IEEE ops
        # to the SQL twin's formula
        t = (n - 1) * 0.5
        lo, hi = math.floor(t), math.ceil(t)
        frac = t - lo
        v_lo = v_hi = None
        off = 0
        for v, c in sorted_pairs:
            if v_lo is None and off <= lo < off + c:
                v_lo = v
            if off <= hi < off + c:
                v_hi = v
                break
            off += c
        return v_lo + (v_hi - v_lo) * frac

    rows = []
    for et, lst in per_series.items():
        lst.sort()
        n = sum(c for _, c in lst)
        med = interp_median(lst, n)
        adev = sorted((abs(v - med), c) for v, c in lst)
        mad = interp_median(adev, n)
        rows.append((et, med, mad))
    mm = local_table(
        spark, rows, "event_type string, _med double, _mad double"
    )
    return (
        ev.join(F.broadcast(mm), "event_type")
        .groupBy("event_type")
        .agg(
            F.round(F.first("_med"), 6).alias("median_value"),
            F.round(F.first("_mad"), 6).alias("mad"),
            F.sum(
                (
                    F.abs(F.col("value") - F.col("_med"))
                    > F.lit(MAD_K) * F.col("_mad")
                ).cast("bigint")
            ).alias("n_outliers"),
            F.count(F.lit(1)).cast("bigint").alias("n_total"),
        )
    )


def q_session_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-length/duration distribution on top of the sessionize
    operator: per (user, session) event count and exact integer-µs
    duration, histogrammed by events-per-session (capped at 10). The
    downstream consumer of ``sessionize_gap`` every engagement report
    runs; durations aggregate as exact BIGINT µs so the double division
    at the end is bit-stable."""
    ev = read_events(spark, sf_dir)
    s = temporal.sessionize(ev, ["user_id"], "ts", SESSION_GAP_S)
    per = s.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("_n"),
        micros_between(F.min("ts"), F.max("ts")).alias("_dur_us"),
    )
    bucket = F.least(F.col("_n"), F.lit(10)).cast("int")
    return (
        per.groupBy(bucket.alias("events_bucket"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_sessions"),
            F.round(
                (F.sum("_dur_us").cast("double") / F.count(F.lit(1)))
                / F.lit(1e6),
                6,
            ).alias("avg_duration_s"),
        )
    )


def q_streak_lengths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest consecutive-day activity streak per user — gaps-and-
    islands: distinct active days, island id = day - row_number (the
    constant-per-run trick), max island size per user. Window partitions
    on user_id (high cardinality), input is the distinct (user, day)
    set, never raw events."""
    from pyspark.sql import Window

    ev = read_events(spark, sf_dir)
    ud = ev.select("user_id", F.col("ts").cast("date").alias("day")).distinct()
    w = Window.partitionBy("user_id").orderBy("day")
    grp = F.date_sub(F.col("day"), F.row_number().over(w))
    runs = ud.withColumn("_grp", grp).groupBy("user_id", "_grp").agg(
        F.count(F.lit(1)).alias("_len")
    )
    return runs.groupBy("user_id").agg(
        F.max("_len").cast("int").alias("max_streak"),
        F.sum("_len").cast("bigint").alias("active_days"),
    )


def q_gap_fill_calendar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reindex daily aggregates onto the complete calendar per series —
    the xarray-style 'resample onto a full time index' the reference
    relies on (missing days must EXIST as zero/flagged rows before
    rolling/interp stages). Per-series min/max is a tiny aggregate; the
    calendar explodes from it (rows = series x days, never raw-row
    bound); one left join back brings the actual values."""
    ev = read_events(spark, sf_dir)
    daily = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("_n"),
        F.sum(F.col("value").cast("decimal(14,2)")).alias("_sum"),
    )
    rng = daily.groupBy("event_type").agg(
        F.min("day").alias("_mn"), F.max("day").alias("_mx")
    )
    cal = rng.select(
        "event_type", F.explode(F.sequence("_mn", "_mx")).alias("day")
    )
    out = cal.join(daily, ["event_type", "day"], "left")
    return out.select(
        "event_type",
        "day",
        F.coalesce(F.col("_n"), F.lit(0)).cast("bigint").alias("n_events"),
        F.round(
            F.coalesce(F.col("_sum"), F.lit(0).cast("decimal(14,2)")).cast(
                "double"
            ),
            2,
        ).alias("day_total"),
        F.col("_n").isNull().alias("is_gap"),
    )


def q_hist2d_value_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D histogram (hour-of-day x value band): the density heatmap
    behind load/usage dashboards. Pure one-pass aggregation on a tiny
    composite key; exact DECIMAL band sums."""
    ev = read_events(spark, sf_dir)
    return (
        ev.groupBy(
            F.hour("ts").cast("int").alias("hour"),
            (F.floor(F.col("value") / F.lit(VBUCKET_W)) * int(VBUCKET_W))
            .cast("int")
            .alias("value_band"),
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.round(
                F.sum(F.col("value").cast("decimal(14,2)")).cast("double"), 2
            ).alias("band_total"),
        )
    )


BEHAVIOR_QUERIES = {
    "retention_cohorts": q_retention_cohorts,
    "rfm_segments": q_rfm_segments,
    "mad_outliers": q_mad_outliers,
    "session_stats": q_session_stats,
    "streak_lengths": q_streak_lengths,
    "gap_fill_calendar": q_gap_fill_calendar,
    "hist2d_value_hour": q_hist2d_value_hour,
}


BEHAVIOR_ORACLES = {
    "retention_cohorts": """
WITH ud AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
), cohort AS (
  SELECT user_id, min(day) AS cohort_day FROM ud GROUP BY user_id
)
SELECT c.cohort_day,
       CAST(date_diff('day', c.cohort_day, u.day) AS INT) AS day_offset,
       CAST(count(DISTINCT u.user_id) AS BIGINT) AS n_users
FROM ud u JOIN cohort c USING (user_id)
GROUP BY 1, 2
""",
    "rfm_segments": """
WITH per_cust AS (
  SELECT o_custkey,
         CAST(date_diff('day', max(o_orderdate),
                        (SELECT max(o_orderdate) FROM orders)) AS INT)
           AS recency_days,
         CAST(count(*) AS BIGINT) AS frequency,
         sum(CAST(o_totalprice AS DECIMAL(14,2))) AS mon
  FROM orders GROUP BY o_custkey
), tiled AS (
  SELECT o_custkey, mon,
         ntile(4) OVER (ORDER BY recency_days, o_custkey) AS r_q,
         ntile(4) OVER (ORDER BY frequency, o_custkey)    AS f_q,
         ntile(4) OVER (ORDER BY CAST(mon AS DOUBLE), o_custkey) AS m_q
  FROM per_cust
)
SELECT CAST(r_q AS INT) AS r_q, CAST(f_q AS INT) AS f_q,
       CAST(m_q AS INT) AS m_q,
       CAST(count(*) AS BIGINT) AS n_customers,
       round(CAST(sum(mon) AS DOUBLE), 2) AS total_monetary
FROM tiled GROUP BY 1, 2, 3
""",
    "mad_outliers": """
WITH med AS (
  SELECT event_type, quantile_cont(value, 0.5) AS med
  FROM events GROUP BY event_type
), dev AS (
  SELECT e.event_type, e.value, m.med, abs(e.value - m.med) AS adev
  FROM events e JOIN med m USING (event_type)
), mad AS (
  SELECT event_type, any_value(med) AS med,
         quantile_cont(adev, 0.5) AS mad
  FROM dev GROUP BY event_type
)
SELECT d.event_type,
       round(any_value(m.med), 6) AS median_value,
       round(any_value(m.mad), 6) AS mad,
       CAST(sum(CASE WHEN d.adev > 3.0 * m.mad THEN 1 ELSE 0 END) AS BIGINT)
         AS n_outliers,
       CAST(count(*) AS BIGINT) AS n_total
FROM dev d JOIN mad m USING (event_type)
GROUP BY d.event_type
""",
    "session_stats": """
WITH lagd AS (
  SELECT user_id, ts,
         lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev
  FROM events
), news AS (
  SELECT user_id, ts,
         CASE WHEN prev IS NULL
                OR date_diff('microsecond', prev, ts) / 1e6 > 1800
              THEN 1 ELSE 0 END AS is_new
  FROM lagd
), sess AS (
  SELECT user_id, ts,
         sum(is_new) OVER (PARTITION BY user_id ORDER BY ts
                           ROWS UNBOUNDED PRECEDING) AS session_id
  FROM news
), per AS (
  SELECT user_id, session_id,
         CAST(count(*) AS BIGINT) AS n,
         date_diff('microsecond', min(ts), max(ts)) AS dur_us
  FROM sess GROUP BY user_id, session_id
)
SELECT CAST(least(n, 10) AS INT) AS events_bucket,
       CAST(count(*) AS BIGINT) AS n_sessions,
       round((CAST(sum(dur_us) AS DOUBLE) / count(*)) / 1e6, 6)
         AS avg_duration_s
FROM per GROUP BY 1
""",
    "streak_lengths": """
WITH ud AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
), runs AS (
  SELECT user_id,
         day - CAST(row_number() OVER (PARTITION BY user_id ORDER BY day)
                    AS INT) AS grp
  FROM ud
), sized AS (
  SELECT user_id, grp, count(*) AS len FROM runs GROUP BY user_id, grp
)
SELECT user_id, CAST(max(len) AS INT) AS max_streak,
       CAST(sum(len) AS BIGINT) AS active_days
FROM sized GROUP BY user_id
""",
    "gap_fill_calendar": """
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day,
         CAST(count(*) AS BIGINT) AS n,
         sum(CAST(value AS DECIMAL(14,2))) AS s
  FROM events GROUP BY 1, 2
), rng AS (
  SELECT event_type, min(day) AS mn, max(day) AS mx FROM daily
  GROUP BY event_type
), cal AS (
  SELECT event_type,
         CAST(unnest(generate_series(mn, mx, INTERVAL 1 DAY)) AS DATE)
           AS day
  FROM rng
)
SELECT c.event_type, c.day,
       CAST(coalesce(d.n, 0) AS BIGINT) AS n_events,
       round(CAST(coalesce(d.s, 0) AS DOUBLE), 2) AS day_total,
       d.n IS NULL AS is_gap
FROM cal c LEFT JOIN daily d ON c.event_type = d.event_type
                            AND c.day = d.day
""",
    "hist2d_value_hour": """
SELECT CAST(hour(ts) AS INT) AS hour,
       CAST(floor(value / 50.0) * 50 AS INT) AS value_band,
       CAST(count(*) AS BIGINT) AS n,
       round(CAST(sum(CAST(value AS DECIMAL(14,2))) AS DOUBLE), 2)
         AS band_total
FROM events
GROUP BY 1, 2
""",
}


def q_winsorize_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-series winsorized mean: clamp values at the exact
    interpolated p05/p95 (the robust-mean treatment applied before any
    sensor aggregate that a single stuck gauge would poison; pandas'
    ``scipy.stats.mstats.winsorize`` analog).

    Bounds come from functions/ranks.exact_percentiles (bucket
    drill-down — no per-group buffering, no single-task series sort) and
    broadcast back onto the fact table. The winsorized sum splits into
    an exact-DECIMAL mid-range sum plus n_lo*lo + n_hi*hi evaluated once
    per series in double — every term order-independent, so the hash
    gate closes despite the clamped values being interpolated doubles.
    """
    from pygeoapi_ingestor_spark.functions import ranks

    ev = read_events(spark, sf_dir)
    pcts = ranks.exact_percentiles(
        ev, series_cols=["event_type"], value_col="value",
        ps=[0.05, 0.95], tiebreak_cols=["event_id"],
    )
    bounds = pcts.groupBy("event_type").agg(
        F.min(F.when(F.col("p") == 0.05, F.col("pct"))).alias("lo"),
        F.min(F.when(F.col("p") == 0.95, F.col("pct"))).alias("hi"),
    )
    j = ev.join(F.broadcast(bounds), "event_type")
    is_lo = F.col("value") < F.col("lo")
    is_hi = F.col("value") > F.col("hi")
    agg = j.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(is_lo.cast("bigint")).cast("bigint").alias("n_lo"),
        F.sum(is_hi.cast("bigint")).cast("bigint").alias("n_hi"),
        F.sum(
            F.when(~is_lo & ~is_hi, F.col("value").cast("decimal(14,2)"))
        ).alias("mid_sum"),
        F.first("lo").alias("lo_b"),
        F.first("hi").alias("hi_b"),
    )
    return agg.select(
        "event_type", "n", "n_lo", "n_hi",
        F.round("lo_b", 6).alias("lo"),
        F.round("hi_b", 6).alias("hi"),
        F.round(
            (
                F.coalesce(F.col("mid_sum").cast("double"), F.lit(0.0))
                + F.col("n_lo") * F.col("lo_b")
                + F.col("n_hi") * F.col("hi_b")
            )
            / F.col("n"),
            6,
        ).alias("winsor_mean"),
    )


BEHAVIOR_QUERIES["winsorize_values"] = q_winsorize_values

BEHAVIOR_ORACLES["winsorize_values"] = """
WITH v AS (SELECT event_type, value, event_id FROM events),
     n AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n
           FROM v GROUP BY event_type),
     ps AS (SELECT CAST(p AS DOUBLE) AS p
            FROM (VALUES (0.05), (0.95)) t(p)),
     pos AS (SELECT event_type, n, p,
                    CAST(floor((n - 1) * p) AS BIGINT) AS lo,
                    CAST(ceil((n - 1) * p) AS BIGINT) AS hi,
                    (n - 1) * p - floor((n - 1) * p) AS frac
             FROM n CROSS JOIN ps),
     r AS (SELECT event_type, value,
                  row_number() OVER (PARTITION BY event_type
                                     ORDER BY value, event_id) - 1 AS idx
           FROM v),
     j AS (SELECT pos.event_type, pos.p, pos.frac,
                  min(CASE WHEN r.idx = pos.lo THEN r.value END) AS vlo,
                  min(CASE WHEN r.idx = pos.hi THEN r.value END) AS vhi
           FROM pos JOIN r
             ON r.event_type = pos.event_type
            AND (r.idx = pos.lo OR r.idx = pos.hi)
           GROUP BY 1, 2, 3),
     bounds AS (SELECT event_type,
                       min(CASE WHEN p = 0.05
                                THEN vlo + (vhi - vlo) * frac END) AS lo_b,
                       min(CASE WHEN p = 0.95
                                THEN vlo + (vhi - vlo) * frac END) AS hi_b
                FROM j GROUP BY 1),
     agg AS (SELECT v.event_type, CAST(count(*) AS BIGINT) AS n,
                    CAST(sum(CASE WHEN value < lo_b THEN 1 ELSE 0 END)
                         AS BIGINT) AS n_lo,
                    CAST(sum(CASE WHEN value > hi_b THEN 1 ELSE 0 END)
                         AS BIGINT) AS n_hi,
                    sum(CASE WHEN value >= lo_b AND value <= hi_b
                             THEN CAST(value AS DECIMAL(14,2)) END) AS mid_sum,
                    min(lo_b) AS lo_b, min(hi_b) AS hi_b
             FROM v JOIN bounds USING (event_type)
             GROUP BY 1)
SELECT event_type, n, n_lo, n_hi,
       round(lo_b, 6) AS lo, round(hi_b, 6) AS hi,
       round((coalesce(CAST(mid_sum AS DOUBLE), 0.0)
              + n_lo * lo_b + n_hi * hi_b) / n, 6) AS winsor_mean
FROM agg
"""


def q_user_path_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over each user's event
    sequence (view -> click -> purchase journeys): counts and row
    probabilities for every (from, to) pair of consecutive events.
    One shuffle on user_id for the lead window (high-cardinality key,
    skew-free), then a tiny matrix aggregate; probabilities are exact
    integer ratios.
    """
    from pyspark.sql import Window

    ev = read_events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        ev.select(
            "user_id",
            F.col("event_type").alias("from_type"),
            F.lead("event_type").over(w).alias("to_type"),
        )
        .filter(F.col("to_type").isNotNull())
    )
    counts = pairs.groupBy("from_type", "to_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    totals = counts.groupBy("from_type").agg(
        F.sum("n").cast("bigint").alias("row_total")
    )
    return (
        counts.join(F.broadcast(totals), "from_type")
        .select(
            "from_type", "to_type", "n",
            F.round(F.col("n") / F.col("row_total"), 6).alias("prob"),
        )
    )


BEHAVIOR_QUERIES["user_path_transitions"] = q_user_path_transitions

BEHAVIOR_ORACLES["user_path_transitions"] = """
WITH pairs AS (
    SELECT user_id, event_type AS from_type,
           lead(event_type) OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS to_type
    FROM events
), counts AS (
    SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n
    FROM pairs WHERE to_type IS NOT NULL GROUP BY 1, 2
), totals AS (
    SELECT from_type, CAST(sum(n) AS BIGINT) AS row_total
    FROM counts GROUP BY 1
)
SELECT c.from_type, c.to_type, c.n,
       round(CAST(c.n AS DOUBLE) / t.row_total, 6) AS prob
FROM counts c JOIN totals t ON c.from_type = t.from_type
"""


PSI_BIN_W, PSI_BINS = 50.0, 10


def q_psi_drift_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index per day vs the whole-period baseline —
    the standard data-drift monitor a production scoring/training
    pipeline runs on every incoming batch (PSI > 0.1 = investigate,
    > 0.25 = shifted). Value distribution in 10 fixed 50-wide bins,
    Laplace-smoothed so empty bins stay defined; two tiny aggregates
    over exact counts, ln only in the final 10-term fold per day.
    """
    ev = read_events(spark, sf_dir)
    bin_ = F.least(
        F.lit(PSI_BINS - 1),
        F.greatest(F.lit(0), F.floor(F.col("value") / PSI_BIN_W)),
    ).cast("int")
    daily = (
        ev.select(temporal.wall_trunc("day", F.col("ts")).alias("day"), bin_.alias("bin"))
        .groupBy("day", "bin")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    base = daily.groupBy("bin").agg(F.sum("c").cast("bigint").alias("cb"))
    day_tot = daily.groupBy("day").agg(F.sum("c").cast("bigint").alias("nd"))
    base_tot = base.agg(F.sum("cb").cast("bigint").alias("nb"))
    # complete (day x bin) grid so empty bins contribute their smoothed
    # mass; build it from the distinct days x the 10 literal bins
    bins = spark.range(PSI_BINS).select(F.col("id").cast("int").alias("bin"))
    grid = day_tot.crossJoin(F.broadcast(bins))
    # base joins LEFT too: a bin no day ever hit still contributes its
    # smoothed (p-q)·ln(p/q) mass (cb coalesced to 0) — an inner join
    # here silently dropped globally-empty bins from the sum
    j = (
        grid.join(daily, ["day", "bin"], "left")
        .join(F.broadcast(base), "bin", "left")
        .crossJoin(F.broadcast(base_tot))
        .select(
            "day",
            "bin",
            ((F.coalesce(F.col("c"), F.lit(0)) + 1).cast("double")
             / (F.col("nd") + PSI_BINS).cast("double")).alias("p"),
            ((F.coalesce(F.col("cb"), F.lit(0)) + 1).cast("double")
             / (F.col("nb") + PSI_BINS).cast("double")).alias("q"),
        )
    )
    return (
        j.groupBy("day")
        .agg(
            F.round(
                F.sum((F.col("p") - F.col("q")) * F.log(F.col("p") / F.col("q"))), 6
            ).alias("psi")
        )
        .select("day", "psi", (F.col("psi") > 0.1).alias("drifted"))
    )


BEHAVIOR_QUERIES["psi_drift_daily"] = q_psi_drift_daily

BEHAVIOR_ORACLES["psi_drift_daily"] = f"""
WITH binned AS (
    SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
           CAST(least({PSI_BINS - 1},
                      greatest(0, floor(value / {PSI_BIN_W!r}))) AS INT) AS bin
    FROM events
), daily AS (
    SELECT day, bin, CAST(count(*) AS BIGINT) AS c FROM binned GROUP BY 1, 2
), base AS (
    SELECT bin, CAST(sum(c) AS BIGINT) AS cb FROM daily GROUP BY 1
), day_tot AS (
    SELECT day, CAST(sum(c) AS BIGINT) AS nd FROM daily GROUP BY 1
), base_tot AS (SELECT CAST(sum(cb) AS BIGINT) AS nb FROM base),
grid AS (
    SELECT d.day, d.nd, b.bin
    FROM day_tot d CROSS JOIN (SELECT unnest(range({PSI_BINS})) AS bin) b
), j AS (
    SELECT g.day, g.bin,
           (coalesce(dl.c, 0) + 1) / CAST(g.nd + {PSI_BINS} AS DOUBLE) AS p,
           (coalesce(ba.cb, 0) + 1) / CAST(bt.nb + {PSI_BINS} AS DOUBLE) AS q
    FROM grid g
    LEFT JOIN daily dl ON g.day = dl.day AND g.bin = dl.bin
    LEFT JOIN base ba ON g.bin = ba.bin
    CROSS JOIN base_tot bt
)
SELECT day, round(sum((p - q) * ln(p / q)), 6) AS psi,
       round(sum((p - q) * ln(p / q)), 6) > 0.1 AS drifted
FROM j GROUP BY 1
"""


def q_lift_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket lift between event types co-occurring in the same
    (user, day) basket: support(a,b) and lift = N·n(ab)/(n(a)·n(b)) for
    every unordered type pair — the association screen behind
    "users who X also Y". Baskets are distinct (user, day, type) rows;
    the pair join shuffles on the basket key (high-cardinality, bounded
    by |types| per basket); lift is an exact integer ratio.
    """
    ev = read_events(spark, sf_dir)
    baskets = ev.select(
        "user_id",
        temporal.wall_trunc("day", F.col("ts")).alias("day"),
        "event_type",
    ).distinct()
    n_baskets = baskets.select("user_id", "day").distinct().agg(
        F.count(F.lit(1)).cast("bigint").alias("nb")
    )
    singles = baskets.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n1")
    )
    a = baskets.select("user_id", "day", F.col("event_type").alias("type_a"))
    b = baskets.select("user_id", "day", F.col("event_type").alias("type_b"))
    pairs = (
        a.join(b, ["user_id", "day"])
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_ab"))
    )
    return (
        pairs.join(
            F.broadcast(singles.select(F.col("event_type").alias("type_a"), F.col("n1").alias("na"))),
            "type_a",
        )
        .join(
            F.broadcast(singles.select(F.col("event_type").alias("type_b"), F.col("n1").alias("nb_"))),
            "type_b",
        )
        .crossJoin(F.broadcast(n_baskets))
        .select(
            "type_a", "type_b", "n_ab",
            F.round(F.col("n_ab") / F.col("nb"), 6).alias("support"),
            F.round(
                (F.col("nb") * F.col("n_ab"))
                / (F.col("na") * F.col("nb_")).cast("double"),
                6,
            ).alias("lift"),
        )
    )


BEHAVIOR_QUERIES["lift_cooccurrence"] = q_lift_cooccurrence

BEHAVIOR_ORACLES["lift_cooccurrence"] = """
WITH baskets AS (
    SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
           event_type
    FROM events
), nb AS (
    SELECT CAST(count(*) AS BIGINT) AS nb
    FROM (SELECT DISTINCT user_id, day FROM baskets)
), singles AS (
    SELECT event_type, CAST(count(*) AS BIGINT) AS n1
    FROM baskets GROUP BY 1
), pairs AS (
    SELECT a.event_type AS type_a, b.event_type AS type_b,
           CAST(count(*) AS BIGINT) AS n_ab
    FROM baskets a JOIN baskets b
      ON a.user_id = b.user_id AND a.day = b.day
     AND a.event_type < b.event_type
    GROUP BY 1, 2
)
SELECT p.type_a, p.type_b, p.n_ab,
       round(CAST(p.n_ab AS DOUBLE) / nb.nb, 6) AS support,
       round(CAST(nb.nb * p.n_ab AS DOUBLE) / (sa.n1 * sb.n1), 6) AS lift
FROM pairs p
JOIN singles sa ON p.type_a = sa.event_type
JOIN singles sb ON p.type_b = sb.event_type
CROSS JOIN nb
"""


def q_audience_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise audience overlap between event types: distinct-user
    Jaccard for every type pair — the "do purchasers also view" segment
    overlap matrix (the same measure the corpus dedup family computes
    over shingle sets, here over user sets).

    Exact set algebra, never a cross join of users: ONE distinct pass
    over (type, user), a self-equi-join keyed on user_id (bounded by
    per-user type combinations — at most |types|² rows per user), then
    integer-only Jaccard from |A∩B| and broadcast per-type totals. All
    counts BIGINT; the ratio is the single float, rounded.
    """
    ev = read_events(spark, sf_dir)
    tu = ev.select("event_type", "user_id").distinct()
    totals = tu.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users")
    )
    pairs = (
        tu.alias("a")
        .join(tu.alias("b"), "user_id")
        .filter(F.col("a.event_type") < F.col("b.event_type"))
        .groupBy(
            F.col("a.event_type").alias("type_a"),
            F.col("b.event_type").alias("type_b"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_both"))
    )
    ta = totals.select(
        F.col("event_type").alias("type_a"), F.col("n_users").alias("n_a")
    )
    tb = totals.select(
        F.col("event_type").alias("type_b"), F.col("n_users").alias("n_b")
    )
    return (
        pairs.join(F.broadcast(ta), "type_a")
        .join(F.broadcast(tb), "type_b")
        .select(
            "type_a", "type_b", "n_a", "n_b", "n_both",
            F.round(
                F.col("n_both")
                / (F.col("n_a") + F.col("n_b") - F.col("n_both")).cast("double"),
                6,
            ).alias("jaccard"),
        )
    )


BEHAVIOR_QUERIES["audience_overlap"] = q_audience_overlap

BEHAVIOR_ORACLES["audience_overlap"] = """
WITH tu AS (
    SELECT DISTINCT event_type, user_id FROM events
), totals AS (
    SELECT event_type, CAST(count(*) AS BIGINT) AS n_users FROM tu GROUP BY 1
), pairs AS (
    SELECT a.event_type AS type_a, b.event_type AS type_b,
           CAST(count(*) AS BIGINT) AS n_both
    FROM tu a JOIN tu b
      ON a.user_id = b.user_id AND a.event_type < b.event_type
    GROUP BY 1, 2
)
SELECT p.type_a, p.type_b, ta.n_users AS n_a, tb.n_users AS n_b, p.n_both,
       round(p.n_both / CAST(ta.n_users + tb.n_users - p.n_both AS DOUBLE), 6)
           AS jaccard
FROM pairs p
JOIN totals ta ON p.type_a = ta.event_type
JOIN totals tb ON p.type_b = tb.event_type
"""


def q_user_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Activity concentration per event type: the Gini coefficient of
    per-user event counts plus the top-decile share — "do 10% of the
    users generate 90% of the traffic" (and for a training corpus, "do
    ten domains dominate the source"), the inequality gate on any
    intake distribution.

    Gini folds to the sorted-rank identity Σ(2·rn − n − 1)·x₍rn₎ /
    (n·Σx) — the ensemble_crps trick — so it needs ONE distributed
    ranking (functions/ranks bucketed row_number: no single-partition
    sort) and exact BIGINT sums; tie permutations cannot change the sum
    because tied values contribute identically. Two shuffles total
    (user-key count, then the bucketed rank).
    """
    from pygeoapi_ingestor_spark.functions import ranks

    ev = read_events(spark, sf_dir)
    counts = ev.groupBy("event_type", "user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    ranked = ranks.bucketed_row_number(
        counts, ["event_type"], "cnt", ["user_id"], out_col="rn", count_col="n"
    )
    top_cut = F.col("n") - F.floor((F.col("n") + 9) / 10)  # n - ceil(n/10)
    agg = ranked.groupBy("event_type").agg(
        F.first("n").cast("bigint").alias("n_users"),
        F.sum("cnt").cast("bigint").alias("n_events"),
        F.sum(
            (F.lit(2) * F.col("rn") - F.col("n") - 1) * F.col("cnt")
        ).cast("bigint").alias("gini_num"),
        F.sum(F.when(F.col("rn") > top_cut, F.col("cnt")).otherwise(0))
        .cast("bigint")
        .alias("top_decile_events"),
    )
    return agg.select(
        "event_type", "n_users", "n_events",
        F.round(
            F.col("gini_num") / (F.col("n_users") * F.col("n_events")).cast("double"),
            6,
        ).alias("gini"),
        F.round(
            F.col("top_decile_events") / F.col("n_events").cast("double"), 6
        ).alias("top_decile_share"),
    )


BEHAVIOR_QUERIES["user_concentration"] = q_user_concentration

BEHAVIOR_ORACLES["user_concentration"] = """
WITH counts AS (
    SELECT event_type, user_id, CAST(count(*) AS BIGINT) AS cnt
    FROM events GROUP BY 1, 2
), ranked AS (
    SELECT event_type, cnt,
           row_number() OVER (PARTITION BY event_type
                              ORDER BY cnt, user_id) AS rn,
           count(*) OVER (PARTITION BY event_type) AS n
    FROM counts
), agg AS (
    SELECT event_type, CAST(min(n) AS BIGINT) AS n_users,
           CAST(sum(cnt) AS BIGINT) AS n_events,
           CAST(sum((2 * rn - n - 1) * cnt) AS BIGINT) AS gini_num,
           CAST(sum(CASE WHEN rn > n - CAST(floor((n + 9) / 10.0) AS BIGINT)
                         THEN cnt ELSE 0 END) AS BIGINT) AS top_decile_events
    FROM ranked GROUP BY 1
)
SELECT event_type, n_users, n_events,
       round(gini_num / CAST(n_users * n_events AS DOUBLE), 6) AS gini,
       round(top_decile_events / CAST(n_events AS DOUBLE), 6) AS top_decile_share
FROM agg
"""


def q_rolling_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day active users (WAU) next to daily actives (DAU) per
    day, plus the stickiness ratio DAU/WAU — the engagement panel every
    production event stream reports.

    COUNT(DISTINCT) over a sliding window can't reuse adjacent windows
    (distinct doesn't subtract), so the Spark-native shape is: distinct
    (day, user) once, explode each activity day to the 7 window-ending
    days it serves, and count distinct users per target day — shuffles
    bounded by days x users, never raw events. Target days clip to the
    observed calendar via the DAU join.
    """
    ev = read_events(spark, sf_dir)
    du = ev.select(
        temporal.wall_trunc("day", F.col("ts")).alias("day"), "user_id"
    ).distinct()
    dau = du.groupBy("day").agg(
        F.countDistinct("user_id").cast("bigint").alias("dau")
    )
    wau = (
        du.select(
            "user_id",
            F.explode(F.sequence(F.lit(0), F.lit(6))).alias("off"),
            "day",
        )
        .select(
            "user_id", F.timestamp_add("DAY", F.col("off"), F.col("day")).alias("wday")
        )
        .groupBy("wday")
        .agg(F.countDistinct("user_id").cast("bigint").alias("wau"))
    )
    return (
        dau.join(wau, dau["day"] == wau["wday"])
        .select(
            "day", "dau", "wau",
            F.round(F.col("dau") / F.col("wau").cast("double"), 6).alias("stickiness"),
        )
    )


BEHAVIOR_QUERIES["rolling_active_users"] = q_rolling_active_users

BEHAVIOR_ORACLES["rolling_active_users"] = """
WITH du AS (
    SELECT DISTINCT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, user_id
    FROM events
), dau AS (
    SELECT day, CAST(count(DISTINCT user_id) AS BIGINT) AS dau
    FROM du GROUP BY 1
), wau AS (
    SELECT day + to_days(off.o) AS wday,
           CAST(count(DISTINCT user_id) AS BIGINT) AS wau
    FROM du
    CROSS JOIN (VALUES (0), (1), (2), (3), (4), (5), (6)) off(o)
    GROUP BY 1
)
SELECT d.day, d.dau, w.wau,
       round(d.dau / CAST(w.wau AS DOUBLE), 6) AS stickiness
FROM dau d JOIN wau w ON d.day = w.wday
"""


def q_ab_test_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion A/B conversion test: users hash deterministically
    into arms (md5 parity — the same content-stable assignment trick as
    stratified_split), conversion = the user has a purchase event, and
    the readout is the classic pooled two-proportion z statistic — the
    experiment-analysis primitive over the event log.

    All counts exact; p-hats, the pooled variance, and z are the only
    floats, built from one identical expression chain in both engines.
    One user-key shuffle (conversion flags), one tiny arm rollup.
    """
    ev = read_events(spark, sf_dir)
    # conversion = a HIGH-VALUE purchase (>= 175): nearly every synthetic
    # user purchases something, so plain "has purchase" is degenerate
    # (pooled p = 1 -> zero variance)
    users = ev.groupBy("user_id").agg(
        F.max(
            (
                (F.col("event_type") == "purchase") & (F.col("value") >= 175.0)
            ).cast("int")
        ).alias("converted")
    )
    arm = (
        F.conv(
            F.substring(F.md5(F.concat(F.lit("ab:"), F.col("user_id").cast("string"))), 1, 8),
            16, 10,
        ).cast("bigint") % 2
    )
    armed = users.withColumn("arm", arm.cast("int"))
    agg = armed.groupBy("arm").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        F.sum("converted").cast("bigint").alias("n_converted"),
    )
    a = agg.filter(F.col("arm") == 0).select(
        F.col("n_users").alias("na"), F.col("n_converted").alias("ca")
    )
    b = agg.filter(F.col("arm") == 1).select(
        F.col("n_users").alias("nb"), F.col("n_converted").alias("cb")
    )
    j = a.crossJoin(b)
    pa = F.col("ca").cast("double") / F.col("na")
    pb = F.col("cb").cast("double") / F.col("nb")
    pool = (F.col("ca") + F.col("cb")).cast("double") / (F.col("na") + F.col("nb"))
    se = F.sqrt(
        pool * (1.0 - pool)
        * (1.0 / F.col("na").cast("double") + 1.0 / F.col("nb").cast("double"))
    )
    z = F.when(se > 0, (pa - pb) / se)
    return j.select(
        F.col("na").cast("bigint").alias("n_a"),
        F.col("ca").cast("bigint").alias("conv_a"),
        F.col("nb").cast("bigint").alias("n_b"),
        F.col("cb").cast("bigint").alias("conv_b"),
        F.round(pa, 6).alias("rate_a"),
        F.round(pb, 6).alias("rate_b"),
        F.round(z, 6).alias("z"),
        F.coalesce(F.abs(z) > 1.96, F.lit(False)).alias("significant"),
    )


BEHAVIOR_QUERIES["ab_test_conversion"] = q_ab_test_conversion

BEHAVIOR_ORACLES["ab_test_conversion"] = """
WITH users AS (
    SELECT user_id,
           max(CASE WHEN event_type = 'purchase' AND value >= 175.0
                    THEN 1 ELSE 0 END) AS converted
    FROM events GROUP BY 1
), armed AS (
    SELECT CAST(('0x' || substr(md5('ab:' || CAST(user_id AS VARCHAR)), 1, 8))::BIGINT
                % 2 AS INT) AS arm,
           converted
    FROM users
), agg AS (
    SELECT arm, CAST(count(*) AS BIGINT) AS n, CAST(sum(converted) AS BIGINT) AS c
    FROM armed GROUP BY 1
), j AS (
    SELECT a.n AS na, a.c AS ca, b.n AS nb, b.c AS cb
    FROM (SELECT * FROM agg WHERE arm = 0) a
    CROSS JOIN (SELECT * FROM agg WHERE arm = 1) b
)
SELECT na AS n_a, ca AS conv_a, nb AS n_b, cb AS conv_b,
       round(CAST(ca AS DOUBLE) / na, 6) AS rate_a,
       round(CAST(cb AS DOUBLE) / nb, 6) AS rate_b,
       round(CASE WHEN sqrt((CAST(ca + cb AS DOUBLE) / (na + nb))
                    * (1.0 - CAST(ca + cb AS DOUBLE) / (na + nb))
                    * (1.0 / CAST(na AS DOUBLE) + 1.0 / CAST(nb AS DOUBLE))) > 0
             THEN (CAST(ca AS DOUBLE) / na - CAST(cb AS DOUBLE) / nb)
                  / sqrt((CAST(ca + cb AS DOUBLE) / (na + nb))
                         * (1.0 - CAST(ca + cb AS DOUBLE) / (na + nb))
                         * (1.0 / CAST(na AS DOUBLE) + 1.0 / CAST(nb AS DOUBLE)))
             END, 6) AS z,
       coalesce(abs(CASE WHEN sqrt((CAST(ca + cb AS DOUBLE) / (na + nb))
                    * (1.0 - CAST(ca + cb AS DOUBLE) / (na + nb))
                    * (1.0 / CAST(na AS DOUBLE) + 1.0 / CAST(nb AS DOUBLE))) > 0
             THEN (CAST(ca AS DOUBLE) / na - CAST(cb AS DOUBLE) / nb)
                  / sqrt((CAST(ca + cb AS DOUBLE) / (na + nb))
                         * (1.0 - CAST(ca + cb AS DOUBLE) / (na + nb))
                         * (1.0 / CAST(na AS DOUBLE) + 1.0 / CAST(nb AS DOUBLE)))
             END) > 1.96, FALSE) AS significant
FROM j
"""


def q_survival_hazard_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discrete-time survival analysis of view -> first purchase: per
    day-offset k, the users still at risk, the conversions at k, the
    discrete hazard, and the Kaplan-Meier survival curve — time-to-event
    with RIGHT CENSORING at the observation window's end (the users who
    never purchase are not dropped; they survive past the horizon).

    Counts are exact; the KM product Π(1−h) folds as exp(Σ ln(1−h))
    with each ln term rounded-then-DECIMAL-summed (the js-divergence
    convention), so the cumulative curve stays order-independent across
    engines. One user-key shuffle, then a day-offset rollup and a tiny
    ordered window over the offsets.
    """
    from pyspark.sql import Window

    ev = read_events(spark, sf_dir)
    first_view = ev.filter(F.col("event_type") == "view").groupBy("user_id").agg(
        F.min("ts").alias("t0")
    )
    first_purchase = ev.filter(F.col("event_type") == "purchase").groupBy(
        "user_id"
    ).agg(F.min("ts").alias("tp"))
    horizon = ev.agg(F.max("ts").alias("t_end"))
    cohort = (
        first_view.join(first_purchase, "user_id", "left")
        .crossJoin(F.broadcast(horizon))
        .select(
            "user_id",
            F.when(
                F.col("tp").isNotNull() & (F.col("tp") >= F.col("t0")),
                F.datediff(F.col("tp").cast("date"), F.col("t0").cast("date")),
            ).cast("bigint").alias("event_day"),
            F.datediff(F.col("t_end").cast("date"), F.col("t0").cast("date"))
            .cast("bigint")
            .alias("censor_day"),
        )
    )
    max_k = 14
    grid = spark.range(max_k + 1).select(F.col("id").cast("bigint").alias("k"))
    # at risk at k: entered (censor_day >= k) and not converted before k
    at_risk = cohort.crossJoin(F.broadcast(grid)).filter(
        (F.col("censor_day") >= F.col("k"))
        & (F.col("event_day").isNull() | (F.col("event_day") >= F.col("k")))
    )
    table = at_risk.groupBy("k").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_at_risk"),
        # event_day is NULL for censored users: a raw (event_day == k)
        # comparison is NULL there and would null the whole sum
        F.sum(F.when(F.col("event_day") == F.col("k"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_events"),
    )
    h = F.col("n_events").cast("double") / F.col("n_at_risk")
    w = Window.orderBy("k").rowsBetween(Window.unboundedPreceding, 0)
    # KM guard: a step where EVERY at-risk user converts (h == 1) would
    # put ln(0) into the fold — Spark nulls it (sum silently skips,
    # leaving the curve stuck above 0) and an external engine errors.
    # Track the absorbing state explicitly: once any h == 1, survival
    # is exactly 0 from that offset on.
    hit_one = F.max((F.col("n_events") == F.col("n_at_risk")).cast("int")).over(w)
    km_raw = F.exp(
        F.sum(
            F.when(
                F.col("n_events") < F.col("n_at_risk"),
                F.round(F.log(1.0 - h), 9).cast("decimal(20,9)"),
            )
        ).over(w).cast("double")
    )
    km = F.when(hit_one == 1, F.lit(0.0)).otherwise(km_raw)
    return table.filter(F.col("n_at_risk") > 0).select(
        F.col("k").cast("int").alias("k"),
        "n_at_risk",
        "n_events",
        F.round(h, 6).alias("hazard"),
        F.round(km, 6).alias("km_survival"),
    )


BEHAVIOR_QUERIES["survival_hazard_table"] = q_survival_hazard_table

BEHAVIOR_ORACLES["survival_hazard_table"] = """
WITH fv AS (
    SELECT user_id, min(ts) AS t0 FROM events
    WHERE event_type = 'view' GROUP BY 1
), fp AS (
    SELECT user_id, min(ts) AS tp FROM events
    WHERE event_type = 'purchase' GROUP BY 1
), horizon AS (SELECT max(ts) AS t_end FROM events),
cohort AS (
    SELECT v.user_id,
           CASE WHEN p.tp IS NOT NULL AND p.tp >= v.t0
                THEN date_diff('day', CAST(v.t0 AS DATE), CAST(p.tp AS DATE))
           END AS event_day,
           date_diff('day', CAST(v.t0 AS DATE), CAST(h.t_end AS DATE))
               AS censor_day
    FROM fv v LEFT JOIN fp p ON v.user_id = p.user_id
    CROSS JOIN horizon h
), grid AS (SELECT unnest(range(0, 15)) AS k),
at_risk AS (
    SELECT g.k, c.event_day FROM cohort c CROSS JOIN grid g
    WHERE c.censor_day >= g.k
      AND (c.event_day IS NULL OR c.event_day >= g.k)
), table_ AS (
    SELECT k, CAST(count(*) AS BIGINT) AS n_at_risk,
           CAST(sum(CASE WHEN event_day = k THEN 1 ELSE 0 END) AS BIGINT)
               AS n_events
    FROM at_risk GROUP BY 1
)
SELECT CAST(k AS INT) AS k, n_at_risk, n_events,
       round(CAST(n_events AS DOUBLE) / n_at_risk, 6) AS hazard,
       round(CASE WHEN max(CASE WHEN n_events = n_at_risk THEN 1 ELSE 0 END)
                      OVER (ORDER BY k ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) = 1
                  THEN 0.0
                  ELSE exp(CAST(sum(CASE WHEN n_events < n_at_risk THEN
                              CAST(round(ln(1.0 - CAST(n_events AS DOUBLE) / n_at_risk), 9)
                                   AS DECIMAL(20,9)) END)
                     OVER (ORDER BY k ROWS BETWEEN UNBOUNDED PRECEDING
                           AND CURRENT ROW) AS DOUBLE)) END, 6) AS km_survival
FROM table_ WHERE n_at_risk > 0
"""
