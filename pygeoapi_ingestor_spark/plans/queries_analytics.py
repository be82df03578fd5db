"""Extended analytics coverage (SURVEY.md §2 block B continued):
semi/anti joins, conditional aggregation, rollup, pivot, JSON
extraction, and windowed deltas.

Same parity conventions as queries_tpch.py: money sums in exact DECIMAL,
derived doubles rounded, every column aliased identically in both
engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pygeoapi_ingestor_spark.operators import temporal
from pygeoapi_ingestor_spark.plans.queries_tpch import (
    _dec_price,
    _one_minus_disc,
    _revenue_sum,
    _t,
)
from pygeoapi_ingestor_spark.sources.readers import local_table

EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders in a quarter that have at least one late-shipped lineitem
    (TPC-H Q4 shape): LEFT SEMI join, counted per priority."""
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-07-01"))
        & (F.col("o_orderdate") < F.lit("1996-10-01"))
    )
    l = _t(spark, sf_dir, "lineitem")
    late = l.filter(F.col("l_shipdate") > F.lit("1996-07-01")).select("l_orderkey")
    matched = o.join(late, o.o_orderkey == late.l_orderkey, "left_semi")
    return matched.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("bigint").alias("order_count")
    )


def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Selective scan + single aggregate (TPC-H Q6 shape). The filter
    must reach the parquet scan as pushed-down predicates."""
    l = _t(spark, sf_dir, "lineitem")
    rev = F.sum(
        _dec_price() * F.col("l_discount").cast("decimal(4,2)")
    ).cast("double")
    out = l.filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") < F.lit("1997-01-01"))
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    ).agg(F.round(rev, 2).alias("revenue"), F.count(F.lit(1)).cast("bigint").alias("n"))
    return out


def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional aggregation ratio (TPC-H Q14 shape): share of revenue
    from PROMO parts, exact-decimal numerator and denominator."""
    p = _t(spark, sf_dir, "part")
    l = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-03-01"))
        & (F.col("l_shipdate") < F.lit("1996-04-01"))
    )
    disc_price = _dec_price() * _one_minus_disc()
    joined = l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
    promo = F.sum(
        F.when(F.col("p_type") == "PROMO", disc_price).otherwise(
            F.lit(0).cast("decimal(12,2)")
        )
    ).cast("double")
    total = F.sum(disc_price).cast("double")
    return joined.agg(
        F.round(F.lit(100.0) * promo / total, 6).alias("promo_revenue_pct"),
        F.round(total, 2).alias("total_revenue"),
    )


def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-HAVING over the fact table (TPC-H Q18 shape)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    l = _t(spark, sf_dir, "lineitem")
    qty_sum = F.sum(F.col("l_quantity").cast("decimal(12,2)"))
    big = (
        l.groupBy("l_orderkey")
        .agg(qty_sum.alias("_q"))
        .filter(F.col("_q") > 150)
        .select("l_orderkey", F.col("_q").cast("double").alias("sum_qty"))
    )
    return (
        big.join(o, big.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .select("c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice", "sum_qty")
    )


def q19_disjunctive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Disjunctive multi-predicate join (TPC-H Q19 shape): OR of three
    brand/size/quantity envelopes."""
    p = _t(spark, sf_dir, "part")
    l = _t(spark, sf_dir, "lineitem")
    joined = l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
    cond = (
        ((F.col("p_brand") == "Brand#1") & (F.col("p_size") <= 10) & (F.col("l_quantity") >= 1) & (F.col("l_quantity") <= 20))
        | ((F.col("p_brand") == "Brand#2") & (F.col("p_size") <= 20) & (F.col("l_quantity") >= 10) & (F.col("l_quantity") <= 30))
        | ((F.col("p_brand") == "Brand#3") & (F.col("p_size") <= 30) & (F.col("l_quantity") >= 20) & (F.col("l_quantity") <= 40))
    )
    return joined.filter(cond).agg(
        F.round(_revenue_sum(), 2).alias("revenue"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )


def q22_idle_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti join + scalar subquery (TPC-H Q22 shape): above-average
    balance customers with no RECENT orders (>= 1999). The average is
    derived from an exact decimal sum so the comparison boundary is
    engine-identical."""
    c = _t(spark, sf_dir, "customer")
    o = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= F.lit("1999-01-01"))
        .select("o_custkey")
    )
    stats = c.filter(F.col("c_acctbal") > 0).agg(
        (F.sum(F.col("c_acctbal").cast("decimal(12,2)")).cast("double") / F.count(F.lit(1))).alias("avg_bal")
    )
    # scalar subquery as a broadcast cross join: keeps the whole query
    # one lazy plan (no driver round-trip / extra job for the average)
    idle = (
        c.crossJoin(F.broadcast(stats))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(o, F.col("c_custkey") == o.o_custkey, "left_anti")
    )
    return idle.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("numcust"),
        F.round(F.sum(F.col("c_acctbal").cast("decimal(12,2)")).cast("double"), 2).alias("totacctbal"),
    )


def q_rollup_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP hierarchy totals (region -> nation -> grand total)."""
    r = _t(spark, sf_dir, "region")
    n = _t(spark, sf_dir, "nation")
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    joined = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
    )
    total = F.sum(F.col("o_totalprice").cast("decimal(14,2)")).cast("double")
    return joined.rollup("r_name", "n_name").agg(
        F.round(total, 2).alias("total_price"),
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
    )


def q_cube_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (priority, status): all grouping-set combinations with
    exact-decimal totals."""
    o = _t(spark, sf_dir, "orders")
    total = F.sum(F.col("o_totalprice").cast("decimal(14,2)")).cast("double")
    return o.cube("o_orderpriority", "o_orderstatus").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.round(total, 2).alias("total_price"),
    )


def q_pivot_daily_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: one column per event type of daily totals (the reference's
    wide per-basin stat tables, utils_spi.py:592-599). Explicit
    conditional aggregation keeps column names stable."""
    from pygeoapi_ingestor_spark.sources.readers import read_events

    ev = read_events(spark, sf_dir)
    day = temporal.wall_trunc("day", F.col("ts")).alias("bucket")
    vdec = F.col("value").cast("decimal(14,2)")
    zero = F.lit(0).cast("decimal(14,2)")
    aggs = [
        F.round(
            F.sum(F.when(F.col("event_type") == t, vdec).otherwise(zero)).cast("double"),
            4,
        ).alias(f"{t}_total")
        for t in EVENT_TYPES
    ]
    return ev.groupBy(day).agg(*aggs)


def q_unpivot_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Melt the wide daily table back to long form (`DataFrame.unpivot`
    — the wide->long half of the reference's per-basin stat reshaping).
    A pure projection+generate: no shuffle beyond the upstream pivot's
    aggregate."""
    wide = q_pivot_daily_by_type(spark, sf_dir)
    return wide.unpivot(
        ids=["bucket"],
        values=[f"{t}_total" for t in EVENT_TYPES],
        variableColumnName="series",
        valueColumnName="total",
    )


def q_json_extract_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured extraction: pull props.k out of the JSON payload
    and aggregate on it (get_json_object stays JVM-side)."""
    from pygeoapi_ingestor_spark.sources.readers import read_events

    ev = read_events(spark, sf_dir)
    k = F.get_json_object("props", "$.k").cast("int")
    return (
        ev.withColumn("k", k)
        .groupBy(F.col("event_type"), (F.col("k") % 10).alias("k_mod"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.round(
                F.sum(F.col("value").cast("decimal(14,2)")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("avg_value"),
        )
    )


def q_value_change_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-series first difference (hydro level/discharge delta analog:
    georgia_ftp_alazani_shaqriani_hydro_process.py)."""
    from pygeoapi_ingestor_spark.sources.readers import read_events

    from pygeoapi_ingestor_spark.operators import temporal

    ev = read_events(spark, sf_dir)
    # chunked lag: 5-value series key would otherwise sort 1/5 of the
    # table in one task; weekly chunks + boundary exchange are exact
    lagged = temporal.chunked_lag(
        ev, series_cols=["event_type"], order_cols=["ts", "event_id"],
        value_col="value", chunk_col=temporal.wall_trunc("week", F.col("ts")),
        out_col="_prev",
    )
    return lagged.select(
        "event_id", "event_type",
        F.round(F.col("value") - F.col("_prev"), 6).alias("value_delta"),
    )


def q_distinct_users_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact COUNT(DISTINCT) per bucket (unique-visitors shape); Spark
    plans it as a two-stage expand + aggregate."""
    from pygeoapi_ingestor_spark.sources.readers import read_events

    ev = read_events(spark, sf_dir)
    return ev.groupBy(
        temporal.wall_trunc("day", F.col("ts")).alias("bucket"), F.col("event_type")
    ).agg(
        F.countDistinct("user_id").cast("bigint").alias("distinct_users"),
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
    )


def q_ntile_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NTILE bucketing per series + per-quartile aggregates."""
    from pygeoapi_ingestor_spark.sources.readers import read_events

    from pygeoapi_ingestor_spark.functions import ranks

    ev = read_events(spark, sf_dir)
    # distributed exact ntile: bucketed row_number + closed-form tiling
    # (a plain ntile window would sort 1/5 of the table per task)
    rn = ranks.bucketed_row_number(
        ev, series_cols=["event_type"], value_col="value",
        tiebreak_cols=["event_id"], out_col="_rn", count_col="_cnt",
    )
    tiles = rn.withColumn("quartile", ranks.ntile_expr("_rn", "_cnt", 4))
    return tiles.groupBy("event_type", "quartile").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.round(F.min("value"), 6).alias("q_min"),
        F.round(F.max("value"), 6).alias("q_max"),
    )


def q_corr_value_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation between the measurement and the JSON prop
    per series."""
    from pygeoapi_ingestor_spark.sources.readers import read_events

    ev = read_events(spark, sf_dir)
    # hand-rolled Pearson r from EXACT sums (value is 2-decimal, k is
    # integer): the engines' streaming corr() accumulates doubles in
    # nondeterministic merge order; with exact sums both sides evaluate
    # the identical closed-form double expression
    k = F.get_json_object("props", "$.k").cast("bigint")
    x = F.col("value").cast("decimal(14,2)")
    agg = ev.withColumn("k", k).groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(x).cast("double").alias("_sx"),
        F.sum(F.col("k")).cast("double").alias("_sy"),
        F.sum(x * F.col("k").cast("decimal(10,0)")).cast("double").alias("_sxy"),
        F.sum(x * x).cast("double").alias("_sxx"),
        F.sum(F.col("k") * F.col("k")).cast("double").alias("_syy"),
    )
    n = F.col("n").cast("double")
    r = (n * F.col("_sxy") - F.col("_sx") * F.col("_sy")) / (
        F.sqrt(n * F.col("_sxx") - F.col("_sx") * F.col("_sx"))
        * F.sqrt(n * F.col("_syy") - F.col("_sy") * F.col("_sy"))
    )
    return agg.select(
        "event_type", F.round(r, 6).alias("corr_value_k"), "n"
    )


def q_extreme_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """max_by/min_by: the value carried by the latest/earliest event per
    series (arg-extremum shape; ts is unique per series in this data)."""
    from pygeoapi_ingestor_spark.sources.readers import read_events

    ev = read_events(spark, sf_dir)
    return ev.groupBy("event_type").agg(
        F.round(F.max_by("value", "ts"), 6).alias("latest_value"),
        F.round(F.min_by("value", "ts"), 6).alias("earliest_value"),
        F.max("ts").alias("latest_ts"),
    )


def q_approx_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog distinct counts — the 100 TB path where exact
    COUNT(DISTINCT)'s expand+dedup shuffle is unaffordable. rows-only
    check (sketch values are engine-specific); a unit test bounds the
    error against the exact count."""
    from pygeoapi_ingestor_spark.sources.readers import read_events

    ev = read_events(spark, sf_dir)
    return ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd=0.02).cast("bigint").alias("approx_users"),
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
    )


def q_set_ops_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set operators: customers ordering in BOTH years (INTERSECT) and
    1996-only customers (EXCEPT), labeled and unioned."""
    o = _t(spark, sf_dir, "orders")
    y96 = o.filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01")) & (F.col("o_orderdate") < F.lit("1997-01-01"))
    ).select("o_custkey")
    y97 = o.filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01")) & (F.col("o_orderdate") < F.lit("1998-01-01"))
    ).select("o_custkey")
    both = y96.intersect(y97).withColumn("cohort", F.lit("both_years"))
    # subtract = EXCEPT DISTINCT (exceptAll's bag semantics would keep
    # both-year customers that ordered more than once in 1996)
    only96 = y96.subtract(y97).withColumn("cohort", F.lit("only_1996"))
    return both.unionByName(only96).select(
        F.col("o_custkey").alias("custkey"), "cohort"
    )


def q_profile_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality profile: per-column null counts, range, cardinality —
    the validation stage every reference process runs on its inputs."""
    from pygeoapi_ingestor_spark.sources.readers import read_events

    ev = read_events(spark, sf_dir)
    return ev.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum(F.col("value").isNull().cast("int")).cast("bigint").alias("value_nulls"),
        F.sum((F.col("value") < 0).cast("int")).cast("bigint").alias("value_negative"),
        F.round(F.min("value"), 6).alias("value_min"),
        F.round(F.max("value"), 6).alias("value_max"),
        F.countDistinct("event_type").cast("bigint").alias("types"),
        F.countDistinct("user_id").cast("bigint").alias("users"),
        F.min("ts").alias("ts_min"),
        F.max("ts").alias("ts_max"),
    )


def q_grouping_sets_mixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS over two INDEPENDENT dimensions —
    ((event_type), (day), ()) — the grouping-set shape neither ROLLUP
    nor CUBE can express (no (event_type, day) cell). One expand +
    aggregate, exact decimal totals."""
    from pygeoapi_ingestor_spark.sources.readers import read_events

    ev = read_events(spark, sf_dir).withColumn(
        "day", temporal.wall_trunc("day", F.col("ts"))
    )
    return ev.groupingSets(
        [["event_type"], ["day"], []], "event_type", "day"
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.round(F.sum(F.col("value").cast("decimal(14,2)")), 2)
        .cast("double")
        .alias("total_value"),
    )


MAINTENANCE_WINDOWS = [
    (1, "2024-01-03 00:00:00", "2024-01-04 12:00:00"),
    (2, "2024-01-07 06:00:00", "2024-01-07 18:00:00"),
    (3, "2024-01-10 00:00:00", "2024-01-15 00:00:00"),
    (4, "2024-01-18 20:00:00", "2024-01-19 04:00:00"),
    (5, "2024-01-22 00:00:00", "2024-01-29 00:00:00"),
    (6, "2024-01-30 12:00:00", "2024-02-02 00:00:00"),
]


def q_interval_overlap_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-interval join (events x maintenance windows): the
    interval dim is tiny, so broadcast + range predicate — a
    BroadcastNestedLoopJoin whose inner side is 6 rows, not a shuffle
    range join. Windows may overlap; an event counts in each window
    containing it."""
    from pygeoapi_ingestor_spark.sources.readers import read_events

    ev = read_events(spark, sf_dir)
    win = local_table(
        spark, MAINTENANCE_WINDOWS,
        "window_id int, w_start string, w_end string",
    ).select(
        "window_id",
        F.col("w_start").cast("timestamp").alias("w_start"),
        F.col("w_end").cast("timestamp").alias("w_end"),
    )
    joined = ev.join(
        F.broadcast(win),
        (F.col("ts") >= F.col("w_start")) & (F.col("ts") < F.col("w_end")),
    )
    return joined.groupBy("window_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.countDistinct("user_id").cast("bigint").alias("n_users"),
        F.round(F.sum(F.col("value").cast("decimal(14,2)")), 2)
        .cast("double")
        .alias("total_value"),
    )


def q_percent_rank_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL percent_rank per series — (rank-1)/(n-1) from the bucketed
    distributed rank, so the low-cardinality series key never collapses
    the sort into one task."""
    from pygeoapi_ingestor_spark.sources.readers import read_events

    from pygeoapi_ingestor_spark.functions import ranks

    ev = read_events(spark, sf_dir)
    ranked = ranks.bucketed_rank(
        ev, series_cols=["event_type"], value_col="value",
        out_col="_rank", count_col="_n",
    )
    pr = (F.col("_rank") - 1).cast("double") / (F.col("_n") - 1).cast("double")
    return ranked.select(
        "event_id", "event_type", F.round(pr, 6).alias("pct_rank")
    )


def q_value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per series via bucket drill-down
    (functions/ranks.exact_percentiles): positions are located from
    bucket counts alone, so only the buckets containing a percentile
    position are ever sorted — no per-group value buffering (Spark's
    exact `percentile` aggregate) and no single-task series sort.
    Reference parity: the p05..p95 summary family of utils_spi.py's
    basin_zonal_stat, as a standalone scale-safe operator."""
    from pygeoapi_ingestor_spark.sources.readers import read_events

    from pygeoapi_ingestor_spark.functions import ranks

    ev = read_events(spark, sf_dir)
    out = ranks.exact_percentiles(
        ev, series_cols=["event_type"], value_col="value",
        ps=[0.25, 0.5, 0.75, 0.9], tiebreak_cols=["event_id"],
    )
    return out.select(
        "event_type", "p", F.round("pct", 6).alias("pct")
    )


def q_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-bin histogram per series (distribution profiling): one
    map-side-combinable aggregate, integer counts + exact decimal sums —
    the cheap first look at a 100 TB column."""
    from pygeoapi_ingestor_spark.sources.readers import read_events

    ev = read_events(spark, sf_dir)
    bin_id = (
        F.least(F.greatest(F.floor(F.col("value") / F.lit(25.0)), F.lit(0)), F.lit(19))
        .cast("int")
        .alias("bin")
    )
    return ev.groupBy("event_type", bin_id).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.round(F.sum(F.col("value").cast("decimal(14,2)")), 2)
        .cast("double")
        .alias("sum_v"),
    )


def q_approx_percentile_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greenwald-Khanna approximate percentiles — the sketch path for
    when even bucket drill-down's two passes are too many. rows-only
    check (sketch internals are engine-specific); a unit test bounds the
    rank error against the exact interpolated result."""
    from pygeoapi_ingestor_spark.sources.readers import read_events

    ev = read_events(spark, sf_dir)
    agg = ev.groupBy("event_type").agg(
        F.percentile_approx("value", F.array(F.lit(0.5), F.lit(0.9)), F.lit(10000)).alias("_qs")
    )
    return agg.select(
        "event_type",
        F.round(F.col("_qs")[0], 6).alias("p50_approx"),
        F.round(F.col("_qs")[1], 6).alias("p90_approx"),
    )


FUNNEL_STAGES = ("view", "click", "purchase")


def q_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel view -> click -> purchase: users
    reaching each stage (each stage strictly after the previous one) and
    the conversion rate vs stage 1. One shuffle on user_id; the per-user
    fold scans that user's funnel events once in sorted order — see
    operators/temporal.funnel_stages. Reference semantics analog:
    staged alert escalation over station events."""
    from pygeoapi_ingestor_spark.operators import temporal
    from pygeoapi_ingestor_spark.sources.readers import read_events

    ev = read_events(spark, sf_dir)
    depths = temporal.funnel_stages(
        ev, user_col="user_id", ts_col="ts", type_col="event_type",
        stages=list(FUNNEL_STAGES),
    )
    ks = range(1, len(FUNNEL_STAGES) + 1)
    agg = depths.agg(
        *[
            F.sum((F.col("depth") >= i).cast("long")).alias(f"_s{i}")
            for i in ks
        ]
    )
    rows = F.array(
        *[
            F.struct(
                F.lit(f"{i}_{FUNNEL_STAGES[i - 1]}").alias("stage"),
                F.col(f"_s{i}").cast("bigint").alias("users"),
                F.round(F.col(f"_s{i}") / F.col("_s1"), 6).alias("conversion"),
            )
            for i in ks
        ]
    )
    return agg.select(F.explode(rows).alias("_r")).select("_r.*")


def q_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(series, day) time-weighted average of the irregular value
    series — step-interpolated TWA with exact integer-microsecond
    weights and exact decimal weighted sums (bit-stable under any
    partitioning). Windows key on (event_type, day), never the bare
    5-value series key."""
    from pygeoapi_ingestor_spark.operators import temporal
    from pygeoapi_ingestor_spark.sources.readers import read_events

    ev = read_events(spark, sf_dir)
    return temporal.time_weighted_avg(
        ev, series_cols=["event_type"], ts_col="ts", value_col="value",
        id_col="event_id",
    )


def q_fuzzy_match_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity canonicalization: distinct part-name pairs within edit
    distance 2, via q-gram prefix filtering (Ed-Join) — candidates
    shuffle on each name's 5 RAREST bigrams only, then the exact
    ``levenshtein`` gate runs on candidates; no all-pairs join at any
    scale. Reference analog: station/feature name normalization at
    ingest registration."""
    from pygeoapi_ingestor_spark.operators import fuzzy

    from pygeoapi_ingestor_spark.sources.readers import read_table

    part = read_table(spark, sf_dir, "part")
    return fuzzy.fuzzy_name_pairs(part, name_col="p_name")


ANALYTICS_QUERIES = {
    "funnel_conversion": q_funnel_conversion,
    "time_weighted_avg": q_time_weighted_avg,
    "fuzzy_match_names": q_fuzzy_match_names,
    "set_ops_customers": q_set_ops_customers,
    "value_percentiles": q_value_percentiles,
    "grouping_sets_mixed": q_grouping_sets_mixed,
    "interval_overlap_join": q_interval_overlap_join,
    "percent_rank_bucketed": q_percent_rank_bucketed,
    "value_histogram": q_value_histogram,
    "approx_percentile_value": q_approx_percentile_value,
    "profile_events": q_profile_events,
    "approx_distinct_users": q_approx_distinct_users,
    "distinct_users_daily": q_distinct_users_daily,
    "ntile_quartiles": q_ntile_quartiles,
    "corr_value_props": q_corr_value_props,
    "extreme_values": q_extreme_values,
    "q4_order_priority": q4_order_priority,
    "q6_forecast_revenue": q6_forecast_revenue,
    "q14_promo_revenue": q14_promo_revenue,
    "q18_large_orders": q18_large_orders,
    "q19_disjunctive": q19_disjunctive,
    "q22_idle_customers": q22_idle_customers,
    "rollup_revenue": q_rollup_revenue,
    "cube_orders": q_cube_orders,
    "pivot_daily_by_type": q_pivot_daily_by_type,
    "unpivot_daily": q_unpivot_daily,
    "json_extract_props": q_json_extract_props,
    "value_change_lag": q_value_change_lag,
}

_DEC_DISC_PRICE = "CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))"

ANALYTICS_ORACLES = {
    "funnel_conversion": """
        WITH f AS (
            SELECT user_id, ts, event_type FROM events
            WHERE event_type IN ('view', 'click', 'purchase')
        ), s1 AS (
            SELECT user_id, min(ts) AS t FROM f
            WHERE event_type = 'view' GROUP BY 1
        ), s2 AS (
            SELECT f.user_id, min(f.ts) AS t
            FROM f JOIN s1 USING (user_id)
            WHERE f.event_type = 'click' AND f.ts > s1.t
            GROUP BY f.user_id
        ), s3 AS (
            SELECT f.user_id, min(f.ts) AS t
            FROM f JOIN s2 USING (user_id)
            WHERE f.event_type = 'purchase' AND f.ts > s2.t
            GROUP BY f.user_id
        ), c AS (
            SELECT (SELECT count(*) FROM s1) AS n1,
                   (SELECT count(*) FROM s2) AS n2,
                   (SELECT count(*) FROM s3) AS n3
        )
        SELECT '1_view' AS stage, CAST(n1 AS BIGINT) AS users,
               round(n1 / n1, 6) AS conversion FROM c
        UNION ALL
        SELECT '2_click', CAST(n2 AS BIGINT), round(n2 / n1, 6) FROM c
        UNION ALL
        SELECT '3_purchase', CAST(n3 AS BIGINT), round(n3 / n1, 6) FROM c
    """,
    "time_weighted_avg": """
        WITH b AS (
            SELECT event_type,
                   date_trunc('day', CAST(ts AS TIMESTAMP)) AS d,
                   CAST(ts AS TIMESTAMP) AS tsu, event_id,
                   CAST(value AS DECIMAL(14,2)) AS v
            FROM events
        ), h AS (
            SELECT event_type, d, v,
                   coalesce(
                       epoch_us(lead(tsu) OVER (PARTITION BY event_type, d
                                                ORDER BY tsu, event_id)),
                       epoch_us(d + INTERVAL 1 DAY)
                   ) - epoch_us(tsu) AS hold
            FROM b
        )
        SELECT event_type, CAST(d AS DATE) AS day,
               CAST(count(*) AS BIGINT) AS n_events,
               round(CAST(sum(v * CAST(hold AS DECIMAL(20,0))) AS DOUBLE)
                     / CAST(sum(hold) AS DOUBLE), 6) AS twa
        FROM h GROUP BY 1, 2
    """,
    "fuzzy_match_names": """
        WITH names AS (
            SELECT DISTINCT p_name AS name FROM part
            WHERE p_name IS NOT NULL AND length(p_name) >= 2
        ), g AS (
            SELECT name,
                   unnest(list_distinct(list_transform(
                       range(1, length(name)),
                       i -> substr(name, i, 2)))) AS gram
            FROM names
        ), freq AS (
            SELECT gram, count(*) AS f FROM g GROUP BY 1
        ), pfx AS (
            SELECT name, gram FROM (
                SELECT g.name, g.gram,
                       row_number() OVER (PARTITION BY g.name
                                          ORDER BY freq.f, g.gram) AS rn
                FROM g JOIN freq USING (gram)
            ) WHERE rn <= 5
        ), cand AS (
            SELECT DISTINCT a.name AS name_a, b.name AS name_b
            FROM pfx a JOIN pfx b ON a.gram = b.gram AND a.name < b.name
        )
        SELECT name_a, name_b,
               CAST(levenshtein(name_a, name_b) AS INTEGER) AS dist
        FROM cand
        WHERE abs(length(name_a) - length(name_b)) <= 2
          AND levenshtein(name_a, name_b) <= 2
    """,
    "set_ops_customers": """
        WITH y96 AS (SELECT o_custkey FROM orders
                     WHERE o_orderdate >= TIMESTAMP '1996-01-01'
                       AND o_orderdate < TIMESTAMP '1997-01-01'),
             y97 AS (SELECT o_custkey FROM orders
                     WHERE o_orderdate >= TIMESTAMP '1997-01-01'
                       AND o_orderdate < TIMESTAMP '1998-01-01')
        SELECT o_custkey AS custkey, 'both_years' AS cohort
        FROM (SELECT o_custkey FROM y96 INTERSECT SELECT o_custkey FROM y97)
        UNION ALL
        SELECT o_custkey AS custkey, 'only_1996' AS cohort
        FROM (SELECT DISTINCT o_custkey FROM y96
              EXCEPT SELECT DISTINCT o_custkey FROM y97)
    """,
    "profile_events": """
        SELECT CAST(count(*) AS BIGINT) AS n_rows,
               CAST(sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS value_nulls,
               CAST(sum(CASE WHEN value < 0 THEN 1 ELSE 0 END) AS BIGINT) AS value_negative,
               round(min(value), 6) AS value_min,
               round(max(value), 6) AS value_max,
               CAST(count(DISTINCT event_type) AS BIGINT) AS types,
               CAST(count(DISTINCT user_id) AS BIGINT) AS users,
               min(ts) AS ts_min, max(ts) AS ts_max
        FROM events
    """,
    "distinct_users_daily": """
        SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS bucket, event_type,
               CAST(count(DISTINCT user_id) AS BIGINT) AS distinct_users,
               CAST(count(*) AS BIGINT) AS n_events
        FROM events GROUP BY 1, 2
    """,
    "grouping_sets_mixed": """
        SELECT event_type, CAST(day AS TIMESTAMP) AS day,
               CAST(count(*) AS BIGINT) AS n,
               CAST(round(sum(CAST(value AS DECIMAL(14,2))), 2) AS DOUBLE) AS total_value
        FROM (SELECT event_type, date_trunc('day', ts) AS day, value FROM events)
        GROUP BY GROUPING SETS ((event_type), (day), ())
    """,
    "interval_overlap_join": """
        WITH win(window_id, w_start, w_end) AS (VALUES
            %s)
        SELECT window_id, CAST(count(*) AS BIGINT) AS n_events,
               CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
               CAST(round(sum(CAST(value AS DECIMAL(14,2))), 2) AS DOUBLE) AS total_value
        FROM events e JOIN win w
          ON e.ts >= CAST(w.w_start AS TIMESTAMP) AND e.ts < CAST(w.w_end AS TIMESTAMP)
        GROUP BY 1
    """ % ",\n            ".join(
        f"({i}, '{s}', '{e}')" for i, s, e in MAINTENANCE_WINDOWS
    ),
    "percent_rank_bucketed": """
        SELECT event_id, event_type,
               round(CAST(rank() OVER w - 1 AS DOUBLE)
                     / CAST(count(*) OVER (PARTITION BY event_type) - 1 AS DOUBLE),
                     6) AS pct_rank
        FROM events
        WINDOW w AS (PARTITION BY event_type ORDER BY value)
    """,
    "value_percentiles": """
        WITH v AS (SELECT event_type, value, event_id FROM events),
             n AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n
                   FROM v GROUP BY event_type),
             ps AS (SELECT CAST(p AS DOUBLE) AS p
                    FROM (VALUES (0.25), (0.5), (0.75), (0.9)) t(p)),
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
                   GROUP BY 1, 2, 3)
        SELECT event_type, p,
               round(vlo + (vhi - vlo) * frac, 6) AS pct
        FROM j
    """,
    "value_histogram": """
        SELECT event_type,
               CAST(least(greatest(floor(value / CAST(25.0 AS DOUBLE)), 0), 19) AS INTEGER) AS bin,
               CAST(count(*) AS BIGINT) AS n,
               CAST(round(sum(CAST(value AS DECIMAL(14,2))), 2) AS DOUBLE) AS sum_v
        FROM events
        GROUP BY 1, 2
    """,
    "ntile_quartiles": """
        SELECT event_type, CAST(quartile AS INTEGER) AS quartile,
               CAST(count(*) AS BIGINT) AS n,
               round(min(value), 6) AS q_min,
               round(max(value), 6) AS q_max
        FROM (
            SELECT event_type, value,
                   ntile(4) OVER (PARTITION BY event_type
                                  ORDER BY value ASC, event_id ASC) AS quartile
            FROM events
        ) GROUP BY 1, 2
    """,
    "corr_value_props": """
        WITH s AS (
            SELECT event_type,
                   count(*) AS n,
                   CAST(sum(CAST(value AS DECIMAL(14,2))) AS DOUBLE) AS sx,
                   CAST(sum(k) AS DOUBLE) AS sy,
                   CAST(sum(CAST(value AS DECIMAL(14,2)) * CAST(k AS DECIMAL(10,0)))
                        AS DOUBLE) AS sxy,
                   CAST(sum(CAST(value AS DECIMAL(14,2)) * CAST(value AS DECIMAL(14,2)))
                        AS DOUBLE) AS sxx,
                   CAST(sum(k * k) AS DOUBLE) AS syy
            FROM (SELECT event_type, value,
                         CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
                  FROM events)
            GROUP BY 1
        )
        SELECT event_type,
               round((CAST(n AS DOUBLE) * sxy - sx * sy)
                     / (sqrt(CAST(n AS DOUBLE) * sxx - sx * sx)
                        * sqrt(CAST(n AS DOUBLE) * syy - sy * sy)), 6) AS corr_value_k,
               CAST(n AS BIGINT) AS n
        FROM s
    """,
    "extreme_values": """
        SELECT event_type,
               round(arg_max(value, ts), 6) AS latest_value,
               round(arg_min(value, ts), 6) AS earliest_value,
               max(ts) AS latest_ts
        FROM events GROUP BY 1
    """,
    "q4_order_priority": """
        SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
        FROM orders
        WHERE o_orderdate >= TIMESTAMP '1996-07-01'
          AND o_orderdate < TIMESTAMP '1996-10-01'
          AND EXISTS (SELECT 1 FROM lineitem
                      WHERE l_orderkey = o_orderkey
                        AND l_shipdate > TIMESTAMP '1996-07-01')
        GROUP BY o_orderpriority
    """,
    "q6_forecast_revenue": """
        SELECT round(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                             * CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE), 2) AS revenue,
               CAST(count(*) AS BIGINT) AS n
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate < TIMESTAMP '1997-01-01'
          AND l_discount >= 0.05 AND l_discount <= 0.07
          AND l_quantity < 24
    """,
    "q14_promo_revenue": f"""
        SELECT round(100.0 * CAST(sum(CASE WHEN p_type = 'PROMO'
                         THEN {_DEC_DISC_PRICE}
                         ELSE CAST(0 AS DECIMAL(12,2)) END) AS DOUBLE)
                     / CAST(sum({_DEC_DISC_PRICE}) AS DOUBLE), 6) AS promo_revenue_pct,
               round(CAST(sum({_DEC_DISC_PRICE}) AS DOUBLE), 2) AS total_revenue
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE l_shipdate >= TIMESTAMP '1996-03-01'
          AND l_shipdate < TIMESTAMP '1996-04-01'
    """,
    "q18_large_orders": """
        SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
               CAST(sum_qty AS DOUBLE) AS sum_qty
        FROM (
            SELECT l_orderkey, sum(CAST(l_quantity AS DECIMAL(12,2))) AS sum_qty
            FROM lineitem GROUP BY l_orderkey HAVING sum_qty > 150
        )
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
    """,
    "q19_disjunctive": f"""
        SELECT round(CAST(sum({_DEC_DISC_PRICE}) AS DOUBLE), 2) AS revenue,
               CAST(count(*) AS BIGINT) AS n
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE (p_brand = 'Brand#1' AND p_size <= 10 AND l_quantity BETWEEN 1 AND 20)
           OR (p_brand = 'Brand#2' AND p_size <= 20 AND l_quantity BETWEEN 10 AND 30)
           OR (p_brand = 'Brand#3' AND p_size <= 30 AND l_quantity BETWEEN 20 AND 40)
    """,
    "q22_idle_customers": """
        WITH avg_bal AS (
            SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) / count(*) AS ab
            FROM customer WHERE c_acctbal > 0
        )
        SELECT c_nationkey, CAST(count(*) AS BIGINT) AS numcust,
               round(CAST(sum(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE), 2) AS totacctbal
        FROM customer, avg_bal
        WHERE c_acctbal > ab
          AND NOT EXISTS (SELECT 1 FROM orders
                          WHERE o_custkey = c_custkey
                            AND o_orderdate >= TIMESTAMP '1999-01-01')
        GROUP BY c_nationkey
    """,
    "rollup_revenue": """
        SELECT r_name, n_name,
               round(CAST(sum(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE), 2) AS total_price,
               CAST(count(*) AS BIGINT) AS n_orders
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        GROUP BY ROLLUP (r_name, n_name)
    """,
    "cube_orders": """
        SELECT o_orderpriority, o_orderstatus,
               CAST(count(*) AS BIGINT) AS n_orders,
               round(CAST(sum(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE), 2)
                   AS total_price
        FROM orders
        GROUP BY CUBE (o_orderpriority, o_orderstatus)
    """,
    "pivot_daily_by_type": """
        SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS bucket,
               round(CAST(sum(CASE WHEN event_type = 'click' THEN CAST(value AS DECIMAL(14,2)) ELSE CAST(0 AS DECIMAL(14,2)) END) AS DOUBLE), 4) AS click_total,
               round(CAST(sum(CASE WHEN event_type = 'error' THEN CAST(value AS DECIMAL(14,2)) ELSE CAST(0 AS DECIMAL(14,2)) END) AS DOUBLE), 4) AS error_total,
               round(CAST(sum(CASE WHEN event_type = 'purchase' THEN CAST(value AS DECIMAL(14,2)) ELSE CAST(0 AS DECIMAL(14,2)) END) AS DOUBLE), 4) AS purchase_total,
               round(CAST(sum(CASE WHEN event_type = 'signup' THEN CAST(value AS DECIMAL(14,2)) ELSE CAST(0 AS DECIMAL(14,2)) END) AS DOUBLE), 4) AS signup_total,
               round(CAST(sum(CASE WHEN event_type = 'view' THEN CAST(value AS DECIMAL(14,2)) ELSE CAST(0 AS DECIMAL(14,2)) END) AS DOUBLE), 4) AS view_total
        FROM events GROUP BY 1
    """,
    "unpivot_daily": """
        WITH wide AS (
            SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS bucket,
                   round(CAST(sum(CASE WHEN event_type = 'click' THEN CAST(value AS DECIMAL(14,2)) ELSE CAST(0 AS DECIMAL(14,2)) END) AS DOUBLE), 4) AS click_total,
                   round(CAST(sum(CASE WHEN event_type = 'error' THEN CAST(value AS DECIMAL(14,2)) ELSE CAST(0 AS DECIMAL(14,2)) END) AS DOUBLE), 4) AS error_total,
                   round(CAST(sum(CASE WHEN event_type = 'purchase' THEN CAST(value AS DECIMAL(14,2)) ELSE CAST(0 AS DECIMAL(14,2)) END) AS DOUBLE), 4) AS purchase_total,
                   round(CAST(sum(CASE WHEN event_type = 'signup' THEN CAST(value AS DECIMAL(14,2)) ELSE CAST(0 AS DECIMAL(14,2)) END) AS DOUBLE), 4) AS signup_total,
                   round(CAST(sum(CASE WHEN event_type = 'view' THEN CAST(value AS DECIMAL(14,2)) ELSE CAST(0 AS DECIMAL(14,2)) END) AS DOUBLE), 4) AS view_total
            FROM events GROUP BY 1
        )
        SELECT bucket, 'click_total' AS series, click_total AS total FROM wide
        UNION ALL SELECT bucket, 'error_total', error_total FROM wide
        UNION ALL SELECT bucket, 'purchase_total', purchase_total FROM wide
        UNION ALL SELECT bucket, 'signup_total', signup_total FROM wide
        UNION ALL SELECT bucket, 'view_total', view_total FROM wide
    """,
    "json_extract_props": """
        SELECT event_type,
               CAST(json_extract_string(props, '$.k') AS INTEGER) % 10 AS k_mod,
               CAST(count(*) AS BIGINT) AS n,
               round(CAST(sum(CAST(value AS DECIMAL(14,2))) AS DOUBLE) / count(*), 6)
                   AS avg_value
        FROM events GROUP BY 1, 2
    """,
    "value_change_lag": """
        SELECT event_id, event_type,
               round(value - lag(value) OVER (PARTITION BY event_type
                                              ORDER BY ts, event_id), 6) AS value_delta
        FROM events
    """,
}
