"""Streaming ingestion pipelines.

Reference semantics re-expressed (SURVEY.md §2 D1/D2):
- continuous ingestion of an append-only event stream (the reference's
  repeated cron pulls collapse into one readStream),
- event-time windowed aggregation with a watermark for late data
  (the reference's per-period recompute).

All transforms are build-once: the same logical plan serves a file
stream in tests and a Kafka/cloud-files stream in production — only the
``readStream`` format changes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

EVENT_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ]
)

# PSI drift bins over ``value``: PSI_BINS equal-width bins (the last
# open-ended); a window drifts when its PSI exceeds 0.1
PSI_BINS = 10
PSI_BIN_WIDTH = 50.0


def read_event_stream(
    spark: SparkSession, path: str, fmt: str = "json", max_files_per_trigger: int = 10
) -> DataFrame:
    """File-source event stream (json/parquet drop directory — the FTP
    polling analog). Swap format for kafka/cloud files in production."""
    reader = (
        spark.readStream.format(fmt)
        .schema(EVENT_SCHEMA)
        .option("maxFilesPerTrigger", str(max_files_per_trigger))
    )
    return reader.load(path)


def windowed_agg(
    stream: DataFrame,
    window_duration: str = "1 hour",
) -> DataFrame:
    """Event-time tumbling-window aggregation with late-data watermark.

    State is bounded by (series x open windows); the watermark closes
    windows so state doesn't grow with stream length — the property that
    lets this run forever at 100 TB/day.

    SIZING RULE (r11, from the sustained-throughput diagnosis): the
    number of state partitions (``spark.sql.shuffle.partitions`` at
    query start) should track STATE VOLUME, not session core count —
    every trigger pays one state-store commit PER PARTITION regardless
    of input size, so a watermark-bounded state of a few thousand keys
    behind 32 stores puts a ~1s fixed term on every micro-batch (flat
    across a 16-batch series; measured 1.35s/trigger at 32 partitions
    vs 0.53s at 4 on the same feed). Same rule as correlate_streams.
    """
    return (
        stream.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", window_duration).alias("win"), F.col("event_type"))
        .agg(
            F.sum("value").alias("total_value"),
            F.count(F.lit(1)).alias("n_events"),
            F.avg("value").alias("avg_value"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "event_type",
            "total_value",
            "n_events",
            "avg_value",
        )
    )


def correlate_streams(
    purchases: DataFrame,
    clicks: DataFrame,
) -> DataFrame:
    """Stream-stream interval join: each purchase paired with the same
    user's clicks in the preceding hour (2-hour watermarks).

    Both sides are watermarked so the join state (buffered unmatched
    rows) is bounded by the interval + watermark horizon — the condition
    Structured Streaming requires to ever GC state. The join condition
    is an equi-key plus a time band, which Spark executes as a
    state-store lookup per key, not a cross product.

    SIZING (r9 verdict item 6): a stream-stream join instantiates FOUR
    state stores per shuffle partition (keyToNumValues/keyWithIndex on
    each side), so per-micro-batch cost carries a fixed store-commit
    term proportional to ``spark.sql.shuffle.partitions`` — at an
    analytic session width (32) that term dominated (measured 4.2k
    rows/s; 16.3k at 8 partitions on the same feed). Set the session's
    shuffle partitions to the state volume, not the batch width, BEFORE
    the first run of the query (the partitioning is pinned in the
    checkpoint thereafter).
    """
    p = purchases.select(
        F.col("event_id").alias("p_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
        F.col("value").alias("p_value"),
    ).withWatermark("p_ts", "2 hours")
    c = clicks.select(
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("c_ts"),
        F.col("value").alias("c_value"),
    ).withWatermark("c_ts", "2 hours")
    return p.join(
        c,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("c_ts") <= F.col("p_ts"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 1 hour")),
    ).select("p_id", "p_user", "p_ts", "p_value", "c_ts", "c_value")


def run_to_sink(
    result: DataFrame,
    out_path: str,
    checkpoint: str,
):
    """Materialize a streaming result into a parquet collection
    (append mode) and wait for it.

    ``availableNow`` processes the backlog then stops — the streaming
    equivalent of one scheduler tick, and what the tests use.
    """
    q = (
        result.writeStream.format("parquet")
        .outputMode("append")
        .option("path", out_path)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def run_to_collection(
    result: DataFrame,
    collection_id: str,
    out_path: str,
    checkpoint: str,
    catalog,
    ts_col: str | None = None,
):
    """Streaming twin of the ingest-process store+register arc: each
    micro-batch lands in the collection via ``foreachBatch``; the
    catalog entry's extents refresh after the run.

    REPLAY-IDEMPOTENT: foreachBatch is at-least-once (a crash between a
    batch's write and its checkpoint commit re-delivers the batch on
    restart), so a plain append would duplicate rows. Each batch lands
    under its own ``_batch=<id>`` partition directory via DYNAMIC
    partition overwrite — a replayed batch REPLACES its own directory
    and nothing else, giving effectively-exactly-once output. Readers
    see a ``_batch`` partition column; drop it if unwanted.

    With ``availableNow`` this is one scheduler tick; with a continuous
    trigger the same query keeps the collection live.
    """
    from pygeoapi_ingestor_spark.sinks.collections import compute_extents

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.withColumn("_batch", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("_batch")
            .parquet(out_path)
        )

    q = (
        result.writeStream.foreachBatch(write_batch)
        .outputMode("append")
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    from pyspark.errors import AnalysisException

    try:
        written = result.sparkSession.read.parquet(out_path)
    except AnalysisException:
        # zero batches produced -> nothing written; an empty tick is a
        # successful no-op, not a registration (anything other than a
        # missing/unreadable-plan path should surface, not skip silently)
        return q
    catalog.register(
        collection_id, out_path, compute_extents(written, ts_col=ts_col),
        schema=written.schema,
    )
    return q


def run_to_memory(result: DataFrame, name: str, mode: str = "append"):
    """Debug/test sink: collect a streaming result into an in-memory
    table (complete/update modes supported)."""
    q = (
        result.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def psi_baseline(df: DataFrame) -> dict[int, int]:
    """Bin counts of the reference window — the static baseline a
    drift monitor compares every incoming window against. Computed once
    batch-side (one tiny aggregate), then carried into the stream as
    literals."""
    b = F.least(
        F.lit(PSI_BINS - 1),
        F.greatest(F.lit(0), F.floor(F.col("value") / PSI_BIN_WIDTH)),
    ).cast("int")
    rows = df.groupBy(b.alias("bin")).count().collect()
    counts = {int(r["bin"]): int(r["count"]) for r in rows}
    return {i: counts.get(i, 0) for i in range(PSI_BINS)}


def drift_monitor_stream(
    stream: DataFrame,
    baseline: dict[int, int],
    window: str = "10 minutes",
    watermark: str = "2 minutes",
) -> DataFrame:
    """Continuous PSI drift monitoring: per event-time window, the
    Population Stability Index of the incoming value distribution vs the
    static baseline (psi_drift_daily's batch semantics as a stream).

    Structured-Streaming shape: ONE windowed aggregation computes every
    bin count as a conditional sum (no second agg — PSI folds over the
    bin columns in a plain projection, so append mode + watermark
    eviction work unchanged). State per window is ``bins`` counters.
    """
    bins = len(baseline)
    nb = sum(baseline.values())
    bcol = F.least(
        F.lit(bins - 1),
        F.greatest(F.lit(0), F.floor(F.col("value") / PSI_BIN_WIDTH)),
    ).cast("int")
    aggs = [
        F.sum((F.col("_bin") == b).cast("long")).alias(f"_c{b}")
        for b in range(bins)
    ] + [F.count(F.lit(1)).alias("_n")]
    agg = (
        stream.withColumn("_bin", bcol)
        .withWatermark("ts", watermark)
        .groupBy(F.window(F.col("ts"), window).alias("win"))
        .agg(*aggs)
    )
    psi = None
    for b in range(bins):
        p = (F.col(f"_c{b}") + 1).cast("double") / (F.col("_n") + bins)
        q = F.lit(float(baseline[b] + 1)) / F.lit(float(nb + bins))
        term = (p - q) * F.log(p / q)
        psi = term if psi is None else psi + term
    return agg.select(
        F.col("win.start").alias("window_start"),
        F.col("_n").cast("bigint").alias("n"),
        F.round(psi, 6).alias("psi"),
        (psi > 0.1).alias("drifted"),
    )


def _atomic_dir_swap(jvm, fs, path: str, tmp: str, bak: str) -> None:
    """Swap a fully-written sibling ``tmp`` directory in as ``path``:
    rename live -> bak, tmp -> live, drop bak (restoring bak on a failed
    swap), so a concurrent reader of a CDC snapshot always sees a
    complete directory."""
    live_p = jvm.org.apache.hadoop.fs.Path(path)
    tmp_p = jvm.org.apache.hadoop.fs.Path(tmp)
    bak_p = jvm.org.apache.hadoop.fs.Path(bak)
    if fs.exists(bak_p):
        fs.delete(bak_p, True)
    if fs.exists(live_p) and not fs.rename(live_p, bak_p):
        raise IOError(f"cdc_upsert: could not move {path} aside")
    if not fs.rename(tmp_p, live_p):
        if fs.exists(bak_p):
            fs.rename(bak_p, live_p)
        raise IOError(f"cdc_upsert: could not swap in {path}")
    fs.delete(bak_p, True)


def cdc_upsert_stream(
    changes: DataFrame,
    snapshot_path: str,
    checkpoint: str,
    key_cols: list[str],
    order_cols: list[str],
):
    """Streaming MERGE INTO: a CDC change feed (upserts + deletes)
    continuously maintained as a keyed snapshot collection — the
    always-on form of the reference's idempotent re-ingest
    (utils_spi.py:205-358; batch twin: operators.temporal.apply_changes,
    the `merge_upsert` catalog query).

    Each micro-batch applies onto the CURRENT stored snapshot via
    apply_changes, rewrites to a sibling tmp dir, and atomically swaps
    it in (rename old -> .bak, tmp -> path, drop .bak —
    ``_atomic_dir_swap``), so a concurrent reader always sees a
    complete snapshot. Exactly-once comes from the checkpoint: a
    replayed batch re-applies the same changes, and MERGE is idempotent
    for identical input. Scale: the swap rewrites the snapshot per
    batch — right for dimension/state tables (the reference's shape);
    a fact-scale CDC target would partition the snapshot and rewrite
    only touched partitions.
    """
    from pygeoapi_ingestor_spark.operators.temporal import apply_changes

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        jvm = spark._jvm
        hadoop_path = jvm.org.apache.hadoop.fs.Path(snapshot_path)
        fs = hadoop_path.getFileSystem(spark._jsc.hadoopConfiguration())
        if fs.exists(hadoop_path):
            base = spark.read.parquet(snapshot_path).drop("src")
        else:
            base = batch_df.drop("op").filter(F.lit(False))
        merged = apply_changes(
            base, batch_df, key_cols, order_cols
        ).drop("src")
        tmp = snapshot_path.rstrip("/") + "._merge_tmp"
        bak = snapshot_path.rstrip("/") + "._merge_bak"
        merged.write.mode("overwrite").parquet(tmp)
        _atomic_dir_swap(jvm, fs, snapshot_path, tmp, bak)

    q = (
        changes.writeStream.foreachBatch(write_batch)
        .outputMode("update")
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def trending_topk_stream(
    events: DataFrame,
):
    """Continuous trending-items feed: per event-time window counts of
    event types — the "what is spiking right now" panel over the live
    intake (the streaming twin of docs_top_per_source's bucketed
    per-group top-k).

    Structured Streaming cannot rank inside an aggregation, so the
    6-hour windowed counts (1-hour watermark) stream in UPDATE mode and
    the top-3 rank applies per-sink-batch via ``rank_topk_batch`` in foreachBatch —
    counts stay incremental state, the rank only ever touches one
    batch's updated windows. Returns the counts DataFrame ready for
    ``rank_topk_batch``-driven sinks.
    """
    return (
        events.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "6 hours").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n",
        )
    )


def rank_topk_batch(batch_df: DataFrame) -> DataFrame:
    """The per-batch ranking half of trending_topk_stream: top-3 types
    per window with deterministic ties (count desc, type asc)."""
    from pyspark.sql import Window

    w = Window.partitionBy("window_start").orderBy(
        F.col("n").desc(), F.col("event_type").asc()
    )
    return (
        batch_df.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
    )


def danger_levels_stream(
    events: DataFrame,
) -> DataFrame:
    """The danger-level feed as a CONTINUOUS query — the streaming twin
    of plans.danger_levels_weekly (reference:
    ll_nl_danger_levels.py:68-121 republishes the categorized weekly
    deficit on a schedule; here the windowed max maintains itself
    incrementally as observations land).

    Event-time 7-day tumbling window + max aggregate (incremental state,
    late data bounded by a 1-day watermark); the categorize() color ladder is a
    pure projection applied on the aggregate output, so batch and
    stream share the exact classification expression
    (spatial.band_classify)."""
    from pygeoapi_ingestor_spark.operators import spatial
    from pygeoapi_ingestor_spark.plans.queries_etl import (
        DANGER_COLORS,
        ISO_LEVELS,
    )

    agg = (
        events.withWatermark("ts", "1 day")
        .groupBy(F.window("ts", "7 days").alias("w"), "event_type")
        .agg(F.max("value").alias("window_max"))
    )
    band = spatial.band_classify(F.col("window_max"), ISO_LEVELS)
    color_arr = F.array(*[F.lit(c) for c in DANGER_COLORS])
    return agg.select(
        F.col("w.start").alias("window_start"),
        F.col("w.end").alias("window_end"),
        "event_type",
        "window_max",
        F.element_at(color_arr, band + F.lit(1)).alias("color"),
    )


def danger_levels_result_json(
    weekly: DataFrame,
    week_source_col: str = "window_end",
    color_col: str = "color",
    value_col: str = "window_max",
) -> dict:
    """The reference process's ``result_json`` payload
    (ll_nl_danger_levels.py:139-151): ``{iso_week_number: color}``,
    built in week order so a re-published week overwrites its earlier
    color exactly like the reference's ``dict(zip(week_numbers,
    categories))``. The companion ``series`` rows carry the full
    week/month/value/color tuple the process derives before collapsing
    to the dict (rijnland_precipitation_deficit returns week numbers,
    month numbers and weekly values; execute then categorizes).

    ``week_source_col`` is the window's EXCLUSIVE end (the streaming
    feed's ``window_end``), a timestamp that is never inside the
    window: labels derive from the LAST INCLUDED DAY (end − 1 day), so
    a July window [Jul 25, Aug 1) publishes July's week/month — the
    reference labels by the data's own Sundays, which are in-window
    (ll_nl_danger_levels.py:86-92).

    Driver-side over the BOUNDED weekly rows (weeks/year per region —
    never data-scaled), the same O(weeks) shape as the reference's
    numpy arrays.
    """
    last_day = F.date_sub(F.col(week_source_col).cast("date"), 1)
    rows = (
        weekly.select(
            F.weekofyear(last_day).cast("int").alias("week"),
            F.month(last_day).cast("int").alias("month"),
            F.col(value_col).alias("value"),
            F.col(color_col).alias("color"),
            F.col(week_source_col).alias("_ord"),
        )
        .orderBy("_ord")
        .collect()
    )
    return {
        "weeks": {int(r["week"]): r["color"] for r in rows},
        "series": [
            {
                "week": int(r["week"]),
                "month": int(r["month"]),
                # an all-null window (upstream filter dropped every
                # reading) yields a NULL window_max — publish it as
                # null rather than raising TypeError mid-payload
                "value": (
                    None if r["value"] is None else float(r["value"])
                ),
                "color": r["color"],
            }
            for r in rows
        ],
    }
