"""Structured Streaming pipeline tests: file source -> windowed agg ->
sink, compared against the equivalent batch result.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from pygeoapi_ingestor_spark.sources.readers import read_events
from pygeoapi_ingestor_spark.streaming import pipeline


def _stage_events_json(spark, sf_dir, out_dir):
    ev = read_events(spark, sf_dir)
    ev.coalesce(2).write.mode("overwrite").json(out_dir)
    return ev


def test_windowed_agg_matches_batch(spark, sf_dir, tmp_path):
    src = str(tmp_path / "stream_src")
    out = str(tmp_path / "stream_out")
    ckpt = str(tmp_path / "ckpt1")
    ev = _stage_events_json(spark, sf_dir, src)

    stream = pipeline.read_event_stream(spark, src, fmt="json")
    result = pipeline.windowed_agg(stream, window_duration="1 hour")
    pipeline.run_to_sink(result, out, ckpt)

    got = spark.read.parquet(out)
    batch = (
        ev.groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("win.start").alias("window_start"), "event_type", "n_events")
    )
    got_n = {
        (r["window_start"], r["event_type"]): r["n_events"] for r in got.collect()
    }
    batch_n = {
        (r["window_start"], r["event_type"]): r["n_events"] for r in batch.collect()
    }
    # append mode emits only windows the watermark has closed: the last
    # window(s) within the 2h watermark of max event time are withheld
    max_ts = ev.agg(F.max("ts")).collect()[0][0]
    import datetime

    closed = {
        k: v
        for k, v in batch_n.items()
        if k[0] + datetime.timedelta(hours=3) <= max_ts - datetime.timedelta(hours=2)
    }
    assert len(got_n) > 0
    assert all(got_n.get(k) == v for k, v in closed.items())
    assert all(batch_n.get(k) == v for k, v in got_n.items())


def test_correlate_streams_matches_batch(spark, sf_dir, tmp_path):
    src = str(tmp_path / "corr_src")
    out = str(tmp_path / "corr_out")
    ckpt = str(tmp_path / "ckpt_corr")
    ev = _stage_events_json(spark, sf_dir, src)

    stream = pipeline.read_event_stream(spark, src, fmt="json")
    purchases = stream.filter(F.col("event_type") == "purchase")
    clicks = stream.filter(F.col("event_type") == "click")
    result = pipeline.correlate_streams(
        purchases, clicks
    )
    pipeline.run_to_sink(result, out, ckpt)

    got = spark.read.parquet(out)
    bp = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_id"), F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"), F.col("value").alias("p_value"),
    )
    bc = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts"),
        F.col("value").alias("c_value"),
    )
    batch = bp.join(
        bc,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("c_ts") <= F.col("p_ts"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 1 hour")),
    ).select("p_id", "c_ts")

    # the json staging file carries millisecond precision, the batch
    # parquet microseconds — truncate both for comparison
    def _ms(t):
        return t.replace(microsecond=t.microsecond // 1000 * 1000)

    got_pairs = {(r["p_id"], _ms(r["c_ts"])) for r in got.collect()}
    batch_pairs = {(r["p_id"], _ms(r["c_ts"])) for r in batch.collect()}
    # append-mode inner interval join emits a pair once both watermarks
    # pass; everything emitted must be a true batch pair, and the bulk
    # of closable pairs must have been emitted
    assert got_pairs <= batch_pairs
    assert len(got_pairs) > 0
    assert len(got_pairs) >= int(0.5 * len(batch_pairs))


def test_drift_monitor_stream_matches_batch(spark, sf_dir, tmp_path):
    """Streaming PSI per closed window equals the identical batch
    computation (append mode withholds windows inside the watermark)."""
    src = str(tmp_path / "drift_src")
    out = str(tmp_path / "drift_out")
    ckpt = str(tmp_path / "drift_ckpt")
    ev = _stage_events_json(spark, sf_dir, src)

    baseline = pipeline.psi_baseline(ev)
    stream = pipeline.read_event_stream(spark, src, fmt="json")
    result = pipeline.drift_monitor_stream(
        stream, baseline, window="6 hours", watermark="1 hour"
    )
    pipeline.run_to_sink(result, out, ckpt)
    got = {
        r["window_start"]: (r["n"], r["psi"], r["drifted"])
        for r in spark.read.parquet(out).collect()
    }
    assert got, "no closed windows emitted"

    # batch twin: same bins, same smoothing, same windowing
    bins, nb = len(baseline), sum(baseline.values())
    bcol = F.least(F.lit(bins - 1), F.greatest(F.lit(0), F.floor(F.col("value") / 50.0))).cast("int")
    agg = (
        ev.withColumn("_bin", bcol)
        .groupBy(F.window("ts", "6 hours").alias("win"))
        .agg(*( [F.sum((F.col("_bin") == b).cast("long")).alias(f"_c{b}") for b in range(bins)]
               + [F.count(F.lit(1)).alias("_n")] ))
    )
    psi = None
    for b in range(bins):
        p = (F.col(f"_c{b}") + 1).cast("double") / (F.col("_n") + bins)
        q = F.lit(float(baseline[b] + 1)) / F.lit(float(nb + bins))
        term = (p - q) * F.log(p / q)
        psi = term if psi is None else psi + term
    batch = {
        r["ws"]: (r["n"], r["psi"])
        for r in agg.select(
            F.col("win.start").alias("ws"),
            F.col("_n").cast("bigint").alias("n"),
            F.round(psi, 6).alias("psi"),
        ).collect()
    }
    for ws, (n, p, drifted) in got.items():
        bn, bp = batch[ws]
        assert n == bn, ws
        assert p == bp, ws
        assert drifted == (p > 0.1) or abs(p - 0.1) < 1e-9


def test_cdc_upsert_stream_matches_sequential_batch_merge(spark, sf_dir, tmp_path):
    """Three change batches streamed with maxFilesPerTrigger=1 must leave
    the same snapshot as folding apply_changes over them in order."""
    from pygeoapi_ingestor_spark.operators.temporal import apply_changes

    ev = read_events(spark, sf_dir).limit(600)
    # change feed: latest event per (user, type) in each third, delete
    # when value < 25 (the merge_upsert convention)
    # each KEY's changes live in exactly one file (part = user_id % 3),
    # so the fold result is independent of the order the stream lists
    # the files in (mod-time vs name order — the first version of this
    # test raced on that)
    changes = ev.select(
        "user_id", "event_type", "ts", "event_id", "value",
        F.when(F.col("value") < 25.0, "D").otherwise("U").alias("op"),
        (F.col("user_id") % 3).alias("part"),
    )
    src = str(tmp_path / "cdc_src")
    for i in range(3):
        changes.filter(F.col("part") == i).drop("part").coalesce(1).write.mode(
            "append"
        ).json(src)
    snapshot = str(tmp_path / "cdc_snapshot")
    stream = (
        spark.readStream.schema(changes.drop("part").schema)
        .option("maxFilesPerTrigger", 1)
        .json(src)
    )
    pipeline.cdc_upsert_stream(
        stream,
        snapshot_path=snapshot,
        checkpoint=str(tmp_path / "cdc_ckpt"),
        key_cols=["user_id", "event_type"],
        order_cols=["ts", "event_id"],
    )
    got = {
        (r["user_id"], r["event_type"]): (r["event_id"], round(r["value"], 4))
        for r in spark.read.parquet(snapshot).collect()
    }
    # sequential-batch expectation: fold in file order. The stream's
    # batches partition the feed by file, so replay each file as one
    # apply_changes pass; json roundtrip keeps ts ordering (isoformat).
    expected_base = changes.drop("part").drop("op").filter(F.lit(False))
    files = sorted(
        f for f in os.listdir(src) if f.endswith(".json")
    )
    base = expected_base
    for f in files:
        batch = spark.read.schema(changes.drop("part").schema).json(
            os.path.join(src, f)
        )
        base = apply_changes(
            base, batch, ["user_id", "event_type"], ["ts", "event_id"]
        ).drop("src")
    exp = {
        (r["user_id"], r["event_type"]): (r["event_id"], round(r["value"], 4))
        for r in base.collect()
    }
    assert got == exp
    assert got  # non-trivial snapshot


def test_cdc_upsert_stream_is_idempotent_on_restart(spark, sf_dir, tmp_path):
    """Re-running the stream over the same source with the same
    checkpoint must not change the snapshot (no new batches)."""
    ev = read_events(spark, sf_dir).limit(100)
    changes = ev.select(
        "user_id", "event_type", "ts", "event_id", "value",
        F.lit("U").alias("op"),
    )
    src = str(tmp_path / "cdc2_src")
    changes.coalesce(1).write.mode("overwrite").json(src)
    snapshot = str(tmp_path / "cdc2_snapshot")
    ckpt = str(tmp_path / "cdc2_ckpt")

    def run():
        stream = spark.readStream.schema(changes.schema).json(src)
        pipeline.cdc_upsert_stream(
            stream, snapshot_path=snapshot, checkpoint=ckpt,
            key_cols=["user_id", "event_type"], order_cols=["ts", "event_id"],
        )

    run()
    first = sorted(
        (r["user_id"], r["event_type"], r["event_id"])
        for r in spark.read.parquet(snapshot).collect()
    )
    run()  # same checkpoint: zero new batches
    second = sorted(
        (r["user_id"], r["event_type"], r["event_id"])
        for r in spark.read.parquet(snapshot).collect()
    )
    assert first == second


def test_trending_topk_stream_matches_batch(spark, sf_dir, tmp_path):
    src = str(tmp_path / "trend_src")
    ev = _stage_events_json(spark, sf_dir, src)
    stream = pipeline.read_event_stream(spark, src, fmt="json")
    counts = pipeline.trending_topk_stream(stream)
    got_batches = []

    def sink(batch_df, batch_id):
        got_batches.append(pipeline.rank_topk_batch(batch_df).collect())

    q = (
        counts.writeStream.foreachBatch(sink)
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "trend_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # final state: take the LAST ranking per window across batches
    final = {}
    for batch in got_batches:
        per_window = {}
        for r in batch:
            per_window.setdefault(r["window_start"], []).append(r)
        final.update(per_window)
    # batch twin
    exp_counts = (
        ev.groupBy(F.window("ts", "6 hours").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n")
    )
    exp = {}
    for r in pipeline.rank_topk_batch(
        exp_counts.withColumn("window_end", F.col("window_start"))
    ).collect():
        exp.setdefault(r["window_start"], []).append(r)
    assert set(final) == set(exp)
    for wstart, rows in exp.items():
        got_rows = sorted(
            ((r["event_type"], r["n"], r["rank"]) for r in final[wstart])
        )
        exp_rows = sorted(((r["event_type"], r["n"], r["rank"]) for r in rows))
        assert got_rows == exp_rows, wstart


def test_danger_levels_stream_matches_batch(spark, sf_dir, tmp_path):
    """The streaming danger feed must classify exactly like the batch
    band_classify ladder on the same windowed max."""
    src = str(tmp_path / "danger_src")
    ev = _stage_events_json(spark, sf_dir, src)
    stream = pipeline.read_event_stream(spark, src, fmt="json")
    feed = pipeline.danger_levels_stream(stream)
    pipeline.run_to_memory(feed, "danger_feed", mode="complete")
    got = {
        (str(r["window_start"]), r["event_type"]): (r["window_max"], r["color"])
        for r in spark.sql("SELECT * FROM danger_feed").collect()
    }
    assert got

    from pygeoapi_ingestor_spark.operators import spatial
    from pygeoapi_ingestor_spark.plans.queries_etl import DANGER_COLORS, ISO_LEVELS

    batch = (
        ev.groupBy(F.window("ts", "7 days").alias("w"), "event_type")
        .agg(F.max("value").alias("window_max"))
        .select(
            F.col("w.start").alias("window_start"), "event_type", "window_max",
            F.element_at(
                F.array(*[F.lit(c) for c in DANGER_COLORS]),
                spatial.band_classify(F.col("window_max"), ISO_LEVELS) + F.lit(1),
            ).alias("color"),
        )
    )
    exp = {
        (str(r["window_start"]), r["event_type"]): (r["window_max"], r["color"])
        for r in batch.collect()
    }
    assert got == exp
    assert len({c for _, c in got.values()}) >= 2  # ladder actually used


def test_isoband_polygon_export_roundtrip(spark, sf_dir, tmp_path):
    """isoband_regions' bbox output must publish as valid RFC 7946
    Polygon features (closed ring, properties carried) and read back
    distributed."""
    import json as _json

    from pygeoapi_ingestor_spark.plans.queries_etl import q_isoband_regions
    from pygeoapi_ingestor_spark.sinks.collections import export_polygons_geojsonl

    regions = q_isoband_regions(spark, sf_dir)
    out = str(tmp_path / "isobands_geojsonl")
    export_polygons_geojsonl(
        regions, out, "bbox_w", "bbox_s", "bbox_e", "bbox_n",
        props_cols=["band", "region_id", "n_cells"],
    )
    lines = [
        _json.loads(r["value"])
        for r in spark.read.text(out).collect()
    ]
    assert len(lines) == regions.count() and lines
    for f in lines:
        assert f["type"] == "Feature"
        geom = f["geometry"]
        assert geom["type"] == "Polygon"
        ring = geom["coordinates"][0]
        assert len(ring) == 5 and ring[0] == ring[-1]
        (w, s), (e, n) = ring[0], ring[2]
        assert w <= e and s <= n
        assert set(f["properties"]) == {"band", "region_id", "n_cells"}
