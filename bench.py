#!/usr/bin/env python3
"""Catalog benchmark on the corpus at $SPARK_GRAFT_SF_DIR (default: the
sf0.1 test corpus), on local[$SPARK_GRAFT_CPUS].

    python3 bench.py                             # full catalog
    python3 bench.py KEY [KEY ...] [--reps N]    # spot mode, N defaults to 3

The full run times every catalog key, writes BENCH_FULL.json and prints
ONE JSON line with per-query wall times. Each query is fully
materialized via count() on the final result (no driver-side collect of
large outputs).

Spot mode measures the named keys only (see ``spot``) and prints one
JSON line; it writes no file.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from perfbench.tracing import Tracer  # noqa: E402
from pygeoapi_ingestor_spark.functions.storage import finalize_job  # noqa: E402
from pygeoapi_ingestor_spark.plans import ORACLES, QUERIES  # noqa: E402
from pygeoapi_ingestor_spark.session import TABLES, get_spark  # noqa: E402

# every catalog query participates; order: cheap scans first
BENCH_KEYS = sorted(QUERIES)

# Pinned headline set (r5 verdict item 7): the catalog's expensive tail
# (round-5's five slowest) plus one representative per family, tracked
# round-over-round in the summary line so a regression in the tail
# cannot hide behind the growing catalog mean. Keep this list STABLE —
# it is the ratchet; add, don't rotate.
HEADLINE_KEYS = [
    # round-5 top-5 cold cost
    "embedding_knn_outliers", "dedup_simhash", "mad_outliers",
    "dedup_components", "rfm_segments",
    # one per family: temporal resample, geo zonal, TPC-H, windowed
    # sessions, LSH dedup, ANN search, text stats, behavior cohorts
    "resample_daily_sum", "zonal_stats_polygon", "q1_pricing_summary",
    "sessionize_gap", "dedup_minhash_lsh", "sim_search_ivf",
    "tfidf_top_terms", "retention_cohorts",
    # round-6 additions with real plan weight
    "isoband_regions", "knn_outliers_ivf", "knn_outliers_recall",
    # round-7 additions: the gamma quantile-map (heaviest Python-kernel
    # path) and the budgeted-selection window pass
    "bias_correction_parametric_gamma", "token_budget_select",
    # round-9 addition (r8 verdict item 3): the cold-regression watch
    # item — its double-cold min makes the +/-1.5s JIT noise band an
    # artifact-grade series instead of a prose caveat
    "dedup_embedding_cosine",
    # round-10 addition: the verify-once artifact BUILD carrier — in
    # sorted catalog order cluster_keep_best is the first graph
    # consumer, so its cold cell carries the LSH->verify+fixpoint cost
    # the other graph keys ride; the ratchet must watch the build
    "cluster_keep_best",
    # round-10 session-2 additions: the CCNet segment census (explode +
    # two combinable groupBys — the new dedup family's linear-scan
    # representative) and the DSIR broadcast-model scorer
    "segment_dedup", "dsir_importance_weights",
    # round-11 addition: the end-to-end curation arc (quality gate ->
    # keep-best dedup -> temperature budgets -> selection -> packing
    # as ONE lineage) — the flagship composed pipeline belongs on the
    # ratchet, not just in the catalog
    "curation_pipeline_e2e",
]


def _batch_stats(q) -> dict:
    """Per-batch latency profile from a finished streaming query's
    progress events: n_batches and the trigger-execution latencies of
    the non-empty batches (what a capacity plan needs — empty keep-alive
    ticks would dilute the number)."""
    lat = [
        p["durationMs"]["triggerExecution"] / 1000.0
        for p in q.recentProgress
        if p.get("numInputRows", 0) > 0
    ]
    return {
        "n_batches": len(lat),
        "batch_latency_sec": {
            "min": round(min(lat), 3),
            "max": round(max(lat), 3),
            "avg": round(sum(lat) / len(lat), 3),
        }
        if lat
        else None,
    }


def bench_streaming(spark, sf_dir: str) -> dict:
    """Micro-bench of the three production streams (r7 verdict item 4):
    rows/sec and per-batch latency at the bench SF, availableNow over a
    staged file source split so each stream executes several real
    micro-batches. Catches foreachBatch regressions the batch catalog
    can't see (snapshot-swap cost in cdc_upsert_stream, dynamic
    partition-overwrite cost in run_to_collection, stateful windowed
    aggregation in danger_levels_stream)."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from pygeoapi_ingestor_spark.sinks import CollectionCatalog
    from pygeoapi_ingestor_spark.sources.readers import read_events
    from pygeoapi_ingestor_spark.streaming import pipeline as spipe

    work = tempfile.mkdtemp(prefix="bench_stream_")
    out: dict[str, dict] = {}
    try:
        ev = read_events(spark, sf_dir)
        n_events = ev.count()
        src = f"{work}/events_src"
        # 8 staged files + maxFilesPerTrigger=2 -> 4 real micro-batches
        ev.repartition(8).write.mode("overwrite").parquet(src)

        stream = spipe.read_event_stream(
            spark, src, fmt="parquet", max_files_per_trigger=2
        )
        agg = spipe.windowed_agg(stream, window_duration="1 hour")
        cat = CollectionCatalog(f"{work}/cat.json")
        t0 = time.perf_counter()
        q = spipe.run_to_collection(
            agg, "bench_coll", f"{work}/coll", f"{work}/ck_coll", cat,
            ts_col="window_start",
        )
        wall = round(time.perf_counter() - t0, 3)
        out["run_to_collection"] = {
            "wall_sec": wall,
            "rows_in": n_events,
            "rows_per_sec": round(n_events / wall),
            **_batch_stats(q),
        }

        # CDC feed: every event is an upsert keyed by (user_id,
        # event_type), 5% deletes — the dimension/state-table shape
        # cdc_upsert_stream documents; 4 micro-batches, each applying
        # onto and atomically swapping the stored snapshot.
        changes = ev.select(
            "user_id", "event_type", "ts", "value",
            F.when(F.col("event_id") % 20 == 0, F.lit("D"))
            .otherwise(F.lit("U"))
            .alias("op"),
        )
        cdc_src = f"{work}/cdc_src"
        changes.repartition(4).write.mode("overwrite").parquet(cdc_src)
        cdc_stream = (
            spark.readStream.schema(changes.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(cdc_src)
        )
        t0 = time.perf_counter()
        q = spipe.cdc_upsert_stream(
            cdc_stream, f"{work}/cdc_snapshot", f"{work}/ck_cdc",
            key_cols=["user_id", "event_type"], order_cols=["ts"],
        )
        wall = round(time.perf_counter() - t0, 3)
        out["cdc_upsert_stream"] = {
            "wall_sec": wall,
            "rows_in": n_events,
            "rows_per_sec": round(n_events / wall),
            **_batch_stats(q),
        }

        stream = spipe.read_event_stream(
            spark, src, fmt="parquet", max_files_per_trigger=2
        )
        feed = spipe.danger_levels_stream(stream)
        t0 = time.perf_counter()
        q = spipe.run_to_memory(feed, "bench_danger", mode="complete")
        wall = round(time.perf_counter() - t0, 3)
        out["danger_levels_stream"] = {
            "wall_sec": wall,
            "rows_in": n_events,
            "rows_per_sec": round(n_events / wall),
            **_batch_stats(q),
        }

        # --- r8 verdict item 8: the remaining production streams ---

        # continuous PSI drift vs a static baseline (append mode; state
        # per window = bins counters)
        baseline = spipe.psi_baseline(ev)
        stream = spipe.read_event_stream(
            spark, src, fmt="parquet", max_files_per_trigger=2
        )
        drift = spipe.drift_monitor_stream(
            stream, baseline, window="6 hours", watermark="1 hour"
        )
        t0 = time.perf_counter()
        q = spipe.run_to_sink(drift, f"{work}/drift_out", f"{work}/ck_drift")
        wall = round(time.perf_counter() - t0, 3)
        out["drift_monitor_stream"] = {
            "wall_sec": wall,
            "rows_in": n_events,
            "rows_per_sec": round(n_events / wall),
            **_batch_stats(q),
        }

        # trending top-k: UPDATE-mode windowed counts, rank applied
        # per sink batch via foreachBatch (counts stay incremental
        # state; the rank only touches each batch's updated windows)
        stream = spipe.read_event_stream(
            spark, src, fmt="parquet", max_files_per_trigger=2
        )
        counts = spipe.trending_topk_stream(stream)

        def _rank_sink(batch_df, batch_id):
            spipe.rank_topk_batch(batch_df).count()

        t0 = time.perf_counter()
        q = (
            counts.writeStream.foreachBatch(_rank_sink)
            .outputMode("update")
            .option("checkpointLocation", f"{work}/ck_trend")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        wall = round(time.perf_counter() - t0, 3)
        out["trending_topk_stream"] = {
            "wall_sec": wall,
            "rows_in": n_events,
            "rows_per_sec": round(n_events / wall),
            **_batch_stats(q),
        }

        # stream-stream interval join (purchases x same-user clicks in
        # the preceding hour); both sides watermarked so join state GCs.
        # State-partition sizing (r9 verdict item 6, see
        # correlate_streams docstring): the join runs FOUR state stores
        # per shuffle partition, so the analytic session width (32) put
        # a dominating per-batch store-commit term on every trigger —
        # measured 4.2k rows/s at 32 partitions vs 16.3k at 8 on this
        # exact feed. Size the query's state partitions to its state
        # volume; the conf is restored for the later sections.
        _prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", "8")
        try:
            stream = spipe.read_event_stream(
                spark, src, fmt="parquet", max_files_per_trigger=2
            )
            corr = spipe.correlate_streams(
                stream.filter(F.col("event_type") == "purchase"),
                stream.filter(F.col("event_type") == "click"),
            )
            t0 = time.perf_counter()
            q = spipe.run_to_sink(corr, f"{work}/corr_out", f"{work}/ck_corr")
            wall = round(time.perf_counter() - t0, 3)
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", _prev_parts)
        out["correlate_streams"] = {
            "wall_sec": wall,
            "rows_in": n_events,
            "rows_per_sec": round(n_events / wall),
            "state_partitions": 8,
            **_batch_stats(q),
        }

        # sustained-rate variant: 32 staged files / 2 per trigger -> 16
        # micro-batches of the full store+register arc, so the rows/sec
        # reflects steady state rather than 4 warm batches. The
        # processing rate divides by the sum of per-batch trigger
        # latencies (what a capacity plan uses); the wall rate keeps
        # scheduler idle time in.
        #
        # State-partition sizing (r11 diagnosis of the 5.3k-vs-15.8k
        # sustained/burst gap): per-batch latency across the 16-batch
        # series is FLAT (~1.35s at 32 partitions — no file-listing or
        # checkpoint growth); the gap is the fixed per-TRIGGER cost
        # (state-store commit x N stores + batch write) amortized over
        # 4x more, 4x smaller batches. windowed_agg's state is
        # watermark-bounded (~open-windows x event_types keys — a few
        # thousand), so store count should track STATE VOLUME, not
        # session cores: 4 partitions carries ~1k keys/store and cut
        # the per-batch fixed term 1.35s -> 0.53s (same sizing rule as
        # correlate_streams' 8, which owns 4 stores per partition).
        sus_src = f"{work}/events_sus"
        ev.repartition(32).write.mode("overwrite").parquet(sus_src)
        _prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", "4")
        try:
            stream = spipe.read_event_stream(
                spark, sus_src, fmt="parquet", max_files_per_trigger=2
            )
            agg = spipe.windowed_agg(stream, window_duration="1 hour")
            cat2 = CollectionCatalog(f"{work}/cat_sus.json")
            t0 = time.perf_counter()
            q = spipe.run_to_collection(
                agg, "bench_coll_sus", f"{work}/coll_sus", f"{work}/ck_sus",
                cat2, ts_col="window_start",
            )
            wall = round(time.perf_counter() - t0, 3)
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", _prev_parts)
        stats = _batch_stats(q)
        proc = sum(
            p["durationMs"]["triggerExecution"] / 1000.0
            for p in q.recentProgress
            if p.get("numInputRows", 0) > 0
        )
        out["run_to_collection_sustained"] = {
            "wall_sec": wall,
            "rows_in": n_events,
            "rows_per_sec_wall": round(n_events / wall),
            "rows_per_sec_processing": round(n_events / proc) if proc else None,
            "state_partitions": 4,
            **stats,
        }
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            spark.catalog.dropTempView("bench_danger")
        except Exception:
            pass
    return out


def _warm_up(spark, sf_dir: str) -> None:
    """Untimed session warm-up shared by the full and spot modes."""
    # warm the JVM + parquet footers with a trivial action
    spark.read.parquet(f"{sf_dir}/region.parquet").count()
    # ALSO boot the Python/Arrow worker pool and the shuffle/codegen
    # paths before any timed cell: the stamp-rotated catalog order can
    # put a pandas-UDF key in the first positions, where its cold cell
    # otherwise absorbs the one-time worker fork + Arrow init + C2 JIT
    # ramp (measured: bigram_lm_score 28.9s at position 18 vs 1.2s
    # steady — pure startup, not plan cost). Untimed, tiny inputs.
    try:
        import pandas as _pd

        def _boot(it):
            for b in it:
                yield b

        spark.range(256).repartition(8).mapInPandas(
            _boot, "id long"
        ).count()
        w = spark.range(1024).selectExpr("id", "id % 7 AS k")
        w.groupBy("k").count().join(w, "k").count()
        # Whole-stage-codegen (janino) compile warmup for the catalog's
        # widest generated methods: the simhash family builds a 64-bit
        # sign chain (64 shiftleft/when terms plus packed lane sums)
        # whose FIRST compile in a fresh session measured ~15-25s cold
        # in the r12 driver artifact (simhash_accuracy_eval 19.8s cold
        # vs 2.7s warm) — a size-independent JIT tax, not plan cost.
        # Running the same plan shapes against the tiny sf0.001 tables
        # compiles identical generated sources (codegen is keyed on the
        # operator tree + schema, not the file paths), so the timed
        # cells at the bench SF start from a hot code cache. Direct q_*
        # calls, NOT the catalog wrappers: the prepared-plan registry
        # must not see a foreign corpus before the timed pass.
        from pygeoapi_ingestor_spark.plans.queries_llm import (
            q_dedup_simhash,
            q_simhash_accuracy_eval,
        )

        _tiny = "/root/testdata/sf0.001"
        if os.path.isdir(_tiny) and os.path.abspath(_tiny) != os.path.abspath(sf_dir):
            q_dedup_simhash(spark, _tiny).count()
            q_simhash_accuracy_eval(spark, _tiny).count()
    except Exception:
        pass  # warmup is best-effort; timing proceeds regardless


def _duckdb(sf_dir: str):
    """A DuckDB connection with one view per catalog table over the
    parquet files at ``sf_dir``."""
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * "
            f"FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


# Spot-mode layer fields, each summed over a cell's build and action
# jobs (perfbench.tracing.Tracer.group_stats)
SPOT_LAYERS = ("jobs", "stages", "task_cpu_s", "task_wall_s",
               "shuffle_bytes", "spill_bytes", "task_gc_ms")


@contextlib.contextmanager
def _py4j_calls(spark):
    """Count the py4j ``send_command`` calls made while the block runs,
    in a one-element list (every thread's calls: spot mode runs one)."""
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    calls = [0]

    def counted(*args, **kwargs):
        calls[0] += 1
        return send(*args, **kwargs)

    client.send_command = counted
    try:
        yield calls
    finally:
        client.send_command = send


def _spot_cell(tracer: Tracer, group: str, key: str, sf_dir: str, action) -> dict:
    """Time the build of catalog query ``key`` and ``action`` on its
    DataFrame separately, the build's Spark jobs under job group
    ``<group>|build`` and the action's under ``group``, counting the
    build's py4j calls; read the cell's layers after both timers have
    stopped."""
    with tracer.harvesting():
        gc0, _ = tracer.driver_gc()
        jit = tracer.spark._jvm.java.lang.management.ManagementFactory \
            .getCompilationMXBean()
        jit0 = jit.getTotalCompilationTime()
    try:
        tracer.set_group(f"{group}|build")
        with _py4j_calls(tracer.spark) as calls:
            t0 = time.perf_counter()
            df = QUERIES[key](tracer.spark, sf_dir)
            t1 = time.perf_counter()
        tracer.set_group(group)
        t2 = time.perf_counter()
        action(df)
        t3 = time.perf_counter()
    finally:
        tracer.set_group(None)
    with tracer.harvesting():
        # the status store is fed asynchronously by the listener bus
        tracer.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        gc1, _ = tracer.driver_gc()
        jit1 = jit.getTotalCompilationTime()
        b = tracer.group_stats(f"{group}|build")
        a = tracer.group_stats(group)
    return {
        "wall_s": round(t1 - t0 + t3 - t2, 3),
        "build_s": round(t1 - t0, 3),
        "build_jobs": b["jobs"],
        "build_py4j": calls[0],
        **{f: round(b[f] + a[f], 3) for f in SPOT_LAYERS},
        "driver_gc_ms": gc1 - gc0,
        "jit_ms": jit1 - jit0,
    }


def spot(spark, sf_dir: str, keys: list[str], reps: int = 3) -> dict:
    """Measure ``keys`` in ``reps`` reps of three cells each:

    - cold: after ``finalize_job`` (cache cleared, corpus artifacts and
      prepared plans released), so the build is a prepared-plan
      registry miss and every artifact is rebuilt (read schemas are
      kept: they live as long as the corpus);
    - warm: the prepared-plan hit, artifacts held;
    - noop: the prepared plan fully evaluated through the noop sink.

    Keys with an oracle also get a DuckDB cold and warm time per rep on
    a fresh connection over the same files. Returns, per key and cell,
    the min and median wall time and every rep's record. Leaves no
    cache or artifact behind."""
    tracer = Tracer(spark, enabled=True)

    def count(df):
        df.count()

    def noop(df):
        df.write.format("noop").mode("overwrite").save()

    out: dict[str, dict] = {}
    t_all = time.perf_counter()
    for key in keys:
        cells: dict[str, list] = {"cold": [], "warm": [], "noop": []}
        for rep in range(reps):
            finalize_job(spark)
            for cell, action in (("cold", count), ("warm", count), ("noop", noop)):
                group = f"spot:{key}:{cell}:{rep}"
                cells[cell].append(_spot_cell(tracer, group, key, sf_dir, action))
            if key in ORACLES:
                with _duckdb(sf_dir) as con:
                    for cell in ("duckdb_cold", "duckdb_warm"):
                        t0 = time.perf_counter()
                        con.execute(ORACLES[key]).fetchall()
                        wall = round(time.perf_counter() - t0, 3)
                        cells.setdefault(cell, []).append({"wall_s": wall})
        out[key] = {}
        for cell, recs in cells.items():
            walls = [r["wall_s"] for r in recs]
            out[key][cell] = {
                "min": min(walls),
                "median": round(statistics.median(walls), 3),
                "all": recs,
            }
    finalize_job(spark)
    return {
        "reps": reps,
        "wall_s": round(time.perf_counter() - t_all, 3),
        "harvest_s": round(tracer.harvest_s, 3),
        "keys": out,
    }


def _parse_args(argv: list[str] | None) -> argparse.Namespace:
    """Parse the command line; unknown keys exit with status 2 before
    any Spark session starts."""
    p = argparse.ArgumentParser(prog="bench.py")
    p.add_argument("keys", nargs="*", metavar="KEY",
                   help="spot-measure these catalog keys (default: the full run)")
    p.add_argument("--reps", type=int, help="spot reps per key (default 3)")
    args = p.parse_args(argv)
    unknown = [k for k in args.keys if k not in QUERIES]
    if unknown:
        p.error(f"unknown keys: {' '.join(unknown)}")
    if args.reps is not None and not args.keys:
        p.error("--reps needs at least one KEY")
    if args.reps is not None and args.reps < 1:
        p.error("--reps must be at least 1")
    return args


def main(argv: list[str] | None = None) -> None:
    args = _parse_args(argv)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", "") or 0.1)
    # a full pass is ~1500 SQL executions in ONE JVM (local mode shares
    # driver+executor heap); 16g sat right at the OOM cliff in the r11
    # driver window. The bench box has 128 GiB — give the run headroom;
    # callers can still override via the env var.
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "48g")
    spark = get_spark(app_name="bench")
    spark.sparkContext.setLogLevel("ERROR")

    _warm_up(spark, sf_dir)
    if args.keys:
        res = spot(spark, sf_dir, args.keys, args.reps or 3)
        print(json.dumps({"mode": "spot", "sf": sf, **res}))
        spark.stop()
        return

    # DUAL SERIES per query (round-4 verdict item 7): cold = first run
    # after finalize_job (parquet scan + any index or corpus-artifact
    # build); warm = an immediate second run riding the blocks the cold
    # run persisted (index tables, rank intermediates, the prepared
    # plan) — the steady-state service number. Release only BETWEEN
    # keys, so each key's warm run sees exactly its own artifacts, never
    # an earlier query's. Release goes through finalize_job, never a
    # bare clearCache: that would strip a memoized plan's cached
    # relations and leave it running uncached. finalize_job also nudges
    # a driver GC, so the ContextCleaner frees broadcast/shuffle state
    # between keys.

    timings: dict[str, float] = {}
    warm_timings: dict[str, float] = {}
    warm2_timings: dict[str, float] = {}
    # One key's failure must never zero out the whole round artifact:
    # the r11 driver window lost its entire BENCH record (rc=1, no JSON
    # line) to a single intermittent Catalyst-canonicalization
    # StackOverflow. Every per-key action below is fenced; failures are
    # recorded under `errors` and the summary line still prints.
    errors: dict[str, str] = {}

    def _note_err(key: str, phase: str, exc: Exception) -> None:
        errors[f"{key}:{phase}"] = f"{type(exc).__name__}: {exc}"[:300]

    t_total0 = time.perf_counter()
    for key in BENCH_KEYS:
        try:
            t0 = time.perf_counter()
            QUERIES[key](spark, sf_dir).count()
            timings[key] = round(time.perf_counter() - t0, 3)
            t1 = time.perf_counter()
            QUERIES[key](spark, sf_dir).count()
            warm_timings[key] = round(time.perf_counter() - t1, 3)
            # second warm rep (r9 verdict item 7 — the double-run
            # discipline applied to the warm series): both reps ride the
            # same persisted artifacts, so their per-key spread IS the
            # warm-phase noise band, and `warm_stable` (the min) is the
            # series a round-over-round warm comparison should be
            # adjudicated against
            t2 = time.perf_counter()
            QUERIES[key](spark, sf_dir).count()
            warm2_timings[key] = round(time.perf_counter() - t2, 3)
        except Exception as exc:  # noqa: BLE001 — artifact survival
            _note_err(key, "cold_warm", exc)
        # drop per-query persisted index tables, corpus artifacts and
        # prepared plans so later queries aren't timed under the
        # accumulated memory pressure of earlier ones: every artifact
        # consumer's cold cell rebuilds its artifact
        finalize_job(spark)
    total = round(sum(timings.values()), 3)
    warm_total = round(sum(warm_timings.values()), 3)
    warm_stable = {
        k: min(warm_timings[k], warm2_timings[k])
        for k in warm_timings if k in warm2_timings
    }
    warm_stable_total = round(sum(warm_stable.values()), 3)
    warm2_total = round(sum(warm2_timings.values()), 3)
    cold_warm_wall = round(time.perf_counter() - t_total0, 3)

    # count() lets Catalyst prune computed columns (a projection-heavy
    # query times as a bare scan); the noop sink forces FULL evaluation
    # of every output column — the honest per-query cost. Both are
    # reported: `queries`/`value` keep the count-based series for
    # round-over-round comparability, `queries_noop`/`noop_total` carry
    # the full-evaluation numbers.
    noop_timings: dict[str, float] = {}
    t_n0 = time.perf_counter()
    for key in BENCH_KEYS:
        try:
            t0 = time.perf_counter()
            QUERIES[key](spark, sf_dir).write.format("noop").mode("overwrite").save()
            noop_timings[key] = round(time.perf_counter() - t0, 3)
        except Exception as exc:  # noqa: BLE001 — artifact survival
            _note_err(key, "noop", exc)
        finalize_job(spark)
    noop_total = round(time.perf_counter() - t_n0, 3)

    # DuckDB oracle wall-clock (r6 verdict item 6): run every oracle
    # SQL on the SAME parquet, same machine, so the summary can state a
    # spark/duckdb ratio instead of an un-anchored "no baseline". DuckDB
    # is multi-threaded over the same cores; this is the single-node
    # columnar-engine reference number for each SQL-expressible key.
    con = _duckdb(sf_dir)
    oracle_timings: dict[str, float] = {}
    # oracles that error at THIS SF are recorded, not swallowed, so the
    # published spark/duckdb ratio's coverage is auditable (an oracle
    # that fails only at bench SF would otherwise silently shrink the
    # shared-key set the ratio is computed over)
    oracle_errors: dict[str, str] = {}
    t_o0 = time.perf_counter()
    for key, sql in ORACLES.items():
        t0 = time.perf_counter()
        try:
            con.execute(sql).fetchall()
            oracle_timings[key] = round(time.perf_counter() - t0, 3)
        except Exception as exc:  # correctness is the driver gate's job
            oracle_errors[key] = f"{type(exc).__name__}: {exc}"[:200]
    oracle_total = round(time.perf_counter() - t_o0, 3)
    con.close()
    # ratio over the keys BOTH series cover (rows-only keys have no
    # oracle number); > 1.0 means Spark's fixed per-query overheads
    # dominate at this toy SF — the honest small-scale statement.
    # Compared against the NOOP series, not the count() series: DuckDB's
    # fetchall() evaluates every output column, and count() lets
    # Catalyst prune projections (see the noop comment above), so the
    # count-based ratio would systematically understate Spark's cost.
    _shared = [k for k in oracle_timings if k in noop_timings]
    vs_oracle = (
        round(
            sum(noop_timings[k] for k in _shared)
            / max(sum(oracle_timings[k] for k in _shared), 1e-9),
            3,
        )
        if _shared
        else None
    )

    # concurrent catalog throughput: submit all queries from a thread
    # pool (Spark schedules jobs from multiple threads concurrently) —
    # the multi-tenant number a shared cluster actually sees
    from concurrent.futures import ThreadPoolExecutor

    # the ~630 actions above leave un-collected broadcast/shuffle state
    # that can stall the pool by 50-80% (measured: 147s in-bench vs 70s
    # standalone for identical code); collect it so the concurrent
    # number measures the catalog, not the session's garbage. Two reps:
    # the second rides warmed code paths — the steady-state
    # multi-tenant number — and damps single-rep phase noise.
    finalize_job(spark)
    conc_reps = []
    for _ in range(2):
        t_c0 = time.perf_counter()
        with ThreadPoolExecutor(max_workers=8) as pool:
            def _safe_count(k: str) -> None:
                try:
                    QUERIES[k](spark, sf_dir).count()
                except Exception as exc:  # noqa: BLE001 — artifact survival
                    _note_err(k, "concurrent", exc)

            list(pool.map(_safe_count, BENCH_KEYS))
        conc_reps.append(round(time.perf_counter() - t_c0, 3))
        finalize_job(spark)
    concurrent_total = conc_reps[0]
    concurrent_warm = conc_reps[1]

    # streaming micro-bench (r7 verdict item 4): the D-block's three
    # production streams, measured per-round alongside the batch catalog.
    # The phase runs LAST, after ~730 batch actions — drop the session's
    # accumulated cache/broadcast garbage first (same treatment the
    # concurrent phase gets) so the stream rates measure the streams,
    # not the batch phase's leftover state (the r12 run-3 streaming dip
    # sat exactly here: sustained 6.9k vs 11.4-12.6k in the two runs
    # before it, identical code).
    finalize_job(spark)
    try:
        streaming = bench_streaming(spark, sf_dir)
    except Exception as exc:  # noqa: BLE001 — artifact survival
        streaming = {}
        _note_err("_streaming", "stream", exc)

    # headline ratchet: current cold numbers for the pinned set, plus
    # the delta against the previous BENCH_FULL.json (read before this
    # run overwrites it) so regressions in the expensive tail surface
    # directly in the summary artifact
    headline = {k: timings[k] for k in HEADLINE_KEYS if k in timings}

    # noise-band control (r7 verdict item 6): identical-code reruns have
    # moved single cold numbers by +/-1.5s (JIT/GC phase). For the
    # pinned headline set only, take ONE more cold pass and report the
    # per-key min of the two cold runs — the stable series deltas should
    # be adjudicated against, instead of hand-waving a manual caveat.
    headline_stable: dict[str, float] = {}
    # SELF-CONTAINED double-cold: the stable series takes the min of
    # TWO fresh runs measured here, each after finalize_job — which
    # releases the corpus artifacts (functions/storage localCheckpoints)
    # and drops every prepared plan, so each stable cell is genuinely
    # cold: a memoized plan would silently turn a key's "cold" cell into
    # an execute-only cell, breaking round-over-round comparability. The
    # warm series above keeps the prepared path — both shapes stay
    # visible in the artifact.
    finalize_job(spark)
    for key in HEADLINE_KEYS:
        if key not in timings:
            continue
        reps = []
        for _ in range(2):
            try:
                t0 = time.perf_counter()
                QUERIES[key](spark, sf_dir).count()
                reps.append(round(time.perf_counter() - t0, 3))
            except Exception as exc:  # noqa: BLE001 — artifact survival
                _note_err(key, "headline_stable", exc)
            finalize_job(spark)
        if reps:
            headline_stable[key] = min(reps)
    headline_prev: dict[str, float] = {}
    full_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_FULL.json"
    )
    try:
        with open(full_path) as f:
            headline_prev = {
                k: v for k, v in json.load(f).get("queries", {}).items()
                if k in headline
            }
    except Exception:
        pass
    headline_delta = {
        k: round(headline[k] - headline_prev[k], 3)
        for k in headline if k in headline_prev
    }

    full = {
        "metric": "catalog_total_wall",
        "value": total,
        "unit": "sec",
        "headline": headline,
        "headline_total": round(sum(headline.values()), 3),
        "headline_stable": headline_stable,
        "headline_stable_total": round(sum(headline_stable.values()), 3),
        "headline_delta_vs_prev": headline_delta,
        "queries": timings,
        "queries_warm": warm_timings,
        "warm_total": warm_total,
        "queries_warm2": warm2_timings,
        "warm2_total": warm2_total,
        "queries_warm_stable": warm_stable,
        "warm_stable_total": warm_stable_total,
        "cold_warm_wall": cold_warm_wall,
        "queries_noop": noop_timings,
        "noop_total": noop_total,
        "queries_oracle_sec": oracle_timings,
        "oracle_errors": oracle_errors,
        "oracle_total": oracle_total,
        "vs_oracle": vs_oracle,
        "concurrent_wall": concurrent_total,
        "concurrent_wall_warm": concurrent_warm,
        "streaming": streaming,
        "errors": errors,
        # every key's warm cell is execute-only (prepared plans,
        # functions/storage) — kept machine-readable so round-over-round
        # warm comparisons against older artifacts are self-describing
        "prepared_keys": sorted(QUERIES),
        "sf": sf,
    }
    with open(os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_FULL.json"), "w") as f:
        json.dump(full, f, indent=1, sort_keys=True)

    # The harness captures only the LAST 2000 chars of stdout; a 90-query
    # timing dict overflows that window and the line becomes unparseable.
    # Print a compact line that always fits: totals + as many per-query
    # timings as fit (slowest first — the informative tail), and point at
    # BENCH_FULL.json for the complete series.
    budget = 1900
    line_queries: dict[str, float] = {}
    base = {
        "metric": "catalog_total_wall",
        "value": total,
        "unit": "sec",
        "headline": headline,
        "headline_total": round(sum(headline.values()), 3),
        "headline_stable_total": round(sum(headline_stable.values()), 3),
        "queries": line_queries,
        "n_queries": len(timings),
        "warm_total": warm_total,
        "noop_total": noop_total,
        "oracle_total": oracle_total,
        "vs_oracle": vs_oracle,
        "concurrent_wall": concurrent_total,
        # the sustained row reports wall/processing rates under
        # different keys — take whichever throughput field is present
        "streaming_rows_per_sec": {
            k: v.get("rows_per_sec", v.get("rows_per_sec_wall"))
            for k, v in streaming.items()
        },
        "full": "BENCH_FULL.json",
        "n_errors": len(errors),
        "sf": sf,
    }
    for key in sorted(timings, key=timings.get, reverse=True):
        line_queries[key] = timings[key]
        if len(json.dumps(base, separators=(",", ":"))) > budget:
            del line_queries[key]
            break
    print(json.dumps(base, separators=(",", ":")))
    spark.stop()


if __name__ == "__main__":
    main()
