"""Stream checkpoints on a local master: ``get_spark`` pins Spark's
FileSystem-based checkpoint manager, which renames each checkpoint file
with one rename(2) where the default FileContext manager forked a
``readlink`` per rename.

- A ``jdk.jfr.Recording`` of ``jdk.ProcessStart`` events, started in the
  driver JVM through py4j, sees no ``readlink`` during a two-batch tick.
- A ``windowed_agg`` stream stopped after its first batch and resumed
  from the same checkpoint publishes what one uninterrupted run does,
  so offsets, commits and state-store files written through this
  manager restore.
"""

from __future__ import annotations

import os
import shutil

import pyarrow.parquet as pq

from pygeoapi_ingestor_spark.sinks.collections import CollectionCatalog
from pygeoapi_ingestor_spark.streaming import pipeline


def _stage(sf_dir: str, dst: str) -> list[str]:
    """The events in time order as two parquet files (two micro-batches
    at one file per trigger); returns their paths."""
    os.makedirs(dst)
    ev = pq.read_table(f"{sf_dir}/events.parquet").sort_by("ts")
    half = ev.num_rows // 2
    paths = []
    for i, (a, n) in enumerate(((0, half), (half, ev.num_rows - half))):
        paths.append(os.path.join(dst, f"part-{i:03d}.parquet"))
        pq.write_table(ev.slice(a, n), paths[-1])
    return paths


def _tick(spark, src: str, out: str, ck: str, catalog):
    stream = pipeline.read_event_stream(spark, src, fmt="parquet",
                                        max_files_per_trigger=1)
    agg = pipeline.windowed_agg(stream, window_duration="1 hour")
    return pipeline.run_to_collection(agg, "event_windows", out, ck, catalog,
                                      ts_col="window_start")


def _published(spark, out: str) -> list[tuple]:
    return sorted(
        tuple(r) for r in spark.read.parquet(out).drop("_batch").collect()
    )


def test_stream_tick_forks_no_readlink(spark, sf_dir, tmp_path):
    src = str(tmp_path / "src")
    _stage(sf_dir, src)
    catalog = CollectionCatalog(str(tmp_path / "catalog.json"))
    jvm = spark._jvm
    rec = jvm.jdk.jfr.Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try:
        q = _tick(spark, src, str(tmp_path / "out"), str(tmp_path / "ck"), catalog)
    finally:
        rec.stop()
    dump = jvm.java.io.File(str(tmp_path / "tick.jfr")).toPath()
    rec.dump(dump)
    rec.close()
    events = jvm.jdk.jfr.consumer.RecordingFile.readAllEvents(dump)
    commands = [events.get(i).getString("command") for i in range(events.size())]
    assert sum(1 for p in q.recentProgress if p["numInputRows"] > 0) == 2
    assert [c for c in commands if "readlink" in c] == [], commands


def test_windowed_stream_resumes_from_its_checkpoint(spark, sf_dir, tmp_path):
    catalog = CollectionCatalog(str(tmp_path / "catalog.json"))
    whole = str(tmp_path / "whole")
    _stage(sf_dir, whole)
    _tick(spark, whole, str(tmp_path / "out_whole"), str(tmp_path / "ck_whole"), catalog)
    want = _published(spark, str(tmp_path / "out_whole"))

    # stop after the first batch: only the first file is there
    staged = _stage(sf_dir, str(tmp_path / "parts"))
    src = str(tmp_path / "src")
    os.makedirs(src)
    shutil.copy(staged[0], src)
    out, ck = str(tmp_path / "out"), str(tmp_path / "ck")
    q = _tick(spark, src, out, ck, catalog)
    assert [p["batchId"] for p in q.recentProgress if p["numInputRows"] > 0] == [0]
    first = _published(spark, out)
    assert first and len(first) < len(want)

    # resume from the same checkpoint once the second file lands
    shutil.copy(staged[1], src)
    q = _tick(spark, src, out, ck, catalog)
    assert all(p["batchId"] > 0 for p in q.recentProgress)
    assert _published(spark, out) == want
