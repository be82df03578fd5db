"""Round-12 hardening contracts.

1. The prepared-plan registry's runtime guard (functions/storage):
   plans over checkpoints the artifact registry does not own are
   REJECTED at registration (a memoized plan over a localCheckpoint
   dangles once those blocks are freed — the ADVICE r11 failure mode),
   while driver-local createDataFrame LogicalRDD leaves (trained
   literals, interpolation tables) stay eligible.
2. finalize_job clears the prepared registry (structural no-dangling
   instead of allowlist-by-comment) and never waits on storage a
   caller still holds.
3. Corpus-switch eviction clears the session cache so a superseded
   build's INTERNAL persists (rfm's per-customer table) don't outlive
   the plan object.
4. The session factory pins a 32 MiB JVM thread stack: Catalyst
   canonicalization recursion over the catalog's left-associated
   64-term Add chains crashed an identical-code bench run in the r11
   driver window at the default ~1 MiB.
"""

from __future__ import annotations

import pytest

from pygeoapi_ingestor_spark.functions import storage


def test_guard_rejects_checkpoint_backed_plan(spark, sf_dir):
    storage.release_corpus_artifacts()
    with pytest.raises(ValueError, match="checkpoint-backed"):
        storage.prepared_plan(
            "bad_ckpt", spark, sf_dir,
            lambda: spark.range(5).localCheckpoint(),
        )
    assert not storage._PLANS, "rejected plan must not be registered"


def test_guard_allows_driver_local_logicalrdd(spark, sf_dir):
    """createDataFrame-from-driver-rows plans carry LogicalRDD leaves
    whose data is serialized closure state, not releasable storage —
    they must stay eligible. The package builds its literal tables as
    LocalRelations (``sources.readers.local_table``), so such a leaf
    comes from a plan the caller brings."""
    storage.release_corpus_artifacts()
    rows_df = spark.createDataFrame(
        spark.sparkContext.parallelize([(1, "a"), (2, "b")]), "k int, v string"
    )
    got = storage.prepared_plan("ok_local", spark, sf_dir, lambda: rows_df)
    assert got.count() == 2
    storage.release_corpus_artifacts()


def test_isoband_prepared_plan_dropped_by_release(spark, sf_dir):
    """isoband_regions embeds the checkpoint-backed CCL raster. Its
    prepared plan is admitted only because the artifact registry owns
    that checkpoint, and a release must drop the plan with the blocks
    so the next call rebuilds over a fresh artifact."""
    from pygeoapi_ingestor_spark.functions.storage import (
        release_corpus_artifacts,
    )
    from pygeoapi_ingestor_spark.plans import QUERIES

    key = ("isoband_regions", spark.sparkContext.applicationId, sf_dir)
    want = sorted(QUERIES["isoband_regions"](spark, sf_dir).collect())
    assert key in storage._PLANS
    release_corpus_artifacts()
    assert key not in storage._PLANS, "a release must drop the plan"
    assert sorted(QUERIES["isoband_regions"](spark, sf_dir).collect()) == want
    release_corpus_artifacts()


def test_finalize_clears_prepared_registry(spark, sf_dir):
    from pygeoapi_ingestor_spark.streaming.scheduler import finalize_job

    storage.release_corpus_artifacts()
    storage.prepared_plan(
        "tiny", spark, sf_dir,
        lambda: spark.read.parquet(f"{sf_dir}/region.parquet"),
    )
    assert storage._PLANS
    finalize_job(spark)
    assert not storage._PLANS, "finalize_job must drop prepared plans"


def test_corpus_switch_eviction_clears_cache(spark, sf_dir, tmp_path):
    """Superseded-corpus eviction must drop the old build's internal
    persists (CacheManager entries), not just the driver-side plan
    object (ADVICE r11)."""
    storage.release_corpus_artifacts()
    jsc = spark.sparkContext._jsc.sc()
    before_ids = {i.id() for i in jsc.getRDDStorageInfo()}

    def build_with_internal_persist():
        df = spark.read.parquet(f"{sf_dir}/region.parquet").persist()
        df.count()  # materialize the internal persist
        return df

    storage.prepared_plan(
        "evict_me", spark, str(tmp_path / "corpusA"),
        build_with_internal_persist,
    )
    new_ids = {i.id() for i in jsc.getRDDStorageInfo()} - before_ids
    assert new_ids, "internal persist must be cached"
    # corpus switch for the same name -> eviction path -> clearCache
    # (other suites' verify-once CHECKPOINT artifacts survive by design
    # — assert on the build's own cache entries, not global emptiness)
    storage.prepared_plan(
        "evict_me", spark, str(tmp_path / "corpusB"),
        lambda: spark.read.parquet(f"{sf_dir}/region.parquet"),
    )
    after_ids = {i.id() for i in jsc.getRDDStorageInfo()}
    assert not (new_ids & after_ids), (
        "eviction must clear the superseded build's cached blocks"
    )
    storage.release_corpus_artifacts()


def test_finalize_skips_previously_diagnosed_foreign_storage(spark, sf_dir):
    """A checkpoint the caller still holds stays persistent, so
    finalize_job skips it by construction: even the FIRST tick after
    the caller retains it returns promptly (the old no-progress
    heuristic paid ~3 s on that tick, ADVICE r11), and the checkpoint
    stays usable."""
    import time

    from pygeoapi_ingestor_spark.functions.storage import free_local_ckpt
    from pygeoapi_ingestor_spark.streaming import scheduler

    foreign = (
        spark.read.parquet(f"{sf_dir}/region.parquet")
        .localCheckpoint(eager=True)
    )
    n = foreign.count()
    t0 = time.monotonic()
    scheduler.finalize_job(spark)
    elapsed = time.monotonic() - t0
    assert elapsed < 2.5, f"first finalize waited on caller storage: {elapsed:.1f}s"
    assert n > 0 and foreign.count() == n  # still usable
    free_local_ckpt(foreign, blocking=True)


def test_session_pins_thread_stack(spark):
    assert "-Xss32m" in spark.conf.get("spark.driver.extraJavaOptions", "")
