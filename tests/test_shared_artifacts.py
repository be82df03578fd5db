"""Corpus artifacts (functions/storage.corpus_artifact, served by
queries_llm.shared_verified_pairs / shared_dup_components and friends):
same-corpus calls return the SAME materialized DataFrame (no re-verify),
results survive catalog.clearCache() (the between-keys clear), and
switching corpora evicts the superseded artifact instead of accumulating
blocks for the session lifetime."""

from __future__ import annotations

from pygeoapi_ingestor_spark.functions.storage import (
    logical_rdds,
    owned_rdd_ids,
    release_corpus_artifacts,
)
from pygeoapi_ingestor_spark.plans import queries_llm as qllm


def _persistent_ids(spark):
    return {int(k) for k in spark.sparkContext._jsc.getPersistentRDDs()}


def test_same_corpus_returns_same_artifact(spark, sf_dir):
    a = qllm.shared_verified_pairs(spark, sf_dir)
    b = qllm.shared_verified_pairs(spark, sf_dir)
    assert a is b, "second call must reuse the materialized artifact"
    ca = qllm.shared_dup_components(spark, sf_dir)
    cb = qllm.shared_dup_components(spark, sf_dir)
    assert ca is cb


def test_artifact_survives_clear_cache(spark, sf_dir):
    a = qllm.shared_verified_pairs(spark, sf_dir)
    n1 = a.count()
    spark.catalog.clearCache()
    b = qllm.shared_verified_pairs(spark, sf_dir)
    assert b is a
    assert b.count() == n1


def test_corpus_switch_evicts_superseded(spark, sf_dir, tmp_path):
    a = qllm.shared_verified_pairs(spark, sf_dir)
    n_a = a.count()  # captured BEFORE eviction: a freed localCheckpoint
    # has no lineage to recompute from, so `a` is unusable afterwards
    ids_a = {r.id() for r in logical_rdds(a)}
    assert ids_a and ids_a <= owned_rdd_ids(), "artifact must be registered"
    # derive a second corpus (a filtered copy) and switch to it
    alt = tmp_path / "alt_sf"
    alt.mkdir()
    spark.read.parquet(f"{sf_dir}/documents.parquet").filter(
        "doc_id < 200"
    ).write.parquet(str(alt / "documents.parquet"))
    b = qllm.shared_verified_pairs(spark, str(alt))
    assert b is not a
    assert not (ids_a & (owned_rdd_ids() | _persistent_ids(spark))), (
        "switching corpora must evict the superseded artifact"
    )
    # switching back rebuilds (values equal, object fresh)
    c = qllm.shared_verified_pairs(spark, sf_dir)
    assert c is not a
    assert c.count() == n_a


def test_components_match_direct_operator(spark, sf_dir):
    """The cached fixpoint equals a from-scratch connected_components run
    on the same pair set — the cache must be a pure memoization."""
    from pygeoapi_ingestor_spark.operators import dedup

    pairs = qllm.shared_verified_pairs(spark, sf_dir)
    cached = {
        (r["node"], r["comp"])
        for r in qllm.shared_dup_components(spark, sf_dir).collect()
    }
    direct = {
        (r["node"], r["comp"])
        for r in dedup.connected_components(
            pairs, a_col="doc_a", b_col="doc_b"
        ).collect()
    }
    assert cached == direct


def test_kmeans_cents_memoized_and_match_training(spark, sf_dir):
    """The train-once centroid artifact is a pure memoization of the
    deterministic kmeans_fit_int8 run, reused per (session, corpus) and
    dropped by release_corpus_artifacts."""
    from pygeoapi_ingestor_spark.operators import similarity
    from pygeoapi_ingestor_spark.plans.queries_llm import KMEANS_PARAMS, _emb

    a = qllm.shared_kmeans_cents(spark, sf_dir)
    assert qllm.shared_kmeans_cents(spark, sf_dir) is a  # memo hit
    direct, _ = similarity.kmeans_fit_int8(
        _emb(spark, sf_dir), "vec_id", "embedding", **KMEANS_PARAMS
    )
    assert a == direct
    release_corpus_artifacts()
    b = qllm.shared_kmeans_cents(spark, sf_dir)
    assert b is not a and b == a  # rebuilt, identical values


def test_kmeans_assign_matches_fit_assignment(spark, sf_dir):
    """kmeans_assign_int8 on trained centroids is bit-equal to the
    training run's own final assignment (cluster AND sq_dist)."""
    from pygeoapi_ingestor_spark.operators import similarity
    from pygeoapi_ingestor_spark.plans.queries_llm import (
        KMEANS_PARAMS,
        _emb,
    )

    emb = _emb(spark, sf_dir)
    cents, assigned_fit = similarity.kmeans_fit_int8(
        emb, "vec_id", "embedding", **KMEANS_PARAMS
    )
    fit = {
        r["_id"]: (r["cluster"], r["sq_dist"]) for r in assigned_fit.collect()
    }
    ass = {
        r["_id"]: (r["cluster"], r["sq_dist"])
        for r in similarity.kmeans_assign_int8(
            emb, "vec_id", "embedding", cents
        ).collect()
    }
    assert fit == ass


def _storage_ids(spark):
    return {
        info.id()
        for info in spark.sparkContext._jsc.sc().getRDDStorageInfo()
    }


def test_free_local_ckpt_releases_projection_rooted_plan(spark, sf_dir):
    """The repo-wide release helper (functions/storage.free_local_ckpt
    — the single code path behind queries_llm and operators/dedup
    since r11) must free the checkpoint blocks even when the released
    frame is a PROJECTION over the checkpoint: the old root-only analyzed().rdd() pattern raised on
    a Project root inside a swallow-all and leaked silently (commit
    a62aa76's failure class)."""
    from pygeoapi_ingestor_spark.functions.storage import free_local_ckpt

    base = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(50)
    ckpt = base.localCheckpoint(eager=True)
    assert _storage_ids(spark), "checkpoint must pin storage"
    projected = ckpt.select("doc_id").filter("doc_id >= 0")
    before = _storage_ids(spark)
    freed = free_local_ckpt(projected, blocking=True)
    assert freed, "leaf walk must find the LogicalRDD under the Project"
    assert not (set(freed) & _storage_ids(spark))
    assert before - _storage_ids(spark), "blocks must actually drop"


def test_free_local_ckpt_returns_ids_for_targeted_drain(spark, sf_dir):
    """release_corpus_artifacts returns the freed RDD ids so
    finalize_job drains exactly those (ADVICE r10: never require
    globally-empty storage)."""
    qllm.shared_verified_pairs(spark, sf_dir)
    ids = release_corpus_artifacts()
    assert ids, "release must report what it freed"
    assert not (set(ids) & _storage_ids(spark))


def test_finalize_job_does_not_stall_on_foreign_retained_storage(
    spark, sf_dir
):
    """A caller's own RDD-level persist on the shared session is not
    finalize_job's to free — finalize must release the job's artifacts
    and return promptly (no-progress bail), not burn the full 15s drain
    budget per tick (ADVICE r10). The first-tick timing is pinned by
    test_round12_hardening's foreign-storage test."""
    import time

    from pygeoapi_ingestor_spark.streaming.scheduler import finalize_job

    foreign = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .limit(10)
        .localCheckpoint(eager=True)
    )
    foreign_ids = {
        info.id()
        for info in spark.sparkContext._jsc.sc().getRDDStorageInfo()
    }
    assert foreign_ids
    qllm.shared_verified_pairs(spark, sf_dir)  # job-owned artifact
    t0 = time.monotonic()
    finalize_job(spark)
    elapsed = time.monotonic() - t0
    # job-owned artifacts gone, foreign persist untouched, bail < budget
    assert not owned_rdd_ids()
    assert foreign_ids & _storage_ids(spark), "foreign block must survive"
    assert elapsed < 12.0, f"finalize stalled {elapsed:.1f}s on foreign storage"
    assert foreign.count() == 10  # still usable
    # clean up for neighbouring tests
    from pygeoapi_ingestor_spark.functions.storage import free_local_ckpt

    free_local_ckpt(foreign, blocking=True)


def test_rocchio_cents_memoized_and_match_training(spark, sf_dir):
    """The train-once Rocchio centroid artifact (r11: centroid_classify
    was the one trained artifact still rebuilt per invocation) is a
    pure memoization of the deterministic rocchio_fit_int8 run, and the
    one-projection classify over it is bit-equal to fitting in place."""
    from pygeoapi_ingestor_spark.operators import similarity
    from pygeoapi_ingestor_spark.plans.queries_llm import _emb

    a = qllm.shared_rocchio_cents(spark, sf_dir)
    assert qllm.shared_rocchio_cents(spark, sf_dir) is a  # memo hit
    direct = similarity.rocchio_fit_int8(
        _emb(spark, sf_dir), "embedding", "label", dim=64
    )
    assert a == direct
    # classify-over-artifact == fit-in-place composition
    via_artifact = {
        r["vec_id"]: (r["predicted"], r["sq_dist"])
        for r in similarity.rocchio_classify_int8(
            _emb(spark, sf_dir), "vec_id", "embedding", "label", a
        ).collect()
    }
    in_place = {
        r["vec_id"]: (r["predicted"], r["sq_dist"])
        for r in similarity.nearest_centroid_classify(
            _emb(spark, sf_dir), "vec_id", "embedding", "label"
        ).collect()
    }
    assert via_artifact == in_place
    release_corpus_artifacts()
    b = qllm.shared_rocchio_cents(spark, sf_dir)
    assert b is not a and b == a  # rebuilt, identical values


def test_ann_gt_memoized_and_matches_direct(spark, sf_dir):
    """The eval-once ANN ground truth (r12) is a pure memoization of
    the brute-force cosine_topk run every acceptance key used to
    compute inline — same rows, same artifact object per corpus,
    survives clearCache, released by finalize."""
    from pygeoapi_ingestor_spark import session as sess
    from pygeoapi_ingestor_spark.operators import similarity
    from pygeoapi_ingestor_spark.plans.queries_llm import (
        TOPK,
        _ann_query_ids,
        _emb,
        shared_ann_gt,
    )

    a = shared_ann_gt(spark, sf_dir)
    assert shared_ann_gt(spark, sf_dir) is a
    spark.catalog.clearCache()
    assert shared_ann_gt(spark, sf_dir) is a  # survives the cache clear
    e = _emb(spark, sf_dir)
    qids = _ann_query_ids(spark, sf_dir)
    q = e.filter(e.vec_id.isin(qids))
    direct = similarity.cosine_topk(
        e, q, id_col="vec_id", vec_col="embedding",
        query_id_col="vec_id", query_vec_col="embedding", k=TOPK, dim=64,
    ).select("query_id", "neighbor_id")
    got = {tuple(r) for r in a.collect()}
    want = {tuple(r) for r in direct.collect()}
    assert got == want
    del sess  # imported for parity with other tests' style


def test_iso_labeled_memoized_and_released(spark, sf_dir):
    """The isoband labeled-raster artifact (r12): memoized per corpus,
    survives clearCache, and finalize_job frees its blocks so the next
    call rebuilds (values unchanged)."""
    from pygeoapi_ingestor_spark.plans.queries_etl import _iso_labeled
    from pygeoapi_ingestor_spark.streaming.scheduler import finalize_job

    a = _iso_labeled(spark, sf_dir)
    n = a.count()
    assert _iso_labeled(spark, sf_dir) is a
    spark.catalog.clearCache()
    assert _iso_labeled(spark, sf_dir) is a
    finalize_job(spark)
    b = _iso_labeled(spark, sf_dir)
    assert b is not a, "finalize_job must release the artifact"
    assert b.count() == n
