"""Properties of the curation catalog keys (plans/queries_curation.py):
CMS never undercounts, pooled silhouette is in [0,1] because Lloyd
assignment is argmin, segment/bigram arithmetic agrees with the house
tokenizer, and DSIR weights are bounded by the bucket-model extremes."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from pygeoapi_ingestor_spark.operators import text
from pygeoapi_ingestor_spark.plans.queries_curation import (
    SEG_WORDS,
    q_cms_heavy_hitters,
    q_dsir_importance_weights,
    q_kmeans_silhouette,
    q_segment_dedup,
)


def _word_counts(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return {
        r["doc_id"]: r["nw"]
        for r in docs.select(
            "doc_id", F.size(text.norm_words("text")).alias("nw")
        ).collect()
    }


def test_segment_dedup_counts_and_ratio(spark, sf_dir):
    nw = _word_counts(spark, sf_dir)
    rows = q_segment_dedup(spark, sf_dir).collect()
    assert rows
    seen = set()
    for r in rows:
        seen.add(r["doc_id"])
        assert r["n_segments"] == nw[r["doc_id"]] // SEG_WORDS
        assert 0 <= r["n_shared_segments"] <= r["n_segments"]
        assert math.isclose(
            r["shared_ratio"],
            round(r["n_shared_segments"] / r["n_segments"], 6),
            abs_tol=1e-12,
        )
    # every doc with >= SEG_WORDS words has a row
    assert seen == {d for d, n in nw.items() if n >= SEG_WORDS}


def test_segment_dedup_exact_duplicates_fully_shared(spark, sf_dir):
    """Docs whose whole text appears in another doc (exact dups) must
    have every segment shared."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    dup_ids = [
        r["doc_id"]
        for r in docs.groupBy("text")
        .agg(F.collect_list("doc_id").alias("ids"))
        .filter(F.size("ids") >= 2)
        .select(F.explode("ids").alias("doc_id"))
        .collect()
    ]
    if not dup_ids:
        return
    ratios = {
        r["doc_id"]: r["shared_ratio"]
        for r in q_segment_dedup(spark, sf_dir).collect()
    }
    for d in dup_ids:
        if d in ratios:
            assert ratios[d] == 1.0


def test_dsir_weights_bounded_and_counts(spark, sf_dir):
    nw = _word_counts(spark, sf_dir)
    out = q_dsir_importance_weights(spark, sf_dir).collect()
    assert out
    for r in out:
        assert r["n_bigrams"] == max(nw[r["doc_id"]] - 1, 0)
    # a per-doc average of bucket log-ratios is bounded by the extreme
    # bucket values; with add-one smoothing |llr| <= ln((T+B)*(max_rc+1))
    # — use a loose structural bound instead of re-deriving the model
    assert all(abs(r["avg_llr"]) < 50 for r in out)


def test_cms_never_undercounts(spark, sf_dir):
    rows = q_cms_heavy_hitters(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r["cms_est"] >= r["exact_cnt"]  # CMS one-sided guarantee
        assert r["overcount"] == r["cms_est"] - r["exact_cnt"]
        assert r["exact_cnt"] > 0


def test_ivf_probe_sweep_monotone(spark, sf_dir):
    """More probes can only add candidate lists, so pooled recall is
    nondecreasing in n_probe — the tuning curve's defining property."""
    from pygeoapi_ingestor_spark.plans.queries_curation import (
        q_ivf_probe_sweep,
    )

    rows = sorted(
        q_ivf_probe_sweep(spark, sf_dir).collect(), key=lambda r: r["n_probe"]
    )
    assert [r["n_probe"] for r in rows] == [1, 2, 4]
    hits = [r["sum_hits"] for r in rows]
    assert hits == sorted(hits)
    for r in rows:
        assert 0.0 <= r["pooled_recall"] <= 1.0


def test_cluster_source_mix_shares(spark, sf_dir):
    from pygeoapi_ingestor_spark.plans.queries_curation import (
        q_cluster_source_mix,
    )

    rows = q_cluster_source_mix(spark, sf_dir).collect()
    assert rows
    emb_n = spark.read.parquet(f"{sf_dir}/embeddings.parquet").count()
    assert sum(r["n"] for r in rows) == emb_n
    for r in rows:
        assert 0.0 < r["top_share"] <= 1.0
        # a cluster can't have a dominant share below the uniform share
        # (round-6 output can sit up to 5e-7 under the true ratio)
        assert r["top_share"] >= 1.0 / r["n_sources"] - 1e-6
        # entropy of n_sources categories is bounded by ln(n_sources)
        assert -1e-9 <= r["source_entropy"] <= math.log(r["n_sources"]) + 1e-6


def test_quality_dup_interaction_partition(spark, sf_dir):
    from pygeoapi_ingestor_spark.plans.queries_curation import (
        q_quality_dup_interaction,
    )

    rows = sorted(
        q_quality_dup_interaction(spark, sf_dir).collect(),
        key=lambda r: r["decile"],
    )
    assert [r["decile"] for r in rows] == list(range(1, 11))
    n_docs = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    assert sum(r["n_docs"] for r in rows) == n_docs
    # decile ranges tile the score axis in order
    for a, b in zip(rows, rows[1:]):
        assert a["q_hi"] <= b["q_lo"] + 1e-9
    for r in rows:
        assert 0 <= r["n_dup_members"] <= r["n_docs"]
        assert 0.0 <= r["dup_rate"] <= 1.0


def test_quality_dup_interaction_persist_released_by_finalize(spark, sf_dir):
    """The key persists its (doc_id, quality_score) projection and leaves
    the release to its caller: after collect, finalize_job must free
    every RDD the key persisted."""
    from pygeoapi_ingestor_spark.plans.queries_curation import (
        q_quality_dup_interaction,
    )
    from pygeoapi_ingestor_spark.streaming.scheduler import finalize_job

    def persisted():
        return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())

    finalize_job(spark)  # an earlier run of the key may hold the cache
    before = persisted()
    q_quality_dup_interaction(spark, sf_dir).collect()
    ours = persisted() - before
    assert ours, "the key no longer persists its projection"
    finalize_job(spark)
    assert not ours & persisted()


def test_cluster_balanced_sample_cap_and_determinism(spark, sf_dir):
    from pygeoapi_ingestor_spark.plans.queries_curation import (
        BALANCED_CAP,
        q_cluster_balanced_sample,
    )

    rows = q_cluster_balanced_sample(spark, sf_dir).collect()
    assert rows
    per = {}
    for r in rows:
        per.setdefault(r["cluster"], []).append(r["rank"])
        assert 1 <= r["rank"] <= BALANCED_CAP
    for cluster, ranked in per.items():
        assert sorted(ranked) == list(range(1, len(ranked) + 1))
    # deterministic: a second run returns the identical sample
    again = q_cluster_balanced_sample(spark, sf_dir).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))


def test_bloom_no_false_negatives(spark, sf_dir):
    from pygeoapi_ingestor_spark.plans.queries_curation import q_bloom_fp_eval

    row = q_bloom_fp_eval(spark, sf_dir).collect()[0]
    # the Bloom one-sided guarantee: every exact duplicate is flagged
    assert row["n_missed"] == 0
    assert row["n_bloom_pos"] >= row["n_exact_dup"]
    assert row["n_false_pos"] == row["n_bloom_pos"] - row["n_exact_dup"]
    assert 0.0 <= row["fp_rate"] <= 1.0
    assert 0.0 < row["load_factor"] <= 1.0


def test_hll_union_bounds(spark, sf_dir):
    from pygeoapi_ingestor_spark.plans.queries_curation import (
        HLL_M,
        q_hll_union_eval,
    )

    rows = {r["event_type"]: r for r in q_hll_union_eval(spark, sf_dir).collect()}
    assert "ALL" in rows
    per_type = [r for k, r in rows.items() if k != "ALL"]
    assert per_type
    for r in rows.values():
        assert 1 <= r["n_present"] <= HLL_M
        assert r["hll_estimate"] > 0
        assert r["exact_distinct"] > 0
    # the merged sketch estimates the union: at least the largest
    # single-type estimate (register-wise max can only raise registers)
    assert rows["ALL"]["hll_estimate"] >= max(
        r["hll_estimate"] for r in per_type
    ) - 1e-6
    # standard error of HLL at m=64 is ~13%; 5 sigma is a generous wall
    for r in rows.values():
        assert r["rel_err"] < 0.65


def test_silhouette_pooled_in_unit_interval(spark, sf_dir):
    rows = q_kmeans_silhouette(spark, sf_dir).collect()
    assert rows
    n_total = sum(r["n"] for r in rows)
    emb_n = spark.read.parquet(f"{sf_dir}/embeddings.parquet").count()
    assert n_total == emb_n
    for r in rows:
        # argmin assignment -> own-centroid distance <= any other, so
        # the pooled gap is nonnegative and the ratio sits in [0, 1]
        assert r["sum_gap"] >= 0
        assert r["sum_max"] >= r["sum_gap"]
        assert 0.0 <= r["pooled_silhouette"] <= 1.0
