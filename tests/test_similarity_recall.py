"""Recall checks for the approximate similarity-search variants against
the exact brute-force baseline."""

from __future__ import annotations

from pyspark.sql import functions as F

from pygeoapi_ingestor_spark.operators import similarity


def _emb(spark, sf_dir):
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return e.withColumn("embedding", F.transform("embedding", lambda x: x.cast("double")))


def _topk_sets(df):
    out = {}
    for r in df.collect():
        out.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    return out


def test_ivf_recall_vs_bruteforce(spark, sf_dir):
    e = _emb(spark, sf_dir)
    q = e.filter(F.col("vec_id") < 5)
    exact = _topk_sets(
        similarity.cosine_topk(e, q, "vec_id", "embedding", "vec_id", "embedding", k=5)
    )
    # probing every list must reproduce the exact result
    full_probe = _topk_sets(
        similarity.ivf_topk(
            e, q, "vec_id", "embedding", "vec_id", "embedding",
            k=5, n_probe=16,
        )
    )
    assert full_probe == exact

    # partial probe: valid top-k subsets with reasonable recall
    approx = _topk_sets(
        similarity.ivf_topk(
            e, q, "vec_id", "embedding", "vec_id", "embedding",
            k=5, n_probe=8,
        )
    )
    hits = sum(len(approx.get(qid, set()) & exact[qid]) for qid in exact)
    total = sum(len(v) for v in exact.values())
    assert hits / total >= 0.4


def test_bucketed_cosine_dedup_recall(spark, sf_dir):
    """The banded near-dup plan must capture nearly all exact qualifying
    pairs even at the loose 0.4 threshold (worst case for LSH: per-plane
    agreement ~0.63), and every emitted pair must be exact-correct."""
    from pygeoapi_ingestor_spark.operators import dedup

    e = _emb(spark, sf_dir)
    exact = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.embedding_cosine_pairs(
            e, "vec_id", "embedding", threshold=0.4
        ).collect()
    }
    bucketed = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.embedding_cosine_pairs_bucketed(
            e, "vec_id", "embedding", threshold=0.4,
            dim=64, n_planes=16, bands=8,
        ).collect()
    }
    assert bucketed <= exact  # precision 1: the cosine gate is exact
    assert len(bucketed) / len(exact) >= 0.9  # banding recall floor


def test_ivf_deterministic(spark, sf_dir):
    e = _emb(spark, sf_dir)
    q = e.filter(F.col("vec_id") < 3)
    a = similarity.ivf_topk(
        e, q, "vec_id", "embedding", "vec_id", "embedding", k=3
    ).collect()
    b = similarity.ivf_topk(
        e, q, "vec_id", "embedding", "vec_id", "embedding", k=3
    ).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_kmeans_int8_deterministic_and_monotone(spark, sf_dir):
    """Training must be bit-reproducible across runs and partitionings,
    and Lloyd inertia must be non-increasing in the iteration count."""
    from pygeoapi_ingestor_spark.operators import similarity

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    runs = []
    for reparts in (None, 7):
        e = emb.repartition(reparts) if reparts else emb
        cents, assigned = similarity.kmeans_fit_int8(
            e, "vec_id", "embedding", k=4, iters=2
        )
        inertia = assigned.groupBy().sum("sq_dist").collect()[0][0]
        runs.append((cents, inertia))
    assert runs[0] == runs[1]

    prev = None
    for iters in (1, 2, 3):
        _, assigned = similarity.kmeans_fit_int8(
            emb, "vec_id", "embedding", k=4, iters=iters
        )
        v = assigned.groupBy().sum("sq_dist").collect()[0][0]
        if prev is not None:
            assert v <= prev, (iters, v, prev)
        prev = v


def test_trained_ivf_probe_semantics(spark, sf_dir):
    """Trained IVF probes 3 lists per query: over 3 lists (every list
    probed) it must reproduce the exact top-k — the approximation comes
    ONLY from unprobed lists — and over 8 lists recall keeps a sane
    floor."""
    e = _emb(spark, sf_dir)
    q = e.filter(F.col("vec_id") < 5)
    exact = _topk_sets(
        similarity.cosine_topk(e, q, "vec_id", "embedding", "vec_id", "embedding", k=5)
    )

    def recall(approx):
        hits = sum(len(approx.get(k, set()) & exact[k]) for k in exact)
        return hits / sum(len(v) for v in exact.values())

    sets = {
        n_clusters: _topk_sets(
            similarity.ivf_topk_trained(
                e, q, "vec_id", "embedding", "vec_id", "embedding",
                k=5, n_clusters=n_clusters, iters=3,
            )
        )
        for n_clusters in (3, 8)
    }
    assert sets[3] == exact
    assert recall(sets[8]) >= 0.4


def test_ivf_knn_outliers_full_probe_equals_exact(spark, sf_dir):
    """Probing every inverted list makes the candidate set all-pairs, so
    the IVF outlier screen must reproduce the exact pass bit-for-bit
    (same scalar-ascending dot/norm arithmetic, same rank-ordered mean)."""
    from pygeoapi_ingestor_spark.plans.queries_llm import (
        KNN_OUT_K,
        KNN_OUT_TOP,
        q_embedding_knn_outliers,
    )

    exact = [
        (r["vec_id"], r["knn_dist"])
        for r in q_embedding_knn_outliers(spark, sf_dir).collect()
    ]
    full = similarity.ivf_knn_outliers(
        _emb(spark, sf_dir), "vec_id", "embedding", dim=64,
        k=KNN_OUT_K, n_clusters=8, n_probe=8, top_n=KNN_OUT_TOP,
    )
    got = [(r["vec_id"], round(r["knn_dist"], 6)) for r in full.collect()]
    assert got == exact


def test_ivf_knn_outliers_recovers_planted_outliers(spark):
    """On data WITH cluster structure (the regime the screen is built
    for), a partial probe must surface every planted off-manifold
    vector in the top ranks — members sit next to their cluster twins
    (tiny kNN distance), planted outliers are far from everything."""
    dim, n_clusters, per_cluster, n_out = 16, 8, 30, 5
    rows = []
    vid = 0
    # first 8 ids are one member per cluster -> they become the IVF
    # centroids (lowest-id build), giving one inverted list per cluster
    for m in range(per_cluster):
        for c in range(n_clusters):
            vec = [0.0] * dim
            vec[2 * c] = 1.0
            vec[2 * c + 1] = 0.01 * ((m * 7 + c) % 5)  # deterministic jitter
            rows.append((vid, vec))
            vid += 1
    # planted outliers: unique anti-cluster directions
    for j in range(n_out):
        vec = [-1.0 if (i + j) % 2 else 1.0 for i in range(dim)]
        vec[j] = -3.0
        rows.append((vid, vec))
        vid += 1
    df = spark.createDataFrame(rows, "vec_id int, embedding array<double>")
    out = similarity.ivf_knn_outliers(
        df, "vec_id", "embedding", dim=dim,
        k=5, n_clusters=n_clusters, n_probe=2, top_n=n_out,
    )
    got = {r["vec_id"] for r in out.collect()}
    planted = {per_cluster * n_clusters + j for j in range(n_out)}
    assert got == planted


def test_zero_norm_vectors_yield_null_cosine_not_ansi_crash(spark):
    """A zero embedding (empty document) must NOT abort the query under
    ANSI mode: its cosine is NULL, so it silently drops out of ranked
    results rather than raising DIVIDE_BY_ZERO."""
    rows = [(0, [0.0, 0.0, 0.0, 0.0]), (1, [1.0, 0.0, 0.0, 0.0]),
            (2, [0.9, 0.1, 0.0, 0.0]), (3, [0.0, 1.0, 0.0, 0.0])]
    e = spark.createDataFrame(rows, "vec_id int, embedding array<double>")
    q = e.filter(F.col("vec_id").isin(1, 0))
    out = similarity.cosine_topk(
        e, q, "vec_id", "embedding", "vec_id", "embedding", k=3
    ).collect()
    # query 1 ranks its non-degenerate neighbors; the zero vector never
    # appears on either side of a ranked pair
    got = {(r["query_id"], r["neighbor_id"]) for r in out}
    assert (1, 2) in got and all(0 not in pair for pair in got)

    from pygeoapi_ingestor_spark.operators import dedup

    pairs = dedup.embedding_cosine_pairs(
        e, "vec_id", "embedding", threshold=0.5
    ).collect()
    ids = {(r["doc_a"], r["doc_b"]) for r in pairs}
    assert (1, 2) in ids and all(0 not in p for p in ids)

    # the trained-IVF kernel shares the same zero-norm invariant: a
    # degenerate corpus vector lands in SOME inverted list but must
    # score NULL (dropped), never raise DIVIDE_BY_ZERO under ANSI. The
    # kernel takes 64-dim vectors: zero-pad (cosine is unchanged)
    pad = F.concat("embedding", F.array_repeat(F.lit(0.0), 60))
    e64, q64 = (d.withColumn("embedding", pad) for d in (e, q))
    ivf = similarity.ivf_topk_trained(
        e64, q64, "vec_id", "embedding", "vec_id", "embedding",
        k=3, n_clusters=2, iters=1,
    ).collect()
    got_ivf = {(r["query_id"], r["neighbor_id"]) for r in ivf}
    assert all(0 not in pair for pair in got_ivf)
    assert all(r["cosine"] is not None for r in ivf)
