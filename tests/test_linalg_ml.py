"""Round-9 ML/statistics operators: the distributed power iteration is
pinned against numpy's dense eigendecomposition (direction alignment),
the exact logistic gradient against a hand-computed reference, and the
KS / Benford / Heaps / Zipf keys against small-data closed forms."""

from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from pygeoapi_ingestor_spark.operators import linalg, similarity

DIM = 8


@pytest.fixture(scope="module")
def vec_df(spark):
    """A corpus with a strongly dominant direction so power iteration
    converges fast and numpy's top eigenvector is unambiguous."""
    rng = np.random.RandomState(11)
    base = rng.randn(DIM)
    base /= np.linalg.norm(base)
    rows = []
    for i in range(400):
        coef = rng.randn() * 10.0
        noise = rng.randn(DIM) * 0.5
        v = coef * base + noise
        rows.append((i, [float(x) for x in v]))
    return spark.createDataFrame(rows, "vec_id bigint, embedding array<double>"), base


def test_power_iteration_matches_numpy_direction(vec_df):
    df, _ = vec_df
    q = similarity.quantize_int8(df, "embedding")
    v, num, den, n = linalg.power_iteration_int8(
        q.select("q_vec"), "q_vec", dim=DIM, iters=5
    )
    assert n == 400
    # numpy ground truth on the SAME quantized matrix
    qm = np.array(
        [r["q_vec"] for r in q.select("q_vec").collect()], dtype=np.float64
    )
    gram = qm.T @ qm
    evals, evecs = np.linalg.eigh(gram)
    top = evecs[:, -1]
    vv = np.array(v, dtype=np.float64)
    cos = abs(float(vv @ top) / (np.linalg.norm(vv) * np.linalg.norm(top)))
    assert cos > 0.999
    # Rayleigh quotient approaches the top eigenvalue
    assert num / den == pytest.approx(float(evals[-1]), rel=0.05)


def test_power_iteration_trunc_div_matches_duckdb():
    import duckdb

    con = duckdb.connect()
    for a in (-7, 7, -1, 1, -100001, 100001):
        got = con.execute(
            f"SELECT CAST({a} AS HUGEINT) // CAST(3 AS HUGEINT)"
        ).fetchone()[0]
        assert linalg._trunc_div(a, 3) == int(got)


def test_logistic_gradient_exact_hand_computed(spark):
    rows = [(1, 10, 2), (0, 4, 6), (1, 8, 0), (0, 2, 2)]
    df = spark.createDataFrame(rows, "y int, x1 long, x2 long")
    out = {
        r["feature"]: (r["g2"], r["n"])
        for r in linalg.logistic_gradient_exact(df, "y", ["x1", "x2"]).collect()
    }
    # (1-2y)*x summed: x1: -10+4-8+2 = -12 ; x2: -2+6+0+2 = 6
    assert out == {"x1": (-12, 4), "x2": (6, 4)}


def test_ks_drift_identical_distribution_is_zero(spark, tmp_path):
    """A synthetic events table where every day has the same values —
    the per-day ECDF equals the pooled ECDF, so KS must be exactly 0."""
    import pandas as pd

    days = pd.date_range("2024-01-01", periods=4)
    recs = []
    i = 0
    for d in days:
        for v in [1.0, 2.0, 3.0, 4.0, 5.0]:
            recs.append((i, d.to_pydatetime(), 1, "a", v, "{}"))
            i += 1
    sf = tmp_path / "sf"
    sf.mkdir()
    spark.createDataFrame(
        recs,
        "event_id bigint, ts timestamp, user_id bigint, event_type string,"
        " value double, props string",
    ).write.parquet(str(sf / "events.parquet"))
    from pygeoapi_ingestor_spark.plans.queries_ml import q_ks_drift_daily

    out = q_ks_drift_daily(spark, str(sf)).collect()
    assert len(out) == 4
    assert all(r["ks_stat"] == 0.0 and not r["drifted"] for r in out)


def test_benford_uniform_digits(spark, tmp_path):
    """Values 1.00..9.00 once each: every digit observed once, so
    obs_share = 1/9 and chi2 equals the closed-form sum."""
    recs = [
        (i, __import__("datetime").datetime(2024, 1, 1), 1, "t", float(d), "{}")
        for i, d in enumerate(range(1, 10))
    ]
    sf = tmp_path / "sf"
    sf.mkdir()
    spark.createDataFrame(
        recs,
        "event_id bigint, ts timestamp, user_id bigint, event_type string,"
        " value double, props string",
    ).write.parquet(str(sf / "events.parquet"))
    from pygeoapi_ingestor_spark.plans.queries_ml import q_benford_first_digit

    out = q_benford_first_digit(spark, str(sf)).collect()
    assert len(out) == 9
    chi2_expected = sum(
        round(
            (1 - 9 * math.log10(1 + 1 / d)) ** 2 / (9 * math.log10(1 + 1 / d)), 9
        )
        for d in range(1, 10)
    )
    for r in out:
        assert r["n_obs"] == 1
        assert r["obs_share"] == round(1 / 9, 6)
        assert r["chi2"] == pytest.approx(chi2_expected, abs=2e-6)


def test_heaps_and_zipf_on_testdata(spark, sf_dir):
    """Shape checks on the real documents table: Zipf slopes negative,
    Heaps exponents in (0, 1], checkpoint counts monotone."""
    from pygeoapi_ingestor_spark.plans.queries_ml import (
        q_token_zipf_fit,
        q_vocab_growth_heaps,
    )

    z = q_token_zipf_fit(spark, sf_dir).collect()
    assert z and all(r["zipf_slope"] < 0 for r in z)
    h = q_vocab_growth_heaps(spark, sf_dir).collect()
    # the synthetic corpus has a tiny closed vocabulary, so beta
    # saturates toward 0 — assert the physical range, not natural-text
    assert h and all(0 <= r["heaps_beta"] <= 1.0 for r in h)
    assert all(r["vocab_size"] <= r["total_tokens"] for r in h)


def test_source_overlap_estimator_error_bounded(spark, sf_dir):
    """MinHash union-signature estimate vs exact shingle Jaccard: with
    32 hashes the standard error is ~1/sqrt(32) ~ 0.18; assert all
    pairs within 3 sigma."""
    from pygeoapi_ingestor_spark.plans.queries_ml import q_source_overlap_minhash

    rows = q_source_overlap_minhash(spark, sf_dir).collect()
    assert rows
    assert all(r["abs_err"] <= 0.55 for r in rows)
    assert all(0.0 <= r["est_jaccard"] <= 1.0 for r in rows)


def test_pagerank_matches_python_replay(spark, sf_dir):
    """Replay the integer PageRank driver-side from the same verified
    edge set (tiny at the test SF) — exact equality, not approximate."""
    from pygeoapi_ingestor_spark.operators import dedup
    from pygeoapi_ingestor_spark.plans.queries_ml import (
        PR_ITERS,
        PR_SCALE,
        _PR_BASE,
        q_doc_graph_pagerank,
        _docs,
    )

    pairs = dedup.lsh_verified_pairs(
        _docs(spark, sf_dir), id_col="doc_id", text_col="text",
        threshold=0.6,
    ).collect()
    edges = []
    for r in pairs:
        edges.append((r["doc_a"], r["doc_b"]))
        edges.append((r["doc_b"], r["doc_a"]))
    deg: dict = {}
    for a, _ in edges:
        deg[a] = deg.get(a, 0) + 1
    r = {n: PR_SCALE for n in deg}
    for _ in range(PR_ITERS):
        nxt = {n: _PR_BASE for n in deg}
        for a, b in edges:
            nxt[b] += (85 * r[a]) // (100 * deg[a])
        r = nxt
    got = {
        row["doc_id"]: (row["degree"], row["pagerank"], row["n_nodes"])
        for row in q_doc_graph_pagerank(spark, sf_dir).collect()
    }
    assert got == {n: (deg[n], r[n], len(deg)) for n in deg}


def test_cluster_hist_accounts_for_every_doc(spark, sf_dir):
    from pygeoapi_ingestor_spark.plans.queries_ml import (
        q_dup_cluster_size_hist,
        _docs,
    )

    rows = q_dup_cluster_size_hist(spark, sf_dir).collect()
    total = _docs(spark, sf_dir).count()
    assert sum(r["n_docs"] for r in rows) == total
    for r in rows:
        assert r["n_docs"] == r["cluster_size"] * r["n_clusters"]
        assert r["reclaimable_docs"] == r["n_docs"] - r["n_clusters"]


def test_pinball_loss_hand_computed(spark, tmp_path):
    """Week-1 values 1..10 -> q90 order statistic = 9.0 (k = ceil(9.9) =
    10th? no: k = (9*10+9)//10 = 9 -> 9th smallest = 9.0); one eval
    event y=10 -> loss = max(9*(1000-900), 900-1000)/10/100 = 0.9."""
    import datetime as dt

    recs = [
        (i, dt.datetime(2024, 1, 1 + i % 7), 1, "t", float(i + 1), "{}")
        for i in range(10)
    ] + [(100, dt.datetime(2024, 1, 20), 1, "t", 10.0, "{}")]
    sf = tmp_path / "sf"
    sf.mkdir()
    spark.createDataFrame(
        recs,
        "event_id bigint, ts timestamp, user_id bigint, event_type string,"
        " value double, props string",
    ).write.parquet(str(sf / "events.parquet"))
    from pygeoapi_ingestor_spark.plans.queries_ml import q_pinball_loss_eval

    out = q_pinball_loss_eval(spark, str(sf)).collect()
    assert len(out) == 1
    r = out[0]
    assert r["n_train"] == 10 and r["n_eval"] == 1
    assert r["forecast_q90"] == 9.0
    assert r["mean_pinball"] == 0.9


def test_burstiness_constant_vs_bursty(spark, tmp_path):
    """A token appearing exactly twice in every doc has Fano 0; a token
    concentrated in one doc is bursty (Fano = 3 on this fixture)."""
    recs = [
        (0, "aa aa bb bb bb bb", "en", "s", 17),
        (1, "aa aa", "en", "s", 5),
        (2, "aa aa", "en", "s", 5),
        (3, "aa aa", "en", "s", 5),
    ]
    sf = tmp_path / "sf"
    sf.mkdir()
    spark.createDataFrame(
        recs, "doc_id bigint, text string, lang string, source string,"
        " n_chars bigint"
    ).write.parquet(str(sf / "documents.parquet"))
    from pygeoapi_ingestor_spark.plans.queries_ml import q_token_burstiness

    out = {r["token"]: r for r in q_token_burstiness(spark, str(sf)).collect()}
    assert out["aa"]["fano"] == 0.0
    assert out["bb"]["fano"] == 3.0
    assert out["aa"]["total_count"] == 8 and out["aa"]["doc_freq"] == 4


def test_lsh_capture_at_high_jaccard(sf_dir):
    """Backs the pagerank/census oracle's documented data assumption
    (queries_ml._VPAIRS_EDGES_SQL): every exact-Jaccard>=0.6 pair in the
    testdata corpus sits high enough (measured floor ~0.889) that
    8-band/4-row LSH capture probability 1-(1-j^4)^8 exceeds 0.999 —
    so the oracle's all-pairs edge set and Spark's LSH-candidates-only
    edge set agree. If synthetic data ever gains borderline pairs near
    the 0.6 threshold (capture ~0.67 there), this fails and the banding
    must grow before the all-pairs oracles remain valid twins."""
    import duckdb

    from pygeoapi_ingestor_spark.plans.queries_llm import _shingle_cte

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{sf_dir}/documents.parquet')"
    )
    row = con.execute(
        _shingle_cte()
        + """
        , sizes AS (SELECT doc, count(*) AS n_sh FROM sh GROUP BY 1),
        inter AS (
            SELECT x_a.doc AS a, x_b.doc AS b, count(*) AS n_common
            FROM sh x_a
            JOIN sh x_b ON x_a.shingle = x_b.shingle AND x_a.doc < x_b.doc
            GROUP BY 1, 2
        )
        SELECT min(n_common / (sa.n_sh + sb.n_sh - n_common)) AS min_j,
               count(*) AS n_pairs
        FROM inter
        JOIN sizes sa ON sa.doc = a JOIN sizes sb ON sb.doc = b
        WHERE n_common / (sa.n_sh + sb.n_sh - n_common) >= 0.6
        """
    ).fetchone()
    min_j, n_pairs = row
    assert n_pairs > 0, "fixture corpus must contain near-dup pairs"
    capture = 1.0 - (1.0 - float(min_j) ** 4) ** 8
    assert capture > 0.999, (
        f"borderline pair at jaccard={min_j} (LSH capture p={capture:.4f})"
        ": raise LSH bands before trusting the all-pairs oracles"
    )
