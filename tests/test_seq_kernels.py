"""Bit-parity contracts for the round-8 Arrow/numpy similarity kernels.

Every vectorized kernel that replaced a Spark fold/chain expression
claims SEQUENTIAL accumulation — the same left-associated double
rounding as the HOF fold, the scalar chain, and a SQL engine's
list_dot_product. These tests pin that claim directly:

- the numpy seq_* helpers against a pure-Python left fold (the rounding
  oracle by construction);
- the Arrow cosine_topk fast path against the interpreted HOF path on
  the same data (rankings AND cosines);
- with_md5_sig_arrow against the md5_signature Spark expression
  (signatures bit-equal per row).
"""

from __future__ import annotations

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from pygeoapi_ingestor_spark.operators import similarity

DIM = 8


def _f32_matrix(rows, dim, seed):
    rng = np.random.RandomState(seed)
    return (rng.randn(rows, dim) * rng.choice([1e-3, 1.0, 1e3], (rows, 1))
            ).astype(np.float32)


@settings(max_examples=30, deadline=None)
@given(st.integers(0, 10_000), st.integers(1, 40))
def test_seq_dot_row_is_left_fold(seed, n):
    vm32 = _f32_matrix(n, DIM, seed)
    vm = vm32.astype(np.float64)
    q = _f32_matrix(1, DIM, seed + 1).astype(np.float64)[0]
    got = similarity.seq_dot_row(vm, q)
    for i in range(n):
        acc = vm[i, 0] * q[0]
        for d in range(1, DIM):
            acc = acc + vm[i, d] * q[d]
        assert got[i] == acc  # bit-equal, not approx


@settings(max_examples=20, deadline=None)
@given(st.integers(0, 10_000), st.integers(1, 12), st.integers(1, 12))
def test_seq_dot_pair_matches_rowwise(seed, nb, nm):
    am = _f32_matrix(nb, DIM, seed).astype(np.float64)
    vm = _f32_matrix(nm, DIM, seed + 7).astype(np.float64)
    got = similarity.seq_dot_pair(am, vm)
    for i in range(nb):
        want = similarity.seq_dot_row(vm, am[i])
        assert np.array_equal(got[i], want)


@settings(max_examples=30, deadline=None)
@given(st.integers(0, 10_000), st.integers(1, 40))
def test_seq_norm_is_left_fold(seed, n):
    vm = _f32_matrix(n, DIM, seed).astype(np.float64)
    got = similarity.seq_norm(vm)
    for i in range(n):
        acc = vm[i, 0] * vm[i, 0]
        for d in range(1, DIM):
            acc = acc + vm[i, d] * vm[i, d]
        assert got[i] == np.sqrt(acc)


def test_cosine_topk_arrow_equals_hof_path(spark):
    """The dim= fast path must produce the same rankings as the
    interpreted HOF path on well-conditioned data (the two accumulate
    products in different precisions — float32 vs float64 — so exact
    cosine equality is not the contract; identical rankings and
    6-decimal-equal cosines are)."""
    rng = np.random.RandomState(11)
    rows = [
        (i, [float(x) for x in rng.randn(DIM).astype(np.float32)])
        for i in range(60)
    ]
    e = spark.createDataFrame(rows, f"vec_id bigint, embedding array<float>")
    q = e.filter(F.col("vec_id") < 4)

    def run(dim):
        out = similarity.cosine_topk(
            e, q, "vec_id", "embedding", "vec_id", "embedding", k=5, dim=dim
        )
        return {
            (r["query_id"], r["rank"]): (r["neighbor_id"], round(r["cosine"], 6))
            for r in out.collect()
        }

    assert run(None) == run(DIM)


def test_md5_sig_arrow_equals_expression(spark):
    rng = np.random.RandomState(13)
    rows = [
        (i, [float(x) for x in rng.randn(DIM).astype(np.float32)])
        for i in range(50)
    ]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    n_planes = 6
    expr = df.select(
        "vec_id",
        similarity.md5_signature(
            F.col("embedding"), DIM, n_planes
        ).cast("bigint").alias("_sig"),
    )
    arrow = similarity.with_md5_sig_arrow(
        df, "embedding", DIM, n_planes
    ).select("vec_id", "_sig")
    want = {r["vec_id"]: r["_sig"] for r in expr.collect()}
    got = {r["vec_id"]: r["_sig"] for r in arrow.collect()}
    assert got == want
