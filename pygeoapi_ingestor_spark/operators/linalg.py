"""Distributed linear algebra on embedding columns.

Exact-arithmetic building blocks (integer / decimal accumulation) so the
iterative algorithms stay value-hash-gateable by an unrolled SQL twin —
the same determinism contract as ``similarity.kmeans_fit_int8``.

Reference parity: the reference computes PCA-style reductions with
single-node numpy (see SURVEY.md §2 block C provenance notes); here each
iteration is ONE map-side-combinable Spark aggregation whose state is a
``dim``-length vector, so the pass count — not the data size — is the
cost driver at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# rescale target after each power-iteration step: entries of the
# iterate stay in [-PCA_SCALE, PCA_SCALE], keeping every integer
# product inside int64 on the Spark side (the SQL twin uses HUGEINT)
PCA_SCALE = 10_000


def _trunc_div(a: int, b: int) -> int:
    """Truncating (toward-zero) division on Python big-ints — pinned to
    match DuckDB's integer ``//`` (measured: ``-7 // 2 = -3``, i.e.
    truncation, NOT Python's floor ``-4``); ``int(a / b)`` would round
    through float64 and lose exactness on >2^53 products. ``b > 0``
    always (it is a max of absolute values)."""
    if a >= 0:
        return a // b
    return -((-a) // b)


def power_iteration_int8(
    df: DataFrame,
    vec_col: str,
    dim: int,
    iters: int = 3,
) -> tuple[list[int], int, int, int]:
    """Top principal direction of an int8-quantized embedding corpus via
    power iteration on the (uncentered) Gram matrix A^T A — fully
    deterministic integer arithmetic, so an unrolled SQL twin replays
    the whole run bit-for-bit.

    The corpus is scanned ONCE: an Arrow kernel accumulates the dim×dim
    Gram matrix ``G = Σ q qᵀ`` (per-batch int64 ``QᵀQ``; state shipped
    to the driver is dim² ints per batch regardless of row count), and
    every iteration is then the exact driver-side integer matvec
    ``w = G v`` — identical integers to re-scanning per iteration,
    because ``Aᵀ(Av) = (AᵀA)v`` distributes over exact sums. The
    iterate rescale is exact big-int truncating division:
    ``v' = trunc(w * PCA_SCALE / max|w|)``.

    Returns ``(v_final, rayleigh_num, rayleigh_den, n_rows)`` where the
    Rayleigh quotient num/den estimates the top eigenvalue of A^T A in
    the quantized space.
    """
    # ONE distributed pass instead of one per iteration (guide §1.1
    # first-principles): w = Aᵀ(Av) = (AᵀA)v, so the dim×dim Gram matrix
    # G = Σ_rows q qᵀ — built here as a per-batch int64 Qᵀ·Q in an Arrow
    # numpy kernel — determines EVERY iteration, and the power loop runs
    # on the driver against G. The r12 formulation re-scanned the corpus
    # per iteration through an interpreted aggregate/zip_with fold plus
    # a 64-term decimal aggregate whose generated code embedded the
    # iterate as literals (a fresh janino compile each iteration); now
    # the corpus is read once, total driver/executor exchange is one
    # dim² block of ints per batch, and the iterations are 64×64 integer
    # matvecs in Python.
    #
    # Exactness: w_i = Σ_rows q_i·(q·v) = Σ_j (Σ_rows q_i q_j)·v_j —
    # integer distributivity/associativity, so the per-iteration w, m,
    # v' and the Rayleigh num/den are the SAME integers the old
    # per-iteration scan produced; the unrolled DuckDB twin is
    # unchanged. Overflow audit: |G_ij| <= 127²·rows_per_batch — an
    # Arrow batch of a 64-int list column is capped well under 4e6 rows
    # (2 GiB payload), so per-batch int64 peaks ~6.5e10 << 2^63;
    # cross-batch accumulation and the driver matvecs run in unbounded
    # Python big-ints (|w| <= dim·127²·n·scale keeps growing with row
    # count, which is exactly why the old code summed in decimal(38,0)).
    sel = df.select(F.col(vec_col).alias("_q"))

    def _gram(batches, _dim=dim):
        import numpy as np
        import pyarrow as pa

        schema = pa.schema(
            [pa.field("g", pa.list_(pa.int64())), pa.field("_n", pa.int64())]
        )
        for batch in batches:
            n = batch.num_rows
            if not n:
                continue
            col = batch.column(0)
            # list<int> column: one contiguous values buffer — flatten +
            # reshape is the zero-object-overhead path (guide §4.2)
            Q = np.asarray(col.flatten(), dtype=np.int64).reshape(n, _dim)
            g = Q.T @ Q
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array([g.reshape(-1).tolist()], pa.list_(pa.int64())),
                    pa.array([n], pa.int64()),
                ],
                schema=schema,
            )

    # bounded collect: one row per Arrow batch (~one per partition),
    # dim²+1 ints each — the same bounded-driver-state class as the
    # k-means centroid fetch
    parts = sel.mapInArrow(_gram, "g array<long>, _n long").collect()
    G = [[0] * dim for _ in range(dim)]
    n_rows = 0
    for r in parts:
        flat, n_rows = r[0], n_rows + int(r[1])
        for i in range(dim):
            row_g = G[i]
            base = i * dim
            for j in range(dim):
                row_g[j] += int(flat[base + j])

    v = [PCA_SCALE // 10] * dim  # deterministic start: all-ones direction
    num = den = 0
    for it in range(iters):
        w = [sum(G[i][j] * v[j] for j in range(dim)) for i in range(dim)]
        m = max(abs(x) for x in w) or 1
        # Rayleigh quotient of the direction that PRODUCED w (v), exact
        num = sum(vi * wi for vi, wi in zip(v, w))
        den = sum(vi * vi for vi in v)
        v = [_trunc_div(wi * PCA_SCALE, m) for wi in w]
    return v, num, den, n_rows


def logistic_gradient_exact(
    df: DataFrame,
    label_col: str,
    feature_cols: list[str],
) -> DataFrame:
    """Exact first gradient step of logistic regression from the w=0
    init (the standard GD start): at w=0 every prediction is exactly
    0.5, so grad_j = sum((0.5 - y) * x_j) = sum((1 - 2y) * x_j) / 2 has
    an INTEGER numerator when the features are integers — no
    transcendentals anywhere, the hash gate closes exactly.

    One map-side-combinable aggregation; per-feature state is one int64.
    Returns one row per feature: (feature, g2 = 2*sum-grad as bigint,
    n rows).
    """
    y2 = F.lit(1) - F.lit(2) * F.col(label_col).cast("long")
    aggs = [
        F.sum(y2 * F.col(c).cast("long")).cast("long").alias(f"_g_{c}")
        for c in feature_cols
    ] + [F.count(F.lit(1)).cast("long").alias("_n")]
    row_df = df.agg(*aggs)
    stacked = row_df.select(
        F.explode(
            F.map_from_arrays(
                F.array(*[F.lit(c) for c in feature_cols]),
                F.array(*[F.col(f"_g_{c}") for c in feature_cols]),
            )
        ).alias("feature", "g2"),
        F.col("_n").alias("n"),
    )
    return stacked
