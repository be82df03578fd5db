"""Round-14 hardening tests: the ADVICE-r13 kernel edge cases.

The gate corpora contain no zero-norm vectors or NULL labels, so the
catalog oracle sweep cannot distinguish the r13 triplet_mining kernel
(NaN sort keys that die at the Arrow boundary; numpy label comparisons
that treat NULL as a value) from the r14 fix (drop invalid cosines,
three-valued-logic label masking). These tests build a crafted
embeddings corpus that HAS those rows and pin the fixed semantics
against the DuckDB oracle directly.
"""

from __future__ import annotations

import math

import duckdb
import pytest
from pyspark.sql import functions as F


def _crafted_corpus(spark, tmp_path):
    """embeddings.parquet with: valid anchors/candidates in two integer
    labels, one zero-norm candidate, one NULL-label candidate and one
    NULL-label anchor. Every valid anchor keeps
    >= 1 valid positive and negative, so DuckDB's NULLS-LAST ordering
    and the kernel's drop-invalid convention must agree exactly."""
    from pygeoapi_ingestor_spark.plans.queries_llm import EMB_DIM

    def vec(seed: float):
        return [float((seed + i) % 7 + 0.25) for i in range(EMB_DIM)]

    rows = [
        # anchors (vec_id < TRIPLET_ANCHORS = 25)
        (0, vec(1.0), 1),
        (1, vec(2.0), 1),
        (2, vec(3.0), 2),
        (3, vec(4.0), 2),
        (5, vec(6.0), None),          # NULL-label anchor: must drop out
        # candidates
        (30, [0.0] * EMB_DIM, 1),     # zero-norm: never hn/ep
        (31, vec(8.0), None),         # NULL label: excluded both sides
        # (NULL / malformed vectors are pinned by the edge matrix in
        # test_vector_kernel_matrix.py)
        (40, vec(9.0), 1),
        (41, vec(10.5), 2),
        (42, vec(11.25), 1),
        (43, vec(12.0), 2),
    ]
    df = spark.createDataFrame(
        rows, "vec_id bigint, embedding array<float>, label int"
    )
    path = str(tmp_path / "corpus")
    import os

    os.makedirs(path, exist_ok=True)
    df.coalesce(1).write.mode("overwrite").parquet(f"{path}/embeddings.parquet")
    return path


def _norm_rows(rows, colnames):
    def cell(v):
        if isinstance(v, float):
            if math.isnan(v):
                return "NaN"
            return round(v, 9)
        return v

    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    return sorted(
        [tuple(cell(r[i]) for i in order) for r in rows], key=repr
    )


def test_triplet_mining_invalid_rows_match_oracle(spark, tmp_path):
    """Zero-norm candidates and NULL labels must affect
    the result exactly as the DuckDB oracle's three-valued logic and
    NULLS-LAST ranking do (ADVICE r13 items 1-2: the r13 kernel's NaN
    extremes arrived as NULL and won global min; NULL labels counted as
    values)."""
    from pygeoapi_ingestor_spark.plans import ORACLES
    from pygeoapi_ingestor_spark.plans.queries_llm import q_triplet_mining

    path = _crafted_corpus(spark, tmp_path)
    got = q_triplet_mining(spark, path)
    cols = got.columns
    got_rows = _norm_rows([tuple(r) for r in got.collect()], cols)

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{path}/embeddings.parquet/*.parquet')"
    )
    cur = con.execute(ORACLES["triplet_mining"])
    oracle_cols = [d[0] for d in cur.description]
    oracle_rows = _norm_rows(cur.fetchall(), oracle_cols)
    con.close()

    assert sorted(map(str.lower, cols)) == sorted(map(str.lower, oracle_cols))
    assert got_rows == oracle_rows

    # and the specific contracts, directly:
    by_anchor = {r["anchor_id"]: r for r in got.collect()}
    assert 5 not in by_anchor, "NULL-label anchor must drop out"
    for r in by_anchor.values():
        assert r["hardest_neg_id"] not in (30, 31)
        assert r["easiest_pos_id"] not in (30, 31)


def test_collect_query_rows_bound(spark):
    """The Arrow kernels' driver-side query collect must raise on a
    frame exceeding the documented smallness contract instead of
    OOMing the driver (ADVICE r13 item 3)."""
    from pygeoapi_ingestor_spark.operators import similarity as sim

    df = spark.range(10).select(F.col("id"), F.col("id").alias("v"))
    assert len(sim.collect_query_rows(df, "id", "v")) == 10

    orig = sim._MAX_QUERY_ROWS
    sim._MAX_QUERY_ROWS = 5
    try:
        with pytest.raises(ValueError, match="broadcast contract"):
            sim.collect_query_rows(df, "id", "v")
    finally:
        sim._MAX_QUERY_ROWS = orig


def test_winnow_array_formulation_matches_r13_shape(spark, sf_dir):
    """r14 rewrote winnow_fingerprints as an in-array argmin (zero
    exchanges); this twin re-implements the replaced r13 relational
    shape (posexplode + lead grams, window-min over a forward frame,
    selected-keys semi-join) and pins row-for-row equality on the real
    corpus."""
    from pyspark.sql import Window, functions as F

    from pygeoapi_ingestor_spark.operators import dedup
    from pygeoapi_ingestor_spark.operators.text import norm_words

    n, window = 4, 5
    df = spark.read.parquet(f"{sf_dir}/documents.parquet")

    new = dedup.winnow_fingerprints(df, "doc_id", "text", n=n, window=window)

    words = norm_words("text")
    tok = df.select(
        F.col("doc_id").alias("doc"), F.posexplode(words).alias("pos", "w")
    )
    wo = Window.partitionBy("doc").orderBy("pos")
    parts = [F.col("w")] + [F.lead("w", i).over(wo) for i in range(1, n)]
    grams = (
        tok.select(
            "doc", "pos", F.concat_ws(" ", *parts).alias("_g"),
            parts[-1].alias("_last"),
        )
        .filter(F.col("_last").isNotNull())
        .drop("_last")
    )
    h = F.conv(F.substring(F.md5(F.col("_g")), 1, 15), 16, 10).cast("long")
    keyed = grams.select(
        "doc", "pos", h.alias("gram_hash"),
        F.concat(
            F.lpad(F.substring(F.md5(F.col("_g")), 1, 15), 15, "0"),
            F.lpad(F.col("pos").cast("string"), 8, "0"),
        ).alias("_key"),
    )
    w_fwd = Window.partitionBy("doc").orderBy("pos").rowsBetween(0, window - 1)
    with_min = keyed.select(
        "doc", "pos", "gram_hash", "_key",
        F.min("_key").over(w_fwd).alias("_wmin"),
        F.count(F.lit(1)).over(w_fwd).alias("_wn"),
    )
    selected = (
        with_min.filter(F.col("_wn") == window)
        .select("doc", F.col("_wmin").alias("_key"))
        .distinct()
    )
    old = keyed.join(selected, ["doc", "_key"], "left_semi").select(
        "doc", "pos", "gram_hash"
    )
    assert sorted(map(tuple, new.collect())) == sorted(map(tuple, old.collect()))


def test_embedding_quantize_kernel_matches_expression_twin(spark, tmp_path):
    """r14 moved q_embedding_quantize from a 4x-evaluated interpreted
    HOF projection to one Arrow kernel. Twin-pin the kernel against the
    replaced expression formulation on a corpus that includes a NULL
    embedding, a ragged (wrong-length) and a zero-length vector — scale
    rounding (HALF_UP via the Decimal twin), md5 digests, the NULL
    contract (scale 1.0, md5("") digest, NULL stats) and the empty-array
    contract (scale 1.0, md5("") digest, sum 0, NULL max/min) must all
    match."""
    import os

    from pygeoapi_ingestor_spark.operators import similarity
    from pygeoapi_ingestor_spark.plans.queries_llm import (
        EMB_DIM,
        q_embedding_quantize,
    )

    rows = [
        (0, [0.125 * (i % 9) - 0.5 for i in range(EMB_DIM)]),
        (1, [0.0] * EMB_DIM),            # zero vector: scale 1.0
        (2, None),                        # NULL embedding
        (3, [1.5, -2.25, 0.75]),          # ragged length
        (4, [-0.1234565 - 0.0625 * i for i in range(EMB_DIM)]),
        (5, []),                          # zero-length: scale 1.0, sum 0
    ]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    path = str(tmp_path / "qcorpus")
    os.makedirs(path, exist_ok=True)
    df.coalesce(1).write.mode("overwrite").parquet(f"{path}/embeddings.parquet")

    got = sorted(map(tuple, q_embedding_quantize(spark, path).collect()))

    e = spark.read.parquet(f"{path}/embeddings.parquet").withColumn(
        "embedding", F.transform("embedding", lambda x: x.cast("double"))
    )
    qd = similarity.quantize_int8(e, vec_col="embedding")
    qv = F.col("q_vec")
    ref = sorted(map(tuple, qd.select(
        "vec_id",
        F.round("q_scale", 6).alias("q_scale"),
        F.md5(F.concat_ws(",", F.transform(qv, lambda x: x.cast("string")))).alias("q_digest"),
        F.aggregate(qv, F.lit(0), lambda acc, x: acc + x).cast("bigint").alias("q_sum"),
        F.array_max(qv).cast("int").alias("q_max"),
        F.array_min(qv).cast("int").alias("q_min"),
    ).collect()))
    assert got == ref
