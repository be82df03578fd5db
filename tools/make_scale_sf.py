#!/usr/bin/env python3
"""Derive a 10x scale point ("sf1") from the largest driver-provided
testdata SF (sf0.1) for scale measurements: run
``SPARK_GRAFT_SF_DIR=<sf> python3 bench.py KEY ... --reps N`` once per
corpus.

The driver ships sf0.001/0.01/0.1; the 100 TB story needs at least one
point where fixed JVM/codegen overheads stop dominating. sf1 here is a
DERIVED dataset - 10 replicas of sf0.1 with workload-shape-preserving
perturbation, never used for correctness gating (the oracle gate stays
on driver data):

- ids (doc_id/vec_id/event_id/user_id/orderkey/custkey) get a
  +replica*10_000_000 stride, so replica r=0 is bit-identical to sf0.1
  and cross-replica ids never collide. FK pairs (orders<->lineitem on
  orderkey, orders<->customer on custkey) stride together.
- documents.text for r>0 is word-sorted by md5(f"{r}:{word}") - a
  deterministic per-replica permutation. Exact-dup groups inside a
  replica are preserved exactly (identical text -> identical
  permutation), near-dup word overlap is roughly preserved (shared
  words sort into the same relative order), and cross-replica texts
  share no shingles (different sort keys) - so the corpus dup RATE
  stays ~constant as the corpus grows, which is how real corpora
  scale. A naive copy would instead multiply every dup group by 10 and
  square the LSH candidate volume. n_chars is recomputed.
- embeddings.embedding for r>0 is rotated by r dimensions: norm and
  component distribution preserved, cosine(v, rot_r(v)) ~ 0 so no
  cross-replica near-neighbors appear; doc_id/vec_id linkage rides the
  shared stride. The IVF/centroid convention (16 lowest-id vectors)
  keeps pointing at untouched replica-0 vectors.
- events/lineitem/orders/customer keep every measure column: 10x more
  users/stations/orders with the same per-series shape - scaling the
  population, not the history, which is the axis a 1000-executor
  deployment actually grows along.
- dimension tables (region/nation/part/supplier) are copied as-is:
  at every real scale they stay broadcast-side.

Usage: python3 tools/make_scale_sf.py [out_dir] [replicas]  (default
/tmp/pygeoapi_scale/sf1 with 10 replicas, ~170 MB; 30 replicas gives
the "sf3" point. Regenerate on demand - only the BENCH_SCALE.json
artifact is committed).
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from pygeoapi_ingestor_spark.session import get_spark  # noqa: E402
from pygeoapi_ingestor_spark.sources.readers import read_table  # noqa: E402

SRC = "/root/testdata/sf0.1"
STRIDE = 10_000_000
# replicas of sf0.1; 10 -> "sf1", 30 -> "sf3" (argv[2]). The stride
# keeps cross-replica ids disjoint up to 100+ replicas.
REPLICAS = 10


def _replicate(df, id_cols: list[str]):
    """Union REPLICAS copies with strided ids and a _r replica column."""
    r = F.explode(F.sequence(F.lit(0), F.lit(REPLICAS - 1))).alias("_r")
    out = df.select("*", r)
    for c in id_cols:
        out = out.withColumn(c, F.col(c) + F.col("_r") * F.lit(STRIDE))
    return out


def main() -> None:
    global REPLICAS
    out_dir = sys.argv[1] if len(sys.argv) > 1 else "/tmp/pygeoapi_scale/sf1"
    if len(sys.argv) > 2:
        REPLICAS = int(sys.argv[2])
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark(app_name="make_scale_sf")
    spark.sparkContext.setLogLevel("ERROR")

    def write(df, name: str, n_files: int = 8) -> None:
        # directory parquet with several part files: the shape a real
        # ingest writes, and what gives the bench scan-side parallelism
        (df.repartition(n_files)
           .write.mode("overwrite")
           .parquet(f"{out_dir}/{name}.parquet"))
        print(f"wrote {name}", flush=True)

    docs = _replicate(read_table(spark, SRC, "documents"), ["doc_id"])
    # per-replica deterministic word permutation (see module docstring);
    # r=0 keeps the original text byte-for-byte
    permuted = F.array_join(
        F.transform(
            F.array_sort(
                F.transform(
                    F.split(F.col("text"), " "),
                    lambda w: F.struct(
                        F.md5(
                            F.concat(
                                F.col("_r").cast("string"), F.lit(":"), w
                            )
                        ).alias("k"),
                        w.alias("w"),
                    ),
                )
            ),
            lambda s: s.getField("w"),
        ),
        " ",
    )
    docs = docs.withColumn(
        "text", F.when(F.col("_r") == 0, F.col("text")).otherwise(permuted)
    ).withColumn("n_chars", F.length("text").cast("long")).drop("_r")
    write(docs, "documents")

    emb = _replicate(read_table(spark, SRC, "embeddings"), ["vec_id"])
    dim = 64
    # rotate by _r mod dim: replica counts past the dimension (sf10 =
    # 100 replicas) would otherwise ask slice() for a negative length.
    # Replicas r and r+64 share embeddings (different vec_ids) — fine
    # for the sf10 point, which exists for the TEXT dedup flagships;
    # embedding keys keep their three-decade series below dim replicas.
    rot = F.col("_r") % dim
    rotated = F.concat(
        F.slice(F.col("embedding"), rot + 1, F.lit(dim) - rot),
        F.slice(F.col("embedding"), 1, rot),
    )
    emb = emb.withColumn(
        "embedding",
        F.when(rot == 0, F.col("embedding")).otherwise(rotated),
    ).drop("_r")
    write(emb, "embeddings")

    write(
        _replicate(
            read_table(spark, SRC, "events"), ["event_id", "user_id"]
        ).drop("_r"),
        "events",
        16,
    )
    write(
        _replicate(read_table(spark, SRC, "lineitem"), ["l_orderkey"]).drop("_r"),
        "lineitem",
        16,
    )
    write(
        _replicate(
            read_table(spark, SRC, "orders"), ["o_orderkey", "o_custkey"]
        ).drop("_r"),
        "orders",
        16,
    )
    write(
        _replicate(read_table(spark, SRC, "customer"), ["c_custkey"]).drop("_r"),
        "customer",
    )
    for dim_table in ["region", "nation", "part", "supplier"]:
        write(read_table(spark, SRC, dim_table), dim_table, 1)
    print(f"done: {out_dir}")


if __name__ == "__main__":
    main()
