"""Spot-bench for the r11 contested cells (committed as
BENCH_SPOT_r11.json): a FRESH tuned session measuring, per key, both
the prepared-plan path the catalog ships AND the per-invocation path
(plan memo cleared between reps), next to the DuckDB twin on the same
files — so the artifact shows the planning-vs-data split honestly
instead of a single number that could read as bench gaming.

Cells:
- zonal_stats_polygon @ sf1: the r10 bar was <=5x DuckDB warm; the
  committed BENCH_SCALE warm cell rode a 20-key-old session. Here:
  prepared warm (execution only — the production service shape),
  per-invocation cold (plan build + exec), DuckDB cold/warm.
- segment_dedup / dsir_importance_weights @ sf1: the r10 bar was
  <=2s cold; the words artifact is built ONCE (carrier = whichever
  key runs first) — both orders measured.
- centroid_classify @ sf0.1: the <=1.5s-warm bar's fresh-session twin.

Usage: python3 tools/bench_spot.py  (writes BENCH_SPOT_r11.json)
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF1_DIR = os.environ.get("SPARK_GRAFT_SF1_DIR", "/tmp/pygeoapi_scale/sf1")


def _duck(sf_dir, sql):
    import duckdb

    con = duckdb.connect()
    for t in ("events", "documents", "embeddings"):
        p = f"{sf_dir}/{t}.parquet"
        if os.path.isdir(p):
            p = f"{p}/*.parquet"
        if os.path.exists(p.replace("/*.parquet", "")) or "*" in p:
            try:
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')"
                )
            except Exception:
                pass
    reps = []
    for _ in range(2):
        t0 = time.perf_counter()
        con.execute(sql).fetchall()
        reps.append(round(time.perf_counter() - t0, 3))
    con.close()
    return {"duckdb_cold": reps[0], "duckdb_warm": min(reps)}


def main() -> None:
    from pygeoapi_ingestor_spark.functions.storage import release_corpus_artifacts
    from pygeoapi_ingestor_spark.plans import ORACLES, QUERIES, prepared
    from pygeoapi_ingestor_spark.session import get_spark

    spark = get_spark(app_name="bench_spot")
    spark.sparkContext.setLogLevel("ERROR")
    out: dict = {"session": "fresh (this tool's only workload)"}

    def run(key, sf_dir):
        t0 = time.perf_counter()
        QUERIES[key](spark, sf_dir).count()
        return round(time.perf_counter() - t0, 3)

    # --- zonal_stats_polygon @ sf1 ---
    cell: dict = {}
    cell["per_invocation_cold"] = run("zonal_stats_polygon", SF1_DIR)
    cell["prepared_warm"] = [run("zonal_stats_polygon", SF1_DIR) for _ in range(3)]
    prepared.clear()
    cell["per_invocation_warm"] = []
    for _ in range(3):
        prepared.clear()
        cell["per_invocation_warm"].append(run("zonal_stats_polygon", SF1_DIR))
    cell.update(_duck(SF1_DIR, ORACLES["zonal_stats_polygon"]))
    out["zonal_stats_polygon_sf1"] = cell

    # --- words-artifact pair @ sf1, both carrier orders ---
    pair: dict = {}
    release_corpus_artifacts()
    spark.catalog.clearCache()
    pair["segment_first_cold"] = run("segment_dedup", SF1_DIR)
    spark.catalog.clearCache()
    pair["dsir_after_carrier_cold"] = run("dsir_importance_weights", SF1_DIR)
    pair["dsir_warm"] = run("dsir_importance_weights", SF1_DIR)
    pair["segment_warm"] = run("segment_dedup", SF1_DIR)
    release_corpus_artifacts()
    spark.catalog.clearCache()
    pair["dsir_first_cold"] = run("dsir_importance_weights", SF1_DIR)
    spark.catalog.clearCache()
    pair["segment_after_carrier_cold"] = run("segment_dedup", SF1_DIR)
    out["words_artifact_pair_sf1"] = pair

    # --- centroid_classify @ sf0.1 ---
    sf01 = "/root/testdata/sf0.1"
    cc: dict = {}
    cc["cold"] = run("centroid_classify", sf01)
    cc["warm"] = [run("centroid_classify", sf01) for _ in range(3)]
    cc.update(_duck(sf01, ORACLES["centroid_classify"]))
    out["centroid_classify_sf0.1"] = cc

    path = os.path.join(REPO, "BENCH_SPOT_r11.json")
    with open(path, "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps(out, indent=1))
    print(f"wrote {path}")
    spark.stop()


if __name__ == "__main__":
    main()
