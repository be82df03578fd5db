"""Every checkpoint in the package has an owner that releases it.

``test_checkpoint_owner_census`` lists every ``localCheckpoint(`` site:
each is either a corpus artifact (built inside
``functions.storage.corpus_artifact``, released by the registry), freed
through ``free_local_ckpt`` in the function that makes it, or exempt
with a reason.

``test_artifact_key_serve_finalize_serve`` drives the catalog keys that
read corpus artifacts through a service tick: serve, ``finalize_job``,
serve again. Each key is served as a prepared plan (its checkpoints are
registry-owned), the second serve must rebuild over fresh artifacts and
return the same rows, and nothing the keys persisted may outlive the
final tick.
"""

from __future__ import annotations

import ast
import os

import pytest

from pygeoapi_ingestor_spark.plans import QUERIES, prepared
from pygeoapi_ingestor_spark.streaming.scheduler import finalize_job

PKG = os.path.join(os.path.dirname(os.path.dirname(__file__)), "pygeoapi_ingestor_spark")

# "module::top-level function" of every localCheckpoint( call
SITES = {
    "plans/queries_llm.py::_build_verified_pairs": "ARTIFACT",
    "plans/queries_llm.py::_build_ann_gt": "ARTIFACT",
    "plans/queries_etl.py::_build_iso_labeled": "ARTIFACT",
    "plans/queries_curation.py::_build_words": "ARTIFACT",
    # superseded generations freed per round; the final one is returned
    # to the caller (shared_dup_components, dissolve_regions' owner)
    "operators/dedup.py::connected_components": "FREED",
    "sinks/collections.py::merge_into_partitioned": "FREED",
    "sinks/incremental.py::update_rollup": "FREED",
}
EXEMPT: dict[str, str] = {}  # site -> one-line reason


def _functions(tree):
    for top in tree.body:
        if isinstance(top, ast.FunctionDef):
            yield top
        elif isinstance(top, ast.ClassDef):
            yield from (f for f in top.body if isinstance(f, ast.FunctionDef))


def _calls(node, name):
    return [
        c for c in ast.walk(node)
        if isinstance(c, ast.Call)
        and getattr(c.func, "attr", getattr(c.func, "id", None)) == name
    ]


def _census():
    """(site -> has a free_local_ckpt call) and the names passed as the
    build of a corpus_artifact call, over the whole package."""
    sites, builds = {}, set()
    for dirpath, _, files in os.walk(PKG):
        for name in sorted(files):
            if not name.endswith(".py"):
                continue
            path = os.path.join(dirpath, name)
            rel = os.path.relpath(path, PKG).replace(os.sep, "/")
            tree = ast.parse(open(path).read())
            for call in _calls(tree, "corpus_artifact"):
                if len(call.args) == 4 and isinstance(call.args[3], ast.Name):
                    builds.add(f"{rel}::{call.args[3].id}")
            for fn in _functions(tree):
                if _calls(fn, "localCheckpoint"):
                    sites[f"{rel}::{fn.name}"] = bool(_calls(fn, "free_local_ckpt"))
    return sites, builds


def test_checkpoint_owner_census():
    sites, builds = _census()
    assert set(sites) == set(SITES) | set(EXEMPT), (
        "localCheckpoint sites changed: classify each new site in SITES "
        "(ARTIFACT / FREED) or EXEMPT it with a reason",
        sorted(set(sites) ^ (set(SITES) | set(EXEMPT))),
    )
    for site, kind in SITES.items():
        if kind == "ARTIFACT":
            assert site in builds, f"{site} is not built inside corpus_artifact"
        else:
            assert kind == "FREED" and sites[site], (
                f"{site} does not release through free_local_ckpt"
            )


# the catalog keys whose plans read a corpus-artifact checkpoint
ARTIFACT_KEYS = [
    "ann_recall_eval",
    "cluster_keep_best",
    "curation_pipeline_e2e",
    "dedup_components",
    "dedup_lsh_verified",
    "doc_graph_pagerank",
    "dsir_importance_weights",
    "dup_cluster_quality",
    "dup_cluster_size_hist",
    "isoband_regions",
    "ivf_probe_sweep",
    "ivf_recall_eval",
    "matryoshka_recall_eval",
    "pq_recall_eval",
    "quality_dup_interaction",
    "segment_dedup",
]


def _persistent(spark):
    return {int(k) for k in spark.sparkContext._jsc.getPersistentRDDs()}


def _rows(df):
    return sorted(map(repr, df.collect()))


@pytest.fixture
def tick_baseline(spark):
    finalize_job(spark)
    before = _persistent(spark)
    yield
    finalize_job(spark)
    assert not _persistent(spark) - before, "a serve left storage persisted"


@pytest.mark.parametrize("key", ARTIFACT_KEYS)
def test_artifact_key_serve_finalize_serve(spark, sf_dir, key, tick_baseline):
    first = _rows(QUERIES[key](spark, sf_dir))
    assert (key, spark.sparkContext.applicationId, sf_dir) in prepared._PLANS
    finalize_job(spark)
    assert not prepared._PLANS
    assert _rows(QUERIES[key](spark, sf_dir)) == first
