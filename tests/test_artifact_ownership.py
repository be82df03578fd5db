"""Every checkpoint in the package has an owner that releases it.

``test_checkpoint_owner_census`` lists every ``localCheckpoint(`` site:
each is either a corpus artifact (built inside
``functions.storage.corpus_artifact``, released by the registry), freed
through ``free_local_ckpt`` in the function that makes it, or exempt
with a reason.

``test_cache_clear_census`` pins ``functions/storage.py`` as the only
module that calls ``catalog.clearCache()``: session lifetime has one
owner. ``test_package_shipping_census`` pins the catalog wrapper in
``plans/__init__.py`` as the one caller of
``session.ensure_package_on_executors``: operators never ship the
package themselves.

``test_artifact_key_serve_finalize_serve`` drives the catalog keys that
read corpus artifacts through a service tick: serve, ``finalize_job``,
serve again. Each key is served as a prepared plan (its checkpoints are
registry-owned), the second serve must rebuild over fresh artifacts and
return the same rows, and nothing the keys persisted may outlive the
final tick. The remaining tests pin the lifetime rules around it: a
corpus switch, a concurrent execute, the in-flight count and a bare
``clearCache``.
"""

from __future__ import annotations

import ast
import os
import threading

import pytest

from pygeoapi_ingestor_spark.functions import storage
from pygeoapi_ingestor_spark.functions.storage import owned_rdd_ids
from pygeoapi_ingestor_spark.plans import QUERIES
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


def _modules():
    """(package-relative path, parsed module) for every module."""
    for dirpath, _, files in os.walk(PKG):
        for name in sorted(files):
            if name.endswith(".py"):
                path = os.path.join(dirpath, name)
                rel = os.path.relpath(path, PKG).replace(os.sep, "/")
                yield rel, ast.parse(open(path).read())


def _census():
    """(site -> has a free_local_ckpt call) and the names passed as the
    build of a corpus_artifact call, over the whole package."""
    sites, builds = {}, set()
    for rel, tree in _modules():
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


def test_cache_clear_census():
    bench = os.path.join(os.path.dirname(PKG), "bench.py")
    modules = [*_modules(), ("bench.py", ast.parse(open(bench).read()))]
    callers = {rel for rel, tree in modules if _calls(tree, "clearCache")}
    assert callers == {"functions/storage.py"}, (
        "only functions/storage may clear the session cache: release "
        "through finalize_job or release_corpus_artifacts", sorted(callers),
    )


def test_package_shipping_census():
    calls = {
        rel: len(_calls(tree, "ensure_package_on_executors"))
        for rel, tree in _modules()
    }
    callers = {rel: n for rel, n in calls.items() if n}
    assert callers == {"plans/__init__.py": 1}, (
        "only the catalog wrapper ships the package to the executors: "
        "serve kernels through a catalog key", callers,
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
    assert (key, spark.sparkContext.applicationId, sf_dir) in storage._PLANS
    finalize_job(spark)
    assert not storage._PLANS
    assert _rows(QUERIES[key](spark, sf_dir)) == first


def test_plan_only_corpus_switch_releases_artifacts(spark, sf_dir, tick_baseline):
    """Plans and artifacts share one generation: a plan-only key served
    on a new corpus releases the old corpus's checkpoints too."""
    other = os.path.join(os.path.dirname(sf_dir), "sf0.01")
    if not os.path.isdir(other):
        pytest.skip(f"no second corpus at {other}")
    QUERIES["dup_cluster_size_hist"](spark, sf_dir).collect()
    old = owned_rdd_ids()
    assert old, "the key reads the vp and cc artifacts"
    QUERIES["resample_monthly_scaled"](spark, other).limit(5).collect()
    assert not owned_rdd_ids()
    assert not old & _persistent(spark), "the old checkpoints stay persisted"


def test_execute_leaves_in_flight_job_state_alone(spark, sf_dir, tmp_path, tick_baseline):
    """An execute that returns while an async job is in flight must not
    release that job's artifacts: the last execute out releases."""
    from pygeoapi_ingestor_spark.api import JobManager, ProcessAPI
    from pygeoapi_ingestor_spark.plans.queries_llm import shared_verified_pairs
    from pygeoapi_ingestor_spark.processes import IngestProcess
    from pygeoapi_ingestor_spark.sinks import CollectionCatalog

    holding, go = threading.Event(), threading.Event()

    def fetch(s):
        pairs = shared_verified_pairs(s, sf_dir)
        holding.set()
        go.wait(120)
        return pairs

    api = ProcessAPI(default_sf_dir=sf_dir)
    api.register_ingestor(IngestProcess(
        collection_id="held_pairs", fetch=fetch, transform=lambda df: df,
        out_path=str(tmp_path / "coll"),
        catalog=CollectionCatalog(str(tmp_path / "cat.json")),
    ))
    jm = JobManager(api, max_workers=1)
    job = jm.submit(spark, "held_pairs", {"token": "t"})
    try:
        assert holding.wait(120), "the ingestor never fetched its pairs"
        held = owned_rdd_ids()
        assert held
        assert api.execute(spark, "resample_monthly_scaled")["status"] == "successful"
        assert owned_rdd_ids() == held, "an execute released in-flight state"
    finally:
        go.set()
    assert jm.wait(job, timeout_s=180.0)["status"] == "successful", jm.result(job)
    assert not owned_rdd_ids(), "the last execute out must release"


class _Released(Exception):
    pass


def test_in_flight_count_never_releases_under_a_request():
    """Stress the count with more threads than cores and a short switch
    interval: finalize_job reaches the session (here a fake that only
    records the visit) only while no request is inside ``in_flight()``,
    and once they have all left it releases."""
    import sys
    import time

    from pygeoapi_ingestor_spark.functions.storage import in_flight

    inside, seen, guard = [0], [], threading.Lock()

    class FakeSpark:
        @property
        def sparkContext(self):
            seen.append(inside[0])
            raise _Released

    def request():
        for _ in range(300):
            with in_flight():
                with guard:
                    inside[0] += 1
                time.sleep(0)  # yield while inside
                with guard:
                    inside[0] -= 1
            time.sleep(0.0002)  # idle gaps in which a release may run

    def finalizer():
        for _ in range(600):
            try:
                finalize_job(FakeSpark())
            except _Released:
                pass

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=request) for _ in range(8)]
        threads += [threading.Thread(target=finalizer) for _ in range(2)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(60)
        assert not any(t.is_alive() for t in threads)
    finally:
        sys.setswitchinterval(old)
    assert not any(seen), "a release ran under an in-flight request"
    assert storage._IN_FLIGHT == 0
    with pytest.raises(_Released):
        finalize_job(FakeSpark())


def _in_memory_relations(df) -> int:
    return df._jdf.queryExecution().withCachedData().toString().count("InMemoryRelation")


def test_release_not_bare_clear_recaches_memoized_plan(spark, sf_dir, tick_baseline):
    """A bare clearCache strips a memoized plan's persisted
    intermediates for good; finalize_job drops the plan with them, so
    the next serve rebuilds and persists again."""
    key = "doc_graph_pagerank"
    QUERIES[key](spark, sf_dir).limit(100).collect()
    assert _in_memory_relations(QUERIES[key](spark, sf_dir).limit(100))
    spark.catalog.clearCache()
    assert not _in_memory_relations(QUERIES[key](spark, sf_dir).limit(100))
    finalize_job(spark)
    QUERIES[key](spark, sf_dir).limit(100).collect()
    assert _in_memory_relations(QUERIES[key](spark, sf_dir).limit(100))
