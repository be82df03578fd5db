"""Storage ownership: the one checkpoint-release path and the one
registry of per-corpus artifacts.

RELEASE. ``catalog.clearCache()`` does not reach RDD-level
``localCheckpoint`` blocks, so every operator/sink that materializes
one must release it explicitly or the blocks pin executor storage for
the session lifetime. ``free_local_ckpt`` is the single leaf-walking
implementation (VERDICT r10 item 3): a root-only
``analyzed().rdd().unpersist()`` raises on a Project root (anyone
inserting ``.select()`` between checkpoint and release) and, inside a
swallow-all ``except``, leaks with zero signal — the failure commit
a62aa76 diagnosed. Failures here are LOGGED, never swallowed silently.

CORPUS ARTIFACTS. In production you LSH->exact-verify a corpus once,
train its clustering once, compute its ANN ground truth once, tokenize
it once — and every downstream report reads those artifacts; rebuilding
them per report is the anti-pattern. ``corpus_artifact`` models that
shape: an artifact is built once per (kind, session, corpus) and served
to every consumer. Checkpoint artifacts (verified pairs, dup
components, ANN ground truth, the isoband labeled raster, the
tokenized words) are ``localCheckpoint``s — RDD-level blocks with
severed lineage that survive ``catalog.clearCache()`` (the between-keys
clear of bench.py and the test harness). At 100 TB each would be a
parquet table the curation job writes (sinks/collections);
localCheckpoint is the in-session equivalent. Trained centroids are
driver-side Python lists — bounded, nothing to persist.

The words checkpoint is load-bearing beyond caching: without the
lineage cut, CollapseProject inlines the regex tokenize into every
downstream higher-order-function lambda (interpreted, no common-
subexpression elimination), so a per-segment slice re-tokenizes its
document once per index — measured 26.7 s -> 5.0 s for the sf1
segment explode.

LIFETIME. The registry holds ONE (session, corpus) generation:
entering a new one releases every artifact of the old one
(bench_scale walks sf0.01 -> sf0.1 -> sf1 -> sf3 in one session), and
``release_corpus_artifacts`` (called by ``finalize_job``) releases
them between service ticks. A release frees the checkpoint blocks,
drops the centroids and drops every prepared plan (plans/prepared.py),
so a memoized plan never outlives the artifact it reads. Only a
release frees an owned checkpoint, which is why the prepared registry
may memoize plans over ``owned_rdd_ids()`` and nothing else.

CALLER CONTRACT: re-fetch an artifact through its accessor per use. A
held reference dies on release — a freed localCheckpoint has no
lineage to recompute from.
"""

from __future__ import annotations

import logging
import threading
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

log = logging.getLogger(__name__)

_ARTIFACTS: dict = {}  # (kind, applicationId, sf_dir) -> DataFrame | value
_OWNED_IDS: set[int] = set()  # RDD ids behind the checkpoint artifacts
# Builds are expensive Spark jobs: concurrent first calls must run ONE
# build, or the loser's checkpoint leaks (ADVICE r12). Re-entrant,
# because a build may fetch another artifact (dup components read the
# verified pairs).
_LOCK = threading.RLock()


def logical_rdds(df: DataFrame) -> list:
    """The JVM RDDs behind the LogicalRDD leaves of ``df``'s analyzed
    plan — checkpoints and driver-local ``createDataFrame`` data alike."""
    leaves = df._jdf.queryExecution().analyzed().collectLeaves()
    return [
        leaf.rdd()
        for leaf in (leaves.apply(i) for i in range(leaves.size()))
        if leaf.getClass().getSimpleName() == "LogicalRDD"
    ]


def free_local_ckpt(df: DataFrame, blocking: bool = True) -> list[int]:
    """Release the RDD blocks behind a ``localCheckpoint()``-backed
    DataFrame (or any plan built over one) and return the released RDD
    ids (``finalize_job`` drains exactly these instead of requiring
    globally-empty storage).

    Walks the analyzed plan's LEAVES, so a projection-rooted plan
    (``select(...)`` over the checkpoint) releases too.

    ``blocking=True`` is the job-boundary contract ("storage is free
    when this returns" — finalize_job, corpus switch, sink writes);
    ``blocking=False`` is for superseded generations inside iterative
    loops (connected_components), where the next materialization is the
    natural barrier and a synchronous wait per iteration only adds
    latency.

    No-op (with a logged warning) where the JVM plan handle is
    unavailable (Spark Connect) — blocks then live until session end,
    which the log line makes visible instead of silent.
    """
    ids: list[int] = []
    try:
        for rdd in logical_rdds(df):
            ids.append(rdd.id())
            rdd.unpersist(blocking)
    except Exception as exc:  # pragma: no cover - Connect/teardown path
        log.warning(
            "checkpoint release failed (blocks may remain pinned until "
            "session end): %s", exc,
        )
    return ids


def corpus_artifact(
    kind: str,
    spark: SparkSession,
    sf_dir: str,
    build: Callable[[SparkSession, str], object],
):
    """Return the ``kind`` artifact of (session, corpus), running
    ``build(spark, sf_dir)`` on first use. A build that returns a
    DataFrame must return a materialized ``localCheckpoint``: its
    blocks become registry-owned and are freed by the next release.
    Entering a new (session, corpus) releases every artifact of the old
    one first. See the module docstring for the lifetime rules."""
    key = (kind, spark.sparkContext.applicationId, sf_dir)
    hit = _ARTIFACTS.get(key)
    if hit is not None:
        return hit
    with _LOCK:
        hit = _ARTIFACTS.get(key)
        if hit is not None:
            return hit
        if any(k[1:] != key[1:] for k in _ARTIFACTS):
            release_corpus_artifacts()
        value = build(spark, sf_dir)
        if isinstance(value, DataFrame):
            _OWNED_IDS.update(r.id() for r in logical_rdds(value))
        _ARTIFACTS[key] = value
        return value


def release_corpus_artifacts() -> list[int]:
    """Release every corpus artifact: free the checkpoint blocks, drop
    the driver-side ones, and drop every prepared plan (some read the
    freed blocks). Returns the freed RDD ids."""
    from pygeoapi_ingestor_spark.plans import prepared

    with _LOCK:
        prepared.clear()
        ids: list[int] = []
        for value in _ARTIFACTS.values():
            if isinstance(value, DataFrame):
                ids.extend(free_local_ckpt(value))
        _ARTIFACTS.clear()
        _OWNED_IDS.clear()
        return ids


def owned_rdd_ids() -> frozenset[int]:
    """RDD ids of the checkpoint artifacts the registry currently owns."""
    return frozenset(_OWNED_IDS)
