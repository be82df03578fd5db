"""Round-13 hardening contracts (the four ADVICE r12 items).

1. Corpus-switch eviction in the prepared-plan registry is BATCHED:
   one clearCache per observed switch, not one per switched name —
   per-name clearing dropped the CacheManager registrations of plans
   rebuilt moments earlier, leaving them executing uncached for the
   registry's lifetime (an unpersisted InMemoryRelation recomputes
   without re-storing).
2. The verify-once artifact accessors are thread-safe: concurrent
   first calls run the expensive build exactly once and every caller
   gets the same artifact (the unsynchronized check-then-build could
   run the K·n ground-truth pass twice and leak the loser's
   localCheckpoint blocks).
3. get_spark merges caller-supplied extraJavaOptions with the
   load-bearing -Xss32m pin instead of letting extra_conf replace it;
   the same merge keeps a local driver's compile policy (the minimum
   JIT compiler pool and raised C2 thresholds) flag by flag, which
   non-local masters and executor JVMs never get, and the pytest
   session's live driver JVM runs with it.
4. (spatial.py) the bounded-summary union-find collects the run-edge
   list via Arrow — two int64 columns, not ~width² Row objects —
   covered by test_spatial's label-parity tests running through the
   same path.
"""

from __future__ import annotations

import os
import sys
import threading

import pytest

from pygeoapi_ingestor_spark.functions import storage


def test_corpus_switch_batch_eviction_single_clear(spark, sf_dir, tmp_path, monkeypatch):
    storage.release_corpus_artifacts()
    a, b = str(tmp_path / "corpusA"), str(tmp_path / "corpusB")
    for n in ("n1", "n2", "n3"):
        storage.prepared_plan(n, spark, a, lambda: spark.range(3))
    calls: list[int] = []
    monkeypatch.setattr(
        spark.catalog, "clearCache", lambda: calls.append(1)
    )
    for n in ("n1", "n2", "n3"):
        storage.prepared_plan(n, spark, b, lambda: spark.range(3))
    assert sum(calls) == 1, (
        "a corpus switch must clear the session cache exactly ONCE — "
        "per-name clears drop the persists of plans rebuilt after the "
        "first eviction"
    )
    # all three names now live under corpus B
    assert {k[0] for k in storage._PLANS} == {"n1", "n2", "n3"}
    assert {k[2] for k in storage._PLANS} == {b}
    storage.release_corpus_artifacts()


def test_prepared_no_clear_without_stale_entries(spark, sf_dir, monkeypatch):
    storage.release_corpus_artifacts()
    calls: list[int] = []
    monkeypatch.setattr(spark.catalog, "clearCache", lambda: calls.append(1))
    storage.prepared_plan("fresh1", spark, sf_dir, lambda: spark.range(2))
    storage.prepared_plan("fresh2", spark, sf_dir, lambda: spark.range(2))
    assert not calls, "same-corpus registrations must not clear the cache"
    storage.release_corpus_artifacts()


def _accessor(kind):
    from pygeoapi_ingestor_spark.plans import queries_curation as qcur
    from pygeoapi_ingestor_spark.plans import queries_etl as qetl
    from pygeoapi_ingestor_spark.plans import queries_llm as qllm

    return {
        "vp": qllm.shared_verified_pairs,
        "cc": qllm.shared_dup_components,
        "km": qllm.shared_kmeans_cents,
        "rc": qllm.shared_rocchio_cents,
        "anngt": qllm.shared_ann_gt,
        "iso": qetl._iso_labeled,
        "words": qcur._words_df,
    }[kind]


@pytest.mark.parametrize("kind", ["vp", "cc", "km", "rc", "anngt", "iso", "words"])
def test_shared_artifact_concurrent_build_runs_once(spark, sf_dir, kind):
    """Concurrent first calls run ONE build: every caller gets the same
    artifact object, and after one release no checkpoint the build made
    stays persisted (a second, racing build would leak its blocks)."""
    from pygeoapi_ingestor_spark.functions.storage import release_corpus_artifacts

    def checkpoints():
        return {
            int(i) for i, r in spark.sparkContext._jsc.getPersistentRDDs().items()
            if r.rdd().isLocallyCheckpointed()
        }

    release_corpus_artifacts()
    before = checkpoints()
    fetch = _accessor(kind)
    results: list = []
    threads = [
        threading.Thread(target=lambda: results.append(fetch(spark, sf_dir)))
        for _ in range(4)
    ]
    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)  # interleave the check-then-build
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=300)
    finally:
        sys.setswitchinterval(switch)
    release_corpus_artifacts()
    assert not any(t.is_alive() for t in threads)
    assert len(results) == 4
    assert len({id(r) for r in results}) == 1, (
        "every caller must receive the same artifact object"
    )
    assert not checkpoints() - before, "a build's checkpoint outlived the release"


def test_kmeans_cents_concurrent_build_runs_once(spark, sf_dir, monkeypatch):
    from pygeoapi_ingestor_spark.functions.storage import release_corpus_artifacts
    from pygeoapi_ingestor_spark.operators import similarity
    from pygeoapi_ingestor_spark.plans import queries_llm as qllm

    release_corpus_artifacts()
    fits: list[int] = []
    orig = similarity.kmeans_fit_int8

    def counting(*a, **kw):
        fits.append(1)
        return orig(*a, **kw)

    monkeypatch.setattr(similarity, "kmeans_fit_int8", counting)
    results: list = []
    threads = [
        threading.Thread(
            target=lambda: results.append(qllm.shared_kmeans_cents(spark, sf_dir))
        )
        for _ in range(4)
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert len(fits) == 1
    assert all(r == results[0] for r in results)
    release_corpus_artifacts()


# where _builder_conf records the master it was given
MASTER = "<master>"


def _builder_conf(**kwargs) -> dict:
    """The conf map ``get_spark(**kwargs)`` hands the session builder.
    The merge happens at builder time; a live getOrCreate would no-op
    against the running session, so a fake builder captures it and no
    session starts."""
    from pyspark.sql import SparkSession

    from pygeoapi_ingestor_spark import session as sess

    captured: dict = {}

    class FakeBuilder:
        def appName(self, *_):
            return self

        def master(self, m):
            captured[MASTER] = m
            return self

        def config(self, k, v):
            captured[k] = v
            return self

        def getOrCreate(self):
            return None

    # save the class ATTRIBUTE (the classproperty descriptor), not the
    # evaluated property — restoring an evaluated Builder instance would
    # pin one shared builder for the rest of the pytest session
    orig = SparkSession.__dict__["builder"]
    try:
        SparkSession.builder = FakeBuilder()
        sess.get_spark(**kwargs)
    finally:
        SparkSession.builder = orig
    return captured


def _driver_opts(opts: str) -> str:
    conf = _builder_conf(extra_conf={"spark.driver.extraJavaOptions": opts})
    return conf["spark.driver.extraJavaOptions"]


def test_extra_java_options_merge_keeps_xss_pin():
    """extra_conf supplying its own extraJavaOptions must not replace
    the -Xss32m canonicalization-StackOverflow pin (ADVICE r12)."""
    v = _driver_opts("-Dfoo=bar")
    assert "-Xss32m" in v and "-Dfoo=bar" in v
    # r14: the concurrent-explicit-GC pin must survive the merge too
    assert "-XX:+ExplicitGCInvokesConcurrent" in v
    # a caller explicitly choosing its own stack size wins; the GC pin
    # is still prepended (the caller did not mention the flag)
    v = _driver_opts("-Xss64m")
    assert v.endswith("-Xss64m") and "-Xss32m" not in v
    assert "-XX:+ExplicitGCInvokesConcurrent" in v
    # a caller explicitly DISABLING concurrent explicit GC wins — the
    # merge must not re-add the + form
    v = _driver_opts("-XX:-ExplicitGCInvokesConcurrent")
    assert "-XX:+ExplicitGCInvokesConcurrent" not in v
    assert "-Xss32m" in v


DAEMON = "pygeoapi_ingestor_spark.worker_daemon"
# a local driver's compile policy: the minimum tiered compiler pool and
# C2 (tier-4) thresholds at 10x HotSpot's defaults
POLICY = {
    "CICompilerCount": "2",
    "Tier4InvocationThreshold": "50000",
    "Tier4MinInvocationThreshold": "6000",
    "Tier4CompileThreshold": "150000",
    "Tier4BackEdgeThreshold": "400000",
}


def _flags(opts: str) -> list[str]:
    """The -XX flag names ``opts`` sets, one entry per setting."""
    return [
        t[len("-XX:"):].split("=")[0] for t in opts.split()
        if t.startswith("-XX:") and "=" in t
    ]


@pytest.mark.parametrize("extra", [None, "-Dfoo=bar"])
def test_local_driver_gets_minimum_compiler_pool(extra):
    """A local master runs every task in the driver JVM: its options
    carry each flag of the compile policy exactly once, at the policy's
    value, with or without caller flags, and its Python workers fork
    from the package's daemon, importable from any cwd."""
    conf = _builder_conf(
        master="local[4]",
        extra_conf={"spark.driver.extraJavaOptions": extra} if extra else None,
    )
    v = conf["spark.driver.extraJavaOptions"]
    for name, value in POLICY.items():
        assert v.split().count(f"-XX:{name}={value}") == 1, (name, v)
        assert v.count(f"{name}=") == 1, (name, v)
    assert conf["spark.python.daemon.module"] == DAEMON
    import pygeoapi_ingestor_spark

    parent = os.path.dirname(os.path.dirname(pygeoapi_ingestor_spark.__file__))
    assert conf["spark.executorEnv.PYTHONPATH"] == parent


def test_caller_compiler_count_wins():
    """A caller's own CICompilerCount is kept and ours is not added;
    both load-bearing pins stay, and the Python-side local rule is not
    switched off by the caller's JVM flag."""
    conf = _builder_conf(
        master="local[4]",
        extra_conf={"spark.driver.extraJavaOptions": "-XX:CICompilerCount=4"},
    )
    v = conf["spark.driver.extraJavaOptions"]
    assert v.split() == [
        "-Xss32m", "-XX:+ExplicitGCInvokesConcurrent",
        *(f"-XX:{n}={x}" for n, x in POLICY.items() if n != "CICompilerCount"),
        "-XX:CICompilerCount=4",
    ]
    assert conf["spark.python.daemon.module"] == DAEMON


def test_caller_tier4_threshold_wins_and_other_pins_stay():
    """The merge is per flag: a caller's own Tier4InvocationThreshold is
    kept and ours is not added, and every other pin still is."""
    v = _driver_opts("-XX:Tier4InvocationThreshold=7000")
    assert v.split()[-1] == "-XX:Tier4InvocationThreshold=7000"
    assert sorted(_flags(v)) == sorted(POLICY)
    for name, value in POLICY.items():
        if name != "Tier4InvocationThreshold":
            assert f"-XX:{name}={value}" in v.split(), (name, v)
    assert "-Xss32m" in v and "-XX:+ExplicitGCInvokesConcurrent" in v


def test_live_driver_jvm_runs_the_compile_policy(spark):
    """HotSpot itself reports the policy in the pytest session's driver
    JVM (a local master started by get_spark): the builder's conf alone
    cannot show that the flags reached the JVM."""
    jvm = spark._jvm
    bean = jvm.java.lang.management.ManagementFactory.getPlatformMXBean(
        jvm.java.lang.Class.forName("com.sun.management.HotSpotDiagnosticMXBean")
    )
    live = {name: bean.getVMOption(name).getValue() for name in POLICY}
    assert live == POLICY


def test_default_core_count_follows_cpu_affinity(monkeypatch):
    """Without SPARK_GRAFT_CPUS a local session gets one task thread per
    CPU this process may run on, not per CPU of the host."""
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.setattr(os, "sched_getaffinity", lambda pid: {0, 2})
    monkeypatch.setattr(os, "cpu_count", lambda: 64)
    conf = _builder_conf()
    assert conf[MASTER] == "local[2]"
    assert conf["spark.sql.shuffle.partitions"] == "4"


@pytest.mark.parametrize("master", ["spark://h:7077", "local-cluster[2,1,1024]"])
def test_non_local_master_keeps_jvm_ergonomics(master):
    """A driver that runs no tasks keeps HotSpot's compiler pool and
    pyspark's own daemon; the rules follow the master, not the host."""
    local = _builder_conf(master="local[2]")
    assert set(_flags(local["spark.driver.extraJavaOptions"])) >= set(POLICY)
    assert local["spark.python.daemon.module"] == DAEMON
    conf = _builder_conf(
        master=master,
        extra_conf={"spark.driver.extraJavaOptions": "-Dfoo=bar"},
    )
    assert not set(_flags(conf["spark.driver.extraJavaOptions"])) & set(POLICY)
    assert not set(_flags(conf["spark.executor.extraJavaOptions"])) & set(POLICY)
    assert "spark.python.daemon.module" not in conf
    assert "spark.executorEnv.PYTHONPATH" not in conf


CKPT_MANAGER = "spark.sql.streaming.checkpointFileManagerClass"


@pytest.mark.parametrize("master", [None, "local", "local[2]", "local[*]"])
def test_local_master_renames_checkpoints_without_filecontext(master):
    """A local master's stream checkpoints go through the FileSystem-based
    manager (one rename(2) per file, no forked readlink), and its session
    is marked as shipping the package through the workers' path."""
    conf = _builder_conf(master=master)
    assert conf[CKPT_MANAGER] == (
        "org.apache.spark.sql.execution.streaming.checkpointing."
        "FileSystemBasedCheckpointFileManager"
    )
    assert conf["spark.pygeoapi_ingestor_spark.shipped"] == "true"


@pytest.mark.parametrize("master", ["spark://h:7077", "local-cluster[2,1,1024]"])
def test_non_local_master_keeps_spark_checkpoint_manager(master):
    """Spark's default manager (FileContext, atomic rename) and the
    addPyFile shipping stay on masters whose executors are elsewhere."""
    conf = _builder_conf(master=master)
    assert CKPT_MANAGER not in conf
    assert "spark.pygeoapi_ingestor_spark.shipped" not in conf


@pytest.mark.parametrize("extra", [None, "-Dfoo=bar"])
def test_executor_options_never_cap_the_compiler_pool(extra):
    """Executor JVMs keep ergonomics: only the local driver's options
    carry the compile policy, also when the caller merges its own
    executor flags."""
    conf = _builder_conf(
        master="local[4]",
        extra_conf={"spark.executor.extraJavaOptions": extra} if extra else None,
    )
    assert set(_flags(conf["spark.driver.extraJavaOptions"])) >= set(POLICY)
    e = conf["spark.executor.extraJavaOptions"]
    assert not set(_flags(e)) & set(POLICY)
    assert "-Xss32m" in e and "-XX:+ExplicitGCInvokesConcurrent" in e


# ---------------------------------------------------------------------------
# r13 optimization-round internals: the shuffle-free shingle projection
# and the one-pass Gram-matrix power iteration must reproduce the exact
# semantics of the r12 formulations they replaced.
# ---------------------------------------------------------------------------


def test_shingles_projection_semantics(spark):
    """Projection-based shingles == the python twin of the old
    posexplode+lead formulation: distinct word 3-grams per doc,
    short docs (< n words) yield nothing, in-doc repeats dedup."""
    import re

    from pyspark.sql import functions as F

    from pygeoapi_ingestor_spark.operators import dedup

    rows = [
        (1, "the cat sat on the mat the cat sat"),  # repeated gram
        (2, "one two"),                              # too short -> none
        (3, "Alpha, beta! GAMMA delta"),             # punctuation/case
        (4, ""),                                     # empty -> none
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r["doc"], r["shingle"])
        for r in dedup.shingles(df, "doc_id", "text", n=3).collect()
    }

    def twin(doc_id, text):
        ws = [w for w in re.sub(r"[^a-z0-9\s]", " ", text.lower()).split() if w]
        return {(doc_id, " ".join(ws[i:i + 3])) for i in range(len(ws) - 2)}

    want = set()
    for doc_id, text in rows:
        want |= twin(doc_id, text)
    assert got == want
    # and it must stay shuffle-free past the spread: no Window, no
    # dropDuplicates aggregate in the plan
    plan = dedup.shingles(df, "doc_id", "text", n=3)._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan


def test_power_iteration_gram_matches_per_iteration_twin(spark):
    """The one-pass Gram formulation returns the SAME integers as the
    r12 per-iteration re-scan: w = (A^T A) v == A^T (A v) over exact
    ints. Twin computed in pure Python big-ints."""
    from pyspark.sql import functions as F

    from pygeoapi_ingestor_spark.operators import linalg

    vecs = [
        [3, -1, 7, 0], [2, 2, -5, 1], [-4, 0, 6, -2], [1, 1, 1, 1],
        [0, -3, 2, 9],
    ]
    dim, iters, scale = 4, 3, linalg.PCA_SCALE
    df = spark.createDataFrame([(v,) for v in vecs], "q_vec array<int>")
    v_got, num_got, den_got, n_got = linalg.power_iteration_int8(
        df, "q_vec", dim=dim, iters=iters
    )

    # twin: per-iteration A^T (A v) in exact big ints
    v = [scale // 10] * dim
    num = den = 0
    for _ in range(iters):
        dots = [sum(q[j] * v[j] for j in range(dim)) for q in vecs]
        w = [sum(q[i] * d for q, d in zip(vecs, dots)) for i in range(dim)]
        m = max(abs(x) for x in w) or 1
        num = sum(vi * wi for vi, wi in zip(v, w))
        den = sum(vi * vi for vi in v)
        v = [linalg._trunc_div(wi * scale, m) for wi in w]
    assert (v_got, num_got, den_got, n_got) == (v, num, den, len(vecs))


# ---------------------------------------------------------------------------
# Catalog-wide prepared statements over registry-owned corpus artifacts.
# ---------------------------------------------------------------------------


def test_owned_artifact_plan_dropped_by_release(spark, sf_dir):
    """A plan over a registry-owned checkpoint memo-hits until the
    registry releases it; the release drops the plan with the blocks,
    so it can never outlive the storage it reads. A checkpoint free
    outside the registry (a sink write, a connected_components round)
    no longer evicts it."""
    from pygeoapi_ingestor_spark.functions.storage import (
        corpus_artifact,
        free_local_ckpt,
        release_corpus_artifacts,
    )

    release_corpus_artifacts()
    builds: list[int] = []

    def build():
        builds.append(1)
        art = corpus_artifact(
            "t_ab1", spark, sf_dir, lambda s, _: s.range(4).localCheckpoint()
        )
        return art.select("id")

    df1 = storage.prepared_plan("ab1", spark, sf_dir, build)
    free_local_ckpt(spark.range(2).localCheckpoint())  # unrelated free
    df2 = storage.prepared_plan("ab1", spark, sf_dir, build)
    assert df1 is df2 and builds == [1], "an unrelated free must not evict"
    release_corpus_artifacts()
    assert not storage._PLANS, "a release must drop every prepared plan"
    df3 = storage.prepared_plan("ab1", spark, sf_dir, build)
    assert builds == [1, 1] and df3.count() == 4
    release_corpus_artifacts()


def test_guard_admits_only_registry_owned_checkpoints(spark, sf_dir):
    """The guard admits a checkpoint leaf only while the artifact
    registry owns it — a plan over any other checkpoint is rejected
    (the removed artifact_bound flag used to admit it unchecked), and
    so is a plan over an artifact the registry has already released."""
    from pygeoapi_ingestor_spark.functions.storage import (
        corpus_artifact,
        release_corpus_artifacts,
    )

    release_corpus_artifacts()
    with pytest.raises(ValueError, match="checkpoint-backed"):
        storage.prepared_plan(
            "plain_ck", spark, sf_dir, lambda: spark.range(3).localCheckpoint()
        )

    def owned():
        return corpus_artifact(
            "t_ck", spark, sf_dir, lambda s, _: s.range(3).localCheckpoint()
        )

    assert storage.prepared_plan("owned_ck", spark, sf_dir, owned).count() == 3
    stale = owned()
    release_corpus_artifacts()
    with pytest.raises(ValueError, match="checkpoint-backed"):
        storage.prepared_plan("stale_ck", spark, sf_dir, lambda: stale)
    assert not storage._PLANS


def test_prepared_wrapper_lets_build_errors_through_once(spark, sf_dir):
    """Only the guard's own rejection makes a catalog key fall back to a
    per-call build. A ValueError raised by the build itself (a regrid's
    degenerate grid axis, a PySparkValueError) propagates from the one
    build that raised it, with no "guard rejected" warning."""
    import warnings

    from pygeoapi_ingestor_spark.plans import _as_prepared

    builds = []

    def build(spark, sf_dir):
        builds.append(1)
        raise ValueError("grid must have at least 2 distinct finite x values")

    wrapped = _as_prepared("t_build_error", build)
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        with pytest.raises(ValueError, match="at least 2 distinct"):
            wrapped(spark, sf_dir)
    assert builds == [1]
    assert not [w for w in caught if "guard rejected" in str(w.message)]
    assert not [k for k in storage._PLANS if k[0] == "t_build_error"]


def test_simhash_arrow_kernel_matches_python_twin(spark):
    """The Arrow-kernel simhash must reproduce the r12 formulation's
    bits exactly: S_i = sum of occurrences whose md5-derived token hash
    has bit i set, sign rule 2*S_i > total. Twin in pure Python over a
    constructed corpus (repeats exercise the per-occurrence linearity
    that replaced the (doc, w) pre-aggregation)."""
    import hashlib
    import re

    from pygeoapi_ingestor_spark.operators import dedup

    rows = [
        (1, "alpha beta gamma alpha alpha beta"),
        (2, "one two, THREE three? four five six seven"),
        (3, "solo"),
        (4, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc"]: r["simhash"]
        for r in dedup.simhash(df, "doc_id", "text", token_hash="md5").collect()
    }

    def h64(w: str) -> int:
        hx = hashlib.md5(w.encode()).hexdigest()
        return int(hx[:15], 16) | (int(hx[15], 16) << 60)

    want = {}
    for doc_id, text in rows:
        ws = [w for w in re.sub(r"[^A-Za-z0-9\s]", " ", text).lower().split() if w]
        if not ws:
            continue  # explode of an empty token array drops the doc
        tot = len(ws)
        sim = 0
        for i in range(64):
            s_i = sum(1 for w in ws if (h64(w) >> i) & 1)
            if 2 * s_i > tot:
                sim |= 1 << i
        # JVM long: interpret bit 63 as sign
        if sim >= 1 << 63:
            sim -= 1 << 64
        want[doc_id] = sim
    assert got == want


def test_minhash_kernel_matches_python_twin(spark):
    """The Arrow minhash kernel must reproduce h_i = h1 XOR rotl(h2,
    7i+1) with per-doc signed-min semantics, including the 60-bit md5
    ring's mask-then-shift rotation. Twin in pure Python."""
    import hashlib

    from pygeoapi_ingestor_spark.operators import dedup

    rows = [(1, "aa bb cc dd ee ff gg"), (2, "aa bb cc xx yy zz ww")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc"]: list(r["signature"])
        for r in dedup.minhash_signatures(
            df, "doc_id", "text", num_hashes=32, shingle_hash="md5"
        ).collect()
    }

    def shingles3(text):
        ws = text.split()
        return {" ".join(ws[i:i + 3]) for i in range(len(ws) - 2)}

    def rotl60(v, r):
        r %= 60
        if r == 0:
            return v
        return ((v & ((1 << (60 - r)) - 1)) << r) | (v >> (60 - r))

    want = {}
    for doc_id, text in rows:
        hs = []
        for s in shingles3(text):
            hx = hashlib.md5(s.encode()).hexdigest()
            hs.append((int(hx[:15], 16), int(hx[16:31], 16)))
        want[doc_id] = [
            min(h1 ^ rotl60(h2, 7 * i + 1) for h1, h2 in hs)
            for i in range(32)
        ]
    assert got == want


def test_quantize_int8_np_matches_jvm_expression(spark):
    """The numpy quantization twin must reproduce the JVM quantize_int8
    expression bit-for-bit, including HALF_UP ties (Spark round() rounds
    half AWAY from zero; numpy's default rounds half-to-even) and the
    zero-vector scale fallback. Adversarial rows: exact .5 ties both
    signs, near-ties one ulp away, zero vectors, denormal-ish scales."""
    import math

    import numpy as np

    from pyspark.sql import functions as F

    from pygeoapi_ingestor_spark.operators.similarity import (
        quantize_int8,
        quantize_int8_np,
    )

    rows = [
        (0, [2.5, -2.5, 0.5, -0.5, 1.5, -1.5, 127.0, -127.0]),
        (1, [math.nextafter(2.5, 0.0), math.nextafter(2.5, 5.0),
             math.nextafter(-2.5, 0.0), math.nextafter(-2.5, -5.0),
             0.25, -0.25, 63.5, -63.5]),
        (2, [0.0] * 8),
        (3, [1e-12, -1e-12, 2e-12, -2e-12, 5e-13, 1e-12, 0.0, 1e-12]),
        (4, [0.1, 0.2, 0.3, -0.4, 0.05, -0.06, 0.007, 0.9999999]),
    ]
    df = spark.createDataFrame(rows, "id long, v array<double>")
    jvm = {
        r["id"]: (list(r["q_vec"]), r["q_scale"])
        for r in quantize_int8(df, "v").collect()
    }
    for rid, vec in rows:
        q, scale = quantize_int8_np(np.asarray([vec], dtype=np.float64))
        assert list(q[0]) == jvm[rid][0], f"row {rid}"
        assert float(scale[0]) == jvm[rid][1], f"row {rid} scale"


def test_cosine_topk_int8_arrow_matches_fold_path(spark, sf_dir):
    """The r13 Arrow kernel of cosine_topk_int8 (dim given) must return
    the exact rows of the fold-expression path (dim=None) on the real
    corpus — quantization, integer dots, sqrt(na)*sqrt(nb) denominator
    and (cosine desc, id asc) tie-breaks all bit-identical.

    Scope (ADVICE r13): this corpus gives every query >= k valid
    neighbors. On a corpus with FEWER than k valid rows per query the
    two paths diverge by design — the fold path ranks NULL/NaN-cosine
    rows last (they can surface when valid rows run out), the Arrow
    path drops them entirely. That divergence is documented in the
    operator docstring; the parity claim here is the >=k-valid case."""
    from pyspark.sql import functions as F

    from pygeoapi_ingestor_spark.operators.similarity import cosine_topk_int8

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet").withColumn(
        "embedding", F.transform("embedding", lambda x: x.cast("double"))
    )
    q = e.filter(F.col("vec_id") < 7)
    kwargs = dict(
        id_col="vec_id", vec_col="embedding",
        query_id_col="vec_id", query_vec_col="embedding", k=5,
    )
    old = cosine_topk_int8(e, q, **kwargs).collect()
    new = cosine_topk_int8(e, q, dim=64, **kwargs).collect()
    key = lambda r: (r["query_id"], r["rank"])  # noqa: E731
    assert sorted(map(tuple, new), key=lambda t: (t[0], t[3])) == sorted(
        map(tuple, old), key=lambda t: (t[0], t[3])
    )
