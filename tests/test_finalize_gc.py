"""``finalize_job`` starts no GC cycle.

The ContextCleaner's periodic GC (``spark.cleaner.periodicGC.interval``,
on its own ``context-cleaner-periodic-gc`` thread) is the one GC
trigger; a ``System.gc()`` on the request path blocked each request for
a whole concurrent G1 cycle.

- A ``jdk.jfr.Recording`` of ``jdk.SystemGC`` events, started in the
  driver JVM through py4j, sees no explicit GC from any other thread
  across three ``finalize_job`` calls after a served key, and the
  key's persisted blocks are still drained.
- An AST census finds no ``System.gc``/``Runtime.gc`` call in the
  package or in ``bench.py``.
"""

from __future__ import annotations

import ast
import os

from pygeoapi_ingestor_spark.functions.storage import finalize_job
from pygeoapi_ingestor_spark.plans import QUERIES

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CLEANER_THREAD = "context-cleaner-periodic-gc"


def test_finalize_job_records_no_system_gc(spark, sf_dir, tmp_path):
    df = QUERIES["rfm_segments"](spark, sf_dir).cache()
    assert df.count() > 0
    jsc = spark.sparkContext._jsc.sc()
    assert jsc.getRDDStorageInfo()
    jvm = spark._jvm
    rec = jvm.jdk.jfr.Recording()
    rec.enable("jdk.SystemGC")
    rec.start()
    try:
        for _ in range(3):
            finalize_job(spark)
    finally:
        rec.stop()
    dump = jvm.java.io.File(str(tmp_path / "finalize.jfr")).toPath()
    rec.dump(dump)
    rec.close()
    events = jvm.jdk.jfr.consumer.RecordingFile.readAllEvents(dump)
    threads = [events.get(i).getThread().getJavaName() for i in range(events.size())]
    assert [t for t in threads if t != CLEANER_THREAD] == []
    # still drained: what stays stored is only what a caller persists
    stored = {info.id() for info in jsc.getRDDStorageInfo()}
    persistent = {int(k) for k in spark.sparkContext._jsc.getPersistentRDDs()}
    assert stored <= persistent


def _gc_calls(path: str) -> list[str]:
    """``<receiver>.gc()`` calls whose receiver names ``System`` or
    ``Runtime`` (``sc._jvm.System.gc()``, ``Runtime.getRuntime().gc()``)."""
    with open(path) as f:
        tree = ast.parse(f.read(), path)
    out = []
    for node in ast.walk(tree):
        if (isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)
                and node.func.attr == "gc"):
            receiver = ast.unparse(node.func.value)
            if receiver.endswith("System") or "Runtime" in receiver:
                out.append(f"{os.path.relpath(path, ROOT)}:{node.lineno}: {receiver}.gc()")
    return out


def test_no_explicit_gc_call_in_package_or_bench(tmp_path):
    probe = tmp_path / "probe.py"
    probe.write_text("sc._jvm.System.gc()\n"
                     "jvm.java.lang.Runtime.getRuntime().gc()\n"
                     "import gc\ngc.collect()\n")
    assert len(_gc_calls(str(probe))) == 2
    paths = [os.path.join(ROOT, "bench.py")]
    for d, _, files in os.walk(os.path.join(ROOT, "pygeoapi_ingestor_spark")):
        paths += [os.path.join(d, f) for f in files if f.endswith(".py")]
    assert len(paths) > 20
    calls = [c for p in sorted(paths) for c in _gc_calls(p)]
    assert calls == [], calls
