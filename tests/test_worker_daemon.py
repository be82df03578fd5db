"""The local-mode Python worker daemon (``worker_daemon``): importing it
starts no Python thread and no daemon; a session from ``get_spark``
started in a working directory outside the checkout forks its workers
from the package's daemon, which imports pyspark and py4j from the
installed packages rather than SPARK_HOME's source zips, ships no
package zip, and the Arrow kernels its workers run give the same rows
as in the test session. A session built outside ``get_spark`` ships the
zip and gives the same rows too, also when it is served through the
driver contract (``__spark_entry__.queries()``)."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import zipfile
from importlib import metadata

import pytest

from pygeoapi_ingestor_spark.plans import QUERIES

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

SCRIPT = """
import json, os, sys
sys.path.insert(0, sys.argv[1])
from pygeoapi_ingestor_spark.plans import QUERIES
from pygeoapi_ingestor_spark.session import get_spark

if sys.argv[3] == "get_spark":
    spark = get_spark(master="local[2]")
else:
    from pyspark.sql import SparkSession
    spark = (SparkSession.builder.master("local[2]")
             .config("spark.ui.enabled", "false")
             .config("spark.driver.memory", "1g").getOrCreate())

def worker(batches):
    import pandas as pd
    import py4j
    import pyspark
    with open(f"/proc/{os.getppid()}/cmdline", "rb") as f:
        cmd = f.read().replace(b"\\0", b" ").decode()
    for _ in batches:
        yield pd.DataFrame({"cmd": [cmd], "pyspark": [pyspark.__file__],
                            "py4j": [py4j.__file__]})

w = spark.range(1, numPartitions=1).mapInPandas(
    worker, "cmd string, pyspark string, py4j string").first()
rows = [repr(tuple(r)) for r in QUERIES["spi_gamma"](spark, sys.argv[2]).collect()]
print(json.dumps({**w.asDict(), "rows": sorted(rows),
                  "files": list(spark.sparkContext.listFiles)}))
spark.stop()
"""


def _outside(tmp_path, sf_dir, session):
    """Run SCRIPT with a ``session`` in a fresh interpreter whose cwd is
    outside the checkout and whose PYTHONPATH is unset."""
    env = {**os.environ, "SPARK_GRAFT_DRIVER_MEM": "1g"}
    env.pop("PYTHONPATH", None)
    out = subprocess.run(
        [sys.executable, "-c", SCRIPT, REPO, sf_dir, session],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    return json.loads(out.stdout.strip().splitlines()[-1])


def test_spi_gamma_from_outside_the_checkout_matches(spark, sf_dir, tmp_path):
    got = _outside(tmp_path, sf_dir, "get_spark")
    assert "pygeoapi_ingestor_spark.worker_daemon" in got["cmd"]
    # the workers import compiled modules, not SPARK_HOME's source zips
    for mod in ("pyspark", "py4j"):
        assert ".zip" not in got[mod] and got[mod].endswith(".py"), got[mod]
    # the workers' PYTHONPATH holds the package: nothing is shipped
    assert got["files"] == []
    here = sorted(repr(tuple(r)) for r in QUERIES["spi_gamma"](spark, sf_dir).collect())
    assert here and got["rows"] == here


def test_session_outside_get_spark_ships_the_package(spark, sf_dir, tmp_path):
    got = _outside(tmp_path, sf_dir, "vanilla")
    assert "pyspark.daemon" in got["cmd"]
    assert [os.path.basename(f).startswith("pygeoapi_ingestor_spark_")
            and f.endswith(".zip") for f in got["files"]] == [True]
    here = sorted(repr(tuple(r)) for r in QUERIES["spi_gamma"](spark, sf_dir).collect())
    assert got["rows"] == here


ENTRY_SCRIPT = """
import importlib.util, json, os, sys
from pyspark.sql import SparkSession

spark = (SparkSession.builder.master("local[2]")
         .config("spark.ui.enabled", "false")
         .config("spark.driver.memory", "1g").getOrCreate())
sys.path.insert(0, sys.argv[1])
spec = importlib.util.spec_from_file_location(
    "__spark_entry__", os.path.join(sys.argv[1], "__spark_entry__.py"))
entry = importlib.util.module_from_spec(spec)
spec.loader.exec_module(entry)
qs = entry.queries()
print(json.dumps({k: sorted(repr(tuple(r)) for r in qs[k](spark, sys.argv[2]).collect())
                  for k in sys.argv[3:]}))
spark.stop()
"""


def test_driver_contract_serves_kernel_keys_on_a_vanilla_session(spark, sf_dir, tmp_path):
    """The driver's own check: a plain SparkSession (not ``get_spark``)
    in a cwd outside the checkout serves a mapInPandas key
    (``multimodal_meta``) and an applyInPandas key (``spi_gamma``)
    through ``__spark_entry__.queries()``. The catalog wrapper is what
    ships the package to those workers."""
    keys = ["multimodal_meta", "spi_gamma"]
    env = dict(os.environ)
    env.pop("PYTHONPATH", None)
    out = subprocess.run(
        [sys.executable, "-c", ENTRY_SCRIPT, REPO, sf_dir, *keys],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    got = json.loads(out.stdout.strip().splitlines()[-1])
    for key in keys:
        here = sorted(repr(tuple(r)) for r in QUERIES[key](spark, sf_dir).collect())
        assert got[key] and got[key] == here, key


def _zips(tmp_path, pyspark_version: str, py4j_version: str) -> list[str]:
    """A ``pyspark.zip`` whose version.py reports ``pyspark_version``
    and an (empty) ``py4j-<py4j_version>-src.zip``."""
    ps = tmp_path / "lib" / "pyspark.zip"
    ps.parent.mkdir(exist_ok=True)
    with zipfile.ZipFile(ps, "w") as z:
        z.writestr("pyspark/version.py", f"__version__: str = '{pyspark_version}'\n")
    p4 = tmp_path / "lib" / f"py4j-{py4j_version}-src.zip"
    zipfile.ZipFile(p4, "w").close()
    return [str(ps), str(p4)]


@pytest.mark.parametrize("which", ["pyspark", "py4j"])
def test_source_zips_of_another_version_stay_on_the_path(tmp_path, which):
    from pygeoapi_ingestor_spark.worker_daemon import without_source_zips

    versions = {m: metadata.version(m) for m in ("pyspark", "py4j")}
    path = ["/somewhere", *_zips(tmp_path, versions["pyspark"], versions["py4j"]), REPO]
    assert without_source_zips(path) == ["/somewhere", REPO]
    versions[which] = "0.0.1"
    path = ["/somewhere", *_zips(tmp_path, versions["pyspark"], versions["py4j"]), REPO]
    assert without_source_zips(path) == path


def test_import_starts_no_thread(tmp_path):
    out = subprocess.run(
        [sys.executable, "-c",
         "import threading, pygeoapi_ingestor_spark.worker_daemon as d; "
         "print(threading.active_count(), d.numerics.__name__)"],
        cwd=tmp_path, env={**os.environ, "PYTHONPATH": REPO},
        capture_output=True, text=True, timeout=120,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    assert out.stdout.split() == ["1", "pygeoapi_ingestor_spark.functions.numerics"]
