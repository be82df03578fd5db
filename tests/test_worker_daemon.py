"""The local-mode Python worker daemon (``worker_daemon``): importing it
starts no Python thread and no daemon; a session from ``get_spark``
started in a working directory outside the checkout forks its workers
from the package's daemon, and the Arrow kernels they run give the same
rows as in the test session."""

from __future__ import annotations

import json
import os
import subprocess
import sys

from pygeoapi_ingestor_spark.plans import QUERIES

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

SCRIPT = """
import json, os, sys
sys.path.insert(0, sys.argv[1])
from pygeoapi_ingestor_spark.plans import QUERIES
from pygeoapi_ingestor_spark.session import get_spark

spark = get_spark(master="local[2]")

def parent_cmd(batches):
    import pandas as pd
    with open(f"/proc/{os.getppid()}/cmdline", "rb") as f:
        cmd = f.read().replace(b"\\0", b" ").decode()
    for _ in batches:
        yield pd.DataFrame({"cmd": [cmd]})

cmd = spark.range(1, numPartitions=1).mapInPandas(parent_cmd, "cmd string").first()[0]
rows = [repr(tuple(r)) for r in QUERIES["spi_gamma"](spark, sys.argv[2]).collect()]
print(json.dumps({"cmd": cmd, "rows": sorted(rows)}))
spark.stop()
"""


def test_spi_gamma_from_outside_the_checkout_matches(spark, sf_dir, tmp_path):
    env = {**os.environ, "SPARK_GRAFT_DRIVER_MEM": "1g"}
    env.pop("PYTHONPATH", None)
    out = subprocess.run(
        [sys.executable, "-c", SCRIPT, REPO, sf_dir],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    got = json.loads(out.stdout.strip().splitlines()[-1])
    assert "pygeoapi_ingestor_spark.worker_daemon" in got["cmd"]
    here = sorted(repr(tuple(r)) for r in QUERIES["spi_gamma"](spark, sf_dir).collect())
    assert here and got["rows"] == here


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
