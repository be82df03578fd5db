"""Python worker daemon that imports the Arrow stack once, before it forks.

``session.get_spark`` names this module as ``spark.python.daemon.module``
in local mode. pyspark's own daemon imports ``pyspark.worker`` (and with
it numpy) and forks one worker per Python task slot; each worker then
imported pandas, pyarrow and this package's Arrow kernels itself: about
1.8 s of the 2.44 s UDF profile of ``bias_correction_parametric_gamma``
at sf0.01 on 4 cores was ``_find_and_load``. Imported here, the modules
are shared copy-on-write by every forked worker.

Spark starts the daemon with ``$SPARK_HOME/python/lib/pyspark.zip`` and
``py4j-*-src.zip`` first on ``PYTHONPATH``. Those zips hold no ``.pyc``
and zipimport writes none, so every session compiled pyspark and py4j
from source: on a 4-core host the daemon process took 1.5-1.85 CPU-s
per perfbench ``ingest_publish`` round, against 0.42-0.46 s importing
the same modules from the installed packages' bytecode cache. When the
installed pyspark and py4j have the zips' versions, the daemon drops
the zips from ``sys.path`` before its first import; otherwise it keeps
them, so a worker never mixes a driver's pyspark with another version.

Nothing imported here may start a Python thread: the daemon forks after
it, and a fork keeps only the forking thread. The native pools numpy
(OpenBLAS) and pyarrow (jemalloc's background thread) start on import
are stopped and restarted around ``fork`` by those libraries' own fork
handlers.
"""

import os
import re
import sys
import zipfile
from importlib import metadata


def _zip_versions(path: list[str]) -> dict[str, tuple[str, str | None]]:
    """SPARK_HOME's source zips on ``path``: entry -> (package, version).
    pyspark's version is read from the zip's ``pyspark/version.py``,
    py4j's from the zip's file name (``py4j-<version>-src.zip``)."""
    found = {}
    for entry in path:
        name = os.path.basename(entry)
        if name == "pyspark.zip":
            try:
                with zipfile.ZipFile(entry) as z:
                    src = z.read("pyspark/version.py").decode()
                m = re.search(r"__version__[^=]*=\s*['\"]([^'\"]+)", src)
                found[entry] = ("pyspark", m.group(1) if m else None)
            except (OSError, KeyError, zipfile.BadZipFile):
                found[entry] = ("pyspark", None)
        elif name.startswith("py4j-") and name.endswith("-src.zip"):
            found[entry] = ("py4j", name[len("py4j-"):-len("-src.zip")])
    return found


def without_source_zips(path: list[str]) -> list[str]:
    """``path`` without SPARK_HOME's pyspark and py4j source zips when
    every one of them has the version of the installed package, else
    ``path`` unchanged."""
    zips = _zip_versions(path)
    try:
        same = all(metadata.version(pkg) == ver for pkg, ver in zips.values())
    except metadata.PackageNotFoundError:
        return path
    return [p for p in path if p not in zips] if same else path


sys.path[:] = without_source_zips(sys.path)

import numpy  # noqa: E402, F401
import pandas  # noqa: E402, F401
import pyarrow  # noqa: E402, F401
import pyarrow.compute  # noqa: E402, F401
import pyspark.worker  # noqa: E402, F401
from pyspark import daemon  # noqa: E402
from pyspark.sql.pandas import serializers  # noqa: E402, F401

from pygeoapi_ingestor_spark.functions import numerics  # noqa: E402, F401
from pygeoapi_ingestor_spark.operators import correction, indices  # noqa: E402, F401

if __name__ == "__main__":
    daemon.manager()
