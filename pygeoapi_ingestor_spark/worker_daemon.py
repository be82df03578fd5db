"""Python worker daemon that imports the Arrow stack once, before it forks.

``session.get_spark`` names this module as ``spark.python.daemon.module``
in local mode. pyspark's own daemon imports ``pyspark.worker`` (and with
it numpy) and forks one worker per Python task slot; each worker then
imported pandas, pyarrow and this package's Arrow kernels itself: about
1.8 s of the 2.44 s UDF profile of ``bias_correction_parametric_gamma``
at sf0.01 on 4 cores was ``_find_and_load``. Imported here, the modules
are shared copy-on-write by every forked worker.

Nothing imported here may start a Python thread: the daemon forks after
it, and a fork keeps only the forking thread. The native pools numpy
(OpenBLAS) and pyarrow (jemalloc's background thread) start on import
are stopped and restarted around ``fork`` by those libraries' own fork
handlers.
"""

import numpy  # noqa: F401
import pandas  # noqa: F401
import pyarrow  # noqa: F401
import pyarrow.compute  # noqa: F401
import pyspark.worker  # noqa: F401
from pyspark import daemon
from pyspark.sql.pandas import serializers  # noqa: F401

from pygeoapi_ingestor_spark.functions import numerics  # noqa: F401
from pygeoapi_ingestor_spark.operators import correction, indices  # noqa: F401

if __name__ == "__main__":
    daemon.manager()
