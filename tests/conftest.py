from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pygeoapi_ingestor_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tests", master="local[4]", shuffle_partitions=4)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


def pytest_terminal_summary(terminalreporter, exitstatus, config):
    """Say what the default run skipped: the marker expression in force
    (pytest.ini's ``-m "not slow"`` unless overridden), how many tests it
    deselected, and the command that runs them."""
    markexpr = config.getoption("markexpr")
    if not markexpr:
        return
    deselected = terminalreporter.stats.get("deselected", [])
    n = sum(1 for item in deselected if item.get_closest_marker("slow"))
    terminalreporter.write_sep("-", "marker selection")
    terminalreporter.write_line(
        f"marker expression in force: -m {markexpr!r}; "
        f"it deselected {n} slow tests"
    )
    if n:
        terminalreporter.write_line("run them with: pytest -m slow")
