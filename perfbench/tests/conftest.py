"""Tests of the benchmark's own parts. Run from the repository root:

    python -m pytest perfbench/tests -q
"""

import os
import sys

import pytest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [ROOT, BENCH]


@pytest.fixture(scope="session")
def spark():
    from fxa_activity_metrics_spark.session import get_spark

    s = get_spark("perfbench-tests", master="local[2]",
                  extra_conf={"spark.ui.showConsoleProgress": "false"})
    yield s
