"""Fixtures for the benchmark's own tests: a small Spark session whose
scratch files stay in a per-session work directory."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))


@pytest.fixture(scope="session")
def workspace():
    from perfbench.common import Workspace

    ws = Workspace("tests")
    ws.configure_env()
    yield ws
    ws.remove()


@pytest.fixture(scope="session")
def spark(workspace):
    from perfbench.common import stop_spark
    from signalk_parquet_spark.session import get_spark

    s = get_spark("perfbench-tests")
    yield s
    stop_spark(s)
