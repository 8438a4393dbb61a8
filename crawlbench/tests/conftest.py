"""Run with ``python3 -m pytest crawlbench/tests -q`` from the repository root."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))


@pytest.fixture(scope="session")
def spark():
    from secretscraper_spark.session import get_spark

    s = get_spark("crawlbench-tests", master="local[2]", shuffle_partitions=2)
    yield s
    s.stop()
