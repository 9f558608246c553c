from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))


@pytest.fixture(scope="session")
def spark():
    from lakehouse_spark_spark.session import get_session

    s = get_session("perfbench-tests", cpus=2)
    yield s
    s.stop()
