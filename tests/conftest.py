from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# The suite runs hundreds of short queries in one JVM, each with freshly
# generated classes, so C2 compilation of code that runs for milliseconds
# dominates its CPU. Stopping the JIT at C1 roughly halves the suite's
# wall time on 4 cores; it changes no result. A caller's own submit
# arguments win.
os.environ.setdefault(
    "PYSPARK_SUBMIT_ARGS", "--driver-java-options -XX:TieredStopAtLevel=1 pyspark-shell"
)


@pytest.fixture(scope="session")
def spark():
    from lakehouse_spark_spark.session import get_session, tune_for_oracle

    s = get_session("tests", cpus=4)
    s.conf.set("spark.sql.shuffle.partitions", "4")
    tune_for_oracle(s)
    yield s


SF_SMALL = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"
