from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark():
    from lakehouse_spark_spark.session import get_session, tune_for_oracle

    s = get_session("tests", cpus=4)
    s.conf.set("spark.sql.shuffle.partitions", "4")
    tune_for_oracle(s)
    yield s


@pytest.fixture(scope="session")
def registry_lints():
    """tools/plan_lint.lint_built results by registry query name, filled
    by the oracle tests from the frames they build anyway and judged by
    the registry-wide plan lint, so each query is built once per run."""
    return {}


def pytest_collection_modifyitems(items):
    """Run the registry-wide plan lint after the oracle tests, whose
    lint results it reuses (see ``registry_lints``)."""
    lint = [i for i in items if i.nodeid.endswith("::test_full_registry_plan_lint")]
    if lint:
        items.remove(lint[0])
        oracle = [i for i, it in enumerate(items) if "test_queries_oracle.py::" in it.nodeid]
        items.insert(oracle[-1] + 1 if oracle else len(items), lint[0])


SF_SMALL = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"
