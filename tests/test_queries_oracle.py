"""DuckDB-oracle parity for every registered query (the driver's t2 gate,
run here at sf0.001 for speed; tools/compare_oracle.py runs sf0.01)."""

from __future__ import annotations

import pytest

from tests.conftest import SF_SMALL
from tools.compare_oracle import compare_one, load_duckdb
from tools.plan_lint import lint_built

from lakehouse_spark_spark.plans.queries import registry


@pytest.fixture(scope="module")
def duck():
    return load_duckdb(SF_SMALL)


@pytest.mark.parametrize("name", sorted(registry()))
def test_query_matches_oracle(spark, duck, registry_lints, name):
    q = registry()[name]
    df = q.builder(spark, SF_SMALL)
    registry_lints[name] = lint_built(lambda: df)  # before df runs
    if q.oracle is None:
        assert df.count() >= 0  # rows-only contract
        return
    issues = compare_one(name, df, q.oracle, duck)
    assert not issues, issues


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() > 0
    assert set(e.queries()) == set(registry())
    assert set(e.oracle_sql()) == {n for n, q in registry().items() if q.oracle}
