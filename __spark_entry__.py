"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash).

All real logic lives in ``lakehouse_spark_spark/``; this module is a
thin adapter over the query registry
(lakehouse_spark_spark/plans/queries.py).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from lakehouse_spark_spark.plans import queries as Qreg

SMOKE_SF_DIR = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0.

    Reference metric #1 (revenue per customer, last 90 days —
    /root/reference/submission_Amadeu/sql/metrics.sql:2-12) transposed
    to the TPC-H-ish star schema: scan → filter → 3-way join (dims
    broadcast) → decimal-exact agg.
    """
    return Qreg.revenue_by_customer_90d(spark, SMOKE_SF_DIR)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return Qreg.queries()


def oracle_sql() -> dict[str, str]:
    return Qreg.oracle_sql()
