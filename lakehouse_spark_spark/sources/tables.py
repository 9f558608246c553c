"""Bucketed table layout: the one table writer beyond the plain sinks.

Gold and staging tables are written with ``sources/sinks.write_parquet``
(idempotent overwrite + partition columns) and read back with
``spark.read.parquet``. Neither delta-spark nor an Iceberg catalog is
installed; MERGE and snapshots are emulated over parquet
(``sources/sinks.upsert_parquet``, ``sources/snapshots``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def write_bucketed(
    df: DataFrame, table_name: str, bucket_cols: list[str], buckets: int = 32, mode: str = "overwrite"
) -> None:
    """Persist as a bucketed (and sorted) managed table: joins and
    aggregations on the bucket columns then run SHUFFLE-FREE — both
    sides are already hash-partitioned on disk. This is the 100 TB
    answer to repeated fact⋈fact joins (e.g. lineitem⋈orders on
    orderkey): pay one layout write, skip the exchange on every
    subsequent query. Verified by tests/test_plans.py (no Exchange in
    the bucketed-join physical plan)."""
    (
        df.write.mode(mode)
        .format("parquet")
        .bucketBy(buckets, *bucket_cols)
        .sortBy(*bucket_cols)
        .saveAsTable(table_name)
    )
