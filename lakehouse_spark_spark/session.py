"""SparkSession factory.

Reference parity: /root/reference/src/pipeline.py:12-18 builds a bare
``local[*]`` session. Ours pins the configs that matter for a real
cluster and for DuckDB-oracle comparability:

- AQE on (runtime re-planning: skew joins, partition coalescing),
- shuffle partitions sized to the local core count (at 100 TB this is
  instead set to ~2-3x total executor cores, or left to AQE's
  coalescing with a high initial value),
- session timezone pinned to UTC (Spark timestamps are session-TZ;
  DuckDB's are UTC-naive — mismatch silently shifts date_trunc buckets),
- Arrow enabled for the few Pandas-UDF code paths.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")


def get_session(app_name: str = "lakehouse_spark_spark", cpus: str | int | None = None) -> SparkSession:
    cpus = str(cpus or DEFAULT_CPUS)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # size-respecting coalescing (parallelismFirst=false + advisory
        # 64m) was implemented and A/B-measured: ngram_jaccard_capped
        # warm exec +30-45%
        # (bytes-based coalescing serializes its compute-dense pair
        # join, whose shuffle is MB-scale but whose per-row work is the
        # real cost) and no measurable win anywhere else — the tiny-
        # stage task fan-out the scaling block shows lives in the
        # 32-partition INITIAL maps (checkpointed RDDs, parallelized
        # scans), which AQE coalescing cannot touch. Rejected.
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # r16 (§4): evaluate UDTFs over Arrow batches instead of pickled
        # rows — the one remaining pickled-row Python path in the 216
        # registry plans (doc_sentences_udtf). eval() is still called
        # per row; only the serialization changes, and the UDTF returns
        # honestly-typed (string, int) rows, so output is identical.
        .config("spark.sql.execution.pythonUDTF.arrow.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        # managed (incl. bucketed) tables land outside the repo
        .config("spark.sql.warehouse.dir", os.environ.get("SPARK_WAREHOUSE_DIR", "/tmp/lakehouse_spark_warehouse"))
    )
    return builder.getOrCreate()


def tune_for_oracle(spark: SparkSession) -> SparkSession:
    """Runtime-settable confs we need even on a session we didn't build
    (the driver passes its own session into ``queries()``)."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # The events table carries parquet TIMESTAMP(NANOS) which Spark has no
    # native type for — read as raw nanosecond longs (loaders.load_table
    # derives a microsecond timestamp + keeps the exact ns long).
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # r16 (§4, runtime-settable, semantics-free): Arrow UDTF evaluation
    # on the driver's own session too, so the plan the driver executes
    # matches the benched one (see get_session).
    spark.conf.set("spark.sql.execution.pythonUDTF.arrow.enabled", "true")
    return spark
