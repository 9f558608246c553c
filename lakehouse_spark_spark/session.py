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
- Arrow enabled for the few Pandas-UDF code paths, and for Python
  UDTFs,
- Spark's cache of generated (whole-stage codegen) classes sized to
  the working set of one driver, and keyed by the generated code
  without the stage's number, so a repeated plan reuses its classes
  instead of recompiling them with Janino on every run.
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
        # UDTFs are evaluated over Arrow batches instead of pickled rows,
        # so no registry plan (doc_sentences_udtf is the UDTF one) has a
        # pickled-row Python path. eval() is still called per row; only
        # the serialization differs, and the UDTF returns typed
        # (string, int) rows, so the output is the same either way.
        .config("spark.sql.execution.pythonUDTF.arrow.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        # Spark keeps the classes Janino compiles for whole-stage codegen
        # in an LRU cache of 100 entries by default. One medallion op
        # generates about 120 distinct classes and one pass over
        # perfbench's llm_curation ops about 200, so at 100 the cache
        # thrashes: every warm medallion op recompiled 96-100 classes and
        # every LLM pass 188-202, which HotSpot then JIT-compiled again.
        # At 2000 (10x the largest pass) a warm medallion op compiles none
        # and a warm LLM pass at most a handful. Plans and results are
        # unchanged; only whether an identical class is reused differs.
        # A static conf: it takes effect only when the session starts.
        .config("spark.sql.codegen.cache.maxEntries", "2000")
        # That cache is keyed by the generated source, whose class name
        # carries the stage number by default. Under adaptive execution
        # one plan's stages are numbered differently from run to run (1
        # and 2, then 2 and 3, then 2 and 1), so a warm op recompiled code
        # it already had: 4, 4, 4, 0, 0, 0 classes in six warm medallion
        # ops, and none without the number. Results are unchanged.
        .config("spark.sql.codegen.useIdInClassName", "false")
        # managed (incl. bucketed) tables land outside the repo
        .config("spark.sql.warehouse.dir", os.environ.get("SPARK_WAREHOUSE_DIR", "/tmp/lakehouse_spark_warehouse"))
    )
    return builder.getOrCreate()


def tune_for_oracle(spark: SparkSession) -> SparkSession:
    """Runtime-settable confs we need even on a session we didn't build
    (the driver passes its own session into ``queries()``).

    Static confs cannot be set here: Spark refuses to modify them on a
    running session. So a session not built by ``get_session`` (the
    external driver's own, for example) keeps Spark's default codegen
    cache of 100 classes and recompiles generated classes that a
    ``get_session`` session reuses (see ``get_session``). Results are the
    same either way."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # The events table carries parquet TIMESTAMP(NANOS) which Spark has no
    # native type for — read as raw nanosecond longs (loaders.load_table
    # derives a microsecond timestamp + keeps the exact ns long).
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # Arrow UDTF evaluation on the driver's own session too, so the plan
    # the driver executes is the benchmarked one (see get_session). It
    # is runtime-settable and does not change results.
    spark.conf.set("spark.sql.execution.pythonUDTF.arrow.enabled", "true")
    return spark
