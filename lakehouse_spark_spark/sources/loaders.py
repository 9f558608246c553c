"""Sources: parquet star-schema loaders and schema-pinned CSV ingest.

Reference parity: the reference ingests header CSVs with an all-string
schema (src/pipeline.py:40-42, SURVEY.md S1). We keep that mode for the
medallion replay (``read_csv_allstring``) but the primary source is
columnar parquet with the schema carried by the file — filters and
column pruning push into the scan (check ``PushedFilters`` /
``ReadSchema`` in ``df.explain("formatted")``).

Scale notes: one ``spark.read.parquet(dir)`` per table; at 100 TB the
same call reads a partitioned directory tree and Catalyst does dynamic
partition pruning — no code change. ``spark.sql.files.maxPartitionBytes``
(default 128 MB) keeps scan tasks bounded regardless of file sizes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

TPCH_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Small dimensions that should always be broadcast in joins at any scale.
BROADCAST_TABLES = {"region", "nation", "supplier", "part", "customer"}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events":
        df = normalize_event_ts(df)
    return df


def normalize_event_ts(df: DataFrame) -> DataFrame:
    """Stable contract for the events table regardless of how the parquet
    encodes its timestamp: ``ts`` is session-TZ TimestampType (µs) and
    ``ts_ns`` is the exact ns-epoch long.

    - parquet TIMESTAMP(NANOS) surfaces as a raw int64 under
      spark.sql.legacy.parquet.nanosAsLong (session.tune_for_oracle):
      keep the exact long, derive µs with integer `div` (double division
      would lose precision at 1e18).
    - parquet TIMESTAMP(MICROS) surfaces as TimestampNTZ: cast to
      session-TZ timestamp (identical values under the pinned UTC
      session) so downstream unions/joins with computed TimestampType
      columns don't mix ntz/ltz.
    Cross-engine note: DuckDB registers the same column at µs either
    way, so oracle comparisons and orderings agree at µs on both sides.
    """
    dt = df.schema["ts"].dataType
    if isinstance(dt, T.LongType):
        return df.withColumn("ts_ns", F.col("ts")).withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if isinstance(dt, T.TimestampNTZType):
        return df.withColumn("ts", F.col("ts").cast("timestamp")).withColumn(
            "ts_ns", F.unix_micros(F.col("ts")) * F.lit(1000)
        )
    if isinstance(dt, T.TimestampType):
        return df.withColumn("ts_ns", F.unix_micros(F.col("ts")) * F.lit(1000))
    return df


def load_star(spark: SparkSession, sf_dir: str, tables: tuple[str, ...] = TPCH_TABLES) -> dict[str, DataFrame]:
    return {t: load_table(spark, sf_dir, t) for t in tables}


def register_views(spark: SparkSession, sf_dir: str, tables: tuple[str, ...] = TPCH_TABLES) -> None:
    """Expose the star schema to the SQL front-end (SURVEY.md S5)."""
    for t in tables:
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)


def read_csv_allstring(spark: SparkSession, path: str) -> DataFrame:
    """Reference-parity CSV ingest: header row, every column StringType
    (src/pipeline.py:40-42). Types are imposed later by the cleaning
    operators — this keeps bronze a faithful byte-level landing zone."""
    return spark.read.option("header", True).csv(path)


def read_csv_typed(spark: SparkSession, path: str, schema: T.StructType) -> DataFrame:
    """Schema-pinned CSV ingest (the upgrade SURVEY.md §1 recommends):
    malformed cells become nulls (PERMISSIVE) instead of poisoning
    downstream casts under ANSI mode."""
    return spark.read.option("header", True).option("mode", "PERMISSIVE").schema(schema).csv(path)


def read_jsonl(spark: SparkSession, path: str, schema: T.StructType | None = None) -> DataFrame:
    """Newline-delimited JSON ingest. Always pin a schema in production:
    schema inference is a full extra pass over the data."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.orc(path)


def read_parquet_evolving(spark: SparkSession, *paths: str) -> DataFrame:
    """Schema-evolution read: union parquet datasets written at
    different schema versions (columns added over time), reconciling by
    name with ``mergeSchema`` — missing columns surface as nulls, the
    standard additive-evolution contract (renames/type-changes need a
    real table format's evolution log).

    Scale note: mergeSchema footer reconciliation reads one footer per
    file on executors — fine for a bounded set of schema generations;
    production tables pin the merged schema in a catalog instead of
    re-deriving it per query."""
    return spark.read.option("mergeSchema", True).parquet(*paths)


def read_binary_files(spark: SparkSession, directory: str, glob: str | None = None) -> DataFrame:
    """Real media ingestion: the ``binaryFile`` source reads every file
    as (path, modificationTime, length, content) — the on-ramp for the
    multimodal operators (operators/multimodal.decode_images takes the
    renamed content column). ``pathGlobFilter`` narrows to one media
    type; ``spark.sql.files.maxPartitionBytes`` still governs task
    sizing, and at 100 TB of media you partition by directory layout
    (e.g. date/shard prefixes) exactly like any other source."""
    reader = spark.read.format("binaryFile")
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    return reader.load(directory)


def local_rows_df(spark: SparkSession, rows: list[tuple], schema: str) -> DataFrame:
    """JVM-native in-memory row source (SURVEY.md S2) for small
    control-plane tables (run logs, synthetic dimension members).

    ``spark.createDataFrame(rows)`` with a Python list pickles the rows
    into a ``PythonRDD`` (the plan's ``Scan ExistingRDD``): every action
    over it starts a Python daemon with its own workers to unpickle them
    again (measured ~4 s for ONE row on a write, vs 0.2 s for the same
    data built from ``spark.range``). This helper keeps the literals
    entirely JVM-side: each column is an array literal indexed by
    ``range(n)``, so writes of control tables cost milliseconds. Use for
    driver-known constants only — data rows come from real sources;
    driver-computed tables too large for literals go through
    :func:`arrow_rows_df`.

    ``schema``: "name type, name type, …" (the createDataFrame DDL
    subset; values are cast to the declared types).
    """
    fields = [f.strip().split(None, 1) for f in schema.split(",")]
    # one select so user column names can never collide with range's id
    return spark.range(len(rows)).select(
        *[
            F.array(*[F.lit(r[i]).cast(typ) for r in rows])[F.col("id").cast("int")].alias(name)
            for i, (name, typ) in enumerate(fields)
        ]
    )


def arrow_rows_df(spark: SparkSession, rows: list[tuple], schema: str) -> DataFrame:
    """A driver-computed table (search probes, collected query vectors)
    as a JVM ``LocalRelation``: the rows go to the JVM as one Arrow
    table, so the plan is a ``LocalTableScan`` — whatever
    ``spark.sql.execution.arrow.pyspark.enabled`` says — and no action
    over it starts a Python worker. A Python list would become a
    pickled-row ``PythonRDD`` (see :func:`local_rows_df`), a pandas
    frame one too when that conf is off. ``schema`` is a DDL string;
    the columns are cast to it."""
    import pyarrow as pa

    from pyspark.sql.types import DataType

    names = DataType.fromDDL(schema).names
    cols = list(zip(*rows)) if rows else [()] * len(names)
    return spark.createDataFrame(pa.table({n: list(c) for n, c in zip(names, cols)}), schema)


def parallelize_scan(df: DataFrame, min_parts: int | None = None) -> DataFrame:
    """Redistribute a scan whose split count is below cluster
    parallelism before CPU-heavy per-row work (hashing, shingling,
    media decode).

    At 100 TB this is a no-op: ``maxPartitionBytes`` yields thousands
    of splits and the guard never fires. On a small single-row-group
    file (the local testdata), every downstream expression otherwise
    runs on ONE core — measured 8.6x on the fingerprint operator
    (3.4 s -> 0.4 s at sf0.1 on local[32]). The round-robin exchange
    ships only the scanned columns once, amortized by the 10-100x
    heavier per-row work it unlocks; operators whose first step is
    already a shuffle (explode + groupBy) gain only the pre-shuffle
    expression work and may skip this."""
    target = min_parts or df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df
