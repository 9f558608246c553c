"""Dimension builders: conformed dims with UNKNOWN members, derived
calendar dimension.

Reference parity: dim_customer = dedup + UNKNOWN(-1) union
(src/pipeline.py:98-105, SURVEY.md U1); dim_date derived from the union
of fact date columns, not an artificial range (src/pipeline.py:142-187,
defesa.txt:109-115).

Scale notes: dims are small relative to facts — build once, then
``F.broadcast()`` them into fact joins. dim_date's union/distinct is a
shuffle over *dates only* (project the single column before the union,
as the reference does) — a few KB whatever the fact size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from lakehouse_spark_spark.operators.dedup import dedup_latest


def build_dimension(
    df: DataFrame,
    key: str,
    order_col: str,
    columns: list[str],
    unknown_row: dict | None = None,
    tiebreak: list[str] | str | None = None,
) -> DataFrame:
    """Dedup-keep-latest + fixed projection + optional UNKNOWN member
    appended by name (src/pipeline.py:98-105)."""
    dim = dedup_latest(df, key, order_col, tiebreak=tiebreak).select(*columns)
    if unknown_row is not None:
        from lakehouse_spark_spark.sources.loaders import local_rows_df

        # JVM-side literal row (see local_rows_df: a pickled-row
        # Python list costs seconds per downstream write action)
        schema = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in dim.schema.fields)
        unknown = local_rows_df(dim.sparkSession, [tuple(unknown_row[c] for c in dim.columns)], schema)
        dim = dim.unionByName(unknown)
    return dim


def build_dim_date(dfs_and_cols: list[tuple[DataFrame, str]]) -> DataFrame:
    """Calendar dimension from observed fact dates
    (src/pipeline.py:142-187): project each fact to its date column,
    union, distinct, derive attributes.

    Column semantics (oracle-compatible choices):
    - date_id: yyyyMMdd int (src/pipeline.py:163)
    - day_of_week: 1=Sunday..7=Saturday (Spark ``dayofweek``)
    - month_name / day_name: full English names
    - is_weekend: day_of_week in (1, 7) (src/pipeline.py:169-173)
    """
    # try_cast: malformed date strings in dirty silver data become null
    # and are filtered (a plain cast would THROW under Spark 4 ANSI mode)
    parts = [
        df.select(F.col(c).try_cast("date").alias("date")).filter(F.col("date").isNotNull()) for df, c in dfs_and_cols
    ]
    dates = parts[0]
    for p in parts[1:]:
        dates = dates.union(p)
    dates = dates.distinct()
    return dates.select(
        F.date_format("date", "yyyyMMdd").cast("int").alias("date_id"),
        F.col("date"),
        F.year("date").alias("year"),
        F.month("date").alias("month"),
        F.date_format("date", "MMMM").alias("month_name"),
        F.dayofmonth("date").alias("day"),
        F.dayofweek("date").alias("day_of_week"),
        F.date_format("date", "EEEE").alias("day_name"),
        F.dayofweek("date").isin(1, 7).alias("is_weekend"),
    ).orderBy("date")


def scd2_from_changelog(
    changelog: DataFrame,
    key: str,
    attrs: list[str],
    ts_col: str,
    tiebreak: str | None = None,
) -> DataFrame:
    """Slowly-Changing-Dimension Type 2 from a change log: each change
    row opens a version valid until the key's next change
    (valid_from/valid_to half-open, null valid_to = current).

    Pure window formulation — one shuffle on the key, the LEAD reuses
    the same sort. At 100 TB this is the standard way to reconstruct
    dimension history from CDC events without a mutable store.
    """
    order = [F.col(ts_col)] + ([F.col(tiebreak)] if tiebreak else [])
    w = Window.partitionBy(key).orderBy(*order)
    out = changelog.select(
        F.col(key),
        *[F.col(a) for a in attrs],
        F.col(ts_col).alias("valid_from"),
        F.lead(F.col(ts_col)).over(w).alias("valid_to"),
    )
    return out.withColumn("is_current", F.col("valid_to").isNull())
