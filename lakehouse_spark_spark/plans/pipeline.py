"""Medallion pipeline: the reference's end-to-end ETL re-expressed
through the operator library.

Reference parity (src/pipeline.py bronze→silver→gold→dq→log flow,
SURVEY.md §3 E1), with the engineering fixes SURVEY.md §7 calls for:

- Gold DataFrames are cached once before fan-out (the reference
  recomputes the whole lineage for every one of its ≥11 actions);
- deterministic dedup tiebreakers (the reference has none → flaky ties);
- DQ rates computed inside Spark, not the driver;
- sinks are parquet by default (single-file CSV kept for parity runs).

Golden expectations on the reference's own dirty CSVs
(/root/reference/data/*.csv): dim_customer 81 rows, fact_work_order 397,
fact_parts_sales 923, dim_date 355, all three DQ checks PASS at 0.0
(submission_Amadeu/gold/*.csv, dq/dq_results.csv — FIXTURES.md §A.4).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lakehouse_spark_spark.operators import dq as dq_ops
from lakehouse_spark_spark.operators.cleaning import null_to_sentinel, recompute_money, typed_cast
from lakehouse_spark_spark.operators.dedup import dedup_latest
from lakehouse_spark_spark.operators.dimensions import build_dim_date, build_dimension
from lakehouse_spark_spark.operators.facts import fk_stamp, orphan_drop
from lakehouse_spark_spark.sources.loaders import read_csv_allstring


@dataclass
class PipelineResult:
    dim_customer: DataFrame
    fact_work_order: DataFrame
    fact_parts_sales: DataFrame
    dim_date: DataFrame
    dq_results: DataFrame
    row_counts: dict[str, int] = field(default_factory=dict)


def run_pipeline(spark: SparkSession, data_dir: str, orphan_to_unknown: bool = False) -> PipelineResult:
    """Bronze→Silver→Gold→DQ. ``orphan_to_unknown`` selects the
    reference's documented intent (orphan FK → -1) instead of its actual
    behavior (orphans pass through) — SURVEY.md §2.3 J1 divergence."""
    # ---- bronze: all-string landing (src/pipeline.py:40-42) ----------
    customers = read_csv_allstring(spark, f"{data_dir}/customers.csv")
    work_orders = read_csv_allstring(spark, f"{data_dir}/work_orders.csv")
    parts_sales = read_csv_allstring(spark, f"{data_dir}/parts_sales.csv")

    # ---- silver: dedup-keep-latest + typed casts (:47-93) ------------
    customers_s = dedup_latest(customers, "customer_id", "created_at", tiebreak="customer_name")
    work_orders_s = typed_cast(
        dedup_latest(work_orders, "work_order_id", "updated_at", tiebreak="order_date"),
        "order_date",
        "string",
        null_policy="drop",  # null order_date rows dropped (:65)
    )
    parts_sales_s = dedup_latest(parts_sales, "sale_id", "updated_at", tiebreak="sale_date")
    parts_sales_s = typed_cast(parts_sales_s, "quantity", "int")  # :78
    parts_sales_s = typed_cast(parts_sales_s, "unit_price", "decimal(10,2)", "default", default=0)  # :79-83
    # total_price recomputed from typed columns, source value untrusted (:86-90)
    parts_sales_s = recompute_money(parts_sales_s, "total_price", "quantity", "unit_price")

    # ---- gold: star schema (:94-187) ---------------------------------
    dim_customer = build_dimension(
        customers_s,
        key="customer_id",
        order_col="created_at",
        columns=["customer_id", "customer_name", "segment", "state"],
        unknown_row={"customer_id": "-1", "customer_name": "UNKNOWN", "segment": "UNKNOWN", "state": "UNKNOWN"},
        tiebreak="customer_name",
    )
    fact_work_order = null_to_sentinel(work_orders_s, "customer_id", "-1")  # :111-114
    # the reference's "referential stamp" (SURVEY.md J1) is a left join
    # to the customer keys that adds no column and changes no row, so
    # the parity mode skips it; only the intent mode rewrites orphans
    if orphan_to_unknown:
        fact_work_order = fk_stamp(
            fact_work_order, dim_customer, "customer_id", sentinel="-1", orphan_to_unknown=True
        )
    fact_work_order = fact_work_order.select(
        "work_order_id", "customer_id", "order_date", "status", "labor_hours", "labor_cost"
    )
    fact_parts_sales = orphan_drop(parts_sales_s, fact_work_order, "work_order_id").select(  # :124-127
        "sale_id", "work_order_id", "sku", "quantity", "unit_price", "total_price", "sale_date"
    )
    dim_date = build_dim_date([(fact_work_order, "order_date"), (fact_parts_sales, "sale_date")])  # :142-187

    # cache gold once before the DQ/sink fan-out (fix for the
    # reference's recompute-per-action lineage, SURVEY.md §4 'caching')
    for df in (dim_customer, fact_work_order, fact_parts_sales, dim_date):
        df.cache()

    # ---- dq (:189-253) ------------------------------------------------
    dq_results = (
        dq_ops.run_checks(
            dim_customer,
            [
                dq_ops.DQCheck(
                    "null_rate_customer_id", "dim_customer", dq_ops.null_rate("customer_id"), 0.01,
                    "customer_id should not be null",
                )
            ],
        )
        .unionByName(
            dq_ops.run_checks(
                fact_work_order,
                [
                    dq_ops.DQCheck(
                        "duplicate_rate_work_order", "fact_work_order", dq_ops.duplicate_rate("work_order_id"), 0.0,
                        "work_order_id must be unique",
                    )
                ],
            )
        )
        .unionByName(
            dq_ops.orphan_rate_df(
                fact_parts_sales, fact_work_order, "work_order_id",
                "orphan_rate_parts_sales", "fact_parts_sales", 0.0,
            )
        )
    )

    counts = {
        "dim_customer": dim_customer.count(),
        "fact_work_order": fact_work_order.count(),
        "fact_parts_sales": fact_parts_sales.count(),
        "dim_date": dim_date.count(),
    }
    return PipelineResult(dim_customer, fact_work_order, fact_parts_sales, dim_date, dq_results, counts)


def run_log(spark: SparkSession, result: PipelineResult, run_id: str, started_at, ended_at) -> DataFrame:
    """One-row observability record (src/pipeline.py:333-366). Built
    JVM-side (local_rows_df) — a pickled-row Python list costs seconds
    per write action in Spark 4, absurd for a 1-row control record."""
    from lakehouse_spark_spark.sources.loaders import local_rows_df

    dur = (ended_at - started_at).total_seconds()
    row = [
        (
            run_id,
            started_at.isoformat(),
            ended_at.isoformat(),
            float(dur),
            result.row_counts.get("dim_customer", -1),
            result.row_counts.get("fact_work_order", -1),
            result.row_counts.get("fact_parts_sales", -1),
        )
    ]
    return local_rows_df(
        spark,
        row,
        "run_id string, started_at string, ended_at string, duration_seconds double, "
        "rows_dim_customer long, rows_fact_work_order long, rows_fact_parts_sales long",
    )


def _main() -> None:
    """CLI parity with the reference's ``python src/pipeline.py``
    (src/pipeline.py:255,372): run the full medallion pipeline over a
    directory of the reference-format CSVs and write the six gold CSVs
    plus the run log."""
    import argparse
    import datetime
    import time
    import uuid

    from lakehouse_spark_spark.session import get_session
    from lakehouse_spark_spark.sources.sinks import write_single_csv

    ap = argparse.ArgumentParser(description="medallion pipeline: bronze CSVs -> gold CSVs + DQ + run log")
    ap.add_argument("--data-dir", required=True, help="directory of reference-format input CSVs")
    ap.add_argument("--out", required=True, help="output directory for the gold CSVs")
    ap.add_argument("--orphan-to-unknown", action="store_true", help="J1 intent mode (remap orphans to UNKNOWN)")
    args = ap.parse_args()

    spark = get_session("pipeline_cli")
    started = datetime.datetime.now(datetime.timezone.utc)
    t0 = time.perf_counter()
    res = run_pipeline(spark, args.data_dir, orphan_to_unknown=args.orphan_to_unknown)
    for name, df in [
        ("dim_customer", res.dim_customer),
        ("fact_work_order", res.fact_work_order),
        ("fact_parts_sales", res.fact_parts_sales),
        ("dim_date", res.dim_date),
        ("dq_results", res.dq_results),
    ]:
        write_single_csv(df, f"{args.out}/{name}.csv")
    ended = datetime.datetime.now(datetime.timezone.utc)
    write_single_csv(run_log(spark, res, str(uuid.uuid4()), started, ended), f"{args.out}/pipeline_runs.csv")
    print(f"pipeline done in {time.perf_counter() - t0:.1f}s -> {args.out}")


if __name__ == "__main__":
    _main()
