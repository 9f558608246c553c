"""The benchmark's workloads: which inputs each generates, which ops it
times, and how each op's output is checked.

An op is one call into the program plus forcing its full result:
a query-registry builder call followed by a ``noop`` write, or one
medallion ETL run (pipeline, sinks, SQL metrics).
"""

from __future__ import annotations

import csv
import datetime
import os
import time
import uuid

from perfbench import checks, datagen

# input scale of each workload (see README.md for how they were chosen)
MEDALLION_SCALE = 50  # x the reference's CSVs: 72,950 input rows
LLM_CORPUS = (1000, 1000)  # documents, embeddings: a fifth of sf0.1 (README.md)

# op name -> the tables it reads (their rows are the op's input rows).
# Left out to fit the benchmark's time budget: curation_v3_disposition (its
# DuckDB oracle, recursive CTEs, takes over two minutes on 500 documents)
# and minhash_lsh_candidates (JVM-only like entity_resolution_clusters,
# which has an oracle to check against).
LLM_OPS = {
    "entity_resolution_clusters": ("documents",),
    "embedding_ivfpq_topk": ("embeddings",),
    "multimodal_dedup_disposition": ("documents",),
}


class Op:
    def __init__(self, name: str, rows: int):
        self.name, self.rows = name, rows


class RegistryWorkload:
    """Ops that are query-registry builders over generated parquet tables.
    Each op's output row count is observed during its noop write and must
    equal the count the set-up check recorded."""

    call_span = "queries.build"
    write_span = "exec.write"

    def __init__(self, name: str, op_tables: dict[str, tuple[str, ...]]):
        self.name, self.op_tables = name, op_tables
        self.expected_rows: dict[str, int] = {}

    def generate(self, seed: int, data_dir: str) -> None:
        self.data_dir = data_dir
        self.table_rows = datagen.corpus_tables(seed, *LLM_CORPUS, data_dir)
        self.ops = [Op(n, sum(self.table_rows[t] for t in tables)) for n, tables in self.op_tables.items()]

    def run_op(self, spark, op: Op, tracer) -> int:
        """The timed op; returns its output row count."""
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        from lakehouse_spark_spark.plans.queries import registry

        builder = registry()[op.name].builder
        with tracer.span(self.call_span):
            df = builder(spark, self.data_dir)
        obs = Observation()
        with tracer.span(self.write_span):
            df.observe(obs, F.count(F.lit(1)).alias("rows")).write.mode("overwrite").format("noop").save()
        return obs.get["rows"]

    def cold_op(self, spark, op: Op, tracer) -> tuple[str | None, float]:
        """First run of an op: build it, collect its full output and check
        it. Returns (what is wrong or None, seconds spent checking)."""
        from lakehouse_spark_spark.plans.queries import registry

        with tracer.span(self.call_span):
            df = registry()[op.name].builder(spark, self.data_dir)
        with tracer.span(self.write_span):
            pdf = df.toPandas()
        t = time.perf_counter()
        oracle = registry()[op.name].oracle
        err = None
        if oracle is not None:
            con = checks.duckdb_connection(
                {t_: os.path.join(self.data_dir, f"{t_}.parquet") for t_ in self.table_rows}
            )
            try:
                err = checks.compare_oracle(pdf, con.execute(oracle).df())
            finally:
                con.close()
        elif len(pdf) == 0:
            err = "empty output"
        self.expected_rows[op.name] = len(pdf)
        return err, time.perf_counter() - t

    def check(self, op: Op, out: int) -> str | None:
        want = self.expected_rows.get(op.name)
        return None if out == want else f"{out} rows, set-up check saw {want}"

    def final_check(self) -> str | None:
        return None


def register_gold_views(spark, res) -> None:
    """Expose the gold tables under the star-schema names and columns the
    ``plans.sql_metrics`` texts query, so the reference's three metrics
    run unchanged over the pipeline's own output."""
    from pyspark.sql import functions as F

    res.fact_parts_sales.select(
        F.col("work_order_id").alias("l_orderkey"),
        F.col("total_price").alias("l_extendedprice"),
        F.lit(0).cast("decimal(4,2)").alias("l_discount"),
    ).createOrReplaceTempView("lineitem")
    res.fact_work_order.select(
        F.col("work_order_id").alias("o_orderkey"),
        F.col("customer_id").alias("o_custkey"),
        F.col("order_date").cast("date").alias("o_orderdate"),
        F.col("status").alias("o_orderstatus"),
    ).createOrReplaceTempView("orders")
    res.dim_customer.select(
        F.col("customer_id").alias("c_custkey"), F.col("customer_name").alias("c_name")
    ).createOrReplaceTempView("customer")


def _read_csv(path: str) -> list[dict]:
    with open(path, newline="") as fh:
        return list(csv.DictReader(fh))


class MedallionWorkload:
    """The paper's own job on seeded dirty CSVs: bronze -> silver -> gold
    -> DQ, the five gold/DQ single-file CSV sinks and the run log, then the
    three SQL metrics over the gold views."""

    name = "medallion_etl"
    call_span = "pipeline.run"
    write_span = "sinks.write"
    SINKS = ("dim_customer", "fact_work_order", "fact_parts_sales", "dim_date", "dq_results")

    def generate(self, seed: int, data_dir: str) -> None:
        self.data_dir = data_dir
        self.out_dir = os.path.join(data_dir, "gold")
        self.expected = datagen.medallion_csvs(seed, MEDALLION_SCALE, data_dir)
        self.ops = [Op("medallion_etl", self.expected["input_rows"])]
        self.output_bytes: list[int] = []

    def run_op(self, spark, op: Op, tracer) -> dict:
        from lakehouse_spark_spark.plans import sql_metrics
        from lakehouse_spark_spark.plans.pipeline import run_log, run_pipeline
        from lakehouse_spark_spark.sources.sinks import write_single_csv

        started = datetime.datetime.now(datetime.timezone.utc)
        with tracer.span(self.call_span):
            res = run_pipeline(spark, self.data_dir)
        with tracer.span(self.write_span):
            for t in self.SINKS:
                write_single_csv(getattr(res, t), os.path.join(self.out_dir, f"{t}.csv"))
            log_df = run_log(spark, res, str(uuid.uuid4()), started, datetime.datetime.now(datetime.timezone.utc))
            write_single_csv(log_df, os.path.join(self.out_dir, "pipeline_runs.csv"))
        with tracer.span("sql_metrics"):
            register_gold_views(spark, res)
            rev = spark.sql(sql_metrics.REVENUE_90D_SQL).collect()
            status_month = spark.sql(sql_metrics.ORDERS_BY_STATUS_MONTH_SQL).collect()
            ticket = spark.sql(sql_metrics.AVG_TICKET_SQL).collect()[0]
        for df in (res.dim_customer, res.fact_work_order, res.fact_parts_sales, res.dim_date):
            df.unpersist()
        self.output_bytes.append(sum(os.path.getsize(os.path.join(self.out_dir, f)) for f in os.listdir(self.out_dir)))
        return {
            "row_counts": res.row_counts,
            "dq": _read_csv(os.path.join(self.out_dir, "dq_results.csv")),
            "run_log": _read_csv(os.path.join(self.out_dir, "pipeline_runs.csv"))[0],
            "revenue_90d": [r.asDict() for r in rev],
            "status_month": [r.asDict() for r in status_month],
            "avg_ticket": ticket.asDict(),
        }

    def cold_op(self, spark, op: Op, tracer) -> tuple[str | None, float]:
        out = self.run_op(spark, op, tracer)
        t = time.perf_counter()
        return self.check(op, out), time.perf_counter() - t

    def check(self, op: Op, out: dict) -> str | None:
        return checks.check_medallion(out, self.expected)

    def final_check(self) -> str | None:
        """The CSVs the last op published hold one header plus the gold rows."""
        want = dict(self.expected["row_counts"], dq_results=3, pipeline_runs=1)
        for t, n in want.items():
            with open(os.path.join(self.out_dir, f"{t}.csv"), "rb") as fh:
                got = fh.read().count(b"\n") - 1
            if got != n:
                return f"{t}.csv has {got} rows, want {n}"
        return None


WORKLOADS = {
    "medallion_etl": MedallionWorkload,
    "llm_curation": lambda: RegistryWorkload("llm_curation", LLM_OPS),
}
