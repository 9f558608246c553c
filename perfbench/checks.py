"""Output checks, run outside the timed region.

Registry ops with an ``oracle_sql`` twin are compared with DuckDB over the
same parquet files by row count, column names and an order-insensitive
hash of the normalised rows. Medallion ops are compared with what the
input generator planted.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    """One dtype per kind of value, columns in name order, so the same
    rows hash the same whichever engine produced them."""
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            df[c] = pd.to_datetime(s).astype("datetime64[us]").astype("int64")
        elif pd.api.types.is_bool_dtype(s):
            df[c] = s.astype(bool)
        elif pd.api.types.is_integer_dtype(s):
            df[c] = s.astype("int64")
        elif pd.api.types.is_float_dtype(s):
            df[c] = s.astype("float64")
        elif s.dtype == object:
            df[c] = s.map(lambda v: v if v is None else (v.isoformat() if hasattr(v, "isoformat") else str(v)))
    return df.reset_index(drop=True)


def frame_hash(df: pd.DataFrame) -> int:
    """Sum of per-row hashes mod 2**64: independent of row order."""
    if len(df) == 0:
        return 0
    return int(pd.util.hash_pandas_object(normalize(df), index=False).to_numpy(np.uint64).sum(dtype=np.uint64))


def compare_oracle(spark_pdf: pd.DataFrame, oracle_pdf: pd.DataFrame) -> str | None:
    """None when both frames hold the same rows, else what differs."""
    if sorted(spark_pdf.columns) != sorted(oracle_pdf.columns):
        return f"columns {sorted(spark_pdf.columns)} != {sorted(oracle_pdf.columns)}"
    if len(spark_pdf) != len(oracle_pdf):
        return f"rows {len(spark_pdf)} != {len(oracle_pdf)}"
    if frame_hash(spark_pdf) != frame_hash(oracle_pdf):
        return "row hash differs"
    return None


def duckdb_connection(tables: dict[str, str]):
    import duckdb

    con = duckdb.connect()
    for name, path in tables.items():
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    return con


def check_medallion(out: dict, expected: dict) -> str | None:
    """``out`` is what one medallion op returned (see workloads); None when
    it matches the generator's expectations."""
    if out["row_counts"] != expected["row_counts"]:
        return f"gold rows {out['row_counts']} != {expected['row_counts']}"
    dq = {r["check_name"]: (float(r["metric_value"]), r["status"]) for r in out["dq"]}
    want = {k: (v, "PASS") for k, v in expected["dq"].items()}
    if dq != want:
        return f"dq {dq} != {want}"
    run_log = out["run_log"]
    logged = (run_log["rows_dim_customer"], run_log["rows_fact_work_order"], run_log["rows_fact_parts_sales"])
    if tuple(int(v) for v in logged) != (
        expected["row_counts"]["dim_customer"],
        expected["row_counts"]["fact_work_order"],
        expected["row_counts"]["fact_parts_sales"],
    ):
        return f"run log {run_log}"
    rev = out["revenue_90d"]
    if len(rev) != expected["revenue_90d_customers"] or not math.isclose(
        sum(r["total_revenue"] for r in rev), expected["revenue_90d_cents"] / 100, rel_tol=1e-9
    ):
        return "revenue_90d differs"
    if sum(r["n_orders"] for r in out["status_month"]) != expected["row_counts"]["fact_work_order"] or len(
        out["status_month"]
    ) != expected["status_month_groups"]:
        return "orders_by_status_month differs"
    ticket = out["avg_ticket"]
    if ticket["n_orders"] != expected["orders_with_sales"] or not math.isclose(
        ticket["sum_total"], expected["sales_cents"] / 100, rel_tol=1e-12
    ):
        return f"avg_ticket {ticket}"
    return None
