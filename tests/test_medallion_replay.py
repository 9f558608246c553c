"""Seeded golden replay: the paper's medallion job (bronze -> silver ->
gold -> DQ -> run log -> SQL metrics) on perfbench's generated dirty
CSVs, checked against the counts, DQ rows and SQL answers the generator
planted. The twin of tests/test_golden_replay.py that needs no
reference CSVs, so every tier-1 run checks the job end to end."""

from __future__ import annotations

import copy

import pytest

from perfbench import checks, workloads
from perfbench.tracing import Tracer


@pytest.mark.parametrize("scale", [1, 50])
def test_medallion_job_matches_planted_answers(spark, tmp_path, monkeypatch, scale):
    monkeypatch.setattr(workloads, "MEDALLION_SCALE", scale)
    wl = workloads.MedallionWorkload()
    wl.generate(seed=7, data_dir=str(tmp_path))
    op = wl.ops[0]
    out = wl.run_op(spark, op, Tracer(False))
    assert wl.check(op, out) is None
    assert wl.final_check() is None
    # the check can fail: a planted count off by one, or a customer
    # missing from the 90-day revenue answer, is caught
    wrong = copy.deepcopy(wl.expected)
    wrong["row_counts"]["fact_parts_sales"] += 1
    assert checks.check_medallion(out, wrong) is not None
    assert checks.check_medallion(dict(out, revenue_90d=out["revenue_90d"][1:]), wl.expected) is not None


def _janino_compiles(spark) -> int:
    return spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME().getCount()


def test_warm_medallion_op_reuses_its_generated_classes(spark, tmp_path, monkeypatch):
    """A repeated medallion op compiles no new Java class: every
    whole-stage codegen class it needs is still in Spark's codegen cache
    from the first run (get_session sizes that cache above the working
    set; at Spark's default of 100 the second run recompiles dozens)."""
    monkeypatch.setattr(workloads, "MEDALLION_SCALE", 1)
    wl = workloads.MedallionWorkload()
    wl.generate(seed=7, data_dir=str(tmp_path))
    op = wl.ops[0]
    assert wl.check(op, wl.run_op(spark, op, Tracer(False))) is None
    before = _janino_compiles(spark)
    assert wl.check(op, wl.run_op(spark, op, Tracer(False))) is None
    assert _janino_compiles(spark) - before == 0


def test_intent_mode_rewrites_exactly_the_planted_orphans(spark, tmp_path):
    """orphan_to_unknown=True (the reference's documented intent) on the
    seeded CSVs at scale 1: the same gold row counts as the parity mode,
    every work order's customer is a dim_customer key, and the rows
    rewritten to the UNKNOWN member "-1" are exactly the live work
    orders the generator planted with a customer id no customer row
    carries."""
    import csv

    from lakehouse_spark_spark.plans.pipeline import run_pipeline
    from perfbench import datagen

    datagen.medallion_csvs(7, 1, str(tmp_path))
    parity = run_pipeline(spark, str(tmp_path))
    intent = run_pipeline(spark, str(tmp_path), orphan_to_unknown=True)
    try:
        assert intent.row_counts == parity.row_counts
        keys = {r["customer_id"] for r in intent.dim_customer.select("customer_id").collect()}
        before = {r["work_order_id"]: r["customer_id"] for r in parity.fact_work_order.collect()}
        after = {r["work_order_id"]: r["customer_id"] for r in intent.fact_work_order.collect()}
        assert set(after.values()) <= keys
        with open(tmp_path / "customers.csv", newline="") as fh:
            customers = {r["customer_id"] for r in csv.DictReader(fh)}
        with open(tmp_path / "work_orders.csv", newline="") as fh:
            planted = {
                r["work_order_id"]
                for r in csv.DictReader(fh)
                if r["customer_id"] and r["customer_id"] not in customers and r["order_date"]
            }
        assert len(planted) == datagen.REF_PLANTS["work_order_orphan_customer"]
        assert {w for w, c in after.items() if c != before[w]} == planted
        assert {after[w] for w in planted} == {"-1"}
    finally:
        for res in (parity, intent):
            for df in (res.dim_customer, res.fact_work_order, res.fact_parts_sales, res.dim_date):
                df.unpersist()
