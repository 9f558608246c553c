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
