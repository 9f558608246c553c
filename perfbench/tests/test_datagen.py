"""The seeded generators: same seed, same bytes; another seed, other bytes;
and the medallion expectations agree with a real pipeline run."""

from __future__ import annotations

import hashlib
import os

import pytest

from perfbench import datagen, tracing, workloads


def _digest(directory: str) -> dict[str, str]:
    return {
        name: hashlib.sha256(open(os.path.join(directory, name), "rb").read()).hexdigest()
        for name in sorted(os.listdir(directory))
    }


@pytest.mark.parametrize(
    "generate",
    [
        lambda seed, d: datagen.medallion_csvs(seed, 2, d),
        lambda seed, d: datagen.corpus_tables(seed, 200, 100, d),
    ],
    ids=["medallion", "corpus"],
)
def test_same_seed_same_bytes_other_seed_other_bytes(tmp_path, generate):
    a, b, c = (str(tmp_path / n) for n in "abc")
    assert generate(7, a) == generate(7, b)
    generate(8, c)
    assert _digest(a) == _digest(b)
    assert all(_digest(a)[n] != _digest(c)[n] for n in _digest(a))


def test_medallion_plants_follow_the_reference_rates(tmp_path):
    exp = datagen.medallion_csvs(3, 1, str(tmp_path))
    p = datagen.REF_PLANTS
    assert exp["row_counts"]["dim_customer"] == p["customers"] + 1  # + UNKNOWN
    assert exp["row_counts"]["fact_work_order"] == p["work_orders"] - p["work_order_null_date"]
    assert exp["row_counts"]["fact_parts_sales"] == p["sales"] - p["sale_null_work_order"] - p["sale_orphan_work_order"]
    assert exp["input_rows"] == sum(p[k] for k in ("customers", "customer_dups", "work_orders", "work_order_dups", "sales", "sale_dups"))


def test_expectations_match_a_tiny_pipeline_run(spark, tmp_path, monkeypatch):
    monkeypatch.setattr(workloads, "MEDALLION_SCALE", 1)  # the reference's size
    wl = workloads.MedallionWorkload()
    wl.generate(5, str(tmp_path))
    op = workloads.Op("medallion_etl", wl.expected["input_rows"])
    out = wl.run_op(spark, op, tracing.Tracer(False))
    assert out["row_counts"] == wl.expected["row_counts"]
    assert wl.check(op, out) is None
    assert wl.final_check() is None
    # a result that disagrees with the plants is caught
    out["row_counts"] = dict(out["row_counts"], dim_date=out["row_counts"]["dim_date"] + 1)
    assert wl.check(op, out) is not None
