"""The tail-percentile rule and the metric names."""

from __future__ import annotations

import json
import os
import re

import pytest

from perfbench import run, stats, tracing

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
METRIC_NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


@pytest.mark.parametrize("n,expected", [(5, None), (19, None), (20, 50.0), (40, 75.0), (100, 90.0), (1000, 99.0)])
def test_tail_percentile_leaves_ten_samples_beyond(n, expected):
    assert stats.tail_percentile(n) == expected


def test_tail_reports_value_and_counts():
    values = [float(i) for i in range(1, 101)]
    t = stats.tail(values)
    assert t == {"percentile": 90.0, "value": 90.0, "samples": 100, "beyond": 10}
    assert sum(v > t["value"] for v in values) >= 10
    assert stats.tail(values[:15]) is None


def _benchmark() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_reported_metrics_are_the_declared_ones():
    bench = _benchmark()
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == {k: run.UNITS[k] for k in run.END_TO_END}
    per_op = [{"latency_s": 1.0, "exec": dict.fromkeys([*run.probes.EXEC_FIELDS, "task_ms", "task_cpu_ns"], 1)}]
    wl = run.workloads.MedallionWorkload()
    layer = run.layer_metrics(wl, tracing.Tracer(True), per_op, 4, {"driver": 1.0, "jvm": 1.0, "pyworker": 0.0})
    layer_names = set(layer) | {"session.start_s", "session.warm_s"}
    assert {m["name"] for m in bench["per_layer"]} == layer_names
    assert {w["name"] for w in bench["workloads"]} <= set(run.workloads.WORKLOADS)


def test_metric_names_use_only_allowed_characters():
    bench = _benchmark()
    names = [m["name"] for m in bench["end_to_end"] + bench["per_layer"]] + [w["name"] for w in bench["workloads"]]
    assert all(METRIC_NAME.match(n) for n in names)
    assert len(names) == len(set(names))
