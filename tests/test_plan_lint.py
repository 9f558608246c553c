"""Registry-wide plan lint (round-3 verdict ask #2): no unpartitioned
Window over unbounded input, no CartesianProduct, no nested-loop join
outside the audited whitelist — permanently prevents the plan class
fixed in round 4 (single-task global sorts at 100 TB).

The full-registry sweep lives in tools/plan_lint.py (run per-round as
``python tools/plan_lint.py``); this test runs the same linter over the
whole registry at sf0.001, plus targeted negative/positive fixtures so
the linter itself is tested.
"""

from __future__ import annotations

import sys

import numpy as np
import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

sys.path.insert(0, "/root/repo/tools")

from plan_lint import (  # noqa: E402
    NLJ_WHITELIST,
    WINDOW_WHITELIST,
    judge_lints,
    lint_built,
    lint_df,
)

SF = "/root/testdata/sf0.001"


def test_linter_flags_unpartitioned_window(spark):
    df = spark.range(100).withColumn("r", F.row_number().over(Window.orderBy("id")))
    assert "unpartitioned_window" in lint_df(df)


def test_linter_accepts_partitioned_window(spark):
    df = spark.range(100).withColumn(
        "r", F.row_number().over(Window.partitionBy(F.col("id") % 3).orderBy("id"))
    )
    assert lint_df(df) == {}


def test_linter_accepts_window_over_limit(spark):
    df = (
        spark.range(100)
        .limit(5)
        .withColumn("r", F.row_number().over(Window.orderBy("id")))
    )
    assert lint_df(df) == {}


def test_linter_accepts_scalar_attach_bnlj(spark):
    tot = spark.range(100).agg(F.sum("id").alias("t"))
    df = spark.range(100).crossJoin(F.broadcast(tot))
    assert lint_df(df) == {}


def test_linter_flags_nonscalar_bnlj(spark):
    small = spark.range(5).select(F.col("id").alias("j"))
    df = spark.range(100).join(F.broadcast(small), F.col("id") > F.col("j"))
    assert "nested_loop_join" in lint_df(df)


@pytest.mark.slow
def test_full_registry_plan_lint(spark, registry_lints):
    """Every registry query's plan, linted as lint_registry does. The
    oracle tests record the lint of each frame they build; a query they
    did not build here is built and linted now."""
    from lakehouse_spark_spark.plans import queries as Q

    results = {
        name: registry_lints[name] if name in registry_lints else lint_built(lambda b=b: b(spark, SF))
        for name, b in Q.queries().items()
    }
    violations, stale, errors = judge_lints(results)
    assert errors == {}, errors
    assert stale == [], f"stale whitelist entries (pattern gone — remove): {stale}"
    assert violations == {}, violations


def test_whitelists_documented():
    for wl in (WINDOW_WHITELIST, NLJ_WHITELIST):
        for name, reason in wl.items():
            assert len(reason) > 10, f"{name}: whitelist entries need a real reason"


def test_no_registered_query_reaches_bounded_baselines():
    """Verification-only `_bounded` operators (100 TB-unsafe twins kept
    to verify the distributed forms) must be unreachable from plans/."""
    from tools.plan_lint import lint_bounded_reachability

    assert lint_bounded_reachability() == []


def test_linter_flags_plan_explosion(spark):
    """A reused-without-checkpoint frame replicates its plan per
    consumer (the round-8 triangle_counts bug: 191 exchanges). The
    fixture unions 26 copies of a distinct() — 26 shuffle exchanges in
    one plan — which must trip the _MAX_SHUFFLES rule."""
    from plan_lint import _MAX_SHUFFLES

    d = spark.range(100).select((F.col("id") % 7).alias("k")).distinct()
    df = d
    for _ in range(_MAX_SHUFFLES + 1):
        df = df.union(d)
    assert "plan_explosion" in lint_df(df)


def _literal_count(spark, build, monkeypatch) -> int:
    """Literal nodes in the optimized plan of the frame ``build()``
    returns and of every frame it checkpoints on the way (a
    checkpoint's plan hides behind its LogicalRDD)."""
    frame_cls = type(spark.range(0))
    plans = []
    checkpoint = frame_cls.localCheckpoint

    def recording(self, *args, **kwargs):
        plans.append(self._jdf.queryExecution().optimizedPlan())
        return checkpoint(self, *args, **kwargs)

    monkeypatch.setattr(frame_cls, "localCheckpoint", recording)
    plans.append(build()._jdf.queryExecution().optimizedPlan())
    monkeypatch.undo()

    def seq(s):
        return [s.apply(i) for i in range(s.size())]

    def count(node, plan_node: bool) -> int:
        own = 0 if plan_node else int(node.getClass().getSimpleName() == "Literal")
        subs = seq(node.expressions()) if plan_node else []
        return (
            own
            + sum(count(e, False) for e in subs)
            + sum(count(c, plan_node) for c in seq(node.children()))
        )

    return sum(count(p, True) for p in plans)


def test_model_size_does_not_grow_the_plan(spark, monkeypatch):
    """IVF centroids and LSH hyperplanes ride in Arrow UDF closures, not
    in the plan: ``ivf_topk`` and ``semantic_dedup`` plan the same
    number of Literal nodes at 16 cells as at 256, and ``ann_lsh_topk``
    the same at 8 planes as at 16."""
    from lakehouse_spark_spark.operators.similarity import ann_lsh_topk, ivf_topk, semantic_dedup

    rng = np.random.default_rng(3)
    vecs = spark.createDataFrame(
        [(i, [float(x) for x in rng.normal(size=4)]) for i in range(64)], "vec_id long, embedding array<double>"
    )
    queries = vecs.filter(F.col("vec_id") < 4)

    def model(rows):
        return [[float(x) for x in r] for r in rng.normal(size=(rows, 4))]

    cents = {n: model(n) for n in (16, 256)}
    planes = {n: model(n) for n in (8, 16)}
    for build in (
        lambda n: ivf_topk(vecs, queries, "vec_id", "embedding", n_probe=2, centroids=cents[n]),
        lambda n: semantic_dedup(vecs, "vec_id", "embedding", centroids=cents[n]),
    ):
        assert _literal_count(spark, lambda: build(16), monkeypatch) == _literal_count(
            spark, lambda: build(256), monkeypatch
        )
    lsh = {
        n: _literal_count(spark, lambda n=n: ann_lsh_topk(vecs, queries, "vec_id", "embedding", planes[n]), monkeypatch)
        for n in planes
    }
    assert lsh[8] == lsh[16]
