"""Registry-wide plan lint — statically rejects the plan shapes that
die at 100 TB (round-3 verdict ask #2):

1. ``Window`` with an EMPTY partition spec whose input is not bounded
   by a ``Limit`` in its subtree — a single-task global sort of the
   input. (The class fixed in round 4: customer_spend_distribution,
   doc_perplexity_buckets, order_price_recency_skyline all had one.)
2. ``CartesianProduct`` / ``BroadcastNestedLoopJoin`` in the physical
   plan outside the explicitly guarded verification-only baselines.

Whitelists are explicit (name → reason) and STALE-CHECKED: a whitelist
entry whose query no longer exhibits the pattern fails the lint, so the
list can only shrink.

Usage:  python tools/plan_lint.py [sf_dir]      (default sf0.001)
Also imported by tests/test_plan_lint.py.
"""

from __future__ import annotations

import re
import sys

# Unpartitioned-window whitelist: name -> why the global window is
# bounded anyway. Every entry is stale-checked: if the query stops
# exhibiting the pattern the lint fails, so this list can only shrink.
# (bm25_doc_search / top_supplier_by_revenue / top_event_types_approx
# need no entry — their windows sit above a Limit / WindowGroupLimit
# the lint already recognizes as bounded.)
# Empty as of round 4: rolling_7d_reach_sketch moved to the
# halo-partition form and dpp_selective_year_revenue to a driver-side
# literal threshold — the registry has ZERO unpartitioned windows.
WINDOW_WHITELIST: dict[str, str] = {}

# Nested-loop / cartesian whitelist: name -> why the non-equi join is
# bounded or intentional. Stale-checked like the window whitelist.
NLJ_WHITELIST: dict[str, str] = {
    # VERIFICATION-ONLY O(n²) exact baseline; guard_bruteforce
    # (operators/guards.py) fail-fasts above 100k rows, and the
    # production twin (embedding_neardup_lsh_verified, same oracle) is
    # the scale path.
    "embedding_neardup_pairs": "guarded brute-force baseline (100k row ceiling)",
    # 10 probe vectors broadcast against a linear corpus scan — the
    # INTENDED exact-search pattern for a small query set; cost is
    # |corpus| x |queries|, linear in the corpus.
    "embedding_topk_cosine": "broadcast tiny probe set x corpus scan (linear)",
    # eval benchmark set broadcast x linear corpus scan — semantic
    # decontamination's intended shape (eval sets are thousands of
    # rows); the banded-LSH candidate path covers oversized eval sets.
    "semantic_decontamination_flags": "broadcast eval set x corpus scan (linear)",
    # pairwise overlap of PER-TYPE sketch rows: |event_type|² pairs of
    # 4 KB sketches — dimension cardinality, not corpus.
    "event_type_audience_overlap": "pairwise cross of per-type sketch aggregates (dim²)",
    # |region| x |priority| scaffold (≤ 5x5 rows) — the dense-grid
    # CROSS JOIN is the operator under test.
    "region_priority_grid": "dense reporting grid over two tiny dims",
}


def _walk(node, fn):
    fn(node)
    for i in range(node.children().length()):
        _walk(node.children().apply(i), fn)


def _subtree_has_limit(node) -> bool:
    """Subtree is bounded: a Limit, or a WindowGroupLimit (the rank<=k
    pushdown Catalyst inserts for filter-on-row_number patterns)."""
    found = []

    def chk(n):
        if n.getClass().getSimpleName() in ("GlobalLimit", "LocalLimit", "WindowGroupLimit"):
            found.append(True)

    for i in range(node.children().length()):
        _walk(node.children().apply(i), chk)
    return bool(found)


_AGG_EXEC = ("HashAggregateExec", "SortAggregateExec", "ObjectHashAggregateExec")


def _subtree_has_scalar_agg(node) -> bool:
    """True if the subtree contains a GLOBAL aggregate (no grouping
    keys) — it emits exactly one row, so broadcasting it into a
    nested-loop join is the standard scalar-attach pattern
    (crossJoin(broadcast(global_agg))), safe at any scale."""
    found = []

    def chk(n):
        if n.getClass().getSimpleName() in _AGG_EXEC and n.groupingExpressions().isEmpty():
            found.append(True)

    _walk(node, chk)
    return bool(found)


def _unhashable_fields(schema) -> list[str]:
    """Column names whose type contains an array or map ANYWHERE — the
    driver's correctness gate hashes result rows as Python tuples, and
    list/dict values are unhashable (the r7 multimodal_audio_features
    red row). Registry queries must project to scalar columns; the
    underlying operators may still return arrays for downstream use."""
    return [
        f.name
        for f in schema.fields
        if "array<" in f.dataType.simpleString() or "map<" in f.dataType.simpleString()
    ]


# A registry query's pre-AQE physical plan should stay well under this
# many shuffle exchanges; the deepest legitimate chain (curation_v3,
# 10 stages) has 14. Blowing past it means a reused DataFrame is
# replicating its upstream plan per consumer (the round-8
# triangle_counts bug: 191 exchanges from an uncheckpointed frame
# feeding five consumers) — truncate lineage at the reused frame.
_MAX_SHUFFLES = 24


def lint_df(df) -> dict[str, list[str]]:
    """Lint one DataFrame; returns {pattern: [details]} for violations
    BEFORE whitelisting."""
    issues: dict[str, list[str]] = {"unpartitioned_window": [], "nested_loop_join": []}
    issues["driver_unhashable_schema"] = _unhashable_fields(df.schema)
    qe = df._jdf.queryExecution()
    plan = qe.optimizedPlan()

    def visit(node):
        if node.getClass().getSimpleName() == "Window" and node.partitionSpec().isEmpty():
            if not _subtree_has_limit(node):
                issues["unpartitioned_window"].append(
                    node.simpleStringWithNodeId()
                    if hasattr(node, "simpleStringWithNodeId")
                    else "Window[] (no partition spec, unbounded input)"
                )

    _walk(plan, visit)

    # physical-plan join shapes (pre-AQE physical: exchanges not yet
    # inserted, so join children are the raw build/stream subtrees)
    phys = qe.sparkPlan()

    def pvisit(n):
        cls = n.getClass().getSimpleName()
        if cls == "CartesianProductExec":
            issues["nested_loop_join"].append("CartesianProduct")
        elif cls == "BroadcastNestedLoopJoinExec":
            build_right = "BuildRight" in n.buildSide().toString()
            build = n.children().apply(1 if build_right else 0)
            if not _subtree_has_scalar_agg(build):
                issues["nested_loop_join"].append("BroadcastNestedLoopJoin (non-scalar build side)")

    _walk(phys, pvisit)
    # Shuffle count comes from the formatted EXPLAIN string (sparkPlan()
    # predates EnsureRequirements, so it carries no Exchange nodes yet)
    jvm = df.sparkSession._jvm
    tree = qe.explainString(
        jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    ).split("\n\n(")[0]
    # \bExchange\b matches ONLY the shuffle-exchange node: no word
    # boundary exists inside BroadcastExchange or ReusedExchange, so
    # neither broadcasts nor reuses (which re-read existing shuffle
    # files, they don't re-shuffle) inflate the count — a substring
    # count would tally every ReusedExchange as a shuffle and could
    # hard-fail a healthy reuse-heavy plan.
    n_shuffles = len(re.findall(r"\bExchange\b", tree))
    if n_shuffles > _MAX_SHUFFLES:
        issues["plan_explosion"] = [
            f"{n_shuffles} shuffle exchanges (> {_MAX_SHUFFLES}) — a reused frame is "
            "replicating its upstream plan; localCheckpoint the reused frame"
        ]
    return {k: v for k, v in issues.items() if v}


def lint_bounded_reachability() -> list[str]:
    """Static rule (round-4 verdict ask #5): verification-only baseline
    operators carry a ``_bounded`` suffix (e.g.
    skyline.pareto_frontier_2d_bounded — a global-window twin kept only
    to verify the distributed form). No registered query may reach one:
    scan every module under ``plans/`` (the only code the registry
    dispatches into) for references to ``*_bounded`` functions exported
    by ``operators/``. Returns violation strings (empty = clean)."""
    import pathlib
    import re

    root = pathlib.Path(__file__).resolve().parent.parent / "lakehouse_spark_spark"
    bounded = set()
    for f in (root / "operators").glob("*.py"):
        bounded |= set(re.findall(r"^def (\w+_bounded)\(", f.read_text(), re.M))
    hits = []
    for f in (root / "plans").glob("*.py"):
        text = f.read_text()
        for name in bounded:
            for m in re.finditer(rf"\b{name}\b", text):
                line = text.count("\n", 0, m.start()) + 1
                hits.append(f"{f.name}:{line} references {name}")
    return hits


def lint_registry(spark, sf_dir: str, names: list[str] | None = None):
    """Returns (violations, stale_whitelist, errors) across the registry."""
    from lakehouse_spark_spark.plans import queries as Q

    qs = Q.queries()
    return judge_lints(
        {name: lint_built(lambda name=name: qs[name](spark, sf_dir)) for name in names or qs}
    )


def lint_built(build) -> dict[str, list[str]] | str:
    """:func:`lint_df` of the frame ``build()`` returns, or the repr of
    what building or linting it raised. Lint a frame before it runs: the
    formatted EXPLAIN of an executed adaptive plan holds its final plan
    as well as its initial one, so the shuffle count would double."""
    try:
        return lint_df(build())
    except Exception as e:  # noqa: BLE001
        return repr(e)


def judge_lints(results: dict[str, dict[str, list[str]] | str]):
    """Apply the whitelists to per-query :func:`lint_built` results;
    returns (violations, stale_whitelist, errors)."""
    violations: dict[str, dict] = {}
    flagged_ok: set[str] = set()
    errors: dict[str, str] = {}
    for name, issues in results.items():
        if isinstance(issues, str):
            errors[name] = issues
            continue
        win = issues.get("unpartitioned_window")
        nlj = issues.get("nested_loop_join")
        real: dict[str, list[str]] = {}
        if issues.get("driver_unhashable_schema"):
            # no whitelist: every registry output must be driver-hashable
            real["driver_unhashable_schema"] = issues["driver_unhashable_schema"]
        if issues.get("plan_explosion"):
            # no whitelist: replicated-subtree plans are always a bug
            real["plan_explosion"] = issues["plan_explosion"]
        if win:
            if name in WINDOW_WHITELIST:
                flagged_ok.add(name)
            else:
                real["unpartitioned_window"] = win
        if nlj:
            if name in NLJ_WHITELIST:
                flagged_ok.add(name)
            else:
                real["nested_loop_join"] = nlj
        if real:
            violations[name] = real
    stale = [
        n
        for n in (set(WINDOW_WHITELIST) | set(NLJ_WHITELIST))
        if n in results and n not in flagged_ok
    ]
    return violations, stale, errors


def main() -> int:
    sys.path.insert(0, "/root/repo")
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    names = sys.argv[2:] or None
    from lakehouse_spark_spark.session import get_session

    spark = get_session("plan-lint")
    spark.sparkContext.setLogLevel("ERROR")
    violations, stale, errors = lint_registry(spark, sf_dir, names)
    for hit in lint_bounded_reachability():
        violations.setdefault("__bounded_reachability__", {}).setdefault(
            "bounded_baseline", []
        ).append(hit)
    for name, det in sorted(violations.items()):
        print(f"[VIOLATION] {name}: {det}")
    for name in stale:
        print(f"[STALE-WHITELIST] {name}")
    for name, err in sorted(errors.items()):
        print(f"[ERROR] {name}: {err}")
    print(f"{len(violations)} violations, {len(stale)} stale, {len(errors)} errors")
    return 1 if (violations or stale or errors) else 0


if __name__ == "__main__":
    raise SystemExit(main())
