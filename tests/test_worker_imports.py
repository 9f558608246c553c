"""Python workers import the library by value.

An external harness imports ``__spark_entry__`` with the checkout on
its own ``sys.path`` and runs ``queries()`` with its own session, from a
working directory of its own and with no ``PYTHONPATH``. Its Python
workers then cannot import ``lakehouse_spark_spark``: every function
they run must arrive pickled by value (``lakehouse_spark_spark/
__init__.py``), and no executor-side body may import the package.

The test reproduces that harness in a subprocess. It builds every
registry query and picks those whose plans hold a Python node: the
returned frame's physical plan, and the physical plan of every SQL
execution the builder ran (eager and lazy checkpoints, collects). Each
picked query then runs with a ``noop`` write. A build that raises is a
failure too.

Run by hand: ``python tests/test_worker_imports.py <checkout> <sf_dir>
<out.json>`` from a directory outside the checkout, ``PYTHONPATH``
unset.
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys
import time

CHECKOUT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Physical plan nodes that run Python on the executors: Python UDFs and
# UDTFs, the map/group-in-Pandas/Arrow operators, and Python data source
# scans (``BatchScan <name> (Python)``).
PYTHON_NODE = re.compile(
    r"\b(?:ArrowEvalPython|BatchEvalPython|MapIn(?:Pandas|Arrow)|PythonMapInArrow"
    r"|FlatMap(?:Co)?GroupsIn(?:Pandas|Arrow)|AggregateInPandas|ArrowAggregatePython"
    r"|WindowInPandas|ArrowWindowPython)\w*|\bBatchScan\b.*\(Python\)"
)


def _error_line(e: BaseException) -> str:
    """The worker's own error when there is one, else the first line."""
    text = str(e)
    m = re.search(r"^\w*(?:Error|Exception): .*$", text, re.M)
    return f"{type(e).__name__}: {(m.group(0) if m else text.splitlines()[0] if text else '')[:300]}"


def probe(checkout: str, sf_dir: str, out_path: str) -> None:
    sys.path.insert(0, checkout)
    from pyspark.sql import SparkSession

    from lakehouse_spark_spark.plans.queries import queries
    from lakehouse_spark_spark.session import tune_for_oracle

    spark = (
        SparkSession.builder.master("local[4]")
        .config("spark.driver.memory", "2g")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        # keep every SQL execution in the status store, so the plans a
        # builder ran are found by position
        .config("spark.sql.ui.retainedExecutions", "1000000")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("OFF")
    tune_for_oracle(spark)
    store = spark._jsparkSession.sharedState().statusStore()
    bus = spark.sparkContext._jsc.sc().listenerBus()  # the store fills from it
    python_queries: list[str] = []
    failed: dict[str, str] = {}
    t0 = time.time()
    run_s = 0.0
    for name, build in sorted(queries().items()):
        seen = store.executionsCount()
        try:
            df = build(spark, sf_dir)
        except Exception as e:  # noqa: BLE001
            failed[name] = "build: " + _error_line(e)
            continue
        bus.waitUntilEmpty()
        plans = [df._jdf.queryExecution().executedPlan().toString()]
        if store.executionsCount() > seen:
            ran = store.executionsList(seen, store.executionsCount() - seen)
            plans += [ran.apply(i).physicalPlanDescription() for i in range(ran.size())]
        if not any(PYTHON_NODE.search(p) for p in plans):
            continue
        python_queries.append(name)
        t1 = time.time()
        try:
            df.write.format("noop").mode("overwrite").save()
        except Exception as e:  # noqa: BLE001
            failed[name] = "run: " + _error_line(e)
        run_s += time.time() - t1
    with open(out_path, "w") as fh:
        json.dump(
            {"python_queries": python_queries, "failed": failed,
             "total_s": round(time.time() - t0, 1), "run_s": round(run_s, 1)},
            fh,
        )
    spark.stop()


def test_registry_python_queries_run_outside_the_checkout(tmp_path):
    from tests.conftest import SF_SMALL

    out = tmp_path / "result.json"
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, os.path.abspath(__file__), CHECKOUT, SF_SMALL, str(out)],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=1800,
    )
    assert proc.returncode == 0 and out.exists(), proc.stderr[-3000:]
    res = json.loads(out.read_text())
    assert res["python_queries"], "no registry query runs Python: the plan match is broken"
    assert res["failed"] == {}, f"{len(res['failed'])} of {len(res['python_queries'])}: {res['failed']}"


if __name__ == "__main__":
    probe(*sys.argv[1:4])
