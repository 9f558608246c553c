"""lakehouse_spark_spark — a PySpark-native analytics engine.

A brand-new, Spark-first implementation of the query/data-processing
capabilities of the reference lakehouse pipeline (medallion ETL: window
dedup, typed cleaning, star-schema modeling, data-quality checks, SQL
metrics), extended with LLM-training-data operators (dedup suite,
similarity search, text analysis, multimodal columns) designed for
100 TB scale.

Everything is expressed through the DataFrame / Spark SQL API so that
Catalyst performs predicate pushdown, column pruning, join selection and
AQE re-planning; Python UDFs are used only where built-ins genuinely
cannot express the semantics (and then always Arrow-vectorized).

Python workers receive the library's functions pickled by value, so a
query runs even when its workers cannot import this package (a Spark
driver with the checkout on its own ``sys.path`` only). For
this to hold, code that runs on the executors imports the package at
module level, never inside a function body.
"""

__version__ = "0.1.0"

import sys

from pyspark import cloudpickle

cloudpickle.register_pickle_by_value(sys.modules[__name__])

from lakehouse_spark_spark.session import get_session  # noqa: E402, F401
