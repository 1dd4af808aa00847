"""trisk_datawrangle_spark — a PySpark-native analytics/ETL engine.

A from-scratch re-expression of the query and data-processing
capabilities of the reference R package ``trisk.datawrangle``
(Theia-Finance-Labs), built Spark-first: every operator is a pure
function over ``pyspark.sql.DataFrame`` that emits a declarative plan
for Catalyst/Tungsten to optimize. No RDDs, no driver-side loops, and
(for all oracle-checkable operators) zero Python UDFs.

Layout
------
- ``session``    SparkSession factory tuned for AQE + Arrow.
- ``functions``  scalar/aggregate expression helpers (SURVEY.md §2.8, §2.4).
- ``operators``  DataFrame→DataFrame operators: spine completion,
                 interpolation, windows, joins, reshape, set ops,
                 data-quality assertions, geography regrouping
                 (SURVEY.md §2.1-§2.11).
- ``sources``    typed readers/writers, the checked sink, incremental
                 key-merge and compaction (SURVEY.md §2.1).
- ``plans``      pipeline compositions mirroring the reference's
                 run_workflow stages (SURVEY.md §3).
- ``run_workflow`` the eight-stage batch runner over ``plans``.
- ``llm``        training-data operators: dedup, similarity search,
                 text analysis, multimodal column plumbing.
- ``catalog``    every operator as a (Spark query, DuckDB oracle) pair.

Everything is batch: the reference has no streaming surface
(SURVEY.md §2.12).
"""

__version__ = "0.1.0"

from trisk_datawrangle_spark.session import get_spark  # noqa: F401
