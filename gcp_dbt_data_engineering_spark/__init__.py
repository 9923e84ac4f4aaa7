"""PySpark-native analytics engine with the capabilities of
``dondogecl/gcp-dbt-data-engineering`` (reference surveyed in SURVEY.md),
re-expressed Spark-first and extended with LLM-data-pipeline operators
(dedup, similarity search, multimodal columns, text analysis).

Layering (see SURVEY.md §7):

- :mod:`.session`   — SparkSession factory + engine tuning confs
- :mod:`.sources`   — parquet-backed table registry (replaces the
  reference's BigQuery connector, ``tests/dq_sql_notes.md:74``)
- :mod:`.plans`     — dbt-style model graph (ref/config rendering,
  materialization) + the analytic query library
- :mod:`.operators` — data-quality checks, profiler, dedup, similarity,
  text analysis, multimodal plumbing
- :mod:`.functions` — reusable column expressions (vector math, text
  metrics) built from pyspark.sql.functions only (JVM-side, no UDFs in
  hot paths)
- :mod:`.streaming` — Structured Streaming variants of the event
  pipeline (watermark + windowed aggregation)
- :mod:`.security`  — SQL-injection guard for user-supplied conditions
  (reference: ``tests/dq_sql_notes.md:268-343``)

Everything is DataFrame/Spark SQL; Catalyst + AQE do the physical
planning. Designed for 100 TB clusters, tested on local[*] parquet.
"""

__version__ = "0.1.0"

import os as _os

#: the checkout this package runs from, and the directory under it that
#: holds every derived artifact (staged tables, layouts, warehouses,
#: stream results) — so two checkouts never write into each other
REPO_ROOT = _os.path.dirname(_os.path.dirname(_os.path.abspath(__file__)))
ARTIFACTS_DIR = _os.path.join(REPO_ROOT, ".artifacts")

from .session import clear_caches, get_spark, tune  # noqa: F401
