"""lmo_data_catalog_spark — a PySpark-native analytics engine.

Re-expresses the query/data-processing capabilities of the reference
``bcgov/lmo_data_catalog`` pipeline (an R/tidyverse ETL batch script,
see ``/root/reference/01_source_me.R``) as an idiomatic Spark engine:
lazy DataFrame plans, Catalyst optimization, partition-aware operators
designed for 100 TB scale, plus the LLM-data-pipeline extensions
(dedup, similarity search, text analysis, multimodal plumbing).

Layout
------
- ``session``      SparkSession builder (AQE on, UTC, tuned shuffle).
- ``catalog``      Named-table loader over parquet directories.
- ``schema_toolkit`` Metadata-plane column-name ops (SURVEY §1.3).
- ``operators/``   Relational + extension operators (SURVEY §2).
- ``sources/``     Readers (CSV banner-skip, Excel ingest) and sinks
                   (multi-sheet Excel, partitioned parquet/CSV).
- ``functions/``   Scalar expression helpers (SURVEY §2.7).
- ``plans/``       Reference-shaped pipeline builders (tbbl1..10, HOO).
- ``streaming/``   Structured Streaming over the events stream.
"""

__version__ = "0.1.0"

# Semantics-free driver-latency patch: memoize PySpark's JVM-function
# reflection lookup, which cuts ``F.lit`` from 0.293 ms to 0.134 ms
# (see pyboundary.py; its old TCP_NODELAY socket patch measured no
# gain and was removed). Applied at import; the memo is consulted on
# every ``F.*`` call, so sessions created before the import benefit too.
from . import pyboundary as _pyboundary  # noqa: E402

_pyboundary.apply()
