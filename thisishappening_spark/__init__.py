"""thisishappening_spark — a PySpark-native analytics engine.

A brand-new, Spark-first implementation of the query and data-processing
capabilities of the reference app `warmlogic/thisishappening` (a single-node
streaming geo-event detector backed by PostgreSQL), re-architected for the
Spark execution model: declarative DataFrame/SQL plans optimized by Catalyst
and shuffle-conscious aggregation and join strategies. Everything here is
batch; a streaming shell and the KDE/clustering detection path are planned,
not built.

Layout:
  session     SparkSession factory with scale-tuned defaults
  sqlexpr     SQL-literal and identifier helpers for string-built plans
  registry    query registry entry type and cross-engine numeric helpers
  sources     parquet table readers and the tweets view over events
  functions   SQL expression helpers (geo bounding boxes, activity weights)
  operators   admission filter, status ingest, dedup, similarity search,
              text stats
  plans       parameterized query builders (the reference's query surface)
  queries     the registry of benchmark/correctness queries + SQL oracles
"""

from thisishappening_spark.session import get_spark  # noqa: F401

__version__ = "0.1.0"
