"""kp_data_pipelines_spark — a PySpark-native analytics/ETL engine.

A from-scratch, Spark-first re-expression of the query and data-processing
capabilities of the reference repo ``KyleNabors/kp_data_pipelines`` (pandas
batch ETL / reconciliation pipelines), extended with large-scale
training-data-pipeline operators (dedup, similarity search, text analysis,
multimodal plumbing).

Layers
------
- ``session``    SparkSession factory with scale-appropriate defaults.
- ``sources``    readers (CSV/JSON/NDJSON/Parquet/JDBC), schema registry,
                 latest-snapshot resolver, sinks.
- ``functions``  column-expression kits (casts, date cascades, sentinel/null
                 handling, regex cleanup) — pure ``Column -> Column``.
- ``operators``  DataFrame-level operators (joins incl. indicator outer join
                 and two-phase containment join, dedup family, aggregation
                 helpers, window/dedup-keep-first, reconciliation,
                 text analysis, similarity search, multimodal).
- ``streaming``  Structured Streaming equivalents of the snapshot-folder
                 ingestion loop, growing-store micro-batch ingest.

Everything is lazy DataFrame composition; nothing collects to the driver in
a hot path. Designed for a 1000-executor cluster; tested on local[*].
"""

from kp_data_pipelines_spark.session import get_spark

__all__ = ["get_spark"]
__version__ = "0.1.0"
