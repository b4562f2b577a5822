"""PySpark-native analytics engine with the query surface of the reference
"EmoStream" system (event-driven emoji broadcast, /root/reference), rebuilt
Spark-first: DataFrame/SQL + Catalyst for batch, Structured Streaming for
streams, plus large-scale training-data pipeline operators (dedup,
similarity search, text analysis, multimodal columns).

Layout
------
- ``session``    : SparkSession builder (AQE, Arrow, UTC, no magic constants)
- ``schemas``    : canonical schemas (event record, testdata tables)
- ``catalog``    : parquet table loading for a scale-factor directory
- ``plans``      : the query registry — every operator is a named, oracle-
                   checked entry (name -> (spark, sf_dir) -> DataFrame + SQL)
                   — and the live-plan walker and per-operator profiler
- ``operators``  : batch operator implementations grouped by family
- ``functions``  : reusable column-expression helpers (all JVM-side built-ins
                   unless noted)
- ``streaming``  : Structured Streaming re-bindings of the batch queries
- ``sources``    : batch/stream source builders (parquet, kafka, file-replay)
"""

__version__ = "0.1.0"
