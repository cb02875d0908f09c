"""flink_template_spark — a PySpark-native analytics engine.

A from-scratch rebuild of the *capabilities* of the reference
``alfonso-higuera/flink-template`` (a Kotlin/Flink vehicle-telematics trip
aggregator; see SURVEY.md) as an idiomatic Spark engine:

- ``session``    — SparkSession factory tuned for local[N] and cluster use.
- ``tables``     — testdata star-schema loaders (parquet).
- ``parse``      — the trip-event JSON parse layer (from_json, declarative;
                   reference: JSONUtil.kt).
- ``functions``  — reusable Column-expression libraries (geo, text, vector).
- ``operators``  — composed DataFrame operators (trip aggregation, dedup,
                   similarity search, sessionization, as-of join).
- ``plans``      — the declared relational query library + DuckDB oracle SQL.
- ``streaming``  — Structured Streaming pipelines (stateful trip sessions,
                   windowed aggregates; reference: TripAggregatorApplication.kt).
- ``sinks``      — foreachBatch upsert sink with schema validation
                   (reference: jdbc/JDBCOutputFormat.kt etc.).
- ``zipcache``   — stops Python workers re-reading ``pyspark.zip`` on
                   every task (Python < 3.13); installed on import.
"""

from flink_template_spark import zipcache  # noqa: F401  (installs on import)

__version__ = "0.1.0"
