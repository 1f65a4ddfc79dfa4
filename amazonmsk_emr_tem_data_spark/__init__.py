"""amazonmsk_emr_tem_data_spark — a PySpark-native analytics engine.

A brand-new, Spark-first re-expression of the capabilities of the
reference pipeline ``yogenderPalChandra/AmazonMSK-EMR-tem-data``
(CSV → Kafka → Spark batch/streaming → console/CSV), extended with the
operators a large-scale LLM training-data pipeline needs: dedup (exact +
near-dup), similarity search, text analysis, and multimodal column
plumbing — all designed for a 1000-executor / 100 TB deployment while
remaining fully testable on ``local[N]``.

Layout
------
- ``session``    SparkSession factory (AQE, Arrow, UTC, tuned shuffle)
- ``schemas``    the single shared schema module (reference declared its
                 26-col schema four times by hand; see SURVEY.md §1.3)
- ``sources``    file/Kafka/replay sources
- ``sinks``      console/CSV/parquet/Kafka sinks with correct mode chaining
- ``functions``  scalar/column-level functions (envelope codec, tem math,
                 text features, vector math)
- ``operators``  composite DataFrame→DataFrame operators (dedup families,
                 similarity search, sessionize, multimodal)
- ``streaming``  Structured Streaming pipelines (windowed aggs, watermarks,
                 streaming dedup, deterministic availableNow harness)
- ``plans``      plan-inspection helpers (pushdown / broadcast assertions)
"""

__version__ = "0.1.0"
