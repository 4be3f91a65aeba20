"""cuttlefish_spark — a PySpark-native analytics engine with the
capabilities of DarrenN/cuttlefish (reference: /root/reference, Racket),
re-expressed Spark-first.

Layer A re-expresses the reference's real pipeline — config-driven
multi-source ingestion, nested-JSON normalization, canonical event
schema, timestamp normalization, keyed fan-out accounting, error
channel, partitioned JSON sink (reference anchors cited per-module).

Layer B adds the generic relational query surface plus
LLM-training-data-pipeline operators (dedup, similarity search, text
analysis, multimodal columns) designed for a 1000-executor / 100 TB
posture: declarative DataFrame plans, broadcast-able dims, partial
aggregation, pushed-down predicates, no driver-side loops.
"""

__version__ = "0.1.0"
