"""gmall_flink_parent_spark — a PySpark-native analytics engine.

A brand-new engine with the query and data-processing capabilities of the
reference streaming warehouse ``zhangbaohpu/gmall-flink-parent`` (a Flink
1.12 layered Kafka pipeline), re-expressed Spark-first:

- relational / windowed operators as DataFrame + Spark SQL plans
  (Catalyst optimizes; Tungsten executes),
- stateful streaming semantics (visitor repair, per-day dedup, bounce
  detection) as Structured Streaming with ``applyInPandasWithState``,
- dynamic CDC routing as ``foreachBatch`` orchestration,
- plus the large-scale training-data-pipeline surface: deduplication
  (exact / MinHash-LSH / SimHash / Jaccard), similarity search,
  multimodal binary columns, and text analysis.

Every operator carries a docstring citation to the reference file:line it
derives its semantics from.
"""

__version__ = "0.1.0"
