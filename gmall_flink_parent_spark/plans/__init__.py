"""Query registry — the engine's declared surface.

Importing this package populates the registry
(``gmall_flink_parent_spark.registry``) from every operator module;
``__spark_entry__`` and the test harness both read from it. Operator
modules import the registry module itself, never this package, so any of
them can be the first import of a process.
"""

from gmall_flink_parent_spark.registry import QuerySpec, all_queries, oracle_map, query_map, register

# Operator modules register their queries at import time.
from gmall_flink_parent_spark.operators import (  # noqa: F401  (import for side effects)
    analytics,
    bounce,
    cohorts,
    entity,
    log_split,
    order_wide,
    partsupp,
    routing,
    skew,
    uv_dedup,
    visitor_repair,
    windows,
)
from gmall_flink_parent_spark.functions import (  # noqa: F401
    audit,
    bpe,
    chunks,
    curation,
    dedup,
    expectations,
    mixture,
    multimodal,
    quality,
    retrieval,
    selection,
    sketches,
    spans,
    similarity,
    sql_macros,
    text,
)

__all__ = ["QuerySpec", "all_queries", "oracle_map", "query_map", "register"]
