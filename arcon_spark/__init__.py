"""arcon_spark — a PySpark-native analytics/streaming engine.

A from-scratch re-expression of the capabilities of cda-group/arcon
(a Rust state-first stream processor, see /root/reference) on top of
Apache Spark: DataFrame/SQL for the relational surface, Structured
Streaming for the dataflow/stateful surface, plus the large-scale
training-data-pipeline operators (dedup, similarity search, text
analysis, multimodal columns) the reference never had.

Design stance (SURVEY.md §7): wrap Spark, don't re-implement it.
Arcon's hand-rolled runtime (channels, epochs, watermark alignment,
state backends) is Structured Streaming's job; what we provide is the
API surface, the operator semantics, and scale-aware query plans.

The exports load on first access (PEP 562), so importing the package
does not import pyspark; ``arcon_spark.worker_daemon`` relies on that.
"""

import importlib

_EXPORTS = {
    "get_spark": "arcon_spark.session",
    "load_table": "arcon_spark.io",
    "compact_files": "arcon_spark.io",
    "TABLES": "arcon_spark.io",
    "Stream": "arcon_spark.streaming.stream",
}

__all__ = ["get_spark", "load_table", "compact_files", "Stream", "TABLES"]
__version__ = "0.1.0"


def __getattr__(name: str):
    if name not in _EXPORTS:
        raise AttributeError(f"module {__name__!r} has no attribute {name!r}")
    return getattr(importlib.import_module(_EXPORTS[name]), name)
