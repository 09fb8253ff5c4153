"""dataflowtemplates_spark — a PySpark-native analytics/ETL engine.

A from-scratch rebuild of the capabilities of mercari/DataflowTemplates
(reference surveyed in SURVEY.md) as idiomatic Spark: the delegated SQL
surface runs through Spark SQL / Catalyst over registered tables, the
reference's own operators (partitioned sources, dynamic-destination
writers, five-type-system conversion semantics, upsert/delete write
dispositions with quarantine, synthetic generator) become
DataFrame-in/DataFrame-out functions, and LLM-data-pipeline extensions
(dedup, similarity search, text analysis, multimodal plumbing) are
first-class operators designed for 100 TB scale.

The package root imports nothing from pyspark: the Python-worker daemon
(``worker_daemon``) is started as ``-m dataflowtemplates_spark.worker_daemon``
and must choose the worker path before pyspark is imported. The public
names below load on first access (PEP 562).
"""

import importlib

_EXPORTS = {
    "build_session": "dataflowtemplates_spark.session",
    "register_tables": "dataflowtemplates_spark.catalog",
    "TABLES": "dataflowtemplates_spark.catalog",
}

__all__ = ["build_session", "register_tables", "TABLES"]
__version__ = "0.1.0"


def __getattr__(name):
    if name in _EXPORTS:
        return getattr(importlib.import_module(_EXPORTS[name]), name)
    raise AttributeError(f"module {__name__!r} has no attribute {name!r}")
