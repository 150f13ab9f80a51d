"""PySpark-native analytics engine with the query and data-processing
capabilities of the reference system (a network-anomaly-detection pipeline:
batch ETL, streaming scoring, windowed dashboard analytics, ML scoring), plus
the large-scale training-data operators (text analysis, multimodal columns,
versioned tables) required at 100 TB scale.

Everything here is built on public Apache Spark APIs only: DataFrame/SQL for
batch, Structured Streaming for streams, MLlib for feature/ML pipelines, and
Arrow-vectorized pandas UDFs where built-ins genuinely cannot express the
semantics. No driver-side collects on the data path (the reference's defining
anti-pattern, see SURVEY.md §4).

The names exported here are PEP 562 lazy — importing the package stays free
of Spark/pandas import cost until a symbol is touched; the full surface
lives in the submodules (operators/, sources/, ml/, streaming/, plans/).
"""

from __future__ import annotations

__version__ = "0.1.0"

_EXPORTS = {
    # session + catalog
    "get_spark": ("end_to_end_data_engineering_and_ml_system_spark.session", "get_spark"),
    "load_table": ("end_to_end_data_engineering_and_ml_system_spark.sources.catalog", "load_table"),
    # query registry (the driver contract)
    "all_queries": ("end_to_end_data_engineering_and_ml_system_spark.plans.registry", "all_queries"),
    # tracking / registry
    "Tracker": ("end_to_end_data_engineering_and_ml_system_spark.ml.registry", "Tracker"),
    "ModelRegistry": ("end_to_end_data_engineering_and_ml_system_spark.ml.registry", "ModelRegistry"),
    # versioned tables
    "TxTable": ("end_to_end_data_engineering_and_ml_system_spark.sources.txlog", "TxTable"),
}

__all__ = sorted(_EXPORTS)


def __getattr__(name: str):
    try:
        mod_name, attr = _EXPORTS[name]
    except KeyError:
        raise AttributeError(
            f"module {__name__!r} has no attribute {name!r}"
        ) from None
    import importlib

    return getattr(importlib.import_module(mod_name), attr)


def __dir__():
    return sorted(set(globals()) | set(_EXPORTS))
