"""bubbles_spark — a PySpark-native analytics engine.

A brand-new engine with the query and data-processing capabilities of
the Stiivi/bubbles ETL framework (virtual data objects + a catalog of
composable operations), rebuilt from scratch on the Spark DataFrame
API.  Nothing here is a port: every operator is a pure
``DataFrame -> DataFrame`` function whose logical plan Catalyst
optimizes (predicate pushdown, column pruning, broadcast joins, AQE),
and the surface is extended with window functions, batch event-time
windows, and LLM-data-pipeline operators (dedup, vector similarity,
text analysis, multimodal columns) designed for 100 TB scale.

Reference parity map: see SURVEY.md §2 (citations of the form
``bubbles/<module>.py::<symbol>`` refer to the public Stiivi/bubbles
repository; /root/reference was empty at survey time).
"""

import importlib

__version__ = "0.1.0"

# public name -> module that defines it; loaded on first access (PEP 562),
# so importing one submodule (the worker daemon, ``_pyworker``) pulls in
# neither the operators nor pandas/pyarrow
_LAZY = {
    "Field": "bubbles_spark.schema",
    "FieldList": "bubbles_spark.schema",
    "FieldFilter": "bubbles_spark.schema",
    "to_field": "bubbles_spark.schema",
    "get_spark": "bubbles_spark.session",
    "Pipeline": "bubbles_spark.pipeline",
    "ExecutionContext": "bubbles_spark.pipeline",
    "io": None,
    "ops": None,
    "probes": None,
}

__all__ = [*_LAZY, "__version__"]


def __getattr__(name: str):
    if name not in _LAZY:
        raise AttributeError(f"module {__name__!r} has no attribute {name!r}")
    module = _LAZY[name]
    value = (
        importlib.import_module(f"{__name__}.{name}") if module is None
        else getattr(importlib.import_module(module), name)
    )
    globals()[name] = value
    return value
