"""Operator catalog: pure ``DataFrame -> DataFrame`` functions.

One implementation per operator (the reference ships one per
*representation* — rows/sql/mongo — and dispatches at runtime;
Catalyst is our single representation, so dispatch disappears.
SURVEY.md §2/§3.2).

Names load on first access (PEP 562), as in ``bubbles_spark``: a
worker that unpickles a fold naming ``core`` imports ``core`` and
what it imports, not every operator module.
"""

import importlib

_CORE = (
    "added_keys", "added_rows", "aggregate", "append", "changed_rows",
    "derive", "distinct", "duplicate_stats", "duplicates", "field_filter",
    "filter_by_predicate", "filter_by_range", "filter_by_set",
    "filter_by_value", "filter_not_empty", "fuzzy_join", "join_details",
    "range_join", "rename_fields", "sample", "scd2_merge", "sort", "top_k",
)
_MODULES = (
    "activity", "affinity", "dedup", "drift", "events", "graph", "insights",
    "multimodal", "privacy", "sketch", "spatial", "stattests", "textan",
    "textprep", "vector",
)

# public name -> module that defines it (None: the name is a submodule)
_LAZY = {
    **dict.fromkeys(_CORE, "core"),
    **dict.fromkeys(("histogram", "unpivot", "zscore_normalize"), "reshape"),
    **dict.fromkeys(
        ("empty_to_missing", "split_date", "string_strip", "text_substitute",
         "threshold", "transliterate"),
        "text",
    ),
    **dict.fromkeys(("basic_audit", "infer_types"), "audit"),
    **dict.fromkeys(_MODULES),
}

__all__ = sorted(_LAZY)


def __getattr__(name: str):
    if name not in _LAZY:
        raise AttributeError(f"module {__name__!r} has no attribute {name!r}")
    module = _LAZY[name]
    value = (
        importlib.import_module(f"{__name__}.{name}") if module is None
        else getattr(importlib.import_module(f"{__name__}.{module}"), name)
    )
    globals()[name] = value
    return value
