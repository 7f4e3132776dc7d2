"""map_reduce_folds_spark — a PySpark-native map-reduce-fold analytics engine.

A from-scratch re-expression of the capabilities of the Haskell library
``adamConnerSax/map-reduce-folds`` (reference read at /root/reference) on top
of the Spark DataFrame API, extended with the relational / streaming /
LLM-data-pipeline operators a 100 TB training-data pipeline needs.

The reference decomposes every computation into four stages
(reference Readme.md:11-15, src/Control/MapReduce/Core.hs:26-34):

    unpack (filter / melt)  ->  assign (row -> (k, v))
        ->  group (by k)    ->  reduce (fold per group)

Here the four stages compile to a single declarative DataFrame plan::

    df.filter/explode -> select(k..., v...) -> groupBy(k...) -> agg(...)

so Catalyst + Tungsten (not a hand-written engine zoo) pick the physical
strategy.  The reference's central semantic property — applicative folds
share one pass and applicative reduces share one grouping
(Core.hs:211-227) — is preserved: a ``FoldReduce`` with N folds emits ONE
``.agg`` with N aggregate expressions, i.e. one shuffle.
"""

import importlib

# name -> submodule it lives in.  Resolved on first access (PEP 562), so
# importing the package — as ``python -m map_reduce_folds_spark.pyworker``
# does before PySpark's daemon forks its workers — loads no pandas, pyarrow
# or Spark session code.
_EXPORTS = {
    "Assign": "core",
    "AssignUDF": "core",
    "Filter": "core",
    "FoldReduce": "core",
    "GroupReduce": "core",
    "Keep": "core",
    "MapInPandas": "core",
    "MapReduce": "core",
    "Melt": "core",
    "Transform": "core",
    "concat": "core",
    "shared_scan": "core",
    "folds": None,
    "get_spark": "session",
}

__all__ = sorted(_EXPORTS)


def __getattr__(name: str):
    if name not in _EXPORTS:
        raise AttributeError(f"module {__name__!r} has no attribute {name!r}")
    sub = _EXPORTS[name]
    if sub is None:
        value = importlib.import_module(f"{__name__}.{name}")
    else:
        value = getattr(importlib.import_module(f"{__name__}.{sub}"), name)
    globals()[name] = value
    return value


def __dir__() -> list[str]:
    return sorted(set(globals()) | set(_EXPORTS))


__version__ = "0.1.0"
