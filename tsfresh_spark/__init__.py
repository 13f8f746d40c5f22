"""tsfresh_spark — a PySpark-native time-series rollup / feature engine.

A from-scratch engine with the query & data-processing capabilities of
blue-yonder/tsfresh, re-expressed Spark-first:

* the 76-calculator feature library as vectorized numpy kernels evaluated
  by one Arrow-native batch executor (``mapInArrow`` over pre-grouped token
  arrays — shuffle-free — or over long frames collected per series into
  sorted arrays by one ``groupBy`` shuffle),
* the rollup / downsample / retention cascade (raw → base → 1h → 1d), where
  every tier is one ``mapInArrow`` window map over per-series arrays or
  stored payloads; gap-fill (forward-fill / linear interpolation) and the
  Gorilla XOR + delta-of-delta codec run in numpy inside that map,
* per-partition manifest / checkpoint lineage for resumable jobs,
* the FRESH feature-selection plane.

Grouping, shuffles and scans stay JVM-side (Catalyst / whole-stage
codegen); the per-series work — kernels, and in the rollup also gap-fill
and the codec — crosses the Arrow boundary once per batch.
"""

# names resolve on first use (PEP 562): ``python -m tsfresh_spark.worker_daemon``
# runs this file before the daemon forks, and must not load numpy, pandas
# or pyarrow into every worker it forks
_EXPORTS = {
    "comprehensive_settings": "settings",
    "efficient_settings": "settings",
    "index_based_settings": "settings",
    "minimal_settings": "settings",
    "settings_from_feature_names": "settings",
    "time_based_settings": "settings",
    "extract_features_long": "extract",
    "extract_features_tokens": "extract",
    "pivot_features": "extract",
}
__all__ = sorted(_EXPORTS)

__version__ = "0.1.0"


def __getattr__(name: str):
    if name not in _EXPORTS:
        raise AttributeError(f"module {__name__!r} has no attribute {name!r}")
    import importlib

    value = getattr(importlib.import_module(f"{__name__}.{_EXPORTS[name]}"), name)
    globals()[name] = value
    return value
