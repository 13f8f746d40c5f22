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

from tsfresh_spark.settings import (  # noqa: F401
    comprehensive_settings,
    efficient_settings,
    index_based_settings,
    minimal_settings,
    settings_from_feature_names,
    time_based_settings,
)
from tsfresh_spark.extract import (  # noqa: F401
    extract_features_long,
    extract_features_tokens,
    pivot_features,
)

__version__ = "0.1.0"
