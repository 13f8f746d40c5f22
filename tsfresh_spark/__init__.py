"""tsfresh_spark — a PySpark-native time-series rollup / feature engine.

A from-scratch engine with the query & data-processing capabilities of
blue-yonder/tsfresh, re-expressed Spark-first:

* the 76-calculator feature library as vectorized numpy kernels evaluated
  by one Arrow-native batch executor (``mapInArrow`` over pre-grouped token
  arrays — shuffle-free — or over long frames collected per series into
  sorted arrays by one ``groupBy`` shuffle),
* rollup / downsample / retention tiers (raw → 1m → 1h → 1d) as continuous
  aggregates over ``F.window``,
* explicit gap-fill (forward-fill / linear interpolation) via window
  functions,
* Gorilla XOR + delta-of-delta payload compression,
* per-partition manifest / checkpoint lineage for resumable jobs,
* the FRESH feature-selection plane,
* plus large-scale training-data operators (dedup, similarity search,
  text quality) the reference does not have.

Everything SQL-expressible stays JVM-side (Catalyst / whole-stage codegen);
only the calculator kernels cross the Arrow boundary, batched.
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
