"""Structured Streaming feature extraction.

The reference is explicitly batch-only (docs/text/introduction.rst:57); this
module is the streaming analog of the rollup tier: windowed continuous
aggregates whose aggregate values are feature vectors.

:func:`windowed_feature_stream` — watermark + tumbling-window
``collect_list`` aggregation, then a scalar Arrow UDF over the shared batch
executor turns each finalized window's points into the feature map.
Append-mode: a window emits exactly once, after the watermark passes — late
data inside the watermark is included, later data is dropped (classic
event-time semantics).
"""

from __future__ import annotations

import pyarrow as pa

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import arrow_udf

from tsfresh_spark.extract import _feature_map


def _features_from_points_udf(settings: dict):
    """Scalar Arrow UDF: each window's collected values, ordered by a
    stable sort on their ``ts`` (ties keep collection order) → feature map,
    through the shared batch executor."""

    @arrow_udf("map<string,double>")
    def _compute(values: pa.Array, ts: pa.Array, kinds: pa.Array) -> pa.Array:
        return _feature_map(kinds, values, settings, order_by=ts)

    return _compute


def windowed_feature_stream(
    stream: DataFrame,
    settings: dict,
    *,
    id_cols: list[str],
    ts_col: str = "ts",
    value_col: str = "value",
    window: str = "1 hour",
    slide: str | None = None,
    watermark: str = "2 hours",
) -> DataFrame:
    """event stream → (id..., window_start, n_points, features) stream.

    ``slide`` (e.g. ``"15 minutes"`` under a 1-hour ``window``) switches to
    overlapping sliding windows — each event then contributes to
    window/slide feature vectors, the streaming analog of
    ``roll_time_series``.  Use ``.writeStream.outputMode("append")`` —
    windows finalize when the watermark passes their end.
    """
    kind_col = id_cols[-1]
    win = (
        F.window(ts_col, window)
        if slide is None
        else F.window(ts_col, window, slide)
    )
    agg = (
        stream.withWatermark(ts_col, watermark)
        .groupBy(*id_cols, win.alias("w"))
        .agg(
            F.collect_list(
                F.struct(
                    F.col(ts_col).cast("long").alias("ts"),
                    F.col(value_col).cast("double").alias("value"),
                )
            ).alias("pts")
        )
    )
    features = _features_from_points_udf(settings)
    return agg.select(
        *id_cols,
        F.col("w.start").alias("window_start"),
        F.size("pts").cast("long").alias("n_points"),
        features(F.col("pts.value"), F.col("pts.ts"), F.col(kind_col)).alias("features"),
    )
