"""Structured Streaming feature extraction.

The reference is explicitly batch-only (docs/text/introduction.rst:57); this
module is the streaming analog of the rollup tier: windowed continuous
aggregates whose aggregate values are feature vectors.

Two shapes:

* :func:`windowed_feature_stream` — watermark + tumbling-window
  ``collect_list`` aggregation, then a scalar Arrow UDF over the shared
  batch executor turns each finalized window's points into the feature
  map.  Append-mode: a window emits exactly once, after the watermark
  passes — late data inside the watermark is included, later data is
  dropped (classic event-time semantics).
* :func:`stateful_feature_stream` — ``applyInPandasWithState`` keeps a
  bounded per-series buffer and emits a feature snapshot on every trigger:
  the "current value" view, updating continuously.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
import pyarrow as pa

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import arrow_udf

from tsfresh_spark.extract import _feature_map, compute_series_features


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


def stateful_feature_stream(
    stream: DataFrame,
    settings: dict,
    *,
    id_cols: list[str],
    ts_col: str = "ts",
    value_col: str = "value",
    max_buffer: int = 4096,
    timeout_ms: int = 3_600_000,
) -> DataFrame:
    """Continuously-updated per-series features via applyInPandasWithState.

    State = the series' most recent ``max_buffer`` (ts, value) pairs; each
    trigger appends the new points and emits one refreshed feature row per
    touched series.  Update-mode sink.  A series idle for ``timeout_ms``
    drops its buffer.

    The processing-time timeout makes Spark plan an empty micro-batch after
    every batch to look for idle series, so a query started with
    ``trigger(availableNow=True)`` never ends.  Start such a query with
    ``spark.sql.streaming.noDataMicroBatches.enabled`` set to ``false``
    (the query reads it when it starts): it then ends once its input is
    drained, and idle series are evicted only in batches that carry data.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    # the id columns keep their input types, as in the other paths
    id_types = ", ".join(
        f"{c} {stream.schema[c].dataType.simpleString()}" for c in id_cols
    )
    out_schema = f"{id_types}, n_points long, features map<string,double>"
    state_schema = "ts array<long>, value array<double>"

    def update(
        key, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            # idle series: drop its buffer instead of re-saving it forever
            state.remove()
            return
        if state.exists:
            ts_buf, val_buf = state.get
            ts_buf, val_buf = list(ts_buf), list(val_buf)
        else:
            ts_buf, val_buf = [], []
        for pdf in pdfs:
            col = pdf[ts_col]
            if pd.api.types.is_datetime64_any_dtype(col):
                # datetime64[ns] → epoch seconds; integer/long ts columns
                # are already in their own epoch unit and pass through
                ts_buf.extend(col.astype("int64") // 10**9)
            else:
                ts_buf.extend(col.astype("int64"))
            val_buf.extend(pdf[value_col].astype(float))
        order = np.argsort(np.asarray(ts_buf), kind="mergesort")[-max_buffer:]
        ts_arr = np.asarray(ts_buf, dtype=np.int64)[order]
        val_arr = np.asarray(val_buf, dtype=np.float64)[order]
        state.update((ts_arr.tolist(), val_arr.tolist()))
        state.setTimeoutDuration(timeout_ms)
        kind = key[-1]
        feats = dict(compute_series_features(val_arr, str(kind), settings))
        yield pd.DataFrame(
            [{**dict(zip(id_cols, key)), "n_points": len(val_arr), "features": feats}]
        )

    return (
        stream.groupBy(*id_cols)
        .applyInPandasWithState(
            update,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="update",
            timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
        )
    )
