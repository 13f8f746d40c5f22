"""Structured Streaming extraction: the windowed stream must produce exactly
the features the batch engine computes on the same data."""

import datetime as dt
import os

import numpy as np
import pandas as pd
import pytest

from pyspark.sql import functions as F

from tsfresh_spark.extract import compute_series_features
from tsfresh_spark.settings import minimal_settings
from tsfresh_spark.streaming.stream_extract import windowed_feature_stream

T0 = dt.datetime(2024, 1, 1, 0, 0, 0)


@pytest.fixture(scope="module")
def event_files(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("stream_src"))
    rng = np.random.RandomState(3)
    rows = []
    for doc, source in [("d1", "web"), ("d2", "code")]:
        for i in range(240):
            rows.append(
                (
                    doc,
                    source,
                    T0 + dt.timedelta(seconds=int(i * 37 + rng.randint(0, 9))),
                    float(rng.randint(0, 100)),
                )
            )
    pdf = pd.DataFrame(rows, columns=["doc_id", "source", "ts", "value"])
    spark.createDataFrame(pdf).repartition(3).write.mode("overwrite").parquet(path)
    return path


def test_windowed_stream_matches_batch(spark, event_files):
    schema = "doc_id string, source string, ts timestamp, value double"
    stream = spark.readStream.schema(schema).parquet(event_files)
    out = windowed_feature_stream(
        stream,
        minimal_settings(),
        id_cols=["doc_id", "source"],
        window="30 minutes",
        watermark="0 seconds",
    )
    query = (
        out.writeStream.format("memory")
        .queryName("feat_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination(120)
    got = spark.sql("select * from feat_stream").toPandas()
    assert len(got) > 0

    batch = spark.read.parquet(event_files).toPandas()
    batch["window_start"] = batch.ts.dt.floor("30min")
    max_event = batch.ts.max()
    checked = 0
    for (doc, source, ws), grp in batch.groupby(["doc_id", "source", "window_start"]):
        if ws + pd.Timedelta("30min") > max_event:
            # the still-open final window is correctly NOT emitted in
            # append mode (watermark never passes its end)
            assert got[(got.doc_id == doc) & (got.window_start == ws)].empty
            continue
        grp = grp.sort_values("ts")
        want = dict(
            compute_series_features(
                grp.value.values, source, minimal_settings()
            )
        )
        row = got[
            (got.doc_id == doc)
            & (got.source == source)
            & (got.window_start == ws)
        ]
        assert len(row) == 1, (doc, source, ws)
        features = dict(row.features.iloc[0])
        assert features == want
        assert row.n_points.iloc[0] == len(grp)
        checked += 1
    assert checked >= 4


def test_windowed_stream_equals_rollup_tier_bitexact(spark, tmp_path_factory):
    """The stream==batch invariant against the REAL batch plane: the same
    gap-free corpus through (a) windowed_feature_stream (file source, one
    availableNow trigger) and (b) the 1h tier of RollupEngine.cascade (the
    compact base grid cut into windows in one window map) must produce IDENTICAL
    feature maps, bit for bit.  On a gap-free regular grid the base-tier
    gap-fill is the identity, so the two planes are exactly comparable."""
    from tsfresh_spark.operators.rollup import RollupEngine

    src = str(tmp_path_factory.mktemp("stream_rollup_src"))
    step, hours = 300, 5  # 5-minute grid, 5 full hours + 1 sentinel hour
    rows = []
    for doc, source in [("d1", "web"), ("d2", "code")]:
        for i in range(12 * hours + 1):  # +1 event pushes the watermark
            ts = T0 + dt.timedelta(seconds=i * step)
            rows.append((doc, source, ts, float((i * 37 + len(doc)) % 100)))
    pdf = pd.DataFrame(rows, columns=["doc_id", "source", "ts", "value"])
    spark.createDataFrame(pdf).repartition(3).write.mode("overwrite").parquet(src)
    settings = minimal_settings()
    cutoff = T0 + dt.timedelta(hours=hours)

    # streaming plane
    schema = "doc_id string, source string, ts timestamp, value double"
    stream = spark.readStream.schema(schema).parquet(src)
    out = windowed_feature_stream(
        stream,
        settings,
        id_cols=["doc_id", "source"],
        window="1 hour",
        watermark="0 seconds",
    )
    query = (
        out.writeStream.format("memory")
        .queryName("feat_stream_rollup")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination(120)
    got = spark.sql("select * from feat_stream_rollup").toPandas()
    got = got[got.window_start < cutoff]

    # batch plane: the real rollup engine (base grid, 1h window cut)
    eng = RollupEngine(
        spark,
        src + "-tiers",
        settings=settings,
        id_cols=("doc_id", "source"),
        base_step_seconds=step,
    )
    points = spark.read.parquet(src).select(
        "doc_id",
        "source",
        F.col("ts").cast("long").alias("ts"),
        F.col("value").cast("double").alias("value"),
    )
    tier = eng.cascade(points).where(F.col("tier") == "1h").toPandas()
    tier["window_start"] = pd.to_datetime(tier.window_start, unit="s")
    tier = tier[tier.window_start < cutoff]

    assert len(got) == len(tier) == 2 * hours
    gkey = got.set_index(["doc_id", "source", "window_start"]).sort_index()
    tkey = tier.set_index(["doc_id", "source", "window_start"]).sort_index()
    assert list(gkey.index) == list(tkey.index)
    for idx in gkey.index:
        sf = dict(gkey.loc[idx, "features"])
        bf = dict(tkey.loc[idx, "features"])
        assert sf == bf, (idx, sf, bf)  # exact float equality, no tolerance
        assert gkey.loc[idx, "n_points"] == tkey.loc[idx, "n_points"] == 12


def test_sliding_windowed_stream(spark, event_files):
    """slide < window → overlapping windows: every closed 30-min window at
    a 15-min slide carries the points of its full span, and each feature
    map equals the batch computation over the same span."""
    schema = "doc_id string, source string, ts timestamp, value double"
    stream = spark.readStream.schema(schema).parquet(event_files)
    out = windowed_feature_stream(
        stream,
        minimal_settings(),
        id_cols=["doc_id", "source"],
        window="30 minutes",
        slide="15 minutes",
        watermark="0 seconds",
    )
    q = (
        out.writeStream.format("memory")
        .queryName("feat_stream_sliding")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("select * from feat_stream_sliding").toPandas()
    batch = spark.read.parquet(event_files).toPandas()
    # ~2x as many closed windows as the tumbling test (15-min slide)
    assert got.window_start.nunique() >= 6
    checked = 0
    for _, row in got.iterrows():
        span = batch[
            (batch.doc_id == row.doc_id)
            & (batch.source == row.source)
            & (batch.ts >= row.window_start)
            & (batch.ts < row.window_start + pd.Timedelta("30min"))
        ].sort_values("ts")
        if len(span) != row.n_points:
            continue  # window not fully closed relative to max event time
        want = dict(
            compute_series_features(
                span.value.values, row.source, minimal_settings()
            )
        )
        assert dict(row.features) == want
        checked += 1
    assert checked >= 8
