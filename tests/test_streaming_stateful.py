"""applyInPandasWithState running-feature stream: the update-mode snapshot
after draining all input equals batch features over the same series."""

import datetime as dt

import numpy as np
import pandas as pd
import pytest

from tsfresh_spark.extract import compute_series_features
from tsfresh_spark.settings import minimal_settings
from tsfresh_spark.streaming.stream_extract import stateful_feature_stream

T0 = dt.datetime(2024, 1, 1)
NO_DATA_BATCHES = "spark.sql.streaming.noDataMicroBatches.enabled"


def _drain(spark, out, query):
    """Run ``out`` to a memory sink once over all available input and
    return what it emitted.  Started without no-data batches, the query
    ends when its input is drained (see ``stateful_feature_stream``)."""
    before = spark.conf.get(NO_DATA_BATCHES)
    spark.conf.set(NO_DATA_BATCHES, "false")
    try:
        q = (
            out.writeStream.format("memory")
            .queryName(query)
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
    finally:
        spark.conf.set(NO_DATA_BATCHES, before)
    try:
        assert q.awaitTermination(120) is True
    finally:
        q.stop()
    return spark.sql(f"select * from {query}").toPandas()


def _last_snapshots(spark, path, pdf, schema, query):
    """Write ``pdf`` as parquet, drain it through the stateful stream and
    return the last update per series (the full-history snapshot)."""
    spark.createDataFrame(pdf, schema).coalesce(1).write.mode("overwrite").parquet(path)
    stream = spark.readStream.schema(schema).parquet(path)
    out = stateful_feature_stream(
        stream, minimal_settings(), id_cols=["doc_id", "source"]
    )
    got = _drain(spark, out, query)
    return out.schema, got.groupby(["doc_id", "source"]).last().reset_index()


def _assert_batch_equal(pdf, last):
    for _, r in last.iterrows():
        series = pdf[pdf.doc_id == r.doc_id].sort_values("ts").value.values
        want = dict(compute_series_features(series, r.source, minimal_settings()))
        assert r.n_points == len(series)
        assert dict(r.features) == want


def test_stateful_stream_snapshot(spark, tmp_path):
    rng = np.random.RandomState(4)
    rows = []
    for doc, source in [("a", "web"), ("b", "code")]:
        for i in range(50):
            rows.append(
                (doc, source, T0 + dt.timedelta(seconds=30 * i), float(rng.randint(0, 50)))
            )
    pdf = pd.DataFrame(rows, columns=["doc_id", "source", "ts", "value"])
    _, last = _last_snapshots(
        spark, str(tmp_path / "src"), pdf,
        "doc_id string, source string, ts timestamp, value double", "stateful_feats",
    )
    assert set(last.doc_id) == {"a", "b"}
    _assert_batch_equal(pdf, last)


def test_stateful_stream_long_epoch_ts(spark, tmp_path):
    """An integer epoch-seconds ts column must keep its ordering (no bogus
    //1e9 scaling that collapses all timestamps to ~0)."""
    path = str(tmp_path / "src_long")
    # values whose ORDER matters: feature 'maximum' of last-2 buffer
    rows = [("a", "web", 1_700_000_000 + 10 * i, float(i)) for i in range(20)]
    pdf = pd.DataFrame(rows, columns=["doc_id", "source", "ts", "value"])
    spark.createDataFrame(pdf).coalesce(1).write.mode("overwrite").parquet(path)
    stream = spark.readStream.schema(
        "doc_id string, source string, ts long, value double"
    ).parquet(path)
    out = stateful_feature_stream(
        stream, minimal_settings(), id_cols=["doc_id", "source"], max_buffer=5
    )
    got = _drain(spark, out, "stateful_feats_long")
    last = got.groupby(["doc_id", "source"]).last().reset_index().iloc[0]
    # buffer keeps the 5 NEWEST points (15..19) — only true if ts survives
    assert last.n_points == 5
    feats = dict(last.features)
    assert feats["web__minimum"] == 15.0
    assert feats["web__maximum"] == 19.0


def test_stateful_stream_keeps_id_types(spark, tmp_path):
    """A ``doc_id long`` stream: the snapshot keeps the long ids and equals
    batch features over the same series."""
    rng = np.random.RandomState(9)
    rows = [
        (doc, "web", T0 + dt.timedelta(seconds=30 * i), float(rng.randint(0, 50)))
        for doc in (7, 11)
        for i in range(30)
    ]
    pdf = pd.DataFrame(rows, columns=["doc_id", "source", "ts", "value"])
    schema, last = _last_snapshots(
        spark, str(tmp_path / "src_long_ids"), pdf,
        "doc_id long, source string, ts timestamp, value double", "stateful_feats_long_ids",
    )
    assert schema["doc_id"].dataType.simpleString() == "bigint"
    assert sorted(last.doc_id) == [7, 11]
    _assert_batch_equal(pdf, last)
