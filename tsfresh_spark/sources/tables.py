"""Loaders over the driver-generated testdata and derivations to the engine's
canonical input shapes.

The engine's primary input (BASELINE.json input_hint) is a table
``(doc_id string, tokens array<int>, n_tok int, source string)``.  The
testdata has no such physical table, so :func:`events_tokens` derives one
deterministically from the ``events`` stream: one series per
(user_id, event_type), ordered by (ts, event_id), values scaled to exact
integers.  The same construction is expressible in ANSI SQL, which is what
the DuckDB oracles in ``__spark_entry__.py`` replay.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def events_long(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events → long format (id=user_id, kind=event_type, time=(ts, event_id),
    value=round(value*100) as exact bigint)."""
    return load_table(spark, sf_dir, "events").select(
        F.col("user_id"),
        F.col("event_type"),
        F.col("ts"),
        F.col("event_id"),
        F.round(F.col("value") * 100).cast("long").alias("v"),
    )


def events_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events → tokens table: one row per (user_id, event_type) series.

    Deterministic order inside the array: (ts, event_id).  The aggregation is
    a single shuffle on the group key; downstream feature extraction is then
    shuffle-free.
    """
    ev = events_long(spark, sf_dir)
    return (
        ev.groupBy("user_id", "event_type")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("ts", "event_id", "v"))),
                lambda s: s["v"],
            ).alias("tokens")
        )
        .select(
            F.col("user_id").cast("string").alias("doc_id"),
            F.col("tokens"),
            F.size("tokens").alias("n_tok"),
            F.col("event_type").alias("source"),
        )
    )
