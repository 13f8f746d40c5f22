"""Explicit partitioning / skew handling.

A coarse grouping key (a series kind, a source) is often zipf-skewed.
AQE's skew handling only splits skewed *join* partitions; a
skewed grouping ahead of a Python stage still lands one giant task unless
the group key itself is fine-grained or salted.  Helpers here:

* :func:`salt_column` — deterministic salt from a hash of a fine-grained
  column, bounded fan-out;
* :func:`spread_by_keys` — repartition so grouped-UDF tasks are balanced
  when the group key is composite and already fine-grained;
* :func:`pin_group_partitions` — an explicit partition count ahead of a
  compute-bound per-group stage, which AQE's byte sizing would starve;
* :func:`skew_report` — measure per-key weight so the engine can pick a
  salting factor from data, not guesswork.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def salt_column(fine_grained: Column | str, buckets: int) -> Column:
    """Deterministic salt in [0, buckets) derived from a high-cardinality
    column — same row always lands in the same salt bucket, so re-runs are
    reproducible and unsalting is a plain groupBy."""
    c = F.col(fine_grained) if isinstance(fine_grained, str) else fine_grained
    return F.pmod(F.xxhash64(c), F.lit(buckets)).alias("salt")


def spread_by_keys(df: DataFrame, *keys: str, partitions: int | None = None) -> DataFrame:
    """Hash-repartition on the full composite key so grouped-map tasks are
    sized by key cardinality rather than input file layout."""
    if partitions:
        return df.repartition(partitions, *keys)
    return df.repartition(*keys)


def pin_group_partitions(df: DataFrame, *keys: str) -> DataFrame:
    """Explicit hash-repartition on grouping keys ahead of a compute-bound
    per-group Python stage.  AQE's byte-based partition coalescing misjudges
    it badly — a few-MB frame coalesces to 1-2 partitions and the whole
    per-group computation runs on 1-2 cores.  An explicit user repartition
    is honored by AQE, and the downstream ``groupBy(keys)`` (an
    ``applyInPandas``, or the ``collect_list`` feeding ``mapInArrow`` in the
    long path) reuses the exchange, so no extra shuffle.
    The count is max(shuffle partitions, 2×parallelism)."""
    sess = df.sparkSession
    num_partitions = max(
        int(sess.conf.get("spark.sql.shuffle.partitions", "200")),
        sess.sparkContext.defaultParallelism * 2,
    )
    return df.repartition(num_partitions, *keys)


def skew_report(df: DataFrame, key: str, top: int = 10) -> list[tuple]:
    """Per-key row weights (driver-side, small): feed the result into a
    salting decision — e.g. salt any key holding >2/partitions of the data."""
    rows = (
        df.groupBy(key)
        .count()
        .orderBy(F.desc("count"))
        .limit(top)
        .collect()
    )
    return [(r[key], r["count"]) for r in rows]


def salted_group_apply(
    df: DataFrame,
    group_keys: list[str],
    fine_col: str,
    buckets: int,
):
    """Return (salted_df, salted_keys): group by ``group_keys + [salt]``
    where salt hashes ``fine_col``.  Use when the natural group key is
    coarse (e.g. bare ``source``) — each hot key fans out into ``buckets``
    groups, and a second (cheap, small) aggregation merges the partials."""
    salted = df.withColumn("salt", salt_column(fine_col, buckets))
    return salted, [*group_keys, "salt"]
