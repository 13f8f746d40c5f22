"""Explicit partitioning ahead of compute-bound per-group stages.

AQE sizes shuffle partitions by bytes, which suits byte-bound stages but
starves a compute-bound per-group Python stage: a few-MB frame coalesces
to one or two partitions.  :func:`pin_group_partitions` gives such a stage
an explicit partition count, which AQE keeps.  Skewed *joins* need nothing
here: AQE's skew-join splitting is on in ``session.build_session``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


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
