"""Explicit partitioning ahead of compute-bound per-group stages.

AQE sizes shuffle partitions by bytes, which suits byte-bound stages but
starves a compute-bound per-group Python stage: a few-MB frame coalesces
to one or two partitions.  Such a stage gets an explicit partition count,
which AQE keeps: :func:`one_wave_partitions`, one task per core, so the
stage runs in one wave and pays each Python task's fixed cost once per
core (on ``local[4]`` each further wave of a long-format job cost
0.05–0.1 s).  A job larger than
one task per core gets its count from ``spark.sql.shuffle.partitions``.
Skewed *joins* need nothing here: AQE's skew-join splitting is on in
``session.build_session``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def one_wave_partitions(spark: SparkSession) -> int:
    """Partitions of a compute-bound Python stage: max(shuffle partitions,
    defaultParallelism), one wave on every core."""
    return max(
        int(spark.conf.get("spark.sql.shuffle.partitions")),
        spark.sparkContext.defaultParallelism,
    )


def pin_group_partitions(df: DataFrame, *keys: str) -> DataFrame:
    """Explicit hash-repartition on grouping keys ahead of a compute-bound
    per-group Python stage.  AQE's byte-based partition coalescing misjudges
    it badly — a few-MB frame coalesces to 1-2 partitions and the whole
    per-group computation runs on 1-2 cores.  An explicit user repartition
    is honored by AQE, and the downstream ``groupBy(keys)`` (an
    ``applyInPandas``, or the ``collect_list`` feeding ``mapInArrow`` in the
    long path) reuses the exchange, so no extra shuffle.
    The count is :func:`one_wave_partitions`.

    A constant key (a literal kind, ``F.lit("a").alias("kind")``) is left
    out of the hash: Catalyst folds it into the aggregate's grouping, so a
    hash on the key's attribute no longer satisfies the aggregate, which
    then adds a second exchange that AQE coalesces to one task.  A hash on
    the other keys satisfies the same clustering."""
    constant = _constant_columns(df, keys)
    pinned = [k for k in keys if k not in constant] or list(keys)
    return df.repartition(one_wave_partitions(df.sparkSession), *pinned)


def _constant_columns(df: DataFrame, keys) -> set[str]:
    """The ``keys`` that the optimizer folds to a constant: those the top
    projection of ``df``'s optimized plan computes as foldable
    expressions.  The frame keeps its optimized plan, so a frame that is
    extracted again pays for the optimizer once."""
    plan = df._jdf.queryExecution().optimizedPlan()
    if plan.nodeName() != "Project":
        return set()
    exprs, columns = plan.projectList(), df.columns
    out = set()
    for key in keys:
        if key not in columns:
            continue
        expr = exprs.apply(columns.index(key))
        if (expr.child() if expr.nodeName() == "Alias" else expr).foldable():
            out.add(key)
    return out
