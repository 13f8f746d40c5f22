"""Deterministic synthetic corpus generators.

All generation is hash-of-key based on executors (`spark.range` + column
expressions — no driver-side data, no RNG state), so any slice of the corpus
is reproducible at any scale: the 10^12-row production shape and the 1k-row
test shape are the same table at different ranges.

Mirrors FIXTURES.md F1 (tokens corpus) and F4/F5 shapes (reference
benchmark generators, /root/reference/tests/benchmark.py:13-29 and
examples/robot_execution_failures.py — deterministic clones, no downloads).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

VOCAB_SIZE = 50257

# zipf-ish skewed source mix (FIXTURES.md F1): web 50%, code 25%, rest uniform
_SOURCES = ["web", "code", "wiki", "books", "news", "forum", "paper", "chat"]
_SOURCE_CUM_PCT = [50, 75, 79, 83, 87, 91, 95, 100]


def tokens_corpus(
    spark: SparkSession,
    n_docs: int,
    *,
    min_len: int = 16,
    max_len: int = 2048,
    start_id: int = 0,
    n_partitions: int | None = None,
) -> DataFrame:
    """(doc_id, tokens, n_tok, source) with hash-derived deterministic
    content.

    token[j] of doc i = (h(i)·A + j·B) mod VOCAB with the classic LCG
    multipliers — pure column expressions (sequence + transform), generated
    executor-side.  ``start_id`` slices a window out of the conceptually
    infinite corpus (resume / incremental loads).
    """
    rng = spark.range(start_id, start_id + n_docs, 1, n_partitions or spark.sparkContext.defaultParallelism)
    doc_id = F.format_string("doc%010d", F.col("id"))
    h = F.abs(F.xxhash64(doc_id))
    n_tok = (h % (max_len - min_len + 1) + min_len).cast("int")
    seed = h % F.lit(2**31)
    token_at = lambda j: (
        (seed * F.lit(1103515245) + j.cast("long") * F.lit(12345) + seed % F.lit(97))
        % F.lit(VOCAB_SIZE)
    ).cast("int")
    tokens = F.transform(F.sequence(F.lit(0), n_tok - 1), token_at)
    pct = F.abs(F.xxhash64(doc_id, F.lit(1))) % 100
    source = F.lit(_SOURCES[0])
    expr = F.when(pct < _SOURCE_CUM_PCT[0], F.lit(_SOURCES[0]))
    for name, cum in zip(_SOURCES[1:], _SOURCE_CUM_PCT[1:]):
        expr = expr.when(pct < cum, F.lit(name))
    return rng.select(
        doc_id.alias("doc_id"),
        tokens.alias("tokens"),
        n_tok.alias("n_tok"),
        expr.alias("source"),
    )


def random_walks(
    spark: SparkSession,
    num_ids: int,
    length: int,
    *,
    seed: int = 42,
) -> DataFrame:
    """Long-format random-walk benchmark series — the shape of the
    reference's create_data (tests/benchmark.py:13-29): per id,
    value = cumsum of unit normals, time = 0..length-1.

    Normals are generated per (id, t) from hashed uniforms via Box-Muller —
    deterministic, executor-side; the cumulative sum is a window.
    """
    from pyspark.sql import Window

    grid = spark.range(num_ids).select(
        F.col("id"),
        F.explode(F.sequence(F.lit(0), F.lit(length - 1))).alias("time"),
    )
    u1 = (F.abs(F.xxhash64("id", "time", F.lit(seed))) % 1000000007 + 1) / 1000000008.0
    u2 = (F.abs(F.xxhash64("id", "time", F.lit(seed + 1))) % 1000000007) / 1000000007.0
    normal = F.sqrt(-2.0 * F.log(u1)) * F.cos(2.0 * float(np.pi) * u2)
    w = (
        Window.partitionBy("id")
        .orderBy("time")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return grid.select(
        "id",
        F.lit("walk").alias("kind"),
        "time",
        F.sum(normal).over(w).alias("value"),
    )


def velocity_series(
    spark: SparkSession,
    num_ids: int,
    length: int,
    *,
    tau: float = 3.8,
    kappa_3: float = 0.3,
    delta_t: float = 0.05,
    seed: int = 42,
) -> DataFrame:
    """Dissipative-soliton velocity sampler — the deterministic Spark analog
    of the reference's drift-bifurcation simulator
    (/root/reference/tsfresh/examples/driftbif_simulation.py:15-200): Euler
    integration of dv = (tau - 3.8)·kappa_3·v − kappa_3·|v|²·v + noise.

    The recursion is sequential per series, so it runs inside one
    arrow-batched pandas iterator per partition (one series per row,
    executor-side, seeded per id) — generation stays distributed.
    """
    import pandas as pd

    def gen(batches):
        for pdf in batches:
            rows = []
            for sid in pdf["id"]:
                rng = np.random.RandomState(seed + int(sid))
                v = np.empty(length)
                v[0] = 0.01
                q = kappa_3**2 * delta_t
                a = (tau - 3.8) * kappa_3
                for t in range(1, length):
                    prev = v[t - 1]
                    drift = a * prev - kappa_3 * (prev**2) * prev
                    v[t] = prev + delta_t * drift + np.sqrt(q) * rng.randn()
                rows.append((int(sid), v.tolist()))
            yield pd.DataFrame(rows, columns=["id", "velocity"])

    base = spark.range(num_ids)
    wide = base.mapInPandas(gen, "id long, velocity array<double>")
    return wide.select(
        "id",
        F.lit("velocity").alias("kind"),
        F.posexplode("velocity").alias("time", "value"),
    )


def robot_failures_clone(spark: SparkSession) -> DataFrame:
    """Deterministic clone of the robot-execution-failures shape
    (FIXTURES.md F4): 88 ids × 15 steps × 6 force/torque kinds, integer
    values; wide format like the reference loader
    (examples/robot_execution_failures.py:102-132)."""
    grid = spark.range(1, 89).select(
        F.col("id"),
        F.explode(F.sequence(F.lit(0), F.lit(14))).alias("time"),
    )
    cols = [
        (F.pmod(F.xxhash64("id", "time", F.lit(k)), F.lit(41)) - 20)
        .cast("long")
        .alias(name)
        for k, name in enumerate(["F_x", "F_y", "F_z", "T_x", "T_y", "T_z"])
    ]
    return grid.select("id", "time", *cols)
