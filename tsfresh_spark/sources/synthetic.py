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


def text_corpus(
    spark: SparkSession,
    n_docs: int,
    *,
    min_words: int = 20,
    max_words: int = 80,
    vocab_words: int = 20_000,
    dup_pct: int = 5,
    n_partitions: int | None = None,
) -> DataFrame:
    """(doc_id, text) with hash-derived deterministic word sequences and an
    injected near-duplicate population — the scale-stress input for the
    near-dup pipelines.

    ``dup_pct`` percent of docs copy a nearby donor doc's word stream but
    swap the first word for a unique marker, so their word-3-gram Jaccard
    is high (≈1 − 3/n) without being exact duplicates.  Pure column
    expressions executor-side; any slice is reproducible at any scale.
    """
    rng = spark.range(
        0, n_docs, 1, n_partitions or spark.sparkContext.defaultParallelism
    )
    doc_id = F.format_string("doc%010d", F.col("id"))
    h = F.abs(F.xxhash64(doc_id))
    is_dup = (F.abs(F.xxhash64(doc_id, F.lit(2))) % 100 < dup_pct) & (
        F.col("id") > 8
    )
    donor = F.when(
        is_dup, F.col("id") - 1 - F.abs(F.xxhash64(doc_id, F.lit(3))) % 8
    ).otherwise(F.col("id"))
    dh = F.abs(F.xxhash64(F.format_string("doc%010d", donor)))
    n_words = (dh % (max_words - min_words + 1) + min_words).cast("int")
    seed = dh % F.lit(2**31)
    # hash (seed, j), NOT an LCG: with word = (seed + j·B) mod V two
    # unrelated docs are shifted copies of one arithmetic progression and
    # share whole shingle runs whenever their seeds differ by a multiple of
    # gcd(B, V) — measured: that accidental structure made ~0.8% of ALL
    # pairs near-dups, which is quadratic at scale
    word_at = lambda j: F.format_string(
        "w%05d",
        (F.abs(F.xxhash64(seed, j.cast("long"))) % vocab_words).cast("int"),
    )
    words = F.transform(F.sequence(F.lit(0), n_words - 1), word_at)
    # dup docs swap word 0 for a doc-unique marker — near-dup, not exact
    words = F.when(
        is_dup,
        F.concat(
            F.array(F.format_string("u%010d", F.col("id"))),
            F.slice(words, 2, 100_000),
        ),
    ).otherwise(words)
    return rng.select(
        doc_id.alias("doc_id"), F.concat_ws(" ", words).alias("text")
    )


def embeddings_corpus(
    spark: SparkSession,
    n_vecs: int,
    *,
    dim: int = 32,
    dup_pct: int = 5,
    n_partitions: int | None = None,
) -> DataFrame:
    """(vec_id, embedding float[dim]) deterministic near-unit-normal vectors
    with ``dup_pct`` percent injected near-duplicates (donor vector + small
    hash-derived perturbation → cosine ≈ 0.995) — scale-stress input for
    :func:`tsfresh_spark.operators.dedup.embedding_near_duplicates`.

    Normals via Box-Muller over hashed uniforms, one column expression per
    dimension — fully executor-side, no RNG state.
    """
    rng = spark.range(
        0, n_vecs, 1, n_partitions or spark.sparkContext.defaultParallelism
    )
    h2 = F.abs(F.xxhash64(F.col("id"), F.lit(12)))
    is_dup = (h2 % 100 < dup_pct) & (F.col("id") > 8)
    donor = F.when(is_dup, F.col("id") - 1 - (h2 % 8)).otherwise(F.col("id"))

    def normal(key, d, salt):
        u1 = (
            F.abs(F.xxhash64(key, F.lit(d), F.lit(salt))) % 1000000007 + 1
        ) / 1000000008.0
        u2 = (
            F.abs(F.xxhash64(key, F.lit(d), F.lit(salt + 1))) % 1000000007
        ) / 1000000007.0
        return F.sqrt(-2.0 * F.log(u1)) * F.cos(2.0 * float(np.pi) * u2)

    vec = F.array(
        *[
            (normal(donor, d, 100) + F.when(is_dup, 0.05 * normal(F.col("id"), d, 200)).otherwise(F.lit(0.0))).cast("float")
            for d in range(dim)
        ]
    )
    return rng.select(F.col("id").alias("vec_id"), vec.alias("embedding"))


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
