"""Deduplication operators for large-scale training-data pipelines.

Five flavors, all expressed as DataFrame plans:

* exact            — hash-groupBy on a content digest (pure Catalyst)
* minhash + LSH    — shingle → minhash signature → band-bucket join
* simhash          — weighted bit fingerprint, near-dup via hamming bands
* n-gram Jaccard   — EXACT Jaccard via inverted shingle index with
                     document-frequency pruning (no hash approximation)
* embedding cosine — sign-LSH bucket join + exact-cosine verify

:func:`jaccard_verify` is the shared exact-verification tail of the
minhash and n-gram flavors.

Two hash families: ``xxhash64`` (pure Catalyst, fastest primitive) and
``portable`` (md5 base values + seeded affine universal hashes) whose every
stage is replicable bit-for-bit in any SQL engine — DuckDB replays the full
pipeline as the correctness oracle.  The portable signature's affine
min-passes run as one vectorized numpy broadcast in an Arrow-batched pandas
UDF (measured faster than per-element Catalyst lambdas); everything else
stays JVM-side.

At 100 TB the LSH band join is the scale path: candidate generation is a
shuffle on (band, bucket) keys whose fan-out is bounded by the
``max_bucket_size`` hot-bucket guard, never an all-pairs cross join; the
Jaccard verification joins only the candidate pairs.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# --- portable hash family -------------------------------------------------
# Engine-independent hashing so the whole near-dup pipeline is replicable
# bit-for-bit in any SQL engine with md5 (DuckDB serves as the correctness
# oracle): a shingle's base value is the first 60 bits of its md5 digest,
# and the i-th minhash function is the classic universal hash
# (a_i * base + b_i) mod p over the 31-bit Mersenne prime.  Coefficients
# come from a fixed seed so both sides embed the same literals.
_MINHASH_P = 2_147_483_647  # 2^31 - 1 (prime): products stay < 2^62


def minhash_coefficients(num_hashes: int = 64) -> tuple[list[int], list[int]]:
    rng = np.random.RandomState(0)
    a = rng.randint(1, _MINHASH_P, size=num_hashes).astype(np.int64)
    b = rng.randint(0, _MINHASH_P, size=num_hashes).astype(np.int64)
    return a.tolist(), b.tolist()


def _base60(col):
    """First 60 bits of md5 as a positive BIGINT — identical in Spark
    (conv(substring(md5), 16, 10)) and DuckDB (cast('0x'||substr(md5)))."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def _portable_sig_udf(num_hashes: int):
    """Vectorized signature evaluator for the portable family: the md5 base
    values are computed JVM-side, then numpy evaluates all ``num_hashes``
    affine min-passes per doc in one (H × n_shingles) int64 broadcast —
    measured ~8 s → ~1 s on 5 k docs vs per-element Catalyst lambdas, with
    bit-identical arithmetic (products < 2^62 stay exact in int64)."""
    from pyspark.sql.functions import pandas_udf

    A, B = minhash_coefficients(num_hashes)
    A = np.asarray(A, dtype=np.int64)[:, None]
    B = np.asarray(B, dtype=np.int64)[:, None]

    @pandas_udf("array<long>")
    def sig(bases: pd.Series) -> pd.Series:
        out = []
        for b in bases:
            arr = np.asarray(b, dtype=np.int64)[None, :]
            out.append(((A * arr + B) % _MINHASH_P).min(axis=1))
        return pd.Series(out)

    return sig


def exact_duplicates(
    df: DataFrame, *, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Mark exact duplicates by content digest.

    Returns one row per input doc: (id, text_hash, dup_count, is_duplicate)
    where the canonical (minimum-id) doc of each hash group is not counted a
    duplicate.  Window over the hash == hash-partitioned shuffle; no driver
    collection.
    """
    h = F.md5(F.col(text_col).cast("string")).alias("text_hash")
    w = Window.partitionBy("text_hash")
    return (
        df.select(F.col(id_col), h)
        .withColumn("dup_count", F.count("*").over(w).cast("long"))
        .withColumn(
            "is_duplicate",
            (F.col(id_col) != F.min(id_col).over(w)).cast("long"),
        )
    )


# the ONE tokenization rule of the whole text plane lives in operators/
# text.py; importing it here keeps the shinglers and the text statistics
# incapable of drifting apart
from tsfresh_spark.operators.text import _words  # noqa: E402


def _shingles(text_col: str, n: int):
    """Word n-gram shingle array (distinct), built JVM-side."""
    words = _words(text_col)
    if n == 1:
        return F.array_distinct(words)
    return F.array_distinct(
        F.filter(
            F.transform(
                words,
                lambda w, i: F.when(
                    i + n <= F.size(words),
                    F.concat_ws(" ", F.slice(words, i + 1, n)),
                ),
            ),
            lambda s: s.isNotNull(),
        )
    )


def minhash_signatures(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    num_hashes: int = 64,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """MinHash signature per doc.

    ``hash_family="xxhash64"`` (fast path): hash function i is
    ``xxhash64(shingle, seed=i)``.  ``hash_family="portable"``: the md5-based
    universal-hash family above — same signatures reproducible in any SQL
    engine, used by the correctness oracle.  Both run entirely in Catalyst:
    transform + aggregate over the shingle array, one row per doc, no
    shuffle.

    Row-set contract (changed in round 3, both families): documents with
    fewer than ``shingle_n`` words have no shingles and emit NO signature
    row — downstream joins on the signature table must not assume one row
    per input doc.  Before round 3 the xxhash64 family emitted a
    (meaningless) row for such docs; the families now agree.
    """
    sh = _shingles(text_col, shingle_n).alias("shingles")
    if hash_family == "portable":
        # one md5 per shingle JVM-side, then the vectorized affine min-pass.
        # Docs too short to shingle (< n words) have no signature; the
        # pre-filter tests the cheap word count — filtering on
        # size(shingles) would push the whole shingle expression into the
        # predicate and re-evaluate it per row (measured 1.2 s → 9 s).
        staged = (
            df.filter(F.size(_words(text_col)) >= shingle_n)
            .select(F.col(id_col), sh)
            .select(
                id_col,
                F.transform(
                    F.col("shingles"), lambda s: _base60(s) % _MINHASH_P
                ).alias("bases"),
            )
        )
        sig = _portable_sig_udf(num_hashes)
        return staged.select(id_col, sig(F.col("bases")).alias("minhash"))
    # 64 independent streaming min-passes beat a single zip_with fold here
    # (the fold allocates a 64-wide accumulator array per shingle; measured
    # 21s vs 16s on the sf0.1 corpus)
    sig = F.array(
        *[
            F.array_min(
                F.transform(F.col("shingles"), lambda s: F.xxhash64(s, F.lit(i)))
            )
            for i in range(num_hashes)
        ]
    ).alias("minhash")
    # same short-doc pre-filter as the portable branch, so switching
    # hash_family never changes the output row set (a < n-word doc has no
    # shingles and thus no meaningful signature in either family)
    return (
        df.filter(F.size(_words(text_col)) >= shingle_n)
        .select(F.col(id_col), sh)
        .select(id_col, sig)
    )


def _banded(
    signatures: DataFrame,
    id_col: str,
    num_bands: int,
    rows_per_band: int,
    hash_family: str,
) -> DataFrame:
    """(id, band, bucket) rows.  Fast family compacts the bucket key to a
    64-bit hash; portable keeps the raw signature tuple string so any engine
    reproduces the buckets."""
    key = lambda b: F.concat_ws(
        ",",
        *[
            F.col("minhash")[b * rows_per_band + r].cast("string")
            for r in range(rows_per_band)
        ],
    )
    buckets = [
        key(b) if hash_family == "portable" else F.xxhash64(key(b)).cast("string")
        for b in range(num_bands)
    ]
    return signatures.select(
        id_col, F.posexplode(F.array(*buckets)).alias("band", "bucket")
    )


def _cap_buckets(banded: DataFrame, max_bucket_size: int | None) -> DataFrame:
    """Guard against hot buckets (boilerplate/empty docs): drop any
    (band, bucket) with more than ``max_bucket_size`` members before the
    self-join — a 10^6-member bucket would otherwise fan out to 10^12
    candidate rows in one task.  Partial-aggregated counts (safe at any
    skew) joined back on the same shuffle key; singleton buckets are also
    dropped (they can't produce pairs).  Use :func:`lsh_bucket_report` to
    see what was dropped."""
    if max_bucket_size is None:
        return banded
    sizes = banded.groupBy("band", "bucket").agg(F.count("*").alias("_bsz"))
    keep = sizes.filter(
        (F.col("_bsz") >= 2) & (F.col("_bsz") <= max_bucket_size)
    ).select("band", "bucket")
    return banded.join(keep, ["band", "bucket"])


def lsh_bucket_report(
    signatures: DataFrame,
    *,
    id_col: str = "doc_id",
    num_bands: int = 16,
    rows_per_band: int = 4,
    max_bucket_size: int = 1024,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """(band, bucket, size) of buckets the cap would drop — the 'logged
    warning' side-channel of the cap, computed lazily as a DataFrame so the
    pipeline itself stays one job."""
    banded = _banded(signatures, id_col, num_bands, rows_per_band, hash_family)
    return (
        banded.groupBy("band", "bucket")
        .agg(F.count("*").alias("size"))
        .filter(F.col("size") > max_bucket_size)
    )


def lsh_candidate_pairs(
    signatures: DataFrame,
    *,
    id_col: str = "doc_id",
    num_bands: int = 16,
    rows_per_band: int = 4,
    max_bucket_size: int | None = None,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """LSH banding: docs agreeing on all rows of any band become a candidate
    pair.  Shuffle key = (band, bucket); pair fan-out bounded by
    ``max_bucket_size`` (hot-bucket guard), never O(n²)."""
    banded = _cap_buckets(
        _banded(signatures, id_col, num_bands, rows_per_band, hash_family),
        max_bucket_size,
    )
    left = banded.alias("l")
    right = banded.alias("r")
    return (
        left.join(
            right,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.bucket") == F.col("r.bucket"))
            & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
        )
        .select(
            F.col(f"l.{id_col}").alias("id_a"), F.col(f"r.{id_col}").alias("id_b")
        )
        .distinct()
    )


def jaccard_verify(
    df: DataFrame,
    pairs: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    threshold: float = 0.8,
    shingle_df: DataFrame | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard on candidate pairs only; join fan-in is the
    candidate list, so the expensive set intersection never runs all-pairs.
    ``shingle_df`` (id, sh) skips re-shingling when the caller already
    materialized the shingle sets (the fused pipeline passes its persisted
    staging frame)."""
    if shingle_df is not None:
        sh = shingle_df
    else:
        sh = df.select(F.col(id_col), _shingles(text_col, shingle_n).alias("sh"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = F.size(F.array_intersect("a.sh", "b.sh"))
    # |A ∪ B| as |A|+|B|-|A∩B|: pure integer arithmetic, so the double
    # division is bit-identical across engines (oracle replicates it)
    union = F.size("a.sh") + F.size("b.sh") - inter
    # broadcast the CANDIDATE side explicitly (guide §3.1): pairs is two
    # ids per row and bounded by the banded/df-pruned fan-out, while the
    # shingle table is corpus-sized with string arrays — without the hint
    # the planner's estimates broadcast the shingle side (measured: two
    # ~25 MB sh broadcasts per verify at sf0.1, the dominant cost; a
    # driver hazard at real scale)
    joined = (
        F.broadcast(pairs).join(a, pairs.id_a == F.col(f"a.{id_col}"))
        .join(b, pairs.id_b == F.col(f"b.{id_col}"))
        .select(
            "id_a",
            "id_b",
            (inter.cast("double") / union).alias("jaccard"),
        )
    )
    return joined.filter(F.col("jaccard") >= threshold)


def ngram_jaccard_duplicates(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    threshold: float = 0.8,
    max_df: int = 64,
    persist: bool = True,
) -> DataFrame:
    """EXACT n-gram Jaccard near-dup via an inverted shingle index — the
    fourth dedup flavor (no hashing approximation, unlike minhash/simhash).

    Pipeline: shingle each doc (word ``shingle_n``-grams, distinct) →
    explode to an inverted index (shingle → doc) → document-frequency
    pruning (keep shingles with ``2 <= df <= max_df``) → self-join on the
    shingle key for candidate pairs → exact-Jaccard verification
    (:func:`jaccard_verify`) on candidates only.

    Scale shape (the 100-TB contract): candidate generation is a shuffle on
    the shingle key, never an all-pairs join — per-shingle fan-out is
    bounded at ``max_df·(max_df-1)/2`` pairs by the df guard, and df-1
    shingles (can't pair) plus stopword-like high-df shingles are dropped
    before the join.  The length-ratio prune (``J >= t ⇒ t·max(|A|,|B|) <=
    min(|A|,|B|)``, an exact implication) cuts candidates before the
    set-intersection verify.  Approximation contract: a pair whose EVERY
    shared shingle has ``df > max_df`` is missed — deterministic, engine-
    independent (the DuckDB oracle replays the identical pruning).

    Returns (id_a, id_b, jaccard) with ``id_a < id_b`` and
    ``jaccard >= threshold``.
    """
    from tsfresh_spark.plans.partitioning import ensure_min_parallelism

    sh = (
        ensure_min_parallelism(df)
        # cheap word-count pre-filter — see minhash_signatures for why not
        # size(shingles)
        .filter(F.size(_words(text_col)) >= shingle_n)
        .select(F.col(id_col), _shingles(text_col, shingle_n).alias("sh"))
    )
    if persist:
        from pyspark import StorageLevel

        # reused three ways (inverted index + both verify sides); without a
        # persist the shingling re-runs per use — the dominant cost
        sh = sh.persist(StorageLevel.MEMORY_AND_DISK)
    inv = sh.select(
        F.col(id_col).alias("_id"),
        F.size("sh").alias("_sz"),
        F.explode("sh").alias("_shingle"),
    )
    # df-pruning via groupBy + join, NOT a window over the exploded table:
    # the aggregate gets map-side partial combine (the window would shuffle
    # every shingle OCCURRENCE uncombined), and the surviving-shingle side
    # (2 <= df <= max_df — unique and stopword-like shingles are gone, so
    # typically a small fraction of the distinct-shingle set) is exactly
    # the shape AQE converts to a runtime broadcast join.  At local bench
    # scale the two forms measure EQUAL (interleaved A/B at 20k docs:
    # 4.0 s window vs 4.4 s groupBy minimums, same 1020 pairs) — the
    # combine + broadcastable-side properties are the 100-TB argument,
    # not a local win
    freq_all = inv.groupBy("_shingle").agg(F.count("*").alias("_df"))
    freq = freq_all.filter(
        (F.col("_df") >= 2) & (F.col("_df") <= max_df)
    ).select("_shingle")
    kept = inv.join(freq, "_shingle")
    # Candidate pairs per shingle GROUP (round-6 rewrite): collect the
    # (id, size) postings per surviving shingle and emit the i<j
    # combinations in a narrow Arrow stage.  The previous kept⨝kept
    # self-join made AQE broadcast the CORPUS-SIZED posting table through
    # the driver (measured: the b-side BroadcastExchange carried every
    # kept posting, and the explode+df-prune subtree was planned twice —
    # the dominant cost of the query, and a driver-memory hazard at 100 TB)
    # while this form shuffles each posting once into its shingle group.
    # Fan-out is identical (df ≤ max_df bounds both forms at
    # max_df·(max_df−1)/2 pairs per shingle) and the pair set is
    # definitionally the same: all (a<b) sharing a kept shingle, with the
    # exact length-ratio implication of J ≥ t applied per pair.  The
    # groupBy is pinned for the same AQE byte-coalescing reason as every
    # compute-bound grouped stage (CLAUDE.md).
    from tsfresh_spark.plans.partitioning import pin_group_partitions

    id_type = df.schema[id_col].dataType.simpleString()
    grouped = (
        pin_group_partitions(kept, "_shingle")
        .groupBy("_shingle")
        .agg(F.collect_list(F.struct("_id", "_sz")).alias("_docs"))
        .select("_docs")
    )
    thr = float(threshold)

    def _gen_pairs(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            out_a, out_b = [], []
            for docs in pdf["_docs"].values:
                k = len(docs)
                if k < 2:
                    continue
                ids = np.array([d["_id"] for d in docs])
                szs = np.array([d["_sz"] for d in docs], dtype=np.int64)
                ii, jj = np.triu_indices(k, 1)
                lo, hi = szs[ii], szs[jj]
                keep_m = np.minimum(lo, hi) >= thr * np.maximum(lo, hi)
                ia, ib = ids[ii[keep_m]], ids[jj[keep_m]]
                # id ordering must work for STRING ids too (the telemetry
                # corpus keys docs by string id; np.minimum has no ufunc
                # loop for <U dtypes) — np.where with the comparison
                # operator orders any id dtype, matching the old join's
                # lexicographic a < b on strings
                swap = ib < ia
                out_a.append(np.where(swap, ib, ia))
                out_b.append(np.where(swap, ia, ib))
            if out_a:
                yield pd.DataFrame(
                    {
                        "id_a": np.concatenate(out_a),
                        "id_b": np.concatenate(out_b),
                    }
                )

    # Exact Jaccard UPPER BOUND per candidate (round-6): the pair-gen
    # emissions count each pair once per SHARED KEPT shingle, so the
    # groupBy yields the exact kept-intersection size for free (the old
    # .distinct() paid the same shuffle for less information).  Any shared
    # shingle is either kept (counted exactly — df=1 shingles cannot be
    # shared) or hot (df > max_df), and a pair shares at most
    # min(hot_a, hot_b) hot shingles, so with sizes |A|,|B|:
    #     inter ≤ ik + min(h_a, h_b)                       (ik exact)
    #     union ≥ |A| + |B| − ik − min(h_a, h_b)
    #     J ≤ (ik + min_h) / (|A| + |B| − ik − min_h)
    # Pairs whose bound fails `bound_inter ≥ t·bound_union` provably fail
    # the final `J ≥ t` filter (IEEE multiply is monotone, quantities are
    # exact integers), so dropping them cannot change the output — the
    # expensive string-array intersection then runs on the handful of
    # plausible pairs instead of every banded candidate (measured at
    # sf0.1: 849,875 candidates → 256 results; the verify stage was 112 of
    # the query's ~180 core-seconds).  threshold=0 (the telemetry mode)
    # keeps every candidate, exactly as before.
    pair_counts = (
        grouped.mapInPandas(_gen_pairs, f"id_a {id_type}, id_b {id_type}")
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("_ik"))
    )
    if threshold <= 0:
        # telemetry mode: the bound filter keeps every pair at t ≤ 0, so
        # skip the doc-stat joins outright
        return jaccard_verify(
            df,
            pair_counts.select("id_a", "id_b"),
            text_col=text_col,
            id_col=id_col,
            shingle_n=shingle_n,
            threshold=threshold,
            shingle_df=sh,
        )
    hot = freq_all.filter(F.col("_df") > max_df).select("_shingle")
    hot_counts = (
        inv.join(F.broadcast(hot), "_shingle")
        .groupBy("_id")
        .agg(F.count("*").alias("_hot"))
    )
    docinfo = (
        sh.select(F.col(id_col).alias("_id"), F.size("sh").alias("_dsz"))
        .join(hot_counts, "_id", "left")
        .select(
            "_id", "_dsz", F.coalesce("_hot", F.lit(0)).alias("_hot")
        )
    )
    da = docinfo.select(
        F.col("_id").alias("id_a"),
        F.col("_dsz").alias("_sza"),
        F.col("_hot").alias("_ha"),
    )
    db = docinfo.select(
        F.col("_id").alias("id_b"),
        F.col("_dsz").alias("_szb"),
        F.col("_hot").alias("_hb"),
    )
    min_h = F.least("_ha", "_hb")
    bound_inter = F.col("_ik") + min_h
    bound_union = F.col("_sza") + F.col("_szb") - F.col("_ik") - min_h
    pairs = (
        pair_counts.join(F.broadcast(da), "id_a")
        .join(F.broadcast(db), "id_b")
        .filter(bound_inter >= threshold * bound_union)
        .select("id_a", "id_b")
    )
    return jaccard_verify(
        df,
        pairs,
        text_col=text_col,
        id_col=id_col,
        shingle_n=shingle_n,
        threshold=threshold,
        shingle_df=sh,
    )


def minhash_near_duplicates(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    num_hashes: int = 64,
    num_bands: int = 16,
    threshold: float = 0.8,
    max_bucket_size: int | None = None,
    hash_family: str = "xxhash64",
    persist: bool = True,
) -> DataFrame:
    """Full MinHash-LSH pipeline: signatures → banded candidates → exact
    Jaccard verification at ``threshold``.

    The (id, shingles, signature) staging frame is computed ONCE and
    ``persist``-ed (MEMORY_AND_DISK): the DAG reuses it five ways (bucket
    counts, both self-join sides, both verify sides), and without a persist
    Spark would re-run the shingling + signature hashing for each — the
    dominant cost of the pipeline.  At 100 TB the staging frame is
    corpus-sized but columnar and far smaller than the raw text; spill to
    disk is the intended behavior.  Pass ``persist=False`` to keep the plan
    fully lazy (e.g. under a single-action optimizer of your own).
    """
    from tsfresh_spark.plans.partitioning import ensure_min_parallelism

    rows_per_band = num_hashes // num_bands
    sh = _shingles(text_col, shingle_n).alias("sh")
    # cheap word-count pre-filter — see minhash_signatures for why not
    # size(shingles)
    staged = (
        ensure_min_parallelism(df)
        .filter(F.size(_words(text_col)) >= shingle_n)
        .select(F.col(id_col), sh)
    )
    if hash_family == "portable":
        bases = F.transform(F.col("sh"), lambda s: _base60(s) % _MINHASH_P)
        with_bases = staged.select(id_col, "sh", bases.alias("_bases"))
        sig = _portable_sig_udf(num_hashes)
        staged = with_bases.select(
            id_col, "sh", sig(F.col("_bases")).alias("minhash")
        )
    else:
        sig = F.array(
            *[
                F.array_min(
                    F.transform(F.col("sh"), lambda s: F.xxhash64(s, F.lit(i)))
                )
                for i in range(num_hashes)
            ]
        )
        staged = staged.select(id_col, "sh", sig.alias("minhash"))
    if persist:
        from pyspark import StorageLevel

        staged = staged.persist(StorageLevel.MEMORY_AND_DISK)
    pairs = lsh_candidate_pairs(
        staged.select(id_col, "minhash"),
        id_col=id_col,
        num_bands=num_bands,
        rows_per_band=rows_per_band,
        max_bucket_size=max_bucket_size,
        hash_family=hash_family,
    )
    return jaccard_verify(
        df,
        pairs,
        text_col=text_col,
        id_col=id_col,
        shingle_n=shingle_n,
        threshold=threshold,
        shingle_df=staged.select(id_col, "sh"),
    )


def simhash(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_family: str = "xxhash64",
) -> DataFrame:
    """SimHash over word unigrams: bit b of the fingerprint is the sign of
    the sum over words of ±1 according to bit b of the word hash.

    ``xxhash64`` family → 64-bit fingerprint; ``portable`` family → 60-bit
    fingerprint from the md5 base (always positive, so shifts/bit ops are
    identical in every engine — that is what makes the DuckDB oracle
    possible).  Expressed as an aggregate over the word array per row (no
    shuffle).
    """
    nbits = 60 if hash_family == "portable" else 64
    words = F.array_distinct(_words(text_col))
    if hash_family == "portable":
        hashes = F.transform(words, lambda w: _base60(w))
        masks = F.array(*[F.lit(1 << b).cast("long") for b in range(nbits)])
    else:
        hashes = F.transform(words, lambda w: F.xxhash64(w))
        masks = F.array(
            *[F.lit(1 << b).cast("long") for b in range(63)],
            F.lit(-(1 << 63)).cast("long"),  # bit 63 == the sign bit
        )
    # single pass: fold each word hash into an nbits-wide ±1 counter array,
    # then assemble the sign bits (same totals as nbits separate aggregates —
    # integer sums are order-free — with one expression tree)
    bit_votes = lambda h: F.transform(
        masks,
        lambda m: F.when(h.bitwiseAND(m) != 0, F.lit(1)).otherwise(F.lit(-1)),
    )
    counts = F.aggregate(
        hashes,
        F.array_repeat(F.lit(0), nbits),
        lambda acc, h: F.zip_with(acc, bit_votes(h), lambda a, v: a + v),
    )
    staged = df.select(F.col(id_col), counts.alias("_counts"))
    fingerprint = F.lit(0).cast("long")
    for b in range(nbits):
        bit = (
            F.when(F.element_at(F.col("_counts"), b + 1) > 0, F.lit(1).cast("long"))
            .otherwise(F.lit(0).cast("long"))
        )
        fingerprint = fingerprint.bitwiseOR(F.shiftleft(bit, b))
    return staged.select(F.col(id_col), fingerprint.alias("simhash"))


def simhash_near_duplicates(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    max_bucket_size: int | None = None,
    hash_family: str = "xxhash64",
    persist: bool = True,
) -> DataFrame:
    """Near-dup pairs by SimHash: band the fingerprint into 4 chunks
    (pigeonhole: hamming ≤ 3 ⇒ at least one chunk equal; above 3 the
    banding is a recall heuristic), join on chunk equality, verify hamming
    distance via bit_count(xor).  ``max_bucket_size`` drops hot chunks
    (same guard as the minhash band join).  The fingerprint frame is
    ``persist``-ed — the DAG reads it for the chunk counts and both
    self-join sides, and fingerprints are the expensive part."""
    from tsfresh_spark.plans.partitioning import ensure_min_parallelism

    nbits = 60 if hash_family == "portable" else 64
    chunk_bits = nbits // 4
    chunk_mask = (1 << chunk_bits) - 1
    src = ensure_min_parallelism(df)
    if hash_family == "portable":
        # zero-word docs carry no signal and the oracle excludes them; the
        # filter lives HERE so the simhash() fingerprint primitive keeps
        # its one-row-per-doc contract
        src = src.filter(F.size(_words(text_col)) > 0)
    fp = simhash(
        src,
        text_col=text_col,
        id_col=id_col,
        hash_family=hash_family,
    )
    if persist:
        from pyspark import StorageLevel

        fp = fp.persist(StorageLevel.MEMORY_AND_DISK)
    chunks = fp.select(
        id_col,
        "simhash",
        F.posexplode(
            F.array(
                *[
                    F.shiftrightunsigned("simhash", chunk_bits * i)
                    .bitwiseAND(F.lit(chunk_mask).cast("long"))
                    .alias(f"c{i}")
                    for i in range(4)
                ]
            )
        ).alias("chunk_idx", "chunk"),
    )
    if max_bucket_size is not None:
        sizes = chunks.groupBy("chunk_idx", "chunk").agg(
            F.count("*").alias("_bsz")
        )
        keep = sizes.filter(
            (F.col("_bsz") >= 2) & (F.col("_bsz") <= max_bucket_size)
        ).select("chunk_idx", "chunk")
        chunks = chunks.join(keep, ["chunk_idx", "chunk"])
    left = chunks.alias("l")
    right = chunks.alias("r")
    pairs = (
        left.join(
            right,
            (F.col("l.chunk_idx") == F.col("r.chunk_idx"))
            & (F.col("l.chunk") == F.col("r.chunk"))
            & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
        )
        .select(
            F.col(f"l.{id_col}").alias("id_a"),
            F.col(f"r.{id_col}").alias("id_b"),
            F.bit_count(
                F.col("l.simhash").bitwiseXOR(F.col("r.simhash"))
            ).alias("hamming"),
        )
        .distinct()
    )
    return pairs.filter(F.col("hamming") <= max_hamming)


# --------------------------------------------------------------------------
# embedding-cosine near-duplicates (the fifth dedup flavor: semantic dedup)
# --------------------------------------------------------------------------


# Signature planes live in their own hash-mix family far above any bucket
# plane index, so signature bits are independent of the bucket bits (a
# bucket collision fixes the bucket-plane signs; overlapping families would
# shift the hamming distribution of random in-bucket pairs downward and
# blunt the pre-filter).
_SIG_PLANE_BASE = 10_000
DEFAULT_SIGNATURE_BITS = 252  # 4 × 63-bit words; at 5σ the pass boundary
# sits near cosine ≈ 0.70 for threshold 0.9 — wide enough that bucket
# noise dies, tight enough that recall loss stays ~3e-7 per true pair
_SIG_BITS_PER_WORD = 63  # keep bit 63 clear: both engines stay in positive
# signed-long territory, no two's-complement shift edge to mirror


def derive_num_planes(
    n_rows: int, *, target_bucket_size: int = 4, lo: int = 4, hi: int = 24
) -> int:
    """Bucket-width rule for sign-LSH dedup: ``ceil(log2(n / target))``
    clamped to [lo, hi].  The right target is a SMALL mean occupancy (~4) —
    recall comes from OR-amplification across tables and the hamming
    pre-filter does the precision work; sizing buckets near the hot-bucket
    cap (e.g. 1024) would put every pair of a saturated bucket into the
    candidate set and recall silently collapses once every bucket caps out
    (the round-4 failure mode this derivation exists to prevent).  At 200k
    docs this yields 16 planes — exactly the config the round-4 telemetry
    measured as sound."""
    import math

    n_rows = max(int(n_rows), 2)
    return max(lo, min(hi, math.ceil(math.log2(n_rows / target_bucket_size))))


def signature_hamming_cutoff(
    threshold: float, signature_bits: int, margin: float = 5.0
) -> int:
    """Max admissible signature hamming distance for a pair at ``cosine >=
    threshold``: sign bits disagree with probability p = acos(threshold)/π,
    so a true at-threshold pair has hamming ~ Binomial(B, p); the cutoff is
    ``floor(B·p + margin·sqrt(B·p(1−p)))``.  At margin 5σ the per-pair
    false-drop probability is ~3e-7 (recall is untouched in expectation
    even across millions of true pairs) while a random orthogonal pair
    (p = 0.5) passes with probability ~1e-6 — the filter removes ~all
    non-duplicate bucket collisions before any exact cosine is computed.
    Computed in PYTHON once so the SQL oracle embeds the identical integer
    literal — no float divergence across engines."""
    import math

    p = math.acos(max(-1.0, min(1.0, threshold))) / math.pi
    mean = signature_bits * p
    sd = math.sqrt(signature_bits * p * (1.0 - p))
    return min(signature_bits, int(math.floor(mean + margin * sd)))


def _signature_words(vec_col, dim: int, signature_bits: int):
    """array<long> of 63-bit sign-signature words from the dedicated
    signature plane family — Catalyst-expression REFERENCE implementation
    (sequential fold dot products, the exact evaluation order the DuckDB
    oracle replays).  Production uses :func:`_signature_words_batch`;
    tests/test_dedup_similarity.py A/Bs the two bit-for-bit."""
    from tsfresh_spark.operators.similarity import _dot, _hyperplane

    words = []
    for w in range(0, signature_bits, _SIG_BITS_PER_WORD):
        bits = F.lit(0).cast("long")
        for p in range(w, min(w + _SIG_BITS_PER_WORD, signature_bits)):
            plane = F.array(
                *[F.lit(c) for c in _hyperplane(dim, _SIG_PLANE_BASE + p)]
            )
            sign_bit = (_dot(vec_col, plane) > 0).cast("long")
            bits = bits.bitwiseOR(F.shiftleft(sign_bit, p - w))
        words.append(bits)
    return F.array(*words)


def _pack_sign_words(signs):
    """(batch, bits) boolean sign matrix → (batch, ceil(bits/63)) int64
    words, LSB = lowest plane index within each 63-bit word (the exact
    packing of :func:`_signature_words`)."""
    import numpy as np

    n, bits = signs.shape
    n_words = (bits + _SIG_BITS_PER_WORD - 1) // _SIG_BITS_PER_WORD
    words = np.zeros((n, n_words), dtype=np.int64)
    for w in range(n_words):
        chunk = signs[:, w * _SIG_BITS_PER_WORD:(w + 1) * _SIG_BITS_PER_WORD]
        weights = np.left_shift(
            np.int64(1), np.arange(chunk.shape[1], dtype=np.int64)
        )
        words[:, w] = chunk.astype(np.int64) @ weights
    return words


def _signature_words_batch(dim: int, signature_bits: int):
    """Arrow-batched pandas UDF computing the SAME signature words as
    :func:`_signature_words` via one numpy matmul per batch — the
    vectorized production path (the Catalyst lambda form evaluates
    ``signature_bits × dim`` interpreted HigherOrderFunction steps per
    row; at 200k docs × 126 planes that alone cost ~20 s of the round-5
    telemetry run).  BLAS pairwise summation can round differently from
    the sequential fold only when ``|dot| ≲ 1e-13``; sign-margin and A/B
    tests pin equality on the gate corpora, and a stray flipped bit moves
    hamming by 1 against a ≥5σ (~±20-bit) cutoff margin, so the filter
    decision is unaffected in practice."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    from tsfresh_spark.operators.similarity import _hyperplane

    planes = np.array(
        [
            _hyperplane(dim, _SIG_PLANE_BASE + p)
            for p in range(signature_bits)
        ],
        dtype=np.float64,
    )  # (bits, dim)

    @pandas_udf("array<long>")
    def sig(v: pd.Series) -> pd.Series:
        if len(v) == 0:
            return pd.Series([], dtype=object)
        V = np.stack(v.to_numpy())  # (batch, dim) float64
        words = _pack_sign_words(V @ planes.T > 0)
        return pd.Series(list(words))

    return sig


def _bucket_ids_batch(dim: int, num_planes: int, num_tables: int):
    """Arrow-batched pandas UDF computing, per row, the array of
    ``num_tables`` sign-LSH bucket ids — identical values to
    ``similarity.lsh_bucket_expr`` (plane index ``t·num_planes + p``,
    bit weight ``1 << p``), one numpy matmul per batch instead of
    ``num_tables × num_planes`` interpreted Catalyst folds per row."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    from tsfresh_spark.operators.similarity import _hyperplane

    planes = np.array(
        [
            _hyperplane(dim, t * num_planes + p)
            for t in range(num_tables)
            for p in range(num_planes)
        ],
        dtype=np.float64,
    )  # (num_tables*num_planes, dim)
    weights = np.left_shift(
        np.int64(1), np.arange(num_planes, dtype=np.int64)
    )

    @pandas_udf("array<long>")
    def buckets(v: pd.Series) -> pd.Series:
        if len(v) == 0:
            return pd.Series([], dtype=object)
        V = np.stack(v.to_numpy())
        signs = (V @ planes.T > 0).astype(np.int64)  # (batch, T*P)
        bkt = signs.reshape(len(V), num_tables, num_planes) @ weights
        return pd.Series(list(bkt))

    return buckets


def _sig_hamming(a, b, n_words: int):
    h = F.lit(0).cast("long")
    for i in range(n_words):
        h = h + F.bit_count(a.getItem(i).bitwiseXOR(b.getItem(i)))
    return h


def embedding_candidate_pairs(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int,
    threshold: float = 0.9,
    num_planes: int | None = None,
    num_tables: int = 8,
    max_bucket_size: int | None = None,
    signature_bits: int = DEFAULT_SIGNATURE_BITS,
    hamming_margin: float = 5.0,
    target_bucket_size: int = 4,
) -> DataFrame:
    """Candidate stage of :func:`embedding_near_duplicates`, exposed for
    telemetry: ``(id_a, id_b, hamming)`` — every deduplicated bucket-join
    pair with its signature hamming distance, NOT yet hamming-filtered.
    ``hamming <= signature_hamming_cutoff(...)`` is the production
    pre-filter predicate; counting rows on both sides of it in one
    aggregate gives bucket-pair and candidate telemetry in a single
    production-shaped job.  Deliberately NARROW: no embedding columns ride
    through the pair shuffles — consumers join vectors back by id on the
    filtered survivors."""
    if num_planes is None:
        # one cheap count job at plan time; pass num_planes explicitly to
        # keep the operator fully lazy
        num_planes = derive_num_planes(
            df.count(), target_bucket_size=target_bucket_size
        )
    base = df.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).cast("array<double>").alias("emb"),
    )
    if signature_bits:
        base = base.withColumn(
            "sig", _signature_words_batch(dim, signature_bits)(F.col("emb"))
        )
    # bucket ids via the batched matmul UDF (bit-identical values to the
    # _lsh_keys Catalyst form — A/B-tested); posexplode index = table id
    keyed = (
        base.select(
            "*",
            F.posexplode(
                _bucket_ids_batch(dim, num_planes, num_tables)(F.col("emb"))
            ).alias("tbl", "bkt"),
        )
        .withColumn("key", F.struct("tbl", "bkt"))
        .drop("tbl", "bkt")
    )
    if max_bucket_size is not None:
        w = Window.partitionBy("key").orderBy("id")
        keyed = (
            keyed.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= max_bucket_size)
            .drop("rn")
        )
    # NARROW join sides: ids + signature words only.  Carrying the
    # embedding vectors through the candidate join + pair-dedup shuffle
    # costs ~8× the whole skeleton at 200k docs (measured 112 s vs 15 s —
    # 4.7M pairs × 2×dim doubles of shuffle/spill); consumers re-join the
    # vectors BY ID for the (tiny) surviving pair set instead, exactly the
    # shape the minhash pipeline and the DuckDB oracle use.
    side = ["id"] + (["sig"] if signature_bits else [])
    a = keyed.select(
        *[F.col(c).alias(f"{c}_a") for c in side], "key"
    )
    b = keyed.select(
        *[F.col(c).alias(f"{c}_b") for c in side], "key"
    )
    cand = (
        a.join(b, "key")
        .filter(F.col("id_a") < F.col("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    if signature_bits:
        n_words = (signature_bits + _SIG_BITS_PER_WORD - 1) // _SIG_BITS_PER_WORD
        hamming = _sig_hamming(F.col("sig_a"), F.col("sig_b"), n_words)
    else:
        hamming = F.lit(0).cast("long")
    return cand.select("id_a", "id_b", hamming.alias("hamming"))


def embedding_bucket_report(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int,
    num_planes: int | None = None,
    num_tables: int = 8,
    max_bucket_size: int = 1024,
    target_bucket_size: int = 4,
) -> DataFrame:
    """Buckets that SATURATE the hot-bucket cap: ``(tbl, bkt, bucket_size)``
    with ``bucket_size > max_bucket_size``.  A capped bucket silently drops
    ``bucket_size − max_bucket_size`` rows from candidate generation, i.e.
    recall loss the pair counts alone cannot show — run this report
    whenever the cap is in play, and raise ``num_planes`` if it returns
    rows."""
    if num_planes is None:
        num_planes = derive_num_planes(
            df.count(), target_bucket_size=target_bucket_size
        )
    keyed = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(
            _bucket_ids_batch(dim, num_planes, num_tables)(
                F.col(vec_col).cast("array<double>")
            )
        ).alias("tbl", "bkt"),
    ).withColumn("key", F.struct("tbl", "bkt"))
    return (
        keyed.groupBy("key")
        .agg(F.count("*").alias("bucket_size"))
        .filter(F.col("bucket_size") > max_bucket_size)
        .select(
            F.col("key.tbl").alias("tbl"),
            F.col("key.bkt").alias("bkt"),
            "bucket_size",
        )
    )


def embedding_near_duplicates(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int,
    threshold: float = 0.9,
    num_planes: int | None = None,
    num_tables: int = 8,
    max_bucket_size: int | None = None,
    round_digits: int | None = 6,
    signature_bits: int = DEFAULT_SIGNATURE_BITS,
    hamming_margin: float = 5.0,
    target_bucket_size: int = 4,
) -> DataFrame:
    """Semantic near-duplicate pairs: ``(id_a, id_b, cosine)`` with
    ``cosine >= threshold`` among vectors that share a sign-LSH bucket in at
    least one of ``num_tables`` tables AND pass the signature-hamming
    pre-filter.

    The scale shape mirrors :func:`minhash_near_duplicates`: candidate
    generation is a self-join on (table, bucket) keys — never all-pairs —
    with the same deterministic ``max_bucket_size`` hot-bucket cap
    (row_number by id).  Two round-5 hardenings close the round-4 weak spot
    (4.68M exact-cosine evals for 9,749 pairs at 200k docs):

    * ``num_planes=None`` derives the bucket width from the corpus size
      (:func:`derive_num_planes` — mean occupancy ~``target_bucket_size``),
      so a fixed plane count can no longer saturate every bucket at scale.
    * a ``signature_bits``-bit sign signature (dedicated plane family,
      63-bit long words) is XOR/bit_count-compared per bucket pair and only
      pairs with hamming ≤ :func:`signature_hamming_cutoff` reach the exact
      cosine — the same pigeonhole trick the simhash pipeline uses, cutting
      exact-cosine work by ~3 orders of magnitude at 200k docs while the
      5σ margin keeps expected recall loss < 1e-6 per true pair.
      ``signature_bits=0`` disables the pre-filter (the round-4 behavior).

    All stages (hash-mix planes, caps, join, hamming cutoff, verify) are
    deterministic and replay in any SQL engine — DuckDB is the correctness
    oracle.  When ``max_bucket_size`` is set, check
    :func:`embedding_bucket_report` for saturated buckets: capped buckets
    drop rows from candidate generation silently."""
    from tsfresh_spark.operators.similarity import _cosine

    cand = embedding_candidate_pairs(
        df,
        id_col=id_col,
        vec_col=vec_col,
        dim=dim,
        threshold=threshold,
        num_planes=num_planes,
        num_tables=num_tables,
        max_bucket_size=max_bucket_size,
        signature_bits=signature_bits,
        hamming_margin=hamming_margin,
        target_bucket_size=target_bucket_size,
    )
    if signature_bits:
        h_max = signature_hamming_cutoff(
            threshold, signature_bits, hamming_margin
        )
        cand = cand.filter(F.col("hamming") <= h_max)
    # vectors re-joined BY ID for the surviving pairs only — the candidate
    # stage is narrow (see embedding_candidate_pairs); at production scale
    # the survivor set is ≪ n so AQE broadcasts these joins
    base = df.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).cast("array<double>").alias("emb"),
    )
    pairs = cand.select("id_a", "id_b").join(
        base.select(
            F.col("id").alias("id_a"), F.col("emb").alias("emb_a")
        ),
        "id_a",
    ).join(
        base.select(
            F.col("id").alias("id_b"), F.col("emb").alias("emb_b")
        ),
        "id_b",
    )
    sim = _cosine(F.col("emb_a"), F.col("emb_b"))
    if round_digits is not None:
        sim = F.round(sim, round_digits)
    return pairs.select("id_a", "id_b", sim.alias("cosine")).filter(
        F.col("cosine") >= F.lit(threshold)
    )
