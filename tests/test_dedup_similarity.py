"""Dedup + similarity operator semantics on constructed corpora with known
duplicate structure."""

import numpy as np
import pandas as pd
import pytest

from pyspark.sql import functions as F

from tsfresh_spark.operators.dedup import (
    exact_duplicates,
    jaccard_verify,
    lsh_candidate_pairs,
    minhash_near_duplicates,
    minhash_signatures,
    ngram_jaccard_duplicates,
    simhash,
    simhash_near_duplicates,
)
from tsfresh_spark.operators.similarity import (
    cosine_topk_bruteforce,
    cosine_topk_lsh,
)


def _sentence(rng, n):
    words = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta", "theta",
             "iota", "kappa", "lam", "mu", "nu", "xi", "omicron", "pi"]
    return " ".join(rng.choice(words) for _ in range(n))


@pytest.fixture(scope="module")
def corpus(spark):
    rng = np.random.RandomState(5)
    docs = []
    base = _sentence(rng, 60)
    docs.append((0, base))
    docs.append((1, base))  # exact dup of 0
    # near dup: change 3 words
    words = base.split()
    words[5], words[20], words[40] = "changed", "words", "here"
    docs.append((2, " ".join(words)))
    for i in range(3, 40):
        docs.append((i, _sentence(rng, 60)))  # unrelated
    return spark.createDataFrame(docs, "doc_id long, text string")


def test_exact_duplicates(spark, corpus):
    out = exact_duplicates(corpus).toPandas().set_index("doc_id")
    assert out.loc[0, "dup_count"] == 2
    assert out.loc[1, "dup_count"] == 2
    assert out.loc[0, "is_duplicate"] == 0  # canonical keeps min id
    assert out.loc[1, "is_duplicate"] == 1
    assert out.loc[2, "dup_count"] == 1


def test_minhash_finds_near_duplicates(spark, corpus):
    pairs = minhash_near_duplicates(corpus, threshold=0.5).toPandas()
    found = {tuple(sorted((a, b))) for a, b in zip(pairs.id_a, pairs.id_b)}
    assert (0, 1) in found  # exact dup survives any threshold
    assert (0, 2) in found or (1, 2) in found  # 3-of-60-word edit
    # unrelated docs never pair at 0.5 Jaccard on 3-shingles
    unrelated = [p for p in found if p[0] >= 3 and p[1] >= 3]
    assert unrelated == []


def test_ngram_jaccard_finds_near_duplicates(spark, corpus):
    pairs = ngram_jaccard_duplicates(corpus, threshold=0.5).toPandas()
    found = {tuple(sorted((a, b))) for a, b in zip(pairs.id_a, pairs.id_b)}
    assert (0, 1) in found
    assert pairs.set_index(["id_a", "id_b"]).loc[(0, 1), "jaccard"] == 1.0
    assert (0, 2) in found or (1, 2) in found
    unrelated = [p for p in found if p[0] >= 3 and p[1] >= 3]
    assert unrelated == []


def test_ngram_jaccard_equals_bruteforce_when_uncapped(spark, corpus):
    """With max_df >= corpus size the inverted index loses no pair: the
    result equals brute-force all-pairs exact Jaccard at the threshold
    (exactness contract — minhash only approximates this set)."""
    out = ngram_jaccard_duplicates(corpus, threshold=0.4, max_df=10_000)
    got = {
        (a, b): j
        for a, b, j in out.select("id_a", "id_b", "jaccard").collect()
    }
    ids = corpus.select("doc_id").toPandas().doc_id.tolist()
    all_pairs = spark.createDataFrame(
        [(a, b) for a in ids for b in ids if a < b], "id_a long, id_b long"
    )
    brute = {
        (a, b): j
        for a, b, j in jaccard_verify(
            corpus, all_pairs, threshold=0.4
        ).collect()
    }
    assert got == brute
    assert len(got) > 0


def test_ngram_jaccard_max_df_prunes(spark, corpus):
    # every doc repeats the SAME text -> each shingle has df = n_docs,
    # above the cap -> no candidates survive the hot-shingle guard
    same = spark.createDataFrame(
        [(i, "one two three four five six") for i in range(10)],
        "doc_id long, text string",
    )
    out = ngram_jaccard_duplicates(same, threshold=0.5, max_df=5)
    assert out.count() == 0
    # raising the cap above n_docs restores the full duplicate clique
    out2 = ngram_jaccard_duplicates(same, threshold=0.5, max_df=10)
    assert out2.count() == 45


def test_minhash_jaccard_bounds(spark, corpus):
    sigs = minhash_signatures(corpus)
    pairs = lsh_candidate_pairs(sigs)
    verified = jaccard_verify(corpus, pairs, threshold=0.0).toPandas()
    assert (verified.jaccard <= 1.0).all() and (verified.jaccard >= 0.0).all()
    exact = verified[(verified.id_a == 0) & (verified.id_b == 1)]
    assert len(exact) == 1 and exact.jaccard.iloc[0] == 1.0


def test_simhash_near_duplicates(spark, corpus):
    fp = simhash(corpus).toPandas().set_index("doc_id")
    assert fp.loc[0, "simhash"] == fp.loc[1, "simhash"]  # identical text
    pairs = simhash_near_duplicates(corpus, max_hamming=16).toPandas()
    found = {tuple(sorted((a, b))) for a, b in zip(pairs.id_a, pairs.id_b)}
    assert (0, 1) in found
    hamming01 = pairs[(pairs.id_a == 0) & (pairs.id_b == 1)].hamming.iloc[0]
    assert hamming01 == 0


def test_portable_family_same_semantics(spark, corpus):
    """The md5-based portable hash family finds the same duplicate structure
    as the xxhash64 family (different buckets, same verified truths)."""
    pairs = minhash_near_duplicates(
        corpus, threshold=0.5, hash_family="portable", max_bucket_size=64
    ).toPandas()
    found = {tuple(sorted((a, b))) for a, b in zip(pairs.id_a, pairs.id_b)}
    assert (0, 1) in found
    assert (0, 2) in found or (1, 2) in found
    fp = simhash(corpus, hash_family="portable").toPandas().set_index("doc_id")
    assert fp.loc[0, "simhash"] == fp.loc[1, "simhash"]
    assert (fp.simhash >= 0).all() and (fp.simhash < 2**60).all()


def test_bucket_cap_bounds_candidate_fanout(spark):
    """A hot bucket (here 200 identical docs) must not explode into ~20k
    candidate pairs when capped: the cap drops buckets above the threshold
    and lsh_bucket_report surfaces what was dropped."""
    from tsfresh_spark.operators.dedup import lsh_bucket_report

    docs = [(i, "the same boilerplate text repeated again and again forever") for i in range(200)]
    docs += [(200 + i, _sentence(np.random.RandomState(i), 40)) for i in range(20)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    sigs = minhash_signatures(df, hash_family="portable")
    uncapped = lsh_candidate_pairs(sigs, hash_family="portable").count()
    assert uncapped >= 200 * 199 / 2  # the explosion the cap prevents
    capped = lsh_candidate_pairs(
        sigs, hash_family="portable", max_bucket_size=50
    )
    assert capped.count() < 500
    report = lsh_bucket_report(
        sigs, hash_family="portable", max_bucket_size=50
    ).toPandas()
    assert len(report) >= 16  # the boilerplate bucket in every band
    assert (report["size"] == 200).all()
    # simhash side: same guard
    capped_sim = simhash_near_duplicates(
        df, max_hamming=10, max_bucket_size=50, hash_family="portable"
    ).toPandas()
    boiler = [
        (a, b) for a, b in zip(capped_sim.id_a, capped_sim.id_b)
        if a < 200 and b < 200
    ]
    assert boiler == []  # the 200-doc chunk bucket was dropped


@pytest.fixture(scope="module")
def vectors(spark):
    rng = np.random.RandomState(9)
    base = rng.randn(8, 16)
    rows = []
    vid = 0
    for c in range(8):
        for _ in range(6):
            v = base[c] + 0.05 * rng.randn(16)
            rows.append((vid, (v / np.linalg.norm(v)).astype(float).tolist(), c))
            vid += 1
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>, label int")


def test_bruteforce_topk_finds_cluster(spark, vectors):
    queries = vectors.filter(F.col("vec_id") % 6 == 0)  # one per cluster
    out = cosine_topk_bruteforce(vectors, queries, k=3).toPandas()
    labels = vectors.toPandas().set_index("vec_id").label
    hits = 0
    for _, r in out.iterrows():
        if labels[r.qid] == labels[r.nid]:
            hits += 1
    assert hits / len(out) >= 0.95  # tight clusters → same-label neighbors


def test_lsh_topk_recall(spark, vectors):
    queries = vectors.filter(F.col("vec_id") % 6 == 0)
    exact = cosine_topk_bruteforce(vectors, queries, k=3).toPandas()
    approx = cosine_topk_lsh(
        vectors, queries, k=3, dim=16, num_planes=4
    ).toPandas()
    exact_pairs = {(r.qid, r.nid) for _, r in exact.iterrows()}
    approx_pairs = {(r.qid, r.nid) for _, r in approx.iterrows()}
    recall = len(exact_pairs & approx_pairs) / len(exact_pairs)
    assert recall >= 0.5  # few planes → big buckets → decent recall
    # every approx hit is scored identically to the exact scorer
    merged = approx.merge(exact, on=["qid", "nid"], suffixes=("_a", "_e"))
    assert (merged.sim_a == merged.sim_e).all()


def test_ivf_topk_recall(spark, vectors):
    from tsfresh_spark.operators.similarity import cosine_topk_ivf

    queries = vectors.filter(F.col("vec_id") % 6 == 0)
    exact = cosine_topk_bruteforce(vectors, queries, k=3).toPandas()
    approx = cosine_topk_ivf(
        vectors, queries, k=3, n_lists=8, n_probe=2
    ).toPandas()
    exact_pairs = {(r.qid, r.nid) for _, r in exact.iterrows()}
    approx_pairs = {(r.qid, r.nid) for _, r in approx.iterrows()}
    recall = len(exact_pairs & approx_pairs) / len(exact_pairs)
    # clustered data + 8 lists ≈ the true clusters → near-perfect recall
    assert recall >= 0.8
    merged = approx.merge(exact, on=["qid", "nid"], suffixes=("_a", "_e"))
    assert (merged.sim_a == merged.sim_e).all()


def test_lsh_multitable_recall_beats_single(spark, vectors):
    """OR-amplification: L independent tables strictly widen the candidate
    set, so recall is monotone in num_tables, and each hit keeps the exact
    cosine score."""
    from tsfresh_spark.operators.similarity import (
        cosine_topk_bruteforce,
        cosine_topk_lsh,
    )

    queries = vectors.filter(F.col("vec_id") % 6 == 0)
    exact = cosine_topk_bruteforce(vectors, queries, k=3).toPandas()
    exact_pairs = {(r.qid, r.nid) for _, r in exact.iterrows()}

    def recall(num_tables):
        approx = cosine_topk_lsh(
            vectors, queries, k=3, dim=16, num_planes=6, num_tables=num_tables
        ).toPandas()
        got = {(r.qid, r.nid) for _, r in approx.iterrows()}
        return len(exact_pairs & got) / len(exact_pairs), approx

    r1, _ = recall(1)
    r8, approx8 = recall(8)
    assert r8 >= r1
    assert r8 >= 0.9
    merged = approx8.merge(exact, on=["qid", "nid"], suffixes=("_a", "_e"))
    assert (merged.sim_a == merged.sim_e).all()
    # dedup guard: no (qid, nid) appears twice even when tables collide
    assert not approx8.duplicated(["qid", "nid"]).any()


def test_embedding_near_duplicates(spark, vectors):
    """Semantic dedup: clustered vectors yield same-label high-cosine pairs;
    the hot-bucket cap bounds candidate fan-out; pairs are unique and
    ordered id_a < id_b."""
    from tsfresh_spark.operators.dedup import embedding_near_duplicates

    out = embedding_near_duplicates(
        vectors, dim=16, threshold=0.8, num_planes=2, num_tables=6
    ).toPandas()
    assert len(out) > 0
    assert (out.id_a < out.id_b).all()
    assert not out.duplicated(["id_a", "id_b"]).any()
    assert (out.cosine >= 0.8).all()
    labels = vectors.toPandas().set_index("vec_id").label
    same = sum(labels[a] == labels[b] for a, b in zip(out.id_a, out.id_b))
    assert same / len(out) >= 0.95  # high-cosine pairs live inside clusters

    capped = embedding_near_duplicates(
        vectors, dim=16, threshold=0.0, num_planes=1, num_tables=1,
        max_bucket_size=3,
    ).toPandas()
    # cap=3 per bucket → at most C(3,2)=3 pairs per (table, bucket); with
    # 1 plane there are 2 buckets → ≤ 6 candidate pairs survive
    assert len(capped) <= 6


def test_derive_num_planes_rule():
    """Bucket-width derivation: mean occupancy ≈ target, clamped; the 200k
    case pins the round-4-telemetry-validated config (16 planes)."""
    from tsfresh_spark.operators.dedup import derive_num_planes

    assert derive_num_planes(200_000) == 16
    assert derive_num_planes(200_000, target_bucket_size=4) == 16
    assert derive_num_planes(10) == 4  # lo clamp
    assert derive_num_planes(10**12) == 24  # hi clamp
    # monotone in n, inverse-monotone in target
    assert derive_num_planes(1_000_000) >= derive_num_planes(1_000)
    assert derive_num_planes(200_000, target_bucket_size=64) <= 16


def test_signature_hamming_cutoff_props():
    """Cutoff = floor(B·p + 5σ) with p = acos(t)/π; must sit strictly
    between the at-threshold mean and the random-pair mean B/2 for high
    thresholds so the filter separates true pairs from bucket noise."""
    import math

    from tsfresh_spark.operators.dedup import signature_hamming_cutoff

    B = 126
    for t in (0.99, 0.95, 0.9, 0.8):
        p = math.acos(t) / math.pi
        c = signature_hamming_cutoff(t, B)
        assert B * p <= c < B * 0.5, (t, c)
    # degenerate ends stay in range
    assert signature_hamming_cutoff(-1.0, B) == B  # p=1 → keep everything
    assert 0 <= signature_hamming_cutoff(1.0, B) <= B


def test_embedding_prefilter_recall_parity(spark, vectors):
    """The 5σ signature-hamming pre-filter must not change the verified
    pair set on clustered data — identical output with the filter on
    (signature_bits=252, the DEFAULT_SIGNATURE_BITS default) and off
    (signature_bits=0, the round-4 behavior)."""
    from tsfresh_spark.operators.dedup import embedding_near_duplicates

    kw = dict(dim=16, threshold=0.8, num_planes=2, num_tables=6)
    on = embedding_near_duplicates(vectors, **kw).toPandas()
    off = embedding_near_duplicates(
        vectors, signature_bits=0, **kw
    ).toPandas()
    key = ["id_a", "id_b"]
    assert on.sort_values(key).reset_index(drop=True).equals(
        off.sort_values(key).reset_index(drop=True)
    )
    assert len(on) > 0


def test_embedding_candidate_pairs_hamming_separation(spark, vectors):
    """Telemetry surface: same-cluster candidate pairs carry systematically
    lower signature hamming than cross-cluster ones (the separation the
    pre-filter exploits), and the production cutoff keeps ~all same-cluster
    pairs."""
    from tsfresh_spark.operators.dedup import (
        DEFAULT_SIGNATURE_BITS,
        embedding_candidate_pairs,
        signature_hamming_cutoff,
    )

    cand = embedding_candidate_pairs(
        vectors, dim=16, num_planes=2, num_tables=6
    ).toPandas()
    labels = vectors.toPandas().set_index("vec_id").label
    cand["same"] = [
        labels[a] == labels[b] for a, b in zip(cand.id_a, cand.id_b)
    ]
    same = cand[cand.same]
    cross = cand[~cand.same]
    assert len(same) > 0 and len(cross) > 0
    assert same.hamming.mean() < cross.hamming.mean()
    # cutoff MUST be derived at the bit width the operator actually uses
    # (DEFAULT_SIGNATURE_BITS=252) — a 126-bit cutoff sits below the
    # 252-bit at-threshold mean and only passed because the fixture
    # clusters are far tighter than cosine 0.8 (ADVICE r5 #3)
    cutoff = signature_hamming_cutoff(0.8, DEFAULT_SIGNATURE_BITS)
    assert (same.hamming <= cutoff).mean() >= 0.99


def test_batch_signature_equals_catalyst_reference(spark, vectors):
    """The vectorized (numpy-matmul pandas UDF) signature words must be
    bit-identical to the Catalyst sequential-fold reference on clustered
    AND random data — the A/B any 'equivalent' rewrite needs (CLAUDE.md).
    Also pins the sign margin: no |dot| close enough to zero for BLAS
    summation order to flip a sign vs the sequential fold."""
    from tsfresh_spark.operators.dedup import (
        _SIG_PLANE_BASE,
        _signature_words,
        _signature_words_batch,
    )
    from tsfresh_spark.operators.similarity import _hyperplane

    rng = np.random.RandomState(31)
    rand = spark.createDataFrame(
        [
            (i, (rng.randn(16) * (10.0 ** rng.randint(-3, 3))).tolist())
            for i in range(300)
        ],
        "vec_id long, embedding array<double>",
    )
    for df in (vectors, rand):
        got = (
            df.select(
                "vec_id",
                _signature_words_batch(16, 126)(
                    F.col("embedding").cast("array<double>")
                ).alias("b"),
                _signature_words(
                    F.col("embedding").cast("array<double>"), 16, 126
                ).alias("c"),
            )
            .toPandas()
        )
        for _, r in got.iterrows():
            assert list(r.b) == list(r.c), r.vec_id
    # sign margin on the same data: min |dot| across all (row, plane)
    planes = np.array(
        [_hyperplane(16, _SIG_PLANE_BASE + p) for p in range(126)]
    )
    V = np.stack(vectors.toPandas().embedding.to_numpy())
    margin = np.abs(V @ planes.T).min()
    assert margin > 1e-9, margin  # sequential-vs-BLAS rounding is ~1e-16
    # same margin check for the BUCKET-plane family (ADVICE r5 #4): unlike
    # the signature words — where a ±1 hamming flip sits far inside the
    # 20-bit cutoff margin — a sign flip near |dot|≈0 changes the whole
    # bucket id, so the batched matmul must clear the same sign margin vs
    # the sequential-fold Catalyst/DuckDB evaluation
    bucket_planes = np.array([_hyperplane(16, p) for p in range(3 * 5)])
    bucket_margin = np.abs(V @ bucket_planes.T).min()
    assert bucket_margin > 1e-9, bucket_margin


def test_batch_bucket_ids_equal_lsh_keys(spark, vectors):
    """The batched bucket-id UDF must produce the exact (tbl, bkt) key set
    of the Catalyst _lsh_keys form for every row."""
    from tsfresh_spark.operators.dedup import _bucket_ids_batch
    from tsfresh_spark.operators.similarity import _lsh_keys

    df = vectors.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )
    cat = (
        df.select(
            "vec_id", F.explode(_lsh_keys("emb", 16, 3, 5)).alias("key")
        )
        .select("vec_id", "key.tbl", "key.bkt")
        .toPandas()
        .sort_values(["vec_id", "tbl"])
        .reset_index(drop=True)
    )
    bat = (
        df.select(
            "vec_id",
            F.posexplode(_bucket_ids_batch(16, 3, 5)(F.col("emb"))).alias(
                "tbl", "bkt"
            ),
        )
        .toPandas()
        .sort_values(["vec_id", "tbl"])
        .reset_index(drop=True)
    )
    assert cat.astype("int64").equals(bat.astype("int64"))


def test_embedding_bucket_report(spark, vectors):
    """Saturation report: empty when buckets fit the cap, and surfaces
    every over-cap bucket (with its true size) when the cap is tiny."""
    from tsfresh_spark.operators.dedup import embedding_bucket_report

    ok = embedding_bucket_report(
        vectors, dim=16, num_planes=2, num_tables=4, max_bucket_size=1024
    ).toPandas()
    assert len(ok) == 0  # 48 vectors can never exceed 1024 anywhere

    hot = embedding_bucket_report(
        vectors, dim=16, num_planes=1, num_tables=1, max_bucket_size=10
    ).toPandas()
    # 48 rows across 2 buckets (1 plane) → at least one bucket holds ≥ 24
    assert len(hot) >= 1
    assert (hot.bucket_size > 10).all()
    assert hot.bucket_size.sum() <= 48


def test_cosine_topk_auto_strategy(spark, vectors):
    """strategy='auto' brute-forces below the threshold (bit-identical to
    the exact scorer) and switches to IVF above it (VERDICT r4 #3)."""
    from tsfresh_spark.operators.similarity import cosine_topk

    queries = vectors.filter(F.col("vec_id") % 6 == 0)
    exact = cosine_topk_bruteforce(vectors, queries, k=3).toPandas()

    # 48 vectors < default threshold → exact path, identical frame
    auto = cosine_topk(vectors, queries, k=3).toPandas()
    key = ["qid", "nid"]
    pd_exact = exact.sort_values(key).reset_index(drop=True)
    pd_auto = auto.sort_values(key).reset_index(drop=True)
    assert pd_exact.equals(pd_auto)

    # force the scale path with a tiny threshold → IVF, k rows per query,
    # every surviving score identical to the exact scorer's
    approx = cosine_topk(
        vectors, queries, k=3, brute_force_threshold=10, n_lists=8, n_probe=8
    ).toPandas()
    assert (approx.groupby("qid").size() == 3).all()
    merged = approx.merge(exact, on=key, suffixes=("_a", "_e"))
    assert (merged.sim_a == merged.sim_e).all()

    with pytest.raises(ValueError, match="strategy"):
        cosine_topk(vectors, queries, k=3, strategy="nope")


def test_ngram_bound_prefilter_is_sound(spark):
    """Round-6: the candidate stage prunes pairs whose exact-Jaccard UPPER
    BOUND (kept-intersection count + hot-shingle slack) falls below the
    threshold.  Soundness check: at any threshold t, the operator's output
    must equal its own threshold=0 output (every banded candidate with its
    exact jaccard) filtered client-side at t — on a clone-heavy corpus with
    deliberately hot shingles (low max_df) so the min(hot_a, hot_b) slack
    arm is exercised."""
    rng = np.random.RandomState(11)
    words = [f"w{i}" for i in range(30)]
    docs = []
    for i in range(60):
        base = list(rng.choice(words, size=40))
        docs.append((2 * i, " ".join(base)))
        # mutated clone: 0-8 word edits => jaccard spread straddling t
        k = rng.randint(0, 9)
        for pos in rng.choice(40, size=k, replace=False):
            base[pos] = str(rng.choice(words))
        docs.append((2 * i + 1, " ".join(base)))
    df = spark.createDataFrame(docs, "doc_id long, text string")
    kw = dict(text_col="text", id_col="doc_id", shingle_n=3, max_df=8)
    everything = ngram_jaccard_duplicates(df, threshold=0.0, **kw).toPandas()
    for t in (0.3, 0.5, 0.8):
        got = ngram_jaccard_duplicates(df, threshold=t, **kw).toPandas()
        want = everything[everything.jaccard >= t]
        key = ["id_a", "id_b"]
        pd.testing.assert_frame_equal(
            got.sort_values(key).reset_index(drop=True),
            want.sort_values(key).reset_index(drop=True),
            check_exact=True,
        )


def test_ngram_jaccard_string_ids(spark):
    """Regression guard: the grouped pair-gen must handle STRING doc ids
    (np.minimum has no ufunc loop for <U dtypes and crashed the first cut),
    with the same lexicographic a<b orientation the old self-join used.
    Also exercises threshold=0 (every candidate with its score)."""
    rng = np.random.RandomState(3)
    words = [f"t{i}" for i in range(40)]
    docs = []
    for i in range(30):
        base = list(rng.choice(words, size=30))
        docs.append((f"doc{i:04d}a", " ".join(base)))
        base[0] = "mut"
        docs.append((f"doc{i:04d}b", " ".join(base)))
    df = spark.createDataFrame(docs, "doc_id string, text string")
    out = ngram_jaccard_duplicates(
        df, text_col="text", id_col="doc_id", shingle_n=3,
        threshold=0.5, max_df=64,
    ).toPandas()
    assert len(out) >= 30  # every mutated clone pairs with its base
    assert (out.id_a < out.id_b).all()
    tele = ngram_jaccard_duplicates(
        df, text_col="text", id_col="doc_id", shingle_n=3,
        threshold=0.0, max_df=64,
    ).toPandas()
    assert len(tele) >= len(out)
    assert (tele.id_a < tele.id_b).all()


def test_near_dup_pipelines_on_synthetic_corpora(spark):
    """The banded near-dup pipelines on the synthetic scale corpora — docs
    keyed by STRING id, thresholds and modes the small fixtures never run —
    against a brute force over every pair of the collected corpus: exact n-gram
    Jaccard equals it, minhash and cosine verification only ever return
    true pairs, and every candidate set stays far below all pairs."""
    import itertools
    import re

    from tsfresh_spark.operators.dedup import (
        DEFAULT_SIGNATURE_BITS,
        derive_num_planes,
        embedding_candidate_pairs,
        lsh_bucket_report,
        signature_hamming_cutoff,
    )
    from tsfresh_spark.operators.similarity import _cosine
    from tsfresh_spark.sources.synthetic import embeddings_corpus, text_corpus

    n = 1500
    all_pairs = n * (n - 1) // 2
    docs = text_corpus(spark, n, n_partitions=4).cache()
    collected = docs.collect()

    def shingles(text):
        words = [w for w in re.split(r"\s+", text) if w]
        return {" ".join(words[i : i + 3]) for i in range(len(words) - 2)}

    sets = sorted((r.doc_id, shingles(r.text)) for r in collected)
    brute = {}
    for (a, sa), (b, sb) in itertools.combinations(sets, 2):
        inter = len(sa & sb)
        if inter:
            j = inter / (len(sa) + len(sb) - inter)
            if j >= 0.8:
                brute[(a, b)] = j
    assert brute

    exact = ngram_jaccard_duplicates(docs, threshold=0.8, max_df=n).collect()
    assert all(r.id_a < r.id_b for r in exact)
    assert {(r.id_a, r.id_b): r.jaccard for r in exact} == brute

    sigs = minhash_signatures(docs).cache()
    assert lsh_bucket_report(sigs, max_bucket_size=1024).count() == 0
    cands = lsh_candidate_pairs(sigs, max_bucket_size=1024)
    scored = jaccard_verify(docs, cands, threshold=0.0).collect()
    assert 0 < len(scored) < all_pairs // 100
    assert all(r.id_a < r.id_b for r in scored)
    verified = {(r.id_a, r.id_b): r.jaccard for r in scored if r.jaccard >= 0.8}
    assert verified and verified.items() <= brute.items()
    sigs.unpersist()

    sim = simhash_near_duplicates(docs, max_hamming=64, max_bucket_size=1024).collect()
    assert 0 < len(sim) < all_pairs // 100
    assert all(r.id_a < r.id_b for r in sim)
    docs.unpersist()

    emb = embeddings_corpus(spark, n, dim=32, n_partitions=4).cache()
    vecs = {r.vec_id: np.array(r.embedding, np.float64) for r in emb.collect()}
    ids = sorted(vecs)
    m = np.array([vecs[i] for i in ids])
    unit = m / np.linalg.norm(m, axis=1, keepdims=True)
    cos = unit @ unit.T
    # a hair of slack: numpy and Catalyst sum the dot products differently
    close = {(ids[i], ids[j]) for i, j in zip(*np.nonzero(np.triu(cos >= 0.9 - 1e-9, k=1)))}
    cand = embedding_candidate_pairs(
        emb, dim=32, num_planes=derive_num_planes(n), num_tables=4, max_bucket_size=1024
    ).filter(F.col("hamming") <= signature_hamming_cutoff(0.9, DEFAULT_SIGNATURE_BITS)).cache()
    assert 0 < cand.count() < all_pairs // 100
    side = lambda s: emb.select(
        F.col("vec_id").alias(f"id_{s}"), F.col("embedding").cast("array<double>").alias(f"emb_{s}")
    )
    found = (
        cand.select("id_a", "id_b")
        .join(side("a"), "id_a")
        .join(side("b"), "id_b")
        .filter(_cosine(F.col("emb_a"), F.col("emb_b")) >= 0.9)
        .select("id_a", "id_b")
        .collect()
    )
    assert all(r.id_a < r.id_b for r in found)
    assert found and {(r.id_a, r.id_b) for r in found} <= close
    cand.unpersist()
    emb.unpersist()
