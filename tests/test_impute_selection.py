"""Imputation semantics + FRESH selection on the seeded informative-vs-noise
fixture (FIXTURES.md F8, modeled on the reference's
test_feature_significance.py)."""

import numpy as np
import pandas as pd
import pytest

from tsfresh_spark.operators.impute import (
    impute_dataframe_range,
    impute_long,
    impute_wide,
    impute_zero,
)
from tsfresh_spark.operators.selection import (
    benjamini_hochberg,
    calculate_relevance_table,
    select_features,
)

NAN, INF = float("nan"), float("inf")


def test_impute_wide(spark):
    pdf = pd.DataFrame(
        {
            "id": [1, 2, 3, 4],
            "a": [1.0, 2.0, NAN, 4.0],
            "b": [-INF, 5.0, INF, 7.0],
            "c": [NAN, NAN, NAN, NAN],
        }
    )
    df = spark.createDataFrame(pdf)
    out = impute_wide(df, ["a", "b", "c"]).toPandas()
    out = out.sort_values("id")
    assert out.a.tolist() == [1.0, 2.0, 2.0, 4.0]  # NaN → median
    assert out.b.tolist() == [5.0, 5.0, 7.0, 7.0]  # ±inf → min/max
    assert out.c.tolist() == [0.0, 0.0, 0.0, 0.0]  # all-non-finite → 0
    # an explicit range must be finite: NaN, inf or None as min, max or
    # median raises before any job runs
    for bad in ((NAN, 1.0, 1.0), (1.0, INF, 1.0), (1.0, 1.0, None)):
        with pytest.raises(ValueError, match="not finite"):
            impute_dataframe_range(df, {"a": bad})


def test_impute_long_matches_wide(spark):
    pdf = pd.DataFrame(
        {
            "id": [1, 2, 3, 1, 2, 3],
            "variable": ["a"] * 3 + ["b"] * 3,
            "value": [1.0, NAN, 3.0, -INF, 2.0, INF],
        }
    )
    out = impute_long(spark.createDataFrame(pdf)).toPandas()
    a = out[out.variable == "a"].sort_values("id").value.tolist()
    b = out[out.variable == "b"].sort_values("id").value.tolist()
    assert a == [1.0, 2.0, 3.0]
    assert b == [2.0, 2.0, 2.0]


def test_impute_zero(spark):
    pdf = pd.DataFrame({"id": [1, 2], "a": [NAN, INF]})
    out = impute_zero(spark.createDataFrame(pdf), ["a"]).toPandas()
    assert out.a.tolist() == [0.0, 0.0]


def test_benjamini_hochberg():
    p = np.array([0.001, 0.008, 0.039, 0.041, 0.042, 0.06, 0.074, 0.205])
    mask = benjamini_hochberg(p, 0.05, dependent=False)
    # thresholds k/m*q: only the first two p-values fall below their rank line
    assert mask.tolist() == [True, True, False, False, False, False, False, False]
    # step-up property: if the largest p passes its rank line, all reject
    mask25 = benjamini_hochberg(p, 0.25, dependent=False)
    assert mask25.all()
    # BY is stricter (harmonic-sum correction)
    mask_by = benjamini_hochberg(p, 0.25, dependent=True)
    assert mask_by.sum() <= mask25.sum()


@pytest.fixture(scope="module")
def informative_matrix(spark):
    """500 rows; 3 informative real features, 1 informative binary, plus
    noise features of both kinds (seeded)."""
    rng = np.random.RandomState(42)
    n = 500
    y = rng.binomial(1, 0.5, n)
    pdf = pd.DataFrame({"id": np.arange(n)})
    pdf["real_inf_1"] = y * 2.0 + rng.randn(n)
    pdf["real_inf_2"] = -y * 1.5 + rng.randn(n)
    pdf["real_inf_3"] = y * 1.0 + 0.5 * rng.randn(n)
    pdf["bin_inf"] = (y ^ (rng.rand(n) < 0.05)).astype(float)
    for i in range(6):
        pdf[f"real_noise_{i}"] = rng.randn(n)
    pdf["bin_noise"] = rng.binomial(1, 0.5, n).astype(float)
    pdf["const"] = 1.0
    return spark.createDataFrame(pdf), pd.Series(y, index=np.arange(n))


def test_selection_finds_informative(spark, informative_matrix):
    X, y = informative_matrix
    selected, table = select_features(X, y, id_col="id")
    keep = set(selected.columns) - {"id"}
    assert {"real_inf_1", "real_inf_2", "real_inf_3", "bin_inf"} <= keep
    assert not any(c.startswith("real_noise") for c in keep)
    assert "bin_noise" not in keep
    assert "const" not in keep
    assert table.loc["const", "type"] == "constant"
    assert not table.loc["const", "relevant"]


def test_relevance_table_regression_task(spark, informative_matrix):
    X, _ = informative_matrix
    rng = np.random.RandomState(0)
    n = 500
    y_real = pd.Series(rng.randn(n), index=np.arange(n))
    table = calculate_relevance_table(
        X.select("id", "real_inf_1", "real_noise_0"), y_real, id_col="id"
    )
    # noise target → nothing relevant
    assert not table.relevant.any()


def test_multiclass_selection(spark):
    """One-vs-all multiclass mode: features informative for a single class
    survive with n_significant=1 but not n_significant=2."""
    rng = np.random.RandomState(7)
    n = 600
    y = pd.Series(rng.randint(0, 3, n), index=np.arange(n))
    pdf = pd.DataFrame({"id": np.arange(n)})
    # informative for class 2 only
    pdf["one_class"] = (y == 2) * 3.0 + rng.randn(n)
    # informative for every class (scales with the label)
    pdf["all_classes"] = y * 2.0 + 0.3 * rng.randn(n)
    for i in range(4):
        pdf[f"noise_{i}"] = rng.randn(n)
    X = spark.createDataFrame(pdf)

    from tsfresh_spark.operators.selection import (
        calculate_relevance_table_multiclass,
        select_features,
    )

    table = calculate_relevance_table_multiclass(X, y, id_col="id")
    assert table.loc["one_class", "relevant"]
    assert table.loc["all_classes", "relevant"]
    # one-vs-all semantics: a single-class shift separates EVERY class from
    # its complement → 3 significant; a monotone feature separates only the
    # two extreme classes (the middle class is rank-invisible) → 2
    assert table.loc["one_class", "n_significant"] == 3
    assert table.loc["all_classes", "n_significant"] == 2
    assert not any(table.loc[f"noise_{i}", "relevant"] for i in range(4))
    # stricter threshold keeps only the feature significant for all classes
    selected, strict = select_features(
        X, y, id_col="id", multiclass=True, n_significant=3
    )
    kept = set(selected.columns) - {"id"}
    assert kept == {"one_class"}


def test_kendall_merge_count_equals_sign_matrix():
    """A/B proof that the O(n log² n) Knight merge count is EXACTLY the
    O(n²) sign-matrix P-Q on random data with heavy ties — the equivalence
    the scale path rests on."""
    from tsfresh_spark.operators.selection import _kendall_con_minus_dis

    rng = np.random.RandomState(11)
    for trial in range(30):
        n = int(rng.randint(2, 200))
        # heavy ties: small integer supports on both sides
        x = rng.randint(0, max(2, n // 8), size=n).astype(float)
        y = rng.randint(0, max(2, n // 5), size=n).astype(float)
        if trial % 3 == 0:
            x = rng.randn(n)  # continuous x, tied y
        dx = np.sign(x[:, None] - x[None, :])
        dy = np.sign(y[:, None] - y[None, :])
        iu = np.triu_indices(n, k=1)
        prod = dx[iu] * dy[iu]
        want = int((prod > 0).sum()) - int((prod < 0).sum())
        assert _kendall_con_minus_dis(x, y) == want, (trial, n)


def test_kendall_pvalue_identical_across_paths():
    """The p-value through the merge path equals the brute-force path
    bit-for-bit (same P-Q, same variance, same tail)."""
    from tsfresh_spark.operators.selection import (
        _pvalue_kendall,
        normal_sf_portable,
    )
    import math

    rng = np.random.RandomState(5)
    for _ in range(10):
        n = int(rng.randint(3, 400))
        x = rng.randint(0, 30, size=n).astype(float)
        y = x * 0.5 + rng.randn(n)
        p_fast = _pvalue_kendall(x, y)
        # force the O(n²) fallback by injecting one NaN into copies and
        # comparing on the clean data instead: recompute brute force here
        dx = np.sign(x[:, None] - x[None, :])
        dy = np.sign(y[:, None] - y[None, :])
        iu = np.triu_indices(n, k=1)
        prod = dx[iu] * dy[iu]
        P = int((prod > 0).sum())
        Q = int((prod < 0).sum())

        def tie_stats(v):
            _, counts = np.unique(v, return_counts=True)
            t = counts[counts > 1].astype(float)
            return (
                (t * (t - 1) / 2).sum(),
                (t * (t - 1) * (2 * t + 5)).sum(),
                (t * (t - 1) * (t - 2)).sum(),
                (t * (t - 1)).sum(),
            )

        xt_pairs, vt, vt2, xt11 = tie_stats(x)
        yt_pairs, vu, vu2, yt11 = tie_stats(y)
        n0 = n * (n - 1) / 2.0
        v0 = n * (n - 1) * (2 * n + 5)
        v1 = xt11 * yt11 / (2.0 * n * (n - 1))
        v2 = vt2 * vu2 / (9.0 * n * (n - 1) * (n - 2)) if n > 2 else 0.0
        var = (v0 - vt - vu) / 18.0 + v1 + v2
        z = (P - Q) / math.sqrt(var)
        want = min(1.0, 2.0 * normal_sf_portable(abs(z)))
        assert p_fast == want


def test_portable_erfc_fractional_accuracy():
    """The NR rational erfc must stay within its published 1.2e-7
    FRACTIONAL error of math.erfc across the whole relevant range —
    including deep tails where absolute-error approximations collapse."""
    import math

    from tsfresh_spark.operators.selection import _nr_erfc

    for x in np.concatenate(
        [np.linspace(-6, 6, 4001), np.array([-25.0, -10.0, 10.0, 25.0])]
    ):
        true = math.erfc(float(x))
        got = _nr_erfc(float(x))
        if true == 0.0:
            assert got == pytest.approx(0.0, abs=1e-300)
        else:
            assert abs(got - true) <= 1.3e-7 * abs(true), x
