"""Hybrid engine: Catalyst-subset + kernel-remainder must equal the pure
kernel path bit-for-bit on integer tokens, and the covered branch must stay
out of Python entirely."""

import numpy as np
import pandas as pd
import pytest

from pyspark.sql import functions as F

from tsfresh_spark.extract import extract_features_tokens
from tsfresh_spark.functions.sql_features import hybrid_plan
from tsfresh_spark.settings import (
    comprehensive_settings,
    efficient_settings,
    minimal_settings,
)


@pytest.fixture(scope="module")
def tokens_df(spark):
    rng = np.random.RandomState(13)
    rows = []
    for i in range(25):
        n = int(rng.randint(2, 120))
        rows.append(
            (f"d{i}", rng.randint(0, 50257, n).astype(int).tolist(), "web" if i % 2 else "code")
        )
    rows.append(("empty-ish", [5], "web"))
    return spark.createDataFrame(rows, "doc_id string, tokens array<int>, source string")


def _collect(df):
    pdf = df.toPandas().sort_values(["doc_id", "variable"]).reset_index(drop=True)
    return pdf


@pytest.mark.parametrize(
    "settings_fn", [minimal_settings, efficient_settings]
)
def test_hybrid_equals_kernels(spark, tokens_df, settings_fn):
    settings = settings_fn()
    a = _collect(extract_features_tokens(tokens_df, settings, engine="kernels"))
    b = _collect(extract_features_tokens(tokens_df, settings, engine="hybrid"))
    assert list(a.variable) == list(b.variable)
    va, vb = a.value.values, b.value.values
    both_nan = pd.isna(va) & pd.isna(vb)
    assert (both_nan | (va == vb)).all(), (
        a[~(both_nan | (va == vb))].head().to_string(),
        b[~(both_nan | (va == vb))].head().to_string(),
    )


def test_hybrid_coverage_extent():
    covered, rest = hybrid_plan("tokens", comprehensive_settings())
    # the whole simple-stat family moves JVM-side
    assert len(covered) >= 40
    covered_names = {s.split("__")[0] for s, _ in covered}
    assert "variance" not in covered_names  # float-order-sensitive stays out
    assert "fft_coefficient" not in {k for k in rest} or True
    assert "fft_coefficient" in rest


def test_hybrid_minimal_is_pure_jvm(spark, tokens_df):
    """With minimal-minus-variance settings the plan must contain no python
    evaluation at all."""
    settings = {
        k: v
        for k, v in minimal_settings().items()
        if k not in ("variance", "standard_deviation")
    }
    df = extract_features_tokens(tokens_df, settings, engine="hybrid")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "MapInArrow" not in plan and "MapInPandas" not in plan
    assert "Exchange" not in plan


def test_hybrid_pure_catalyst_map_no_python(spark, tokens_df):
    """Fully-covered settings + map output: one narrow JVM-only projection
    (no python evaluation, no shuffle)."""
    settings = {
        k: v
        for k, v in minimal_settings().items()
        if k not in ("variance", "standard_deviation")
    }
    df = extract_features_tokens(
        tokens_df, settings, engine="hybrid", output="map"
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "MapInArrow" not in plan and "MapInPandas" not in plan
    assert "ArrowEvalPython" not in plan
    assert "Exchange" not in plan


def test_hybrid_map_output_equals_kernels(spark, tokens_df):
    """Map output: the covered-Catalyst map ++ remainder-UDF map must equal
    the kernel path's map bit-for-bit (NaN⇔NULL through Arrow aside)."""
    settings = minimal_settings()
    a = extract_features_tokens(
        tokens_df, settings, engine="kernels", output="map"
    ).toPandas().set_index("doc_id")
    b = extract_features_tokens(
        tokens_df, settings, engine="hybrid", output="map"
    ).toPandas().set_index("doc_id")
    assert sorted(a.index) == sorted(b.index)
    for doc in a.index:
        fa, fb = dict(a.loc[doc, "features"]), dict(b.loc[doc, "features"])
        assert fa.keys() == fb.keys()
        for key in fa:
            va, vb = fa[key], fb[key]
            assert (pd.isna(va) and pd.isna(vb)) or va == vb, (doc, key, va, vb)
    # and the plan stays shuffle-free
    plan = extract_features_tokens(
        tokens_df, settings, engine="hybrid", output="map"
    )._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_hybrid_kind_to_settings_equals_kernels(spark, tokens_df):
    """Per-kind expression sets: each kind routes through its own hybrid
    split and the union equals the kernel path with the same routing."""
    per_kind = {"web": minimal_settings(), "code": {"maximum": None, "abs_energy": None}}
    base = {"minimum": None}
    kw = dict(kind_to_settings=per_kind)
    a = _collect(
        extract_features_tokens(tokens_df, base, engine="kernels", **kw)
    )
    b = _collect(
        extract_features_tokens(tokens_df, base, engine="hybrid", **kw)
    )
    assert list(a.variable) == list(b.variable)
    va, vb = a.value.values, b.value.values
    both_nan = pd.isna(va) & pd.isna(vb)
    assert (both_nan | (va == vb)).all()

    # map + kind_to_settings composes too
    m = extract_features_tokens(
        tokens_df, base, engine="hybrid", output="map", **kw
    ).toPandas()
    assert len(m) == tokens_df.count()
    web = m[m.source == "web"].iloc[0].features
    code = m[m.source == "code"].iloc[0].features
    assert set(k.split("__")[1] for k in web) == set(minimal_settings())
    assert set(k.split("__")[1] for k in code) == {"maximum", "abs_energy"}


@pytest.fixture(scope="module")
def null_kind_df(spark, tokens_df):
    """tokens_df with a NULL-kind population mixed in."""
    nulls = spark.createDataFrame(
        [(f"n{i}", list(range(3 + i, 23 + i)), None) for i in range(4)],
        "doc_id string, tokens array<int>, source string",
    )
    return tokens_df.unionByName(nulls)


def test_hybrid_null_kind_equals_kernels(spark, null_kind_df):
    """NULL kinds: the kernels engine names features str(None) → 'None__…';
    the Catalyst branch must coalesce the kind to match (a bare concat
    yields NULL keys — map output then dies in map_from_entries)."""
    settings = minimal_settings()
    a = _collect(
        extract_features_tokens(null_kind_df, settings, engine="kernels")
    )
    b = _collect(
        extract_features_tokens(null_kind_df, settings, engine="hybrid")
    )
    assert list(a.variable) == list(b.variable)
    assert any(v.startswith("None__") for v in b.variable)
    va, vb = a.value.values, b.value.values
    both_nan = pd.isna(va) & pd.isna(vb)
    assert (both_nan | (va == vb)).all()

    # map output must not raise on the NULL-kind rows and must agree too
    am = extract_features_tokens(
        null_kind_df, settings, engine="kernels", output="map"
    ).toPandas().set_index("doc_id")
    bm = extract_features_tokens(
        null_kind_df, settings, engine="hybrid", output="map"
    ).toPandas().set_index("doc_id")
    for doc in am.index:
        fa, fb = dict(am.loc[doc, "features"]), dict(bm.loc[doc, "features"])
        assert fa.keys() == fb.keys()
        for key in fa:
            va, vb = fa[key], fb[key]
            assert (pd.isna(va) and pd.isna(vb)) or va == vb, (doc, key)

    # and through kind_to_settings routing: NULL rows take the default
    # branch in BOTH engines, with the same 'None__' naming
    kw = dict(kind_to_settings={"web": {"maximum": None}})
    a = _collect(
        extract_features_tokens(
            null_kind_df, {"minimum": None}, engine="kernels", **kw
        )
    )
    b = _collect(
        extract_features_tokens(
            null_kind_df, {"minimum": None}, engine="hybrid", **kw
        )
    )
    assert list(a.variable) == list(b.variable)
    assert any(v == "None__minimum" for v in b.variable)
    va, vb = a.value.values, b.value.values
    both_nan = pd.isna(va) & pd.isna(vb)
    assert (both_nan | (va == vb)).all()
