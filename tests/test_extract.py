"""End-to-end extraction tests: tokens path (mapInArrow, shuffle-free) and
long path (collected arrays through the same executor), pivot round-trips,
settings replay, and the order-invariance contract from the reference's
orchestration suite
(/root/reference/tests/units/feature_extraction/test_extraction.py:207,292).
"""

import struct

import numpy as np
import pandas as pd
import pytest

from pyspark.sql import functions as F
from pyspark.sql.types import MapType

from tsfresh_spark.extract import (
    compute_series_features,
    extract_features_long,
    extract_features_tokens,
    melt_wide,
    pivot_features,
    pivot_features_map,
)
from tsfresh_spark.settings import (
    comprehensive_settings,
    minimal_settings,
    settings_from_feature_names,
    expand_feature_names,
)


@pytest.fixture(scope="module")
def tokens_df(spark):
    rows = [
        ("doc1", [1, 2, 3, 5, 2], "web"),
        ("doc2", [7, 1, 1, 4, 4, 9, 0], "web"),
        ("doc3", [2, 2, 2, 2], "code"),
        ("doc4", [10, 20, 30], "code"),
    ]
    return spark.createDataFrame(rows, "doc_id string, tokens array<int>, source string")


def test_tokens_minimal_long(spark, tokens_df):
    out = extract_features_tokens(tokens_df, minimal_settings()).toPandas()
    assert set(out.columns) == {"doc_id", "source", "variable", "value"}
    # 4 docs × 10 minimal features
    assert len(out) == 40
    got = out[(out.doc_id == "doc1") & (out.variable == "web__mean")].value.iloc[0]
    assert got == pytest.approx(np.mean([1, 2, 3, 5, 2]))
    got = out[(out.doc_id == "doc3") & (out.variable == "code__variance")].value.iloc[0]
    assert got == 0.0


def test_tokens_map_output(spark, tokens_df):
    out = extract_features_tokens(tokens_df, minimal_settings(), output="map").toPandas()
    assert len(out) == 4
    feats = dict(out[out.doc_id == "doc4"].features.iloc[0])
    assert feats["code__maximum"] == 30.0
    assert feats["code__length"] == 3.0


def test_tokens_plan_is_shuffle_free(spark, tokens_df):
    plan = extract_features_tokens(tokens_df, minimal_settings())._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan  # narrow map only — the 100-TB property


def test_long_format_extraction(spark):
    pdf = pd.DataFrame(
        {
            "id": [1, 1, 1, 2, 2, 2],
            "kind": ["a"] * 6,
            "time": [2, 0, 1, 0, 1, 2],  # shuffled sort within group
            "value": [3.0, 1.0, 2.0, 5.0, 5.0, 5.0],
        }
    )
    df = spark.createDataFrame(pdf)
    out = extract_features_long(df, minimal_settings()).toPandas()
    assert len(out) == 20
    m = out[(out.id == 1) & (out.variable == "a__mean")].value.iloc[0]
    assert m == pytest.approx(2.0)


def test_long_sort_respected(spark):
    # an ordered feature must see time-sorted values regardless of row order
    pdf = pd.DataFrame(
        {
            "id": [1] * 4,
            "kind": ["a"] * 4,
            "time": [3, 0, 1, 2],
            "value": [40.0, 10.0, 20.0, 30.0],
        }
    )
    df = spark.createDataFrame(pdf).repartition(4)
    out = extract_features_long(df, {"mean_change": None}).toPandas()
    assert out.value.iloc[0] == pytest.approx(10.0)  # (40-10)/3 on sorted series


def test_order_invariance_tokens(spark, tokens_df):
    """Shuffling input rows / changing partitioning must not change results
    (reference test_extraction.py:207)."""
    settings = {"mean": None, "abs_energy": None, "autocorrelation": [{"lag": 1}]}
    a = (
        extract_features_tokens(tokens_df.repartition(7), settings)
        .toPandas()
        .sort_values(["doc_id", "variable"])
        .reset_index(drop=True)
    )
    b = (
        extract_features_tokens(tokens_df.coalesce(1), settings)
        .toPandas()
        .sort_values(["doc_id", "variable"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(a, b)


def test_pivot_features(spark, tokens_df):
    long_df = extract_features_tokens(tokens_df, minimal_settings())
    names = expand_feature_names(minimal_settings(), "web") + expand_feature_names(
        minimal_settings(), "code"
    )
    wide = pivot_features(long_df, id_cols="doc_id", feature_names=names).toPandas()
    assert len(wide) == 4
    assert list(wide.columns[1:]) == sorted(names)
    row = wide[wide.doc_id == "doc1"]
    assert row["web__sum_values"].iloc[0] == 13.0
    # docs of the other kind have NaN in this kind's columns
    assert np.isnan(row["code__sum_values"].iloc[0])


def test_pivot_features_map(spark, tokens_df):
    long_df = extract_features_tokens(tokens_df, minimal_settings())
    wide = pivot_features_map(long_df, id_cols="doc_id").toPandas()
    assert len(wide) == 4
    feats = dict(wide[wide.doc_id == "doc2"].features.iloc[0])
    assert feats["web__length"] == 7.0


def test_settings_roundtrip():
    settings = comprehensive_settings()
    names = expand_feature_names(settings, "web")
    rebuilt = settings_from_feature_names(names)
    assert set(rebuilt) == {"web"}
    assert set(rebuilt["web"]) == set(settings)
    # parameterized grids survive the round trip
    assert rebuilt["web"]["autocorrelation"] == settings["autocorrelation"]
    assert rebuilt["web"]["fft_coefficient"] == settings["fft_coefficient"]


def test_melt_wide(spark):
    pdf = pd.DataFrame(
        {"id": [1, 1], "time": [0, 1], "F_x": [1.0, 2.0], "F_y": [3.0, 4.0]}
    )
    long_df = melt_wide(
        spark.createDataFrame(pdf), column_id="id", column_sort="time"
    ).toPandas()
    assert len(long_df) == 4
    assert set(long_df["kind"]) == {"F_x", "F_y"}


def test_kind_to_settings_routing(spark, tokens_df):
    out = extract_features_tokens(
        tokens_df,
        {"mean": None},
        kind_to_settings={"code": {"maximum": None}},
    ).toPandas()
    web = out[out.source == "web"]
    code = out[out.source == "code"]
    assert set(web.variable.str.split("__").str[1]) == {"mean"}
    assert set(code.variable.str.split("__").str[1]) == {"maximum"}


# ---------------------------------------------------------------------------
# the per-series executor: input alignment, long-path semantics, output
# ---------------------------------------------------------------------------


def _same(a, b) -> bool:
    """Bit-for-bit float equality; NaN equals NaN and NULL stands for NaN."""
    a = np.nan if a is None else float(a)
    b = np.nan if b is None else float(b)
    return (np.isnan(a) and np.isnan(b)) or struct.pack("<d", a) == struct.pack("<d", b)


def _assert_same_features(got: dict, want: dict) -> None:
    assert set(got) == set(want)
    bad = {k: (got[k], want[k]) for k in want if not _same(got[k], want[k])}
    assert not bad, bad


def test_compute_series_features_copies_views():
    """A view at any 8-byte offset gives the same features, bit for bit, as
    the series in its own array: abs_energy is a BLAS dot, whose summation
    order depends on the start address."""
    rng = np.random.default_rng(3)
    settings = {"abs_energy": None, "mean": None, "autocorrelation": [{"lag": 1}]}
    for _ in range(60):
        x = np.cumsum(rng.normal(size=64))
        want = dict(compute_series_features(x.copy(), "k", settings))
        buf = np.empty(len(x) + 3)
        for off in range(4):
            view = buf[off : off + len(x)]
            view[:] = x
            _assert_same_features(
                dict(compute_series_features(view, "k", settings)), want
            )


def test_settings_changed_in_place_recompile():
    """A settings dict changed between two calls gets a plan of its new
    contents: a kernel added to it runs, and a parameter set appended to a
    simple kernel's list yields its feature too (a plan keyed on the dict's
    identity served the old plan, and ``zip`` cut the new names short)."""
    import pyarrow as pa

    from tsfresh_spark.extract import _feature_map

    x = np.array([1.0, 5.0, 2.0, 7.0, 3.0, 9.0, 1.0, 8.0, 2.0, 6.0])
    settings = {"mean": None}
    assert set(dict(compute_series_features(x, "k", settings))) == {"k__mean"}
    settings["maximum"] = None
    assert set(dict(compute_series_features(x, "k", settings))) == {"k__mean", "k__maximum"}

    peaks = {"number_peaks": [{"n": 1}]}
    list(compute_series_features(x, "k", peaks))
    peaks["number_peaks"].append({"n": 3})
    got = dict(compute_series_features(x, "k", peaks))
    assert set(got) == {"k__number_peaks__n_1", "k__number_peaks__n_3"}

    # the batch executor compiles per call, so it sees the change too
    kinds, values = pa.array(["k"]), pa.array([x.tolist()])
    peaks["number_peaks"].append({"n": 5})
    (row,) = _feature_map(kinds, values, peaks).to_pylist()
    assert [name for name, _ in row] == [
        "k__number_peaks__n_1", "k__number_peaks__n_3", "k__number_peaks__n_5"
    ]


def test_cross_kernel_caches_cleared_per_series():
    """Every one-slot cross-kernel cache is released once a series is done:
    none may pin the last series' bytes in a reused worker."""
    from tsfresh_spark.kernels import entropy, helpers, model, spectral
    from tsfresh_spark.settings import efficient_settings

    x = np.cumsum(np.random.default_rng(4).normal(size=300))
    list(compute_series_features(x, "k", efficient_settings()))
    slots = {
        "cheb": entropy._CHEB_CACHE,
        "friedrich": model._FRIEDRICH_CACHE,
        "psd": helpers._PSD_CACHE,
        "rfft": spectral._RFFT_CACHE,
    }
    assert {name: slot[0] for name, slot in slots.items()} == dict.fromkeys(slots)


_ORDERED = {
    "mean_change": None,
    "first_location_of_maximum": None,
    "last_location_of_minimum": None,
    "autocorrelation": [{"lag": 1}],
    "abs_energy": None,
}


def _long_features(spark, rows, schema, settings, **kw) -> dict:
    df = spark.createDataFrame(rows, schema).repartition(3)
    out = extract_features_long(df, settings, **kw).collect()
    feats: dict = {}
    for r in out:
        feats.setdefault(r["id"], {})[r["variable"]] = r["value"]
    return feats


def test_long_null_sort_keys_order_last(spark):
    """NULL sort keys go last, where pandas ``sort_values`` put them."""
    rows = [(1, "a", 2, 30.0), (1, "a", None, 99.0), (1, "a", 0, 10.0), (1, "a", 1, 20.0)]
    got = _long_features(spark, rows, "id long, kind string, time long, value double", _ORDERED)
    want = dict(compute_series_features(np.array([10.0, 20.0, 30.0, 99.0]), "a", _ORDERED))
    _assert_same_features(got[1], want)


def test_long_tied_sort_keys_order_by_value(spark):
    """Points tied on the sort key resolve in (sort, value) order, whatever
    order the shuffle delivers them in."""
    rows = [(1, "a", 1, 5.0), (1, "a", 0, 0.0), (1, "a", 1, 3.0), (1, "a", 1, 4.0), (1, "a", 2, -1.0)]
    want = dict(compute_series_features(np.array([0.0, 3.0, 4.0, 5.0, -1.0]), "a", _ORDERED))
    for _ in range(2):
        got = _long_features(spark, rows, "id long, kind string, time long, value double", _ORDERED)
        _assert_same_features(got[1], want)
        rows = rows[::-1]


def test_long_composite_sort(spark):
    """A list ``column_sort`` orders lexicographically; a NULL second key
    goes last within its tie group."""
    rows = [
        (1, "a", 1, 3, 30.0),
        (1, "a", 1, 1, 10.0),
        (1, "a", 0, 0, 0.0),
        (1, "a", 1, None, 99.0),
        (1, "a", 1, 2, 20.0),
        (1, "a", 2, 0, 5.0),
    ]
    got = _long_features(
        spark, rows, "id long, kind string, ts long, event_id long, value double",
        _ORDERED, column_sort=["ts", "event_id"],
    )
    want = dict(
        compute_series_features(np.array([0.0, 10.0, 20.0, 30.0, 99.0, 5.0]), "a", _ORDERED)
    )
    _assert_same_features(got[1], want)


def test_long_timestamps_reach_timewise_kernels_as_wall_times(spark):
    """A timestamp sort column becomes the series' DatetimeIndex in the
    session time zone's wall time, as a pandas UDF saw it: across the DST
    jump the elapsed hours are 0, 1, 3, 4, 5, not 0..4."""
    settings = {"linear_trend_timewise": [{"attr": "slope"}, {"attr": "intercept"}]}
    epochs = [1615698000 + 3600 * h for h in range(5)]  # 2021-03-14 05:00 UTC on
    values = [0.0, 1.0, 2.0, 3.0, 4.0]
    rows = [(1, "k", e, v) for e, v in zip(epochs, values)][::-1]
    zone = "America/New_York"
    spark.conf.set("spark.sql.session.timeZone", zone)
    try:
        df = spark.createDataFrame(rows, "id long, kind string, epoch long, value double")
        df = df.select("id", "kind", F.timestamp_seconds("epoch").alias("time"), "value")
        out = extract_features_long(df, settings).collect()
    finally:
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    got = {r["variable"]: r["value"] for r in out}
    utc = pd.to_datetime(epochs, unit="s", utc=True)
    wall = pd.DatetimeIndex(utc.tz_convert(zone).tz_localize(None))
    x = np.array(values)
    want = dict(compute_series_features(x, "k", settings, timestamps=wall))
    _assert_same_features(got, want)
    as_utc = dict(compute_series_features(x, "k", settings, timestamps=utc.tz_localize(None)))
    assert got != as_utc  # the wall-time index is what the kernels saw


def test_long_value_dtypes(spark):
    """Integer values reach the kernels as int64; a series holding a NULL
    becomes float64 with NaN — per series, as the pandas frame had it."""

    def dtype_code(x):
        return {"int64": 1.0, "float64": 2.0}.get(str(x.dtype), -1.0)

    def nan_count(x):
        return float(np.isnan(x.astype(np.float64)).sum())

    settings = {dtype_code: None, nan_count: None, "sum_values": None}
    rows = [(1, "a", t, v) for t, v in enumerate([1, 2, 3])]
    rows += [(2, "a", t, v) for t, v in enumerate([1, None, 3])]
    got = _long_features(spark, rows, "id long, kind string, time long, value long", settings)
    assert got[1] == {"a__dtype_code": 1.0, "a__nan_count": 0.0, "a__sum_values": 6.0}
    assert got[2]["a__dtype_code"] == 2.0 and got[2]["a__nan_count"] == 1.0
    assert got[2]["a__sum_values"] is None  # NaN leaves as NULL


def test_long_unsorted_and_kind_shapes(spark):
    """``column_sort=None`` keeps arrival order (order-free features match);
    a non-string kind is named by ``str(kind)``, a NULL kind by ``"None"``;
    ``kind_to_settings`` routes per kind."""
    settings = {"mean": None, "length": None, "maximum": None}
    rows = [(1, "a", 3.0), (1, "a", 1.0), (1, "a", 2.0), (2, None, 4.0), (3, "b", 5.0)]
    got = _long_features(
        spark, rows, "id long, kind string, value double", settings, column_sort=None,
        kind_to_settings={"b": {"minimum": None}},
    )
    _assert_same_features(
        got[1], dict(compute_series_features(np.array([1.0, 2.0, 3.0]), "a", settings))
    )
    assert set(got[2]) == {"None__mean", "None__length", "None__maximum"}
    assert got[3] == {"b__minimum": 5.0}

    df = spark.createDataFrame([(1, 7, 0, 2.0), (1, 7, 1, 4.0)], "id long, kind int, time long, value double")
    out = extract_features_long(df, {"mean": None}).collect()
    assert [(r["kind"], r["variable"], r["value"]) for r in out] == [("7", "7__mean", 3.0)]
    nulls = extract_features_long(
        spark.createDataFrame(rows, "id long, kind string, value double"),
        {"mean": None}, column_sort=None,
    ).filter(F.col("id") == 2).collect()
    assert [(r["kind"], r["variable"]) for r in nulls] == [(None, "None__mean")]


def test_tokens_null_kind_shapes(spark, tokens_df):
    """A NULL kind on the tokens path: long output names its features
    ``None__…``, map output does not raise on it, and ``kind_to_settings``
    routes NULL rows to the default settings."""
    nulls = spark.createDataFrame(
        [(f"n{i}", list(range(3 + i, 23 + i)), None) for i in range(2)],
        "doc_id string, tokens array<int>, source string",
    )
    df = tokens_df.unionByName(nulls)
    settings = minimal_settings()
    want = {
        f"n{i}": dict(compute_series_features(np.arange(3 + i, 23 + i), "None", settings))
        for i in range(2)
    }

    long_out: dict = {}
    for r in extract_features_tokens(df, settings).filter(F.col("source").isNull()).collect():
        long_out.setdefault(r["doc_id"], {})[r["variable"]] = r["value"]
    assert set(long_out) == set(want)
    for doc, feats in want.items():
        assert set(feats) == {f"None__{k}" for k in settings}
        _assert_same_features(long_out[doc], feats)

    map_out = extract_features_tokens(df, settings, output="map").collect()
    assert len(map_out) == 6
    for r in map_out:
        if r["source"] is None:
            _assert_same_features(dict(r["features"]), want[r["doc_id"]])

    routed = extract_features_tokens(
        df, {"minimum": None}, kind_to_settings={"web": {"maximum": None}}
    ).collect()
    by_kind: dict = {}
    for r in routed:
        by_kind.setdefault(r["source"], set()).add(r["variable"])
    assert by_kind == {
        None: {"None__minimum"}, "web": {"web__maximum"}, "code": {"code__minimum"}
    }


# Settings with NaN features on short or constant series.
_NAN_SETTINGS = {
    "variance_larger_than_standard_deviation": None,
    "autocorrelation": [{"lag": 3}],
    "c3": [{"lag": 5}],
    "augmented_dickey_fuller": [{"attr": "teststat"}],
    "mean": None,
}


def _digest(df) -> tuple[int, int]:
    """Order-free whole-output digest: ``bit_xor`` of a per-row xxhash64,
    map columns hashed as sorted entries."""
    cols = [
        F.array_sort(F.map_entries(F.col(f.name))) if isinstance(f.dataType, MapType) else F.col(f.name)
        for f in df.schema.fields
    ]
    row = df.agg(F.bit_xor(F.xxhash64(*cols)), F.count(F.lit(1))).collect()[0]
    return int(row[0]), int(row[1])


def test_nan_features_leave_as_null_digests_unchanged(spark):
    """NaN features leave the executor as NULL.  The expected digests were
    recorded from the pandas-frame implementation this executor replaced
    (``mapInPandas`` tokens loop and ``applyInPandas`` long path), so every
    output shape is unchanged to the bit.  The two ``mixed`` digests were
    recorded from a retired engine that evaluated part of those settings as
    Catalyst array expressions and the rest in a pandas UDF; the tokens
    path reproduces them."""
    toks = spark.createDataFrame(
        [("d1", [1, 2, 3, 5, 2], "web"), ("d2", [2, 2], "code"), ("d3", [4], "web")],
        "doc_id string, tokens array<int>, source string",
    )
    long_df = spark.createDataFrame(
        pd.DataFrame(
            {
                "id": [1, 1, 1, 2, 2, 3, 3, 3, 3],
                "kind": ["a"] * 5 + ["b"] * 4,
                "time": [0, 1, 2, 0, 1, 3, 2, 1, 0],
                "value": [1.0, 1.0, 1.0, 2.0, 3.0, 4.0, 1.0, 5.0, 2.0],
            }
        )
    )
    mixed = {**_NAN_SETTINGS, **minimal_settings()}
    outputs = {
        "tokens long": extract_features_tokens(toks, _NAN_SETTINGS),
        "tokens map": extract_features_tokens(toks, _NAN_SETTINGS, output="map"),
        "long": extract_features_long(long_df, _NAN_SETTINGS),
        "mixed long": extract_features_tokens(toks, mixed),
        "mixed map": extract_features_tokens(toks, mixed, output="map"),
    }
    expected = {
        "tokens long": (3133945367061512200, 15),
        "tokens map": (-3408671883230092785, 3),
        "long": (230609248030264466, 15),
        "mixed long": (7515542461868212253, 42),
        "mixed map": (838832670091973753, 3),
    }
    assert {k: _digest(df) for k, df in outputs.items()} == expected
    long_out = outputs["long"].toPandas()
    assert long_out["value"].isna().any()
    map_out = outputs["tokens map"].collect()
    assert any(v is None for r in map_out for v in r["features"].values())
