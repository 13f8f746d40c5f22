"""Feature extraction operators.

One per-series executor serves every extraction path: an Arrow batch of
``(id, kind, values: list<…>[, timestamps])`` goes in, features come out as
Arrow arrays — long triples or a ``map<string,double>`` — with no pandas
frame on either side (:func:`_batch_features`).  Callers:

* :func:`extract_features_tokens` — for the engine's primary input shape
  (BASELINE.json input_hint): one row already holds a whole series as an
  ``array<int>`` column, so extraction is a **shuffle-free** ``mapInArrow``
  — a narrow transformation that scales linearly with partitions and never
  materializes a grouped shuffle.  This is the 100-TB path.

* :func:`extract_features_long` — for the canonical long format
  ``(id, kind, sort, value)``: ``groupBy(id, kind)`` collects each series
  into one sorted array in Catalyst (the single grouping shuffle of the
  reference's own Spark binding, bindings.py:164-265), then the same
  ``mapInArrow`` executor runs over the arrays.

* the rollup tiers' window map (``operators/rollup.py``) runs the same
  executor inside its own ``mapInArrow``, and the windowed stream calls it
  from a scalar ``arrow_udf``.

The per-series evaluation loop mirrors ``_do_extraction_on_chunk``
(/root/reference/tsfresh/feature_extraction/extraction.py:308-386): simple
kernels are called once per parameter set, combiner kernels once per
parameter list (sharing expensive intermediates), names follow the
``kind__calculator__params`` grammar.
"""

from __future__ import annotations

import warnings
from typing import Iterable, Iterator

import numpy as np
import pandas as pd
import pyarrow as pa

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tsfresh_spark.kernels import KERNELS, KernelInfo
from tsfresh_spark.kernels.entropy import clear_cheb_cache
from tsfresh_spark.kernels.helpers import clear_psd_cache
from tsfresh_spark.kernels.model import clear_friedrich_cache
from tsfresh_spark.kernels.spectral import clear_rfft_cache
from tsfresh_spark.naming import encode_parameters


def _resolve_kernel(name_or_func) -> tuple[str, KernelInfo]:
    """Settings keys may be registry names or user callables (transported by
    cloudpickle, exactly how PySpark ships closures; cf. reference
    settings.py:109-129, extraction.py:340-343)."""
    if callable(name_or_func):
        info = KernelInfo(
            func=name_or_func,
            fctype=getattr(name_or_func, "fctype", "simple"),
            input=getattr(name_or_func, "input", "numpy"),
        )
        return name_or_func.__name__, info
    if name_or_func in KERNELS:
        return name_or_func, KERNELS[name_or_func]
    raise ValueError(f"unknown feature calculator {name_or_func!r}")


def _validate_settings(settings: dict, kind_to_settings: dict | None = None) -> None:
    """Fail fast on the driver for unknown calculator names instead of
    surfacing them as executor-side PythonExceptions."""
    for key in settings:
        _resolve_kernel(key)
    for sub in (kind_to_settings or {}).values():
        for key in sub:
            _resolve_kernel(key)


def _batched_simple() -> dict:
    """Grid-sharing fast paths for 'simple' kernels whose parameter grids
    share expensive intermediates (values identical to per-param calls)."""
    from tsfresh_spark.kernels.entropy import (
        approximate_entropy_batch,
        fourier_entropy_batch,
    )
    from tsfresh_spark.kernels.ordered import change_quantiles_batch
    from tsfresh_spark.kernels.statistics import (
        autocorrelation_batch,
        large_standard_deviation_batch,
        quantile_batch,
        ratio_beyond_r_sigma_batch,
    )

    return {
        "change_quantiles": change_quantiles_batch,
        "fourier_entropy": fourier_entropy_batch,
        "approximate_entropy": approximate_entropy_batch,
        "quantile": quantile_batch,
        "ratio_beyond_r_sigma": ratio_beyond_r_sigma_batch,
        "large_standard_deviation": large_standard_deviation_batch,
        "autocorrelation": autocorrelation_batch,
    }


_BATCHED_SIMPLE = _batched_simple()


class _CompiledPlan:
    """Per-(settings, kind) execution plan: kernel lookups and simple-path
    feature-name strings resolved once, reused for every series in the
    Arrow batch (names for ~800 features would otherwise be re-encoded per
    series)."""

    __slots__ = ("entries",)

    def __init__(self, settings: dict, kind: str):
        self.entries = []
        for key, parameter_list in settings.items():
            name, info = _resolve_kernel(key)
            if not info.available:
                continue
            prefix = f"{kind}__{name}"
            batched = _BATCHED_SIMPLE.get(name) if not callable(key) else None
            if info.fctype != "combiner" and parameter_list and batched is None:
                names = [
                    f"{prefix}__{encode_parameters(p)}" for p in parameter_list
                ]
            else:
                names = None
            self.entries.append(
                (name, info, parameter_list, prefix, names, batched)
            )


def compute_series_features(
    values: np.ndarray,
    kind: str,
    settings: dict,
    timestamps: pd.Index | None = None,
) -> Iterator[tuple[str, float]]:
    """Evaluate every configured kernel on one series; yields
    ``(feature_name, value)`` with values coerced to float64.  The plan is
    compiled from ``settings`` as they are now, so a dict changed between
    calls is never served a stale plan."""
    yield from _run_series(_CompiledPlan(settings, kind), values, timestamps)


def _run_series(
    plan: _CompiledPlan, values, timestamps=None
) -> Iterator[tuple[str, float]]:
    """Run a compiled plan on one series.

    Kernels get a freshly allocated copy of ``values``: BLAS reductions
    (``abs_energy`` is ``np.dot(x, x)``) sum in a different order when
    ``x`` starts 8 bytes off a 16-byte boundary, as slices of one buffer do,
    so a view could differ from the same series in its own array by one
    ulp."""
    values = np.array(values)
    series = None  # built lazily, only if some kernel needs pandas input
    try:
        with warnings.catch_warnings():
            warnings.simplefilter("ignore")
            for name, info, parameter_list, prefix, names, batched in plan.entries:
                if info.requires_timestamps and not isinstance(
                    timestamps, pd.DatetimeIndex
                ):
                    # reference warns and skips when the index type is wrong
                    # (extraction.py:347-358)
                    continue
                if info.input == "series":
                    if series is None:
                        series = pd.Series(values, index=timestamps)
                    x = series
                else:
                    x = values
                func = info.func
                if info.fctype == "combiner":
                    for suffix, value in func(x, param=parameter_list):
                        yield f"{prefix}__{suffix}", float(value)
                elif parameter_list:
                    if batched is not None:
                        for suffix, value in batched(x, parameter_list):
                            yield f"{prefix}__{suffix}", float(value)
                    else:
                        for p, fname in zip(parameter_list, names):
                            yield fname, float(func(x, **p))
                else:
                    yield prefix, float(func(x))
    finally:
        # The cross-kernel one-slot shares pin the series bytes as their
        # keys, and the Chebyshev matrices of sample_entropy/ApEn up to
        # ~66 MB, per reused python worker between jobs: clear them once
        # this series is done — Chebyshev, Friedrich fit, Welch PSD
        # (fourier_entropy / spkt_welch_density) and rfft (fft_coefficient /
        # fft_aggregated).
        clear_cheb_cache()
        clear_friedrich_cache()
        clear_psd_cache()
        clear_rfft_cache()


# ---------------------------------------------------------------------------
# the batch executor: Arrow list columns in, Arrow feature arrays out
# ---------------------------------------------------------------------------

# cap the rows of one long-output batch: with ~800 features/series a full
# Arrow batch would hold millions of rows before yielding
FLUSH_ROWS = 200_000


def _wall_times(timestamps: pa.ListArray) -> np.ndarray:
    """The flat timestamps as naive session-local ``datetime64[ns]`` — the
    wall times a pandas UDF sees (Arrow carries UTC instants tagged with
    the session time zone)."""
    child = timestamps.values
    idx = pd.DatetimeIndex(child.to_numpy(zero_copy_only=False))
    if child.type.tz:
        idx = idx.tz_localize("UTC").tz_convert(child.type.tz).tz_localize(None)
    return idx.as_unit("ns").values


def _batch_features(
    kinds: pa.Array,
    values: pa.ListArray,
    settings: dict,
    kind_to_settings: dict | None = None,
    *,
    timestamps: pa.ListArray | None = None,
    order_by: pa.ListArray | None = None,
    dtype=None,
    flush_rows: int | None = None,
) -> Iterator[tuple[int, list[int], list[str], list[float]]]:
    """The per-series executor.  Row ``i`` is one series: ``values[i]`` in
    kind ``kinds[i]``.  ``timestamps`` (aligned with ``values``) become the
    series' DatetimeIndex; ``order_by`` (aligned too) reorders each series
    by a stable sort on its keys; ``dtype`` casts the values.  A series
    holding NULLs converts like pandas: integers become float64 with NaN.

    Yields ``(start, counts, names, feats)`` chunks: series ``start`` to
    ``start + len(counts)``, ``counts[j]`` features each, their names and
    values flat in series order.  A chunk closes once it holds
    ``flush_rows`` features (never, when ``None``)."""
    offsets = values.offsets.to_numpy()
    child = values.values
    times = _wall_times(timestamps) if timestamps is not None else None
    keys = order_by.values.to_numpy(zero_copy_only=False) if order_by is not None else None
    plans: dict = {}  # one compiled plan per kind, for this call only
    start, counts, names, feats = 0, [], [], []
    for i, kind in enumerate(kinds.to_pylist()):
        a, b = offsets[i], offsets[i + 1]
        x = child.slice(a, b - a).to_numpy(zero_copy_only=False)
        if dtype is not None:
            x = x.astype(dtype)
        if keys is not None:
            x = x[np.argsort(keys[a:b], kind="stable")]
        index = pd.DatetimeIndex(times[a:b]) if times is not None else None
        plan = plans.get(kind)
        if plan is None:
            fc = kind_to_settings.get(kind, settings) if kind_to_settings else settings
            plan = plans[kind] = _CompiledPlan(fc, str(kind))
        n = len(names)
        for name, value in _run_series(plan, x, index):
            names.append(name)
            feats.append(value)
        counts.append(len(names) - n)
        if flush_rows and len(names) >= flush_rows:
            yield start, counts, names, feats
            start, counts, names, feats = i + 1, [], [], []
    if counts:
        yield start, counts, names, feats


def _doubles(feats: list[float]) -> pa.Array:
    # NaN leaves as NULL, as it did through a pandas frame
    return pa.array(feats, pa.float64(), from_pandas=True)


def _kind_strings(kinds: pa.Array) -> pa.Array:
    """The output kind column: the same ``str(kind)`` the feature names
    carry, NULL kinds staying NULL."""
    if pa.types.is_string(kinds.type):
        return kinds
    return pa.array(
        [None if k is None else str(k) for k in kinds.to_pylist()], pa.string()
    )


def _long_batches(
    ids: pa.Array, kinds: pa.Array, values: pa.ListArray, key_names: list[str], settings: dict, **kw
) -> Iterator[pa.RecordBatch]:
    """Long output: one ``(id, kind, variable, value)`` row per feature, at
    most about ``FLUSH_ROWS`` rows per batch; ``key_names`` names the id and
    kind columns."""
    kind_out = _kind_strings(kinds)
    for start, counts, variables, feats in _batch_features(
        kinds, values, settings, flush_rows=FLUSH_ROWS, **kw
    ):
        if not variables:
            continue
        rows = np.repeat(np.arange(start, start + len(counts)), counts)
        yield pa.RecordBatch.from_arrays(
            [ids.take(rows), kind_out.take(rows), pa.array(variables, pa.string()), _doubles(feats)],
            names=[*key_names, "variable", "value"],
        )


def _feature_map(kinds: pa.Array, values: pa.ListArray, settings: dict, **kw) -> pa.MapArray:
    """Map output: one ``map<string,double>`` of features per series."""
    _, counts, variables, feats = next(
        _batch_features(kinds, values, settings, **kw), (0, [], [], [])
    )
    offsets = np.zeros(len(counts) + 1, np.int32)
    np.cumsum(counts, out=offsets[1:])
    return pa.MapArray.from_arrays(offsets, pa.array(variables, pa.string()), _doubles(feats))


# ---------------------------------------------------------------------------
# tokens-table path: (doc_id, tokens, n_tok, source) — shuffle-free
# ---------------------------------------------------------------------------


def extract_features_tokens(
    df: DataFrame,
    settings: dict,
    *,
    id_col: str = "doc_id",
    tokens_col: str = "tokens",
    kind_col: str = "source",
    kind_to_settings: dict | None = None,
    output: str = "long",
) -> DataFrame:
    """Extract features from pre-grouped token-array rows via ``mapInArrow``.

    No shuffle: each input row is a complete series, so this is a narrow
    map over Arrow batches.  Tokens reach the kernels as int64.  ``output``
    is ``"long"`` (one row per feature — id, kind, variable, value) or
    ``"map"`` (one row per series with a ``map<string,double>`` of features,
    avoiding a 794-column wide plan; cf. the reference's own advice in
    docs/text/large_data.rst:33-38).
    """
    if output not in ("long", "map"):
        raise ValueError("output must be 'long' or 'map'")
    _validate_settings(settings, kind_to_settings)
    id_type = df.schema[id_col].dataType.simpleString()
    kw = dict(kind_to_settings=kind_to_settings, dtype=np.int64)

    def run(batches: Iterable[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            ids, tokens, kinds = batch.columns
            if output == "long":
                yield from _long_batches(ids, kinds, tokens, [id_col, kind_col], settings, **kw)
            else:
                yield pa.RecordBatch.from_arrays(
                    [ids, _kind_strings(kinds), _feature_map(kinds, tokens, settings, **kw)],
                    names=[id_col, kind_col, "features"],
                )

    if output == "long":
        schema = f"{id_col} {id_type}, {kind_col} string, variable string, value double"
    else:
        schema = f"{id_col} {id_type}, {kind_col} string, features map<string,double>"
    return df.select(id_col, tokens_col, kind_col).mapInArrow(run, schema=schema)


# ---------------------------------------------------------------------------
# long-format path: (id, kind, sort, value) — grouped shuffle
# ---------------------------------------------------------------------------


def extract_features_long(
    df: DataFrame,
    settings: dict,
    *,
    column_id: str = "id",
    column_kind: str = "kind",
    column_sort: str | list[str] | None = "time",
    column_value: str = "value",
    kind_to_settings: dict | None = None,
) -> DataFrame:
    """Extract features from a long frame: ``groupBy(id, kind)`` collects
    each series into one sorted array in Catalyst, and the shared
    ``mapInArrow`` executor evaluates the arrays.  The reference's own
    Spark binding (bindings.py:164-265) groups the same way, with one pandas
    frame per group; here no pandas frame crosses the boundary.  Output is
    the long triple frame ``(id, kind, variable, value:double)``.

    Each series is ordered by ``column_sort`` — one column or a list (a
    composite key, e.g. ``["ts", "event_id"]``) — with NULL keys last, as
    pandas ``sort_values`` orders them.  Points tied on every sort key are
    ordered by value (``array_sort`` on ``struct(keys…, value)``), so ties
    resolve deterministically.  ``column_sort=None`` keeps the arrival
    order.  A single timestamp sort column also reaches the kernels as the
    series' DatetimeIndex (session-local wall times, as pandas UDFs see
    them), which engages ``linear_trend_timewise``.  Values keep their
    type (integers stay integers); a series with NULL values gets float64
    NaN in their place.

    The grouping shuffle is pinned with an explicit ``repartition`` on the
    group keys (AQE honors user repartitions, and the aggregate reuses its
    hash distribution — still exactly one Exchange): the kernel stage is
    compute-bound, so AQE's byte-based partition coalescing misjudges it
    badly — a few-MB long frame coalesces to 1-2 partitions and the whole
    kernel evaluation runs on 1-2 cores.  The pinned count is
    max(shuffle partitions, defaultParallelism), so the map runs in one
    wave and pays each Python task's fixed cost once per core.
    """
    from tsfresh_spark.plans.partitioning import pin_group_partitions

    _validate_settings(settings, kind_to_settings)
    df = pin_group_partitions(df, column_id, column_kind)
    id_type = df.schema[column_id].dataType.simpleString()
    sort_cols = [] if column_sort is None else (
        [column_sort] if isinstance(column_sort, str) else list(column_sort)
    )
    # the struct keeps NULL values (collect_list drops bare NULLs); a
    # leading isnull flag per key sorts NULL keys last
    keys = [
        field
        for i, c in enumerate(sort_cols)
        for field in (F.isnull(c).alias(f"n{i}"), F.col(c).alias(f"k{i}"))
    ]
    pts = F.collect_list(F.struct(*keys, F.col(column_value).alias("v")))
    columns = [column_id, column_kind, F.col("pts.v")]
    # timestamp-index kernels only engage for a single timestamp-typed sort
    # column
    if isinstance(column_sort, str) and (
        df.schema[column_sort].dataType.simpleString().startswith("timestamp")
    ):
        columns.append(F.col("pts.k0"))

    def run(batches: Iterable[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            ids, kinds, values, *times = batch.columns
            yield from _long_batches(
                ids, kinds, values, [column_id, column_kind], settings,
                kind_to_settings=kind_to_settings,
                timestamps=times[0] if times else None,
            )

    schema = (
        f"{column_id} {id_type}, {column_kind} string, variable string, value double"
    )
    return (
        df.groupBy(column_id, column_kind)
        .agg((F.array_sort(pts) if sort_cols else pts).alias("pts"))
        .select(*columns)
        .mapInArrow(run, schema=schema)
    )


def melt_wide(
    df: DataFrame,
    *,
    column_id: str,
    column_sort: str | None,
    value_columns: list[str] | None = None,
) -> DataFrame:
    """Wide → long restructuring (one column per kind), the Spark-native
    ``unpivot`` — equivalent of the reference's melt recipe
    (data.py:396-401, bindings.py:98-100)."""
    fixed = [column_id] + ([column_sort] if column_sort else [])
    if value_columns is None:
        value_columns = [c for c in df.columns if c not in fixed]
    return df.unpivot(
        ids=fixed, values=value_columns, variableColumnName="kind",
        valueColumnName="value",
    )


# ---------------------------------------------------------------------------
# pivot: long triples → wide feature matrix
# ---------------------------------------------------------------------------


def pivot_features(
    long_df: DataFrame,
    *,
    id_cols: list[str] | str = "doc_id",
    feature_names: list[str] | None = None,
) -> DataFrame:
    """Long → wide: one row per id, one double column per feature, columns
    sorted ascending (reference output contract, data.py:113-119).

    Passing ``feature_names`` skips Spark's distinct-values scan job — for
    the default comprehensive set that is 794 columns per kind, so prefer
    :func:`pivot_features_map` in pipelines and pivot only at the edge."""
    if isinstance(id_cols, str):
        id_cols = [id_cols]
    pivoted = long_df.groupBy(*id_cols)
    if feature_names is not None:
        df = pivoted.pivot("variable", sorted(feature_names)).agg(F.first("value"))
    else:
        df = pivoted.pivot("variable").agg(F.first("value"))
        df = df.select(*id_cols, *sorted(c for c in df.columns if c not in id_cols))
    return df


def pivot_features_map(
    long_df: DataFrame, *, id_cols: list[str] | str = "doc_id"
) -> DataFrame:
    """Long → one ``map<string,double>`` column per id: constant-width plan
    regardless of feature count — the scale-friendly wide form."""
    if isinstance(id_cols, str):
        id_cols = [id_cols]
    return long_df.groupBy(*id_cols).agg(
        F.map_from_entries(
            F.collect_list(F.struct(F.col("variable"), F.col("value")))
        ).alias("features")
    )
