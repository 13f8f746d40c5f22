"""Class-A/B feature calculators as native Spark expressions.

For feature semantics that SQL can express exactly, these stay JVM-side and
leave Catalyst free to push down and prune.  Two families:

* :func:`agg_feature_exprs` — aggregate expressions over a long value column
  (use under ``groupBy(id, kind).agg(...)``);
* :func:`array_feature_exprs` — higher-order array functions over a token
  array column (zero-shuffle: evaluated per row).

The feature extraction operators (``extract.py``) do not use them: Spark
evaluates higher-order array functions one element at a time, without
sharing subexpressions across features, so the Arrow-batched kernels are
faster on every measured shape.  The expressions serve the SQL-only driver
queries ``stats_sql_fastpath`` and ``array_features_ordered``
(``__spark_entry__.py``), and tests/test_sql_vs_kernels.py pins each one
against its kernel.

Formulas are written in terms of *exact integer sums* wherever the input is
integral, so the same arithmetic in any ANSI engine (e.g. the DuckDB oracle)
produces bit-identical doubles regardless of summation order.  Float-exact
parity with the numpy kernels is asserted in tests to 1e-9 relative; the
kernels remain the tier-exact (bit-for-bit vs reference) path.

Mapping notes per calculator are in SURVEY.md §2.3 ("Spark primitive"
column); reference semantics at
/root/reference/tsfresh/feature_extraction/feature_calculators.py.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def agg_feature_exprs(v: Column | str) -> dict[str, Column]:
    """Aggregate (unordered, class-A) features over a value column.

    Returns un-aliased expressions keyed by calculator name; caller aliases.
    Variance/stddev use the explicit moment formula sum(v²)/n − (sum(v)/n)²
    (== numpy ddof=0 up to float association; exact on integral input).
    """
    v = F.col(v) if isinstance(v, str) else v
    d = v.cast("double")
    n = F.count(v)
    s = F.sum(d)
    ss = F.sum(d * d)
    mean = s / n
    var = ss / n - (s / n) * (s / n)
    exprs = {
        "length": n.cast("double"),
        "sum_values": s,
        "mean": mean,
        "minimum": F.min(d),
        "maximum": F.max(d),
        "absolute_maximum": F.greatest(F.abs(F.min(d)), F.abs(F.max(d))),
        "abs_energy": ss,
        "root_mean_square": F.sqrt(ss / n),
        "variance": var,
        "standard_deviation": F.sqrt(var),
        "variance_larger_than_standard_deviation": (var > F.lit(1.0)).cast("double"),
        "median": F.percentile(d, F.lit(0.5)),
        "has_duplicate": (F.count_distinct(v) < n).cast("double"),
        "ratio_value_number_to_time_series_length": F.count_distinct(v) / n,
        "count_above_mean": None,  # needs two passes; see grouped_two_pass below
    }
    exprs = {k: e for k, e in exprs.items() if e is not None}
    return exprs


def quantile_expr(v: Column | str, q: float) -> Column:
    """np.quantile linear interpolation == SQL percentile_cont."""
    v = F.col(v) if isinstance(v, str) else v
    return F.percentile(v.cast("double"), F.lit(q))


def count_above_expr(v: Column | str, t: float) -> Column:
    v = F.col(v) if isinstance(v, str) else v
    return F.avg((v >= F.lit(t)).cast("double"))


def count_below_expr(v: Column | str, t: float) -> Column:
    v = F.col(v) if isinstance(v, str) else v
    return F.avg((v <= F.lit(t)).cast("double"))


def value_count_expr(v: Column | str, value) -> Column:
    v = F.col(v) if isinstance(v, str) else v
    return F.sum((v == F.lit(value)).cast("long")).cast("double")


def range_count_expr(v: Column | str, lo, hi) -> Column:
    v = F.col(v) if isinstance(v, str) else v
    return F.sum(((v >= F.lit(lo)) & (v < F.lit(hi))).cast("long")).cast("double")


# ---------------------------------------------------------------------------
# array (token-column) features: ordered class-B semantics without a shuffle
# ---------------------------------------------------------------------------


def array_feature_exprs(tokens: Column | str) -> dict[str, Column]:
    """Ordered features over an ``array<numeric>`` column via higher-order
    functions — evaluated row-local, fully inside codegen.

    Exact on integral tokens: every sum is an integer sum.
    """
    t = F.col(tokens) if isinstance(tokens, str) else tokens
    td = F.transform(t, lambda x: x.cast("double"))
    n = F.size(t)
    nd = n.cast("double")
    first = F.element_at(td, 1)
    last = F.element_at(td, -1)
    # pairwise consecutive diffs: zip values with their successors
    diffs = F.zip_with(
        F.slice(td, 2, F.greatest(n - 1, F.lit(0))),
        F.slice(td, 1, F.greatest(n - 1, F.lit(0))),
        lambda a, b: a - b,
    )
    abs_diff_sum = F.aggregate(
        diffs, F.lit(0.0), lambda acc, x: acc + F.abs(x)
    )
    sum_d = F.aggregate(td, F.lit(0.0), lambda acc, x: acc + x)
    mean = sum_d / nd
    return {
        "length": nd,
        "sum_values": sum_d,
        "mean": mean,
        "minimum": F.array_min(td),
        "maximum": F.array_max(td),
        "absolute_maximum": F.greatest(F.abs(F.array_min(td)), F.abs(F.array_max(td))),
        "abs_energy": F.aggregate(td, F.lit(0.0), lambda acc, x: acc + x * x),
        "mean_change": F.when(n > 1, (last - first) / (nd - 1)),
        "mean_abs_change": F.when(n > 1, abs_diff_sum / (nd - 1)),
        "absolute_sum_of_changes": F.when(n > 1, abs_diff_sum).otherwise(F.lit(0.0)),
        "mean_second_derivative_central": F.when(
            n > 2,
            (last - F.element_at(td, -2) - F.element_at(td, 2) + first)
            / (2 * (nd - 2)),
        ),
        "first_location_of_maximum": F.when(
            n > 0, (F.array_position(td, F.array_max(td)) - 1).cast("double") / nd
        ),
        "last_location_of_maximum": F.when(
            n > 0,
            1.0
            - (F.array_position(F.reverse(td), F.array_max(td)) - 1).cast("double")
            / nd,
        ),
        "first_location_of_minimum": F.when(
            n > 0, (F.array_position(td, F.array_min(td)) - 1).cast("double") / nd
        ),
        "last_location_of_minimum": F.when(
            n > 0,
            1.0
            - (F.array_position(F.reverse(td), F.array_min(td)) - 1).cast("double")
            / nd,
        ),
        "count_above_mean": F.size(F.filter(td, lambda x: x > mean)).cast("double"),
        "count_below_mean": F.size(F.filter(td, lambda x: x < mean)).cast("double"),
        "number_crossing_0": F.aggregate(
            F.zip_with(
                F.slice(td, 2, F.greatest(n - 1, F.lit(0))),
                F.slice(td, 1, F.greatest(n - 1, F.lit(0))),
                lambda a, b: ((a > 0) != (b > 0)).cast("long"),
            ),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).cast("double"),
        "has_duplicate": (F.size(F.array_distinct(t)) < n).cast("double"),
        "ratio_value_number_to_time_series_length": F.when(
            n > 0, F.size(F.array_distinct(t)).cast("double") / nd
        ),
    }
