"""Spectral kernels — FFT, Welch PSD, CWT.

Semantics match the same-named calculators in
/root/reference/tsfresh/feature_extraction/feature_calculators.py (line refs
per kernel).  These are the classic "combiner" kernels: one FFT / one CWT /
one Welch run is shared across the whole parameter list (the reference's
central performance idea, kept verbatim).
"""

from __future__ import annotations

import numpy as np

from tsfresh_spark.kernels.helpers import cwt_ricker, welch_psd
from tsfresh_spark.kernels.registry import kernel


# one-slot cross-kernel cache: fft_coefficient and fft_aggregated both
# take the rfft of the SAME series inside one extraction plan — the second
# call reuses the first call's spectrum (the identical array object, so
# sharing is bit-exact by construction).  Keyed by the series dtype and
# raw bytes; cleared per series by compute_series_features.
_RFFT_CACHE: list = [None]  # ((dtype_str, key_bytes), spectrum)


def clear_rfft_cache() -> None:
    """Release the cached spectrum (and its series-bytes key)."""
    _RFFT_CACHE[0] = None


def _rfft_cached(x) -> np.ndarray:
    arr = np.asarray(x)
    key = (arr.dtype.str, arr.tobytes())
    hit = _RFFT_CACHE[0]
    if hit is not None and hit[0] == key:
        return hit[1]
    spec = np.fft.rfft(arr)
    spec.setflags(write=False)
    _RFFT_CACHE[0] = (key, spec)
    return spec


@kernel("fft_coefficient", "combiner")
def fft_coefficient(x, param):
    """real/imag/abs/angle of rfft coefficients; one FFT for all (up to 400)
    outputs (feature_calculators.py:1067-1119).  Each attr view is computed
    once for the whole spectrum and indexed per config — the per-element
    numpy ops (``.real``, ``np.abs``, ``np.angle(·, deg=True)``) are
    identical applied scalar-wise or vectorized, and names come from the
    shared per-param-list cache instead of an f-string per (series, cfg)."""
    from tsfresh_spark.naming import cached_param_names

    fft = _rfft_cached(x)
    names = cached_param_names(param)
    L = len(fft)
    views: dict = {}
    out = []
    for cfg, name in zip(param, names):
        coeff, attr = cfg["coeff"], cfg["attr"]
        if coeff < L:
            arr = views.get(attr)
            if arr is None:
                if attr == "real":
                    arr = fft.real
                elif attr == "imag":
                    arr = fft.imag
                elif attr == "abs":
                    arr = np.abs(fft)
                elif attr == "angle":
                    arr = np.angle(fft, deg=True)
                else:
                    raise ValueError(
                        f'attr must be "real", "imag", "angle" or "abs", got {attr!r}'
                    )
                views[attr] = arr
            value = arr[coeff]
        else:
            value = np.nan
        out.append((name, value))
    return out


@kernel("fft_aggregated", "combiner")
def fft_aggregated(x, param):
    """Spectral centroid / variance / skew / kurtosis of |rfft|
    (feature_calculators.py:1123-1231), including the var<0.5 → NaN guards."""
    y = np.abs(_rfft_cached(x))

    def moment(k):
        return y.dot(np.arange(len(y), dtype=float) ** k) / y.sum()

    def centroid():
        return moment(1)

    def spectral_variance():
        return moment(2) - centroid() ** 2

    def skew():
        var = spectral_variance()
        if var < 0.5:
            return np.nan
        c = centroid()
        return (moment(3) - 3 * c * var - c**3) / var**1.5

    def kurtosis():
        var = spectral_variance()
        if var < 0.5:
            return np.nan
        c = centroid()
        return (moment(4) - 4 * c * moment(3) + 6 * moment(2) * c**2 - 3 * c) / var**2

    calc = {
        "centroid": centroid,
        "variance": spectral_variance,
        "skew": skew,
        "kurtosis": kurtosis,
    }
    return [(f'aggtype_"{cfg["aggtype"]}"', calc[cfg["aggtype"]]()) for cfg in param]


@kernel("spkt_welch_density", "combiner")
def spkt_welch_density(x, param):
    """Welch PSD sampled at the requested coefficients
    (feature_calculators.py:1418-1455); nperseg = min(n, 256)."""
    pxx = welch_psd(np.asarray(x, dtype=float))
    out = []
    for cfg in param:
        coeff = cfg["coeff"]
        value = pxx[coeff] if coeff < len(pxx) else np.nan
        out.append((f"coeff_{coeff}", value))
    return out


@kernel("cwt_coefficients", "combiner")
def cwt_coefficients(x, param):
    """Ricker ("mexican hat") CWT coefficients; the transform is computed
    once per distinct widths tuple and indexed for every (w, coeff) pair
    (feature_calculators.py:1370-1414).  The transform itself is the direct
    Ricker-convolution CWT (helpers.cwt_ricker) — same wavelet family as the
    reference's pywt "mexh" call, evaluated without the pywt dependency."""
    cache = {}
    out = []
    for cfg in param:
        widths = tuple(cfg["widths"])
        w, coeff = cfg["w"], cfg["coeff"]
        if widths not in cache:
            cache[widths] = cwt_ricker(x, widths)
        mat = cache[widths]
        name = f"coeff_{coeff}__w_{w}__widths_{widths}"
        i = widths.index(w)
        out.append((name, mat[i, coeff] if coeff < mat.shape[1] else np.nan))
    return out


# ---------------------------------------------------------------------------
# Ridge-line peak finding over the CWT plane (the classic find_peaks_cwt
# algorithm: Du, Kibbe, Lin (2006), "Improved peak detection in mass spectrum
# by incorporating continuous wavelet transform-based pattern matching").
# ---------------------------------------------------------------------------


def _relative_maxima(mat: np.ndarray) -> np.ndarray:
    """Boolean matrix of strict relative maxima along each row (order 1,
    clipped boundaries).  Slice comparisons instead of gather copies: a
    boundary column's clipped neighbor is itself, so ``mat > mat`` is
    always False there and only interior columns can be maxima — the same
    elementwise float comparisons as the index-clipped form."""
    n = mat.shape[1]
    out = np.zeros(mat.shape, dtype=bool)
    if n >= 3:
        mid = mat[:, 1:-1]
        out[:, 1:-1] = (mid > mat[:, :-2]) & (mid > mat[:, 2:])
    return out


# Below this many total relative maxima the per-row numpy group ops of the
# columnar tracker cost more than the plain python attach loop (measured
# crossover ~450 maxima ≈ a 700-point series at 5 scales; both paths are
# value-identical so the switch is safe at any threshold).
_RIDGE_COLUMNAR_MIN = 448


def _identify_ridge_lines(mat, max_distances, gap_thresh):
    """Connect per-row relative maxima into ridge lines across scales.

    Dispatcher: small inputs take the python attach loop
    (:func:`_identify_ridge_lines_loop`); larger ones take the columnar
    tracker (:func:`_ridge_lines_columnar`), which keeps the per-line
    bookkeeping in parallel numpy arrays — the nearest-line decision
    (diffs/argmin/threshold) is evaluated by the IDENTICAL expressions on
    identically-valued operands in both, and the bookkeeping is exact
    integer state, so the two paths produce the same lines in the same
    order (A/B-asserted over random/tied/plateau CWT planes in
    tests/test_kernels.py).  If any line grows beyond 16 points the
    columnar tracker abstains and the loop re-runs, because only the loop
    carries the full per-line (rows, cols) sequences the >16 argsort
    tie-order replication needs."""
    all_max = _relative_maxima(mat)
    if int(np.count_nonzero(all_max)) < _RIDGE_COLUMNAR_MIN:
        return _identify_ridge_lines_loop(all_max, max_distances, gap_thresh)
    out = _ridge_lines_columnar(all_max, max_distances, gap_thresh)
    if out is None:
        return _identify_ridge_lines_loop(all_max, max_distances, gap_thresh)
    return out


_NEAREST_BIG = np.int64(1) << 62


def _nearest_lines(this_cols, prev_cols):
    """For every maximum column, the nearest active line and its distance —
    the same (closest, best) pair as
    ``argmin(|this_cols[:,None] - prev_cols[None,:]|, axis=1)`` but via a
    sorted search: O((C+L)·log L) instead of the O(C·L) matrix.

    Tie-break replication (exact integer logic, fuzz-asserted in
    tests/test_kernels.py): ``np.argmin`` returns the SMALLEST line index
    among all minimal-distance lines.  After a stable sort of the line
    columns, original indices ascend within every equal-value run, so the
    run's first element carries the minimal original index for that value
    (``minO``); an exact-value hit has distance 0 via the right candidate
    only, and a strict left/right winner takes its value-run's ``minO``.
    The only multi-value tie is two distinct values equidistant from the
    column — argmin then picks ``min`` of the two runs' ``minO``."""
    L = len(prev_cols)
    order = np.argsort(prev_cols, kind="stable")
    S = prev_cols[order]
    O = order.astype(np.int64)
    idx = np.arange(L, dtype=np.int64)
    is_start = np.empty(L, dtype=bool)
    is_start[0] = True
    np.not_equal(S[1:], S[:-1], out=is_start[1:])
    run_start = np.maximum.accumulate(np.where(is_start, idx, 0))
    minO = O[run_start]
    pos = np.searchsorted(S, this_cols)
    left_ok = pos > 0
    right_ok = pos < L
    pl = np.clip(pos - 1, 0, L - 1)
    pr = np.clip(pos, 0, L - 1)
    dl = np.where(left_ok, this_cols - S[pl], _NEAREST_BIG)
    dr = np.where(right_ok, S[pr] - this_cols, _NEAREST_BIG)
    best = np.minimum(dl, dr)
    cl = minO[pl]
    cr = minO[pr]
    closest = np.where(
        dl < dr,
        cl,
        np.where(
            dr < dl,
            cr,
            np.minimum(
                np.where(left_ok, cl, _NEAREST_BIG),
                np.where(right_ok, cr, _NEAREST_BIG),
            ),
        ),
    )
    return closest, best


def _ridge_lines_columnar(all_max, max_distances, gap_thresh):
    """Columnar ridge-line tracker: per-line state as parallel int64 arrays
    (last col, gap, min row, first col, length) updated with grouped fancy
    indexing instead of a python loop per maximum.

    Equivalence argument, line by line against the loop form:
    - active lines live in the arrays in the SAME order the loop keeps its
      list (new lines appended in ascending-column order, dead lines
      removed by mask — relative order preserved), so ``np.argmin``
      resolves distance ties to the same line;
    - the decision triple (closest/best/within) reproduces the loop form's
      distance-matrix argmin exactly — via :func:`_nearest_lines`, whose
      first-index tie-break replication is fuzz-asserted;
    - attaches touch only lines that existed before the row (``closest``
      indexes the start-of-row snapshot), and rows strictly decrease, so
      every attached line takes ``min_row = row`` unconditionally and its
      first/last attached column are the group's first/last in ascending
      column order (``np.unique`` first-occurrence on the forward and
      reversed group keys);
    - multi-attach adds the full group count to the line's length, exactly
      as repeated appends do.
    Returns None if any finished line exceeds 16 points — the caller
    re-runs the loop form, whose stored sequences replicate the >16
    ``np.argsort`` tie order."""
    rows_with_max = np.nonzero(all_max.any(axis=1))[0]
    if len(rows_with_max) == 0:
        return []
    start_row = rows_with_max[-1]
    cols0 = np.nonzero(all_max[start_row])[0]
    # per-line state as one (5, lines) int64 block: row 0 = last attached
    # col, 1 = gap, 2 = min row, 3 = first col at min row, 4 = length —
    # one concatenate to grow, one mask to compress
    state = np.empty((5, len(cols0)), dtype=np.int64)
    state[0] = cols0
    state[1] = 0
    state[2] = start_row
    state[3] = cols0
    state[4] = 1
    last_col, gap, min_row, first_col, length = state
    final: list = []
    for row in range(int(start_row) - 1, -1, -1):
        this_cols = np.nonzero(all_max[row])[0]
        gap += 1
        if len(last_col) and len(this_cols):
            # same (closest, best) as the loop form's |C−P| matrix argmin,
            # via the sorted nearest search (see _nearest_lines)
            closest, best = _nearest_lines(this_cols, last_col)
            within = best <= max_distances[row]
        else:
            within = np.zeros(len(this_cols), dtype=bool)
        if within.any():
            cw = closest[within]
            colw = this_cols[within]
            # group attaches by line with ONE stable sort: within each
            # group the ascending-column append order is preserved, so the
            # group's first/last elements are the line's first/last
            # attached columns — the same values the per-append loop
            # leaves behind
            order = np.argsort(cw, kind="stable")
            sc = cw[order]
            scol = colw[order]
            is_start = np.empty(len(sc), dtype=bool)
            is_start[0] = True
            np.not_equal(sc[1:], sc[:-1], out=is_start[1:])
            starts = np.nonzero(is_start)[0]
            uniq = sc[starts]
            ends = np.empty(len(starts), dtype=np.int64)
            ends[:-1] = starts[1:]
            ends[-1] = len(sc)
            last_col[uniq] = scol[ends - 1]
            gap[uniq] = 0
            length[uniq] += ends - starts
            min_row[uniq] = row
            first_col[uniq] = scol[starts]
            new_cols = this_cols[~within]
        else:
            new_cols = this_cols
        if len(new_cols):
            k = len(new_cols)
            grown = np.empty((5, k), dtype=np.int64)
            grown[0] = new_cols
            grown[1] = 0
            grown[2] = row
            grown[3] = new_cols
            grown[4] = 1
            state = np.concatenate([state, grown], axis=1)
            last_col, gap, min_row, first_col, length = state
        dead = gap > gap_thresh
        if dead.any():
            # the loop form scans indices high→low when finalizing; same
            # order here so the output list order matches exactly
            for i in np.nonzero(dead)[0][::-1]:
                final.append((int(min_row[i]), int(first_col[i]), int(length[i])))
            state = state[:, ~dead]
            last_col, gap, min_row, first_col, length = state
    out = final + [
        (int(min_row[i]), int(first_col[i]), int(length[i]))
        for i in range(len(last_col))
    ]
    if any(line[2] > 16 for line in out):
        return None
    return out


def _identify_ridge_lines_loop(all_max, max_distances, gap_thresh):
    """The python attach-loop ridge tracker (over a precomputed relative-
    maxima matrix).

    Returns ``(first_row, first_col, length)`` per line, where "first" is
    the entry ``np.argsort(rows)[0]`` selects in the published scipy
    algorithm — the only per-line data the SNR filter consumes.  Rows are
    appended in non-increasing order, so that entry is just the FIRST
    element appended at the line's minimal row, tracked incrementally: the
    per-line argsort + list rebuild was ~60% of this kernel's runtime
    (measured 5.0 ms → 1.6 ms on a 1024-point series at n=5).

    Tie subtlety (round-2 code-review lesson): several same-row maxima can
    attach to one line through the stale ``prev_cols`` batch lookup, so
    rows hold duplicates and the argsort tie order matters.  numpy's
    introsort runs its stable insertion-sort path for ≤16 elements —
    exactly "first appended wins" — and lines here are bounded by the
    scale count plus a few duplicates; for the pathological longer case we
    replicate the original argsort verbatim.
    """
    rows_with_max = np.nonzero(all_max.any(axis=1))[0]
    if len(rows_with_max) == 0:
        return []
    start_row = rows_with_max[-1]
    # line = [rows, cols, gap, min_row, first_col]
    lines = [
        [[start_row], [col], 0, start_row, int(col)]
        for col in np.nonzero(all_max[start_row])[0]
    ]
    final = []
    for row in range(start_row - 1, -1, -1):
        this_cols = np.nonzero(all_max[row])[0]
        for line in lines:
            line[2] += 1
        prev_cols = np.array([line[1][-1] for line in lines])
        if len(prev_cols) and len(this_cols):
            # one vectorized nearest-line lookup for the whole row
            # (prev_cols is per-row stale by construction, so batch == loop)
            diffs = np.abs(this_cols[:, None] - prev_cols[None, :])
            closest = np.argmin(diffs, axis=1)
            best = diffs[np.arange(len(this_cols)), closest]
            within = best <= max_distances[row]
        else:
            closest = np.zeros(len(this_cols), dtype=int)
            within = np.zeros(len(this_cols), dtype=bool)
        for i, col in enumerate(this_cols):
            if within[i]:
                attached = lines[closest[i]]
                attached[0].append(row)
                attached[1].append(int(col))
                attached[2] = 0
                if row < attached[3]:
                    attached[3] = row
                    attached[4] = int(col)
                # row == min_row: keep the first-appended col (stable order)
            else:
                lines.append([[row], [int(col)], 0, row, int(col)])
        for i in range(len(lines) - 1, -1, -1):
            if lines[i][2] > gap_thresh:
                final.append(lines[i])
                del lines[i]
    out = []
    for rows, cols, _gap, min_row, first_col in final + lines:
        if len(rows) > 16:
            order = np.argsort(rows)
            out.append((rows[order[0]], cols[order[0]], len(rows)))
        else:
            out.append((min_row, first_col, len(rows)))
    return out


def _sliding_percentile(row: np.ndarray, half: int, odd: int, perc: float) -> np.ndarray:
    """percentile over the clipped window [i-half, i+half+odd) for every i,
    in one vectorized nanpercentile call (NaN-padded edges)."""
    n = len(row)
    width = 2 * half + odd
    if width >= n or width == 0:
        return np.full(n, np.percentile(row, perc))
    out = np.empty(n)
    # interior: every window is full-width; the percentile needs only the
    # two order statistics around pos = (width-1)·perc/100, so partition at
    # those ranks instead of fully sorting every window (O(w) vs O(w log w),
    # ~3x) and apply numpy's own symmetric-lerp formula — values bit-equal
    # to np.percentile(full, perc, axis=1) (asserted in test_kernels.py)
    full = np.lib.stride_tricks.sliding_window_view(row, width)
    pos = (width - 1) * (perc / 100.0)
    lo = int(pos)
    t = pos - lo
    if t == 0:
        interior = np.partition(full, lo, axis=1)[:, lo]
    else:
        part = np.partition(full, (lo, lo + 1), axis=1)
        a_, b_ = part[:, lo], part[:, lo + 1]
        interior = (
            b_ - (b_ - a_) * (1 - t) if t >= 0.5 else a_ + (b_ - a_) * t
        )
    out[half : half + len(interior)] = interior

    def pct(a):
        # np.percentile linear interpolation without its python overhead,
        # including the symmetric-lerp branch for identical rounding
        a = np.sort(a)
        pos = (len(a) - 1) * (perc / 100.0)
        lo = int(pos)
        t = pos - lo
        if t == 0:
            return a[lo]
        b_, a_ = a[lo + 1], a[lo]
        return b_ - (b_ - a_) * (1 - t) if t >= 0.5 else a_ + (b_ - a_) * t

    # clipped edge windows (≈ window_size of them) individually
    for i in range(half):
        out[i] = pct(row[: i + half + odd])
    for i in range(half + len(interior), n):
        out[i] = pct(row[i - half :])
    return out


def _sliding_percentile_at(
    row: np.ndarray, cols: np.ndarray, half: int, odd: int, perc: float
) -> np.ndarray:
    """:func:`_sliding_percentile` evaluated only at ``cols`` — the noise
    floor is consulted at ridge-start columns only (~10–20% of positions),
    so partitioning every window wastes most of its work.  Per-window
    arithmetic is identical to the full form (A/B-asserted in
    test_kernels.py), including the clipped edge windows."""
    n = len(row)
    width = 2 * half + odd
    out = np.empty(len(cols))
    if width >= n or width == 0:
        out[:] = np.percentile(row, perc)
        return out
    interior = (cols >= half) & (cols + half + odd <= n)
    ci = cols[interior]
    if len(ci):
        win = row[ci[:, None] + np.arange(-half, half + odd)[None, :]]
        pos = (width - 1) * (perc / 100.0)
        lo = int(pos)
        t = pos - lo
        if t == 0:
            vals = np.partition(win, lo, axis=1)[:, lo]
        else:
            part = np.partition(win, (lo, lo + 1), axis=1)
            a_, b_ = part[:, lo], part[:, lo + 1]
            vals = b_ - (b_ - a_) * (1 - t) if t >= 0.5 else a_ + (b_ - a_) * t
        out[interior] = vals

    def pct(a):
        a = np.sort(a)
        pos = (len(a) - 1) * (perc / 100.0)
        lo = int(pos)
        t = pos - lo
        if t == 0:
            return a[lo]
        b_, a_ = a[lo + 1], a[lo]
        return b_ - (b_ - a_) * (1 - t) if t >= 0.5 else a_ + (b_ - a_) * t

    for k in np.nonzero(~interior)[0]:
        i = cols[k]
        out[k] = pct(row[: i + half + odd]) if i < half else pct(row[i - half :])
    return out


def _filter_ridge_lines(mat, lines, min_snr=1.0, noise_perc=10):
    num_points = mat.shape[1]
    min_length = np.ceil(mat.shape[0] / 4.0)
    window_size = int(np.ceil(num_points / 20.0))
    half, odd = window_size // 2, window_size % 2
    survivors = [line for line in lines if line[2] >= min_length]
    if not survivors:
        return []
    row_one = np.abs(mat[0, :])
    cols = np.asarray([line[1] for line in survivors])
    noises = _sliding_percentile_at(row_one, cols, half, odd, noise_perc)

    def keep(idx, line):
        row0, col0, _length = line
        noise = noises[idx]
        if noise == 0:
            return True
        snr = abs(mat[row0, col0] / noise)
        return snr >= min_snr

    return [line for idx, line in enumerate(survivors) if keep(idx, line)]


@kernel("number_cwt_peaks", "simple")
def number_cwt_peaks(x, n):
    """Count of CWT ridge-line peaks over Ricker widths 1..n
    (feature_calculators.py:1319-1339 — the reference's find_peaks_cwt call
    with its custom ricker, re-derived from the published CWT peak-finding
    algorithm)."""
    widths = np.arange(1, n + 1, dtype=float)
    mat = cwt_ricker(np.asarray(x, dtype=float), widths)
    if mat.shape[0] == 1:
        # single scale: every ridge line is one relative maximum and the
        # length test (ceil(1/4) = 1) always passes — the whole filter
        # reduces to one vectorized SNR check per maximum
        cols = np.nonzero(_relative_maxima(mat)[0])[0]
        if len(cols) == 0:
            return 0
        num_points = mat.shape[1]
        window_size = int(np.ceil(num_points / 20.0))
        noise = _sliding_percentile_at(
            np.abs(mat[0, :]), cols, window_size // 2, window_size % 2, 10
        )
        with np.errstate(all="ignore"):
            ok = (noise == 0) | (np.abs(mat[0, cols] / noise) >= 1.0)
        return int(np.count_nonzero(ok))
    gap_thresh = np.ceil(widths[0])
    lines = _identify_ridge_lines(mat, widths / 4.0, gap_thresh)
    filtered = _filter_ridge_lines(mat, lines)
    return len(filtered)
