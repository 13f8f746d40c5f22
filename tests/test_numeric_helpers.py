"""Hardening tests for the numpy re-derivations of the scientific-stack
primitives (helpers.py): internal consistency, known analytic values, and
the FFT/direct path equivalence the reference relies on."""

import math

import numpy as np
import pytest

from tsfresh_spark.kernels.helpers import (
    acf_adjusted,
    betainc_reg,
    cwt_ricker,
    levinson_durbin_pacf,
    linregress_np,
    normal_sf,
    ricker_wavelet,
    student_t_sf,
    welch_psd,
)


def test_acf_fft_equals_direct():
    rng = np.random.RandomState(3)
    x = rng.randn(2000).cumsum()
    direct = acf_adjusted(x, nlags=40, use_fft=False)
    fft = acf_adjusted(x, nlags=40, use_fft=True)
    assert np.allclose(direct, fft, atol=1e-9)
    assert direct[0] == pytest.approx(1.0)


def test_acf_known_values():
    # perfectly alternating series: acf(1) == -1 - 1/(n-1) scaled by the
    # adjusted denominator; sanity: negative at lag 1, positive at lag 2
    x = np.array([1.0, -1.0] * 50)
    a = acf_adjusted(x, nlags=4, use_fft=False)
    assert a[1] < -0.9
    assert a[2] > 0.9


def test_levinson_durbin_ar2():
    rng = np.random.RandomState(11)
    x = np.zeros(3000)
    for i in range(2, 3000):
        x[i] = 0.5 * x[i - 1] - 0.3 * x[i - 2] + rng.randn()
    p = levinson_durbin_pacf(x, 5)
    assert p[0] == 1.0
    assert p[2] == pytest.approx(-0.3, abs=0.06)  # pacf(2) ≈ phi2
    assert abs(p[4]) < 0.08  # beyond the AR order → ~0


def test_betainc_identities():
    for a, b, x in [(2.0, 3.0, 0.4), (0.5, 0.5, 0.3), (5.0, 1.0, 0.9)]:
        assert betainc_reg(a, b, x) + betainc_reg(b, a, 1 - x) == pytest.approx(
            1.0, abs=1e-12
        )
    # I_x(1,1) = x (uniform)
    assert betainc_reg(1.0, 1.0, 0.25) == pytest.approx(0.25, abs=1e-12)


def test_student_t_sf():
    assert student_t_sf(0.0, 10) == pytest.approx(0.5)
    # known: t=2.228, df=10 → two-sided 0.05
    assert 2 * student_t_sf(2.228, 10) == pytest.approx(0.05, abs=2e-4)
    assert student_t_sf(-2.228, 10) == pytest.approx(1 - 0.025, abs=1e-4)


def test_normal_sf():
    assert normal_sf(0.0) == pytest.approx(0.5)
    assert normal_sf(1.959963985) == pytest.approx(0.025, abs=1e-9)


def test_linregress_textbook():
    # y = 2x + 1 with one outlier-free noise-free fit
    fit = linregress_np([0, 1, 2, 3], [1.0, 3.0, 5.0, 7.0])
    assert fit.slope == pytest.approx(2.0)
    assert fit.intercept == pytest.approx(1.0)
    assert fit.rvalue == pytest.approx(1.0)
    assert fit.stderr == pytest.approx(0.0)
    # n=2 convention (scipy): pvalue 1, stderr 0
    fit2 = linregress_np([0, 1], [3.0, 9.0])
    assert fit2.pvalue == 1.0 and fit2.stderr == 0.0
    # constant x → NaNs
    fit3 = linregress_np([1, 1, 1], [1.0, 2.0, 3.0])
    assert math.isnan(fit3.slope)


def test_welch_peak_frequency():
    # 1/8-cycle sine sampled at fs=1 → PSD peak at bin f=1/8 of nperseg
    n = 1024
    x = np.sin(2 * np.pi * np.arange(n) / 8)
    pxx = welch_psd(x)  # nperseg=256 → peak at bin 256/8 = 32
    assert np.argmax(pxx) == 32
    # Parseval-ish: total power ≈ signal variance (density × df)
    power = np.sum(pxx) / 256
    assert power == pytest.approx(np.var(x), rel=0.05)


def test_welch_short_series():
    pxx = welch_psd(np.array([1.0, 2.0, 1.0]))
    assert len(pxx) == 2  # nperseg=3 → 2 one-sided bins
    assert np.isfinite(pxx).all()


def test_ricker_shapes():
    w = ricker_wavelet(21, 4.0)
    assert w[10] == max(w)  # peak at center
    assert w[0] < 0 or abs(w[0]) < w[10]  # decays/undershoots at edges
    mat = cwt_ricker(np.sin(np.arange(100) / 5.0), [1, 2, 5])
    assert mat.shape == (3, 100)
    assert np.isfinite(mat).all()


def test_welch_batched_rfft_bitequal_to_segment_loop():
    """Round-6: welch_psd computes all segments with one batched 2-D rfft.
    A/B against the verbatim per-segment loop — bit-equal arrays required
    (the spectral oracles compare rounded values, but kernel bit-equality
    with the scalar form is the pinned invariant)."""
    import numpy as np

    from tsfresh_spark.kernels.helpers import hann_periodic, welch_psd

    def welch_loop(x, nperseg=None):
        x = np.asarray(x, dtype=float)
        n = len(x)
        if n == 0:
            return np.array([])
        if nperseg is None:
            nperseg = min(n, 256)
        nperseg = min(nperseg, n)
        step = nperseg - nperseg // 2
        win = hann_periodic(nperseg)
        scale = 1.0 / (win * win).sum()
        acc = np.zeros(nperseg // 2 + 1)
        count = 0
        start = 0
        while start + nperseg <= n:
            seg = x[start : start + nperseg]
            seg = seg - seg.mean()
            spec = np.fft.rfft(seg * win)
            p = (spec.real**2 + spec.imag**2) * scale
            if nperseg % 2 == 0:
                p[1:-1] *= 2.0
            else:
                p[1:] *= 2.0
            acc += p
            count += 1
            start += step
        return acc / max(count, 1)

    rng = np.random.RandomState(99)
    for n in (1, 2, 3, 5, 17, 255, 256, 257, 300, 511, 512, 1000, 2048):
        for x in (rng.randn(n) * 1e3, rng.randint(0, 97, n).astype(float)):
            a, b = welch_psd(x), welch_loop(x)
            assert np.array_equal(a, b), n
        odd = rng.randn(n)
        assert np.array_equal(welch_psd(odd, nperseg=31), welch_loop(odd, nperseg=31)), n


def test_welch_psd_one_slot_cache_semantics():
    """Round-6: default-parameter welch_psd memoizes one series deep so
    fourier_entropy and spkt_welch_density share one PSD per series.  The
    cache must return the identical array on a hit, never cross-contaminate
    between series (interleaved calls), bypass for explicit nperseg, and
    hand out read-only arrays so an accidental in-place consumer raises
    instead of corrupting the slot."""
    import numpy as np

    from tsfresh_spark.kernels.helpers import (
        _welch_psd_impl,
        clear_psd_cache,
        welch_psd,
    )

    rng = np.random.RandomState(7)
    clear_psd_cache()
    a = rng.randn(300)
    b = rng.randn(301)
    pa = welch_psd(a)
    assert welch_psd(a) is pa  # hit returns the identical object
    pb = welch_psd(b)  # different series evicts, no contamination
    assert np.array_equal(pb, _welch_psd_impl(np.asarray(b, float), 256))
    assert np.array_equal(welch_psd(a), _welch_psd_impl(np.asarray(a, float), 256))
    # NaN series: bytes-keyed compare must still hit (NaN != NaN as floats,
    # but the key is a memcmp on the raw bytes)
    c = a.copy()
    c[5] = np.nan
    pc = welch_psd(c)
    assert welch_psd(c.copy()) is pc
    # explicit nperseg bypasses the cache and is unaffected by it
    assert np.array_equal(
        welch_psd(a, nperseg=31), _welch_psd_impl(np.asarray(a, float), 31)
    )
    # cached arrays are read-only
    try:
        pa_again = welch_psd(a)
        pa_again[0] = 1.0
        raise AssertionError("cached PSD must be read-only")
    except ValueError:
        pass
    clear_psd_cache()


def test_rfft_one_slot_cache_semantics():
    """Round-6: fft_coefficient / fft_aggregated share one rfft per series
    through a bytes-keyed one-slot cache.  Hit returns the identical
    object; different series never cross-contaminate; cached spectra are
    read-only."""
    import numpy as np

    from tsfresh_spark.kernels.spectral import _rfft_cached, clear_rfft_cache

    rng = np.random.RandomState(11)
    clear_rfft_cache()
    a = rng.randn(200)
    b = rng.randn(200)
    sa = _rfft_cached(a)
    assert _rfft_cached(a) is sa
    assert np.array_equal(sa, np.fft.rfft(a))
    sb = _rfft_cached(b)
    assert np.array_equal(sb, np.fft.rfft(b))
    assert np.array_equal(_rfft_cached(a), np.fft.rfft(a))
    # int series (tokens regime) hit on identical bytes too
    t = rng.randint(0, 97, 50)
    st = _rfft_cached(t)
    assert _rfft_cached(t.copy()) is st
    try:
        _rfft_cached(t)[0] = 0
        raise AssertionError("cached spectrum must be read-only")
    except ValueError:
        pass
    clear_rfft_cache()


def test_rfft_cache_keys_on_dtype():
    """Two series with the same bytes but different dtypes are different
    series: the second must not get the first one's cached spectrum."""
    import numpy as np

    from tsfresh_spark.kernels.spectral import _rfft_cached, clear_rfft_cache

    ints = np.arange(8)
    floats = ints.view(np.float64)
    clear_rfft_cache()
    assert np.array_equal(_rfft_cached(ints), np.fft.rfft(ints))
    assert np.array_equal(_rfft_cached(floats), np.fft.rfft(floats))
    clear_rfft_cache()


def test_linregress_arange_bitequal_to_general():
    """Round-6: linregress_arange uses exact closed forms for the x-side
    moments of x = arange(n).  Must be BIT-equal to linregress_np on the
    same inputs — slope/intercept/r/p/stderr all compared exactly, across
    lengths, NaN-bearing and constant series, int and float dtypes, and
    both with_pvalue settings."""
    import numpy as np

    from tsfresh_spark.kernels.helpers import linregress_arange, linregress_np

    rng = np.random.RandomState(17)
    cases = []
    for n in (0, 1, 2, 3, 5, 29, 100, 409, 1024, 2048):
        cases.append(rng.randn(n) * 1e3)
        cases.append(rng.randint(-1000, 1000, n).astype(np.int64))
        cases.append(np.full(n, 7.0))
        if n >= 3:
            v = rng.randn(n)
            v[rng.randint(0, n, max(1, n // 5))] = np.nan
            cases.append(v)
    for y in cases:
        for wp in (True, False):
            a = linregress_arange(y, with_pvalue=wp)
            b = linregress_np(np.arange(len(y)), y, with_pvalue=wp)
            for fa, fb in zip(a, b):
                assert (np.isnan(fa) and np.isnan(fb)) or fa == fb, (len(y), wp)
