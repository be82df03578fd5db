"""Unit + property tests for the numpy numeric kernels behind the SPI
pandas UDF."""

from __future__ import annotations

import math

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from pygeoapi_ingestor_spark.functions import numerics


def test_lgamma_matches_math():
    for a in [0.1, 0.5, 1.0, 2.5, 7.3, 42.0]:
        assert abs(numerics._lgamma(a) - math.lgamma(a)) < 1e-10


def test_gammainc_known_values():
    # P(1, x) = 1 - exp(-x)
    x = np.array([0.0, 0.5, 1.0, 3.0, 10.0])
    got = numerics.gammainc_lower(1.0, x)
    want = 1.0 - np.exp(-x)
    assert np.allclose(got, want, atol=1e-12)
    # P(a, inf-ish) -> 1, P(a, 0) = 0
    assert numerics.gammainc_lower(2.3, np.array([1e6]))[0] > 1 - 1e-12
    assert numerics.gammainc_lower(2.3, np.array([0.0]))[0] == 0.0


def test_gammainc_at_infinity_is_one():
    """P(a, +inf) = 1 for every shape (the gamma CDF's upper limit),
    without numpy warnings, whether a is a scalar or per element."""
    import warnings

    x = np.array([0.0, 1.0, 50.0, np.inf])
    for a in (0.05, 0.3, 0.49, 0.999, 1.0, 1.001, 79.5, 80.0, 80.5):
        with warnings.catch_warnings():
            warnings.simplefilter("error")
            got = numerics.gammainc_lower(a, x)
            per_element = numerics.gammainc_lower(np.full(x.size, a), x)
        assert got[-1] == 1.0 and per_element[-1] == 1.0, a
        assert got[0] == 0.0 and np.all(np.diff(got) >= 0), a


@settings(max_examples=50, deadline=None)
@given(st.floats(0.2, 20.0), st.floats(0.01, 50.0))
def test_gammainc_monotone_in_x(a, x):
    p1 = numerics.gammainc_lower(a, np.array([x]))[0]
    p2 = numerics.gammainc_lower(a, np.array([x * 1.1 + 0.01]))[0]
    assert 0.0 <= p1 <= 1.0 and p2 >= p1 - 1e-12


def test_normal_ppf_symmetry_and_accuracy():
    p = np.array([0.5, 0.158655, 0.841345, 0.022750, 0.977250])
    z = numerics.normal_ppf_as(p)
    # A&S 26.2.23 has |eps| < 4.5e-4
    want = np.array([0.0, -1.0, 1.0, -2.0, 2.0])
    assert np.allclose(z, want, atol=5e-3)
    assert abs(z[1] + z[2]) < 1e-2  # symmetry


def test_thom_fit_recovers_gamma_params():
    rng = np.random.default_rng(42)
    x = rng.gamma(shape=3.0, scale=2.0, size=20000)
    shape, scale = numerics.thom_gamma_fit(x)
    assert abs(shape - 3.0) < 0.15
    assert abs(scale - 2.0) < 0.15


def test_spi_distribution_properties():
    rng = np.random.default_rng(7)
    monthly = rng.gamma(shape=2.0, scale=30.0, size=360)
    spi = numerics.spi_from_series(monthly, np.ones(360, dtype=bool), spi_ts=1)
    # standardized index: ~N(0,1)
    assert abs(np.nanmean(spi)) < 0.1
    assert abs(np.nanstd(spi) - 1.0) < 0.15
    # monotone in the underlying value
    order = np.argsort(monthly)
    assert np.all(np.diff(spi[order]) >= -1e-9)


def test_spi_rolling_timescale():
    monthly = np.ones(24)
    spi3 = numerics.spi_from_series(monthly, np.ones(24, dtype=bool), spi_ts=3)
    assert np.all(np.isnan(spi3[:2]))  # incomplete windows
    # constant series => degenerate fit => NaN everywhere (reference
    # yields 0/NaN for degenerate inputs)
    assert np.all(np.isnan(spi3))


def test_spi_all_zero_series():
    spi = numerics.spi_from_series(np.zeros(24), np.ones(24, dtype=bool), spi_ts=1)
    assert np.all(spi == 0.0)


def test_spi_nan_in_nan_out():
    """A NaN month stays NaN, also when every reference total is 0 (the
    all-zero branch used to overwrite it with 0.0)."""
    all_ref = np.ones(3, dtype=bool)
    got = numerics.spi_from_series(np.array([0.0, np.nan, 0.0]), all_ref)
    np.testing.assert_array_equal(got, [0.0, np.nan, 0.0])
    got = numerics.spi_from_series(np.array([5.0, np.nan, 7.0, 3.0, 9.0]), np.ones(5, dtype=bool))
    assert np.isnan(got[1]) and np.all(np.isfinite(np.delete(got, 1)))


def test_mixed_shape_call_matches_per_shape_calls_bitwise():
    """One call with a shape per element equals the per-shape scalar
    calls bit for bit: the reflection path (a < 0.5), a near 1 and a
    large a, over x in {0, < 0, NaN, +inf, ...} and p within 1e-14 of
    0 and 1 and p >= 1. A NaN matches any NaN: numpy's SIMD loops keep
    whichever NaN operand their lane order meets, so the sign bit of a
    NaN depends on where it sits in the array."""

    def same_bits(got, want):
        nan = np.isnan(want)
        np.testing.assert_array_equal(np.isnan(got), nan)
        np.testing.assert_array_equal(got[~nan].view(np.uint64), want[~nan].view(np.uint64))

    shapes = np.array([0.05, 0.3, 0.49, 0.999, 1.0, 1.001, 2.5, 80.0])
    x = np.concatenate(
        [[0.0, -1.0, -0.0, np.nan, np.inf, 1e-300], np.geomspace(1e-6, 300.0, 90)]
    )
    p = np.concatenate(
        [
            [0.0, -0.5, 1.0, 1.5, np.nan, 1e-14, 5e-15, 1.0 - 1e-14, 1.0 - 5e-15],
            np.linspace(0.001, 0.999, 60),
            1.0 - np.geomspace(1e-16, 1e-3, 30),
            np.geomspace(1e-16, 1e-3, 30),
        ]
    )
    for kernel, arg in ((numerics.gammainc_lower, x), (numerics.gammainc_ppf, p)):
        a = np.repeat(shapes, arg.size)
        args = np.tile(arg, shapes.size)
        want = np.concatenate([kernel(float(s), arg) for s in shapes])
        same_bits(kernel(a, args), want)
        perm = np.random.default_rng(1).permutation(a.size)
        same_bits(kernel(a[perm], args[perm]), want[perm])


def test_gammainc_ppf_round_trip():
    rng = np.random.default_rng(11)
    for a in [0.2, 0.5, 1.0, 1.7, 3.0, 8.0, 30.0]:
        x = rng.gamma(a, 1.0, 2000)
        p = numerics.gammainc_lower(a, x)
        back = numerics.gammainc_ppf(a, p)
        rel = np.abs(back - x) / np.maximum(np.abs(x), 1e-12)
        assert rel.max() < 1e-10, (a, rel.max())


def test_gammainc_ppf_exponential_closed_form():
    # a=1 is the exponential: ppf(p) = -ln(1-p)
    p = np.linspace(1e-9, 1 - 1e-9, 500)
    got = numerics.gammainc_ppf(1.0, p)
    want = -np.log1p(-p)
    assert np.allclose(got, want, rtol=1e-5, atol=1e-12)


def test_gammainc_ppf_tails():
    out = numerics.gammainc_ppf(2.0, np.array([0.0, -0.5, 1.0, 2.0, np.nan]))
    assert out[0] == 0.0 and out[1] == 0.0
    assert np.isinf(out[2]) and np.isinf(out[3])
    assert np.isnan(out[4])


def test_gammainc_ppf_never_silently_wrong():
    """Non-convergence contract (ADVICE r7): every finite output must
    actually invert the CDF to rounding level; a Newton iterate that hit
    the 100-step cap without converging surfaces as NaN, never as a
    plausible-looking wrong number. Probes the near-1 tail where the
    log-space derivative underflows and du saturates at the damp."""
    for a in [0.05, 0.2, 1.0, 8.0, 80.0]:
        p = 1.0 - np.geomspace(1e-16, 1e-3, 200)
        out = numerics.gammainc_ppf(a, p)
        fin = np.isfinite(out)
        resid = np.abs(numerics.gammainc_lower(a, out[fin]) - p[fin])
        assert np.all(resid <= 1e-9 * np.maximum(p[fin], 1.0 - p[fin]) + 1e-15)


@settings(max_examples=60, deadline=None)
@given(st.floats(0.25, 25.0), st.floats(1e-6, 1.0 - 1e-6))
def test_gammainc_ppf_inverts_cdf(a, p):
    t = numerics.gammainc_ppf(a, np.array([p]))[0]
    assert t >= 0.0
    back = numerics.gammainc_lower(a, np.array([t]))[0]
    assert abs(back - p) < 1e-9


def _gammainc_naive(a: float, x: float, terms: int = 400) -> float:
    """Independent direct-series P(a,x) = e^-x Σ x^(a+n)/Γ(a+n+1) built
    only on math.lgamma — a different code path from the kernel's
    series/continued-fraction split, used as a cross-implementation
    oracle."""
    if x <= 0:
        return 0.0
    total = 0.0
    for n in range(terms):
        total += math.exp(
            -x + (a + n) * math.log(x) - math.lgamma(a + n + 1.0)
        )
    return min(total, 1.0)


@settings(max_examples=60, deadline=None)
@given(st.floats(0.3, 12.0), st.floats(0.05, 25.0))
def test_gammainc_matches_independent_series(a, x):
    got = numerics.gammainc_lower(a, np.array([x]))[0]
    want = _gammainc_naive(a, x)
    assert abs(got - want) < 1e-10, (a, x, got, want)
