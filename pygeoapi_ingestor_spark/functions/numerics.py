"""Pure-numpy numeric kernels used by the pandas-UDF operators.

scipy is not available in the runtime, so the two special functions the
SPI pipeline needs are implemented from their public textbook forms:

- regularized lower incomplete gamma P(a, x): series expansion for
  x < a+1, continued fraction otherwise (Numerical Recipes §6.2 scheme,
  re-derived here against the standard definitions).
- standard-normal quantile via the Abramowitz & Stegun 26.2.23 rational
  approximation — the same public formula the reference applies
  (utils_spi.py:462-474).

All kernels are vectorized over numpy arrays so pandas-UDF batches stay
in C loops. The gamma shape is elementwise too: a scalar broadcasts, an
array gives each element its own shape, so a batch whose rows carry
different parameters is one kernel call and is never regrouped.
"""

from __future__ import annotations

import numpy as np
from numpy import errstate


def gammainc_lower(a, x: np.ndarray) -> np.ndarray:
    """Regularized lower incomplete gamma P(a, x) for shape a > 0 (a
    scalar or one per element of x) and array x >= 0. P is 0 at x <= 0
    and 1 at x = +inf (the continued fraction would start from b = inf
    there); NaN stays NaN."""
    a, x = _shape_like(a, x)
    out = np.empty_like(x)
    small = x < a + 1.0
    top = np.isposinf(x)
    big = ~small & ~top
    out[small] = _gser(a[small], x[small])
    out[big] = 1.0 - _gcf(a[big], x[big])
    out[top] = 1.0
    out[x <= 0.0] = 0.0
    return out


def _shape_like(a, x) -> tuple[np.ndarray, np.ndarray]:
    """x as a float64 array and the shape a as a contiguous float64
    array of x's shape (a scalar a broadcasts)."""
    x = np.asarray(x, dtype=np.float64)
    return np.array(np.broadcast_to(a, x.shape), dtype=np.float64), x


def _gser(a: np.ndarray, x: np.ndarray) -> np.ndarray:
    """Series representation: P(a,x) = e^-x x^a / Γ(a) * Σ x^n Γ(a)/Γ(a+1+n).

    The term loop runs on a COMPRESSED active set: convergence count is
    ~x+a terms, so small-x elements finish in a handful of iterations
    and must not pay for the slowest element in the batch (this kernel
    sits under both the SPI family and the gamma quantile-map Newton
    iteration)."""
    if x.size == 0:
        return x.copy()
    gln = _lgamma(a)
    term = 1.0 / a
    total = term.copy()
    ap = a.copy()
    idx = np.arange(x.size)
    for _ in range(500):
        ap[idx] += 1.0
        term[idx] = term[idx] * x[idx] / ap[idx]
        total[idx] += term[idx]
        idx = idx[np.abs(term[idx]) >= np.abs(total[idx]) * 1e-15]
        if idx.size == 0:
            break
    with errstate(divide="ignore", invalid="ignore"):
        res = total * np.exp(-x + a * np.log(np.where(x > 0, x, 1.0)) - gln)
    return np.where(x > 0, res, 0.0)


def _gcf(a: np.ndarray, x: np.ndarray) -> np.ndarray:
    """Continued-fraction representation of Q(a,x) (modified Lentz).

    Like ``_gser``, the Lentz recurrence runs on a COMPRESSED active
    set: an element whose delta has converged to 1 within 1e-15 stops
    iterating (its h would only accumulate ~1-ulp drift per extra
    step), so a batch's cost tracks each element's own convergence
    depth instead of the slowest element's."""
    if x.size == 0:
        return x.copy()
    gln = _lgamma(a)
    tiny = 1e-300
    b = x + 1.0 - a
    c = np.full_like(x, 1.0 / tiny)
    d = 1.0 / np.where(b != 0, b, tiny)
    h = d.copy()
    idx = np.arange(x.size)
    for i in range(1, 500):
        an = -i * (i - a[idx])
        b[idx] += 2.0
        d[idx] = an * d[idx] + b[idx]
        d[idx] = np.where(np.abs(d[idx]) < tiny, tiny, d[idx])
        c[idx] = b[idx] + an / c[idx]
        c[idx] = np.where(np.abs(c[idx]) < tiny, tiny, c[idx])
        d[idx] = 1.0 / d[idx]
        delta = d[idx] * c[idx]
        h[idx] = h[idx] * delta
        idx = idx[np.abs(delta - 1.0) >= 1e-15]
        if idx.size == 0:
            break
    return np.exp(-x + a * np.log(x) - gln) * h


_LANCZOS = np.array(
    [
        0.99999999999980993,
        676.5203681218851,
        -1259.1392167224028,
        771.32342877765313,
        -176.61502916214059,
        12.507343278686905,
        -0.13857109526572012,
        9.9843695780195716e-6,
        1.5056327351493116e-7,
    ]
)


def _lgamma(a):
    """log Γ(a), elementwise, via the Lanczos approximation (g=7, n=9
    public coefficients); a < 0.5 takes the reflection formula."""
    a = np.asarray(a, dtype=np.float64)
    refl = a < 0.5
    z = np.where(refl, 1.0 - a, a) - 1.0
    t = [_LANCZOS[k] / (z + k) for k in range(1, 9)]
    # numpy's pairwise order for an 8-term sum, written out
    x = _LANCZOS[0] + (((t[0] + t[1]) + (t[2] + t[3])) + ((t[4] + t[5]) + (t[6] + t[7])))
    w = z + 7.5
    lg = 0.5 * np.log(2.0 * np.pi) + (z + 0.5) * np.log(w) - w + np.log(x)
    with errstate(divide="ignore", invalid="ignore"):
        return np.where(refl, np.log(np.pi / np.sin(np.pi * a)) - lg, lg)


def normal_ppf_as(p: np.ndarray) -> np.ndarray:
    """Standard-normal quantile via Abramowitz & Stegun 26.2.23.

    Mirrors the reference's transform (utils_spi.py:462-474): for
    probability H, t = sqrt(ln(1/H^2)) on the lower tail (H <= 0.5, result
    negated) and t = sqrt(ln(1/(1-H)^2)) on the upper tail.
    """
    p = np.asarray(p, dtype=np.float64)
    c0, c1, c2 = 2.515517, 0.802853, 0.010328
    d1, d2, d3 = 1.432788, 0.189269, 0.001308
    lower = (p > 0) & (p <= 0.5)
    q = np.where(lower, p, 1.0 - p)
    q = np.clip(q, 1e-300, 0.5)
    t = np.sqrt(np.log(1.0 / (q * q)))
    z = t - (c0 + c1 * t + c2 * t * t) / (1.0 + d1 * t + d2 * t * t + d3 * t * t * t)
    return np.where(lower, -z, z)


def gammainc_ppf(a, p: np.ndarray) -> np.ndarray:
    """Inverse of the regularized lower incomplete gamma: solve
    P(a, t) = p for t >= 0 (shape a > 0, a scalar or one per element of
    p; array p).

    Newton iteration in LOG space on the ``gammainc_lower`` kernel above
    (log space keeps every iterate strictly positive without ad-hoc
    clipping), seeded with the Wilson-Hilferty cube-root approximation.
    Tail conventions match scipy's ``gamma.ppf`` with loc=0:
    p <= 0 -> 0, p >= 1 -> +inf, NaN passes through.

    This is the gamma leg of the Georgia parametric quantile mapping
    (georgia_cds_bias_correction_process.py:371-372,417-419): the
    correction needs ``rvo.ppf(...)`` and scipy is not in the runtime,
    so the inverse is built on the same public incomplete-gamma kernel
    the SPI family already uses.
    """
    a, p = _shape_like(a, p)
    out = np.full_like(p, np.nan)
    out[p <= 0.0] = 0.0
    out[p >= 1.0] = np.inf
    m = np.isfinite(p) & (p > 0.0) & (p < 1.0)
    if not m.any():
        return out
    pm = p[m]
    a = a[m]
    gln = _lgamma(a)
    # Wilson-Hilferty seed: t0 = a * (1 - 1/(9a) + z/(3*sqrt(a)))^3
    z = normal_ppf_as(pm)
    seed = 1.0 - 1.0 / (9.0 * a) + z / (3.0 * np.sqrt(a))
    t = a * np.clip(seed, 0.02, None) ** 3
    t = np.clip(t, 1e-300, None)
    # iterate on a COMPRESSED active set: most elements converge in
    # ~4-8 Newton steps, and gammainc_lower's own inner loops run until
    # the whole array converges — evaluating already-converged elements
    # every iteration made the pandas-UDF batch path ~3x slower
    idx = np.arange(t.size)
    for _ in range(100):
        f = gammainc_lower(a[idx], t[idx]) - pm[idx]
        with errstate(over="ignore", under="ignore", divide="ignore"):
            # dP/dt = t^(a-1) e^-t / Γ(a);   d/d(log t) = t * dP/dt
            dlog = np.exp(-t[idx] + a[idx] * np.log(t[idx]) - gln[idx])
        du = f / np.clip(dlog, 1e-300, None)
        du = np.clip(du, -2.0, 2.0)  # damp far-from-root steps
        t[idx] = t[idx] * np.exp(-du)
        idx = idx[np.abs(du) > 1e-15]
        if idx.size == 0:
            break
    # positions still active after the cap may never have converged (the
    # log-space derivative underflows for p within ~ulp of 1, du
    # saturates at the +/-2 damp and the iterate can oscillate). Judge
    # them by the actual CDF residual, not the last step size — a
    # slow-tail element whose residual is at rounding level is fine;
    # a saturated oscillator has a large residual and must surface as
    # NaN like the other edge cases, not masquerade as converged.
    if idx.size:
        resid = np.abs(gammainc_lower(a[idx], t[idx]) - pm[idx])
        tol = 1e-9 * np.maximum(pm[idx], 1.0 - pm[idx])
        t[idx[resid > tol]] = np.nan
    out[m] = t
    return out


def thom_gamma_fit(x: np.ndarray) -> tuple[float, float]:
    """Thom (1958) maximum-likelihood approximation for the gamma shape and
    scale of a positive sample — the standard SPI fitting scheme.

    A = ln(mean) - mean(ln); shape a = (1 + sqrt(1 + 4A/3)) / (4A);
    scale b = mean / a.
    """
    x = np.asarray(x, dtype=np.float64)
    x = x[x > 0]
    if x.size == 0:
        return np.nan, np.nan
    mean = x.mean()
    a_stat = np.log(mean) - np.mean(np.log(x))
    if a_stat <= 0:  # degenerate (near-constant) sample
        return np.nan, np.nan
    shape = (1.0 + np.sqrt(1.0 + 4.0 * a_stat / 3.0)) / (4.0 * a_stat)
    scale = mean / shape
    return float(shape), float(scale)


def spi_from_series(monthly: np.ndarray, ref: np.ndarray, spi_ts: int = 1) -> np.ndarray:
    """SPI of a monthly series fit on its reference positions (reference:
    utils_spi.py:428-478; the fit-on-climate / apply-to-forecast split of
    ingestor_cds_spi_forecast_process.py:240-270).

    1. trailing ``spi_ts``-month totals (xarray ``rolling(spi_ts).sum()``):
       NaN where the window is not full or holds a NaN month
    2. Thom gamma fit on the finite totals at the ``ref`` positions
       (a boolean mask aligned with ``monthly``)
    3. zero-inflated CDF H(x) = q + (1-q)·G(x), q the share of zeros
       among those reference totals
    4. normal-quantile transform (A&S approximation), at every position

    Edge contract (the xarray semantics the reference computes with):

    - a NaN total gives NaN (NaN in, NaN out);
    - no finite reference total, or a degenerate fit, gives NaN everywhere;
    - reference totals that are all <= 0 give 0.0 at every finite total.
    """
    monthly = np.asarray(monthly, dtype=np.float64)
    totals = np.full(monthly.size, np.nan)
    if monthly.size >= spi_ts:
        totals[spi_ts - 1:] = np.convolve(monthly, np.ones(spi_ts), mode="valid")
    fit = totals[np.asarray(ref, dtype=bool) & np.isfinite(totals)]
    if fit.size and np.all(fit <= 0):
        return np.where(np.isfinite(totals), 0.0, np.nan)
    shape, scale = thom_gamma_fit(fit)
    if not np.isfinite(shape):
        return np.full(monthly.size, np.nan)
    q = float((fit == 0).sum()) / float(fit.size)
    g = gammainc_lower(shape, np.clip(totals, 0.0, None) / scale)
    h = np.clip(q + (1.0 - q) * g, 1e-12, 1.0 - 1e-12)
    return normal_ppf_as(h)
