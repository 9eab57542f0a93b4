"""Vectorized sequential scans shared by the smoothing kernels.

The reference implements these recurrences in C++ (reference src/ses.cpp;
pure-Python algorithm preserved at reference tests/test_models.py:1419-1530).
Here they are re-derived as *block-vectorized numpy scans*: the SES recurrence

    l_0 = y_0,   l_t = α·y_t + (1-α)·l_{t-1},   fitted_t = l_{t-1}

has the closed form within a block of size B

    l_{s+k} = c^{k+1}·l_{s-1} + α·c^k·Σ_{j≤k} c^{-j}·y_{s+j},   c = 1-α,

so each block is one cumsum + two elementwise products; Python-level work is
O(n/B) instead of O(n). B=64 bounds c^{-j} at c^{-63} which is representable
and precision-safe (terms the trick loses are < c^63 in relative weight —
below double precision for any α).
"""

from __future__ import annotations

import numpy as np

from sparkts.kernels import _native

_GOLDEN = (np.sqrt(5.0) + 1.0) / 2.0
_BLOCK = 64
# exponent grid reused by every block (float64, same values np.arange(k,
# dtype=float64) would produce — slicing a cached array is FP-identical and
# saves one allocation per call; golden-section runs ~54 SSE evals per fit,
# so per-call overhead is the optimizer's hot path)
_ARANGE = np.arange(_BLOCK, dtype=np.float64)
_EMPTY64 = np.empty(0, dtype=np.float64)


def _ses_levels(y: np.ndarray, alpha: float) -> np.ndarray:
    """Level trajectory of the SES recurrence (shared core of ses_scan /
    ses_sse). A block whose c^j underflows to 0 (α == 1, c = 0) cannot be
    divided by c^j, so it runs the recurrence step by step; every other
    block divides directly."""
    if _native.LIB is not None and y.size > 1:
        # r6: bit-exact C body for the block formula below (pinned in
        # tests/test_native.py) — the golden-section optimizer calls this
        # ~54× per fit and the numpy dispatch overhead dominated it. The
        # c**arange power arrays stay numpy-computed (SIMD pow bits);
        # everything downstream of them is plain sequential arithmetic
        # the C twin reproduces in identical order.
        c = 1.0 - alpha
        ktail = (y.size - 1) % _BLOCK
        cp64 = (c ** _ARANGE) if y.size - 1 > ktail else _EMPTY64
        cptail = (c ** _ARANGE[:ktail]) if ktail else _EMPTY64
        return _native.ses_levels(y, alpha, cp64, cptail)
    n = y.size
    c = 1.0 - alpha
    levels = np.empty(n, dtype=np.float64)
    l_prev = levels[0] = y[0]
    start = 1
    while start < n:
        end = min(start + _BLOCK, n)
        cpow = c ** _ARANGE[: end - start]                   # c^0..c^{k-1}
        if cpow[-1] == 0.0:                                  # α == 1 edge
            for j in range(start, end):
                l_prev = levels[j] = alpha * y[j] + c * l_prev
            start = end
            continue
        cinv = y[start:end] / cpow                           # y_j · c^{-j}
        t = np.cumsum(cinv)
        blk = (c * cpow) * l_prev + alpha * cpow * t
        levels[start:end] = blk
        l_prev = blk[-1]
        start = end
    return levels


def ses_scan(y: np.ndarray, alpha: float) -> tuple[np.ndarray, float]:
    """Run the SES recurrence; return (fitted, one_step_forecast).

    fitted[t] = l_{t-1} (fitted[0] = NaN); forecast = l_{n-1}. Matches the
    reference recurrence (tests/test_models.py:1437-1448) to float64.
    """
    y = np.asarray(y, dtype=np.float64)
    n = y.size
    if n == 0:
        return np.empty(0), np.nan
    levels = _ses_levels(y, alpha)
    fitted = np.empty(n, dtype=np.float64)
    fitted[0] = np.nan
    fitted[1:] = levels[:-1]
    return fitted, float(levels[-1])


def ses_sse(y: np.ndarray, alpha: float) -> float:
    """Sum of squared one-step errors of the SES fit (optimizer objective).

    Skips the fitted-array materialization ses_scan does — e_t is computed
    straight from the level trajectory (fitted[1:] ≡ levels[:-1] exactly)."""
    y = np.asarray(y, dtype=np.float64)
    if y.size == 0:
        return 0.0
    levels = _ses_levels(y, alpha)
    e = y[1:] - levels[:-1]
    return float(np.dot(e, e))


def golden_section_ses(
    y: np.ndarray, lower: float = 0.1, upper: float = 0.3
) -> float:
    """Golden-section minimization of ``ses_sse`` over α ∈ [lower, upper].

    Same search discipline as the reference (max 80 iterations, 1e-12 width
    tolerance, midpoint result — tests/test_models.py:1450-1480) so optimized
    kernels agree numerically.
    """
    a, b = float(lower), float(upper)
    c_pt = b - (b - a) / _GOLDEN
    d_pt = a + (b - a) / _GOLDEN
    sse = _sse_fn(y)
    fc = sse(c_pt)
    fd = sse(d_pt)
    for _ in range(80):
        if abs(b - a) < 1e-12:
            break
        if fc < fd:
            b, d_pt, fd = d_pt, c_pt, fc
            c_pt = b - (b - a) / _GOLDEN
            fc = sse(c_pt)
        elif fd < fc:
            a, c_pt, fc = c_pt, d_pt, fd
            d_pt = a + (b - a) / _GOLDEN
            fd = sse(d_pt)
        else:
            break
    return (a + b) / 2.0


def _sse_fn(y: np.ndarray):
    """alpha → SSE objective for the golden-section loop. With the native
    library + BLAS hook, the whole evaluation (levels, errors, ddot) is
    ONE C call per alpha — bit-identical to ses_sse (guide §4.2/§4.5);
    the c**arange power arrays stay numpy-computed for bit parity."""
    y = np.asarray(y, dtype=np.float64)
    n1 = y.size - 1
    if _native.LIB is None or n1 < 1:
        return lambda alpha: ses_sse(y, alpha)
    ktail = n1 % _BLOCK
    cp64 = np.empty(_BLOCK) if n1 > ktail else _EMPTY64
    cptail = np.empty(ktail) if ktail else _EMPTY64
    call = _native.ses_sse_prepare(y, cp64, cptail)
    if call is None:
        return lambda alpha: ses_sse(y, alpha)
    ar_t = _ARANGE[:ktail]
    # np.power(c, grid, out=buf) runs the same ufunc loop as c ** grid —
    # identical bits — while keeping the buffer pointer bound in `call`
    if ktail and cp64 is not _EMPTY64:
        def sse(alpha):
            c = 1.0 - alpha
            np.power(c, _ARANGE, out=cp64)
            np.power(c, ar_t, out=cptail)
            return call(alpha)
    elif ktail:
        def sse(alpha):
            np.power(1.0 - alpha, ar_t, out=cptail)
            return call(alpha)
    else:
        def sse(alpha):
            np.power(1.0 - alpha, _ARANGE, out=cp64)
            return call(alpha)
    return sse


def optimized_ses(
    y: np.ndarray, bounds: tuple[float, float] = (0.1, 0.3)
) -> tuple[np.ndarray, float, float]:
    """(fitted, forecast, alpha*) with α chosen by golden section."""
    alpha = golden_section_ses(y, bounds[0], bounds[1])
    fitted, fcst = ses_scan(y, alpha)
    return fitted, fcst, alpha


# -- intermittent-demand decompositions (reference models.py:2239-2252) ------

def demand(y: np.ndarray) -> np.ndarray:
    """Positive elements (demand sizes)."""
    return y[y > 0]


def inter_demand_intervals(y: np.ndarray) -> np.ndarray:
    """Gaps between consecutive non-zero elements (1-indexed, first gap from 0)."""
    nz = np.flatnonzero(y != 0)
    return np.diff(nz + 1, prepend=0).astype(np.float64)


def nonzero_probability(y: np.ndarray) -> np.ndarray:
    return (y != 0).astype(np.float64)


def chunk_sums(y: np.ndarray, chunk: int) -> np.ndarray:
    """Fixed-size chunk sums; incomplete trailing chunk discarded
    (the downsample primitive, reference models.py:2272-2278)."""
    k = y.size // chunk
    return y[: k * chunk].reshape(k, chunk).sum(axis=1)


def chunk_forecast(y: np.ndarray, agg_level: int) -> float:
    """ADIDA inner step: drop leading remainder, chunk-sum, optimized SES
    (reference semantics per tests/test_models.py:1482-1500: the *leading*
    remainder is dropped so chunks align to the series end)."""
    n = y.size
    y_cut = y[n % agg_level:]
    if y_cut.size < agg_level:
        return float(y[-1])
    sums = chunk_sums(y_cut, agg_level)
    if sums.size <= 1:
        return float(sums[0])
    _, fcst, _ = optimized_ses(sums)
    return fcst


def expand_fitted_demand(fitted_d: np.ndarray, y: np.ndarray) -> np.ndarray:
    """Scatter demand-domain fitted values back onto the raw timeline.

    out[i] carries the fitted value of the most recent demand event before i;
    before the first event, out[i] = y[i-1] (reference src/ses.cpp:159-183).
    Vectorized: index = running count of prior demand events.
    """
    n = y.size
    out = np.empty(n, dtype=np.float64)
    out[0] = np.nan
    idx = np.cumsum(y[:-1] > 0)
    vals = fitted_d[np.minimum(idx, fitted_d.size - 1)]
    out[1:] = np.where(idx > 0, vals, y[:-1])
    return out


def expand_fitted_intervals(fitted_i: np.ndarray, y: np.ndarray) -> np.ndarray:
    """Same scatter for the interval component; zero fitted values are
    clamped to 1 and pre-first-event positions are 1
    (reference src/ses.cpp:185-210)."""
    n = y.size
    out = np.empty(n, dtype=np.float64)
    out[0] = np.nan
    idx = np.cumsum(y[:-1] != 0)
    vals = fitted_i[np.minimum(idx, fitted_i.size - 1)]
    vals = np.where(vals == 0, 1.0, vals)
    out[1:] = np.where(idx > 0, vals, 1.0)
    return out
