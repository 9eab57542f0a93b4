"""Box-constrained Nelder-Mead (shared by the Theta/ETS/CES-style kernels).

Standard Nelder-Mead with coordinate clamping and the adaptive coefficients
of Gao & Han (2012); control defaults mirror the reference engine's settings
(reference src/theta.cpp:164-174: init_step 0.05, zero perturbation 1e-4,
max 1000 iterations, stddev tolerance 1e-4, adaptive=True) so optimized
kernels land in the same minima on the same objectives.
"""

from __future__ import annotations

import math
from typing import Callable

import numpy as np


def nelder_mead(
    fn: Callable[[np.ndarray], float],
    x0: np.ndarray,
    lower: np.ndarray,
    upper: np.ndarray,
    init_step: float = 0.05,
    zero_pert: float = 1e-4,
    alpha: float = 1.0,
    gamma: float = 2.0,
    rho: float = 0.5,
    sigma: float = 0.5,
    max_iter: int = 1000,
    tol_std: float = 1e-4,
    adaptive: bool = True,
    tol_rel: float = 0.0,
) -> tuple[np.ndarray, float]:
    """Minimize fn over the box [lower, upper]; returns (x_best, f_best).

    Convergence: simplex f-std < tol_std + tol_rel·|f_best| — the relative
    term matters for CSS/likelihood objectives whose magnitude scales with
    n (an absolute 1e-8 on f ≈ −2000 demands ~1e-12 relative agreement and
    burns hundreds of extra evaluations refining noise)."""
    x0 = np.clip(np.asarray(x0, dtype=np.float64), lower, upper)
    n = x0.size
    if adaptive and n > 0:
        gamma = 1.0 + 2.0 / n
        rho = 0.75 - 1.0 / (2 * n)
        sigma = 1.0 - 1.0 / n

    simplex = np.tile(x0, (n + 1, 1))
    for i in range(n):
        v = simplex[i, i]
        v = zero_pert if v == 0 else v * (1.0 + init_step)
        simplex[i, i] = min(max(v, lower[i]), upper[i])
    f = np.array([fn(simplex[i]) for i in range(n + 1)])

    def clamp(x):
        return np.clip(x, lower, upper)

    for _ in range(max_iter):
        # best/second-worst/worst via one Python-float scan instead of a
        # stable argsort + isfinite + std per iteration (r6, guide §4.2 —
        # this loop runs ~10⁵ times per AutoARIMA/AutoETS task and the
        # small-array numpy dispatch overhead dominated it). The scan
        # reproduces np.argsort(f, kind="stable") extrema exactly: ties
        # resolve to the FIRST index for the minimum and to the LAST
        # indices for the two maxima — the (value, index) lexicographic
        # order stable argsort yields. Any NaN falls back to the original
        # numpy path verbatim.
        fl = f.tolist()
        np1 = len(fl)
        nan_seen = fl[0] != fl[0]
        best = 0
        bv = fl[0]
        worst = 0
        wv1 = fl[0]
        second_worst = -1
        wv2 = 0.0
        all_finite = math.isfinite(fl[0])
        for i in range(1, np1):
            v = fl[i]
            if v != v:
                nan_seen = True
                break
            if not (-math.inf < v < math.inf):
                all_finite = False
            if v < bv:
                best, bv = i, v
            if v >= wv1:
                second_worst, wv2 = worst, wv1
                worst, wv1 = i, v
            elif second_worst < 0 or v >= wv2:
                second_worst, wv2 = i, v
        if nan_seen:
            order = np.argsort(f, kind="stable")
            best, second_worst, worst = order[0], order[-2], order[-1]
            bv = float(f[best])
            all_finite = bool(np.all(np.isfinite(f)))
        if all_finite:
            tol = tol_std + tol_rel * abs(bv)
            # std(f) >= (max-min)/sqrt(2*N) for any N values, so when the
            # spread is comfortably above tol the (expensive) np.std call
            # cannot trigger convergence — skip it; when the spread is
            # small, evaluate np.std(f) < tol exactly as before (the 2x
            # margin swallows float rounding, keeping the break decision
            # bit-identical to the pre-r6 loop).
            if (wv1 - bv) <= 2.0 * tol * math.sqrt(2.0 * np1) \
                    and np.std(f) < tol:
                break
        centroid = (simplex.sum(axis=0) - simplex[worst]) / n
        xr = clamp(centroid + alpha * (centroid - simplex[worst]))
        fr = fn(xr)
        if f[best] <= fr < f[second_worst]:
            simplex[worst], f[worst] = xr, fr
            continue
        if fr < f[best]:
            xe = clamp(centroid + gamma * (xr - centroid))
            fe = fn(xe)
            if fe < fr:
                simplex[worst], f[worst] = xe, fe
            else:
                simplex[worst], f[worst] = xr, fr
            continue
        # contraction
        if fr < f[worst]:
            xc = clamp(centroid + rho * (xr - centroid))
        else:
            xc = clamp(centroid + rho * (simplex[worst] - centroid))
        fc = fn(xc)
        if fc < min(fr, f[worst]):
            simplex[worst], f[worst] = xc, fc
            continue
        # shrink toward best
        for i in range(n + 1):
            if i == best:
                continue
            simplex[i] = clamp(simplex[best] + sigma * (simplex[i] - simplex[best]))
            f[i] = fn(simplex[i])

    best = int(np.argmin(f))
    return simplex[best].copy(), float(f[best])
