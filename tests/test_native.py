"""Pin the compiled kernels (kernels/_native.c) to their Python twins.

The ETS recursion and the MA-feedback filter must be BIT-exact (their
Python paths sit behind value-graded oracles); the Kalman transient is
pinned to ~1e-12 relative (naive-matmul vs BLAS ordering — it only serves
rows-only-graded search likelihoods).
"""

from __future__ import annotations

import numpy as np
import pytest

import sparkts.kernels._native as nat
import sparkts.kernels.arima as ar
from sparkts.kernels.ets import _etscalc, _etscalc_py

pytestmark = pytest.mark.skipif(
    nat.LIB is None, reason="no C compiler / native kernels disabled")


def _random_arma(rng, pmax=4, qmax=4):
    p = int(rng.integers(0, pmax))
    q = int(rng.integers(0, qmax))
    m = int(rng.integers(2, 13))
    P = int(rng.integers(0, 2))
    Q = int(rng.integers(0, 2))
    phi = rng.uniform(-0.5, 0.5, p)
    theta = rng.uniform(-0.5, 0.5, q)
    Phi = rng.uniform(-0.5, 0.5, P)
    Th = rng.uniform(-0.5, 0.5, Q)
    arp = ar._poly_mul(
        ar._ar_poly(phi),
        ar._seasonal_expand(ar._ar_poly(Phi), m) if P else np.array([1.0]))
    map_ = ar._poly_mul(
        ar._ma_poly(theta),
        ar._seasonal_expand(ar._ma_poly(Th), m) if Q else np.array([1.0]))
    return arp, map_, m


def test_etscalc_bit_exact():
    rng = np.random.default_rng(11)
    checked = 0
    for _ in range(300):
        n = int(rng.integers(5, 400))
        m = int(rng.integers(1, 25))
        trend = int(rng.integers(0, 2))
        season = int(rng.integers(0, 3))
        if season and n < m:
            continue
        y = rng.normal(50, 10, n)
        if rng.random() < 0.5:
            y = np.abs(y) + 1
        s0 = list(rng.normal(1, 0.3, m)) if season else []
        alpha = rng.uniform(1e-4, 0.9999)
        beta = rng.uniform(1e-4, alpha)
        gamma = rng.uniform(1e-4, 1 - alpha)
        phi = rng.uniform(0.8, 1.0)
        args = (y, rng.normal(50, 5), rng.normal(0, 1), s0, m, trend,
                season, alpha, beta, gamma, phi)
        fc, lc, bc, sc = _etscalc(*args)
        fp, lp, bp, sp = _etscalc_py(*args)
        assert np.array_equal(fc, fp)
        assert lc == lp and bc == bp
        assert list(sc) == list(sp)
        checked += 1
    assert checked > 200


def test_ma_filter_bit_exact():
    rng = np.random.default_rng(12)
    for _ in range(300):
        n = int(rng.integers(10, 500))
        arp, map_, _ = _random_arma(rng)
        z = rng.normal(0, 1, n)
        e_c = ar._css_resid(z, arp, map_)
        saved, nat.LIB = nat.LIB, None
        try:
            e_p = ar._css_resid(z, arp, map_)
            seed = list(rng.normal(0, 1, int(rng.integers(0, 6))))
            a = rng.normal(0, 1, n)
            s_p = ar._ma_filter_seeded(a, map_, seed)
        finally:
            nat.LIB = saved
        s_c = ar._ma_filter_seeded(a, map_, seed)
        assert np.array_equal(e_c, e_p)
        assert np.array_equal(s_c, s_p)


def test_kalman_loglik_matches_numpy():
    rng = np.random.default_rng(13)
    checked = 0
    for trial in range(200):
        n = int(rng.integers(30, 600))
        arp, map_, m = _random_arma(rng, qmax=4)
        if map_.size <= 1 or not np.any(map_[1:]):
            continue
        x = rng.normal(0, 1, n)
        cap = None if trial % 2 else 80
        ll_c, s2_c = ar._arma_exact_loglik(x, arp, map_, exact_cap=cap)
        saved, nat.LIB = nat.LIB, None
        try:
            ll_p, s2_p = ar._arma_exact_loglik(x, arp, map_, exact_cap=cap)
        finally:
            nat.LIB = saved
        assert np.isfinite(ll_c) == np.isfinite(ll_p)
        if np.isfinite(ll_p):
            assert abs(ll_c - ll_p) <= 1e-9 * (1 + abs(ll_p))
            assert abs(s2_c - s2_p) <= 1e-9 * (1 + abs(s2_p))
            checked += 1
    assert checked > 100


def test_autoets_selection_unchanged_by_native():
    """End-to-end: the AutoETS search picks the same model and AICc with
    and without the native kernels (the recursion is bit-exact, so the
    whole search trajectory must be identical)."""
    from sparkts.kernels.ets import AutoETS

    rng = np.random.default_rng(14)
    t = np.arange(180)
    y = np.abs(50 + 0.05 * t + 8 * np.sin(2 * np.pi * t / 12)
               + rng.normal(0, 2, 180)) + 1
    fit_c = AutoETS(season_length=12)._fit(y)
    saved, nat.LIB = nat.LIB, None
    try:
        fit_p = AutoETS(season_length=12)._fit(y)
    finally:
        nat.LIB = saved
    assert (fit_c["error"], fit_c["trend"], fit_c["season"],
            fit_c["damped"]) == (fit_p["error"], fit_p["trend"],
                                 fit_p["season"], fit_p["damped"])
    assert fit_c["aicc"] == fit_p["aicc"]
    assert np.array_equal(fit_c["fitted"], fit_p["fitted"])


def test_factors_ok_bit_exact():
    """C admissibility check (incl. the packed-x variant) decides exactly
    like the Python Durbin/quadratic paths, boundary cases included."""
    if nat.LIB is None:
        pytest.skip("no C compiler")
    rng = np.random.default_rng(7)
    for t in range(4000):
        p, q, P, Q = (int(v) for v in rng.integers(0, 4, 4))
        m = int(rng.choice([1, 4, 7, 12, 24]))
        parts = tuple(rng.uniform(-1.2, 1.2, s) for s in (p, q, P, Q))
        if t % 5 == 0:  # hug the |root| = thresh boundary
            parts = tuple(np.sign(v) * np.minimum(
                np.abs(v), 1.0 + rng.normal(0, 1e-3, v.size))
                for v in parts)
        ts = 1.001 ** m
        py = (ar._roots_ok(ar._ar_poly(parts[0]))
              and ar._roots_ok(ar._ma_poly(parts[1]))
              and ar._roots_ok(ar._ar_poly(parts[2]), ts)
              and ar._roots_ok(ar._ma_poly(parts[3]), ts))
        assert nat.factors_ok(*parts, m) == py
        x = np.concatenate(parts) if p + q + P + Q else np.empty(0)
        assert nat.factors_ok_x(x, p, q, P, Q, m) == py


def test_ma_filter_dense_bit_exact():
    """Dense-coefficient C filter equals the explicit-lags twin."""
    if nat.LIB is None:
        pytest.skip("no C compiler")
    rng = np.random.default_rng(8)
    for _ in range(400):
        n = int(rng.integers(5, 400))
        nq = int(rng.integers(1, 30))
        mac = rng.uniform(-0.95, 0.95, nq) * (rng.random(nq) < 0.4)
        a = rng.normal(0, 1, n)
        d = nat.ma_filter_dense(a, mac)
        nz = np.flatnonzero(mac)
        e = (nat.ma_filter(a, nz + 1, mac[nz], np.zeros(nq))
             if nz.size else a.copy())
        assert np.array_equal(d, e)


def test_expand_params_fast_paths_bit_exact():
    """P==0/Q==0 identity and the sparse seasonal scatter reproduce the
    full-convolution polynomial expansion."""
    rng = np.random.default_rng(9)
    for _ in range(2000):
        p, q, P, Q = (int(v) for v in rng.integers(0, 4, 4))
        m = int(rng.choice([1, 4, 7, 12, 24]))
        use_mean = bool(rng.integers(0, 2))
        x = rng.uniform(-1.2, 1.2, p + q + P + Q + int(use_mean))
        arp, map_, mu, parts = ar._expand_params(x, p, q, P, Q, m, use_mean)
        ar_ref = ar._poly_mul(
            ar._ar_poly(parts[0]),
            ar._seasonal_expand(ar._ar_poly(parts[2]), m) if P
            else np.array([1.0]))
        ma_ref = ar._poly_mul(
            ar._ma_poly(parts[1]),
            ar._seasonal_expand(ar._ma_poly(parts[3]), m) if Q
            else np.array([1.0]))
        assert np.array_equal(arp, ar_ref)
        assert np.array_equal(map_, ma_ref)


def test_ets_prepare_bit_exact():
    """The per-fit prepared ETS call returns the same trajectory as the
    unprepared wrapper for every (trend, season) class."""
    if nat.LIB is None:
        pytest.skip("no C compiler")
    rng = np.random.default_rng(10)
    y = 50 + 10 * np.sin(np.arange(200) * 2 * np.pi / 12) \
        + rng.normal(0, 2, 200)
    m = 12
    for trend in (0, 1):
        for season in (0, 1, 2):
            call = nat.ets_prepare(y, m, season)
            for _ in range(50):
                a, b, g = rng.uniform(1e-4, 0.99, 3)
                ph = rng.uniform(0.8, 0.98)
                l0 = rng.uniform(30, 70)
                b0 = rng.uniform(-1, 1)
                s0 = list(rng.uniform(0.5, 1.5, m))
                f1, *_ = nat.ets_calc(y, l0, b0, s0, m, trend, season,
                                      a, b, g, ph)
                f2 = call(l0, b0, s0, trend, a, b, g, ph)
                assert np.array_equal(f1, f2)


def _nm_reference(fn, x0, lower, upper, init_step=0.05, zero_pert=1e-4,
                  alpha=1.0, gamma=2.0, rho=0.5, sigma=0.5,
                  max_iter=1000, tol_std=1e-4, adaptive=True,
                  tol_rel=0.0):
    """Verbatim copy of the pre-r6 numpy Nelder-Mead loop."""
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
        order = np.argsort(f, kind="stable")
        best, second_worst, worst = order[0], order[-2], order[-1]
        if np.all(np.isfinite(f)) and np.std(f) < tol_std + tol_rel * abs(f[best]):
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
        if fr < f[worst]:
            xc = clamp(centroid + rho * (xr - centroid))
        else:
            xc = clamp(centroid + rho * (simplex[worst] - centroid))
        fc = fn(xc)
        if fc < min(fr, f[worst]):
            simplex[worst], f[worst] = xc, fc
            continue
        for i in range(n + 1):
            if i == best:
                continue
            simplex[i] = clamp(simplex[best] + sigma * (simplex[i] - simplex[best]))
            f[i] = fn(simplex[i])
    best = int(np.argmin(f))
    return simplex[best].copy(), float(f[best])


def test_nelder_mead_scan_matches_argsort_semantics():
    """The r6 scan-based NM bookkeeping converges to the same point as a
    verbatim copy of the pre-r6 numpy loop on assorted objectives."""
    from sparkts.kernels.optim import nelder_mead

    rng = np.random.default_rng(11)
    for trial in range(40):
        n = int(rng.integers(1, 8))
        A = rng.normal(0, 1, (n, n))
        target = rng.normal(0, 1, n)
        hole = rng.random() < 0.5  # objectives with an infeasible region

        def fn(x):
            if hole and x[0] > 0.7:
                return np.inf
            d = A @ (x - target)
            return float(d @ d)

        x0 = rng.uniform(-1, 1, n)
        lo, hi = np.full(n, -2.0), np.full(n, 2.0)
        xa, fa = nelder_mead(fn, x0, lo, hi, max_iter=200)
        xb, fb = _nm_reference(fn, x0, lo, hi, max_iter=200)
        assert np.array_equal(xa, xb), trial
        assert fa == fb or (np.isinf(fa) and np.isinf(fb)), trial


def test_nelder_mead_nan_at_first_vertex():
    """A NaN in f[0] takes the stable-argsort fallback: the NaN vertex
    sorts worst, so the chosen vertices match the pre-r6 loop."""
    from sparkts.kernels.optim import nelder_mead

    rng = np.random.default_rng(13)
    for trial in range(20):
        n = int(rng.integers(1, 6))
        target = rng.normal(0, 0.3, n)

        def fn(x):
            if x[0] > 0.7:  # vertex 0 steps x0[0] = 0.69 to 0.7245
                return np.nan
            d = x - target
            return float(d @ d)

        x0 = rng.uniform(-0.5, 0.5, n)
        x0[0] = 0.69
        lo, hi = np.full(n, -2.0), np.full(n, 2.0)
        xa, fa = nelder_mead(fn, x0, lo, hi, max_iter=200)
        xb, fb = _nm_reference(fn, x0, lo, hi, max_iter=200)
        assert np.array_equal(xa, xb), trial
        assert fa == fb, trial
        assert np.isfinite(fa), trial


def test_ets_sse_bit_exact():
    """C SSE step of the ETS likelihood equals the numpy _lik arithmetic
    for both error types, including the multiplicative |f|<tol guard."""
    if nat.LIB is None or not nat.HAS_DDOT:
        pytest.skip("no C compiler or BLAS hook")
    rng = np.random.default_rng(12)
    for trial in range(500):
        n = int(rng.integers(2, 400))
        y = rng.normal(50, 10, n)
        f = y + rng.normal(0, 5, n)
        if trial % 7 == 0:
            f[rng.integers(0, n)] = rng.choice([0.0, 5e-11, -5e-11])
        fb = np.ascontiguousarray(f)
        sse_fn = nat.ets_lik_prepare(y, fb)
        # additive
        e = y - fb
        assert sse_fn(0) == float(np.dot(e, e))
        # multiplicative
        got = sse_fn(1)
        if (np.abs(fb) < 1e-10).any():
            assert got == -1.0
        else:
            em = (y - fb) / fb
            assert got == float(np.dot(em, em))


@pytest.mark.parametrize("n", [2, 64, 65, 128, 129])
def test_ses_levels_and_sse_bit_exact(n, monkeypatch):
    """C SES levels, C-levels SSE and the prepared one-call SSE equal the
    numpy block formula bit for bit across block boundaries (n - 1 = 63,
    64, 127, 128 level steps) and at α = 1, where c^j underflows and every
    level is the observation itself."""
    from sparkts.kernels import scan

    y = np.random.default_rng(n).normal(50, 10, n)
    alphas = (0.01, 0.1, 0.5, 0.99, 1.0)
    native = [(scan._ses_levels(y, a), scan.ses_sse(y, a), scan._sse_fn(y)(a))
              for a in alphas]
    monkeypatch.setattr(nat, "LIB", None)
    for a, (levels, sse, prepared) in zip(alphas, native):
        ref = scan._ses_levels(y, a)
        assert np.array_equal(levels, ref), a
        assert sse == scan.ses_sse(y, a) == prepared, a
    assert np.array_equal(scan._ses_levels(y, 1.0), y)
