"""ETS (innovations state space exponential smoothing) — AutoETS, Holt,
HoltWinters.

Re-derivation of the reference's ETS stack (reference ets.py:843-1087
``ets_f``, optimizer ets.py:423-599, C++ recursion src/ets.cpp:397-424),
which itself mirrors R's ``ets()``. Semantics reproduced from the published
algorithm (Hyndman, Koehler, Ord & Snyder 2008), NOT from the reference
source:

* model string "XYZ" = Error{A,M,Z} Trend{N,A,Z (+damped)} Season{N,A,M,Z};
* one shared state recursion per (trend, season) — the R/C scheme updates
  states from ``y`` only, so the *same* fitted trajectory serves both error
  types and the error type only changes the likelihood:
      lik_A = n·log Σ(y-f)²,   lik_M = n·log Σ((y-f)/f)² + 2·Σ log|f|
* smoothing params AND initial states jointly optimized (Nelder-Mead, same
  box bounds as R: α∈[1e-4,.9999], β∈[1e-4,α], γ∈[1e-4,1-α], φ∈[.8,.98]);
* model selection by AICc with np = #params + #free states + 1(σ²);
* forecast variance classes 1/2/3 for interval widths (Hyndman 2008 ch. 6).

Everything is numpy per series inside ``mapInPandas`` — the state loop is
O(n) Python over scalars, acceptable for downsampled-tier series (the 100 TB
design downsamples BEFORE model fitting, so kernels see 10²–10⁴ points,
never raw events).
"""

from __future__ import annotations

import numpy as np

from sparkts.kernels import _native
from sparkts.kernels.base import Model, add_intervals
from sparkts.kernels.optim import nelder_mead

_TOL = 1e-10
# trend / season codes
_N, _A, _M = 0, 1, 2
_HUGE = 1e38


def _etscalc(y, l0, b0, s0, m, trend, season, alpha, beta, gamma, phi):
    """Run the ETS recursion; return (f, l, b, s) where f is the one-step
    forecast trajectory and (l, b, s) are the final states.

    Dispatches to the compiled bit-exact C twin when available (r6: this
    interpreted loop was 85% of the AutoETS search profile — guide §4.2,
    native code inside the kernel); tests/test_native.py pins the two
    paths to identical bits."""
    if _native.LIB is not None:
        return _native.ets_calc(y, l0, b0, s0, m, trend, season,
                                alpha, beta, gamma, phi)
    return _etscalc_py(y, l0, b0, s0, m, trend, season,
                       alpha, beta, gamma, phi)


def _etscalc_py(y, l0, b0, s0, m, trend, season, alpha, beta, gamma, phi):
    """Pure-Python ETS recursion (fallback when no C compiler exists).

    States update from y only (error type enters the likelihood, not the
    trajectory) — the scheme of the published R implementation.
    """
    n = y.size
    yl = y.tolist()          # Python floats: scalar arithmetic is ~10× the
    f = [0.0] * n            # speed of numpy-scalar-in-a-loop, same doubles
    l = float(l0)
    b = float(b0) if trend != _N else 0.0
    # seasonal state as a circular buffer: c[pos] plays the s[m−1] role
    # (the index applying to the current step); the prepend-and-drop
    # update is c[pos] = snew; pos -= 1 — no O(m) list copy per step
    c = [float(v) for v in s0] if season != _N else []
    pos = m - 1
    bo_a = beta / alpha if alpha > 0 else 0.0
    has_trend = trend != _N
    seas_add = season == _A
    seas_mul = season == _M
    for i in range(n):
        # one-step forecast from current states
        if has_trend:
            phib = phi * b
            q = l + phib
        else:
            q = l
            phib = 0.0
        yi = yl[i]
        if seas_add:
            sm = c[pos]
            f[i] = q + sm
            p = yi - sm
        elif seas_mul:
            sm = c[pos]
            f[i] = q * sm
            p = _HUGE if abs(sm) < _TOL else yi / sm
        else:
            f[i] = q
            p = yi
        lnew = q + alpha * (p - q)
        if has_trend:
            b = phib + bo_a * (lnew - q)
        if seas_add or seas_mul:
            if seas_add:
                t = yi - q
            else:
                t = _HUGE if abs(q) < _TOL else yi / q
            c[pos] = sm + gamma * (t - sm)
            pos = pos - 1 if pos else m - 1
        l = lnew
    if seas_add or seas_mul:
        # reconstruct newest-first logical order: s[i] = c[(pos−m+1+i) % m]
        s = [c[(pos - m + 1 + i) % m] for i in range(m)]
    else:
        s = []
    return np.asarray(f), l, b, s


def _lik(y, f, error):
    """-2·(loglik up to const): n·logΣe² (+2Σlog|f| for mult. error)."""
    n = y.size
    if error == _A:
        e = y - f
        sse = float(np.dot(e, e))
        extra = 0.0
    else:
        bad = np.abs(f) < _TOL
        if bad.any():
            return np.inf
        e = (y - f) / f
        sse = float(np.dot(e, e))
        extra = 2.0 * float(np.sum(np.log(np.abs(f))))
    if not np.isfinite(sse) or sse <= 0:
        return np.inf if not np.isfinite(sse) else n * np.log(1e-300)
    return n * np.log(sse) + extra


def _init_state(y, m, trend, season):
    """Heuristic initial states (seed only — NM optimizes them further):
    classical-decomposition seasonal indices, then a linear fit of the first
    10 deseasonalized points for level/trend. Mirrors the published R
    initstate heuristic in spirit."""
    n = y.size
    if season != _N:
        # centered 2xm moving average over up to 5 cycles
        k = min(n, max(2 * m, 5 * m))
        yy = y[:k]
        if k >= 2 * m:
            w = np.ones(m + 1) / m
            w[0] = w[-1] = 0.5 / m
            ma = np.convolve(yy, w, mode="valid")  # len k-m
            detr = yy[m // 2 : m // 2 + ma.size]
            if season == _A:
                resid = detr - ma
            else:
                safe = np.where(np.abs(ma) < _TOL, np.nan, ma)
                resid = detr / safe
            idx = (np.arange(m // 2, m // 2 + ma.size)) % m
            sidx = np.zeros(m)
            for ph in range(m):
                vals = resid[idx == ph]
                vals = vals[np.isfinite(vals)]
                sidx[ph] = np.mean(vals) if vals.size else (0.0 if season == _A else 1.0)
        else:
            if season == _A:
                sidx = y[:m] - np.mean(y[:m])
            else:
                mu = np.mean(y[:m])
                sidx = y[:m] / mu if abs(mu) > _TOL else np.ones(m)
        # normalize: additive sums to 0; multiplicative sums to m
        if season == _A:
            sidx = sidx - sidx.mean()
        else:
            sidx = np.clip(sidx, 1e-4, None)
            sidx = sidx * (m / sidx.sum())
        # s0[0] = seasonal of time t=-1 (most recent before start): phase m-1
        # order the deque so s[m-1] is the phase of the FIRST observation
        s0 = [float(sidx[(-1 - j) % m]) for j in range(m)]
        if season == _A:
            y_sa = y - np.array([sidx[i % m] for i in range(n)])
        else:
            y_sa = y / np.array([sidx[i % m] for i in range(n)])
    else:
        s0 = []
        y_sa = y
    k = min(10, n)
    t = np.arange(1.0, k + 1)
    if k >= 2:
        slope, intercept = np.polyfit(t, y_sa[:k], 1)
    else:
        slope, intercept = 0.0, float(y_sa[0])
    l0 = float(intercept)
    b0 = float(slope) if trend != _N else 0.0
    if season == _M and l0 <= 0:
        l0 = max(float(np.mean(np.abs(y_sa[:k]))), 1e-4)
    return l0, b0, s0


def _pack(alpha, beta, gamma, phi, l0, b0, s0, trend, season, damped):
    x, lo, hi = [alpha], [1e-4], [0.9999]
    if trend != _N:
        x.append(beta), lo.append(1e-4), hi.append(0.9999)
    if season != _N:
        x.append(gamma), lo.append(1e-4), hi.append(0.9999)
    if damped:
        x.append(phi), lo.append(0.8), hi.append(0.98)
    x.append(l0), lo.append(-1e10), hi.append(1e10)
    if trend != _N:
        x.append(b0), lo.append(-1e10), hi.append(1e10)
    if season != _N:
        for s in s0[: len(s0) - 1]:  # last index determined by normalization
            x.append(s)
            if season == _A:
                lo.append(-1e10), hi.append(1e10)
            else:
                lo.append(1e-4), hi.append(1e4)
    return np.array(x), np.array(lo), np.array(hi)


def _unpack(x, m, trend, season, damped):
    i = 0
    alpha = x[i]; i += 1
    beta = gamma = 0.0
    phi = 1.0
    if trend != _N:
        beta = x[i]; i += 1
    if season != _N:
        gamma = x[i]; i += 1
    if damped:
        phi = x[i]; i += 1
    l0 = x[i]; i += 1
    b0 = 0.0
    if trend != _N:
        b0 = x[i]; i += 1
    s0 = []
    if season != _N:
        rest = list(x[i : i + m - 1])
        if season == _A:
            last = -sum(rest)
        else:
            last = max(m - sum(rest), 1e-4)
        s0 = rest + [last]
    return alpha, beta, gamma, phi, l0, b0, s0


def _admissible(alpha, beta, gamma, phi, trend, season):
    """Usual-region parameter constraints (R 'usual' bounds)."""
    if not (1e-4 <= alpha <= 0.9999):
        return False
    if trend != _N and not (1e-4 <= beta <= alpha):
        return False
    if season != _N and not (1e-4 <= gamma <= 1.0 - alpha):
        return False
    if not (0.8 <= phi <= 1.0):
        return False
    return True


def _fit_one(y, m, error, trend, season, damped, maxiter=600, fixed=None,
             initial="optimized"):
    """Optimize one ETS configuration; return dict or None if infeasible.

    ``fixed`` pins smoothing parameters by name (alpha/beta/gamma/phi — the
    reference's ets_f passes phi through; R's ets accepts all four);
    ``initial='simple'`` freezes the heuristic initial states instead of
    optimizing them (R ets initial='simple'). With everything pinned the
    fit is a single deterministic recursion — which is what lets a plain-SQL
    oracle value-check the ETS recursion end-to-end."""
    n = y.size
    # np = smoothing params (+phi) + free initial states + 1 for sigma^2
    nfree = 1 + (trend != _N) + (season != _N) + damped + 1 + (trend != _N) + (season != _N) * (m - 1)
    npars = nfree + 1
    if n <= npars + 1:
        return None
    l0, b0, s0 = _init_state(y, m, trend, season)
    alpha0, beta0, gamma0, phi0 = 0.5, 0.1, 0.05, 0.97
    if season != _N:
        gamma0 = min(0.05, (1 - alpha0) * 0.99)
    fixed = dict(fixed or {})
    alpha0 = fixed.get("alpha", alpha0)
    beta0 = fixed.get("beta", beta0)
    gamma0 = fixed.get("gamma", gamma0)
    phi0 = fixed.get("phi", phi0)
    x0, lo, hi = _pack(alpha0, beta0, gamma0, phi0, l0, b0, s0, trend, season, damped)
    sm_names = (["alpha"] + (["beta"] if trend != _N else [])
                + (["gamma"] if season != _N else [])
                + (["phi"] if damped else []))
    freeze = np.zeros(x0.size, dtype=bool)
    for i, nm in enumerate(sm_names):
        if nm in fixed:
            freeze[i] = True
    if initial == "simple":
        freeze[len(sm_names):] = True
    free = ~freeze

    if _native.LIB is not None:
        # r6: argument prep hoisted out of the eval loop (same C kernel,
        # bit-identical f; ~2× fewer μs per NM evaluation — guide §4.5)
        _ets_call = _native.ets_prepare(y, m, season)
        _sse = _native.ets_lik_prepare(y, _ets_call.f)
        _is_m = error == _M
        _n_f = float(y.size)

        if _sse is not None:
            def objective_full(x):
                a, b_, g, ph, l_, bb, ss = _unpack(x, m, trend, season,
                                                   damped)
                if not _admissible(a, b_, g, ph, trend, season):
                    return np.inf
                f = _ets_call(l_, bb, ss, trend, a, b_, g, ph)
                # inlined _lik with the SSE step in C (bit-equal: same
                # subtract/divide order, same BLAS ddot; -1 = the
                # multiplicative |f|<tol guard, matching bad.any())
                if _is_m:
                    sse = _sse(1)
                    if sse == -1.0:
                        return np.inf
                    extra = 2.0 * float(np.sum(np.log(np.abs(f))))
                else:
                    sse = _sse(0)
                    extra = 0.0
                if not np.isfinite(sse) or sse <= 0:
                    return (np.inf if not np.isfinite(sse)
                            else _n_f * np.log(1e-300))
                return _n_f * np.log(sse) + extra
        else:
            def objective_full(x):
                a, b_, g, ph, l_, bb, ss = _unpack(x, m, trend, season,
                                                   damped)
                if not _admissible(a, b_, g, ph, trend, season):
                    return np.inf
                f = _ets_call(l_, bb, ss, trend, a, b_, g, ph)
                return _lik(y, f, error)
    else:
        def objective_full(x):
            a, b_, g, ph, l_, bb, ss = _unpack(x, m, trend, season, damped)
            if not _admissible(a, b_, g, ph, trend, season):
                return np.inf
            f, *_ = _etscalc(y, l_, bb, ss, m, trend, season, a, b_, g, ph)
            return _lik(y, f, error)

    if not free.any():
        xb, fb = x0, objective_full(x0)
    else:
        def objective(xf):
            x = x0.copy()
            x[free] = xf
            return objective_full(x)

        xf, fb = nelder_mead(objective, x0[free], lo[free], hi[free],
                             max_iter=maxiter, tol_std=1e-6)
        xb = x0.copy()
        xb[free] = xf
    if not np.isfinite(fb):
        return None
    a, b_, g, ph, l_, bb, ss = _unpack(xb, m, trend, season, damped)
    f, lf, bf, sf = _etscalc(y, l_, bb, ss, m, trend, season, a, b_, g, ph)
    lik = _lik(y, f, error)
    aic = lik + 2 * npars
    aicc = aic + (2 * npars * (npars + 1) / (n - npars - 1) if n - npars - 1 > 0 else np.inf)
    bic = lik + np.log(n) * npars
    resid = (y - f) if error == _A else (y - f) / np.where(np.abs(f) < _TOL, _TOL, f)
    mse = float(np.mean((y - f) ** 2))
    return {
        "error": error, "trend": trend, "season": season, "damped": damped,
        "alpha": a, "beta": b_, "gamma": g, "phi": ph,
        "l": lf, "b": bf, "s": sf, "m": m,
        # the (optimized) INITIAL states — forward re-applies these to new
        # data, like the reference's forward_ets → pegelsresid_C with
        # init_state from the fitted model (ets.py:908-928)
        "l0": float(l_), "b0": float(bb),
        "s0": (np.asarray(ss, dtype=np.float64).copy()
               if ss is not None else None),
        "fitted": f, "lik": lik, "aic": aic, "aicc": aicc, "bic": bic,
        "mse": mse, "sigma2": float(np.sum(resid**2) / max(n - npars + 1, 1)),
    }


def _ets_forecast(fit, h):
    """h-step mean path from final states."""
    l, b, s, m = fit["l"], fit["b"], fit["s"], fit["m"]
    trend, season, phi = fit["trend"], fit["season"], fit["phi"]
    out = np.empty(h)
    phistar = 0.0
    for i in range(1, h + 1):
        if trend == _N:
            q = l
        else:
            phistar = phistar + phi**i if fit["damped"] else float(i)
            q = l + phistar * b
        if season == _N:
            out[i - 1] = q
        else:
            # index j with time t-j ≡ t+i (mod m) → j = (m - i mod m) mod m
            sj = s[(m - (i % m)) % m]
            out[i - 1] = q + sj if season == _A else q * sj
    return out


def ets_simulate(fit, h: int, n_paths: int, errs: np.ndarray) -> np.ndarray:
    """Path simulation through the ETS state recursion (reference
    ets.py simulate_ets / C etssimulate semantics): each step draws an
    observation y = f + e (additive error) or f·(1+e) (multiplicative),
    then updates states from the SIMULATED y exactly as _etscalc does for
    observed data. Vectorized across paths."""
    m, trend, season = fit["m"], fit["trend"], fit["season"]
    alpha, beta, gamma, phi = fit["alpha"], fit["beta"], fit["gamma"], fit["phi"]
    error = fit["error"]
    l = np.full(n_paths, fit["l"], dtype=np.float64)
    b = np.full(n_paths, fit["b"], dtype=np.float64) if trend != _N else None
    s = np.tile(np.asarray(fit["s"], dtype=np.float64), (n_paths, 1)) \
        if season != _N else None
    bo_a = beta / alpha if alpha > 0 else 0.0
    paths = np.empty((n_paths, h))
    for i in range(h):
        if trend == _N:
            q = l
            phib = 0.0
        else:
            phib = phi * b
            q = l + phib
        if season == _N:
            f = q
        elif season == _A:
            f = q + s[:, m - 1]
        else:
            f = q * s[:, m - 1]
        y = f + errs[:, i] if error == _A else f * (1.0 + errs[:, i])
        paths[:, i] = y
        if season == _N:
            p = y
        elif season == _A:
            p = y - s[:, m - 1]
        else:
            sm = np.where(np.abs(s[:, m - 1]) < _TOL, _TOL, s[:, m - 1])
            p = y / sm
        lnew = q + alpha * (p - q)
        if trend != _N:
            b = phib + bo_a * (lnew - q)
        if season != _N:
            if season == _A:
                t = y - q
            else:
                t = y / np.where(np.abs(q) < _TOL, _TOL, q)
            snew = s[:, m - 1] + gamma * (t - s[:, m - 1])
            s = np.concatenate([snew[:, None], s[:, : m - 1]], axis=1)
        l = lnew
    return paths


def _sigmah(fit, h):
    """Forecast std errors. Class-1 (additive-error linear models) exact
    formulas (Hyndman 2008 ch. 6); other classes approximated with the same
    growth — matches the reference's practice of gaussian intervals from
    model-specific variance recursions."""
    sigma2 = fit["sigma2"]
    alpha, beta, gamma, phi = fit["alpha"], fit["beta"], fit["gamma"], fit["phi"]
    trend, season, m = fit["trend"], fit["season"], fit["m"]
    damped = fit["damped"]
    var = np.empty(h)
    for i in range(1, h + 1):
        if i == 1:
            var[0] = 1.0
            continue
        js = np.arange(1, i)
        cj = np.full(js.size, alpha)
        if trend != _N:
            if damped:
                phij = phi * (1 - phi**js) / (1 - phi)
            else:
                phij = js.astype(float)
            cj = cj + beta * phij
        if season != _N:
            dj = (js % m == 0).astype(float)
            cj = cj + gamma * dj
        var[i - 1] = 1.0 + float(np.sum(cj**2))
    return np.sqrt(sigma2 * var)


_ERRS = {"A": _A, "M": _M}
_TRENDS = {"N": _N, "A": _A}
_SEASONS = {"N": _N, "A": _A, "M": _M}


class AutoETS(Model):
    """ETS with AICc model selection over a spec string (reference
    models.py:707 AutoETS; semantics per R's ets). ``model='ZZZ'`` searches
    error {A,M} × trend {N,A[,damped]} × season {N,A,M}; restricted combos
    (additive error with multiplicative season; multiplicative anything on
    non-positive data) are skipped."""

    tunable = True

    def __init__(self, season_length: int = 1, model: str = "ZZZ",
                 damped: bool | None = None,
                 alpha: float | None = None, beta: float | None = None,
                 gamma: float | None = None, phi: float | None = None,
                 initial: str = "optimized", alias: str | None = None):
        super().__init__(alias or "AutoETS")
        self.m = max(int(season_length), 1)
        self.model = model
        self.damped = damped
        #: pinned smoothing parameters (reference ets_f passes phi; R's ets
        #: accepts alpha/beta/gamma/phi) and the R-style initial-state mode
        #: ('optimized' = states in the MLE, 'simple' = heuristic states)
        self.fixed = {k: v for k, v in
                      (("alpha", alpha), ("beta", beta),
                       ("gamma", gamma), ("phi", phi)) if v is not None}
        if initial not in ("optimized", "simple"):
            raise ValueError("initial must be 'optimized' or 'simple'")
        self.initial = initial

    def _candidates(self, y):
        e_spec, t_spec, s_spec = self.model[0], self.model[1], self.model[2]
        positive = bool(np.all(y > 0))
        errs = [_ERRS[e_spec]] if e_spec in _ERRS else ([_A, _M] if positive else [_A])
        trends = [_TRENDS[t_spec]] if t_spec in _TRENDS else [_N, _A]
        if s_spec in _SEASONS:
            seasons = [_SEASONS[s_spec]]
        else:
            seasons = [_N, _A, _M] if positive else [_N, _A]
        if self.m <= 1 or y.size < 2 * self.m:
            seasons = [s for s in seasons if s == _N] or [_N]
        if self.damped is None:
            dampeds = [False, True]
        else:
            dampeds = [bool(self.damped)]
        for e in errs:
            for t in trends:
                for s in seasons:
                    if e == _A and s == _M:
                        continue  # restricted: numerically unstable
                    if e == _M and s == _A:
                        continue  # restricted (R restrict=TRUE)
                    for d in dampeds:
                        if d and t == _N:
                            continue
                        yield e, t, s, d

    def _fit(self, y):
        best = None
        for e, t, s, d in self._candidates(y):
            fit = _fit_one(y, self.m, e, t, s, d, fixed=self.fixed,
                           initial=self.initial)
            if fit is None:
                continue
            if best is None or fit["aicc"] < best["aicc"]:
                best = fit
        if best is None:
            raise ValueError(f"{self.alias}: no admissible ETS model for series of length {y.size}")
        return best

    def _forecast(self, y, h, fitted):
        fit = self._fit(y)
        mean = _ets_forecast(fit, h)
        sigmah = _sigmah(fit, h)
        if fit["error"] == _M:
            # multiplicative error: sigma2 is relative → class-2/3 variance
            # scales with the forecast level (Hyndman 2008 ch. 6)
            sigmah = sigmah * np.abs(mean)
        return mean, sigmah, fit["fitted"]

    def simulate(self, y, h, n_paths=100, seed=0, error_dist="normal",
                 error_params=None):
        from sparkts.kernels.base import sample_errors

        y = np.asarray(y, dtype=np.float64)
        fit = self._fit(y)
        f = fit["fitted"]
        if fit["error"] == _A:
            resid = y - f
        else:
            resid = (y - f) / np.where(np.abs(f) < _TOL, _TOL, f)
        rng = np.random.default_rng(seed)
        errs = sample_errors((n_paths, h), float(np.sqrt(fit["sigma2"])),
                             error_dist, error_params, resid, rng)
        return ets_simulate(fit, h, n_paths, errs)

    # ---- forward contract (reference models.py:565-610): re-apply the
    # selected spec + smoothing params + initial states to new data ------
    def fit_state(self, y):
        fit = self._fit(np.asarray(y, dtype=np.float64))
        return fit

    def forward(self, state, y, h, level=None, fitted=False):
        y = np.asarray(y, dtype=np.float64)
        m = state["m"]
        # re-run the recursion with FIXED params from the stored fit,
        # starting from the stored (optimized) INITIAL states — the
        # reference's forward_ets does exactly this (ets.py:908-928,
        # init_state = model['par'][4:]). Re-deriving initial states
        # heuristically instead is wrong when α≈0: the level never
        # converges away from its start value.
        if "l0" in state:
            l0, b0 = state["l0"], state["b0"]
            s0 = state["s0"]
        else:  # states pickled by a pre-l0 fit blob
            l0, b0, s0 = _init_state(y, m, state["trend"], state["season"])
        f, lf, bf, sf = _etscalc(
            y, l0, b0, s0, m, state["trend"], state["season"],
            state["alpha"], state["beta"], state["gamma"], state["phi"])
        fit = dict(state)
        fit.update({"l": lf, "b": bf, "s": sf, "fitted": f})
        resid = (y - f) if state["error"] == _A else (y - f) / np.where(
            np.abs(f) < _TOL, _TOL, f)
        fit["sigma2"] = float(np.sum(resid**2) / max(y.size - 2, 1))
        mean = _ets_forecast(fit, h)
        sigmah = _sigmah(fit, h)
        if fit["error"] == _M:
            sigmah = sigmah * np.abs(mean)
        res = {"mean": mean}
        if fitted:
            res["fitted"] = f
        if level:
            add_intervals(res, sigmah, level)
        return res


class ETS(AutoETS):
    """Fixed-spec ETS (no Z components allowed)."""

    def __init__(self, season_length: int = 1, model: str = "ANN",
                 damped: bool = False,
                 alpha: float | None = None, beta: float | None = None,
                 gamma: float | None = None, phi: float | None = None,
                 initial: str = "optimized", alias: str | None = None):
        if "Z" in model.upper():
            raise ValueError("ETS requires a concrete model string; use AutoETS for Z")
        super().__init__(season_length, model.upper(), damped,
                         alpha=alpha, beta=beta, gamma=gamma, phi=phi,
                         initial=initial, alias=alias or "ETS")


class Holt(AutoETS):
    """Holt's linear trend = ETS(A/M,A,N) (reference models.py:3139)."""

    def __init__(self, season_length: int = 1, error_type: str = "A",
                 alias: str | None = None):
        super().__init__(season_length, f"{error_type}AN", damped=False,
                         alias=alias or "Holt")


class HoltWinters(AutoETS):
    """Holt-Winters = ETS(A/M,A,A/M) picked by AICc over the seasonal type
    (reference models.py:3174 uses model=(error_type,'A','Z'))."""

    def __init__(self, season_length: int = 1, error_type: str = "A",
                 alias: str | None = None):
        super().__init__(season_length, f"{error_type}AZ", damped=False,
                         alias=alias or "HoltWinters")
