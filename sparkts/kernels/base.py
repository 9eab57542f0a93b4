"""Kernel contract + shared interval math.

Re-derivation of the reference's ``_TS`` model contract (reference
models.py:177-249): every model exposes
``forecast(y, h, level=None, fitted=False) -> dict`` where the dict holds
``mean`` (h-vector), optional ``fitted`` (len(y)-vector of one-step in-sample
predictions), and per confidence level ``lo-{l}`` / ``hi-{l}`` h-vectors.
``repr(model)`` (the ``alias``) names the output columns, matching the
reference's column-naming scheme (models.py:185-186, core.py:126-130).

These kernels are plain numpy over a single series, never per-row. The
engine calls them from one ``mapInPandas`` call per id-sorted partition
(``engine._series_stream``), one series at a time.

No scipy in this environment: the gaussian quantile uses Acklam's rational
approximation of the inverse normal CDF (|rel err| < 1.15e-9), which is more
than enough for interval z-scores.
"""

from __future__ import annotations

import numpy as np

# --- Acklam inverse-normal-CDF rational approximation -----------------------
_A = [-3.969683028665376e01, 2.209460984245205e02, -2.759285104469687e02,
      1.383577518672690e02, -3.066479806614716e01, 2.506628277459239e00]
_B = [-5.447609879822406e01, 1.615858368580409e02, -1.556989798598866e02,
      6.680131188771972e01, -1.328068155288572e01]
_C = [-7.784894002430293e-03, -3.223964580411365e-01, -2.400758277161838e00,
      -2.549732539343734e00, 4.374664141464968e00, 2.938163982698783e00]
_D = [7.784695709041462e-03, 3.224671290700398e-01, 2.445134137142996e00,
      3.754408661907416e00]


def norm_ppf(p: float) -> float:
    """Inverse standard-normal CDF (Acklam's algorithm)."""
    if not 0.0 < p < 1.0:
        raise ValueError(f"p must be in (0,1), got {p}")
    p_low, p_high = 0.02425, 1 - 0.02425
    if p < p_low:
        q = np.sqrt(-2 * np.log(p))
        return (((((_C[0] * q + _C[1]) * q + _C[2]) * q + _C[3]) * q + _C[4]) * q + _C[5]) / (
            (((_D[0] * q + _D[1]) * q + _D[2]) * q + _D[3]) * q + 1
        )
    if p <= p_high:
        q = p - 0.5
        r = q * q
        return (((((_A[0] * r + _A[1]) * r + _A[2]) * r + _A[3]) * r + _A[4]) * r + _A[5]) * q / (
            ((((_B[0] * r + _B[1]) * r + _B[2]) * r + _B[3]) * r + _B[4]) * r + 1
        )
    q = np.sqrt(-2 * np.log(1 - p))
    return -(((((_C[0] * q + _C[1]) * q + _C[2]) * q + _C[3]) * q + _C[4]) * q + _C[5]) / (
        (((_D[0] * q + _D[1]) * q + _D[2]) * q + _D[3]) * q + 1
    )


def add_intervals(res: dict, sigmah: np.ndarray, level: list[int] | None) -> dict:
    """Gaussian intervals: mean ± z(level)·sigmah (reference utils.py:302-318)."""
    if not level:
        return res
    mean = res["mean"]
    for lv in sorted(level):
        z = norm_ppf(0.5 + lv / 200.0)
        res[f"lo-{lv}"] = mean - z * sigmah
        res[f"hi-{lv}"] = mean + z * sigmah
    return res


def residual_sigma(resid: np.ndarray, dof: int) -> float:
    """sqrt(nansum(res²)/dof) — the reference's sigma estimator (utils.py:321-328)."""
    dof = max(dof, 1)
    return float(np.sqrt(np.nansum(resid * resid) / dof))


class ConformalIntervals:
    """Conformal-prediction config (reference utils.py:331-357): ``h``-step
    scores from ``n_windows`` rolling-origin backtest windows; method
    'conformal_distribution' (quantiles over mean±score paths) or
    'conformal_error' (mean ± score quantile)."""

    def __init__(self, n_windows: int = 2, h: int = 1,
                 method: str = "conformal_distribution"):
        if n_windows < 2:
            raise ValueError("n_windows must be >= 2 for conformal intervals")
        if method not in ("conformal_distribution", "conformal_error"):
            raise ValueError(f"unknown conformal method {method!r}")
        self.n_windows = n_windows
        self.h = h
        self.method = method


def _conformal_scores(model, y: np.ndarray, h: int, n_windows: int,
                      X: np.ndarray | None = None) -> np.ndarray:
    """|forecast − actual| over rolling-origin windows (reference
    models.py:188-218): window w trains on y[:n−(n_windows−w)·h] and scores
    the next h points. ``h`` is the CONFIGURED conformal horizon
    (prediction_intervals.h), and like the reference n_windows shrinks for
    short series down to the 2-window minimum (models.py:196-203). Scoring
    goes through ``model.forecast`` (not ``_forecast``) so uses_exog models
    calibrate too — X is sliced per window like y."""
    n = y.size
    n_windows = min(n_windows, (n - 1) // h)
    if n_windows < 2:
        raise ValueError(
            f"conformal intervals need at least {2 * h + 1} observations, "
            f"got {n}")
    cs = np.empty((n_windows, h))
    for w in range(n_windows):
        cut = n - (n_windows - w) * h
        kw = {}
        if model.uses_exog or (model.optional_exog and X is not None):
            if X is None:
                raise ValueError(
                    f"{model.alias} uses exog; conformal calibration needs X")
            kw = {"X": X[:cut], "X_future": X[cut: cut + h]}
        mean = model.forecast(y[:cut].copy(), h, **kw)["mean"]
        cs[w] = np.abs(np.asarray(mean) - y[cut : cut + h])
    return cs


def conformal_intervals(res: dict, cs: np.ndarray, level: list[int],
                        method: str) -> dict:
    """Attach lo/hi columns from conformity scores (reference
    models.py:116-161: _conformal_distribution / _conformal_error)."""
    mean = res["mean"]
    if method == "conformal_distribution":
        paths = np.vstack([mean - cs, mean + cs])  # (2·w, h)
        for lv in sorted(level):
            alpha_lo, alpha_hi = (100 - lv) / 200.0, 1 - (100 - lv) / 200.0
            res[f"lo-{lv}"] = np.quantile(paths, alpha_lo, axis=0)
            res[f"hi-{lv}"] = np.quantile(paths, alpha_hi, axis=0)
    else:
        for lv in sorted(level):
            q = np.quantile(cs, lv / 100.0, axis=0)
            res[f"lo-{lv}"] = mean - q
            res[f"hi-{lv}"] = mean + q
    return res


# --- simulation error sampling ----------------------------------------------
# Re-derivation of reference simulation.py:106-243 sample_errors. Same
# distribution set (normal / t / laplace / skew-normal / ged / bootstrap) and
# same two modes (auto-estimate from residuals when params is None; explicit
# params + sigma otherwise). Deviation, documented: no scipy in this
# environment, so auto-estimation is method-of-moments instead of MLE —
# the distributions agree in mean/variance (and skew/kurtosis where the
# moment exists), not in exact MLE parameter values.

_SIM_DISTRIBUTIONS = ("normal", "t", "laplace", "skew-normal", "ged",
                      "bootstrap", "hash-bootstrap")


def _sample_ged(rng: np.random.Generator, shape: float, size) -> np.ndarray:
    """Standardized generalized-error-distribution sample (variance 1):
    |X| = W^(1/shape) with W~Gamma(1/shape), random sign, then scaled by
    sqrt(Gamma(1/shape)/Gamma(3/shape)) (standard GED representation)."""
    from math import gamma as _g

    w = rng.gamma(1.0 / shape, 1.0, size=size)
    x = np.sign(rng.uniform(-1, 1, size=size)) * w ** (1.0 / shape)
    return x * np.sqrt(_g(1.0 / shape) / _g(3.0 / shape))


def _sample_skewnorm(rng: np.random.Generator, skew_a: float, size) -> np.ndarray:
    """Centered, variance-1 skew-normal(a) via the Azzalini representation
    X = delta·|Z0| + sqrt(1-delta²)·Z1."""
    delta = skew_a / np.sqrt(1.0 + skew_a * skew_a)
    z0 = np.abs(rng.normal(size=size))
    z1 = rng.normal(size=size)
    x = delta * z0 + np.sqrt(1.0 - delta * delta) * z1
    mu = delta * np.sqrt(2.0 / np.pi)
    sd = np.sqrt(1.0 - mu * mu)
    return (x - mu) / sd


def _ged_shape_from_kurtosis(kurt: float) -> float:
    """Invert the GED excess-kurtosis formula Γ(5/β)Γ(1/β)/Γ(3/β)² − 3 by
    bisection on β ∈ [0.3, 10] (β=2 ⇒ normal, β=1 ⇒ laplace)."""
    from math import gamma as _g

    def k(beta):
        return _g(5.0 / beta) * _g(1.0 / beta) / _g(3.0 / beta) ** 2 - 3.0

    lo_b, hi_b = 0.3, 10.0
    target = min(max(kurt, k(hi_b)), k(lo_b))
    for _ in range(60):
        mid = 0.5 * (lo_b + hi_b)
        if k(mid) > target:
            lo_b = mid
        else:
            hi_b = mid
    return 0.5 * (lo_b + hi_b)


def sample_errors(
    size,
    sigma: float,
    distribution: str = "normal",
    params: dict | None = None,
    residuals: np.ndarray | None = None,
    rng: np.random.Generator | None = None,
) -> np.ndarray:
    """Sample simulation errors (reference simulation.py:106-243 contract)."""
    if distribution not in _SIM_DISTRIBUTIONS:
        raise ValueError(
            f"unknown error distribution {distribution!r}; supported: "
            f"{sorted(_SIM_DISTRIBUTIONS)}")
    if rng is None:
        rng = np.random.default_rng()
    clean = None
    if residuals is not None:
        residuals = np.asarray(residuals, dtype=np.float64)
        clean = residuals[np.isfinite(residuals)]

    if distribution == "bootstrap":
        if clean is None or clean.size == 0:
            raise ValueError("bootstrap error distribution requires residuals")
        return rng.choice(clean, size=int(np.prod(size)),
                          replace=True).reshape(size)

    if distribution == "hash-bootstrap":
        # bootstrap with md5-indexed draws instead of rng ones: draw (p, j)
        # is clean[md5(f"{seed}|{p}|{j}")[:8] % n] — a pure function of the
        # (seed, path, step) triple, so an external SQL engine can replay
        # the entire simulation (same convention as the minhash oracle)
        import hashlib

        if clean is None or clean.size == 0:
            raise ValueError(
                "hash-bootstrap error distribution requires residuals")
        hseed = int((params or {}).get("seed", 0))
        n_paths, horizon = size
        idx = np.fromiter(
            (int(hashlib.md5(f"{hseed}|{p}|{j}".encode()).hexdigest()[:8],
                 16) % clean.size
             for p in range(n_paths) for j in range(horizon)),
            dtype=np.int64, count=n_paths * horizon).reshape(size)
        return clean[idx]

    auto = params is None and clean is not None and clean.size >= 10
    if distribution == "normal":
        return rng.normal(0.0, sigma, size=size)
    if distribution == "laplace":
        if auto:
            loc = float(np.median(clean))  # Laplace MLE: median / MAD-mean
            b = max(float(np.mean(np.abs(clean - loc))), 1e-12)
            return rng.laplace(loc, b, size=size)
        return rng.laplace(0.0, sigma / np.sqrt(2.0), size=size)
    if distribution == "t":
        if auto:
            m2 = float(np.var(clean))
            g2 = float(np.mean((clean - clean.mean()) ** 4)) / max(m2**2, 1e-300) - 3.0
            df = 4.0 + 6.0 / g2 if g2 > 0.05 else 50.0  # moments: g2 = 6/(df-4)
            df = min(max(df, 2.5), 100.0)
            scale = np.sqrt(m2 * (df - 2.0) / df)
            return float(np.mean(clean)) + scale * rng.standard_t(df, size=size)
        df = float((params or {}).get("df", 5))
        if df <= 2:
            raise ValueError(f"t distribution needs df > 2, got {df}")
        return sigma * np.sqrt((df - 2.0) / df) * rng.standard_t(df, size=size)
    if distribution == "skew-normal":
        if auto:
            sd = float(np.std(clean))
            g1 = float(np.mean((clean - clean.mean()) ** 3)) / max(sd**3, 1e-300)
            g1 = min(max(g1, -0.95), 0.95)  # |skewness| < 0.9953 for skew-normal
            # invert skewness(delta) = (4-pi)/2 · (delta·sqrt(2/pi))³/(1-2delta²/pi)^1.5
            num = (2.0 * abs(g1) / (4.0 - np.pi)) ** (1.0 / 3.0)
            delta = np.sign(g1) * num / np.sqrt(2.0 / np.pi * (1.0 + num**2))
            delta = min(max(delta, -0.999), 0.999)
            a = delta / np.sqrt(1.0 - delta * delta)
            return float(np.mean(clean)) + sd * _sample_skewnorm(rng, a, size)
        a = float((params or {}).get("skewness", 0.0))
        return sigma * _sample_skewnorm(rng, a, size)
    # ged
    if auto:
        m2 = float(np.var(clean))
        g2 = float(np.mean((clean - clean.mean()) ** 4)) / max(m2**2, 1e-300) - 3.0
        shape = _ged_shape_from_kurtosis(g2)
        return float(np.mean(clean)) + np.sqrt(m2) * _sample_ged(rng, shape, size)
    shape = float((params or {}).get("shape", 2.0))
    if shape <= 0:
        raise ValueError(f"ged shape must be > 0, got {shape}")
    return sigma * _sample_ged(rng, shape, size)


class Model:
    """Base class: stateless per-series forecaster.

    Subclasses implement ``_forecast(y, h, fitted) -> (mean, sigmah, fitted_vals)``
    where ``sigmah`` is the h-vector of forecast-std-errors used for gaussian
    intervals (or None if the model can't produce native intervals — pass
    ``prediction_intervals=ConformalIntervals(...)`` to get conformal ones).
    """

    uses_exog = False
    #: True for models that consume (X, X_future) when the engine provides
    #: them but, unlike uses_exog models, run univariate without them
    optional_exog = False

    def __init__(self, alias: str | None = None,
                 prediction_intervals: ConformalIntervals | None = None):
        self.alias = alias or type(self).__name__
        self.prediction_intervals = prediction_intervals

    def __repr__(self) -> str:
        return self.alias

    @property
    def takes_exog(self) -> bool:
        """Whether the engine hands this model the panel's regressors."""
        return self.uses_exog or self.optional_exog

    # subclass hook
    def _forecast(self, y: np.ndarray, h: int, fitted: bool):
        raise NotImplementedError

    # ------------------------------------------------------------------ #
    # forward contract (reference models.py:565-610): fit parameters once,
    # re-apply them to new data without re-optimizing. Required by
    # cross_validation(refit=False | int) (reference core.py:322-354,
    # validation core.py:1188-1200). Models without tunable parameters get
    # it for free (state = None → forward == forecast).

    #: True for models with tuned/optimized parameters: they must override
    #: fit_state/forward to honor refit=False, else cv(refit≠True) raises
    #: (matching the reference's forward-method validation).
    tunable = False

    def fit_state(self, y: np.ndarray, X: np.ndarray | None = None):
        """Return the reusable parameter state for ``forward``. Default:
        parameter-free models return None. ``X`` is the train regressor
        matrix for uses_exog models (reference fit(y, X), core.py:246-354)."""
        if self.tunable:
            raise NotImplementedError(
                f"{self.alias} is parameterized but implements no forward; "
                "use refit=True")
        return None

    def forward(self, state, y: np.ndarray, h: int,
                level: list[int] | None = None, fitted: bool = False,
                X: np.ndarray | None = None,
                X_future: np.ndarray | None = None) -> dict:
        """Apply a previously fitted ``state`` to (possibly longer) data
        ``y``. Default = plain forecast — exactly correct for
        parameter-free models (there is nothing to re-apply). Exog models
        receive the window's (X, X_future) like the reference's forward
        (core.py:346-354)."""
        if self.tunable:
            raise NotImplementedError(
                f"{self.alias} is parameterized but implements no forward; "
                "use refit=True")
        return self.forecast(y, h, level=level, fitted=fitted,
                             X=X, X_future=X_future)

    # exog-aware subclass hook (only called when uses_exog=True)
    def _forecast_exog(self, y, h, fitted, X, X_future):
        raise NotImplementedError

    def forecast(
        self,
        y: np.ndarray,
        h: int,
        level: list[int] | None = None,
        fitted: bool = False,
        X: np.ndarray | None = None,
        X_future: np.ndarray | None = None,
    ) -> dict:
        y = np.asarray(y, dtype=np.float64)
        if self.uses_exog and (X is None or X_future is None):
            raise ValueError(
                f"{self.alias} uses exogenous regressors; pass X (train) "
                "and X_future (h rows)")  # reference core.py:753-764
        # optional_exog models (ARIMA/AutoARIMA xreg) consume regressors
        # when the engine provides them but run univariate otherwise
        if self.takes_exog and X is not None and X_future is not None:
            mean, sigmah, fitted_vals = self._forecast_exog(
                y, h, fitted or bool(level), np.asarray(X, dtype=np.float64),
                np.asarray(X_future, dtype=np.float64))
        else:
            mean, sigmah, fitted_vals = self._forecast(y, h, fitted or bool(level))
        res = {"mean": np.asarray(mean, dtype=np.float64)}
        if fitted and fitted_vals is not None:
            res["fitted"] = np.asarray(fitted_vals, dtype=np.float64)
        if level:
            if self.prediction_intervals is not None:
                pi = self.prediction_intervals
                if h > pi.h:
                    raise ValueError(
                        f"forecast h={h} exceeds the conformal horizon "
                        f"h={pi.h} configured in ConformalIntervals; "
                        "calibration windows are sized by the configured h "
                        "(reference models.py:196)")
                cs = _conformal_scores(self, y, pi.h, pi.n_windows, X=X)
                conformal_intervals(res, cs[:, :h], level, pi.method)
            elif sigmah is None:
                raise ValueError(
                    f"{self.alias} has no native prediction intervals; pass "
                    "prediction_intervals=ConformalIntervals(...)"
                )
            else:
                add_intervals(res, np.asarray(sigmah, dtype=np.float64), level)
        return res

    def simulate(
        self,
        y: np.ndarray,
        h: int,
        n_paths: int = 100,
        seed: int = 0,
        error_dist: str = "normal",
        error_params: dict | None = None,
    ) -> np.ndarray:
        """(n_paths, h) sample trajectories with errors ACCUMULATED through
        each model's own forecast recursion (reference models.py per-model
        ``simulate``: Naive models.py:3527-3553 cumsum, SeasonalNaive
        models.py:4038-4044 seasonal carry, SES models.py:2419-2428 level
        update) — NOT mean + iid noise, which understates path variance for
        any model whose forecast error compounds. Errors come from
        ``sample_errors`` (normal / t / laplace / skew-normal / ged /
        bootstrap, reference simulation.py:106-243).

        The caller supplies a partition-independent seed — the engine derives
        it from (root_seed, unique_id), deliberately NOT the reference's
        positional scheme (core.py:972), which depends on group order."""
        y = np.asarray(y, dtype=np.float64)
        mean, _, fitted_vals = self._forecast(y, h, True)
        mean = np.asarray(mean, dtype=np.float64)
        if fitted_vals is not None:
            resid = y - np.asarray(fitted_vals, dtype=np.float64)
            resid = resid[np.isfinite(resid)]
        else:
            resid = np.empty(0)
        if resid.size < 3:
            resid = y - np.nanmean(y)
        sigma = self._sim_sigma(y, resid)
        rng = np.random.default_rng(seed)
        if error_dist == "hash-bootstrap":
            error_params = {**(error_params or {}), "seed": seed}
        errs = sample_errors((n_paths, h), sigma, error_dist, error_params,
                             resid, rng)
        return self._sim_paths(y, h, mean, errs)

    # -- simulate hooks ------------------------------------------------- #
    def _sim_sigma(self, y: np.ndarray, resid: np.ndarray) -> float:
        """Error scale for simulation; models with a variance adjustment
        (HistoricAverage 1+1/n, RWD 1+1/(n-1)) override."""
        return float(np.sqrt(np.mean(resid**2)))

    def _sim_paths(self, y: np.ndarray, h: int, mean: np.ndarray,
                   errs: np.ndarray) -> np.ndarray:
        """Apply the model's stochastic recursion to pre-sampled errors.
        Default: flat mean + iid errors — exactly right for models whose
        forecast is a fixed function of the training data with no carry
        (HistoricAverage, WindowAverage; reference models.py:3340-3343).
        Models with compounding errors override."""
        return mean[None, :] + errs
