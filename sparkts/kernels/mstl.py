"""MSTL — multi-seasonal-trend decomposition by loess, plus the MSTL
forecasting model.

The reference wraps statsmodels' STL (reference mstl.py:11-81, R-style
s_window = 7+4k per seasonal period mstl.py:26-32) and forecasts the
deseasonalized series with a trend forecaster (default AutoETS('ZZN'),
reference models.py:5937), re-seasonalizing by tiling the last seasonal
cycle (models.py:5893-5911). statsmodels is not available here, so STL
itself is re-implemented from the published algorithm (Cleveland, Cleveland,
McRae & Terpenning 1990): cycle-subseries loess → low-pass (3 moving
averages + loess) → detrended seasonal → trend loess, 2 inner iterations,
non-robust (the statsmodels defaults the reference relies on).

Pure numpy per series; O(n·q) loess is fine at downsampled-tier lengths.
"""

from __future__ import annotations

import numpy as np

from sparkts.kernels.base import Model, add_intervals, residual_sigma
from sparkts.kernels.ets import AutoETS


def _loess(y: np.ndarray, q: int, degree: int = 1,
           at: np.ndarray | None = None) -> np.ndarray:
    """Loess-smooth ``y`` (positions 0..n-1) evaluated at ``at`` (defaults
    to all input positions; may extrapolate). Tricube weights over the ``q``
    nearest points, local polynomial of ``degree``."""
    n = y.size
    if at is None:
        at = np.arange(n, dtype=np.float64)
    else:
        at = np.asarray(at, dtype=np.float64)
    q = min(max(int(q), 2), n)
    # Row-vectorized over evaluation points: same neighbor rule
    # (lo = clip(floor(x0) − q//2, 0, n−q)) and the same per-row tricube /
    # weighted-least-squares formulas as the scalar loop this replaces —
    # only the reduction order changes (axis-1 sums vs np.dot), i.e. ~1 ulp.
    lo = np.clip(np.floor(at).astype(np.int64) - q // 2, 0, n - q)
    idx = lo[:, None] + np.arange(q)[None, :]          # (m, q) window indices
    xw = idx.astype(np.float64)
    d = np.abs(xw - at[:, None])
    dmax = d.max(axis=1)
    degenerate = dmax <= 0                             # window collapses to x0
    dsafe = np.where(degenerate, 1.0, dmax)
    w = (1 - (d / (dsafe * 1.0001)[:, None]) ** 3) ** 3
    yw = y[idx]
    if degree == 0:
        out = (w * yw).sum(axis=1) / w.sum(axis=1)
    else:
        xc = xw - at[:, None]
        sw = w.sum(axis=1)
        swx = (w * xc).sum(axis=1)
        swx2 = (w * xc * xc).sum(axis=1)
        swy = (w * yw).sum(axis=1)
        swxy = (w * xc * yw).sum(axis=1)
        det = sw * swx2 - swx * swx
        singular = np.abs(det) < 1e-12
        out = np.where(singular, swy / sw,
                       (swx2 * swy - swx * swxy)
                       / np.where(singular, 1.0, det))  # intercept at x0
    if degenerate.any():
        out[degenerate] = y[at[degenerate].astype(np.int64)]
    return out


def _odd_at_least(v: float) -> int:
    k = int(np.ceil(v))
    return k if k % 2 == 1 else k + 1


def stl(y: np.ndarray, period: int, seasonal: int = 7,
        inner_iter: int = 2) -> dict:
    """One-period STL; returns {'seasonal','trend','remainder'}.

    Follows the published algorithm's structure with loess degree 1 and the
    standard default windows: trend = odd ≥ 1.5·m/(1−1.5/s_window),
    low-pass = odd ≥ m."""
    y = np.asarray(y, dtype=np.float64)
    n = y.size
    m = int(period)
    if n < 2 * m:
        raise ValueError(f"STL needs ≥ 2 periods; n={n}, period={m}")
    s_win = _odd_at_least(seasonal)
    t_win = _odd_at_least(1.5 * m / (1 - 1.5 / s_win))
    l_win = _odd_at_least(m)
    trend = np.zeros(n)
    seasonal_c = np.zeros(n)
    for _ in range(max(inner_iter, 1)):
        detr = y - trend
        # cycle-subseries smoothing, extended one cycle each side → len n+2m
        C = np.empty(n + 2 * m)
        for ph in range(m):
            sub = detr[ph::m]
            k = sub.size
            at = np.arange(-1, k + 1, dtype=np.float64)
            sm = _loess(sub, min(s_win, k), degree=1, at=at)
            # positions in C: extended index e = (cycle+1)*m + ph over cycles -1..k
            C[ph + m * (at + 1).astype(int)] = sm
        # low-pass: MA(m) x2 + MA(3), then loess(l_win, deg 1) → length n
        L = np.convolve(C, np.ones(m) / m, mode="valid")
        L = np.convolve(L, np.ones(m) / m, mode="valid")
        L = np.convolve(L, np.ones(3) / 3, mode="valid")  # len n+2m-2m-2+... = n
        L = _loess(L, l_win, degree=1)
        seasonal_c = C[m:-m] - L
        trend = _loess(y - seasonal_c, t_win, degree=1)
    remainder = y - trend - seasonal_c
    return {"seasonal": seasonal_c, "trend": trend, "remainder": remainder}


def mstl(y: np.ndarray, periods: list[int], iterate: int = 2,
         s_windows: list[int] | None = None) -> dict:
    """Multi-seasonal STL (reference mstl.py:11-81): iterate STL once per
    period (ascending), refining each seasonal against the others;
    s_window defaults to 7+4k for the k-th period (mstl.py:26-32)."""
    y = np.asarray(y, dtype=np.float64)
    if np.isnan(y).any():
        raise ValueError("MSTL does not support missing values")  # mstl.py:37-41
    periods = sorted(int(p) for p in periods)
    periods = [p for p in periods if y.size >= 2 * p and p > 1]
    if s_windows is None:
        s_windows = [7 + 4 * (k + 1) for k in range(len(periods))]
    seasonals = {p: np.zeros(y.size) for p in periods}
    trend = np.zeros(y.size)
    if not periods:
        trend = _loess(y, _odd_at_least(1.5 * max(len(y) // 10, 3)), degree=1)
        return {"trend": trend, "remainder": y - trend, "seasonals": {}}
    for _ in range(max(iterate, 1)):
        for k, p in enumerate(periods):
            deseas = y - sum(s for q, s in seasonals.items() if q != p)
            res = stl(deseas, p, seasonal=s_windows[k])
            seasonals[p] = res["seasonal"]
            trend = res["trend"]
    remainder = y - trend - sum(seasonals.values())
    return {"trend": trend, "remainder": remainder, "seasonals": seasonals}


class MSTL(Model):
    """MSTL forecast model (reference models.py:5914): decompose, forecast
    trend+remainder with ``trend_forecaster`` (default AutoETS('ZZN')),
    re-seasonalize by tiling each seasonal component's last cycle."""

    tunable = True

    def __init__(self, season_length: int | list[int],
                 trend_forecaster: Model | None = None,
                 alias: str | None = None):
        super().__init__(alias or "MSTL")
        self.periods = ([season_length] if isinstance(season_length, int)
                        else list(season_length))
        self.trend_forecaster = trend_forecaster or AutoETS(1, "ZZN")

    def _forecast(self, y, h, fitted):
        dec = mstl(y, self.periods)
        deseason = dec["trend"] + dec["remainder"]
        sub = self.trend_forecaster.forecast(deseason, h, fitted=fitted)
        seas_fc = np.zeros(h)
        seas_fit = np.zeros(y.size)
        for p, s in dec["seasonals"].items():
            last = s[-p:]
            seas_fc += np.tile(last, h // p + 1)[:h]  # models.py:5893-5911
            seas_fit += s
        mean = sub["mean"] + seas_fc
        resid = y - (sub.get("fitted", deseason) + seas_fit) if fitted else None
        sigma = residual_sigma(dec["remainder"], max(y.size - 1, 1))
        sigmah = np.full(h, sigma)
        fitted_vals = (sub["fitted"] + seas_fit) if fitted and "fitted" in sub else None
        _ = resid
        return mean, sigmah, fitted_vals

    # ---- forward contract (reference MSTL.forward, models.py:6098-6140):
    # the decomposition is NOT a tuned parameter — it re-runs on the new
    # data; only the trend forecaster's state is pinned and forwarded.
    def fit_state(self, y, X=None):
        y = np.asarray(y, dtype=np.float64)
        dec = mstl(y, self.periods)
        return {"trend_state":
                self.trend_forecaster.fit_state(dec["trend"] + dec["remainder"])}

    def forward(self, state, y, h, level=None, fitted=False,
                X=None, X_future=None):
        y = np.asarray(y, dtype=np.float64)
        dec = mstl(y, self.periods)
        deseason = dec["trend"] + dec["remainder"]
        sub = self.trend_forecaster.forward(state["trend_state"], deseason,
                                            h, fitted=fitted)
        seas_fc = np.zeros(h)
        seas_fit = np.zeros(y.size)
        for p, s in dec["seasonals"].items():
            seas_fc += np.tile(s[-p:], h // p + 1)[:h]
            seas_fit += s
        res = {"mean": np.asarray(sub["mean"], dtype=np.float64) + seas_fc}
        if fitted and "fitted" in sub:
            res["fitted"] = np.asarray(sub["fitted"],
                                       dtype=np.float64) + seas_fit
        if level:
            sigma = residual_sigma(dec["remainder"], max(y.size - 1, 1))
            add_intervals(res, np.full(h, sigma), level)
        return res
