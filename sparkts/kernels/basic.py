"""Baseline forecasting kernels.

Semantics re-derived from the reference's model zoo (Nixtla/statsforecast):
Naive (reference utils.py:268-278), SeasonalNaive (utils.py:231-261 incl. the
partial-season NaN alignment), HistoricAverage (models.py:3208-3217),
RandomWalkWithDrift (models.py:3677-3693), WindowAverage (models.py:4562-4574),
SeasonalWindowAverage (models.py:4705-4719). Interval (sigmah) formulas per
model follow the reference (cited per class). All pure numpy; every model is
exercised per-series inside the engine's ``mapInPandas`` kernel.
"""

from __future__ import annotations

import numpy as np

from sparkts.kernels.base import Model, residual_sigma


def _tile_seasonal(season_vals: np.ndarray, h: int) -> np.ndarray:
    """Tile a length-m seasonal vector out to h steps (utils.py:220-222)."""
    m = season_vals.size
    reps = int(np.ceil(h / m))
    return np.tile(season_vals, reps)[:h]


class Naive(Model):
    """Repeat the last value. sigmah = σ·√step (reference models.py:3636-3640)."""

    def _forecast(self, y, h, fitted):
        n = y.size
        mean = np.full(h, y[-1])
        fitted_vals = np.full(n, np.nan)
        fitted_vals[1:] = y[:-1]
        resid = y - fitted_vals
        sigma = residual_sigma(resid, n - 1)
        sigmah = sigma * np.sqrt(np.arange(1, h + 1))
        return mean, sigmah, fitted_vals

    def _sim_paths(self, y, h, mean, errs):
        # random walk: y_{T+i} = y_T + Σ e (reference models.py:3539-3553);
        # path variance grows linearly in i, matching sigmah = σ·√step
        return y[-1] + np.cumsum(errs, axis=1)


class SeasonalNaive(Model):
    """Tile the last season to h steps.

    Partial season (n < m): observations align to their seasonal positions
    at the *end* of the season vector, earlier positions forecast NaN
    (reference utils.py:241-252). sigma dof = n - m (models.py:3969);
    sigmah = σ·√(⌊(step-1)/m⌋ + 1) (models.py:4074).
    """

    def __init__(self, season_length: int, alias: str | None = None):
        super().__init__(alias or "SeasonalNaive")
        self.season_length = int(season_length)

    def _forecast(self, y, h, fitted):
        m = self.season_length
        n = y.size
        season_vals = np.full(m, np.nan)
        k = min(m, n)
        season_vals[m - k:] = y[-k:]
        mean = _tile_seasonal(season_vals, h)
        fitted_vals = np.full(n, np.nan)
        if n > m:
            fitted_vals[m:] = y[:-m]
        resid = y - fitted_vals
        sigma = residual_sigma(resid, n - m)
        steps = np.arange(1, h + 1)
        sigmah = sigma * np.sqrt((steps - 1) // m + 1)
        return mean, sigmah, fitted_vals

    def _sim_paths(self, y, h, mean, errs):
        # seasonal random walk: step i carries the simulated value one season
        # back, paths[:, i] = paths[:, i-m] + e (reference models.py:4038-4044)
        # so variance grows ~√(⌊i/m⌋+1), matching sigmah
        m = self.season_length
        paths = np.empty_like(errs)
        for i in range(h):
            prev = mean[i] if i < m else paths[:, i - m]
            paths[:, i] = prev + errs[:, i]
        return paths


class HistoricAverage(Model):
    """Global mean; fitted = the mean everywhere (models.py:3208-3217);
    sigmah = σ·√(1 + 1/n), constant in h (models.py:3300)."""

    def _forecast(self, y, h, fitted):
        n = y.size
        mu = float(np.mean(y))
        mean = np.full(h, mu)
        fitted_vals = np.full(n, mu)
        sigma = residual_sigma(y - mu, n - 1)
        sigmah = np.full(h, sigma * np.sqrt(1 + 1 / n))
        return mean, sigmah, fitted_vals

    def _sim_sigma(self, y, resid):
        # prediction variance σ²·(1 + 1/n) (reference models.py:3333-3336);
        # errors stay iid — the base flat _sim_paths is the correct recursion
        n = y.size
        return residual_sigma(resid, n - 1) * np.sqrt(1 + 1 / n)


class RandomWalkWithDrift(Model):
    """last + slope·step, slope = (y_n − y_1)/(n−1) (models.py:3677-3693);
    sigmah = σ·√(step·(1 + step/(n−1))) (models.py:3778)."""

    def __init__(self, alias: str | None = None):
        super().__init__(alias or "RWD")

    def _forecast(self, y, h, fitted):
        n = y.size
        slope = (y[-1] - y[0]) / (n - 1) if n > 1 else 0.0
        steps = np.arange(1, h + 1, dtype=np.float64)
        mean = y[-1] + slope * steps
        fitted_vals = np.full(n, np.nan)
        fitted_vals[1:] = y[:-1] + slope
        sigma = residual_sigma(y - fitted_vals, n - 1)
        sigmah = sigma * np.sqrt(steps * (1 + steps / max(n - 1, 1)))
        return mean, sigmah, fitted_vals

    def _sim_sigma(self, y, resid):
        # drift-estimation uncertainty: σ·√(1 + 1/(n-1)) (models.py:3836-3841)
        n = y.size
        return residual_sigma(resid, n - 1) * np.sqrt(1 + 1 / max(n - 1, 1))

    def _sim_paths(self, y, h, mean, errs):
        # y_{T+i} = y_T + i·slope + Σ e (reference models.py:3843-3853):
        # mean already holds last + slope·step, errors accumulate
        return mean[None, :] + np.cumsum(errs, axis=1)


class WindowAverage(Model):
    """Mean of the trailing ``window_size`` points (models.py:4562-4574).
    NaN forecast when the series is shorter than the window; no native
    intervals (conformal-only in the reference, models.py:4603)."""

    def __init__(self, window_size: int, alias: str | None = None):
        super().__init__(alias or "WindowAverage")
        self.window_size = int(window_size)

    def _forecast(self, y, h, fitted):
        w = self.window_size
        if y.size < w:
            return np.full(h, np.nan), None, None
        return np.full(h, float(np.mean(y[-w:]))), None, None


class SeasonalWindowAverage(Model):
    """Per-phase mean over the last ``window_size`` seasonal cycles
    (models.py:4705-4719). No native intervals."""

    def __init__(self, season_length: int, window_size: int, alias: str | None = None):
        super().__init__(alias or "SeasWA")
        self.season_length = int(season_length)
        self.window_size = int(window_size)

    def _forecast(self, y, h, fitted):
        m, w = self.season_length, self.window_size
        need = m * w
        if y.size < need:
            return np.full(h, np.nan), None, None
        season_avgs = y[-need:].reshape(w, m).mean(axis=0)
        return _tile_seasonal(season_avgs, h), None, None
