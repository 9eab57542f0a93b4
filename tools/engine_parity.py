"""Dump and diff the output of every SparkForecast method path.

A refactor of ``sparkts/engine.py`` must leave every method's output
bit-identical. This script runs the 17 method paths below on fixed panels
(30 daily series; 12 integer-time series with two regressors) and writes
each output as a pandas pickle; ``--compare`` sorts both dumps by their key
columns and diffs them with ``assert_frame_equal(check_exact=True)``, so
``fit`` state blobs must be byte-equal.

Usage:
    python tools/engine_parity.py OUT_DIR          # dump, from this tree
    python tools/engine_parity.py --compare A B    # diff two dumps

To compare two trees, copy this file into the other tree's ``tools/`` and
dump from there too; each run imports ``sparkts`` from its own tree.
"""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import numpy as np  # noqa: E402
import pandas as pd  # noqa: E402

#: columns that identify a row, in sort order, where an output has them
KEYS = ["unique_id", "model", "frame", "cutoff", "ds", "sample_id"]


def _daily(rng, n_series=30, short=()):
    """Daily seasonal series of unequal length; ids in ``short`` get 8
    points (too few for the cv windows below)."""
    rows = []
    for i in range(n_series):
        uid = f"d{i:02d}"
        n = 8 if uid in short else 40 + 3 * i
        t = np.arange(n)
        y = 50 + 10 * np.sin(2 * np.pi * t / 7) + 0.3 * t + rng.normal(0, 2, n)
        rows.append(pd.DataFrame({
            "unique_id": uid,
            "ds": pd.date_range("2024-01-01", periods=n, freq="D"),
            "y": y}))
    return pd.concat(rows, ignore_index=True)


def _exog(rng, n_series=12, h=4):
    """(panel, X_df): integer time, y linear in x1, x2 plus noise; X_df has
    the h future rows per id."""
    rows, future = [], []
    for i in range(n_series):
        n = 30 + 2 * i
        x = rng.normal(0, 1, (n + h, 2))
        y = 5 + i + 2 * x[:, 0] - x[:, 1] + rng.normal(0, 0.5, n + h)
        uid = f"x{i:02d}"
        rows.append(pd.DataFrame({"unique_id": uid, "ds": np.arange(n),
                                  "y": y[:n], "x1": x[:n, 0],
                                  "x2": x[:n, 1]}))
        future.append(pd.DataFrame({"unique_id": uid,
                                    "ds": np.arange(n, n + h),
                                    "x1": x[n:, 0], "x2": x[n:, 1]}))
    return (pd.concat(rows, ignore_index=True),
            pd.concat(future, ignore_index=True))


def dump(out_dir: str) -> None:
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    from sparkts import SparkForecast
    from sparkts.kernels import (ARIMA, AutoETS, AutoTheta, FailingModel,
                                 LinearRegression, Naive, SeasonalNaive,
                                 SimpleExponentialSmoothingOptimized)
    from sparkts.kernels.mstl import MSTL
    from sparkts.operators.features import mstl_decomposition
    from sparkts.session import get_spark

    spark = get_spark("engine-parity", master="local[4]",
                      shuffle_partitions=8,
                      extra_conf={"spark.ui.showConsoleProgress": "false"})
    rng = np.random.default_rng(0)
    daily = spark.createDataFrame(_daily(rng))
    some_short = spark.createDataFrame(
        _daily(rng, short={"d03", "d07", "d11"}))
    all_short = spark.createDataFrame(_daily(rng, n_series=4,
                                             short={f"d{i:02d}"
                                                    for i in range(4)}))
    ex_pdf, xf_pdf = _exog(rng)
    ex, X_df = spark.createDataFrame(ex_pdf), spark.createDataFrame(xf_pdf)

    eng = SparkForecast([Naive(), SeasonalNaive(7),
                         SimpleExponentialSmoothingOptimized(), AutoETS(7),
                         AutoTheta(7), FailingModel()], freq="D",
                        fallback_model=Naive())
    fp = SparkForecast([Naive(), SeasonalNaive(7),
                        SimpleExponentialSmoothingOptimized(), AutoETS(7),
                        FailingModel()], freq="D", fallback_model=Naive())
    xeng = SparkForecast([LinearRegression(), ARIMA((1, 0, 0)), Naive(),
                          FailingModel()], freq=1, fallback_model=Naive())
    xfp = SparkForecast([ARIMA((1, 0, 0)), Naive(), FailingModel()], freq=1,
                        fallback_model=Naive())
    states, xstates = fp.fit(daily), xfp.fit(ex)
    cv = dict(h=5, n_windows=3, step_size=2)
    paths = {
        "forecast": lambda: eng.forecast(daily, h=7),
        "forecast_level": lambda: eng.forecast(daily, h=7, level=[80, 95]),
        "forecast_exog": lambda: xeng.forecast(ex, h=4, level=[90],
                                               X_df=X_df),
        "fit": lambda: states,
        "predict": lambda: fp.predict(states, h=7, level=[90]),
        "fit_exog": lambda: xstates,
        "predict_exog": lambda: xfp.predict(xstates, h=4, level=[90],
                                            X_df=X_df),
        "cv_refit_true": lambda: eng.cross_validation(daily, level=[90],
                                                      **cv),
        "cv_refit_false": lambda: fp.cross_validation(daily, refit=False,
                                                      **cv),
        "cv_refit_2": lambda: fp.cross_validation(daily, refit=2, **cv),
        "cv_exog_refit_false": lambda: xfp.cross_validation(
            ex, refit=False, **cv),
        "cv_drop_short_some": lambda: eng.cross_validation(
            some_short, drop_short=True, **cv),
        "cv_drop_short_all": lambda: eng.cross_validation(
            all_short, drop_short=True, **cv),
        "fitted_values": lambda: eng.fitted_values(daily, level=[90]),
        "cv_fitted_values": lambda: eng.cross_validation_fitted_values(
            daily, **cv),
        "simulate": lambda: fp.simulate(daily, h=5, n_paths=4, seed=7),
        "mstl_decomposition": lambda: mstl_decomposition(
            daily, MSTL(7), "D", h=7),
    }
    os.makedirs(out_dir, exist_ok=True)
    for name, run in paths.items():
        out = run().toPandas()
        out.to_pickle(os.path.join(out_dir, f"{name}.pkl"))
        print(f"{name}: {len(out)} rows")
    spark.stop()


def _sorted(df: pd.DataFrame) -> pd.DataFrame:
    keys = [k for k in KEYS if k in df.columns]
    return df.sort_values(keys, kind="stable").reset_index(drop=True)


def compare(a_dir: str, b_dir: str) -> int:
    names = sorted(f for f in os.listdir(a_dir) if f.endswith(".pkl"))
    if names != sorted(f for f in os.listdir(b_dir) if f.endswith(".pkl")):
        print("the two dumps hold different paths")
        return 1
    bad = 0
    for f in names:
        a = _sorted(pd.read_pickle(os.path.join(a_dir, f)))
        b = _sorted(pd.read_pickle(os.path.join(b_dir, f)))
        try:
            pd.testing.assert_frame_equal(a, b, check_exact=True)
            print(f"{f[:-4]}: identical ({len(a)} rows)")
        except AssertionError as e:
            bad += 1
            print(f"{f[:-4]}: DIFFERS\n{e}")
    print(f"{len(names) - bad} of {len(names)} paths identical")
    return 1 if bad else 0


if __name__ == "__main__":
    if len(sys.argv) == 4 and sys.argv[1] == "--compare":
        sys.exit(compare(sys.argv[2], sys.argv[3]))
    if len(sys.argv) == 2:
        dump(sys.argv[1])
        sys.exit(0)
    sys.exit(__doc__)
