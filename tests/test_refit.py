"""cross_validation refit semantics + the forward contract
(reference core.py:322-354; validation core.py:1188-1200)."""

import numpy as np
import pytest

from sparkts.engine import SparkForecast
from sparkts.kernels import (
    ARIMA,
    AutoCES,
    AutoETS,
    Naive,
    SimpleExponentialSmoothing,
    SimpleExponentialSmoothingOptimized,
)


@pytest.fixture(scope="module")
def y():
    rng = np.random.default_rng(0)
    t = np.arange(200)
    return 30 + 0.1 * t + 5 * np.sin(2 * np.pi * t / 12) + rng.normal(0, 1, 200)


class TestForwardContract:
    def test_sesopt_forward_reuses_alpha(self, y):
        m = SimpleExponentialSmoothingOptimized()
        state = m.fit_state(y[:150])
        fwd = m.forward(state, y[:150], 5)
        ref = SimpleExponentialSmoothing(state["alpha"]).forecast(y[:150], 5)
        np.testing.assert_allclose(fwd["mean"], ref["mean"])

    def test_autoets_forward_matches_spec(self, y):
        m = AutoETS(12)
        state = m.fit_state(y)
        fwd = m.forward(state, y, 6)
        full = m.forecast(y, 6)
        # same data, same params → forward ≈ fresh fit (init-state heuristic
        # identical; optimizer refinement is the only difference)
        np.testing.assert_allclose(fwd["mean"], full["mean"], rtol=0.25, atol=3.0)

    def test_arima_forward_reapplies_coefs(self, y):
        m = ARIMA((1, 0, 0), include_mean=True)
        state = m.fit_state(y[:150])
        fwd = m.forward(state, y, 4)  # longer series, fixed coefs
        assert np.all(np.isfinite(fwd["mean"]))
        # forecast stays inside the data's range (mean-reverting AR(1))
        assert y.min() - 5 < fwd["mean"][0] < y.max() + 5
        # and the state's coefficients were reused, not re-estimated
        state2 = m.fit_state(y)
        assert not np.array_equal(state["coef"], state2["coef"])

    def test_parameter_free_forward_is_forecast(self, y):
        m = Naive()
        state = m.fit_state(y)
        assert state is None
        np.testing.assert_allclose(m.forward(None, y, 3)["mean"],
                                   m.forecast(y, 3)["mean"])

    def test_tunable_without_forward_raises(self, y):
        from sparkts.kernels.base import Model

        class _TunedNoForward(Model):
            tunable = True

            def _forecast(self, y_, h, fitted):
                return np.zeros(h), None, None

        m = _TunedNoForward()
        with pytest.raises(NotImplementedError):
            m.fit_state(y)
        with pytest.raises(NotImplementedError):
            m.forward(None, y, 3)

    @pytest.mark.parametrize("family", [
        "theta", "ces", "tbats", "garch", "mstl", "mfles", "automfles",
        "seases", "croston", "adida", "imapa",
    ])
    def test_every_tunable_family_forward_matches_forecast_same_y(
            self, y, family):
        """forward(fit_state(y), y) == forecast(y): re-applying the state
        to the data it was fitted on must reproduce the fit (all parameters
        pinned at their optimized values)."""
        from sparkts.kernels import (ADIDA, GARCH, IMAPA, MSTL, AutoMFLES,
                                     AutoTBATS, AutoTheta, CrostonOptimized)
        from sparkts.kernels import MFLES as MFLESModel
        from sparkts.kernels.smoothing import (
            SeasonalExponentialSmoothingOptimized)

        sparse = np.zeros(80)
        sparse[::7] = np.arange(1, 13, dtype=float)[: sparse[::7].size]
        data = {"theta": (AutoTheta(season_length=12), y),
                "ces": (AutoCES(12), y),
                "tbats": (AutoTBATS(season_length=12), y),
                "garch": (GARCH(1, 1), np.diff(np.log(np.abs(y) + 1)) * 10),
                "mstl": (MSTL(season_length=12), y),
                "mfles": (MFLESModel(season_length=12), y),
                "automfles": (AutoMFLES(season_length=12, test_size=6), y),
                "seases": (SeasonalExponentialSmoothingOptimized(12), y),
                "croston": (CrostonOptimized(), sparse),
                "adida": (ADIDA(), sparse),
                "imapa": (IMAPA(), sparse)}
        m, yy = data[family]
        state = m.fit_state(yy)
        fwd = m.forward(state, yy, 5)
        ref = m.forecast(yy, 5)
        np.testing.assert_allclose(fwd["mean"], ref["mean"],
                                   rtol=1e-9, atol=1e-9)

    def test_theta_forward_pins_parameters(self, y):
        """refit=False must NOT re-run the Nelder-Mead search: the state
        fitted on a short window, forwarded to a longer window, differs
        from a fresh refit on that longer window (reference forward_theta
        semantics, theta.py:549-562)."""
        from sparkts.kernels import AutoTheta

        m = AutoTheta(season_length=12)
        state = m.fit_state(y[:120])
        fwd = m.forward(state, y, 6)["mean"]
        refit = m.forecast(y, 6)["mean"]
        assert not np.allclose(fwd, refit)

    def test_csp_forward_is_forecast_by_design(self, y):
        """Reference parity: CSP.forward delegates to forecast verbatim
        (models.py:4469-4495) — the calibration pool intentionally
        re-derives from the forwarded data."""
        from sparkts.kernels.csp import ConformalSeasonalPool

        m = ConformalSeasonalPool(12, sampler="hash", seed=3)
        state = m.fit_state(y[:120])
        assert state is None
        fwd = m.forward(state, y, 4, level=[80])
        ref = m.forecast(y, 4, level=[80])
        for k in fwd:
            np.testing.assert_allclose(fwd[k], ref[k])


class TestCvRefit:
    @pytest.fixture(scope="class")
    def panel(self, spark):
        import pandas as pd

        rng = np.random.default_rng(1)
        frames = []
        for uid in ("a", "b"):
            t = np.arange(150)
            yv = 20 + 0.05 * t + 3 * np.sin(2 * np.pi * t / 12) + rng.normal(0, 0.5, 150)
            frames.append(pd.DataFrame({
                "unique_id": uid,
                "ds": pd.date_range("2025-01-01", periods=150, freq="D"),
                "y": yv}))
        return spark.createDataFrame(pd.concat(frames))

    def test_refit_false_runs_and_matches_shape(self, spark, panel):
        eng = SparkForecast([SimpleExponentialSmoothingOptimized(), Naive()],
                            freq="D")
        out_t = eng.cross_validation(panel, h=6, n_windows=3, step_size=6,
                                     refit=True).toPandas()
        out_f = eng.cross_validation(panel, h=6, n_windows=3, step_size=6,
                                     refit=False).toPandas()
        assert out_t.shape == out_f.shape
        # Naive is parameter-free: identical under both modes
        np.testing.assert_allclose(
            out_t.sort_values(["unique_id", "cutoff", "ds"])["Naive"].to_numpy(),
            out_f.sort_values(["unique_id", "cutoff", "ds"])["Naive"].to_numpy())

    def test_refit_int(self, spark, panel):
        eng = SparkForecast([SimpleExponentialSmoothingOptimized()], freq="D")
        out = eng.cross_validation(panel, h=6, n_windows=4, step_size=6,
                                   refit=2).toPandas()
        assert len(out) == 2 * 4 * 6

    def test_refit_false_requires_forward(self, spark, panel):
        from sparkts.kernels.base import Model

        class _TunedNoForward(Model):
            tunable = True

            def _forecast(self, y_, h, fitted):
                return np.zeros(h), None, None

        eng = SparkForecast([_TunedNoForward()], freq="D")
        with pytest.raises(ValueError, match="forward"):
            eng.cross_validation(panel, h=6, n_windows=2, refit=False)

    def test_fit_requires_forward_before_any_job(self, spark, panel):
        """fit rejects a tunable model without forward at call time, as
        cross_validation(refit=False) does — no Spark job starts."""
        from sparkts.kernels.base import Model

        class _TunedNoForward(Model):
            tunable = True

            def _forecast(self, y_, h, fitted):
                return np.zeros(h), None, None

        sc = spark.sparkContext
        group = "fit-requires-forward"
        sc.setJobGroup(group, "fit must reject before any job")
        try:
            with pytest.raises(ValueError, match="forward"):
                SparkForecast([_TunedNoForward(), Naive()], freq="D").fit(panel)
            assert sc.statusTracker().getJobIdsForGroup(group) == []
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)

    def test_refit_false_differs_from_refit_true_for_tuned_models(
            self, spark, panel):
        """The theta/CSP silent-refit defect, regression-guarded at the
        engine level: a tuned model under refit=False must produce
        DIFFERENT later-window forecasts than under refit=True (window-0
        parameters re-applied, not re-searched)."""
        from sparkts.kernels import AutoTheta

        eng = SparkForecast([AutoTheta(season_length=12)], freq="D")
        kw = dict(h=6, n_windows=3, step_size=6)
        out_t = (eng.cross_validation(panel, refit=True, **kw).toPandas()
                 .sort_values(["unique_id", "cutoff", "ds"]))
        out_f = (eng.cross_validation(panel, refit=False, **kw).toPandas()
                 .sort_values(["unique_id", "cutoff", "ds"]))
        first = out_t["cutoff"] == out_t["cutoff"].min()
        np.testing.assert_allclose(out_t.loc[first, "AutoTheta"].to_numpy(),
                                   out_f.loc[first, "AutoTheta"].to_numpy())
        assert not np.allclose(out_t.loc[~first, "AutoTheta"].to_numpy(),
                               out_f.loc[~first, "AutoTheta"].to_numpy())


class TestFitPredictPersistence:
    """fit → state table → (parquet round-trip) → predict: the reference's
    save/load surface (core.py:1541-1649) as a first-class DataFrame."""

    def test_fit_predict_matches_forecast(self, spark, tmp_path):
        import numpy as np
        from sparkts.engine import SparkForecast
        from sparkts.kernels import Naive, SimpleExponentialSmoothingOptimized

        rows = []
        rng = np.random.default_rng(0)
        for uid in ("a", "b"):
            y = 10 + np.cumsum(rng.normal(0, 1, 60))
            rows += [(uid, t, float(y[t])) for t in range(60)]
        df = spark.createDataFrame(rows, "unique_id string, ds long, y double")
        eng = SparkForecast(
            [Naive(), SimpleExponentialSmoothingOptimized()], freq=1)

        states = eng.fit(df)
        path = str(tmp_path / "states.parquet")
        states.write.mode("overwrite").parquet(path)
        loaded = spark.read.parquet(path)

        direct = (eng.forecast(df, h=4, level=[90]).toPandas()
                  .sort_values(["unique_id", "ds"]).reset_index(drop=True))
        from_state = (eng.predict(loaded, h=4, level=[90]).toPandas()
                      .sort_values(["unique_id", "ds"]).reset_index(drop=True))
        assert list(direct.columns) == list(from_state.columns)
        for c in direct.columns[2:]:
            np.testing.assert_allclose(from_state[c].to_numpy(),
                                       direct[c].to_numpy(), rtol=1e-12)

    def test_heavy_family_states_roundtrip_parquet(self, spark, tmp_path):
        """Round 4: every newly-forwardable family's state must survive
        pickle → parquet → predict, and predict-from-state must equal the
        direct forward on the same data."""
        import numpy as np
        from sparkts.engine import SparkForecast
        from sparkts.kernels import (GARCH, MSTL, AutoCES, AutoTheta,
                                     CrostonOptimized)

        rows = []
        rng = np.random.default_rng(2)
        for uid in ("a", "b"):
            t = np.arange(90)
            y = (20 + 0.05 * t + 4 * np.sin(2 * np.pi * t / 12)
                 + rng.normal(0, 0.5, 90))
            rows += [(uid, int(tt), float(y[tt])) for tt in t]
        df = spark.createDataFrame(rows, "unique_id string, ds long, y double")
        models = [AutoTheta(season_length=12), AutoCES(12), MSTL(12),
                  GARCH(1, 1), CrostonOptimized()]
        eng = SparkForecast(models, freq=1)
        states = eng.fit(df)
        path = str(tmp_path / "heavy_states.parquet")
        states.write.mode("overwrite").parquet(path)
        loaded = spark.read.parquet(path)
        out = (eng.predict(loaded, h=4).toPandas()
               .sort_values(["unique_id", "ds"]).reset_index(drop=True))
        assert len(out) == 8
        # direct kernel-side check for one series/model pair
        ya = np.array([r[2] for r in rows if r[0] == "a"])
        m = AutoTheta(season_length=12)
        want = m.forward(m.fit_state(ya), ya, 4)["mean"]
        np.testing.assert_allclose(
            out[out.unique_id == "a"]["AutoTheta"].to_numpy(), want,
            rtol=1e-9)
        for mm in models:
            assert np.isfinite(out[repr(mm)].to_numpy()).all()

    def test_predict_missing_model_state_raises(self, spark):
        import pytest as _pytest
        from sparkts.engine import SparkForecast
        from sparkts.kernels import Naive, SeasonalNaive

        df = spark.createDataFrame(
            [("a", t, float(t)) for t in range(30)],
            "unique_id string, ds long, y double")
        states = SparkForecast([Naive()], freq=1).fit(df)
        eng2 = SparkForecast([Naive(), SeasonalNaive(7)], freq=1)
        with _pytest.raises(Exception, match="no stored state"):
            eng2.predict(states, h=2).collect()
