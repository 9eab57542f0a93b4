"""Engine surface: forecast / cross_validation / fitted_values on Spark."""

import numpy as np
import pandas as pd
import pytest

from sparkts.datagen import air_passengers_df, panel_series
from sparkts.engine import SparkForecast
from sparkts.kernels import (
    FailingModel,
    HistoricAverage,
    Naive,
    SeasonalNaive,
    SimpleExponentialSmoothing,
)


@pytest.fixture(scope="module")
def panel(spark):
    return panel_series(spark, n_series=20, min_length=60, max_length=120).cache()


def test_forecast_shape_and_values(spark, panel):
    sf = SparkForecast([Naive(), HistoricAverage()], freq="D")
    out = sf.forecast(panel, h=7).toPandas()
    assert sorted(out.columns.tolist()) == sorted(
        ["unique_id", "ds", "Naive", "HistoricAverage"]
    )
    assert len(out) == 20 * 7
    # cross-check one series against local numpy
    pdf = panel.toPandas()
    s0 = pdf[pdf.unique_id == "series_0"].sort_values("ds")
    got = out[out.unique_id == "series_0"].sort_values("ds")
    assert got["Naive"].to_numpy() == pytest.approx(s0["y"].iloc[-1], rel=1e-6)
    assert got["HistoricAverage"].to_numpy() == pytest.approx(
        s0["y"].mean(), rel=1e-5
    )
    # future dates continue daily from the last observed date
    assert got["ds"].iloc[0] == s0["ds"].iloc[-1] + pd.Timedelta(days=1)


def test_forecast_levels(spark, panel):
    sf = SparkForecast([Naive()], freq="D")
    out = sf.forecast(panel, h=3, level=[80, 95]).toPandas()
    for c in ["Naive-lo-80", "Naive-hi-80", "Naive-lo-95", "Naive-hi-95"]:
        assert c in out.columns
    assert (out["Naive-lo-95"] <= out["Naive-lo-80"]).all()
    assert (out["Naive-hi-80"] <= out["Naive-hi-95"]).all()


def test_partitioning_invariance(spark, panel):
    sf = SparkForecast([SeasonalNaive(7), SimpleExponentialSmoothing(0.2)], freq="D")
    a = sf.forecast(panel.repartition(1), h=5).orderBy("unique_id", "ds").toPandas()
    b = sf.forecast(panel.repartition(13), h=5).orderBy("unique_id", "ds").toPandas()
    for c in ["SeasonalNaive", "SES"]:
        np.testing.assert_allclose(a[c].to_numpy(), b[c].to_numpy(), rtol=1e-12)


def test_fallback_model(spark, panel):
    sf = SparkForecast(
        [FailingModel(alias="Flaky"), Naive()], freq="D", fallback_model=Naive()
    )
    out = sf.forecast(panel, h=2).toPandas()
    np.testing.assert_allclose(out["Flaky"].to_numpy(), out["Naive"].to_numpy())


def test_cross_validation(spark, panel):
    sf = SparkForecast([Naive()], freq="D")
    out = sf.cross_validation(panel, h=7, n_windows=3, step_size=2).toPandas()
    assert out.columns.tolist() == ["unique_id", "ds", "cutoff", "y", "Naive"]
    # 20 series × 3 windows × 7 steps
    assert len(out) == 20 * 3 * 7
    assert out.groupby("unique_id")["cutoff"].nunique().eq(3).all()
    # forecast within each window is the value at the cutoff (Naive semantics)
    pdf = panel.toPandas()
    s0 = pdf[pdf.unique_id == "series_3"].sort_values("ds").reset_index(drop=True)
    g = out[out.unique_id == "series_3"]
    for cutoff, win in g.groupby("cutoff"):
        expected = s0.loc[s0.ds == cutoff, "y"].iloc[0]
        assert win["Naive"].to_numpy() == pytest.approx(expected, rel=1e-6)
    # actuals column matches the raw panel
    merged = g.merge(s0, on="ds", suffixes=("", "_raw"))
    assert merged["y"].to_numpy() == pytest.approx(
        merged["y_raw"].to_numpy(), rel=1e-6
    )


def test_cv_window_math(spark, panel):
    """test_size = h + step_size·(n_windows−1); cutoffs step by step_size."""
    sf = SparkForecast([Naive()], freq="D")
    out = sf.cross_validation(panel, h=5, n_windows=4, step_size=3).toPandas()
    cuts = sorted(out[out.unique_id == "series_0"]["cutoff"].unique())
    assert len(cuts) == 4
    deltas = np.diff([pd.Timestamp(c).value for c in cuts])
    assert (deltas == 3 * 86400 * 10**9).all()


def test_cv_short_series_raises(spark):
    short = panel_series(spark, n_series=2, min_length=10, max_length=12)
    sf = SparkForecast([Naive()], freq="D")
    with pytest.raises(Exception, match="test_size"):
        sf.cross_validation(short, h=10, n_windows=3, step_size=5).collect()
    # drop_short drops them instead
    n = sf.cross_validation(
        short, h=10, n_windows=3, step_size=5, drop_short=True
    ).count()
    assert n == 0


def test_fitted_values(spark):
    ap = air_passengers_df(spark)
    sf = SparkForecast([Naive(), SeasonalNaive(12)], freq="ME")
    out = sf.fitted_values(ap).orderBy("ds").toPandas()
    assert len(out) == 144
    np.testing.assert_allclose(out["Naive"].to_numpy()[1:], out["y"].to_numpy()[:-1])
    np.testing.assert_allclose(
        out["SeasonalNaive"].to_numpy()[12:], out["y"].to_numpy()[:-12]
    )
    assert np.isnan(out["SeasonalNaive"].to_numpy()[:12]).all()


def test_air_passengers_golden(spark):
    """Golden-value check on the classic series (seasonal naive forecast =
    last 12 observations, a fact checkable by hand)."""
    ap = air_passengers_df(spark)
    sf = SparkForecast([SeasonalNaive(12)], freq="ME")
    out = sf.forecast(ap, h=12).orderBy("ds").toPandas()
    expected = [417, 391, 419, 461, 472, 535, 622, 606, 508, 461, 390, 432]
    np.testing.assert_allclose(out["SeasonalNaive"].to_numpy(), expected)


def test_integer_freq(spark):
    """Integer timestamps + integer freq (reference supports int datestamps,
    core.py:686-688, tested at reference tests/test_core.py:1363)."""
    pdf = pd.DataFrame(
        {
            "unique_id": ["a"] * 30 + ["b"] * 30,
            "ds": list(range(30)) * 2,
            "y": np.arange(60, dtype=np.float64),
        }
    )
    df = spark.createDataFrame(pdf)
    sf = SparkForecast([Naive()], freq=1)
    out = sf.forecast(df, h=3).orderBy("unique_id", "ds").toPandas()
    assert out["ds"].tolist() == [30, 31, 32, 30, 31, 32]


def test_duplicate_alias_rejected():
    with pytest.raises(ValueError):
        SparkForecast([Naive(), Naive()], freq="D")


def test_per_model_metrics_accumulators(spark, panel_df):
    from sparkts.engine import SparkForecast
    from sparkts.kernels import FailingModel, Naive, SeasonalNaive

    eng = SparkForecast([SeasonalNaive(24), FailingModel()], freq="h",
                        fallback_model=Naive())
    eng.forecast(panel_df, h=4).count()
    n_series = panel_df.select("unique_id").distinct().count()
    # every series fell back for the failing model, none for SeasonalNaive
    assert eng.fallback_counts_["FailingModel"].value == n_series
    assert eng.fallback_counts_["SeasonalNaive"].value == 0
    # kernel wall time accumulated across executors
    assert eng.forecast_times_["SeasonalNaive"].value > 0


def test_metrics_table_and_lineage_log(spark, panel_df, tmp_path):
    from sparkts.engine import SparkForecast
    from sparkts.kernels import FailingModel, Naive, SeasonalNaive
    from sparkts.lineage import LineageStore

    eng = SparkForecast([SeasonalNaive(24), FailingModel()], freq="h",
                        fallback_model=Naive())
    eng.forecast(panel_df, h=4).count()
    n_series = panel_df.select("unique_id").distinct().count()
    mt = {r["model"]: r for r in eng.metrics_table(spark).collect()}
    assert mt["SeasonalNaive"]["forecast_seconds"] > 0
    assert mt["FailingModel"]["fallbacks"] == n_series
    assert mt["SeasonalNaive"]["fallbacks"] == 0
    store = LineageStore(spark, str(tmp_path / "pipe"))
    eng.log_metrics(store, stage="bench", run_id="r5")
    got = {r["part_id"]: r for r in store.read().collect()}
    assert got["FailingModel"]["n_out"] == n_series
    assert float(got["SeasonalNaive"]["rollup_hash"]) > 0


def test_log_metrics_shares_tier_pipeline_store(spark, sf_dir, panel_df, tmp_path):
    """Forecast metrics logged into a TierPipeline's own lineage store keep
    its int64 columns: the store stays readable and the pipeline resumes."""
    from pyspark.sql import functions as F

    from sparkts.lineage import TierPipeline

    activity = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_type", "ts", "value")
    early = activity.where(F.col("ts") < "2024-01-20 00:00:00")
    pipe = TierPipeline(spark, str(tmp_path / "tiers"), ["event_type"])
    pipe.run(early, "ts", "value", run_id="r1")
    eng = SparkForecast([SeasonalNaive(24)], freq="h")
    eng.forecast(panel_df, h=4).count()
    eng.log_metrics(pipe.lineage, stage="forecast", run_id="r1")

    rows = pipe.lineage.read().collect()
    fc = [r for r in rows if r.stage == "forecast"]
    assert [r.part_id for r in fc] == ["SeasonalNaive"]
    assert fc[0].rollup_hash > 0
    assert pipe.run(early, "ts", "value", run_id="r2") == {
        "1m": 0, "5m": 0, "1h": 0, "1d": 0}
    res = pipe.run(activity, "ts", "value", run_id="r3")
    assert all(n > 0 for n in res.values())
