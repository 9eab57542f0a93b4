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


@pytest.mark.parametrize("refit", [True, False])
def test_cv_metrics_accumulators(spark, panel_df, refit):
    """cross_validation registers its own counters: one fallback per
    (series, window) for the failing model, kernel time for the other."""
    eng = SparkForecast([SeasonalNaive(24), FailingModel()], freq="h",
                        fallback_model=Naive())
    eng.cross_validation(panel_df, h=4, n_windows=3, refit=refit).count()
    n_series = panel_df.select("unique_id").distinct().count()
    assert eng.fallback_counts_["FailingModel"].value == 3 * n_series
    assert eng.fallback_counts_["SeasonalNaive"].value == 0
    assert eng.forecast_times_["SeasonalNaive"].value > 0


def test_fitted_values_metrics_accumulators(spark, panel_df):
    eng = SparkForecast([SeasonalNaive(24), FailingModel()], freq="h",
                        fallback_model=Naive())
    eng.fitted_values(panel_df).count()
    n_series = panel_df.select("unique_id").distinct().count()
    assert eng.fallback_counts_["FailingModel"].value == n_series
    assert eng.forecast_times_["SeasonalNaive"].value > 0


def test_cv_sort_runs_each_model_once(spark, panel, tmp_path):
    """sort=True gives the [id, cutoff, ds] order and runs each model once
    per (series, window) under non-aggregating actions too: a sort after
    the kernel would re-run the kernel to sample its range bounds."""
    from pyspark.sql import functions as F

    ten = panel.where(F.col("unique_id").isin(
        [f"series_{i}" for i in range(10)]))
    eng = SparkForecast([Naive(), FailingModel()], freq="D",
                        fallback_model=Naive())
    pdf = eng.cross_validation(ten, h=3, n_windows=2).toPandas()
    assert eng.fallback_counts_["FailingModel"].value == 20
    keys = list(zip(pdf["unique_id"], pdf["cutoff"], pdf["ds"]))
    assert len(keys) == 60 and keys == sorted(keys)
    eng.cross_validation(ten, h=3, n_windows=2).write.parquet(
        str(tmp_path / "cv"))
    assert eng.fallback_counts_["FailingModel"].value == 20


def test_series_straddle_arrow_batches(spark, panel):
    """With 7-row Arrow batches every series spans several batches (the
    carry between batches); each method path then gives exactly the output
    it gives at the session's default batch size."""
    from sparkts.kernels import ARIMA, LinearRegression

    rng = np.random.default_rng(3)
    rows, future = [], []
    for i in range(6):
        n = 20 + 3 * i
        x = rng.normal(0, 1, n + 3)
        y = 4 + i + 2 * x + rng.normal(0, 0.1, n + 3)
        rows += [(f"x{i}", t, float(y[t]), float(x[t])) for t in range(n)]
        future += [(f"x{i}", t, float(x[t])) for t in range(n, n + 3)]
    ex = spark.createDataFrame(rows, "unique_id string, ds long, y double, "
                                     "x double")
    X_df = spark.createDataFrame(future, "unique_id string, ds long, "
                                         "x double")
    eng = SparkForecast([Naive(), SeasonalNaive(7), FailingModel()],
                        freq="D", fallback_model=Naive())
    xeng = SparkForecast([LinearRegression(), ARIMA((1, 0, 0)), Naive()],
                         freq=1)
    paths = {
        "forecast": lambda: eng.forecast(panel, h=5, level=[90]),
        "forecast_exog": lambda: xeng.forecast(ex, h=3, X_df=X_df),
        "predict_exog": lambda: xeng.predict(xeng.fit(ex), h=3, level=[80],
                                             X_df=X_df),
        "cross_validation": lambda: eng.cross_validation(
            panel, h=4, n_windows=2, step_size=3, level=[90]),
    }

    def run_all():
        return {k: f().toPandas().sort_values(["unique_id", "ds"] + (
            ["cutoff"] if k == "cross_validation" else []))
            .reset_index(drop=True) for k, f in paths.items()}

    want = run_all()
    conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    spark.conf.set(conf, "7")
    try:
        got = run_all()
    finally:
        spark.conf.unset(conf)
    for k in paths:
        assert len(want[k]) > 0, k
        pd.testing.assert_frame_equal(got[k], want[k], check_exact=True)


def test_series_batch_skeleton():
    """The per-partition function, without Spark: frames sorted by id then
    time are cut into series, a series split across two frames is called
    once with all its rows (the carry), a None from ``series_fn`` emits
    nothing, every input frame gives one output frame, and a frame in
    which nothing is emitted still has the schema's columns."""
    from pyspark.sql import types as T

    from sparkts.engine import _SIDE, _series_stream

    schema = T.StructType([
        T.StructField("unique_id", T.StringType()),
        T.StructField("ds", T.LongType()),
        T.StructField("y", T.DoubleType()),
        T.StructField("n_right", T.LongType()),
    ])
    cols = ["unique_id", "ds", "y", "n_right"]
    seen = []

    def series_fn(uid, rows, right=None):
        seen.append((uid, rows["ds"].tolist(),
                     None if right is None else right["ds"].tolist()))
        if uid == "skip":
            return None
        n = len(rows)
        return {"ds": rows["ds"].to_numpy(), "y": rows["y"].to_numpy(),
                "unique_id": np.repeat(uid, n),
                "n_right": np.full(n, 0 if right is None else len(right))}

    run = _series_stream("unique_id", series_fn, schema)
    pdf = pd.DataFrame({"unique_id": ["a", "a", "b", "b", "b", "skip"],
                        "ds": [1, 2, 1, 2, 3, 5],
                        "y": [10.0, 20.0, 10.0, 20.0, 30.0, 0.0]})
    # "b" straddles the two frames; "skip" ends the partition
    outs = list(run([pdf.iloc[:3], pdf.iloc[3:]]))
    assert seen == [("a", [1, 2], None), ("b", [1, 2, 3], None),
                    ("skip", [5], None)]
    assert len(outs) == 3  # one per input frame, one at the end
    assert all(list(o.columns) == cols for o in outs)
    out = pd.concat([o for o in outs if len(o)], ignore_index=True)
    assert out["unique_id"].tolist() == ["a", "a", "b", "b", "b"]
    assert out["ds"].tolist() == [1, 2, 1, 2, 3]
    assert out["y"].tolist() == [10.0, 20.0, 10.0, 20.0, 30.0]

    # nothing emitted: empty frames with the schema's columns
    outs = list(run([pdf[pdf.unique_id == "skip"]]))
    assert [list(o.columns) for o in outs] == [cols, cols]
    assert [len(o) for o in outs] == [0, 0]

    # exog union, sorted by (id, side, ds): ids from either side, an
    # empty frame with that side's columns for the missing side
    seen.clear()
    left = pdf[pdf.unique_id != "skip"].assign(**{_SIDE: 0})
    right = pd.DataFrame({"unique_id": ["a", "a", "c"], "ds": [8, 9, 7],
                          "x": [0.5, 0.6, 0.7], _SIDE: 1})
    union = pd.concat([left, right]).sort_values(
        ["unique_id", _SIDE, "ds"], kind="stable")
    sides = (["unique_id", "ds", "y"], ["unique_id", "ds", "x"])
    got = {}

    def side_fn(uid, rows, right):
        got[uid] = (list(rows.columns), list(right.columns))
        return series_fn(uid, rows, right)

    run = _series_stream("unique_id", side_fn, schema, sides)
    # "a" straddles the frames between its left and right rows
    outs = run([union.iloc[:3], union.iloc[3:]])
    out = pd.concat([o for o in outs if len(o)], ignore_index=True)
    assert seen == [("a", [1, 2], [8, 9]), ("b", [1, 2, 3], []),
                    ("c", [], [7])]
    assert got == {u: tuple(sides) for u in "abc"}
    assert out["n_right"].tolist() == [2, 2, 0, 0, 0]


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
    # no argument: the active session
    assert eng.metrics_table().collect() == eng.metrics_table(spark).collect()
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
