"""SparkForecast — the engine's public surface.

The reference's flagship entry point is the *stateless* ``forecast`` path
(fit + predict inside one kernel call per series, reference core.py:144-244,
chosen for memory efficiency core.py:894-899). That maps 1:1 onto Spark:

    panel df ──repartition(id)──▶ applyInPandas(kernel, schema) ──▶ wide df

Exactly one shuffle; the kernel is pure numpy over Arrow batches. The same
shape implements ``cross_validation`` (rolling-origin backtest, reference
core.py:246-383) and ``fitted_values`` (in-sample predictions, reference
core.py:1095-1120).

Scale design notes
------------------
* One exchange on the series key; everything else is kernel-local. With tiers
  bucketed/partitioned by the same key upstream, AQE elides the exchange.
* Fallback model semantics per reference core.py:189-204: a model that raises
  inside the kernel is replaced by the fallback's numbers under the failing
  model's column name (so schemas stay fixed); without a fallback the task
  fails loudly.
* Each series must fit in one task's memory — that is the reference's own
  model (a series is one GroupedArray slice); 10^5-point series ≈ 1 MB.
"""

from __future__ import annotations

from typing import Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

from sparkts.kernels.base import Model
from sparkts.plans.schema import (
    cv_schema,
    fitted_schema,
    forecast_schema,
    model_columns,
    simulate_schema,
)


#: internal bucket column for the batched grouped-map kernels
_BKT = "__sparkts_bkt"


def _kernel_parallelism(df: DataFrame) -> tuple[int, int]:
    """(n_partitions, n_buckets) for grouped-map kernels.

    Scale-adaptive: partitions = 2× the cluster's parallelism — the
    standard 2-tasks-per-core sizing, so the scheduler can back-fill
    stragglers (guide §2.5/§2.6). r6 measurement on the heavy AutoARIMA/
    AutoETS legs (200 long series, hash placement leaves the worst
    partition ~1.7× the mean): ×2 cut the wall 5.4→4.2 s / 4.5→3.3 s
    while the 2 000-series cheap-model cv was flat (1.39 vs 1.38 s);
    ×4 helped the heavy legs more but cost the cheap cv ~20% in per-task
    overhead, so ×2 is the default. Buckets are always 4× the partitions
    (8× parallelism; unchanged absolute count: the number of Python
    grouped-map calls is the number of non-empty buckets, so more
    partitions don't add boundary crossings)."""
    n = df.sparkSession.sparkContext.defaultParallelism * 2
    return n, n * 4


def _apply_by_series(df: DataFrame, id_col: str, kernel, schema) -> DataFrame:
    """Grouped-map kernel over series, batched by hash bucket (r6).

    Shape: one exchange on ``pmod(xxhash64(id), B)``, then ONE Arrow
    grouped-map call per *bucket* whose Python function applies ``kernel``
    to each series inside (guide §4.1 — fewer, larger batches across the
    Python boundary). Measured rationale: per-GROUP applyInPandas overhead
    is ~0.5 ms, so at 2000 series the old one-call-per-series shape spent
    ~1 s of cv9's 1.3 s wall on boundary overhead — 4× the model compute.
    Bucketing cuts the Python-call count from n_series to B while the
    per-series arithmetic (and every output value) is unchanged: ``kernel``
    still receives exactly one series' rows per invocation.

    Why an explicit repartition: AQE coalesces shuffle partitions by JVM
    byte size, and a panel small in bytes coalesces to ONE partition —
    serializing every kernel call on one worker. AQE leaves user
    repartitioning alone, and the groupBy reuses it (no second exchange —
    asserted in tests/test_plans.py)."""
    n, b = _kernel_parallelism(df)

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.drop(columns=[_BKT])
        outs = [kernel(g) for _, g in pdf.groupby(id_col, sort=False)]
        if len(outs) == 1:
            return outs[0]
        return pd.concat(outs, ignore_index=True)

    return (
        df.withColumn(_BKT, F.pmod(F.xxhash64(id_col), F.lit(b)))
        .repartition(n, _BKT)
        .groupBy(_BKT)
        .applyInPandas(run, schema)
    )


def _apply_by_series_cogrouped(left: DataFrame, right: DataFrame,
                               id_col: str, cokernel, schema) -> DataFrame:
    """Cogrouped twin of ``_apply_by_series``: both sides bucketed with the
    SAME hash/bucket count (co-partitioned, one shuffle each side), one
    Python call per bucket, ``cokernel((uid,), left_rows, right_rows)``
    applied per series inside. Series present on either side are visited,
    with an empty frame for the missing side — the cogroup-on-id
    contract the per-series kernels rely on for their validation errors."""
    n, b = _kernel_parallelism(left)

    def bucketed(df):
        return (df.withColumn(_BKT, F.pmod(F.xxhash64(id_col), F.lit(b)))
                .repartition(n, _BKT))

    def run(key, lpdf: pd.DataFrame, rpdf: pd.DataFrame) -> pd.DataFrame:
        lpdf = lpdf.drop(columns=[_BKT])
        rpdf = rpdf.drop(columns=[_BKT])
        lg = {k: g for k, g in lpdf.groupby(id_col, sort=False)}
        rg = {k: g for k, g in rpdf.groupby(id_col, sort=False)}
        ids = list(lg) + [k for k in rg if k not in lg]
        lempty, rempty = lpdf.iloc[0:0], rpdf.iloc[0:0]
        outs = [cokernel((uid,), lg.get(uid, lempty), rg.get(uid, rempty))
                for uid in ids]
        if len(outs) == 1:
            return outs[0]
        return pd.concat(outs, ignore_index=True)

    return (
        bucketed(left).groupBy(_BKT)
        .cogroup(bucketed(right).groupBy(_BKT))
        .applyInPandas(run, schema)
    )


def _future_index(last, h: int, freq):
    """Future timestamps from last + freq (reference core.py:708-715
    semantics: the grid is generated, never read from data)."""
    if isinstance(freq, int):
        return np.asarray([last + freq * (i + 1) for i in range(h)])
    off = pd.tseries.frequencies.to_offset(freq)
    return pd.date_range(start=last + off, periods=h, freq=off)


def _run_models(models, fallback, y, h, level, fitted, X=None, X_future=None,
                timers=None, fallback_counts=None):
    """Per-series model sweep with fallback (reference core.py:189-204).

    ``timers``/``fallback_counts``: optional dicts of Spark accumulators
    keyed by alias — the distributed analogue of the reference's per-model
    wall-time bookkeeping (core.py:173,205 forecast_times_)."""
    import time as _time

    out: dict[str, np.ndarray] = {}
    fitted_out: dict[str, np.ndarray] = {}
    for m in models:
        takes_x = m.uses_exog or getattr(m, "optional_exog", False)
        kw = {"X": X, "X_future": X_future} if takes_x else {}
        t0 = _time.perf_counter()
        try:
            res = m.forecast(y, h, level=level, fitted=fitted, **kw)
        except Exception:
            if fallback is None:
                raise
            res = fallback.forecast(y, h, level=level, fitted=fitted)
            if fallback_counts is not None:
                fallback_counts[repr(m)].add(1)
        if timers is not None:
            timers[repr(m)].add(_time.perf_counter() - t0)
        alias = repr(m)
        out[alias] = res["mean"]
        for lv in sorted(level or []):
            out[f"{alias}-lo-{lv}"] = res[f"lo-{lv}"]
            out[f"{alias}-hi-{lv}"] = res[f"hi-{lv}"]
        if fitted:
            fitted_out[alias] = res.get("fitted")
    return out, fitted_out


class SparkForecast:
    """Panel forecaster over a long DataFrame (id, time, target).

    Parameters mirror the reference engine's (models list, freq as a pandas
    offset alias or integer period; reference core.py:541-575). All methods
    are stateless — nothing is persisted on the engine object, so the same
    instance can serve many DataFrames (and Spark tasks never ship state).
    """

    def __init__(
        self,
        models: Sequence[Model],
        freq: str | int,
        fallback_model: Model | None = None,
    ):
        aliases = [repr(m) for m in models]
        if len(set(aliases)) != len(aliases):
            raise ValueError(f"duplicate model aliases: {aliases}")
        self.models = list(models)
        self.freq = freq
        self.fallback_model = fallback_model
        #: populated after a forecast() action runs: alias → accumulated
        #: kernel seconds across all executors, and alias → fallback count
        #: (reference forecast_times_, core.py:960)
        self.forecast_times_: dict[str, object] = {}
        self.fallback_counts_: dict[str, object] = {}

    def _metrics(self, df: DataFrame):
        """Fresh per-model accumulators registered on df's SparkContext."""
        sc = df.sparkSession.sparkContext
        self.forecast_times_ = {repr(m): sc.accumulator(0.0) for m in self.models}
        self.fallback_counts_ = {repr(m): sc.accumulator(0) for m in self.models}
        return self.forecast_times_, self.fallback_counts_

    def metrics_table(self, spark: SparkSession | None = None) -> DataFrame:
        """Per-model wall-time + fallback counters as a queryable
        DataFrame (SURVEY §2.7 wall-time row; the reference exposes
        ``forecast_times_`` as a dict, core.py:960 — here it's a table a
        pipeline can join/append to its lineage). Accumulator values are
        complete only after an ACTION has consumed the forecast output;
        call this after the count/write, not after the lazy transform."""
        spark = spark or SparkSession.getActiveSession()
        if spark is None:
            raise ValueError("no active SparkSession for metrics_table")
        rows = [
            (name,
             float(acc.value),
             int(self.fallback_counts_[name].value)
             if name in self.fallback_counts_ else 0)
            for name, acc in self.forecast_times_.items()
        ]
        return spark.createDataFrame(
            rows, "model string, forecast_seconds double, fallbacks long")

    def log_metrics(self, lineage_store, stage: str = "forecast",
                    run_id: str = "") -> None:
        """Append the per-model metrics to a ``LineageStore`` manifest —
        the run-over-run wall-time record a long-lived pipeline keeps
        (part_id = model alias, n_out = fallback count, rollup_hash =
        wall time in integer microseconds, so the row keeps the int64 type
        every lineage row carries and can share a ``TierPipeline``'s
        store)."""
        rows = [
            {"stage": stage, "part_id": name, "watermark": 0,
             "n_in": 0,
             "n_out": int(self.fallback_counts_[name].value)
             if name in self.fallback_counts_ else 0,
             "rollup_hash": int(round(float(acc.value) * 1e6)),
             "run_id": run_id}
            for name, acc in self.forecast_times_.items()
        ]
        lineage_store.append(rows)

    # ------------------------------------------------------------------ #
    def forecast(
        self,
        df: DataFrame,
        h: int,
        level: list[int] | None = None,
        id_col: str = "unique_id",
        time_col: str = "ds",
        target_col: str = "y",
        X_df: DataFrame | None = None,
    ) -> DataFrame:
        """h-step-ahead forecasts: one row per (id, future step), one column
        per model (+ lo/hi per level).

        Exogenous regressors: every df column beyond id/time/target is exog
        (reference core.py:630); models with ``uses_exog`` additionally need
        ``X_df`` = (id, ds, exog...) with exactly h future rows per id
        (reference core.py:737-751). The exog path is a co-grouped kernel —
        Spark's ``cogroup().applyInPandas``, the same shape as the
        reference's Fugue zip (fugue.py:25-51 _cotransform): one shuffle on
        each side, zero joins.
        """
        models, freq, fallback = self.models, self.freq, self.fallback_model
        schema = forecast_schema(
            df.schema[id_col], df.schema[time_col], models, level
        )
        cols = [id_col, time_col] + model_columns(models, level)
        exog_cols = [c for c in df.columns if c not in (id_col, time_col, target_col)]
        uses_exog = any(m.uses_exog for m in models)
        if uses_exog and (X_df is None or not exog_cols):
            raise ValueError(
                "models with uses_exog need exog columns in df and an X_df "
                "with h future rows per id")  # reference core.py:753-764

        timers, fb_counts = self._metrics(df)

        if X_df is None:
            def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
                pdf = pdf.sort_values(time_col)
                y = pdf[target_col].to_numpy(dtype=np.float64)
                last = pdf[time_col].iloc[-1]
                future = _future_index(last, h, freq)
                out, _ = _run_models(models, fallback, y, h, level,
                                     fitted=False, timers=timers,
                                     fallback_counts=fb_counts)
                data = {id_col: np.repeat(pdf[id_col].iloc[0], h), time_col: future}
                data.update(out)
                return pd.DataFrame(data, columns=cols)

            return _apply_by_series(
                df.select(id_col, time_col, target_col), id_col, kernel,
                schema)

        missing = [c for c in exog_cols if c not in X_df.columns]
        if missing:
            raise ValueError(f"X_df is missing exog columns {missing}")

        def cokernel(key, left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
            left = left.sort_values(time_col)
            right = right.sort_values(time_col)
            y = left[target_col].to_numpy(dtype=np.float64)
            X = left[exog_cols].to_numpy(dtype=np.float64)
            X_future = right[exog_cols].to_numpy(dtype=np.float64)
            future = right[time_col].to_numpy()
            if len(future) != h:
                raise ValueError(
                    f"series {key[0]!r}: X_df has {len(future)} rows, "
                    f"expected h={h}")
            out, _ = _run_models(models, fallback, y, h, level, fitted=False,
                                 X=X, X_future=X_future, timers=timers,
                                 fallback_counts=fb_counts)
            data = {id_col: np.repeat(key[0], h), time_col: future}
            data.update(out)
            return pd.DataFrame(data, columns=cols)

        return _apply_by_series_cogrouped(
            df.select(id_col, time_col, target_col, *exog_cols),
            X_df.select(id_col, time_col, *exog_cols), id_col, cokernel,
            schema)

    # ------------------------------------------------------------------ #
    def fit(
        self,
        df: DataFrame,
        id_col: str = "unique_id",
        time_col: str = "ds",
        target_col: str = "y",
    ) -> DataFrame:
        """Fit every model per series and return a PERSISTABLE state table:
        one row per (series, model) with the pickled parameter state and the
        training series (the reference's save/load pickles the whole fitted
        engine, core.py:1541-1649; here state is a first-class DataFrame so
        it survives `write.parquet` and predict never rescans raw data).

        Columns: id, model (alias), state (binary), last_ds, n_obs.

        Exog models: every df column beyond id/time/target is a regressor.
        The train X matrix is persisted inside the state blob (like y), so
        ``predict`` only needs the FUTURE regressors via its ``X_df``.
        """
        import pickle

        from pyspark.sql import types as T

        models, fallback = self.models, self.fallback_model
        exog_cols = [c for c in df.columns
                     if c not in (id_col, time_col, target_col)]
        schema = T.StructType([
            df.schema[id_col],
            T.StructField("model", T.StringType(), False),
            T.StructField("state", T.BinaryType(), False),
            T.StructField(time_col, df.schema[time_col].dataType, True),
            T.StructField("n_obs", T.LongType(), False),
        ])

        def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
            pdf = pdf.sort_values(time_col)
            y = pdf[target_col].to_numpy(dtype=np.float64)
            X = (pdf[exog_cols].to_numpy(dtype=np.float64)
                 if exog_cols else None)
            uid = pdf[id_col].iloc[0]
            last = pdf[time_col].iloc[-1]
            rows = []
            for m in models:
                takes_x = X is not None and (
                    m.uses_exog or getattr(m, "optional_exog", False))
                try:
                    state = m.fit_state(y, X) if takes_x else m.fit_state(y)
                except NotImplementedError:
                    raise
                except Exception:
                    if fallback is None:
                        raise
                    state = {"__fallback__": True}
                blob = {"state": state, "y": y}
                if takes_x:
                    # persist the regressor NAMES with the matrix so predict
                    # can validate/reorder its X_df against the fit-time
                    # column order (a permuted X_df must never silently
                    # apply beta to the wrong columns)
                    blob["X"] = X
                    blob["xcols"] = list(exog_cols)
                rows.append((uid, repr(m), pickle.dumps(blob), last,
                             int(y.size)))
            return pd.DataFrame(rows,
                                columns=[id_col, "model", "state", time_col,
                                         "n_obs"])

        return _apply_by_series(
            df.select(id_col, time_col, target_col, *exog_cols), id_col,
            kernel, schema)

    def predict(
        self,
        states: DataFrame,
        h: int,
        level: list[int] | None = None,
        id_col: str = "unique_id",
        time_col: str = "ds",
        X_df: DataFrame | None = None,
    ) -> DataFrame:
        """Forecast from a persisted state table (the output of ``fit``,
        possibly round-tripped through parquet): each model's ``forward``
        re-applies the stored parameters to the stored series — no raw-data
        scan, no re-optimization (reference predict-after-load semantics,
        core.py:1541-1649).

        Exog models: pass ``X_df`` = (id, ds, regressors…) with exactly h
        FUTURE rows per id (reference predict(h, X_df), core.py:766-815);
        the train X matrix comes from the state blob ``fit`` persisted."""
        import pickle

        models, freq, fallback = self.models, self.freq, self.fallback_model
        by_alias = {repr(m): m for m in models}
        schema = forecast_schema(
            states.schema[id_col], states.schema[time_col], models, level)
        cols = [id_col, time_col] + model_columns(models, level)
        exog_cols = ([c for c in X_df.columns if c not in (id_col, time_col)]
                     if X_df is not None else [])
        timers, fb_counts = self._metrics(states)

        def predict_rows(pdf: pd.DataFrame, future, xf_pdf) -> pd.DataFrame:
            if pdf.empty:
                raise ValueError(
                    "X_df contains a series with no stored state rows; fit "
                    "must cover every id predict is asked for")
            uid = pdf[id_col].iloc[0]
            data = {id_col: np.repeat(uid, h), time_col: np.asarray(future)}
            seen = set()
            for _, row in pdf.iterrows():
                alias = row["model"]
                m = by_alias.get(alias)
                if m is None:
                    continue
                seen.add(alias)
                blob = pickle.loads(bytes(row["state"]))
                y = blob["y"]
                state = blob["state"]
                kw = {}
                takes_x = m.uses_exog or getattr(m, "optional_exog", False)
                if "xcols" in blob and takes_x:
                    # state was fitted WITH regressors: X_df is mandatory and
                    # must carry the same columns (any order); reorder to the
                    # fit-time order so beta applies to the right columns
                    want = blob["xcols"]
                    if xf_pdf is None:
                        raise ValueError(
                            f"series {uid!r}: {alias} was fit with exog "
                            f"columns {want}; predict needs X_df")
                    missing = [c for c in want if c not in xf_pdf.columns]
                    if missing:
                        raise ValueError(
                            f"series {uid!r}: X_df is missing exog columns "
                            f"{missing} that {alias} was fit with")
                    kw = {"X": blob["X"],
                          "X_future": xf_pdf[want].to_numpy(dtype=np.float64)}
                elif xf_pdf is not None and takes_x:
                    kw = {"X": blob.get("X"),
                          "X_future":
                              xf_pdf[exog_cols].to_numpy(dtype=np.float64)}
                try:
                    if isinstance(state, dict) and state.get("__fallback__"):
                        raise ValueError("fallback state")
                    res = m.forward(state, y, h, level=level, **kw)
                except NotImplementedError:
                    raise
                except Exception:
                    if fallback is None:
                        raise
                    res = fallback.forecast(y, h, level=level)
                    fb_counts[alias].add(1)
                data[alias] = np.asarray(res["mean"], dtype=np.float64)
                for lv in sorted(level or []):
                    data[f"{alias}-lo-{lv}"] = np.asarray(res[f"lo-{lv}"])
                    data[f"{alias}-hi-{lv}"] = np.asarray(res[f"hi-{lv}"])
            missing = [a for a in by_alias if a not in seen]
            if missing:
                raise ValueError(
                    f"series {uid!r}: no stored state for models {missing}")
            return pd.DataFrame(data, columns=cols)

        if X_df is None:
            def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
                last = pdf[time_col].iloc[0]
                return predict_rows(pdf, _future_index(last, h, freq), None)

            return _apply_by_series(states, id_col, kernel, schema)

        def cokernel(key, left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
            right = right.sort_values(time_col)
            if left.empty:
                raise ValueError(
                    f"series {key[0]!r}: X_df rows but no stored state rows")
            if len(right) != h:
                raise ValueError(
                    f"series {key[0]!r}: X_df has {len(right)} rows, "
                    f"expected h={h}")
            return predict_rows(left, right[time_col].to_numpy(), right)

        return _apply_by_series_cogrouped(
            states, X_df.select(id_col, time_col, *exog_cols), id_col,
            cokernel, schema)

    # ------------------------------------------------------------------ #
    def fitted_values(
        self,
        df: DataFrame,
        level: list[int] | None = None,
        id_col: str = "unique_id",
        time_col: str = "ds",
        target_col: str = "y",
    ) -> DataFrame:
        """In-sample one-step predictions per model
        (reference forecast_fitted_values, core.py:1095-1120).

        ``level`` adds ``{model}-lo/hi-{l}`` fitted prediction intervals:
        fitted ± z·σ with σ = √(Σ resid²/(n−1)) — the reference's
        ``_add_fitted_pi`` (models.py:103-113), which applies one constant
        residual-scale band across the in-sample period."""
        from sparkts.kernels.base import norm_ppf, residual_sigma

        models, fallback = self.models, self.fallback_model
        schema = fitted_schema(
            df.schema[id_col], df.schema[time_col], target_col, models,
            level=level
        )
        cols = [id_col, time_col, target_col] + model_columns(models, level)

        def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
            pdf = pdf.sort_values(time_col)
            y = pdf[target_col].to_numpy(dtype=np.float64)
            _, fit = _run_models(models, fallback, y, 1, None, fitted=True)
            data = {
                id_col: pdf[id_col].to_numpy(),
                time_col: pdf[time_col].to_numpy(),
                target_col: y,
            }
            for alias, vals in fit.items():
                vals = vals if vals is not None else np.full(y.size, np.nan)
                data[alias] = vals
                if level:
                    se = residual_sigma(y - vals, max(y.size - 1, 1))
                    for lv in sorted(level):
                        z = norm_ppf(0.5 + lv / 200.0)
                        data[f"{alias}-lo-{lv}"] = vals - z * se
                        data[f"{alias}-hi-{lv}"] = vals + z * se
            return pd.DataFrame(data, columns=cols)

        return _apply_by_series(
            df.select(id_col, time_col, target_col), id_col, kernel, schema)

    # ------------------------------------------------------------------ #
    def simulate(
        self,
        df: DataFrame,
        h: int,
        n_paths: int = 100,
        seed: int = 0,
        error_dist: str = "normal",
        error_params: dict | None = None,
        id_col: str = "unique_id",
        time_col: str = "ds",
        target_col: str = "y",
    ) -> DataFrame:
        """n_paths sample trajectories per (series, model): output
        id, ds, sample_id, <model cols> (reference core.py:1076-1093).
        ``error_dist``/``error_params`` select the innovation distribution
        (normal / t / laplace / skew-normal / ged / bootstrap; reference
        simulation.py:106-243).

        Determinism under ANY partitioning: each series' RNG seed is
        md5(f"{seed}:{id}")[:8] — a pure function of (root seed, series id),
        unlike the reference's positional per-group seeds (core.py:972),
        which would change with Spark's partition order. md5-derived (not
        crc32) so an external SQL engine can recompute the seed — with
        error_dist='hash-bootstrap' the whole simulation is replayable in
        SQL (the driver's simulate_hash oracle).
        """
        import hashlib

        models, freq, fallback = self.models, self.freq, self.fallback_model
        schema = simulate_schema(df.schema[id_col], df.schema[time_col], models)
        cols = [id_col, time_col, "sample_id"] + [repr(m) for m in models]

        def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
            pdf = pdf.sort_values(time_col)
            y = pdf[target_col].to_numpy(dtype=np.float64)
            uid = pdf[id_col].iloc[0]
            s = int(hashlib.md5(f"{seed}:{uid}".encode()).hexdigest()[:8],
                    16) % 2147483648
            last = pdf[time_col].iloc[-1]
            future = _future_index(last, h, freq)
            data = {
                id_col: np.repeat(uid, h * n_paths),
                time_col: np.tile(np.asarray(future), n_paths),
                "sample_id": np.repeat(np.arange(n_paths, dtype=np.int32), h),
            }
            for m in models:
                try:
                    paths = m.simulate(y, h, n_paths=n_paths, seed=s,
                                       error_dist=error_dist,
                                       error_params=error_params)
                except Exception:
                    if fallback is None:
                        raise
                    paths = fallback.simulate(y, h, n_paths=n_paths, seed=s,
                                              error_dist=error_dist,
                                              error_params=error_params)
                data[repr(m)] = paths.reshape(-1)
            return pd.DataFrame(data, columns=cols)

        return _apply_by_series(
            df.select(id_col, time_col, target_col), id_col, kernel, schema)

    # ------------------------------------------------------------------ #
    def cross_validation(
        self,
        df: DataFrame,
        h: int,
        n_windows: int = 1,
        step_size: int = 1,
        input_size: int | None = None,
        level: list[int] | None = None,
        id_col: str = "unique_id",
        time_col: str = "ds",
        target_col: str = "y",
        drop_short: bool = False,
        refit: bool | int = True,
        sort: bool = True,
    ) -> DataFrame:
        """Rolling-origin backtest (reference core.py:246-383).

        test_size = h + step_size·(n_windows−1) (core.py:1183); window w
        trains on everything before cutoff_w (or the trailing ``input_size``
        points) and scores the next h points. Series shorter than
        test_size+1 raise (reference core.py:1205-1212) unless
        ``drop_short=True`` drops them kernel-side.

        Exogenous regressors: every df column beyond id/time/target is exog
        and is sliced with y per window — X on the train slice, X_future on
        the h test rows (reference core.py:294-300) — and fed to
        ``uses_exog`` models in BOTH refit modes (fit_state/forward thread
        X like the reference's fit/forward, core.py:322-354).

        ``refit``: True refits every window; False fits parameters once on
        the first window and re-applies them via each model's ``forward``;
        an int k refits every k-th window (reference core.py:322-354).
        Parameterized models without a forward implementation raise
        (reference validation core.py:1188-1200) — at plan time, not in
        the workers.

        ``sort=True`` adds the reference's presentation sort
        [id, cutoff, ds] (core.py:1246-1257) — one extra full shuffle of the
        cv output. Pass ``sort=False`` at scale when downstream doesn't
        need global order.

        The whole backtest loop runs inside one kernel call per series
        (reference-shaped "Option A"): state stays local.
        """
        models, freq, fallback = self.models, self.freq, self.fallback_model
        exog_cols = [c for c in df.columns
                     if c not in (id_col, time_col, target_col)]
        uses_exog = any(m.uses_exog for m in models)
        if uses_exog and not exog_cols:
            raise ValueError(
                "models with uses_exog need exog columns in df")
        if refit is not True:
            if isinstance(refit, int) and not isinstance(refit, bool) and refit < 1:
                raise ValueError("refit must be True, False, or a positive int")
            missing = [repr(m) for m in models
                       if m.tunable and type(m).forward is Model.forward]
            if missing:
                raise ValueError(
                    f"refit={refit} needs a forward implementation for: "
                    f"{missing}")  # reference core.py:1188-1200
        test_size = h + step_size * (n_windows - 1)
        schema = cv_schema(
            df.schema[id_col], df.schema[time_col], target_col, models, level
        )
        cols = [id_col, time_col, "cutoff", target_col] + model_columns(models, level)
        # optional_exog models (ARIMA xreg) consume the panel's regressors
        # when present, but never require them
        wants_exog = uses_exog or any(
            getattr(m, "optional_exog", False) for m in models)
        keep_exog = exog_cols if wants_exog else []

        def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
            pdf = pdf.sort_values(time_col)
            y = pdf[target_col].to_numpy(dtype=np.float64)
            Xall = (pdf[keep_exog].to_numpy(dtype=np.float64)
                    if keep_exog else None)
            ts = pdf[time_col].to_numpy()
            n = y.size
            if n <= test_size:
                if drop_short:
                    empty = {
                        id_col: pdf[id_col].iloc[:0],
                        time_col: pdf[time_col].iloc[:0],
                        "cutoff": pdf[time_col].iloc[:0],
                        target_col: np.empty(0, dtype=np.float64),
                    }
                    for c in cols[4:]:
                        empty[c] = np.empty(0, dtype=np.float64)
                    return pd.DataFrame(empty)[cols]
                raise ValueError(
                    f"series {pdf[id_col].iloc[0]!r} has {n} observations "
                    f"<= test_size {test_size}"
                )
            frames = []
            states: dict[str, object] = {}
            for w in range(n_windows):
                train_end = n - test_size + w * step_size
                lo = 0 if input_size is None else max(0, train_end - input_size)
                y_train = y[lo:train_end]
                X_train = Xall[lo:train_end] if Xall is not None else None
                X_fut = (Xall[train_end: train_end + h]
                         if Xall is not None else None)
                if refit is True:
                    out, _ = _run_models(models, fallback, y_train, h, level,
                                         fitted=False, X=X_train,
                                         X_future=X_fut)
                else:
                    k = refit if isinstance(refit, int) and refit is not True else 0
                    do_fit = w == 0 or (k and w % k == 0)
                    out = {}
                    for m in models:
                        alias = repr(m)
                        takes_x = Xall is not None and (
                            m.uses_exog
                            or getattr(m, "optional_exog", False))
                        kw = ({"X": X_train, "X_future": X_fut}
                              if takes_x else {})
                        try:
                            if do_fit or alias not in states:
                                states[alias] = (m.fit_state(y_train, X=X_train)
                                                 if takes_x
                                                 else m.fit_state(y_train))
                            res = m.forward(states[alias], y_train, h,
                                            level=level, fitted=False, **kw)
                        except NotImplementedError:
                            raise
                        except Exception:
                            if fallback is None:
                                raise
                            res = fallback.forecast(y_train, h, level=level,
                                                    fitted=False)
                        out[alias] = res["mean"]
                        for lv in sorted(level or []):
                            out[f"{alias}-lo-{lv}"] = res[f"lo-{lv}"]
                            out[f"{alias}-hi-{lv}"] = res[f"hi-{lv}"]
                win = {
                    id_col: np.repeat(pdf[id_col].iloc[0], h),
                    time_col: ts[train_end : train_end + h],
                    "cutoff": np.repeat(ts[train_end - 1], h),
                    target_col: y[train_end : train_end + h],
                }
                win.update(out)
                frames.append(win)
            # one DataFrame per series, columns pre-concatenated (r6: the
            # per-window pd.DataFrame + pd.concat + [cols] reindex was
            # ~35% of the cheap-model cv kernel profile; same values, one
            # construction)
            if len(frames) == 1:
                return pd.DataFrame(frames[0], columns=cols)
            data = {c: np.concatenate([f[c] for f in frames]) for c in cols}
            return pd.DataFrame(data, columns=cols)

        out = _apply_by_series(
            df.select(id_col, time_col, target_col, *keep_exog), id_col,
            kernel, schema)
        return out.orderBy(id_col, "cutoff", time_col) if sort else out

    # ------------------------------------------------------------------ #
    def cross_validation_fitted_values(
        self,
        df: DataFrame,
        h: int,
        n_windows: int = 1,
        step_size: int = 1,
        input_size: int | None = None,
        id_col: str = "unique_id",
        time_col: str = "ds",
        target_col: str = "y",
    ) -> DataFrame:
        """In-sample (train-window) predictions for every cv window
        (reference cross_validation_fitted_values, core.py:1263-1302):
        one block of TRAIN rows per (series, cutoff) with each model's
        fitted values over that window — for analyzing how fit drifts
        across training periods. Output: id, ds, cutoff, y, <model cols>.
        """
        models, fallback = self.models, self.fallback_model
        test_size = h + step_size * (n_windows - 1)
        schema = cv_schema(
            df.schema[id_col], df.schema[time_col], target_col, models, None
        )
        cols = [id_col, time_col, "cutoff", target_col] + [repr(m) for m in models]

        def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
            pdf = pdf.sort_values(time_col)
            y = pdf[target_col].to_numpy(dtype=np.float64)
            ts = pdf[time_col].to_numpy()
            n = y.size
            if n <= test_size:
                raise ValueError(
                    f"series {pdf[id_col].iloc[0]!r} has {n} observations "
                    f"<= test_size {test_size}")
            frames = []
            for w in range(n_windows):
                train_end = n - test_size + w * step_size
                lo = 0 if input_size is None else max(0, train_end - input_size)
                y_train = y[lo:train_end]
                _, fit = _run_models(models, fallback, y_train, 1, None,
                                     fitted=True)
                data = {
                    id_col: np.repeat(pdf[id_col].iloc[0], train_end - lo),
                    time_col: ts[lo:train_end],
                    "cutoff": np.repeat(ts[train_end - 1], train_end - lo),
                    target_col: y_train,
                }
                for alias, vals in fit.items():
                    data[alias] = (vals if vals is not None
                                   else np.full(y_train.size, np.nan))
                frames.append(pd.DataFrame(data))
            return pd.concat(frames, ignore_index=True)[cols]

        return _apply_by_series(
            df.select(id_col, time_col, target_col), id_col, kernel, schema)
