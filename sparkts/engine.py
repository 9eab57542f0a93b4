"""SparkForecast — the engine's public surface.

The reference's flagship entry point is the *stateless* ``forecast`` path
(fit + predict inside one kernel call per series, reference core.py:144-244,
chosen for memory efficiency core.py:894-899). Every method maps onto one
Spark shape:

    panel df ──repartition(n, id)──▶ sortWithinPartitions(id, time)
             ──▶ mapInPandas(partition) ──▶ wide df

One exchange on the series key, then one Python call per partition. Inside
that call the per-series skeleton (``_series_stream``) streams the
partition's Arrow batches, cuts a series wherever the id changes (the
reference's sort-once-and-slice ``GroupedArray``, core.py:43-60), hands
each series to the method's ``series_fn`` and builds one output frame per
batch. Every ``series_fn`` runs its models through one model-call step
(``_ModelStep``), which owns the timing, the fallback rule and the
mean/lo/hi column layout. The exog paths send the panel (or state) rows and
the ``X_df`` rows through the same shape as one side-tagged union. The same
shape implements ``cross_validation`` (rolling-origin backtest, reference
core.py:246-383) and ``fitted_values`` (in-sample predictions, reference
core.py:1095-1120).

Scale design notes
------------------
* One exchange on the series key; everything else is kernel-local.
* Fallback model semantics per reference core.py:189-204: a model that raises
  inside the kernel is replaced by the fallback's numbers under the failing
  model's column name (so schemas stay fixed); without a fallback the task
  fails loudly. Argument errors (missing regressors, wrong ``X_df`` row
  counts, missing stored state) are raised outside that rule.
* Each series must fit in one task's memory — that is the reference's own
  model (a series is one GroupedArray slice); 10^5-point series ≈ 1 MB. A
  worker holds one Arrow batch plus the one series still open.
"""

from __future__ import annotations

import hashlib
import pickle
import time
from typing import Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from sparkts.kernels.base import Model, norm_ppf, residual_sigma
from sparkts.plans.schema import (
    cv_schema,
    fitted_schema,
    forecast_schema,
    simulate_schema,
)


#: side tag of the exog paths' union: 0 = panel or state rows, 1 = X_df rows
_SIDE = "__sparkts_side"


def _stack(parts: list[dict], cols: list[str]) -> dict:
    """Column-wise concatenation of column-array dicts (series or windows)."""
    if len(parts) == 1:
        return parts[0]
    return {c: np.concatenate([p[c] for p in parts]) for c in cols}


def _series_stream(id_col: str, series_fn, schema: T.StructType,
                   sides: tuple[list[str], list[str]] | None = None):
    """The per-series skeleton: the Python function of one partition.

    ``run(frames)`` takes frames sorted by (id[, side], time), cuts a series
    wherever the id changes and calls ``series_fn(uid, rows)``, or with
    ``sides`` (the exog union's left and right columns) ``series_fn(uid,
    left_rows, right_rows)``, a missing side being an empty frame. A frame's
    last series is carried into the next frame until it closes.
    ``series_fn`` returns a dict of column arrays, or None to emit nothing.
    Each input frame, and the partition's end, gives ONE output frame with
    the schema's columns (empty if nothing closed). This is the only place
    the engine crosses from Arrow batches to series.
    """
    cols = schema.names

    def call(pieces: list[pd.DataFrame]):
        rows = pieces[0] if len(pieces) == 1 else pd.concat(pieces)
        uid = rows[id_col].iat[0]
        if sides is None:
            return series_fn(uid, rows)
        k = int(np.searchsorted(rows[_SIDE].to_numpy(), 1))
        return series_fn(uid, rows.iloc[:k][sides[0]],
                         rows.iloc[k:][sides[1]])

    def frame(outs: list) -> pd.DataFrame:
        parts = [o for o in outs if o is not None]
        return pd.DataFrame(_stack(parts, cols) if parts else {},
                            columns=cols)

    def run(frames):
        carry: list[pd.DataFrame] = []  # pieces of the series still open
        for pdf in frames:
            if pdf.empty:
                continue
            ids = pdf[id_col].to_numpy()
            cuts = [0, *(np.flatnonzero(ids[1:] != ids[:-1]) + 1), ids.size]
            outs = []
            for lo, hi in zip(cuts[:-1], cuts[1:]):
                if carry and ids[lo] != carry[0][id_col].iat[0]:
                    outs.append(call(carry))
                    carry = []
                carry.append(pdf.iloc[lo:hi])
            yield frame(outs)
        if carry:
            yield frame([call(carry)])

    return run


def _apply_by_series(df: DataFrame, id_col: str, time_col: str, series_fn,
                     schema: T.StructType, right: DataFrame | None = None,
                     ordered: bool = False) -> DataFrame:
    """The engine's one Spark shape: ``repartition(n, id)``,
    ``sortWithinPartitions(id[, side], time)``, then one ``mapInPandas``
    call per partition through ``_series_stream`` (the reference's
    sort-once-and-slice ``GroupedArray``, core.py:43-60). With ``right``
    (the exog paths) both sides go through that exchange as one
    ``unionByName``, tagged 0/1 by side. ``ordered`` range-partitions the
    ids so the partitions come out in id order. Null ids are no series.

    Why an explicit repartition: AQE coalesces shuffle partitions by JVM
    byte size, and a panel small in bytes coalesces to ONE partition —
    serializing every kernel call on one worker. AQE leaves user
    repartitioning alone (one exchange — asserted in tests/test_plans.py)."""
    sides = None
    keys = [id_col, F.col(time_col).asc_nulls_last()]
    if right is not None:
        sides = (df.columns, right.columns)
        df = df.withColumn(_SIDE, F.lit(0)).unionByName(
            right.withColumn(_SIDE, F.lit(1)), allowMissingColumns=True)
        keys.insert(1, _SIDE)
    # 2 tasks per core, so the scheduler can back-fill stragglers. r6, on
    # the heavy AutoARIMA/AutoETS legs (200 long series): ×2 cut the wall
    # 5.4→4.2 s / 4.5→3.3 s with the 2,000-series cheap-model cv flat; ×4
    # helped the heavy legs more but cost the cheap cv ~20% per-task overhead
    n = 2 * df.sparkSession.sparkContext.defaultParallelism
    df = df.where(F.col(id_col).isNotNull())
    df = df.repartitionByRange(n, id_col) if ordered else df.repartition(
        n, id_col)
    return df.sortWithinPartitions(*keys).mapInPandas(
        _series_stream(id_col, series_fn, schema, sides), schema)


def _future_index(last, h: int, freq):
    """Future timestamps from last + freq (reference core.py:708-715
    semantics: the grid is generated, never read from data)."""
    if isinstance(freq, int):
        return np.asarray([last + freq * (i + 1) for i in range(h)])
    off = pd.tseries.frequencies.to_offset(freq)
    return pd.date_range(start=last + off, periods=h, freq=off)


def _exog_kw(m: Model, X, X_future) -> dict:
    """Regressor kwargs for a model that takes them, when there are any."""
    if X is None or not m.takes_exog:
        return {}
    return {"X": X, "X_future": X_future}


def _fit_state(m: Model, y, X):
    if X is not None and m.takes_exog:
        return m.fit_state(y, X=X)
    return m.fit_state(y)


def _require_forward(models, what: str) -> None:
    """Parameterized models need fit_state/forward to re-apply stored
    parameters (reference validation core.py:1188-1200) — checked at call
    time, not in the workers."""
    missing = [repr(m) for m in models if m.tunable and (
        type(m).forward is Model.forward
        or type(m).fit_state is Model.fit_state)]
    if missing:
        raise ValueError(
            f"{what} needs a forward implementation for: {missing}")


def _cv_windows(uid, n: int, h: int, n_windows: int, step_size: int,
                input_size: int | None, drop_short: bool = False):
    """(w, lo, train_end) of each rolling-origin window: test_size =
    h + step_size·(n_windows−1) (reference core.py:1183); window w trains
    on y[lo:train_end] (the trailing ``input_size`` points, or all) and
    scores the next h points. A series with n ≤ test_size raises
    (core.py:1205-1212), or yields no window under ``drop_short``."""
    test_size = h + step_size * (n_windows - 1)
    if n <= test_size:
        if drop_short:
            return []
        raise ValueError(
            f"series {uid!r} has {n} observations <= test_size {test_size}")
    wins = []
    for w in range(n_windows):
        train_end = n - test_size + w * step_size
        lo = 0 if input_size is None else max(0, train_end - input_size)
        wins.append((w, lo, train_end))
    return wins


def _fitted_columns(fits: dict, y: np.ndarray, level) -> dict:
    """In-sample fitted columns (NaN for a model without fitted values);
    ``level`` adds fitted ± z·σ with σ = √(Σ resid²/(n−1)) — the
    reference's ``_add_fitted_pi`` (models.py:103-113), one constant
    residual-scale band across the in-sample period."""
    data = {}
    for alias, res in fits.items():
        vals = res.get("fitted")
        vals = vals if vals is not None else np.full(y.size, np.nan)
        data[alias] = vals
        if level:
            se = residual_sigma(y - vals, max(y.size - 1, 1))
            for lv in sorted(level):
                z = norm_ppf(0.5 + lv / 200.0)
                data[f"{alias}-lo-{lv}"] = vals - z * se
                data[f"{alias}-hi-{lv}"] = vals + z * se
    return data


class _ModelStep:
    """The one model-call step every engine method runs its models through.

    ``step(call, fall)`` returns alias → ``call(m)`` for each model. Any
    exception a model raises is answered with ``fall(fallback, m)`` when
    the engine has a fallback model (reference core.py:189-204), and
    re-raised otherwise. Every call, fallback included, is timed into
    ``timers`` and every fallback counted into ``fallback_counts``: dicts
    of Spark accumulators keyed by alias, the distributed analogue of the
    reference's forecast_times_ (core.py:173,205).
    ``step.columns(call, fall, level)`` lays the results out as forecast
    columns ``{alias}``, ``{alias}-lo-{l}``, ``{alias}-hi-{l}``."""

    def __init__(self, models, fallback, timers, fallback_counts):
        self.models = models
        self.fallback = fallback
        self.timers = timers
        self.fallback_counts = fallback_counts

    def __call__(self, call, fall) -> dict:
        out = {}
        for m in self.models:
            alias = repr(m)
            t0 = time.perf_counter()
            try:
                out[alias] = call(m)
            except Exception:
                if self.fallback is None:
                    raise
                out[alias] = fall(self.fallback, m)
                self.fallback_counts[alias].add(1)
            self.timers[alias].add(time.perf_counter() - t0)
        return out

    def columns(self, call, fall, level) -> dict:
        cols = {}
        for alias, res in self(call, fall).items():
            cols[alias] = res["mean"]
            for lv in sorted(level or []):
                cols[f"{alias}-lo-{lv}"] = res[f"lo-{lv}"]
                cols[f"{alias}-hi-{lv}"] = res[f"hi-{lv}"]
        return cols


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
        #: populated after the action of any method that runs models:
        #: alias → accumulated model-call seconds across all executors, and
        #: alias → fallback count (reference forecast_times_, core.py:960)
        self.forecast_times_: dict[str, object] = {}
        self.fallback_counts_: dict[str, object] = {}

    def _metrics(self, df: DataFrame) -> _ModelStep:
        """The model-call step over fresh per-model accumulators registered
        on df's SparkContext (every method that runs models calls this)."""
        sc = df.sparkSession.sparkContext
        self.forecast_times_ = {repr(m): sc.accumulator(0.0) for m in self.models}
        self.fallback_counts_ = {repr(m): sc.accumulator(0) for m in self.models}
        return _ModelStep(self.models, self.fallback_model,
                          self.forecast_times_, self.fallback_counts_)

    def metrics_table(self, spark: SparkSession | None = None) -> DataFrame:
        """Per-model wall-time + fallback counters as a queryable
        DataFrame (SURVEY §2.7 wall-time row; the reference exposes
        ``forecast_times_`` as a dict, core.py:960 — here it's a table a
        pipeline can join/append to its lineage). Accumulator values are
        complete only after an ACTION has consumed the output of any
        method (forecast, predict, fit, cross_validation, ...); call this
        after the count/write, not after the lazy transform."""
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
        """Append the per-model metrics, read after the action of any
        method's output, to a ``LineageStore`` manifest —
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
        (reference core.py:737-751). The exog path zips the two frames like
        the reference's Fugue zip (fugue.py:25-51 _cotransform): both go
        through the engine's one exchange as a side-tagged union, with no
        join.
        """
        models, freq = self.models, self.freq
        schema = forecast_schema(
            df.schema[id_col], df.schema[time_col], models, level
        )
        exog_cols = [c for c in df.columns if c not in (id_col, time_col, target_col)]
        if any(m.uses_exog for m in models) and (X_df is None or not exog_cols):
            raise ValueError(
                "models with uses_exog need exog columns in df and an X_df "
                "with h future rows per id")  # reference core.py:753-764
        if X_df is not None:
            missing = [c for c in exog_cols if c not in X_df.columns]
            if missing:
                raise ValueError(f"X_df is missing exog columns {missing}")
        step = self._metrics(df)

        def series_fn(uid, rows: pd.DataFrame, xf: pd.DataFrame | None = None):
            y = rows[target_col].to_numpy(dtype=np.float64)
            X = X_future = None
            if xf is None:
                future = _future_index(rows[time_col].iloc[-1], h, freq)
            else:
                X = rows[exog_cols].to_numpy(dtype=np.float64)
                X_future = xf[exog_cols].to_numpy(dtype=np.float64)
                future = xf[time_col].to_numpy()
                if len(future) != h:
                    raise ValueError(
                        f"series {uid!r}: X_df has {len(future)} rows, "
                        f"expected h={h}")
            data = {id_col: np.repeat(uid, h), time_col: future}
            data.update(step.columns(
                lambda m: m.forecast(y, h, level=level,
                                     **_exog_kw(m, X, X_future)),
                lambda fb, m: fb.forecast(y, h, level=level), level))
            return data

        if X_df is None:
            return _apply_by_series(
                df.select(id_col, time_col, target_col), id_col, time_col,
                series_fn, schema)
        return _apply_by_series(
            df.select(id_col, time_col, target_col, *exog_cols), id_col,
            time_col, series_fn, schema,
            right=X_df.select(id_col, time_col, *exog_cols))

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
        Parameterized models without a forward implementation raise here,
        before any Spark job.
        """
        models = self.models
        _require_forward(models, "fit")
        aliases = np.array([repr(m) for m in models], dtype=object)
        exog_cols = [c for c in df.columns
                     if c not in (id_col, time_col, target_col)]
        schema = T.StructType([
            df.schema[id_col],
            T.StructField("model", T.StringType(), False),
            T.StructField("state", T.BinaryType(), False),
            T.StructField(time_col, df.schema[time_col].dataType, True),
            T.StructField("n_obs", T.LongType(), False),
        ])
        step = self._metrics(df)

        def series_fn(uid, rows: pd.DataFrame):
            y = rows[target_col].to_numpy(dtype=np.float64)
            X = (rows[exog_cols].to_numpy(dtype=np.float64)
                 if exog_cols else None)
            states = step(lambda m: _fit_state(m, y, X),
                          lambda fb, m: {"__fallback__": True})
            blobs = []
            for m in models:
                blob = {"state": states[repr(m)], "y": y}
                if X is not None and m.takes_exog:
                    # persist the regressor NAMES with the matrix so predict
                    # can validate/reorder its X_df against the fit-time
                    # column order (a permuted X_df must never silently
                    # apply beta to the wrong columns)
                    blob["X"] = X
                    blob["xcols"] = list(exog_cols)
                blobs.append(pickle.dumps(blob))
            k = len(models)
            return {id_col: np.repeat(uid, k), "model": aliases,
                    "state": np.array(blobs, dtype=object),
                    time_col: np.repeat(rows[time_col].to_numpy()[-1:], k),
                    "n_obs": np.full(k, y.size, dtype=np.int64)}

        return _apply_by_series(
            df.select(id_col, time_col, target_col, *exog_cols), id_col,
            time_col, series_fn, schema)

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
        models, freq = self.models, self.freq
        _require_forward(models, "predict")
        by_alias = {repr(m): m for m in models}
        schema = forecast_schema(
            states.schema[id_col], states.schema[time_col], models, level)
        exog_cols = ([c for c in X_df.columns if c not in (id_col, time_col)]
                     if X_df is not None else [])
        step = self._metrics(states)

        def exog_kw(uid, alias, blob, xf):
            if not by_alias[alias].takes_exog:
                return {}
            if "xcols" in blob:
                # state was fitted WITH regressors: X_df is mandatory and
                # must carry the same columns (any order); reorder to the
                # fit-time order so beta applies to the right columns
                want = blob["xcols"]
                if xf is None:
                    raise ValueError(
                        f"series {uid!r}: {alias} was fit with exog "
                        f"columns {want}; predict needs X_df")
                missing = [c for c in want if c not in xf.columns]
                if missing:
                    raise ValueError(
                        f"series {uid!r}: X_df is missing exog columns "
                        f"{missing} that {alias} was fit with")
                return {"X": blob["X"],
                        "X_future": xf[want].to_numpy(dtype=np.float64)}
            if xf is not None:
                return {"X": blob.get("X"),
                        "X_future": xf[exog_cols].to_numpy(dtype=np.float64)}
            return {}

        def series_fn(uid, rows: pd.DataFrame, xf: pd.DataFrame | None = None):
            if xf is None:
                future = _future_index(rows[time_col].iloc[0], h, freq)
            else:
                if rows.empty:
                    raise ValueError(
                        f"series {uid!r}: X_df rows but no stored state rows")
                if len(xf) != h:
                    raise ValueError(
                        f"series {uid!r}: X_df has {len(xf)} rows, "
                        f"expected h={h}")
                future = xf[time_col].to_numpy()
            blobs = {a: pickle.loads(bytes(s))
                     for a, s in zip(rows["model"], rows["state"])
                     if a in by_alias}
            missing = [a for a in by_alias if a not in blobs]
            if missing:
                raise ValueError(
                    f"series {uid!r}: no stored state for models {missing}")
            kws = {a: exog_kw(uid, a, b, xf) for a, b in blobs.items()}

            def call(m):
                blob = blobs[repr(m)]
                state = blob["state"]
                if isinstance(state, dict) and state.get("__fallback__"):
                    raise ValueError("fallback state")
                return m.forward(state, blob["y"], h, level=level,
                                 **kws[repr(m)])

            data = {id_col: np.repeat(uid, h), time_col: np.asarray(future)}
            data.update(step.columns(
                call, lambda fb, m: fb.forecast(blobs[repr(m)]["y"], h,
                                                level=level), level))
            return data

        return _apply_by_series(
            states, id_col, time_col, series_fn, schema,
            right=None if X_df is None
            else X_df.select(id_col, time_col, *exog_cols))

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

        ``level`` adds ``{model}-lo/hi-{l}`` fitted prediction intervals
        (see ``_fitted_columns``)."""
        schema = fitted_schema(
            df.schema[id_col], df.schema[time_col], target_col, self.models,
            level=level
        )
        step = self._metrics(df)

        def series_fn(uid, rows: pd.DataFrame):
            y = rows[target_col].to_numpy(dtype=np.float64)
            fits = step(lambda m: m.forecast(y, 1, fitted=True),
                        lambda fb, m: fb.forecast(y, 1, fitted=True))
            data = {
                id_col: rows[id_col].to_numpy(),
                time_col: rows[time_col].to_numpy(),
                target_col: y,
            }
            data.update(_fitted_columns(fits, y, level))
            return data

        return _apply_by_series(
            df.select(id_col, time_col, target_col), id_col, time_col,
            series_fn, schema)

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
        freq = self.freq
        schema = simulate_schema(df.schema[id_col], df.schema[time_col],
                                 self.models)
        step = self._metrics(df)

        def series_fn(uid, rows: pd.DataFrame):
            y = rows[target_col].to_numpy(dtype=np.float64)
            s = int(hashlib.md5(f"{seed}:{uid}".encode()).hexdigest()[:8],
                    16) % 2147483648
            future = _future_index(rows[time_col].iloc[-1], h, freq)

            def sim(m):
                return m.simulate(y, h, n_paths=n_paths, seed=s,
                                  error_dist=error_dist,
                                  error_params=error_params)

            data = {
                id_col: np.repeat(uid, h * n_paths),
                time_col: np.tile(np.asarray(future), n_paths),
                "sample_id": np.repeat(np.arange(n_paths, dtype=np.int32), h),
            }
            for alias, paths in step(sim, lambda fb, m: sim(fb)).items():
                data[alias] = paths.reshape(-1)
            return data

        return _apply_by_series(
            df.select(id_col, time_col, target_col), id_col, time_col,
            series_fn, schema)

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

        Windows as in ``_cv_windows``: test_size = h + step_size·(n_windows−1);
        series shorter than test_size+1 raise unless ``drop_short=True``
        drops them kernel-side.

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

        ``sort=True`` gives the reference's presentation order
        [id, cutoff, ds] (core.py:1246-1257) without sorting the cv output:
        the series ids are range-partitioned instead of hashed, and each
        partition already comes out in that order, so every model runs once
        and no second shuffle follows. Spark's range partitioner samples the
        input's ids first, one extra pass over the input (not the models).
        Pass ``sort=False`` at scale when downstream doesn't need global
        order.

        The whole backtest loop runs inside one kernel call per series
        (reference-shaped "Option A"): state stays local.
        """
        models = self.models
        exog_cols = [c for c in df.columns
                     if c not in (id_col, time_col, target_col)]
        if any(m.uses_exog for m in models) and not exog_cols:
            raise ValueError(
                "models with uses_exog need exog columns in df")
        if refit is not True:
            if isinstance(refit, int) and not isinstance(refit, bool) and refit < 1:
                raise ValueError("refit must be True, False, or a positive int")
            _require_forward(models, f"refit={refit}")
        # k-th window refits; False (k=0) fits on the first window only
        k = 0 if refit is True else int(refit)
        schema = cv_schema(
            df.schema[id_col], df.schema[time_col], target_col, models, level
        )
        cols = schema.names
        # optional_exog models (ARIMA xreg) consume the panel's regressors
        # when present, but never require them
        keep_exog = exog_cols if any(m.takes_exog for m in models) else []
        step = self._metrics(df)

        def series_fn(uid, rows: pd.DataFrame):
            y = rows[target_col].to_numpy(dtype=np.float64)
            Xall = (rows[keep_exog].to_numpy(dtype=np.float64)
                    if keep_exog else None)
            ts = rows[time_col].to_numpy()
            wins = _cv_windows(uid, y.size, h, n_windows, step_size,
                               input_size, drop_short)
            if not wins:
                return None
            states: dict[str, object] = {}
            blocks = []
            for w, lo, end in wins:
                y_train = y[lo:end]
                X_train = Xall[lo:end] if Xall is not None else None
                X_fut = Xall[end: end + h] if Xall is not None else None
                do_fit = w == 0 or (k and w % k == 0)

                def call(m):
                    kw = _exog_kw(m, X_train, X_fut)
                    if refit is True:
                        return m.forecast(y_train, h, level=level, **kw)
                    if do_fit or repr(m) not in states:
                        states[repr(m)] = _fit_state(m, y_train, X_train)
                    return m.forward(states[repr(m)], y_train, h,
                                     level=level, **kw)

                block = {
                    id_col: np.repeat(uid, h),
                    time_col: ts[end: end + h],
                    "cutoff": np.repeat(ts[end - 1], h),
                    target_col: y[end: end + h],
                }
                block.update(step.columns(
                    call, lambda fb, m: fb.forecast(y_train, h, level=level),
                    level))
                blocks.append(block)
            return _stack(blocks, cols)

        return _apply_by_series(
            df.select(id_col, time_col, target_col, *keep_exog), id_col,
            time_col, series_fn, schema, ordered=sort)

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
        schema = cv_schema(
            df.schema[id_col], df.schema[time_col], target_col, self.models,
            None
        )
        cols = schema.names
        step = self._metrics(df)

        def series_fn(uid, rows: pd.DataFrame):
            y = rows[target_col].to_numpy(dtype=np.float64)
            ts = rows[time_col].to_numpy()
            blocks = []
            for _, lo, end in _cv_windows(uid, y.size, h, n_windows,
                                          step_size, input_size):
                y_train = y[lo:end]
                fits = step(lambda m: m.forecast(y_train, 1, fitted=True),
                            lambda fb, m: fb.forecast(y_train, 1,
                                                      fitted=True))
                block = {
                    id_col: np.repeat(uid, end - lo),
                    time_col: ts[lo:end],
                    "cutoff": np.repeat(ts[end - 1], end - lo),
                    target_col: y_train,
                }
                block.update(_fitted_columns(fits, y_train, None))
                blocks.append(block)
            return _stack(blocks, cols)

        return _apply_by_series(
            df.select(id_col, time_col, target_col), id_col, time_col,
            series_fn, schema)
