"""Feature engineering: MSTL decomposition columns for downstream models.

Reference: feature_engineering.py:19-69 ``mstl_decomposition`` — fit MSTL per
series, attach trend + seasonal columns to the TRAIN frame, and produce a
FUTURE frame (h rows per id) whose trend column is the trend sub-forecaster's
prediction and whose seasonal columns tile the last cycle.

Spark shape: the engine's per-series skeleton (``engine._apply_by_series``:
id-partitioned, id/time-sorted partitions through one ``mapInPandas``)
emits both frames of each series as a tagged union (``frame`` ∈
{'train','future'}) so the decomposition runs exactly once;
``split_frames`` persists and filters. One shuffle total.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F, types as T

from sparkts.engine import _apply_by_series, _future_index
from sparkts.kernels.mstl import MSTL, mstl


def mstl_decomposition(
    df: DataFrame,
    model: MSTL,
    freq: str | int,
    h: int,
    id_col: str = "unique_id",
    time_col: str = "ds",
    target_col: str = "y",
) -> DataFrame:
    """Tagged union of train (+components) and future (+forecast components).

    Columns: id, ds, y (NaN on future rows), trend, seasonal[ _p ]..., frame.
    """
    periods = sorted(model.periods)
    seas_cols = ([f"seasonal{p}" for p in periods] if len(periods) > 1
                 else ["seasonal"])
    fields = [
        df.schema[id_col],
        df.schema[time_col],
        T.StructField(target_col, T.DoubleType(), True),
        T.StructField("trend", T.DoubleType(), True),
    ]
    fields += [T.StructField(c, T.DoubleType(), True) for c in seas_cols]
    fields.append(T.StructField("frame", T.StringType(), False))
    schema = T.StructType(fields)

    trend_fc = model.trend_forecaster

    def series_fn(uid, rows: pd.DataFrame) -> dict:
        y = rows[target_col].to_numpy(dtype=np.float64)
        n = y.size
        dec = mstl(y, periods)
        future_ts = _future_index(rows[time_col].iloc[-1], h, freq)
        data = {
            id_col: np.repeat(uid, n + h),
            time_col: np.concatenate([rows[time_col].to_numpy(),
                                      np.asarray(future_ts)]),
            target_col: np.concatenate([y, np.full(h, np.nan)]),
            "trend": np.concatenate(
                [dec["trend"], trend_fc.forecast(dec["trend"], h)["mean"]]),
            "frame": np.repeat(["train", "future"], [n, h]),
        }
        for c, p in zip(seas_cols, periods):
            s = dec["seasonals"].get(p, np.zeros(n))
            last = s[-p:] if p <= s.size else np.zeros(p)
            data[c] = np.concatenate([s, np.tile(last, h // p + 1)[:h]])
        return data

    return _apply_by_series(df.select(id_col, time_col, target_col), id_col,
                            time_col, series_fn, schema)


def split_frames(tagged: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(train_df, X_df) from the tagged union; persists so the decomposition
    kernel runs once, not once per output."""
    tagged = tagged.persist()
    train = tagged.where(F.col("frame") == "train").drop("frame")
    future = tagged.where(F.col("frame") == "future").drop("frame", "y")
    return train, future
