"""Independent numpy references the output checks compare against."""

from __future__ import annotations

import numpy as np
import pandas as pd

#: the best model's mean test RMSE over a 14-day recursive horizon must
#: stay within this multiple of the planted noise (rms of per-series sd);
#: the AR(7)+trend fit of a trend + weekly-sine + iid-noise series lands
#: near 1.1-1.5 x sigma
TEST_RMSE_BOUND = 2.5


def _design(ar: np.ndarray, t: np.ndarray, dow: np.ndarray) -> np.ndarray:
    return np.column_stack([ar, t, dow, np.ones(len(t))])


def mlr_forecast(y: np.ndarray, dates: pd.DatetimeIndex, horizon: int, lags: int) -> np.ndarray:
    """Recursive OLS forecast on y lags 1..``lags``, a 1-based time trend
    and the raw day of week (1 = Sunday), with an intercept."""
    y = np.asarray(y, float)
    n = len(y)
    future = pd.date_range(dates[-1] + pd.Timedelta(days=1), periods=horizon, freq="D")
    all_dates = dates.append(future)
    t = np.arange(1, n + horizon + 1, dtype=float)
    dow = ((all_dates.dayofweek + 1) % 7 + 1).to_numpy(float)
    rows = np.arange(lags, n)
    ar = np.column_stack([y[rows - k] for k in range(1, lags + 1)])
    beta, *_ = np.linalg.lstsq(_design(ar, t[rows], dow[rows]), y[rows], rcond=None)
    hist = list(y)
    out = []
    for i in range(n, n + horizon):
        x = _design(np.array([[hist[-k] for k in range(1, lags + 1)]]), t[i : i + 1], dow[i : i + 1])
        pred = float(x @ beta)
        out.append(pred)
        hist.append(pred)
    return np.array(out)


def recall_at_k(ids: np.ndarray, mat: np.ndarray, queries: np.ndarray, result: pd.DataFrame, k: int) -> float:
    """Mean share of each query's exact cosine top-k (unit vectors, so a
    dot product) found in the served top-k."""
    hits = 0
    for qid, q in enumerate(queries):
        truth = set(ids[np.argsort(-(mat @ q), kind="stable")[:k]].tolist())
        got = set(result.loc[result["query_id"] == qid, "vec_id"].tolist())
        hits += len(truth & got)
    return hits / (k * len(queries))
