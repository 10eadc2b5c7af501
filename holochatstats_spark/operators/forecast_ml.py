"""V9 — grouped-map ML forecaster via applyInPandas (the reference's LSTM
path, forecaster.py:201-273 + 353-398, re-expressed Spark-first).

The reference trains a per-channel torch LSTM (or MLP fallback by history
length) on the driver, channel by channel. The Spark-native shape is a
grouped-map Pandas UDF: `groupBy(series).applyInPandas(...)` — every
series trains in parallel on its executor, Arrow moves the batches, and
the driver never sees the data.

Model: torch is not a dependency, so the model is a deterministic numpy
ridge autoregression (closed-form (XᵀX+λI)⁻¹Xᵀy over LAGS lagged values,
recursive multi-step) — same applyInPandas plumbing, schema, and group
shape the LSTM would use. An LSTM would replace `_fit_predict` without
touching the Spark side.

Excluded from the hash oracle (rows-only check): the reference model is
MC-dropout nondeterministic, and float BLAS reductions vary across builds.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame

LAGS = 3
HORIZON = 3
RIDGE_LAMBDA = 1e-3

RESULT_SCHEMA = (
    "series string, h int, forecast double, model_version string, n_months int"
)


def _fit_predict(x: np.ndarray) -> tuple[list[float], str]:
    """Deterministic ridge AR(LAGS) with recursive multi-step forecast."""
    n = len(x)
    if n < LAGS + 2:
        # too short to fit lags: flat carry-forward (reference 'statistical'
        # fallback shape, forecaster.py:87-90)
        return [float(x[-1] if n else 0.0)] * HORIZON, "carry_forward"
    # standardize for conditioning; exact ops, deterministic
    mu, sigma = float(x.mean()), float(x.std()) or 1.0
    z = (x - mu) / sigma
    X = np.column_stack([z[i : n - LAGS + i] for i in range(LAGS)])
    X = np.column_stack([X, np.ones(len(X))])
    y = z[LAGS:]
    A = X.T @ X + RIDGE_LAMBDA * np.eye(X.shape[1])
    beta = np.linalg.solve(A, X.T @ y)
    window = list(z[-LAGS:])
    out = []
    for _ in range(HORIZON):
        pred = float(np.dot(beta[:LAGS], window) + beta[LAGS])
        out.append(pred * sigma + mu)
        window = window[1:] + [pred]
    return out, f"ridge_ar{LAGS}"


def forecast_per_series(
    monthly: DataFrame,
    series_col: str = "series",
    month_col: str = "m",
    value_col: str = "x",
) -> DataFrame:
    """monthly(series, m, x) → (series, h, forecast, model_version,
    n_months): one grouped-map UDF call per series."""

    def fit_group(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(month_col)
        x = pdf[value_col].to_numpy(dtype=np.float64)
        preds, version = _fit_predict(x)
        return pd.DataFrame(
            {
                "series": pdf[series_col].iloc[0],
                "h": np.arange(1, HORIZON + 1, dtype=np.int32),
                "forecast": np.round(preds, 2),
                "model_version": version,
                "n_months": np.int32(len(x)),
            }
        )

    return monthly.groupBy(series_col).applyInPandas(fit_group, RESULT_SCHEMA)
