"""``ml_forecast`` is SQL text that Spark and its DuckDB twin both run. On a
hand-built orders table, both give the rows of the ridge AR(3) reference
that the grouped-map forecaster ran (``_fit_predict``, kept verbatim below),
on the edges the testdata series (75-80 months each) never reach: fewer
than 5 months, a constant series, a missing month, and a value on an exact
``.xx5``. Rounding is half up (``floor(v*100 + 0.5)/100``); the grouped-map
forecaster's ``np.round`` rounds such a tie to even."""

from __future__ import annotations

import math

import numpy as np
import pytest

from holochatstats_spark.queries import load_all_queries
from holochatstats_spark.testing import compare_query, duck_connection
from tests.conftest import sf_copy

LAGS = 3
HORIZON = 3
RIDGE_LAMBDA = 1e-3


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


# series -> monthly totals from 2024-01 on; None is a month with no order
TIE = 1234.125  # an exact binary double: 123412.5 cents
SERIES = {
    "a_three_months": [10.5, 20.25, 15.0],
    "b_four_months_tie": [5.0, 7.5, 6.25, TIE],
    "c_five_months": [100.0, 140.0, 90.0, 160.0, 120.0],
    "d_constant": [250.0] * 8,
    "e_missing_month": [
        900.0, 1100.0, 1050.0, None, 1300.0, 1250.0, 1400.0, 1380.0, 1500.0, 1620.0, 1580.0,
    ],
    "f_trend": [1000.0 + 37.5 * k + (-1) ** k * 11.0 for k in range(14)],
}


def _orders_select() -> str:
    rows = []
    for series, values in SERIES.items():
        for k, v in enumerate(values):
            if v is not None:
                rows.append(
                    f"({len(rows) + 1}, 1, 'O', {v!r}, TIMESTAMP '{2024 + k // 12}-{k % 12 + 1:02d}-15', '{series}')"
                )
    return (
        "SELECT CAST(k AS BIGINT) AS o_orderkey, CAST(c AS BIGINT) AS o_custkey,"
        " s AS o_orderstatus, CAST(p AS DOUBLE) AS o_totalprice, d AS o_orderdate,"
        " q AS o_orderpriority FROM (VALUES " + ", ".join(rows) + ") t(k, c, s, p, d, q)"
    )


def _half_up(v: float) -> float:
    return math.floor(v * 100 + 0.5) / 100


def _reference_rows() -> list[tuple]:
    rows = []
    for series, values in SERIES.items():
        x = np.array([v for v in values if v is not None], dtype=np.float64)
        preds, version = _fit_predict(x)
        rows += [(series, h, _half_up(p), version, len(x)) for h, p in enumerate(preds, 1)]
    return rows


@pytest.fixture(scope="module")
def edge_sf(tmp_path_factory):
    return sf_copy(tmp_path_factory.mktemp("sf_ml_forecast"), "orders", _orders_select())


@pytest.fixture(scope="module")
def forecast_rows(spark, edge_sf):
    q = load_all_queries()["ml_forecast"]
    df = q.build(spark, edge_sf)
    res = duck_connection(edge_sf).execute(q.oracle)
    return [tuple(r) for r in df.collect()], df.columns, res.fetchall()


def test_spark_matches_reference_on_edge_series(forecast_rows):
    spark_rows, cols, _ = forecast_rows
    assert cols == ["series", "h", "forecast", "model_version", "n_months"]
    assert spark_rows == _reference_rows()  # ordered by series, h


def test_duckdb_twin_matches_reference_on_edge_series(forecast_rows):
    assert forecast_rows[2] == _reference_rows()


def test_twin_hash_matches_spark_on_edge_series(spark, edge_sf):
    q = load_all_queries()["ml_forecast"]
    assert compare_query(spark, duck_connection(edge_sf), q, edge_sf) == []


def test_edge_series_take_their_branch(forecast_rows):
    by_series = {}
    for series, h, forecast, version, n in forecast_rows[0]:
        by_series.setdefault(series, []).append((forecast, version, n))
    assert {s: r[0][1:] for s, r in by_series.items()} == {
        "a_three_months": ("carry_forward", 3),
        "b_four_months_tie": ("carry_forward", 4),
        "c_five_months": ("ridge_ar3", 5),
        "d_constant": ("ridge_ar3", 8),
        "e_missing_month": ("ridge_ar3", 10),
        "f_trend": ("ridge_ar3", 14),
    }
    # sigma = 0 is taken as 1: every z is 0, so beta is 0 and the forecast
    # is the mean
    assert [f for f, _, _ in by_series["d_constant"]] == [250.0] * 3
    # the tie rounds half up; np.round would give 1234.12
    assert [f for f, _, _ in by_series["b_four_months_tie"]] == [1234.13] * 3
    assert float(np.round(TIE, 2)) == 1234.12


def test_missing_month_is_skipped_not_zero(forecast_rows):
    # the lags run over rows, so the gap is not an 11th month of 0
    got = [r for r in forecast_rows[0] if r[0] == "e_missing_month"]
    filled = np.array([v or 0.0 for v in SERIES["e_missing_month"]])
    zero_filled = [_half_up(p) for p in _fit_predict(filled)[0]]
    assert [r[2] for r in got] != zero_filled

