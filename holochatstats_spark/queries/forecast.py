"""Deterministic forecasting (V9-V11): the statistical path of the
reference's forecaster (forecaster.py:318-351 — trend + z-based intervals),
and in place of its per-channel LSTM (V9, torch + MC-dropout) a ridge
AR(3) written as SQL text, so every query here is hash-checked.

Linear-trend fit uses regr_slope/regr_intercept — native aggregates in both
Spark and DuckDB, computed from distributed moment sums (no per-group
collect), so a per-channel fit at 100 TB is one groupBy.
"""

from __future__ import annotations

import itertools

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from holochatstats_spark.functions.core import round2, round_half_up_sql
from holochatstats_spark.queries import register
from holochatstats_spark.tables import load_table

_Z90 = 1.645  # reference's z-interval, forecaster.py:338-344


# The monthly series (series, m, x) both forecasters fit: the oracle CTE
# and its Spark twin.
_MONTHLY_SQL = """monthly AS (
      SELECT o_orderpriority AS series,
             date_trunc('month', o_orderdate) AS m,
             SUM(o_totalprice) AS x
      FROM orders GROUP BY 1, 2
    )"""


def _monthly(orders: DataFrame) -> DataFrame:
    return orders.groupBy(
        F.col("o_orderpriority").alias("series"),
        F.date_trunc("month", F.col("o_orderdate")).alias("m"),
    ).agg(F.sum("o_totalprice").alias("x"))


def _horizons(spark: SparkSession) -> DataFrame:
    """The forecast steps h = 1, 2, 3."""
    return spark.range(1, 4).select(F.col("id").cast("int").alias("h"))


@register(
    "linear_trend_forecast",
    oracle=f"""
    WITH monthly AS (
      SELECT o_orderpriority,
             CAST(date_part('year', o_orderdate) * 12 + date_part('month', o_orderdate) AS BIGINT)
               AS month_idx,
             SUM(o_totalprice) AS total
      FROM orders GROUP BY 1, 2
    ), fit AS (
      SELECT o_orderpriority,
             COUNT(*) AS n_months,
             regr_slope(total, month_idx) AS slope,
             regr_intercept(total, month_idx) AS icept,
             MAX(month_idx) AS last_idx,
             stddev_samp(total) AS sd
      FROM monthly GROUP BY 1
    )
    SELECT o_orderpriority,
           CAST(n_months AS BIGINT) AS n_months,
           ROUND(slope, 4) AS slope,
           ROUND(icept + slope * (last_idx + 1), 2) AS forecast_next,
           ROUND(icept + slope * (last_idx + 1) - {_Z90} * sd, 2) AS ci_lower,
           ROUND(icept + slope * (last_idx + 1) + {_Z90} * sd, 2) AS ci_upper
    FROM fit
    ORDER BY o_orderpriority
    """,
    survey="V10,V9-analog",
)
def linear_trend_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    monthly = o.groupBy(
        "o_orderpriority",
        (F.year("o_orderdate") * 12 + F.month("o_orderdate"))
        .cast("bigint")
        .alias("month_idx"),
    ).agg(F.sum("o_totalprice").alias("total"))
    fit = monthly.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_months"),
        F.regr_slope("total", "month_idx").alias("slope"),
        F.regr_intercept("total", "month_idx").alias("icept"),
        F.max("month_idx").alias("last_idx"),
        F.stddev_samp("total").alias("sd"),
    )
    fc = F.col("icept") + F.col("slope") * (F.col("last_idx") + 1)
    return fit.select(
        "o_orderpriority",
        F.col("n_months").cast("bigint").alias("n_months"),
        F.round("slope", 4).alias("slope"),
        round2(fc).alias("forecast_next"),
        round2(fc - _Z90 * F.col("sd")).alias("ci_lower"),
        round2(fc + _Z90 * F.col("sd")).alias("ci_upper"),
    ).orderBy("o_orderpriority")


# ---------------------------------------------------------------------------
# V10-exact — the reference's statistical forecaster (forecaster.py:318-351)
# reproduced term for term: MinMax scale to [0.1, 0.9], exp-linspace
# weighted mean (n>=3), population std (n>1, else 0.1), trend =
# (last-first)/n, horizon-3 forecasts clipped to [0.05, 0.95], inverse
# transform, z intervals (1.645 / 0.674) with widening factor 1+0.2i and
# a floor at 0. One groupBy per series + a broadcast horizon spine —
# per-channel fits at 100 TB are distributed moment sums, never a collect.
# ---------------------------------------------------------------------------
def _fsum(arr: str) -> str:
    """Left-to-right double fold of an array (SQL text)."""
    return f"aggregate({arr}, 0.0D, (acc, y) -> acc + y)"


# The ewm_forecast folds over the scaled curve ``s`` of ``n_i`` points, as
# SQL text: the exp-linspace weight at position i, the weighted and plain
# sums, the mean and the population variance.
_EWM_WEIGHT = (
    "CASE WHEN n_i > 1 THEN exp(-1.0D + CAST(i AS DOUBLE) / (CAST(n_i AS DOUBLE) - 1.0D))"
    " ELSE 1.0D END"
)
_EWM_SW_SUM = _fsum(f"transform(s, (v, i) -> v * {_EWM_WEIGHT})")
_EWM_W_SUM = _fsum(f"transform(s, (v, i) -> {_EWM_WEIGHT})")
_EWM_MEAN = f"{_fsum('s')} / CAST(n_i AS DOUBLE)"
_EWM_SQ_DEV = f"transform(s, t -> (t - {_EWM_MEAN}) * (t - {_EWM_MEAN}))"
_EWM_VAR = f"{_fsum(_EWM_SQ_DEV)} / CAST(n_i AS DOUBLE)"


@register(
    "ewm_forecast",
    oracle=f"""
    WITH {_MONTHLY_SQL}, idx AS (
      SELECT series, x,
             ROW_NUMBER() OVER (PARTITION BY series ORDER BY m) - 1 AS i,
             COUNT(*) OVER (PARTITION BY series) AS n,
             MIN(x) OVER (PARTITION BY series) AS mn,
             MAX(x) OVER (PARTITION BY series) AS mx
      FROM monthly
    ), scaled AS (
      SELECT series, i, n, mn, mx,
             CASE WHEN mx = mn THEN 0.5
                  ELSE 0.1 + 0.8 * (x - mn) / (mx - mn) END AS s,
             CASE WHEN n > 1 THEN exp(-1.0 + i / (n - 1.0)) ELSE 1.0 END AS w
      FROM idx
    ), fit AS (
      SELECT series,
             CAST(MAX(n) AS BIGINT) AS n_months,
             MAX(mn) AS mn, MAX(mx) AS mx,
             CASE WHEN MAX(n) >= 3 THEN SUM(s * w) / SUM(w)
                  ELSE AVG(s) END AS wm,
             CASE WHEN MAX(n) > 1 THEN stddev_pop(s) ELSE 0.1 END AS sd,
             CASE WHEN MAX(n) >= 2
                  THEN (arg_max(s, i) - arg_min(s, i)) / MAX(n)
                  ELSE 0 END AS trend
      FROM scaled GROUP BY series
    ), horizons AS (
      SELECT unnest(range(1, 4)) AS h
    ), fc AS (
      SELECT f.series, f.n_months, CAST(hz.h AS INT) AS h,
             (LEAST(GREATEST(f.wm + f.trend * hz.h, 0.05), 0.95) - 0.1)
               * (f.mx - f.mn) / 0.8 + f.mn AS orig,
             f.sd * (f.mx - f.mn) / 0.8 AS sd_orig,
             1 + 0.2 * (hz.h - 1) AS widen
      FROM fit f CROSS JOIN horizons hz
    )
    SELECT series, n_months, h,
           FLOOR(orig * 100 + 0.5) / 100 AS forecast,
           FLOOR(GREATEST(0, orig - 1.645 * sd_orig * widen) * 100 + 0.5) / 100 AS ci_lower,
           FLOOR(GREATEST(0, orig - 0.674 * sd_orig * widen) * 100 + 0.5) / 100 AS p25,
           FLOOR((orig + 0.674 * sd_orig * widen) * 100 + 0.5) / 100 AS p75,
           FLOOR((orig + 1.645 * sd_orig * widen) * 100 + 0.5) / 100 AS ci_upper
    FROM fc
    ORDER BY series, h
    """,
    survey="V10,V11-adjacent",
    tags=("bench",),
)
def ewm_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    monthly = _monthly(load_table(spark, sf_dir, "orders"))
    # r22 (guide §2.4): the r21 shape ran a 4-function window over
    # (series) and THEN a 6-aggregate groupBy — two sorted shuffles of the
    # monthly rows. A series is bounded by the calendar (one row per
    # month), so ONE sorted collect_list per series holds the whole curve
    # and every windowed quantity becomes a higher-order array expression:
    # row_number i = array position, min/max/count = array_min/max/size,
    # the weighted mean / stddev_pop / first-last trend are folds. Numeric
    # parity with the window formulation is NOT automatic (fold order vs
    # distributed sum order, two-pass vs Welford variance) — it is gated
    # by the oracle hash at sf0.001/sf0.01/sf0.1, all of which pass at the
    # rounded output precision.
    # guards (mirrored in the oracle): a constant series (mx == mn) scales
    # to flat 0.5 instead of 0/0 — the reference jitters with random noise
    # there (nondeterministic, forecaster.py:183-185); a 1-month series
    # gets weight 1.0 instead of exp(0/0)=NaN poisoning the unused branch
    arr = monthly.groupBy("series").agg(
        F.expr("sort_array(collect_list(struct(m, x))) AS pts")
    )
    base = arr.selectExpr(
        "series",
        "size(pts) AS n_i",
        "array_min(transform(pts, e -> e.x)) AS mn",
        "array_max(transform(pts, e -> e.x)) AS mx",
        "transform(pts, e -> e.x) AS xs",
    )
    scaled = base.selectExpr(
        "series",
        "n_i",
        "mn",
        "mx",
        "transform(xs, x -> CASE WHEN mx = mn THEN 0.5D"
        " ELSE 0.1D + 0.8D * (x - mn) / (mx - mn) END) AS s",
    )
    fit = scaled.selectExpr(
        "series",
        "CAST(n_i AS BIGINT) AS n_months",
        "mn",
        "mx",
        f"CASE WHEN n_i >= 3 THEN {_EWM_SW_SUM} / {_EWM_W_SUM} ELSE {_EWM_MEAN} END AS wm",
        f"CASE WHEN n_i > 1 THEN sqrt({_EWM_VAR}) ELSE 0.1D END AS sd",
        "CASE WHEN n_i >= 2 THEN (element_at(s, n_i) - element_at(s, 1)) / n_i"
        " ELSE 0.0D END AS trend",
    )
    fc = fit.crossJoin(F.broadcast(_horizons(spark))).selectExpr(
        "series",
        "n_months",
        "h",
        "(least(greatest(wm + trend * h, 0.05D), 0.95D) - 0.1D) * (mx - mn) / 0.8D + mn AS orig",
        "sd * (mx - mn) / 0.8D AS sd_orig",
        "(h - 1) * 0.2D + 1 AS widen",
    )
    spread = "sd_orig * widen"
    return fc.selectExpr(
        "series",
        "n_months",
        "h",
        f"{round_half_up_sql('orig', 2)} AS forecast",
        f"{round_half_up_sql(f'greatest(0.0D, orig - {spread} * 1.645D)', 2)} AS ci_lower",
        f"{round_half_up_sql(f'greatest(0.0D, orig - {spread} * 0.674D)', 2)} AS p25",
        f"{round_half_up_sql(f'orig + {spread} * 0.674D', 2)} AS p75",
        f"{round_half_up_sql(f'orig + {spread} * 1.645D', 2)} AS ci_upper",
    ).orderBy("series", "h")


# ---------------------------------------------------------------------------
# V11 — month-spine gap fill WITH linear interpolation (forecaster.py:
# 164-176: reindex → interpolate(method='linear') → fillna(0)). The r1
# monthly_spine_gapfill only zero-filled; here interior gaps are linearly
# interpolated between the surrounding observed months (window last/first
# IGNORE NULLS), leading/trailing gaps fall back to 0. Months ≡ 1 (mod 3)
# are withheld from the input so interpolation is actually exercised.
# ---------------------------------------------------------------------------
@register(
    "monthly_spine_interp",
    oracle="""
    WITH src AS (
      SELECT o_orderpriority, date_trunc('month', o_orderdate) AS m,
             SUM(o_totalprice) AS total
      FROM orders
      WHERE date_part('month', o_orderdate) % 3 <> 1
      GROUP BY 1, 2
    ), bounds AS (
      SELECT date_trunc('month', MIN(o_orderdate)) AS mn,
             date_trunc('month', MAX(o_orderdate)) AS mx
      FROM orders
    ), spine AS (
      SELECT unnest(generate_series(mn, mx, INTERVAL 1 MONTH)) AS m FROM bounds
    ), prios AS (
      SELECT DISTINCT o_orderpriority FROM orders
    ), joined AS (
      SELECT p.o_orderpriority, sp.m,
             CAST(date_part('year', sp.m) * 12 + date_part('month', sp.m) AS DOUBLE) AS pos,
             s.total
      FROM spine sp
      CROSS JOIN prios p
      LEFT JOIN src s ON s.o_orderpriority = p.o_orderpriority AND s.m = sp.m
    ), ctx AS (
      SELECT *,
             last_value(total IGNORE NULLS) OVER w_prev AS prev_val,
             last_value(CASE WHEN total IS NOT NULL THEN pos END IGNORE NULLS)
               OVER w_prev AS prev_pos,
             first_value(total IGNORE NULLS) OVER w_next AS next_val,
             first_value(CASE WHEN total IS NOT NULL THEN pos END IGNORE NULLS)
               OVER w_next AS next_pos
      FROM joined
      WINDOW
        w_prev AS (PARTITION BY o_orderpriority ORDER BY m
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        w_next AS (PARTITION BY o_orderpriority ORDER BY m
                   ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    )
    SELECT o_orderpriority, strftime(m, '%Y-%m') AS month,
           total IS NULL AS was_gap,
           FLOOR(CASE
             WHEN total IS NOT NULL THEN total
             WHEN prev_val IS NOT NULL AND next_val IS NOT NULL THEN
               prev_val + (next_val - prev_val) * (pos - prev_pos)
                          / (next_pos - prev_pos)
             ELSE 0 END * 100 + 0.5) / 100 AS total_interp
    FROM ctx
    ORDER BY o_orderpriority, month
    """,
    survey="V11,F8,J8",
)
def monthly_spine_interp(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from holochatstats_spark.functions.core import round_half_up

    # imported here so temporal's queries keep registering after this
    # module's (load_all_queries returns registration order)
    from holochatstats_spark.queries.temporal import _month_spine

    o = load_table(spark, sf_dir, "orders")
    src = (
        o.where(F.month("o_orderdate") % 3 != 1)
        .groupBy(
            "o_orderpriority",
            F.date_trunc("month", F.col("o_orderdate")).alias("m"),
        )
        .agg(F.sum("o_totalprice").alias("total"))
    )
    joined = (
        _month_spine(o)
        .join(src, ["o_orderpriority", "m"], "left")
        .withColumn(
            "pos", (F.year("m") * 12 + F.month("m")).cast("double")
        )
    )
    w_prev = (
        Window.partitionBy("o_orderpriority")
        .orderBy("m")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_next = (
        Window.partitionBy("o_orderpriority")
        .orderBy("m")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    obs_pos = F.when(F.col("total").isNotNull(), F.col("pos"))
    ctx = joined.select(
        "o_orderpriority",
        "m",
        "pos",
        "total",
        F.last("total", ignorenulls=True).over(w_prev).alias("prev_val"),
        F.last(obs_pos, ignorenulls=True).over(w_prev).alias("prev_pos"),
        F.first("total", ignorenulls=True).over(w_next).alias("next_val"),
        F.first(obs_pos, ignorenulls=True).over(w_next).alias("next_pos"),
    )
    interp = (
        F.when(F.col("total").isNotNull(), F.col("total"))
        .when(
            F.col("prev_val").isNotNull() & F.col("next_val").isNotNull(),
            F.col("prev_val")
            + (F.col("next_val") - F.col("prev_val"))
            * (F.col("pos") - F.col("prev_pos"))
            / (F.col("next_pos") - F.col("prev_pos")),
        )
        .otherwise(F.lit(0.0))
    )
    return ctx.select(
        "o_orderpriority",
        F.date_format("m", "yyyy-MM").alias("month"),
        F.col("total").isNull().alias("was_gap"),
        round_half_up(interp, 2).alias("total_interp"),
    ).orderBy("o_orderpriority", "month")


# ---------------------------------------------------------------------------
# V9 — per-series ML forecaster. The reference retrains a per-channel torch
# LSTM nightly (forecaster.py:201-273); torch is not a dependency, so the
# model shipped here is a deterministic ridge AR(3) over the standardized
# monthly series, recursive over 3 steps. Its fit is closed-form arithmetic
# over 14 moment sums, so the whole model is SQL text that Spark
# (selectExpr / F.expr) and the DuckDB twin both run, one string per
# stage: no Python stage, and the query is hash-checked.
#
# Model, per series of n rows ordered by month (rows, not calendar months:
# a missing month is skipped, not zero):
# - z = (x - mu) / sigma, with sigma the population stddev (1 when it is 0);
# - X = (lag-3 z, lag-2 z, lag-1 z, 1) and y = z over rows i > 3;
#   beta = (XᵀX + λI)⁻¹ Xᵀy with λ = 1e-3 on all four diagonal entries,
#   solved by Cramer's rule (24-term determinant expansions);
# - forecasts feed back into the lag window 3 times, then pred*sigma + mu;
# - n < 5 carries the last x forward ('carry_forward');
# - rounding is half up to 2 decimals (floor(v*100 + 0.5)/100).
# Every literal means the same in both engines: integers, or a double
# written in exponent form (a bare 0.5 is a DECIMAL in Spark).
# ---------------------------------------------------------------------------
# One window order for every column, so Spark sorts the rows once.
_SERIES = "PARTITION BY series ORDER BY m"
_WHOLE = f"{_SERIES} ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING"
# per row of monthly(series, m, x): its position and count, the series'
# mean and population stddev, and the lags 1-3 of x
_ML_ROW_COLUMNS = (
    "series",
    "x",
    f"COUNT(*) OVER ({_WHOLE}) AS n",
    f"ROW_NUMBER() OVER ({_SERIES}) AS i",
    f"AVG(x) OVER ({_WHOLE}) AS mu",
    f"stddev_pop(x) OVER ({_WHOLE}) AS sd",
    *(f"LAG(x, {k}) OVER ({_SERIES}) AS x{k}" for k in (1, 2, 3)),
)
_SIGMA = "(CASE WHEN sd = 0 THEN 1 ELSE sd END)"


def _z(x: str) -> str:
    return f"(({x} - mu) / {_SIGMA})"


# X's columns in order: z at lags 3, 2, 1, then the intercept; y is z
_X = (_z("x3"), _z("x2"), _z("x1"), "1")
_Y = _z("x")
# the symmetric XᵀX + λI as column names, and the 4 entries of Xᵀy
_A = [[f"a{min(j, k)}{max(j, k)}" for k in range(4)] for j in range(4)]
_B = ("b0", "b1", "b2", "b3")


def _fit_sum(term: str) -> str:
    return f"SUM(CASE WHEN i > 3 THEN {term} END)"


# per series: the 10 sums of XᵀX + λI, the 4 of Xᵀy, and the last 3 z (the
# first forecast's lag window, oldest first)
_ML_FIT_AGGS = (
    "MAX(n) AS n",
    "MAX(CASE WHEN i = n THEN x END) AS x_last",
    "MAX(mu) AS mu",
    f"MAX({_SIGMA}) AS sigma",
    *(
        f"{_fit_sum(f'{_X[j]} * {_X[k]}')}{' + 1e-3' if j == k else ''} AS {_A[j][k]}"
        for j in range(4)
        for k in range(j, 4)
    ),
    *(f"{_fit_sum(f'{x} * {_Y}')} AS {b}" for x, b in zip(_X, _B)),
    *(f"MAX(CASE WHEN i = n THEN {_z(x)} END) AS w{j}" for j, x in enumerate(("x2", "x1", "x"))),
)


def _det4(m: list[list[str]]) -> str:
    """Determinant of a 4x4 matrix of SQL terms: the permutation expansion."""
    text = ""
    for p in itertools.permutations(range(4)):
        odd = sum(p[a] > p[b] for a in range(4) for b in range(a + 1, 4)) % 2
        text += (" - " if odd else " + ") + " * ".join(m[r][p[r]] for r in range(4))
    return f"({text[3:]})"


# Cramer's rule: beta_k = det(A with column k replaced by Xᵀy) / det(A)
_ML_BETAS = tuple(
    f"{_det4([[_B[j] if c == k else _A[j][c] for c in range(4)] for j in range(4)])}"
    f" / {_det4(_A)} AS beta{k}"
    for k in range(4)
)


# in z units: the last 3 z, then 3 recursive steps, each an AR(3) over the
# 3 values before it
_Z_SEQ = ["w0", "w1", "w2"]
for _ in range(3):
    _ar = " + ".join(f"beta{j} * {w}" for j, w in enumerate(_Z_SEQ[-3:]))
    _Z_SEQ.append(f"({_ar} + beta3)")
_ML_FORECAST = (
    f"CASE WHEN n < 5 THEN x_last ELSE (CASE h WHEN 1 THEN {_Z_SEQ[3]}"
    f" WHEN 2 THEN {_Z_SEQ[4]} ELSE {_Z_SEQ[5]} END) * sigma + mu END"
)
# per (series, h): the output row
_ML_OUTPUT_COLUMNS = (
    "series",
    "CAST(h AS INT) AS h",
    f"{round_half_up_sql(_ML_FORECAST, 2)} AS forecast",
    "CASE WHEN n < 5 THEN 'carry_forward' ELSE 'ridge_ar3' END AS model_version",
    "CAST(n AS INT) AS n_months",
)


@register(
    "ml_forecast",
    oracle=f"""
    WITH {_MONTHLY_SQL}, ml_rows AS (
      SELECT {", ".join(_ML_ROW_COLUMNS)} FROM monthly
    ), ml_fit AS (
      SELECT series, {", ".join(_ML_FIT_AGGS)} FROM ml_rows GROUP BY series
    ), ml_beta AS (
      SELECT *, {", ".join(_ML_BETAS)} FROM ml_fit
    )
    SELECT {", ".join(_ML_OUTPUT_COLUMNS)}
    FROM ml_beta CROSS JOIN (SELECT range AS h FROM range(1, 4))
    ORDER BY series, h
    """,
    survey="V9",
)
def ml_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    fit = (
        _monthly(load_table(spark, sf_dir, "orders"))
        .selectExpr(*_ML_ROW_COLUMNS)
        .groupBy("series")
        .agg(*[F.expr(e) for e in _ML_FIT_AGGS])
        .selectExpr("*", *_ML_BETAS)
    )
    return (
        fit.crossJoin(F.broadcast(_horizons(spark)))
        .selectExpr(*_ML_OUTPUT_COLUMNS)
        .orderBy("series", "h")
    )
