"""Per-key model-fitting harness (SURVEY.md §2.10, F1–F4 surrogates).

The reference fits statsmodels/arch/sklearn models per ticker in a Python
loop with a ≤4-thread pool (`scripts/run_auto_trader.py:1698-1717`). The
Spark-native shape is ``groupBy(key).applyInPandas``: every key becomes
one Arrow-batched task, so a 1000-executor cluster fits a million series
concurrently with the same code that runs on local[32].

The container has no statsmodels/arch/sklearn, and the engine does not
need them: the model cores here are closed-form numpy (OLS AR-grid with
AIC selection, exact recursive EWMA variance, Hankel-SVD SSA
reconstruction) — the same *shapes* as the reference's SARIMAX/GARCH/
SAMoSSA stages with the statistical machinery reduced to its linear-
algebra core. Heavier models drop into the same harness unchanged.

Determinism: every fit is a deterministic function of the input series
(no random inits, fixed grids), so repeated runs hash identically — the
property SURVEY §7.3 item 2 demands of everything in the engine.
"""

from __future__ import annotations

from typing import Iterable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

# ---------------------------------------------------------------------------
# F1 surrogate — AR(p) grid, AIC-ranked (O4 top-1), recursive forecast + CI
# ---------------------------------------------------------------------------

AR_FORECAST_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("best_order", IntegerType()),
        StructField("aic", DoubleType()),
        StructField("horizon_step", IntegerType()),
        StructField("yhat", DoubleType()),
        StructField("lo", DoubleType()),
        StructField("hi", DoubleType()),
        StructField("sigma", DoubleType()),
    ]
)


def _fit_ar(x: np.ndarray, p: int) -> tuple[np.ndarray, float, float]:
    """OLS AR(p) with intercept; returns (coefs, sigma, aic)."""
    n = len(x)
    X = np.column_stack(
        [np.ones(n - p)] + [x[p - k - 1 : n - k - 1] for k in range(p)]
    )
    y = x[p:]
    beta, *_ = np.linalg.lstsq(X, y, rcond=None)
    resid = y - X @ beta
    rss = float(resid @ resid)
    m = n - p
    sigma = float(np.sqrt(rss / max(m - p - 1, 1)))
    aic = m * np.log(max(rss / m, 1e-300)) + 2 * (p + 1)
    return beta, sigma, float(aic)


def ar_grid_forecast(
    series: DataFrame,
    key: str = "user_id",
    order_col: str = "rn",
    value_col: str = "value",
    orders: Iterable[int] = (1, 2, 3),
    horizon: int = 5,
) -> DataFrame:
    """F1 surrogate: per-key AR(p) order grid → AIC top-1 (O4) → recursive
    multi-step forecast with ±1.96σ intervals.

    Reference shape: `forcester_ts/sarimax.py:431-679` (AIC-ranked order
    grid), `:708-1013` (fit + forecast with CI). The grid is evaluated
    inside ONE task per key (orders are cheap relative to Arrow transfer);
    a wider grid would instead fan out as a (key, order) candidate table —
    SURVEY §2.10 F1 note."""
    orders = tuple(orders)

    def fit(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(order_col)
        x = pdf[value_col].to_numpy(dtype=float)
        uid = int(pdf[key].iloc[0])
        if len(x) < max(orders) + 8:
            return pd.DataFrame(columns=[f.name for f in AR_FORECAST_SCHEMA])
        fits = {p: _fit_ar(x, p) for p in orders}
        best = min(orders, key=lambda p: fits[p][2])
        beta, sigma, aic = fits[best]
        hist = list(x)
        rows = []
        for step in range(1, horizon + 1):
            yhat = beta[0] + sum(
                beta[k + 1] * hist[-k - 1] for k in range(best)
            )
            hist.append(yhat)
            band = 1.96 * sigma * np.sqrt(step)
            rows.append(
                (uid, best, round(aic, 6), step,
                 round(yhat, 6), round(yhat - band, 6), round(yhat + band, 6),
                 round(sigma, 6))
            )
        return pd.DataFrame(rows, columns=[f.name for f in AR_FORECAST_SCHEMA])

    return series.groupBy(key).applyInPandas(fit, AR_FORECAST_SCHEMA)


AR_CANDIDATE_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("p", IntegerType()),
        StructField("aic", DoubleType()),
        StructField("horizon_step", IntegerType()),
        StructField("yhat", DoubleType()),
        StructField("lo", DoubleType()),
        StructField("hi", DoubleType()),
        StructField("sigma", DoubleType()),
        # full-precision fitted coefficients (0.0 beyond order p) — the
        # staged-verification oracle replays the fit/forecast from these
        StructField("beta0", DoubleType()),
        StructField("beta1", DoubleType()),
        StructField("beta2", DoubleType()),
        StructField("beta3", DoubleType()),
    ]
)


def ar_candidate_fits(
    series: DataFrame,
    key: str = "user_id",
    order_col: str = "rn",
    value_col: str = "value",
    orders: Iterable[int] = (1, 2, 3),
    horizon: int = 5,
) -> DataFrame:
    """Candidate-grid fan-out (SURVEY §2.10 F1, reference
    `forcester_ts/sarimax.py:431-679`): broadcast the order grid onto the
    series so each (key, order) candidate becomes its OWN Spark task.

    The reference evaluates its SARIMAX order grid in a ≤4-thread pool per
    ticker; here the grid is a first-class dimension of the shuffle key —
    a wide grid over a million keys schedules keys×orders independent
    fits across the cluster. Each candidate emits its full forecast path
    tagged with its AIC, so top-1 selection (O4) is a pure window over
    the candidate table with no second pass over the raw series."""
    from ..operators.arrowgroup import grouped_numpy

    spark = series.sparkSession
    grid = spark.createDataFrame([(int(p),) for p in orders], "p int")
    fanned = series.join(F.broadcast(grid))  # cross: one series copy per order
    min_len = max(int(q) for q in orders) + 8

    def fit_one(cols: dict) -> list[tuple]:
        order = np.argsort(cols[order_col], kind="stable")
        x = cols[value_col][order].astype(float)
        uid = int(cols[key][0])
        p = int(cols["p"][0])
        if len(x) < min_len:
            return []
        beta, sigma, aic = _fit_ar(x, p)
        hist = list(x)
        rows = []
        for step in range(1, horizon + 1):
            yhat = beta[0] + sum(beta[k + 1] * hist[-k - 1] for k in range(p))
            hist.append(yhat)
            band = 1.96 * sigma * np.sqrt(step)
            # aic stays full-precision here: top-1 selection must rank on
            # the exact value (the in-task path selects before rounding)
            b = [float(beta[i]) if i < len(beta) else 0.0 for i in range(4)]
            rows.append(
                (uid, p, float(aic), step,
                 round(yhat, 6), round(yhat - band, 6), round(yhat + band, 6),
                 round(sigma, 6), b[0], b[1], b[2], b[3])
            )
        return rows

    # fanout=4 (optimization round 13, guide §2.5): the (key, order)
    # candidate table is the same heavy-tailed grouped-fit shape as the
    # rolling-CV refit — 4,500 groups hashed onto one wave of
    # parallelism-sized tasks left the stage wall at the largest bucket
    # (ar_grid_winner staged fit 10.3 s in-bench); 4 waves of smaller
    # tasks let the scheduler rebalance (measured 7.5 -> 3.0 s serial in
    # the round-13 batch-1 A/B). Per-key results are partitioning-
    # independent (one kernel call per (key, p) group).
    return grouped_numpy(
        fanned, [key, "p"], AR_CANDIDATE_SCHEMA, fit_one, fanout=4
    )


def ar_grid_winner_table(
    series: DataFrame,
    key: str = "user_id",
    order_col: str = "rn",
    value_col: str = "value",
    orders: Iterable[int] = (1, 2, 3),
    horizon: int = 5,
) -> DataFrame:
    """F1 fan-out + O4 top-1 as a STAGEABLE table: the winning
    candidate's full forecast path WITH its full-precision AIC and OLS
    coefficients. One frame serves both consumers — the query output
    projects the forecast columns, the oracle reads the coefficients and
    re-derives everything else from the raw series."""
    from pyspark.sql import Window

    cand = ar_candidate_fits(series, key, order_col, value_col, orders, horizon)
    w = Window.partitionBy(key).orderBy("aic", "p")
    return (
        cand.withColumn("__rk", F.dense_rank().over(w))
        .filter(F.col("__rk") == 1)
        .drop("__rk")
    )


def ar_grid_select_forecast(winner: DataFrame, key: str = "user_id") -> DataFrame:
    """Project the ``ar_grid_winner_table`` frame to the query output."""
    return winner.select(
        F.col(key),
        F.col("p").alias("best_order"),
        F.round("aic", 6).alias("aic"),
        "horizon_step", "yhat", "lo", "hi", "sigma",
    )


def ar_grid_forecast_fanout(
    series: DataFrame,
    key: str = "user_id",
    order_col: str = "rn",
    value_col: str = "value",
    orders: Iterable[int] = (1, 2, 3),
    horizon: int = 5,
    stage_fn=None,
) -> DataFrame:
    """F1 fan-out + O4 top-1: dense_rank the candidate table by (aic, p)
    per key and keep the winner's forecast path. Output is identical to
    ``ar_grid_forecast`` (same numpy kernel, same tie-break: lowest AIC,
    then lowest order) — asserted in tests — but the fit stage
    parallelizes per candidate instead of per key."""
    winner = ar_grid_winner_table(series, key, order_col, value_col, orders, horizon)
    if stage_fn is not None:
        stage_fn(
            winner.filter(F.col("horizon_step") == 1).select(
                F.col(key),
                F.col("p"),
                "beta0",
                "beta1",
                "beta2",
                "beta3",
            )
        )
    return ar_grid_select_forecast(winner, key)


# ---------------------------------------------------------------------------
# F2 surrogate — exact recursive EWMA variance (the reference's GARCH
# fallback path)
# ---------------------------------------------------------------------------

EWMA_VOL_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("rn", IntegerType()),
        StructField("sigma", DoubleType()),
    ]
)


def ewma_vol_forecast(
    returns: DataFrame,
    key: str = "user_id",
    order_col: str = "rn",
    ret_col: str = "lr",
    lam: float = 0.94,
) -> DataFrame:
    """F2 surrogate: exact RiskMetrics EWMA variance recursion
    σ²_t = λσ²_{t−1} + (1−λ)r²_{t−1}, seeded with the first squared
    return — reference `forcester_ts/garch.py:580-633` (EWMA fallback
    when GARCH fails to converge).

    The recursion is inherently sequential per key → ``applyInPandas``
    (SURVEY §4 "custom Spark work" item 1); the truncated closed-form
    window alternative lives in `operators/windows.py:ewma`."""

    from ..operators.arrowgroup import grouped_numpy

    def recurse(cols: dict) -> list[tuple]:
        order = np.argsort(cols[order_col], kind="stable")
        r = cols[ret_col][order].astype(float)
        rn = cols[order_col][order]
        uid = int(cols[key][0])
        mask = ~np.isnan(r)
        rv, rnv = r[mask], rn[mask]
        if len(rv) < 2:
            return []
        # bit-identical fast path (optimization round 12): squares and
        # sqrts are elementwise IEEE ops, so vectorizing them leaves
        # every double unchanged; the inherently-sequential recursion
        # itself runs on Python floats (same IEEE add/mul as numpy
        # scalars, ~6x less interpreter overhead per step)
        r2 = (rv * rv).tolist()
        lam1 = 1.0 - lam
        var = r2[0]
        vars_ = []
        for t in range(1, len(rv)):
            var = lam * var + lam1 * r2[t - 1]
            vars_.append(var)
        sig = np.sqrt(np.asarray(vars_))
        return [
            (uid, int(b), round(s, 6))
            for b, s in zip(rnv[1:].tolist(), sig.tolist())
        ]

    return grouped_numpy(returns, [key], EWMA_VOL_SCHEMA, recurse)


# ---------------------------------------------------------------------------
# F1 — ARIMA(p,d,q) via Hannan–Rissanen (closed-form two-step OLS: no
# statsmodels, no iterative optimizer, fully deterministic)
# ---------------------------------------------------------------------------

ARIMA_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("p", IntegerType()),
        StructField("d", IntegerType()),
        StructField("q", IntegerType()),
        StructField("aic", DoubleType()),
        StructField("horizon_step", IntegerType()),
        StructField("yhat", DoubleType()),
        StructField("lo", DoubleType()),
        StructField("hi", DoubleType()),
        StructField("sigma", DoubleType()),
    ]
)


def _fit_arma_hr(
    y: np.ndarray, p: int, q: int, e_long: np.ndarray, t0_min: int = 0
) -> tuple[np.ndarray, np.ndarray, float, float, np.ndarray] | None:
    """Hannan–Rissanen step 2: OLS of y_t on [1, y lags, long-AR residual
    lags] → (phi, theta, sigma, aic, fitted residuals). ``e_long`` is the
    step-1 long-AR residual series aligned with ``y`` (zeros before the
    long-AR burn-in). ``t0_min`` forces a common conditioning window
    across a candidate grid (t0 = max(t0_min, p, q)) so every candidate's
    AIC is computed on the SAME effective sample m — without it, AICs
    with different m are not strictly comparable and order selection is
    mildly biased toward small (p, q)."""
    n = len(y)
    t0 = max(t0_min, p, q)
    if n - t0 < p + q + 8:
        return None
    cols = [np.ones(n - t0)]
    cols += [y[t0 - i : n - i] for i in range(1, p + 1)]
    cols += [e_long[t0 - j : n - j] for j in range(1, q + 1)]
    X = np.column_stack(cols)
    yy = y[t0:]
    beta, *_ = np.linalg.lstsq(X, yy, rcond=None)
    resid = yy - X @ beta
    rss = float(resid @ resid)
    m = n - t0
    k = p + q + 1
    sigma = float(np.sqrt(rss / max(m - k, 1)))
    aic = m * np.log(max(rss / m, 1e-300)) + 2 * k
    e_fit = np.zeros(n)
    e_fit[t0:] = resid
    theta = beta[p + 1 : p + 1 + q]
    return beta, theta, sigma, float(aic), e_fit


def _adf_tau(y: np.ndarray, k: int = 1) -> float:
    """Closed-form OLS ADF τ statistic (constant, no trend, ``k`` lagged
    differences): Δy_t = a + b·y_{t−1} + Σ γ_i Δy_{t−i} + ε, τ = b̂/se(b̂).
    Unit root is REJECTED (series stationary) when τ < the 5% critical
    value −2.86 — the reference's stationarity gate runs ADF+KPSS via
    statsmodels (`forcester_ts/forecaster.py:611-680`); this is the same
    Dickey–Fuller regression as a two-line least squares. Returns 0.0
    (non-rejecting) when the regression is degenerate (constant series)."""
    dy = np.diff(y)
    m = len(dy)
    if m - k < 10:
        return 0.0
    X = np.column_stack(
        [np.ones(m - k), y[k:m]]
        + [dy[k - i : m - i] for i in range(1, k + 1)]
    )
    t = dy[k:m]
    xtx = X.T @ X
    try:
        xtx_inv = np.linalg.inv(xtx)
    except np.linalg.LinAlgError:
        return 0.0
    beta = xtx_inv @ (X.T @ t)
    resid = t - X @ beta
    dof = (m - k) - X.shape[1]
    if dof <= 0:
        return 0.0
    s2 = float(resid @ resid) / dof
    se_b = float(np.sqrt(max(s2 * xtx_inv[1, 1], 0.0)))
    if not np.isfinite(se_b) or se_b <= 0.0:
        return 0.0
    return float(beta[1] / se_b)


_ADF_CRIT_5PCT = -2.86  # constant-only DF regression, large-n 5% critical value


def _psi_weights(phi: np.ndarray, theta: np.ndarray, h: int) -> np.ndarray:
    """MA(∞) psi-weight recursion ψ_j = θ_j + Σ φ_i ψ_{j−i} (ψ_0 = 1) —
    the forecast-variance kernel Var_h = σ²·Σ_{j<h} ψ_j²."""
    psi = np.zeros(h)
    psi[0] = 1.0
    for j in range(1, h):
        v = theta[j - 1] if j - 1 < len(theta) else 0.0
        for i in range(1, min(j, len(phi)) + 1):
            v += phi[i - 1] * psi[j - i]
        psi[j] = v
    return psi


_ARIMA_PQ_GRID = tuple((p, q) for p in (0, 1, 2) for q in (0, 1, 2) if p + q > 0)
# common conditioning start shared by every candidate (and by warm-start
# single-candidate fits, so cached AICs stay comparable to grid AICs)
_ARIMA_T0_COMMON = max(max(p, q) for p, q in _ARIMA_PQ_GRID)


def _arima_rows(uid, x, pq_grid, horizon):
    """Shared per-key ARIMA(p,d,q) HR fit + forecast core: ADF d-decision,
    candidate loop over ``pq_grid`` (AICs conditioned at the full grid's
    common t0), psi-weight CI, d=1 integration. Returns the standard
    10-field rows or []."""
    if len(x) < 40:
        return []
    # d is NOT selectable by AIC (different scales across differencing)
    # — use the ADF unit-root decision like the reference
    # (`forcester_ts/forecaster.py:611-680`, ADF+KPSS): difference
    # exactly when the τ statistic fails to reject a unit root at 5%.
    d = 1 if _adf_tau(x) > _ADF_CRIT_5PCT else 0
    # common conditioning window across the FULL grid: every candidate's
    # AIC uses the same effective sample m = n − max_grid(p, q), even
    # when pq_grid is a warm-start singleton
    t0_common = _ARIMA_T0_COMMON
    best = None
    # the long-AR innovation proxy depends on (p, q) only through
    # m_long = min(max(8, p+q+4), n//4), which is the SAME value for
    # every grid candidate whenever n >= 32 (p+q <= 4 so max(8, p+q+4)
    # == 8) — cache per m_long instead of recomputing the identical
    # n x (m_long+1) OLS for all 8 candidates (bit-identical: same ops
    # on the same floats, computed once)
    y = np.diff(x, d) if d else x
    n = len(y)
    e_long_cache: dict = {}

    def _e_long(m_long: int):
        got = e_long_cache.get(m_long)
        if got is None:
            bl, _, _ = _fit_ar(y, m_long)
            e = np.zeros(n)
            Xl = np.column_stack(
                [np.ones(n - m_long)]
                + [y[m_long - k - 1 : n - k - 1] for k in range(m_long)]
            )
            e[m_long:] = y[m_long:] - Xl @ bl
            got = e_long_cache[m_long] = e
        return got

    for p, q in pq_grid:
        m_long = min(max(8, p + q + 4), n // 4)
        e_long = _e_long(m_long)
        r = _fit_arma_hr(y, p, q, e_long, t0_min=t0_common)
        if r is None:
            continue
        beta, theta, sigma, aic, e_fit = r
        if best is None or aic < best[0]:
            best = (aic, p, d, q, beta, theta, sigma, y, e_fit)
    if best is None:
        return []
    aic, p, d, q, beta, theta, sigma, y, e_fit = best
    phi = beta[1 : p + 1]
    c = float(beta[0])
    hist = list(y)
    errs = list(e_fit)
    preds = []
    for h in range(1, horizon + 1):
        v = c
        for i in range(1, p + 1):
            v += phi[i - 1] * hist[-i]
        for j in range(1, q + 1):
            v += (theta[j - 1] * errs[-j]) if len(errs) >= j else 0.0
        hist.append(v)
        errs.append(0.0)
        preds.append(v)
    psi = _psi_weights(phi, theta, horizon)
    if d:  # integrate: level forecast = last level + cumsum of diffs;
        # variance uses the cumulated psi weights
        level = float(x[-1]) + np.cumsum(preds)
        psi_i = np.cumsum(psi)
        var = sigma * sigma * np.cumsum(psi_i * psi_i)
        yhat = level
    else:
        var = sigma * sigma * np.cumsum(psi * psi)
        yhat = np.array(preds)
    rows = []
    for h in range(1, horizon + 1):
        band = 1.96 * float(np.sqrt(var[h - 1]))
        rows.append(
            (uid, p, d, q, round(aic, 6), h,
             round(float(yhat[h - 1]), 6),
             round(float(yhat[h - 1]) - band, 6),
             round(float(yhat[h - 1]) + band, 6),
             round(sigma, 6))
        )
    return rows


def arima_hr_forecast(
    series: DataFrame,
    key: str = "user_id",
    order_col: str = "rn",
    value_col: str = "value",
    horizon: int = 5,
) -> DataFrame:
    """F1 proper: per-key ARIMA(p,d,q) over the grid p,q ∈ {0,1,2},
    d ∈ {0,1}, fitted by Hannan–Rissanen two-step OLS (long-AR residuals
    proxy the innovations; both steps are closed-form least squares —
    deterministic, no optimizer, no statsmodels). AIC-ranked top-1 per
    key, recursive forecast with MA(∞)-psi-weight variance bands, d=1
    paths integrated back to the level scale. Reference
    `forcester_ts/sarimax.py:431-1013` (order-grid fit + forecast + CI);
    this drops the seasonal/exog terms the testdata cannot express but
    fits genuine MA dynamics the AR-only surrogate cannot.

    Scale: one Arrow task per key, O(grid · n · (p+q)) closed-form OLS
    per key — the same shape as the AR grid, so the (key, order) fan-out
    harness applies unchanged if the grid widens."""
    from ..operators.arrowgroup import grouped_numpy

    def fit(cols: dict) -> list[tuple]:
        order = np.argsort(cols[order_col], kind="stable")
        x = cols[value_col][order].astype(float)
        uid = int(cols[key][0])
        return _arima_rows(uid, x, list(_ARIMA_PQ_GRID), horizon)

    return grouped_numpy(series, [key], ARIMA_SCHEMA, fit)


ARIMA_COMP_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("kind", IntegerType()),
        StructField("idx", IntegerType()),
        StructField("val", DoubleType()),
    ]
)


def arima_hr_components(
    series: DataFrame,
    key: str = "user_id",
    order_col: str = "rn",
    value_col: str = "value",
) -> DataFrame:
    """The solver artifacts of `arima_hr_forecast`'s WINNING candidate as
    a long table, for the staged-verification oracle: kind 0 = the
    parameter vector (idx 1..9 = p, d, q, c, phi1, phi2, theta1, theta2,
    t0 — phi/theta zero-padded to the grid max), kind 1 = the step-1
    long-AR residual series e_long aligned with the (differenced) y
    (idx = 1-based position). Given these rows plus the raw series,
    every output of the forecast query — step-2 residuals, RSS, sigma,
    AIC, the recursive forecast path, psi-weight variance bands, d=1
    integration — is re-derivable by relational algebra; only the two
    least-squares solves stay kernel-side (pinned by the ARMA-recovery
    property tests)."""
    from ..operators.arrowgroup import grouped_numpy

    def kern(cols: dict) -> list[tuple]:
        order = np.argsort(cols[order_col], kind="stable")
        x = cols[value_col][order].astype(float)
        uid = int(cols[key][0])
        return _arima_component_rows(uid, x, list(_ARIMA_PQ_GRID))

    return grouped_numpy(series, [key], ARIMA_COMP_SCHEMA, kern)


def _arima_component_rows(uid, x, pq_grid):
    """Winner-candidate staging rows shared by the plain and warm-start
    component kernels — same selection loop as `_arima_rows`, emitting
    (params, e_long) instead of forecasts."""
    if len(x) < 40:
        return []
    d = 1 if _adf_tau(x) > _ADF_CRIT_5PCT else 0
    t0_common = _ARIMA_T0_COMMON
    best = None
    # same per-m_long step-1 cache as `_arima_rows` (optimization round
    # 13): y and the long-AR innovation proxy depend on (p, q) only
    # through m_long, which is identical for every grid candidate when
    # n >= 32 — compute the n x (m_long+1) OLS once, not once per
    # candidate (bit-identical: same ops on the same floats)
    y = np.diff(x, d) if d else x
    n = len(y)
    e_long_cache: dict = {}

    def _e_long(m_long: int):
        got = e_long_cache.get(m_long)
        if got is None:
            bl, _, _ = _fit_ar(y, m_long)
            e = np.zeros(n)
            Xl = np.column_stack(
                [np.ones(n - m_long)]
                + [y[m_long - k - 1 : n - k - 1] for k in range(m_long)]
            )
            e[m_long:] = y[m_long:] - Xl @ bl
            got = e_long_cache[m_long] = e
        return got

    for p_, q_ in pq_grid:
        m_long = min(max(8, p_ + q_ + 4), n // 4)
        e_long = _e_long(m_long)
        r = _fit_arma_hr(y, p_, q_, e_long, t0_min=t0_common)
        if r is None:
            continue
        beta, theta, sigma, aic, e_fit = r
        if best is None or aic < best[0]:
            best = (aic, p_, d, q_, beta, theta, e_long, y)
    if best is None:
        return []
    aic, p_, d, q_, beta, theta, e_long, y = best
    phi = list(beta[1 : p_ + 1]) + [0.0] * (2 - p_)
    th = list(theta) + [0.0] * (2 - q_)
    t0 = max(t0_common, p_, q_)
    params = [
        float(p_), float(d), float(q_), float(beta[0]),
        phi[0], phi[1], th[0], th[1], float(t0),
    ]
    rows = [(uid, 0, i + 1, v) for i, v in enumerate(params)]
    rows += [(uid, 1, i + 1, float(v)) for i, v in enumerate(e_long)]
    return rows


def arima_warm_components(
    series: DataFrame,
    key: str = "user_id",
    order_col: str = "rn",
    value_col: str = "value",
    train_frac: float = 0.75,
) -> DataFrame:
    """Staging twin of `arima_hr_warmstart_forecast`: reproduces its
    cache cycle (train-window grid -> cached (p, q) -> warm singleton or
    full-grid fallback) and emits the winner's component rows for the
    staged-verification oracle. The warm/cold DECISION itself is
    re-derived independently by the oracle from raw counts (a key is
    warm exactly when its train window reaches the 40-observation fit
    minimum), so only the least-squares artifacts are taken on trust."""
    from pyspark.sql import Window

    from ..operators.arrowgroup import grouped_numpy

    wk = Window.partitionBy(key)
    train = (
        series.withColumn(
            "_idx",
            F.row_number().over(Window.partitionBy(key).orderBy(order_col)),
        )
        .withColumn("_n_full", F.count(F.lit(1)).over(wk))
        .filter(F.col("_idx") <= F.floor(F.lit(train_frac) * F.col("_n_full")))
        .drop("_idx", "_n_full")
    )
    cache = (
        arima_hr_forecast(train, key, order_col, value_col, horizon=1)
        .filter(F.col("horizon_step") == 1)
        .select(
            F.col(key),
            F.col("p").alias("warm_p"),
            F.col("q").alias("warm_q"),
        )
    )
    enriched = series.join(cache, on=key, how="left")

    def kern(cols: dict) -> list[tuple]:
        order = np.argsort(cols[order_col], kind="stable")
        x = cols[value_col][order].astype(float)
        uid = int(cols[key][0])
        wp = cols["warm_p"][0]
        warm = wp is not None and not (isinstance(wp, float) and np.isnan(wp))
        if warm:
            pq_grid = [(int(cols["warm_p"][0]), int(cols["warm_q"][0]))]
        else:
            pq_grid = list(_ARIMA_PQ_GRID)
        return _arima_component_rows(uid, x, pq_grid)

    return grouped_numpy(enriched, [key], ARIMA_COMP_SCHEMA, kern)


ARIMA_WARM_SCHEMA = StructType(
    list(ARIMA_SCHEMA.fields)
    + [
        StructField("n_candidates", IntegerType()),
        StructField("warm_hit", BooleanType()),
    ]
)


def arima_hr_warmstart_forecast(
    series: DataFrame,
    key: str = "user_id",
    order_col: str = "rn",
    value_col: str = "value",
    horizon: int = 5,
    train_frac: float = 0.75,
) -> DataFrame:
    """F1 + OrderLearner: the ARIMA(p,d,q) grid with the warm-start order
    cache wired in — the reference's `forcester_ts/order_learner.py`
    exists precisely to skip the SARIMAX order grid when a prior fit's
    order is still fresh (`record_fit`/`suggest`/`should_skip_grid`,
    `:160-323`).

    Two stages model one cache cycle inside a single deterministic
    query: (1) "yesterday's run" — the full grid fitted on the first
    ``train_frac`` of each series, its chosen (p, q) recorded as the
    cache; (2) "today's run" — the full series fitted with the cached
    order as a SINGLE candidate wherever the cache hit (8x fewer fits
    per cached key; in steady state the cache hits every run, which is
    the reference's measured SARIMAX speedup lever). Keys without a
    cache row (series too short yesterday) fall back to the full grid.
    Output adds ``n_candidates`` (fits actually run today) and
    ``warm_hit`` so the pruning is observable and testable.

    Scale: the cache is derived and joined per key — no driver-side
    collect; the join is key-partitioned and the fit fan-out keeps the
    grouped-Arrow shape of the plain grid."""
    from pyspark.sql import Window

    from ..operators.arrowgroup import grouped_numpy

    # Stage 1 — yesterday's grid run on the leading train_frac window.
    # Rank by order_col rather than filtering on its raw values: the
    # contract everywhere else only requires order_col to be SORTABLE
    # (timestamps, sparse ids), not a dense 1..n sequence.
    wk = Window.partitionBy(key)
    train = (
        series.withColumn(
            "_idx",
            F.row_number().over(Window.partitionBy(key).orderBy(order_col)),
        )
        .withColumn("_n_full", F.count(F.lit(1)).over(wk))
        .filter(F.col("_idx") <= F.floor(F.lit(train_frac) * F.col("_n_full")))
        .drop("_idx", "_n_full")
    )
    cache = (
        arima_hr_forecast(train, key, order_col, value_col, horizon=1)
        .filter(F.col("horizon_step") == 1)
        .select(
            F.col(key),
            F.col("p").alias("warm_p"),
            F.col("q").alias("warm_q"),
        )
    )

    # Stage 2 — today's run consumes the cache (left join: cache misses
    # run the full grid).
    enriched = series.join(cache, on=key, how="left")

    def fit(cols: dict) -> list[tuple]:
        order = np.argsort(cols[order_col], kind="stable")
        x = cols[value_col][order].astype(float)
        uid = int(cols[key][0])
        wp = cols["warm_p"][0]
        warm = wp is not None and not (isinstance(wp, float) and np.isnan(wp))
        if warm:
            pq_grid = [(int(cols["warm_p"][0]), int(cols["warm_q"][0]))]
        else:
            pq_grid = list(_ARIMA_PQ_GRID)
        rows = _arima_rows(uid, x, pq_grid, horizon)
        return [r + (len(pq_grid), bool(warm)) for r in rows]

    return grouped_numpy(enriched, [key], ARIMA_WARM_SCHEMA, fit)


# ---------------------------------------------------------------------------
# F1 seasonal — SARIMAX via the same Hannan–Rissanen harness: additive
# seasonal AR/MA lags at an ACF-autodetected period + optional exogenous
# regressors. Closed-form OLS throughout; no statsmodels.
# ---------------------------------------------------------------------------

SARIMAX_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("p", IntegerType()),
        StructField("d", IntegerType()),
        StructField("q", IntegerType()),
        StructField("sp", IntegerType()),
        StructField("sq", IntegerType()),
        StructField("sd", IntegerType()),
        StructField("s", IntegerType()),
        StructField("aic", DoubleType()),
        StructField("horizon_step", IntegerType()),
        StructField("yhat", DoubleType()),
        StructField("lo", DoubleType()),
        StructField("hi", DoubleType()),
        StructField("sigma", DoubleType()),
    ]
)


def _acf_at(y: np.ndarray, lag: int) -> float:
    yc = y - y.mean()
    denom = float(yc @ yc)
    if denom <= 0.0 or len(y) <= lag:
        return 0.0
    return float(yc[lag:] @ yc[:-lag]) / denom


#: candidate seasonal periods of the SARIMAX autodetect (the reference's
#: trading-calendar ladder); the staged replay computes one lag per period
SEASONAL_PERIODS = (7, 12, 24, 52)


def detect_seasonal_period(
    y: np.ndarray, candidates: tuple[int, ...] = SEASONAL_PERIODS
) -> int:
    """ACF-based seasonality autodetect over the reference's candidate
    periods (`forcester_ts/sarimax.py:212-222`: trading-calendar ladder
    7/12/24/52): pick the candidate with the largest ACF above the
    2/√n significance band, 0 if none qualifies or the series is too
    short (< 3 full periods)."""
    n = len(y)
    if n < 3:
        return 0
    best_s, best_r = 0, 2.0 / np.sqrt(n)
    for s in candidates:
        if n < 3 * s:
            continue
        r = _acf_at(y, s)
        if r > best_r:
            best_s, best_r = s, r
    return best_s


def _fit_lagged_hr(
    y: np.ndarray,
    ar_lags: list[int],
    ma_lags: list[int],
    e_long: np.ndarray,
    t0: int,
    exog: np.ndarray | None = None,
) -> tuple[np.ndarray, float, float, np.ndarray] | None:
    """Hannan–Rissanen step 2 on an ARBITRARY lag set: OLS of y_t on
    [1, y lags, step-1 residual lags, exog] → (beta, sigma, aic, fitted
    residuals). The seasonal extension of ``_fit_arma_hr`` — the design
    matrix just carries extra columns at lag s; the estimator stays the
    same closed-form least squares."""
    n = len(y)
    n_exog = exog.shape[1] if exog is not None else 0
    k = 1 + len(ar_lags) + len(ma_lags) + n_exog
    if n - t0 < k + 8:
        return None
    cols = [np.ones(n - t0)]
    cols += [y[t0 - l : n - l] for l in ar_lags]
    cols += [e_long[t0 - l : n - l] for l in ma_lags]
    if exog is not None:
        cols += [exog[t0:, j] for j in range(n_exog)]
    X = np.column_stack(cols)
    yy = y[t0:]
    beta, *_ = np.linalg.lstsq(X, yy, rcond=None)
    resid = yy - X @ beta
    rss = float(resid @ resid)
    m = n - t0
    sigma = float(np.sqrt(rss / max(m - k, 1)))
    aic = m * np.log(max(rss / m, 1e-300)) + 2 * k
    e_fit = np.zeros(n)
    e_fit[t0:] = resid
    return beta, sigma, float(aic), e_fit


def _fit_sarma_mult(
    y: np.ndarray,
    p: int,
    q: int,
    P: int,
    Q: int,
    s: int,
    e_long: np.ndarray,
    t0: int,
    exog: np.ndarray | None = None,
    n_iter: int = 3,
) -> tuple | None:
    """MULTIPLICATIVE seasonal Hannan–Rissanen step 2 — the reference's
    (p,d,q)(P,D,Q,s) polynomial product (`forcester_ts/sarimax.py:
    708-1013` via statsmodels), estimated without an optimizer by
    alternating closed-form least squares:

        (1 − Σφ_iB^i)(1 − ΦB^s) y = c + (1 + Σθ_jB^j)(1 + ΘB^s) e

    expands to cross-product lag terms −φ_iΦ·y_{t−s−i} and
    +θ_jΘ·e_{t−s−j}. Given (Φ, Θ), the model is LINEAR in (c, φ, θ) on
    filtered regressors (y_{t−i} − Φy_{t−s−i}, e_{t−j} + Θe_{t−s−j});
    given (φ, θ) it is linear in (Φ, Θ). Three zig-zag iterations from
    (Φ, Θ) = 0 converge to well under the coefficient grid's resolution
    (deterministic — no random restarts). AIC/σ come from the FULL
    multiplicative-prediction residuals with k = p+q+P+Q+1 (+exog), so
    the staged-oracle replay can re-derive them from the staged
    (c, φ, Φ, θ, Θ) alone.

    Returns (c, phi[p], th[q], Phi, Th, b_ex, sigma, aic, e_fit)."""
    n = len(y)
    n_exog = exog.shape[1] if exog is not None else 0
    k = 1 + p + q + P + Q + n_exog
    if n - t0 < k + 8:
        return None
    idx = np.arange(t0, n)
    yy = y[idx]

    def yl(lag):
        return y[idx - lag]

    def el(lag):
        return e_long[idx - lag]

    Phi, Th = 0.0, 0.0
    c0, phi, th = 0.0, np.zeros(p), np.zeros(q)
    b_ex = np.zeros(n_exog)
    for _ in range(n_iter):
        cols = [np.ones(len(idx))]
        cols += [yl(i) - Phi * yl(s + i) for i in range(1, p + 1)]
        cols += [el(j) + Th * el(s + j) for j in range(1, q + 1)]
        if exog is not None:
            cols += [exog[idx, c] for c in range(n_exog)]
        X = np.column_stack(cols)
        target = yy - (Phi * yl(s) if P else 0.0) - (Th * el(s) if Q else 0.0)
        beta, *_ = np.linalg.lstsq(X, target, rcond=None)
        c0 = float(beta[0])
        phi = beta[1 : 1 + p]
        th = beta[1 + p : 1 + p + q]
        b_ex = beta[1 + p + q :]
        if not (P or Q):
            break
        base = yy - c0
        for i in range(1, p + 1):
            base = base - phi[i - 1] * yl(i)
        for j in range(1, q + 1):
            base = base - th[j - 1] * el(j)
        if exog is not None and n_exog:
            base = base - exog[idx] @ b_ex
        colsB = []
        if P:
            colP = yl(s).copy()
            for i in range(1, p + 1):
                colP -= phi[i - 1] * yl(s + i)
            colsB.append(colP)
        if Q:
            colQ = el(s).copy()
            for j in range(1, q + 1):
                colQ += th[j - 1] * el(s + j)
            colsB.append(colQ)
        g, *_ = np.linalg.lstsq(np.column_stack(colsB), base, rcond=None)
        gi = 0
        if P:
            Phi = float(g[gi])
            gi += 1
        if Q:
            Th = float(g[gi])
    # final residuals from the FULL multiplicative prediction
    pred = np.full(len(idx), c0)
    for i in range(1, p + 1):
        pred += phi[i - 1] * yl(i)
    if P:
        pred += Phi * yl(s)
        for i in range(1, p + 1):
            pred -= Phi * phi[i - 1] * yl(s + i)
    for j in range(1, q + 1):
        pred += th[j - 1] * el(j)
    if Q:
        pred += Th * el(s)
        for j in range(1, q + 1):
            pred += Th * th[j - 1] * el(s + j)
    if exog is not None and n_exog:
        pred += exog[idx] @ b_ex
    resid = yy - pred
    rss = float(resid @ resid)
    m = len(idx)
    sigma = float(np.sqrt(rss / max(m - k, 1)))
    aic = float(m * np.log(max(rss / m, 1e-300)) + 2 * k)
    e_fit = np.zeros(n)
    e_fit[t0:] = resid
    return c0, phi, th, Phi, Th, b_ex, sigma, aic, e_fit


def _sarma_terms(
    p: int, q: int, P: int, Q: int, s: int, phi, th, Phi: float, Th: float
) -> tuple[list, list]:
    """(lag, coef) expansion of the multiplicative polynomials for the
    forecast recursion and psi-weight construction."""
    ar_terms = [(i, float(phi[i - 1])) for i in range(1, p + 1)]
    if P:
        ar_terms += [(s, Phi)]
        ar_terms += [(s + i, -Phi * float(phi[i - 1])) for i in range(1, p + 1)]
    ma_terms = [(j, float(th[j - 1])) for j in range(1, q + 1)]
    if Q:
        ma_terms += [(s, Th)]
        ma_terms += [(s + j, Th * float(th[j - 1])) for j in range(1, q + 1)]
    return ar_terms, ma_terms


def _long_ar_resid(y: np.ndarray, s: int) -> np.ndarray:
    """Hannan–Rissanen step 1 on a target series: long-AR residuals
    (zeros before the long-AR order), shared by both SARIMAX kernels."""
    n = len(y)
    m_long = min(max(8, (s or 0) + 4, 8), max(n // 4, 1))
    bl, _, _ = _fit_ar(y, m_long)
    e = np.zeros(n)
    Xl = np.column_stack(
        [np.ones(n - m_long)]
        + [y[m_long - k - 1 : n - k - 1] for k in range(m_long)]
    )
    e[m_long:] = y[m_long:] - Xl @ bl
    return e


def _sarimax_candidate_search(y: np.ndarray, s: int, exog=None):
    """The shared SARIMAX grid: (p,q) ∈ {0,1,2}² × seasonal candidates.
    Mirrors the reference's candidate set (`forcester_ts/sarimax.py:
    519-532`): one NON-seasonal rung (D=0, no seasonal terms) plus, when
    a period is detected, multiplicative (P,1,Q,s) rungs for
    (P,Q) ∈ {0,1}² — every seasonal candidate carries ONE seasonal
    difference (max_D=1), including the pure (0,1,0,s) seasonal random
    walk. All candidates' residuals live on the same y-scale (the
    seasonal difference shifts the target, not the residual:
    r_t = w_t − ŵ_t = y_t − ŷ_t) and are conditioned on the COMMON
    y-time window t ≥ t0, so their RSS/AICs are directly comparable.

    Returns (aic, p, q, P, Q, D, fitres, target, e_target, t0_target,
    t0_common) for the winner, or None."""
    n = len(y)
    e_y = _long_ar_resid(y, s)
    pq_grid = [(p_, q_) for p_ in (0, 1, 2) for q_ in (0, 1, 2)]
    max_k = 7  # c + p2 + q2 + P1 + Q1
    t0_full = 2 * s + 2 if s else 2
    use_d = bool(s) and (n - t0_full >= max_k + 8)
    if use_d:
        t0_common = t0_full
        w = y[s:] - y[:-s]
        e_w = _long_ar_resid(w, s)
        t0_w = t0_common - s  # same y-time window, w-index terms
        spq = [(0, 0), (1, 0), (0, 1), (1, 1)]
    else:
        t0_common = max(2, s + 2) if s else 2
        w = e_w = None
        t0_w = 0
        spq = [(0, 0), (1, 0), (0, 1), (1, 1)] if s else []
    best = None
    for p_, q_ in pq_grid:
        # non-seasonal rung on y
        if p_ + q_ > 0:
            r = _fit_sarma_mult(y, p_, q_, 0, 0, s, e_y, t0_common, exog)
            if r is not None and (best is None or r[7] < best[0]):
                best = (r[7], p_, q_, 0, 0, 0, r, y, e_y, t0_common)
        # seasonal rungs
        for P_, Q_ in spq:
            if use_d:
                # the seasonal difference applies to the whole mean
                # equation, exog included: w = (X_t - X_{t-s})b + SARMA
                ex_w = exog[s:] - exog[:-s] if exog is not None else None
                r = _fit_sarma_mult(w, p_, q_, P_, Q_, s, e_w, t0_w, ex_w)
                if r is not None and (best is None or r[7] < best[0]):
                    best = (r[7], p_, q_, P_, Q_, 1, r, w, e_w, t0_w)
            elif P_ + Q_ > 0:
                # short-series fallback: multiplicative, no differencing
                r = _fit_sarma_mult(y, p_, q_, P_, Q_, s, e_y, t0_common, exog)
                if r is not None and (best is None or r[7] < best[0]):
                    best = (r[7], p_, q_, P_, Q_, 0, r, y, e_y, t0_common)
    if best is None:
        return None
    return best + (t0_common,)


def sarimax_hr_components(
    series: DataFrame,
    key: str = "user_id",
    order_col: str = "rn",
    value_col: str = "value",
) -> DataFrame:
    """The solver artifacts of `sarimax_hr_forecast`'s winning candidate
    (no-exog configuration) as a long table for the staged-verification
    oracle: kind 0 = the parameter vector (idx 1..15 = p, d, q, P, Q, s,
    t0, c, phi1, phi2, Phi, th1, th2, Th, D — seasonal coefficients zero
    when absent; the multiplicative cross-term coefficients are the
    PRODUCTS −φ_iΦ / +θ_jΘ, so they need no slots of their own), kind 1
    = the step-1 long-AR residual series of the WINNER's modeling target
    re-indexed to y-time (the D=1 rungs model w = y_t − y_{t−s}). Because every detected period
    (7/12/24/52) exceeds horizon+2, all seasonal and cross-product terms
    in the forecast recursion reference OBSERVED values, so the oracle
    replay needs only the same two-lag recursion state as plain ARIMA
    plus equi-joins at lags s, s+1, s+2."""
    from ..operators.arrowgroup import grouped_numpy

    def kern(cols: dict) -> list[tuple]:
        order = np.argsort(cols[order_col], kind="stable")
        x = cols[value_col][order].astype(float)
        uid = int(cols[key][0])
        if len(x) < 40:
            return []
        d = 1 if _adf_tau(x) > _ADF_CRIT_5PCT else 0
        y = np.diff(x, d) if d else x
        s = detect_seasonal_period(y)
        best = _sarimax_candidate_search(y, s)
        if best is None:
            return []
        (aic, p_, q_, P_, Q_, D_,
         (c0, phi, th, Phi, Th, _bx, _sg, _a2, _ef),
         _tgt, e_long, _t0_tgt, t0_common) = best
        phi1 = float(phi[0]) if p_ >= 1 else 0.0
        phi2 = float(phi[1]) if p_ >= 2 else 0.0
        phis = float(Phi) if P_ else 0.0
        th1 = float(th[0]) if q_ >= 1 else 0.0
        th2 = float(th[1]) if q_ >= 2 else 0.0
        ths = float(Th) if Q_ else 0.0
        params = [
            float(p_), float(d), float(q_), float(P_), float(Q_),
            float(s), float(t0_common), float(c0),
            float(phi1), float(phi2), float(phis),
            float(th1), float(th2), float(ths),
            float(D_),
        ]
        rows = [(uid, 0, i + 1, v) for i, v in enumerate(params)]
        # the winner's step-1 residuals are re-indexed to Y-TIME (w-index
        # j lives at y-time j+s when D=1) so the oracle's equi-joins on t
        # line up regardless of the differencing rung
        off = s if D_ else 0
        rows += [
            (uid, 1, (i + off) + 1, float(v)) for i, v in enumerate(e_long)
        ]
        return rows

    return grouped_numpy(series, [key], ARIMA_COMP_SCHEMA, kern)


def sarimax_hr_forecast(
    series: DataFrame,
    key: str = "user_id",
    order_col: str = "rn",
    value_col: str = "value",
    horizon: int = 5,
    exog_cols: list[str] | None = None,
) -> DataFrame:
    """F1 seasonal+exog: per-key SARIMAX via the Hannan–Rissanen harness —
    reference `forcester_ts/sarimax.py:212-222` (seasonality autodetect)
    and `:708-1013` (seasonal-order fit + exog alignment), re-expressed
    without statsmodels: each candidate is the MULTIPLICATIVE
    (p,d,q)(P,D,Q,s) polynomial product fitted by ``_fit_sarma_mult``'s
    alternating closed-form least squares (cross-product lag terms
    −φ_iΦ·z_{t−s−i}, +θ_jΘ·e_{t−s−j} — structurally the reference's
    seasonal polynomial, profiled rather than jointly MLE'd). Every
    seasonal candidate carries ONE seasonal difference (D=1, reference
    `sarimax.py:523`); the grid covers (p,q) ∈ {0,1,2}² × ({D=0
    non-seasonal} ∪ {D=1, (P,Q) ∈ {0,1}²}) at the detected s, all
    candidates' residuals on the same y-scale over the common y-time
    window t0 = 2s+2 so their AICs are directly comparable.

    Exogenous regressors are differenced alongside y when d=1 and frozen
    at their last observed value over the forecast horizon (no future
    exog is available inside the engine — callers with known future exog
    should append it and re-fit).

    Scale: identical (key)-grouped Arrow fan-out to ``arima_hr_forecast``
    — one closed-form fit grid per key, no optimizer, no Python loop over
    rows beyond the O(grid·n) design builds."""
    from ..operators.arrowgroup import grouped_numpy

    exog_cols = list(exog_cols or [])

    def fit(cols: dict) -> list[tuple]:
        order = np.argsort(cols[order_col], kind="stable")
        x = cols[value_col][order].astype(float)
        uid = int(cols[key][0])
        if len(x) < 40:
            return []
        ex_full = (
            np.column_stack([cols[c][order].astype(float) for c in exog_cols])
            if exog_cols
            else None
        )
        d = 1 if _adf_tau(x) > _ADF_CRIT_5PCT else 0
        y = np.diff(x, d) if d else x
        ex = None
        if ex_full is not None:
            ex = np.diff(ex_full, d, axis=0) if d else ex_full
        n = len(y)
        s = detect_seasonal_period(y)
        best = _sarimax_candidate_search(y, s, ex)
        if best is None:
            return []
        (aic, p, q, P, Q, D,
         (c, phi, th, Phi, Th, b_ex, sigma, _aic2, e_fit),
         tgt, _e_tgt, _t0_tgt, _t0c) = best
        ar_terms, ma_terms = _sarma_terms(p, q, P, Q, s, phi, th, Phi, Th)
        if ex is not None and len(b_ex):
            ex_last = ex[-1] - ex[-1 - s] if D else ex[-1]
            ex_future = float(ex_last @ b_ex)
        else:
            ex_future = 0.0
        # recursion runs on the modeling target (w = y_t − y_{t−s} when
        # D=1); h ≤ horizon < s keeps every seasonal/cross lag observed
        hist = list(tgt)
        errs = list(e_fit)
        preds_z = []
        for _h in range(horizon):
            v = c + ex_future
            for lag, coef in ar_terms:
                v += coef * hist[-lag]
            for lag, coef in ma_terms:
                v += coef * errs[-lag] if len(errs) >= lag else 0.0
            hist.append(v)
            errs.append(0.0)
            preds_z.append(v)
        if D:
            # integrate the seasonal difference: ŷ_{n-1+h} = ẑ + y_{n-1+h-s}
            preds = [
                preds_z[h - 1] + float(y[n - 1 + h - s])
                for h in range(1, horizon + 1)
            ]
        else:
            preds = preds_z
        max_lag = max([lag for lag, _ in ar_terms + ma_terms] or [1])
        phi_dense = np.zeros(max_lag)
        for lag, coef in ar_terms:
            phi_dense[lag - 1] = coef
        theta_dense = np.zeros(max_lag)
        for lag, coef in ma_terms:
            theta_dense[lag - 1] = coef
        # psi weights live on the z scale; the seasonal-difference offset
        # is observed for h <= horizon < s, so the h-step error variance
        # in y equals the z variance (the d-integration ladder unchanged)
        psi = _psi_weights(phi_dense, theta_dense, horizon)
        if d:
            yhat = float(x[-1]) + np.cumsum(preds)
            psi_i = np.cumsum(psi)
            var = sigma * sigma * np.cumsum(psi_i * psi_i)
        else:
            yhat = np.array(preds)
            var = sigma * sigma * np.cumsum(psi * psi)
        rows = []
        for h in range(1, horizon + 1):
            band = 1.96 * float(np.sqrt(var[h - 1]))
            rows.append(
                (uid, p, d, q, P, Q, int(D), s, round(aic, 6), h,
                 round(float(yhat[h - 1]), 6),
                 round(float(yhat[h - 1]) - band, 6),
                 round(float(yhat[h - 1]) + band, 6),
                 round(sigma, 6))
            )
        return rows

    return grouped_numpy(
        series.select(key, order_col, value_col, *exog_cols),
        [key],
        SARIMAX_SCHEMA,
        fit,
    )


# ---------------------------------------------------------------------------
# F2 — real GARCH(1,1) MLE (no `arch` needed: numpy likelihood, variance
# targeting, deterministic two-stage grid refine)
# ---------------------------------------------------------------------------

GARCH_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_obs", IntegerType()),
        StructField("omega", DoubleType()),
        StructField("alpha", DoubleType()),
        StructField("beta", DoubleType()),
        StructField("persistence", DoubleType()),
        StructField("loglik", DoubleType()),
        StructField("uncond_vol", DoubleType()),
        StructField("sigma_next", DoubleType()),
        StructField("igarch_guard", IntegerType()),
    ]
)


def _garch11_loglik_grid(
    r2: np.ndarray, var0: float, alphas: np.ndarray, betas: np.ndarray
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Gaussian GARCH(1,1) log-likelihood for a whole candidate grid at
    once. Variance targeting pins ω = var0·(1−α−β), so the search is 2-D.
    The σ² recursion is sequential in t but fully vectorized across the
    candidate axis — one O(T·|grid|) numpy pass, no Python-per-candidate
    loop."""
    a = alphas[:, None] * np.ones_like(betas)[None, :]
    b = np.ones_like(alphas)[:, None] * betas[None, :]
    keep = (a + b) < 0.999
    a, b = a[keep], b[keep]
    omega = var0 * (1.0 - a - b)
    s2 = np.full(a.shape, var0)
    ll = np.zeros(a.shape)
    for t in range(1, len(r2)):
        s2 = omega + a * r2[t - 1] + b * s2
        ll -= 0.5 * (np.log(s2) + r2[t] / s2)
    return a, b, ll


def garch11_fit(
    returns: DataFrame,
    key: str = "user_id",
    order_col: str = "rn",
    ret_col: str = "lr",
) -> DataFrame:
    """F2 proper: per-key GARCH(1,1) maximum likelihood
    σ²_t = ω + α·r²_{t−1} + β·σ²_{t−1} — reference
    `forcester_ts/garch.py:129-475` (arch-lib fit, persistence guard at
    α+β ≥ 0.97 `:351-380`, EWMA fallback `:580-633` kept as the separate
    ``ewma_vol_forecast``). The container has no `arch`; the Gaussian
    QMLE needs only the likelihood, so the optimizer here is a
    deterministic coarse-to-fine grid with variance targeting
    (ω = σ̄²(1−α−β)) — no random starts, bit-identical across runs and
    partition layouts.

    Emits per key: fitted (ω, α, β), persistence, log-likelihood,
    unconditional vol, the 1-step-ahead vol forecast, and the IGARCH
    guard flag (persistence ≥ 0.97, mirroring the reference's stability
    fallback trigger).

    Scale: one Arrow task per key — a million series fit concurrently on
    a real cluster; the per-key cost is O(T · grid) vectorized numpy.
    """
    from ..operators.arrowgroup import grouped_numpy

    coarse_a = np.linspace(0.01, 0.35, 12)
    coarse_b = np.linspace(0.40, 0.98, 16)

    def fit(cols: dict) -> list[tuple]:
        order = np.argsort(cols[order_col], kind="stable")
        r = cols[ret_col][order].astype(float)
        r = r[~np.isnan(r)]
        if len(r) < 30:
            return []
        uid = int(cols[key][0])
        r = _clip_return_tails(r)
        r = r - r.mean()
        r2 = r * r
        var0 = float(r2.mean())
        if var0 <= 0:
            return []

        a, b, ll = _garch11_loglik_grid(r2, var0, coarse_a, coarse_b)
        i = int(np.argmax(ll))
        # local refine around the coarse winner (one zoom is enough for
        # 6-decimal output stability; the surface is smooth in (α, β))
        fa = np.linspace(max(a[i] - 0.03, 1e-4), min(a[i] + 0.03, 0.5), 13)
        fb = np.linspace(max(b[i] - 0.04, 0.0), min(b[i] + 0.04, 0.9985), 13)
        a2, b2, ll2 = _garch11_loglik_grid(r2, var0, fa, fb)
        j = int(np.argmax(ll2))
        # Emit-grain discipline: round (alpha, beta) to the 6-decimal
        # output grain FIRST and derive omega, the likelihood and the
        # forecast from the rounded values — the staged parameters then
        # reproduce the whole recursion exactly, which is what lets the
        # recursive-CTE verification oracle re-derive loglik/sigma_next.
        alpha = round(float(a2[j]), 6)
        beta = round(float(b2[j]), 6)
        omega = var0 * (1.0 - alpha - beta)
        persistence = round(alpha + beta, 6)
        s2 = var0
        ll = 0.0
        for t in range(1, len(r2)):
            s2 = omega + alpha * r2[t - 1] + beta * s2
            ll -= 0.5 * (np.log(s2) + r2[t] / s2)
        s2_next = omega + alpha * r2[-1] + beta * s2
        return [
            (
                uid,
                int(len(r)),
                round(omega, 6),
                alpha,
                beta,
                persistence,
                round(float(ll), 6),
                round(float(np.sqrt(var0)), 6),
                round(float(np.sqrt(s2_next)), 6),
                int(persistence >= 0.97),
            )
        ]

    return grouped_numpy(returns, [key], GARCH_SCHEMA, fit)


# ---------------------------------------------------------------------------
# F2 full — GARCH(p,q) order grid + normal→Student-t likelihood ladder
# ---------------------------------------------------------------------------

GARCH_GRID_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("p", IntegerType()),
        StructField("q", IntegerType()),
        StructField("dd", IntegerType()),
        StructField("dist", StringType()),
        StructField("nu", DoubleType()),
        StructField("lam", DoubleType()),
        StructField("mu", DoubleType()),
        StructField("rho", DoubleType()),
        StructField("omega", DoubleType()),
        StructField("alpha1", DoubleType()),
        StructField("alpha2", DoubleType()),
        StructField("beta1", DoubleType()),
        StructField("beta2", DoubleType()),
        StructField("persistence", DoubleType()),
        StructField("loglik", DoubleType()),
        StructField("aic", DoubleType()),
        StructField("sigma_next", DoubleType()),
        StructField("sigma_h2", DoubleType()),
        StructField("sigma_h3", DoubleType()),
        StructField("sigma_h4", DoubleType()),
        StructField("sigma_h5", DoubleType()),
        StructField("igarch_guard", IntegerType()),
    ]
)


def _garch_pq_loglik(
    r2: np.ndarray, var0: float, A: np.ndarray, B: np.ndarray, t0: int
) -> np.ndarray:
    """Gaussian GARCH(p,q) log-likelihood (WITH the 2π constant, so it is
    comparable across distributions) for a whole candidate matrix at
    once: A is (n_cand, p) ARCH coefs, B is (n_cand, q) GARCH coefs,
    ω variance-targeted. Recursion sequential in t, vectorized across
    candidates; conditioning starts at the COMMON ``t0`` so AICs are
    comparable across the (p, q) grid."""
    q = B.shape[1]
    pers = A.sum(axis=1) + B.sum(axis=1)
    omega = var0 * (1.0 - pers)
    n_cand = A.shape[0]
    s2_buf = np.full((n_cand, q), var0)
    ll = np.zeros(n_cand)
    n = len(r2)
    for t in range(t0, n):
        s2 = omega.copy()
        for i in range(A.shape[1]):
            s2 += A[:, i] * r2[t - 1 - i]
        for j in range(q):
            s2 += B[:, j] * s2_buf[:, j]
        s2 = np.maximum(s2, 1e-300)
        ll -= 0.5 * (np.log(2.0 * np.pi) + np.log(s2) + r2[t] / s2)
        if q > 1:
            s2_buf[:, 1:] = s2_buf[:, :-1]
        s2_buf[:, 0] = s2
    return ll


def _garch_sigma2_path(
    r2: np.ndarray, var0: float, omega: float,
    alphas: np.ndarray, betas: np.ndarray, t0: int
) -> np.ndarray:
    """σ²_t path (t0..n) plus the 1-step-ahead value, for the fitted
    single parameter vector."""
    p, q = len(alphas), len(betas)
    buf = [var0] * q
    out = []
    n = len(r2)
    for t in range(t0, n + 1):
        s2 = omega
        for i in range(p):
            s2 += alphas[i] * r2[t - 1 - i]
        for j in range(q):
            s2 += betas[j] * buf[j]
        s2 = max(s2, 1e-300)
        out.append(s2)
        buf = [s2] + buf[:-1]
    return np.asarray(out)


_T_NU_GRID = (4.0, 5.0, 6.0, 8.0, 10.0, 15.0, 20.0, 30.0)


def _clip_return_tails(r: np.ndarray) -> np.ndarray:
    """The reference's numerical-overflow guard before any GARCH fit
    (`forcester_ts/garch.py:155-168`): clip |r| at
    max(p99.5(|r|), 10·median(|r|)). Linear-interpolated percentile and
    median match DuckDB's QUANTILE_CONT/MEDIAN, so the oracle replays
    the cap exactly."""
    ar = np.abs(r[np.isfinite(r)])
    if not len(ar):
        return r
    p995 = float(np.nanpercentile(ar, 99.5))
    med = float(np.nanmedian(ar))
    cap = max(p995, med * 10.0) if med > 0 else p995
    if np.isfinite(cap) and cap > 0:
        return np.clip(r, -cap, cap)
    return r


def _student_t_loglik(r2_tail: np.ndarray, s2: np.ndarray, nu: float) -> float:
    """Standardized Student-t log-likelihood on a fitted σ² path:
    Σ lnΓ((ν+1)/2) − lnΓ(ν/2) − ½ln((ν−2)π) − ½ln σ² − (ν+1)/2·
    ln(1 + z/(ν−2)), z = r²/σ². (Unit-variance t, ν > 2.)"""
    from math import lgamma, pi

    z = r2_tail / s2
    c = lgamma((nu + 1.0) / 2.0) - lgamma(nu / 2.0) - 0.5 * np.log((nu - 2.0) * pi)
    ll = len(z) * c - 0.5 * float(np.sum(np.log(s2)))
    ll -= (nu + 1.0) / 2.0 * float(np.sum(np.log1p(z / (nu - 2.0))))
    return float(ll)


_SKEWT_LAM_GRID = (-0.4, -0.25, -0.1, 0.1, 0.25, 0.4)


def _hansen_skewt_loglik(
    r_tail: np.ndarray, s2: np.ndarray, nu: float, lam: float
) -> float:
    """Hansen (1994) standardized skew-t log-likelihood on a fitted σ²
    path (zero-mean, unit-variance parameterization; 2 < ν, |λ| < 1):

        c = Γ((ν+1)/2) / (√(π(ν−2)) Γ(ν/2))
        a = 4λc(ν−2)/(ν−1),  b² = 1 + 3λ² − a²
        ln f(z) = ln b + ln c − (ν+1)/2 · ln(1 + u²/(ν−2)),
        u = (bz + a) / (1 − λ)  if z < −a/b  else  (bz + a) / (1 + λ)

    summed over z_t = r_t/σ_t with the −½lnσ² Jacobian. λ = 0 reduces to
    the symmetric standardized t."""
    from math import lgamma, pi, sqrt

    c = np.exp(lgamma((nu + 1.0) / 2.0) - lgamma(nu / 2.0)) / sqrt(
        pi * (nu - 2.0)
    )
    a = 4.0 * lam * c * (nu - 2.0) / (nu - 1.0)
    b = sqrt(1.0 + 3.0 * lam * lam - a * a)
    z = r_tail / np.sqrt(s2)
    denom = np.where(z < -a / b, 1.0 - lam, 1.0 + lam)
    u = (b * z + a) / denom
    ll = len(z) * (np.log(b) + np.log(c)) - 0.5 * float(np.sum(np.log(s2)))
    ll -= (nu + 1.0) / 2.0 * float(np.sum(np.log1p(u * u / (nu - 2.0))))
    return float(ll)


def garch_grid_fit(
    returns: DataFrame,
    key: str = "user_id",
    order_col: str = "rn",
    ret_col: str = "lr",
    round_out: bool = True,
) -> DataFrame:
    """F2 full: per-key GARCH(p,q) over p,q ∈ {1,2} with the reference's
    FULL distribution ladder (skew-t → Student-t → normal) — reference
    `forcester_ts/garch.py:129-475` grids (p, q) and tries
    skewt→t→normal likelihoods via `arch`. No `arch` in the container, so:

    - each (p, q) family is fitted by the same deterministic vectorized
      coarse grid + one zoom refine used by ``garch11_fit``, under the
      GAUSSIAN QMLE (consistent for (ω, α, β) even under fat-tailed
      innovations — Bollerslev & Wooldridge 1992);
    - the t degrees-of-freedom ν are then PROFILED on the fitted σ² path
      over a fixed ladder (4…30), and the Hansen (1994) skew-t over the
      joint (ν, λ) ladder with the SIGNED standardized residuals; the
      normal-vs-t-vs-skewt decision is by AIC with the extra ν (and λ)
      parameters charged to the heavier models.

    All likelihoods carry their constants and condition from the common
    t0 = max_grid(p) = 2, so AICs are comparable across every (p, q,
    dist) cell. Unused coefficient slots emit 0.0 (fixed schema).

    Scale design: the sequential-in-time σ² recursion is the whole cost,
    so it is vectorized across BOTH candidates and every key in the
    partition (``partitioned_numpy``): the Python time-loop runs twice
    per PARTITION (coarse + zoom), not per key, on
    (keys × candidates)-wide arrays. The fit conditions on the most
    recent ``fit_window`` (2000) observations — volatility dynamics are
    local, the reference refits on bounded walk-forward windows, and the
    cap makes per-key cost O(1) in series length. Per-key results are
    independent of partitioning (pure per-key math; pytest-pinned)."""
    from ..operators.arrowgroup import partitioned_numpy

    t0 = 2  # max p in the grid: common conditioning window
    fit_window = 2000

    def _mesh(axes: list[np.ndarray], p: int, q: int) -> np.ndarray:
        """(n_cand, 4) padded [a1, a2, b1, b2] candidates for one family."""
        mesh = np.meshgrid(*axes, indexing="ij")
        flat = [m.ravel() for m in mesh]
        n = len(flat[0])
        z = np.zeros(n)
        a1 = flat[0]
        a2 = flat[1] if p == 2 else z
        b1 = flat[p]
        b2 = flat[p + 1] if q == 2 else z
        C = np.column_stack([a1, a2, b1, b2])
        return C[C.sum(axis=1) < 0.999]

    def _family_axes(p: int, q: int) -> list[np.ndarray]:
        # multi-lag families get coarser axes (the zoom below spans half
        # the coarse spacing, so the optimum between grid points is reached)
        return [np.linspace(0.01, 0.30, 7 if p == 1 else 4)] * p + [
            np.linspace(0.30, 0.97, 9 if q == 1 else 5)
        ] * q

    # ALL four (p, q) families in ONE padded candidate matrix; zero-padded
    # lag slots cost two fused multiply-adds.
    _coarse = np.vstack(
        [_mesh(_family_axes(p, q), p, q) for p in (1, 2) for q in (1, 2)]
    )
    _coarse_pq = np.concatenate(
        [
            np.tile((p, q), (len(_mesh(_family_axes(p, q), p, q)), 1))
            for p in (1, 2)
            for q in (1, 2)
        ]
    )
    _LOG2PI = float(np.log(2.0 * np.pi))

    def _ll_keys_cands(
        R2: np.ndarray, valid: np.ndarray, var0: np.ndarray, C: np.ndarray
    ) -> np.ndarray:
        """Gaussian ll for every (key, candidate) cell in one time-loop.
        ``C`` is (n_cand, 4) shared across keys or (n_keys, n_cand, 4)
        per-key. Left-padded history (R2 = var0 there, valid False) keeps
        the recursion at the unconditional variance and contributes no
        likelihood."""
        per_key = C.ndim == 3
        a1 = C[..., 0] if per_key else C[None, :, 0]
        a2 = C[..., 1] if per_key else C[None, :, 1]
        b1 = C[..., 2] if per_key else C[None, :, 2]
        b2 = C[..., 3] if per_key else C[None, :, 3]
        pers = a1 + a2 + b1 + b2
        omega = var0[:, None] * (1.0 - pers)
        shape = omega.shape
        s2_prev = np.broadcast_to(var0[:, None], shape).copy()
        s2_prev2 = s2_prev.copy()
        ll = np.zeros(shape)
        L = R2.shape[1]
        for t in range(t0, L):
            s2 = omega + a1 * R2[:, t - 1][:, None] + a2 * R2[:, t - 2][:, None]
            s2 += b1 * s2_prev + b2 * s2_prev2
            np.maximum(s2, 1e-300, out=s2)
            live = valid[:, t][:, None]
            # hold the state at var0 until each key's own conditioning
            # start: without this, left-padded (shorter) keys warm the
            # recursion up one step early and their likelihood disagrees
            # with the per-key sigma^2 path the output reports
            s2 = np.where(live > 0, s2, np.broadcast_to(var0[:, None], shape))
            step = _LOG2PI + np.log(s2) + R2[:, t][:, None] / s2
            ll -= 0.5 * live * step
            s2_prev2, s2_prev = s2_prev, s2
        return ll

    def fit(cols: dict) -> list[tuple]:
        order = np.lexsort((cols[order_col], cols[key]))
        kcol = cols[key][order]
        rcol = cols[ret_col][order].astype(float)
        uids, starts = np.unique(kcol, return_index=True)
        series: list[tuple] = []
        out_short: list[tuple] = []
        for idx, uid in enumerate(uids):
            hi = starts[idx + 1] if idx + 1 < len(uids) else len(kcol)
            r = rcol[starts[idx] : hi]
            r = r[~np.isnan(r)]
            if len(r) < 12:
                continue
            r = _clip_return_tails(r[-fit_window:])
            # ADF stationarity guard (reference garch.py:185-199,
            # Phase 7.10b): returns are generally stationary, but a
            # levels-fed-as-returns series has a unit root — difference
            # once when the constant-only DF tau fails the 5% critical
            # value. d is staged with the coefficients (the ARIMA
            # precedent: the oracle applies the staged d, the ADF rule
            # itself stays pytest-pinned).
            dd = 1 if _adf_tau(r) > _ADF_CRIT_5PCT else 0
            if dd:
                r = np.diff(r)
            if len(r) < 12:
                continue
            # AR(1) conditional mean (the reference's default mean="AR",
            # `garch.py:373`): eps_t = r_t − (mu + rho·r_{t−1}), GARCH on
            # the innovations. The SUM-form OLS below is the exact
            # expression the oracle replays.
            x0, x1 = r[1:], r[:-1]
            m = float(len(x0))
            den = float(np.sum(x1 * x1) - np.sum(x1) * np.sum(x1) / m)
            rho = (
                float(np.sum(x0 * x1) - np.sum(x0) * np.sum(x1) / m) / den
                if den > 0
                else 0.0
            )
            mu = float(np.mean(x0)) - rho * float(np.mean(x1))
            eps = x0 - mu - rho * x1
            r2 = eps * eps
            if float(r2.mean()) <= 0:
                continue
            if len(eps) < 40:
                # the reference's insufficient-sample fallback
                # (`garch.py:212-222`): EWMA(lambda=0.94) vol — GARCH(1,1)
                # with omega=0, alpha=1-lambda, beta=lambda (an IGARCH
                # special case), so the same sigma^2 recursion, Gaussian
                # likelihood and oracle replay apply verbatim
                v0 = float(r2.mean())
                al_e, be_e = np.array([0.06]), np.array([0.94])
                path = _garch_sigma2_path(r2, v0, 0.0, al_e, be_e, t0)
                s2f, sig_next = path[:-1], float(np.sqrt(path[-1]))
                r2t = r2[t0:]
                ll_e = float(
                    -0.5
                    * np.sum(np.log(2.0 * np.pi) + np.log(s2f) + r2t / s2f)
                )
                rr = (
                    (lambda v, nd=6: round(v, nd))
                    if round_out
                    else (lambda v, nd=6: v)
                )
                out_short.append(
                    (
                        int(uid), 1, 1, dd, "ewma", 0.0, 0.0, rr(mu), rr(rho),
                        0.0, 0.06, 0.0, 0.94, 0.0, 1.0,
                        rr(ll_e), rr(2 * 3 - 2 * ll_e),
                        rr(sig_next), rr(sig_next), rr(sig_next),
                        rr(sig_next), rr(sig_next), 1,
                    )
                )
                continue
            series.append((int(uid), r2, eps, mu, rho, dd))
        if not series:
            return out_short
        n_k = len(series)
        L = max(len(r2) for _, r2, *_ in series)
        R2 = np.empty((n_k, L))
        valid = np.zeros((n_k, L), dtype=float)
        var0 = np.empty(n_k)
        pads = np.empty(n_k, dtype=int)
        for i, (_, r2, *_rest) in enumerate(series):
            v0 = float(r2.mean())
            pad = L - len(r2)
            R2[i, :pad] = v0
            R2[i, pad:] = r2
            valid[i, pad + t0 :] = 1.0
            var0[i] = v0
            pads[i] = pad
        # --- coarse: shared candidate matrix, one time-loop ---
        ll_c = _ll_keys_cands(R2, valid, var0, _coarse)
        k_arr = _coarse_pq.sum(axis=1) + 1
        aic_c = 2 * k_arr[None, :] - 2 * ll_c
        win = np.argmin(aic_c, axis=1)
        # --- zoom: per-key candidate blocks (winner's family only) ---
        z_blocks, z_meta = [], []
        for i in range(n_k):
            ci = win[i]
            p, q = int(_coarse_pq[ci, 0]), int(_coarse_pq[ci, 1])
            active = [0] + ([1] if p == 2 else []) + [2] + ([3] if q == 2 else [])
            steps = [
                np.linspace(
                    max(_coarse[ci, d] - 0.06, 1e-4),
                    min(_coarse[ci, d] + 0.06, 0.998),
                    5,
                )
                for d in active
            ]
            mesh = np.meshgrid(*steps, indexing="ij")
            flat = [m.ravel() for m in mesh]
            Z = np.zeros((len(flat[0]), 4))
            for col_i, d in enumerate(active):
                Z[:, d] = flat[col_i]
            Z = Z[Z.sum(axis=1) < 0.999]
            z_blocks.append(Z)
            z_meta.append((p, q))
        z_max = max(len(z) for z in z_blocks)
        Zpad = np.empty((n_k, z_max, 4))
        for i, Z in enumerate(z_blocks):
            Zpad[i, : len(Z)] = Z
            Zpad[i, len(Z) :] = Z[0]  # repeats: same ll, argmax takes first
        ll_z = _ll_keys_cands(R2, valid, var0, Zpad)
        zj = np.argmax(ll_z, axis=1)
        # --- per-key finish: winner path, skewt/t ladders, AIC decision ---
        out = []
        for i, (uid, _, r_signed, mu, rho, dd) in enumerate(series):
            p, q = z_meta[i]
            W = Zpad[i, zj[i]]
            ll_n = float(ll_z[i, zj[i]])
            k_n = p + q + 1
            al = np.array([W[0]] + ([W[1]] if p == 2 else []))
            be = np.array([W[2]] + ([W[3]] if q == 2 else []))
            pers = float(al.sum() + be.sum())
            omega = var0[i] * (1.0 - pers)
            r2 = R2[i, pads[i] :]
            s2_path = _garch_sigma2_path(r2, var0[i], omega, al, be, t0)
            s2_fit, sigma_next = s2_path[:-1], float(np.sqrt(s2_path[-1]))
            r2_tail = r2[t0:]
            r_tail = r_signed[t0:]
            ll_t_best, nu_best = max(
                (_student_t_loglik(r2_tail, s2_fit, nu), nu) for nu in _T_NU_GRID
            )
            ll_st_best, nu_st, lam_st = max(
                (_hansen_skewt_loglik(r_tail, s2_fit, nu, lam), nu, lam)
                for nu in _T_NU_GRID
                for lam in _SKEWT_LAM_GRID
            )
            aic_n = 2 * k_n - 2 * ll_n
            aic_t = 2 * (k_n + 1) - 2 * ll_t_best
            aic_st = 2 * (k_n + 2) - 2 * ll_st_best
            # ladder decision: simplest model unless STRICTLY better AIC
            dist, nu, lam, ll_best, aic_best = "normal", 0.0, 0.0, ll_n, aic_n
            if aic_t < aic_best:
                dist, nu, lam, ll_best, aic_best = (
                    "t", float(nu_best), 0.0, ll_t_best, aic_t,
                )
            if aic_st < aic_best:
                dist, nu, lam, ll_best, aic_best = (
                    "skewt", float(nu_st), float(lam_st), ll_st_best, aic_st,
                )
            # multi-step vol forecast (reference garch.py:643-738):
            # sigma^2(h) = omega + persistence * sigma^2(h-1) — the
            # closed GARCH variance ladder, identical in SQL
            s2h = sigma_next * sigma_next
            sig_h = [sigma_next]
            for _h in range(4):
                s2h = omega + pers * s2h
                sig_h.append(float(np.sqrt(s2h)))
            # round_out=False keeps solver precision so the coefficients
            # can be STAGED for the verification oracle (rounding then
            # happens once, at the query layer, on both engines)
            rr = (lambda v, nd=6: round(v, nd)) if round_out else (lambda v, nd=6: v)
            out.append(
                (
                    uid, p, q, dd, dist, rr(nu), rr(lam), rr(mu), rr(rho),
                    rr(omega, 10), rr(float(al[0])),
                    rr(float(al[1]) if p > 1 else 0.0),
                    rr(float(be[0])),
                    rr(float(be[1]) if q > 1 else 0.0),
                    rr(pers),
                    rr(ll_best), rr(aic_best),
                    rr(sig_h[0]), rr(sig_h[1]), rr(sig_h[2]),
                    rr(sig_h[3]), rr(sig_h[4]), int(pers >= 0.97),
                )
            )
        return out_short + out

    return partitioned_numpy(returns, [key], GARCH_GRID_SCHEMA, fit)


# ---------------------------------------------------------------------------
# F3 surrogate — SSA: Hankel trajectory matrix → truncated SVD →
# diagonal-averaged reconstruction
# ---------------------------------------------------------------------------

SSA_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n", IntegerType()),
        StructField("rank_used", IntegerType()),
        StructField("evr", DoubleType()),
        StructField("recon_rmse", DoubleType()),
        StructField("naive_rmse", DoubleType()),
    ]
)


def ssa_reconstruct(
    series: DataFrame,
    key: str = "user_id",
    order_col: str = "rn",
    value_col: str = "value",
    window: int = 12,
    evr_target: float = 0.9,
) -> DataFrame:
    """F3 surrogate: SSA core — embed the series in a Hankel trajectory
    matrix, truncate the SVD at the smallest rank reaching ``evr_target``
    explained variance, reconstruct by diagonal averaging — reference
    `forcester_ts/samossa.py:116-556` (auto rank by 90% EVR, Hankel/Page
    embedding, diagonal-averaging reconstruction).

    Emits per-key reconstruction RMSE vs the last-value-carried-forward
    naive RMSE: the SSA smoother must beat naive on any series with
    structure, which the tests assert."""

    from ..operators.arrowgroup import grouped_numpy

    def ssa(cols: dict) -> list[tuple]:
        order = np.argsort(cols[order_col], kind="stable")
        x = cols[value_col][order].astype(float)
        uid = int(cols[key][0])
        core = ssa_core(x, window, evr_target)
        if core is None:
            return []
        r, evr_r, rmse, naive = core
        return [(uid, len(x), r, round(evr_r, 6), round(rmse, 6), round(naive, 6))]

    return grouped_numpy(series, [key], SSA_SCHEMA, ssa)


def ssa_core(
    x: np.ndarray, window: int, evr_target: float
) -> tuple[int, float, float, float] | None:
    """Pure-numpy SSA kernel (exposed for property tests): returns
    (rank_used, evr_at_rank, recon_rmse, naive_rmse) or None if the
    series is too short."""
    full = ssa_core_full(x, window, evr_target)
    if full is None:
        return None
    r, evr_r, rmse, naive, _, _ = full
    return (r, evr_r, rmse, naive)


def ssa_core_full(
    x: np.ndarray, window: int, evr_target: float
) -> tuple[int, float, float, float, np.ndarray, np.ndarray] | None:
    """ssa_core plus the staging artifacts: the diagonal-averaged
    reconstruction at the chosen rank and the full singular-value vector
    (what the staged-verification oracle re-derives rank/EVR/RMSE from)."""
    n = len(x)
    L = min(window, n // 2)
    if L < 2:
        return None
    K = n - L + 1
    H = np.column_stack([x[i : i + L] for i in range(K)])  # L×K Hankel
    U, s, Vt = np.linalg.svd(H, full_matrices=False)
    total = np.sum(s**2)
    if total == 0:
        return (1, 1.0, 0.0, 0.0, x.copy(), s)
    evr = np.cumsum(s**2) / total
    r = int(np.searchsorted(evr, evr_target) + 1)
    r = min(r, len(s))
    Hr = (U[:, :r] * s[:r]) @ Vt[:r]
    recon = np.zeros(n)
    counts = np.zeros(n)
    for i in range(K):
        recon[i : i + L] += Hr[:, i]
        counts[i : i + L] += 1
    recon /= counts
    rmse = float(np.sqrt(np.mean((x - recon) ** 2)))
    naive = float(np.sqrt(np.mean(np.diff(x) ** 2)))
    return (r, float(evr[r - 1]), rmse, naive, recon, s)


SSA_COMP_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("kind", IntegerType()),
        StructField("idx", IntegerType()),
        StructField("val", DoubleType()),
    ]
)


MSSA_REWARD_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("train_end", IntegerType()),
        StructField("state", IntegerType()),
        StructField("action", IntegerType()),
        StructField("reward", DoubleType()),
        StructField("rmse", DoubleType()),
        StructField("baseline_rmse", DoubleType()),
    ]
)


def mssa_reward_windows(
    series: DataFrame,
    key: str = "user_id",
    order_col: str = "rn",
    value_col: str = "value",
    window: int = 12,
    horizon: int = 5,
    min_train: int = 60,
    step: int = 10,
    tail: int = 240,
) -> DataFrame:
    """F4 proper — the MSSA-RL offline policy LEARNING loop's experience
    table (reference `forcester_ts/mssa_rl.py:271-430`,
    ``build_mssa_offline_policy_artifact``): walk-forward windows per
    key; per window an SSA decomposition yields three action-specific
    rank-truncated reconstructions (cutoffs 25%/90%/100% of singular
    mass, with the reference's strict r90 >= r25+1 separation,
    `:581-607`), the state is the digitized rolling-variance ratio of
    the action-1 residuals (bins [0.8, 1.0, 1.2], `:653-664`), each
    action forecasts last_obs + clipped reconstruction slope with the
    reference's change-point decay (`:825-870`: when the last CUSUM
    change point — Page test at 4σ on the std-floored standardized
    residuals, `:616-649` — is within L//4 observations AND the
    change-point density is ≥ 0.1, the forecast is damped by
    linspace(0.998, 0.99)), and the reward is the clipped relative RMSE
    improvement over the random-walk baseline (`:349-356`).

    Scale: one (key)-grouped Arrow kernel; per-window cost is O(L²·tail)
    and the refit tail is capped at ``tail`` observations, so per-key
    cost is linear in series length with bounded constants — the
    walk-forward-refit shape. The LEARNING aggregation (mean reward and
    the Q-update fold per (state, action), argmax policy) happens
    downstream in relational algebra where the oracle can re-derive it."""
    from ..operators.arrowgroup import grouped_numpy

    bins = np.array([0.8, 1.0, 1.2])

    def recon_for_rank(U, s, Vt, r, m, L, K):
        Hr = (U[:, :r] * s[:r]) @ Vt[:r]
        recon = np.zeros(m)
        counts = np.zeros(m)
        for i in range(K):
            recon[i : i + L] += Hr[:, i]
            counts[i : i + L] += 1
        return recon / counts

    def kern(cols: dict) -> list[tuple]:
        order = np.argsort(cols[order_col], kind="stable")
        x = cols[value_col][order].astype(float)
        uid = int(cols[key][0])
        n = len(x)
        rows: list[tuple] = []
        for te in range(min_train, n - horizon + 1, step):
            tr = x[max(0, te - tail) : te]
            m = len(tr)
            L = min(window, m // 2)
            if L < 2:
                continue
            K = m - L + 1
            H = np.column_stack([tr[i : i + L] for i in range(K)])
            U, s, Vt = np.linalg.svd(H, full_matrices=False)
            tot = float(np.sum(s))
            cum = np.cumsum(s) / tot if tot > 0 and np.isfinite(tot) else np.ones(len(s))

            def rk(c):
                b = min(max(c, 0.05), 1.0)
                return max(1, min(int(np.searchsorted(cum, b)) + 1, len(s)))

            r25, r90, rall = rk(0.25), rk(0.90), rk(1.00)
            r90 = min(max(r25 + 1, r90), rall)
            recons = [
                recon_for_rank(U, s, Vt, r, m, L, K) for r in (r25, r90, rall)
            ]
            resid = tr - recons[1]
            bvar = max(float(np.var(resid)), 1e-12)
            seg = resid[-min(max(window // 2, 5), len(resid)) :]
            vr = float(np.var(seg, ddof=1)) / bvar if len(seg) >= 5 else 1.0
            state = int(np.digitize([vr], bins)[0])
            # reference change-point bookkeeping (`mssa_rl.py:616-649`,
            # `:853-862`): one-sided CUSUM at 4 sigma on std-floored
            # standardized residuals; decay applies when the last change
            # point is recent AND change points are dense
            rstd = float(np.std(resid))
            cps: list[int] = []
            if rstd > 0 and np.isfinite(rstd):
                centered = (resid - float(resid.mean())) / (
                    max(rstd, 1.0) + 1e-12
                )
                pos = neg = 0.0
                for ci, cv in enumerate(centered):
                    pos = max(0.0, pos + float(cv))
                    neg = min(0.0, neg + float(cv))
                    if pos > 4.0 or neg < -4.0:
                        cps.append(ci)
                        pos = neg = 0.0
            density = len(cps) / max(len(resid), 1)
            recent = (len(resid) - 1 - cps[-1]) if cps else None
            decay = (
                np.linspace(0.998, 0.99, num=horizon)
                if recent is not None
                and recent <= max(1, window // 4)
                and density >= 0.1
                else None
            )
            last_obs = float(tr[-1])
            hold = x[te : te + horizon]
            b_rmse = float(np.sqrt(np.mean((hold - last_obs) ** 2)))
            if not np.isfinite(b_rmse) or b_rmse <= 0.0:
                continue
            hs = np.arange(1, horizon + 1, dtype=float)
            for a in range(3):
                rec = recons[a]
                k2 = min(window, len(rec))
                slope = (
                    float(np.polyfit(np.arange(k2), rec[-k2:], 1)[0])
                    if k2 >= 2
                    else 0.0
                )
                if last_obs != 0.0:
                    mx = abs(last_obs) * 0.05 / horizon
                    slope = float(np.clip(slope, -mx, mx))
                fc = last_obs + slope * hs
                if decay is not None:
                    fc = fc * decay
                rmse = float(np.sqrt(np.mean((hold - fc) ** 2)))
                if not np.isfinite(rmse):
                    continue
                reward = float(np.clip((b_rmse - rmse) / b_rmse, -1.0, 1.0))
                rows.append((uid, te, state, a, reward, rmse, b_rmse))
        return rows

    return grouped_numpy(series, [key], MSSA_REWARD_SCHEMA, kern)


def ssa_components(
    series: DataFrame,
    key: str = "user_id",
    order_col: str = "rn",
    value_col: str = "value",
    window: int = 12,
    evr_target: float = 0.9,
) -> DataFrame:
    """The SVD-stage artifacts of `ssa_reconstruct` as a long table:
    kind 0 = the rank-truncated diagonal-averaged reconstruction
    (idx = 1-based series position), kind 1 = the singular values
    (idx = component number). Everything the SSA summary reports is
    derivable from these rows plus the raw series by relational algebra
    alone — which is exactly how `ssa_reconstruction` and its oracle
    both consume them."""
    from ..operators.arrowgroup import grouped_numpy

    def kern(cols: dict) -> list[tuple]:
        order = np.argsort(cols[order_col], kind="stable")
        x = cols[value_col][order].astype(float)
        uid = int(cols[key][0])
        full = ssa_core_full(x, window, evr_target)
        if full is None:
            return []
        _, _, _, _, recon, s = full
        rows = [(uid, 0, i + 1, float(v)) for i, v in enumerate(recon)]
        rows += [(uid, 1, j + 1, float(v)) for j, v in enumerate(s)]
        return rows

    return grouped_numpy(series, [key], SSA_COMP_SCHEMA, kern)


SAMOSSA_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("rank_used", IntegerType()),
        StructField("horizon_step", IntegerType()),
        StructField("yhat", DoubleType()),
        StructField("trend_part", DoubleType()),
        StructField("resid_part", DoubleType()),
        StructField("sigma", DoubleType()),
    ]
)


def samossa_forecast(
    series: DataFrame,
    key: str = "user_id",
    order_col: str = "rn",
    value_col: str = "value",
    window: int = 12,
    evr_target: float = 0.9,
    horizon: int = 5,
) -> DataFrame:
    """F3 proper: SAMoSSA forecasting — SSA signal extraction + AR on the
    stochastic residual (reference `forcester_ts/samossa.py:116-556`:
    Hankel SVD, auto rank by EVR, then the autoregressive stage on the
    remainder — the SAMoSSA model's two components).

    The deterministic part extrapolates by SSA *recurrent forecasting*:
    with P_i the leading eigenvectors, π_i their last components and
    ν² = Σπ_i², the signal obeys the linear recurrence
    x̂_{t} = Σ_j R_j x̂_{t−j},  R = (1/(1−ν²)) Σ_i π_i P_i^∇
    (Golyandina et al., the standard R-forecast). The residual
    x − reconstruction is fit with the AR grid and forecast recursively;
    the emitted path is trend + residual with the residual-AR σ as the
    uncertainty scale. Guard: ν² ≥ 0.999 (degenerate verticality) falls
    back to last-reconstruction carry-forward, mirroring the reference's
    stability fallbacks."""
    from ..operators.arrowgroup import grouped_numpy

    def fc(cols: dict) -> list[tuple]:
        order = np.argsort(cols[order_col], kind="stable")
        x = cols[value_col][order].astype(float)
        uid = int(cols[key][0])
        parts = samossa_path(x, window, evr_target, horizon)
        if parts is None:
            return []
        r, trend_fc, resid_fc, sigma = parts
        return [
            (
                uid,
                int(r),
                h + 1,
                round(float(trend_fc[h] + resid_fc[h]), 6),
                round(float(trend_fc[h]), 6),
                round(float(resid_fc[h]), 6),
                round(float(sigma), 6),
            )
            for h in range(horizon)
        ]

    return grouped_numpy(series, [key], SAMOSSA_SCHEMA, fc)


def samossa_path(
    x: np.ndarray, window: int, evr_target: float, horizon: int
):
    """Array-level SAMoSSA core shared by ``samossa_forecast`` and the
    per-fold rolling-CV refits: SSA R-forecast + residual-AR paths.
    Returns (rank, trend_fc, resid_fc, sigma) or None (degenerate)."""
    n = len(x)
    L = min(window, n // 2)
    if L < 3 or n < 40:
        return None
    K = n - L + 1
    H = np.column_stack([x[i : i + L] for i in range(K)])
    U, s, Vt = np.linalg.svd(H, full_matrices=False)
    total = float(np.sum(s**2))
    if total == 0:
        return None
    evr = np.cumsum(s**2) / total
    r = min(int(np.searchsorted(evr, evr_target) + 1), len(s))
    Hr = (U[:, :r] * s[:r]) @ Vt[:r]
    recon = np.zeros(n)
    counts = np.zeros(n)
    for i in range(K):
        recon[i : i + L] += Hr[:, i]
        counts[i : i + L] += 1
    recon /= counts

    # SSA linear recurrence (R-forecast) from the signal subspace
    pi = U[L - 1, :r]
    nu2 = float(pi @ pi)
    if nu2 >= 0.999:
        trend_fc = np.full(horizon, recon[-1])
    else:
        R = (U[: L - 1, :r] @ pi) / (1.0 - nu2)  # R_j multiplies x_{t-(L-1-j)}
        hist = list(recon)
        trend_fc = np.zeros(horizon)
        for h in range(horizon):
            v = float(np.dot(R, hist[-(L - 1) :]))
            hist.append(v)
            trend_fc[h] = v

    # AR grid on the stochastic residual (SAMoSSA's second stage)
    resid = x - recon
    best = None
    for p in (1, 2, 3):
        if len(resid) < p + 10:
            continue
        beta, sigma, aic = _fit_ar(resid, p)
        if best is None or aic < best[0]:
            best = (aic, p, beta, sigma)
    if best is None:
        return None
    _, p, beta, sigma = best
    rhist = list(resid)
    resid_fc = np.zeros(horizon)
    for h in range(horizon):
        v = beta[0] + sum(beta[k + 1] * rhist[-k - 1] for k in range(p))
        rhist.append(v)
        resid_fc[h] = v
    return r, trend_fc, resid_fc, sigma


def samossa_components(
    series: DataFrame,
    key: str = "user_id",
    order_col: str = "rn",
    value_col: str = "value",
    window: int = 12,
    evr_target: float = 0.9,
) -> DataFrame:
    """The solver artifacts of `samossa_forecast` as a long table for the
    staged-verification oracle: kind 0 = params (idx 1..8 = rank, nu2, L,
    ar_p, b0, b1, b2, b3 — AR coefficients zero-padded to 3), kind 1 =
    the SSA reconstruction (idx = 1-based position), kind 2 = the
    R-forecast recurrence coefficients (idx = j+1 for R_j). Given these
    plus the raw series, the oracle re-derives the residual series, the
    AR sigma, and both forecast recursions relationally; the SVD and the
    two least-squares solves stay kernel-side."""
    from ..operators.arrowgroup import grouped_numpy

    def kern(cols: dict) -> list[tuple]:
        order = np.argsort(cols[order_col], kind="stable")
        x = cols[value_col][order].astype(float)
        uid = int(cols[key][0])
        n = len(x)
        L = min(window, n // 2)
        if L < 3 or n < 40:
            return []
        K = n - L + 1
        H = np.column_stack([x[i : i + L] for i in range(K)])
        U, s, Vt = np.linalg.svd(H, full_matrices=False)
        total = float(np.sum(s**2))
        if total == 0:
            return []
        evr = np.cumsum(s**2) / total
        r = min(int(np.searchsorted(evr, evr_target) + 1), len(s))
        Hr = (U[:, :r] * s[:r]) @ Vt[:r]
        recon = np.zeros(n)
        counts = np.zeros(n)
        for i in range(K):
            recon[i : i + L] += Hr[:, i]
            counts[i : i + L] += 1
        recon /= counts
        pi = U[L - 1, :r]
        nu2 = float(pi @ pi)
        if nu2 >= 0.999:
            R = np.zeros(L - 1)
        else:
            R = (U[: L - 1, :r] @ pi) / (1.0 - nu2)
        resid = x - recon
        best = None
        for p_ in (1, 2, 3):
            if len(resid) < p_ + 10:
                continue
            beta, sigma, aic = _fit_ar(resid, p_)
            if best is None or aic < best[0]:
                best = (aic, p_, beta)
        if best is None:
            return []
        _, p_, beta = best
        b = list(beta) + [0.0] * (4 - len(beta))
        params = [
            float(r), nu2, float(L), float(p_), b[0], b[1], b[2], b[3]
        ]
        rows = [(uid, 0, i + 1, float(v)) for i, v in enumerate(params)]
        rows += [(uid, 1, i + 1, float(v)) for i, v in enumerate(recon)]
        rows += [(uid, 2, j + 1, float(v)) for j, v in enumerate(R)]
        return rows

    return grouped_numpy(series, [key], ARIMA_COMP_SCHEMA, kern)


# ---------------------------------------------------------------------------
# F4 surrogate — CUSUM change-point detection (the MSSA-RL stage's
# change-point core; the Q-table policy itself is an offline artifact)
# ---------------------------------------------------------------------------

CUSUM_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("rn", IntegerType()),
        StructField("direction", IntegerType()),  # +1 up-shift, -1 down-shift
        StructField("cusum_stat", DoubleType()),
    ]
)


def cusum_changepoints(
    returns: DataFrame,
    key: str = "user_id",
    order_col: str = "rn",
    ret_col: str = "lr",
    k: float = 0.5,
    h: float = 5.0,
) -> DataFrame:
    """F4 surrogate: two-sided CUSUM change-point detector — reference
    `forcester_ts/mssa_rl.py:616-649` (SSA + CUSUM change-points).

    S⁺_t = max(0, S⁺_{t−1} + z_t − k), S⁻_t = max(0, S⁻_{t−1} − z_t − k);
    an alarm fires when either exceeds ``h`` (then resets). The recursion
    is sequential per key → ``applyInPandas``; z standardizes against the
    key's own history."""

    from ..operators.arrowgroup import grouped_numpy

    def run(cols: dict) -> list[tuple]:
        order = np.argsort(cols[order_col], kind="stable")
        r = cols[ret_col][order].astype(float)
        rn = cols[order_col][order]
        uid = int(cols[key][0])
        mask = ~np.isnan(r)
        rv, rnv = r[mask], rn[mask]
        if len(rv) < 10:
            return []
        mu, sd = rv.mean(), rv.std(ddof=1)
        if sd == 0:
            return []
        z = (rv - mu) / sd
        sp = sn = 0.0
        out = []
        for t in range(len(z)):
            sp = max(0.0, sp + z[t] - k)
            sn = max(0.0, sn - z[t] - k)
            if sp > h:
                out.append((uid, int(rnv[t]), 1, round(sp, 6)))
                sp = 0.0
            if sn > h:
                out.append((uid, int(rnv[t]), -1, round(sn, 6)))
                sn = 0.0
        return out

    return grouped_numpy(returns, [key], CUSUM_SCHEMA, run)


# ---------------------------------------------------------------------------
# F8+F1 — walk-forward with refit-per-fold: the (key, fold) candidate
# fan-out applied to expanding-window model evaluation
# ---------------------------------------------------------------------------

WALKFORWARD_REFIT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("fold", IntegerType()),
        StructField("n_train", IntegerType()),
        StructField("n_test", IntegerType()),
        StructField("best_order", IntegerType()),
        StructField("aic", DoubleType()),
        StructField("rmse", DoubleType()),
        StructField("rmse_naive", DoubleType()),
        StructField("skill", DoubleType()),
        # full-precision per-fold coefficients (0.0 beyond order) for the
        # staged-verification oracle; dropped from the query output
        StructField("beta0", DoubleType()),
        StructField("beta1", DoubleType()),
        StructField("beta2", DoubleType()),
    ]
)


def walkforward_refit(
    series: DataFrame,
    key: str = "user_id",
    order_col: str = "rn",
    value_col: str = "value",
    n_folds: int = 5,
    orders: Iterable[int] = (1, 2),
) -> DataFrame:
    """F8 walk-forward with REFIT per fold — reference
    `forcester_ts/walk_forward_learner.py:117-390` refits its model on
    each expanding train window before scoring the fold; the round-1
    `walkforward_eval` query scored a fixed predictor instead.

    Shape: ntile folds per key, then each evaluation fold joins every
    EARLIER fold's rows (expanding window) so (key, fold) becomes the
    applyInPandas group — the same candidate fan-out as the F1 order
    grid, here over folds. Data replication is the standard
    expanding-window cost (~(F+1)/2 copies); tasks are independent, so a
    1000-executor cluster refits keys × folds models concurrently.

    Inside each task: AR(p) grid on the train rows only, AIC top-1,
    1-step-ahead prediction over the fold using true lagged values
    (walk-forward scoring, no refit within fold), sMAPE-free RMSE and
    skill vs the naive lag-1 forecaster."""
    from pyspark.sql import Window

    orders = tuple(int(p) for p in orders)
    wp = Window.partitionBy(key).orderBy(order_col)
    tagged = series.withColumn("__fold", F.ntile(n_folds).over(wp))
    spark = series.sparkSession
    evals = spark.createDataFrame(
        [(k,) for k in range(2, n_folds + 1)], "eval_fold int"
    )
    # expanding window: every row with fold <= eval_fold participates in
    # that fold's task (train: fold < eval_fold; test: fold == eval_fold)
    fanned = tagged.join(
        F.broadcast(evals), F.col("__fold") <= F.col("eval_fold")
    )

    def fit_fold(cols: dict) -> list[tuple]:
        order = np.argsort(cols[order_col], kind="stable")
        vals = cols[value_col][order].astype(float)
        folds = cols["__fold"][order]
        uid = int(cols[key][0])
        k = int(cols["eval_fold"][0])
        train = vals[folds < k]
        test = vals[folds == k]
        if len(train) < max(orders) + 8 or len(test) < 2:
            return []
        fits = {p: _fit_ar(train, p) for p in orders}
        best = min(orders, key=lambda p: fits[p][2])
        beta, _, aic = fits[best]
        # 1-step-ahead over the fold: lags come from the realized series
        # (train tail + observed test), coefficients stay frozen
        full = np.concatenate([train, test])
        t0 = len(train)
        preds = np.array(
            [
                beta[0]
                + sum(beta[j + 1] * full[t - j - 1] for j in range(best))
                for t in range(t0, len(full))
            ]
        )
        naive = full[t0 - 1 : len(full) - 1]
        rmse = float(np.sqrt(np.mean((test - preds) ** 2)))
        rmse_naive = float(np.sqrt(np.mean((test - naive) ** 2)))
        skill = 1.0 - rmse / rmse_naive if rmse_naive > 0 else 0.0
        b = [float(beta[i]) if i < len(beta) else 0.0 for i in range(3)]
        return [
            (
                uid, k, len(train), len(test), best, round(float(aic), 6),
                round(rmse, 6), round(rmse_naive, 6), round(float(skill), 6),
                b[0], b[1], b[2],
            )
        ]

    from ..operators.arrowgroup import grouped_numpy

    return grouped_numpy(
        fanned, [key, "eval_fold"], WALKFORWARD_REFIT_SCHEMA, fit_fold
    )
