"""Query pack 4 — advanced windows + statistical test suite.

Covers the SURVEY.md §2 rows the first two packs left open: rolling
quantiles (W6), drift/vol-regime features (W7/W8), rolling t-test (W17),
trend R² (W18), Hurst exponent (W19), seasonal decomposition (W20),
calendar flags (W21), terminal-window metrics (W23), the statistical test
suite (F10: Ljung-Box, Jarque-Bera, Diebold-Mariano), VaR backtests
(F11: Kupiec POF, Christoffersen independence, pinball loss), pairwise
covariance (A8) and the JSON metric rollup (A9).

Every formula is written as the SAME closed form on the Spark side and in
the DuckDB oracle, with division/log guards expressed identically, so the
differential hash cannot diverge on edge cases. Threshold comparisons
happen on values already rounded to 6 decimals on both sides (boundary
flips from last-bit float noise are the one way an order-insensitive hash
can break — see `plans/queries.py` docstring).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.scalars import chi2_sf1, chi2_sf1_sql
from ..sources.catalog import load_table
from .queries import ORACLE, query, r6, session_frame_cache

# ---------------------------------------------------------------------------
# Shared base: events as per-user series with row_number + log return.
# ---------------------------------------------------------------------------

# Base scrubs non-positive prices (P2, `etl/data_validator.py:52-61`) BEFORE
# the log-return — keeps every downstream division/log ANSI-safe: sf0.1
# carries a handful of value=0 rows that would otherwise DIVIDE_BY_ZERO
# under Spark's default ANSI mode (the driver runs a vanilla session).
_S_SQL = """
      SELECT user_id, ts, event_id, value,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
             LN(value / LAG(value, 1)
                 OVER (PARTITION BY user_id ORDER BY ts, event_id)) AS lr
      FROM (SELECT * FROM events WHERE value > 0)
"""


def _series(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(F.col("value") > 0)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "user_id",
        "ts",
        "event_id",
        "value",
        F.row_number().over(w).alias("rn"),
        F.log(F.col("value") / F.lag("value", 1).over(w)).alias("lr"),
    )


def _w(frame: tuple[int, int] | None = None) -> Window:
    w = Window.partitionBy("user_id").orderBy("rn")
    return w.rowsBetween(*frame) if frame else w


def _baseline_forecasts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-ticker baseline forecasters over ``_series``: naive (lag 1 as
    ``prev``), ma3 and ma10, from row 11 on so every forecast has its full
    look-back. The frame the ensemble-safety and forecaster-audit gates
    score."""
    s = _series(spark, sf_dir)
    wp = _w()
    return s.select(
        "user_id",
        "rn",
        "value",
        F.lag("value", 1).over(wp).alias("prev"),
        F.avg("value").over(_w((-3, -1))).alias("f_ma3"),
        F.avg("value").over(_w((-10, -1))).alias("f_ma10"),
    ).filter(F.col("rn") >= 11)


# ---------------------------------------------------------------------------
# W6 — exact rolling quantile (CVaR proxy)
# ---------------------------------------------------------------------------


@query(
    "rolling_quantile_tail",
    oracle=f"""
    WITH s AS ({_S_SQL}),
    q AS (
      SELECT user_id, rn,
             QUANTILE_CONT(lr, 0.05) OVER (
               PARTITION BY user_id ORDER BY rn
               ROWS BETWEEN 19 PRECEDING AND CURRENT ROW) AS q05
      FROM s
    )
    SELECT user_id, COUNT(*) AS n_windows,
           ROUND(AVG(q05), 6) AS avg_q05,
           ROUND(MIN(q05), 6) AS min_q05
    FROM q WHERE rn >= 21 GROUP BY user_id
    """,
)
def rolling_quantile_tail(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W6 exact rolling 5% quantile of returns (20-bar CVaR proxy) —
    reference `etl/time_series_feature_builder.py:156`
    (`returns.rolling(60).quantile(0.05)`).

    Spark's exact ``percentile`` over a rows frame interpolates linearly,
    identical to DuckDB QUANTILE_CONT — no approx sketch, so the hash
    matches (SURVEY §7.3 flags percentile_approx as the mismatch trap).
    """
    s = _series(spark, sf_dir)
    q05 = F.percentile(F.col("lr"), F.lit(0.05)).over(_w((-19, 0)))
    return (
        s.select("user_id", "rn", q05.alias("q05"))
        .filter(F.col("rn") >= 21)
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_windows"),
            r6(F.avg("q05")).alias("avg_q05"),
            r6(F.min("q05")).alias("min_q05"),
        )
    )


# ---------------------------------------------------------------------------
# W7 + W8 — drift intensity and volatility-regime terciles
# ---------------------------------------------------------------------------


@query(
    "drift_vol_regimes",
    oracle=f"""
    WITH s AS ({_S_SQL}),
    q AS (
      SELECT user_id, rn,
             CAST(FLOOR(LEAST(GREATEST(value / LAG(value, 1)
                     OVER (PARTITION BY user_id ORDER BY rn) - 1, -1.0), 10.0)
                   * 1000000 + 0.5) AS BIGINT) AS lr6
      FROM s
    ),
    sums AS (
      SELECT user_id, rn,
             COUNT(lr6) OVER w5  AS n5,  SUM(lr6) OVER w5 AS t5,
             COUNT(lr6) OVER w20 AS n20, SUM(lr6) OVER w20 AS t20,
             SUM(lr6 * lr6) OVER w20 AS u20
      FROM q
      WINDOW w5 AS (PARTITION BY user_id ORDER BY rn
                    ROWS BETWEEN 4 PRECEDING AND CURRENT ROW),
             w20 AS (PARTITION BY user_id ORDER BY rn
                     ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
    ),
    feat AS (
      SELECT user_id,
             CAST(FLOOR(ABS(CAST(t5 AS DOUBLE)/n5 - CAST(t20 AS DOUBLE)/n20)
                   / (SQRT(GREATEST((CAST(u20 AS DOUBLE)
                        - CAST(t20 AS DOUBLE)*CAST(t20 AS DOUBLE)/n20)
                        / (n20 - 1), 0)) + 1e-3) * 1000000 + 0.5) AS BIGINT)
               AS drift_i,
             CAST(FLOOR(SQRT(GREATEST((CAST(u20 AS DOUBLE)
                        - CAST(t20 AS DOUBLE)*CAST(t20 AS DOUBLE)/n20)
                        / (n20 - 1), 0)) + 0.5) AS BIGINT) AS s20_i
      FROM sums WHERE rn >= 21
    ),
    cuts AS (
      SELECT QUANTILE_CONT(s20_i, 0.3333333333333333) AS q33,
             QUANTILE_CONT(s20_i, 0.6666666666666666) AS q66
      FROM feat
    )
    SELECT k.user_id,
           CASE WHEN k.s20_i <= c.q33 THEN 0
                WHEN k.s20_i <= c.q66 THEN 1 ELSE 2 END AS regime,
           COUNT(*) AS n,
           FLOOR(AVG(k.drift_i) + 0.5) / 1000000 AS avg_drift
    FROM feat k CROSS JOIN cuts c
    GROUP BY k.user_id, regime
    """,
)
def drift_vol_regimes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W7 drift intensity |μ5−μ20|/(σ20+ε) + W8 tercile vol-regime buckets —
    reference `etl/time_series_feature_builder.py:132-148`.

    Returns are quantized to integer micro-units and the rolling moments
    are built from EXACT integer window sums, then pushed through an
    identical float formula on both sides: the engines' incremental
    window-stddev kernels carry last-ulp noise that flips 6-decimal
    rounding (and with it the tercile cut) at sf0.1 row counts; exact
    sums make every s20/drift bit-identical before the cut compare.
    The cuts themselves are GLOBAL quantiles cross-joined back as a
    broadcast scalar — the big side never reshuffles."""
    s = _series(spark, sf_dir)
    # simple returns, not log returns: IEEE division is exact-rounded and
    # bit-identical across engines, while libm/JVM LN differ by 1 ulp —
    # which is exactly the noise the integer quantization must not see.
    ret = F.least(
        F.greatest(F.col("value") / F.lag("value", 1).over(_w()) - 1, F.lit(-1.0)),
        F.lit(10.0),  # P9 sanity clamp; also bounds the integer squares
    )
    q = s.select(
        "user_id",
        "rn",
        F.floor(ret * 1000000 + 0.5).cast("bigint").alias("lr6"),
    )
    sums = q.select(
        "user_id",
        "rn",
        F.count("lr6").over(_w((-4, 0))).alias("n5"),
        F.sum("lr6").over(_w((-4, 0))).alias("t5"),
        F.count("lr6").over(_w((-19, 0))).alias("n20"),
        F.sum("lr6").over(_w((-19, 0))).alias("t20"),
        F.sum(F.col("lr6") * F.col("lr6")).over(_w((-19, 0))).alias("u20"),
    )
    t5d = F.col("t5").cast("double")
    t20d = F.col("t20").cast("double")
    u20d = F.col("u20").cast("double")
    n5, n20 = F.col("n5"), F.col("n20")
    # σ stays in integer micro-units; drift = |Δμ|/(σ+ε) is unit-free
    sigma_micro = F.sqrt(
        F.greatest((u20d - t20d * t20d / n20) / (n20 - 1), F.lit(0.0))
    )
    feat = sums.filter(F.col("rn") >= 21).select(
        "user_id",
        F.floor(
            F.abs(t5d / n5 - t20d / n20)
            / (sigma_micro + F.lit(1e-3))
            * 1000000
            + 0.5
        )
        .cast("bigint")
        .alias("drift_i"),
        F.floor(sigma_micro + 0.5).cast("bigint").alias("s20_i"),
    )
    cuts = feat.agg(
        F.percentile(F.col("s20_i"), F.lit(1.0 / 3.0)).alias("q33"),
        F.percentile(F.col("s20_i"), F.lit(2.0 / 3.0)).alias("q66"),
    )
    regime = (
        F.when(F.col("s20_i") <= F.col("q33"), 0)
        .when(F.col("s20_i") <= F.col("q66"), 1)
        .otherwise(2)
    )
    return (
        feat.crossJoin(F.broadcast(cuts))
        .select("user_id", "drift_i", regime.alias("regime"))
        .groupBy("user_id", "regime")
        .agg(
            F.count(F.lit(1)).alias("n"),
            (F.floor(F.avg("drift_i") + 0.5) / 1000000).alias("avg_drift"),
        )
    )


# ---------------------------------------------------------------------------
# W17 — rolling one-sample t-test (current bar vs trailing window)
# ---------------------------------------------------------------------------


@query(
    "rolling_ttest",
    oracle=f"""
    WITH s AS ({_S_SQL}),
    t AS (
      SELECT user_id,
             ROUND((lr - AVG(lr) OVER wt)
                   / NULLIF(STDDEV_SAMP(lr) OVER wt / SQRT(20.0), 0), 6) AS tstat
      FROM s
      WINDOW wt AS (PARTITION BY user_id ORDER BY rn
                    ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING)
      QUALIFY rn >= 22
    )
    SELECT user_id,
           COUNT(tstat) AS n_tested,
           CAST(SUM(CASE WHEN ABS(tstat) > 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_sig,
           ROUND(MAX(ABS(tstat)), 6) AS max_abs_t
    FROM t GROUP BY user_id
    """,
)
def rolling_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W17 rolling regime t-test: current return vs the trailing-20 window
    (frame EXCLUDES the current row) — reference `etl/regime_detector.py:
    47-130` one-sample t-test of current vs trailing stats."""
    s = _series(spark, sf_dir)
    wt = _w((-20, -1))
    tstat = r6(
        (F.col("lr") - F.avg("lr").over(wt))
        / F.nullif(F.stddev_samp("lr").over(wt) / F.lit(20.0**0.5), F.lit(0.0))
    )
    return (
        s.select("user_id", "rn", tstat.alias("tstat"))
        .filter(F.col("rn") >= 22)
        .groupBy("user_id")
        .agg(
            F.count("tstat").alias("n_tested"),
            F.sum((F.abs(F.col("tstat")) > 2).cast("int")).alias("n_sig"),
            r6(F.max(F.abs(F.col("tstat")))).alias("max_abs_t"),
        )
    )


# ---------------------------------------------------------------------------
# W18 — trend strength R² over a rolling window
# ---------------------------------------------------------------------------


@query(
    "trend_strength_r2",
    oracle=f"""
    WITH s AS ({_S_SQL}),
    r AS (
      SELECT user_id,
             POWER(CORR(value, CAST(rn AS DOUBLE)) OVER (
               PARTITION BY user_id ORDER BY rn
               ROWS BETWEEN 19 PRECEDING AND CURRENT ROW), 2) AS r2
      FROM s QUALIFY rn >= 20
    )
    SELECT user_id, COUNT(*) AS n,
           ROUND(AVG(r2), 6) AS avg_r2,
           ROUND(MAX(r2), 6) AS max_r2
    FROM r GROUP BY user_id
    """,
)
def trend_strength_r2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W18 trend strength: R² of price vs time over a 20-bar lookback —
    reference `forcester_ts/regime_detector.py:115-142` (linregress R²).
    R² of simple regression ≡ corr², which both engines compute natively
    inside the window — no UDF."""
    s = _series(spark, sf_dir)
    r2 = F.pow(
        F.corr(F.col("value"), F.col("rn").cast("double")).over(_w((-19, 0))), 2
    )
    return (
        s.select("user_id", "rn", r2.alias("r2"))
        .filter(F.col("rn") >= 20)
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            r6(F.avg("r2")).alias("avg_r2"),
            r6(F.max("r2")).alias("max_r2"),
        )
    )


# ---------------------------------------------------------------------------
# W19 — Hurst exponent (log-log slope of lag-diff dispersion)
# ---------------------------------------------------------------------------


@query(
    "hurst_exponent",
    oracle=f"""
    WITH s AS ({_S_SQL}),
    d AS (
      SELECT user_id,
             value - LAG(value, 2)  OVER wp AS d2,
             value - LAG(value, 4)  OVER wp AS d4,
             value - LAG(value, 8)  OVER wp AS d8,
             value - LAG(value, 16) OVER wp AS d16
      FROM s WINDOW wp AS (PARTITION BY user_id ORDER BY rn)
    ),
    sig AS (
      SELECT user_id,
             STDDEV_SAMP(d2) AS s2, STDDEV_SAMP(d4) AS s4,
             STDDEV_SAMP(d8) AS s8, STDDEV_SAMP(d16) AS s16
      FROM d GROUP BY user_id
    ),
    long AS (
      SELECT user_id, 2.0 AS lag_k, s2 AS sd FROM sig
      UNION ALL SELECT user_id, 4.0, s4 FROM sig
      UNION ALL SELECT user_id, 8.0, s8 FROM sig
      UNION ALL SELECT user_id, 16.0, s16 FROM sig
    )
    SELECT user_id, ROUND(REGR_SLOPE(LN(sd), LN(lag_k)), 6) AS hurst
    FROM long WHERE sd IS NOT NULL AND sd > 0
    GROUP BY user_id HAVING COUNT(*) = 4
    """,
)
def hurst_exponent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W19 Hurst exponent: slope of ln(std of k-lag diffs) vs ln(k) over
    lags {2,4,8,16} — reference `forcester_ts/regime_detector.py:144-170`.

    Fully native (no pandas UDF, unlike the SURVEY §2.5 fallback note):
    fixed-lag diffs in one window pass, per-key stds in one groupBy, then
    ``regr_slope`` over the unpivoted 4-point cloud. Plan depth is constant
    in data size — scales to any corpus."""
    s = _series(spark, sf_dir)
    wp = _w()
    d = s.select(
        "user_id",
        *[
            (F.col("value") - F.lag("value", k).over(wp)).alias(f"d{k}")
            for k in (2, 4, 8, 16)
        ],
    )
    sig = d.groupBy("user_id").agg(
        *[F.stddev_samp(f"d{k}").alias(f"s{k}") for k in (2, 4, 8, 16)]
    )
    long = sig.selectExpr(
        "user_id",
        "stack(4, 2.0D, s2, 4.0D, s4, 8.0D, s8, 16.0D, s16) AS (lag_k, sd)",
    )
    return (
        long.filter(F.col("sd").isNotNull() & (F.col("sd") > 0))
        .groupBy("user_id")
        .agg(
            r6(F.regr_slope(F.log("sd"), F.log("lag_k"))).alias("hurst"),
            F.count(F.lit(1)).alias("_n"),
        )
        .filter(F.col("_n") == 4)
        .drop("_n")
    )


# ---------------------------------------------------------------------------
# W20 — seasonal decomposition strength
# ---------------------------------------------------------------------------


@query(
    "seasonal_strength",
    oracle=f"""
    WITH s AS ({_S_SQL}),
    t AS (
      SELECT user_id, rn, value,
             AVG(value) OVER (PARTITION BY user_id ORDER BY rn
               ROWS BETWEEN 23 PRECEDING AND CURRENT ROW) AS trend
      FROM s
    ),
    d AS (
      SELECT user_id, (rn - 1) % 24 AS pos, value - trend AS detr
      FROM t WHERE rn >= 24
    ),
    sea AS (
      SELECT user_id, detr,
             AVG(detr) OVER (PARTITION BY user_id, pos) AS seasonal
      FROM d
    )
    SELECT user_id, COUNT(*) AS n,
           ROUND(1 - VAR_SAMP(detr - seasonal) / NULLIF(VAR_SAMP(detr), 0), 6)
             AS seasonal_strength
    FROM sea GROUP BY user_id
    """,
)
def seasonal_strength(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W20 additive seasonal decomposition, period 24: trailing-MA trend,
    period-position seasonal means, residual — reference
    `etl/time_series_feature_builder.py:197-208` (one-sided decompose).
    Strength = 1 − Var(resid)/Var(detrended) (Hyndman's seasonal-strength
    statistic)."""
    s = _series(spark, sf_dir)
    t = s.select(
        "user_id", "rn", "value", F.avg("value").over(_w((-23, 0))).alias("trend")
    )
    d = t.filter(F.col("rn") >= 24).select(
        "user_id",
        ((F.col("rn") - 1) % 24).alias("pos"),
        (F.col("value") - F.col("trend")).alias("detr"),
    )
    sea = d.select(
        "user_id",
        "detr",
        F.avg("detr").over(Window.partitionBy("user_id", "pos")).alias("seasonal"),
    )
    return sea.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"),
        r6(
            1
            - F.var_samp(F.col("detr") - F.col("seasonal"))
            / F.nullif(F.var_samp("detr"), F.lit(0.0))
        ).alias("seasonal_strength"),
    )


# ---------------------------------------------------------------------------
# W21 — calendar flags
# ---------------------------------------------------------------------------


@query(
    "calendar_order_flags",
    oracle="""
    SELECT EXTRACT(YEAR FROM o_orderdate) AS yr,
           COUNT(*) AS n_orders,
           CAST(SUM(CASE WHEN CAST(o_orderdate AS DATE) = LAST_DAY(CAST(o_orderdate AS DATE))
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_month_end,
           CAST(SUM(CASE WHEN CAST(o_orderdate AS DATE) = LAST_DAY(CAST(o_orderdate AS DATE))
                     AND EXTRACT(MONTH FROM o_orderdate) IN (3, 6, 9, 12)
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_quarter_end
    FROM orders GROUP BY EXTRACT(YEAR FROM o_orderdate)
    """,
)
def calendar_order_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W21 calendar feature flags (`is_month_end`, `is_quarter_end`) —
    reference `etl/time_series_feature_builder.py:211-214` — rolled up per
    year over the orders table."""
    o = load_table(spark, sf_dir, "orders")
    d = F.to_date("o_orderdate")
    month_end = (d == F.last_day(d)).cast("int")
    return o.groupBy(F.year("o_orderdate").cast("bigint").alias("yr")).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(month_end).alias("n_month_end"),
        F.sum(
            (
                (d == F.last_day(d)) & F.month("o_orderdate").isin(3, 6, 9, 12)
            ).cast("int")
        ).alias("n_quarter_end"),
    )


# ---------------------------------------------------------------------------
# W23 — terminal window metrics (directional persistence + CI coverage)
# ---------------------------------------------------------------------------


@query(
    "terminal_window_metrics",
    oracle=f"""
    WITH s AS ({_S_SQL}),
    g AS (
      SELECT user_id, (rn - 1) // 20 AS win_id,
             COUNT(*) AS n,
             ARG_MIN(value, rn) AS first_v,
             ARG_MAX(value, rn) AS last_v,
             AVG(value) AS mean_v,
             STDDEV_SAMP(value) AS sd_v
      FROM s GROUP BY user_id, (rn - 1) // 20
    ),
    win AS (
      SELECT user_id, win_id,
             SIGN(last_v - first_v) AS dir,
             CASE WHEN last_v BETWEEN mean_v - 2 * sd_v AND mean_v + 2 * sd_v
                  THEN 1.0 ELSE 0.0 END AS ci_cover
      FROM g WHERE n = 20
    ),
    p AS (
      SELECT user_id, ci_cover,
             CASE WHEN dir = LAG(dir) OVER (PARTITION BY user_id ORDER BY win_id)
                  THEN 1.0
                  WHEN LAG(dir) OVER (PARTITION BY user_id ORDER BY win_id) IS NULL
                  THEN NULL ELSE 0.0 END AS persist
      FROM win
    )
    SELECT user_id, COUNT(*) AS n_windows,
           ROUND(AVG(ci_cover), 6) AS ci_cover_rate,
           ROUND(AVG(persist), 6) AS dir_persistence
    FROM p GROUP BY user_id
    """,
)
def terminal_window_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W23 terminal-window metrics — reference `forcester_ts/metrics.py:
    109-182`: terminal directional accuracy (sign of last−first) and
    terminal CI coverage (last value inside mean±2σ), over consecutive
    20-bar windows; persistence = fraction of windows whose direction
    repeats the previous window's."""
    s = _series(spark, sf_dir)
    g = (
        s.groupBy("user_id", ((F.col("rn") - 1) / 20).cast("long").alias("win_id"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min_by("value", "rn").alias("first_v"),
            F.max_by("value", "rn").alias("last_v"),
            F.avg("value").alias("mean_v"),
            F.stddev_samp("value").alias("sd_v"),
        )
        .filter(F.col("n") == 20)
    )
    win = g.select(
        "user_id",
        "win_id",
        F.signum(F.col("last_v") - F.col("first_v")).alias("dir"),
        F.when(
            (F.col("last_v") >= F.col("mean_v") - 2 * F.col("sd_v"))
            & (F.col("last_v") <= F.col("mean_v") + 2 * F.col("sd_v")),
            1.0,
        )
        .otherwise(0.0)
        .alias("ci_cover"),
    )
    wprev = Window.partitionBy("user_id").orderBy("win_id")
    prev_dir = F.lag("dir", 1).over(wprev)
    p = win.select(
        "user_id",
        "ci_cover",
        F.when(F.col("dir") == prev_dir, 1.0)
        .when(prev_dir.isNull(), F.lit(None).cast("double"))
        .otherwise(0.0)
        .alias("persist"),
    )
    return p.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_windows"),
        r6(F.avg("ci_cover")).alias("ci_cover_rate"),
        r6(F.avg("persist")).alias("dir_persistence"),
    )


# ---------------------------------------------------------------------------
# F10 — Ljung-Box autocorrelation test
# ---------------------------------------------------------------------------


@query(
    "ljung_box",
    oracle=f"""
    WITH s AS ({_S_SQL}),
    l AS (
      SELECT user_id, lr,
             LAG(lr, 1) OVER wp AS l1, LAG(lr, 2) OVER wp AS l2,
             LAG(lr, 3) OVER wp AS l3, LAG(lr, 4) OVER wp AS l4,
             LAG(lr, 5) OVER wp AS l5, LAG(lr, 6) OVER wp AS l6
      FROM s WINDOW wp AS (PARTITION BY user_id ORDER BY rn)
    ),
    a AS (
      SELECT user_id, COUNT(lr) AS n,
             CORR(lr, l1) AS r1, CORR(lr, l2) AS r2, CORR(lr, l3) AS r3,
             CORR(lr, l4) AS r4, CORR(lr, l5) AS r5, CORR(lr, l6) AS r6
      FROM l GROUP BY user_id HAVING COUNT(lr) > 12
    )
    SELECT user_id, n,
           ROUND(r1, 6) AS rho1, ROUND(r2, 6) AS rho2,
           ROUND(n * (n + 2.0) * (
             r1*r1/(n-1) + r2*r2/(n-2) + r3*r3/(n-3) +
             r4*r4/(n-4) + r5*r5/(n-5) + r6*r6/(n-6)), 6) AS lb_stat
    FROM a
    """,
)
def ljung_box(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F10 Ljung-Box portmanteau statistic, lags 1..6 — reference
    `etl/statistical_tests.py:226-249`. Autocorrelations via lag columns +
    CORR (pairwise-aligned, identical semantics in both engines); the
    χ² p-value needs a CDF and is left to the caller (SURVEY §2.10 note:
    distribution CDFs are the one non-relational piece)."""
    s = _series(spark, sf_dir)
    wp = _w()
    l = s.select(
        "user_id",
        "lr",
        *[F.lag("lr", k).over(wp).alias(f"l{k}") for k in range(1, 7)],
    )
    a = (
        l.groupBy("user_id")
        .agg(
            F.count("lr").alias("n"),
            *[F.corr("lr", f"l{k}").alias(f"r{k}") for k in range(1, 7)],
        )
        .filter(F.col("n") > 12)
    )
    n = F.col("n")
    lb = n * (n + 2.0) * sum(
        F.col(f"r{k}") * F.col(f"r{k}") / (n - k) for k in range(1, 7)
    )
    return a.select(
        "user_id",
        "n",
        r6(F.col("r1")).alias("rho1"),
        r6(F.col("r2")).alias("rho2"),
        r6(lb).alias("lb_stat"),
    )


# ---------------------------------------------------------------------------
# F10/A3 — Jarque-Bera normality from raw moments
# ---------------------------------------------------------------------------


@query(
    "jarque_bera",
    oracle=f"""
    WITH s AS ({_S_SQL}),
    m AS (
      SELECT user_id, COUNT(lr) AS n,
             AVG(lr) AS m1, AVG(lr*lr) AS m2,
             AVG(lr*lr*lr) AS m3, AVG(lr*lr*lr*lr) AS m4
      FROM s GROUP BY user_id HAVING COUNT(lr) > 10
    ),
    c AS (
      SELECT user_id, n,
             m2 - m1*m1 AS c2,
             m3 - 3*m1*m2 + 2*m1*m1*m1 AS c3,
             m4 - 4*m1*m3 + 6*m1*m1*m2 - 3*m1*m1*m1*m1 AS c4
      FROM m
    )
    SELECT user_id, n,
           ROUND(c3 / POWER(c2, 1.5), 6) AS skew,
           ROUND(c4 / (c2*c2) - 3, 6) AS kurt_excess,
           ROUND(n / 6.0 * (POWER(c3 / POWER(c2, 1.5), 2)
                 + POWER(c4 / (c2*c2) - 3, 2) / 4), 6) AS jb_stat
    FROM c
    """,
)
def jarque_bera(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F10/A3 Jarque-Bera normality statistic from raw power sums —
    reference `etl/time_series_analyzer.py:323-333`. Population central
    moments are derived from E[x^k] identically on both sides — Spark's
    builtin skewness/kurtosis and DuckDB's disagree on bias corrections,
    the closed form agrees with itself (see `plans/queries.py` docstring)."""
    s = _series(spark, sf_dir)
    lr = F.col("lr")
    m = (
        s.groupBy("user_id")
        .agg(
            F.count(lr).alias("n"),
            F.avg(lr).alias("m1"),
            F.avg(lr * lr).alias("m2"),
            F.avg(lr * lr * lr).alias("m3"),
            F.avg(lr * lr * lr * lr).alias("m4"),
        )
        .filter(F.col("n") > 10)
    )
    m1, m2, m3, m4 = (F.col(c) for c in ("m1", "m2", "m3", "m4"))
    c2 = m2 - m1 * m1
    c3 = m3 - 3 * m1 * m2 + 2 * m1 * m1 * m1
    c4 = m4 - 4 * m1 * m3 + 6 * m1 * m1 * m2 - 3 * m1 * m1 * m1 * m1
    skew = c3 / F.pow(c2, 1.5)
    kurt = c4 / (c2 * c2) - 3
    return m.select(
        "user_id",
        "n",
        r6(skew).alias("skew"),
        r6(kurt).alias("kurt_excess"),
        r6(F.col("n") / 6.0 * (F.pow(skew, 2) + F.pow(kurt, 2) / 4)).alias("jb_stat"),
    )


# ---------------------------------------------------------------------------
# F11 — Kupiec proportion-of-failures VaR backtest
# ---------------------------------------------------------------------------


@query(
    "var_backtest_kupiec",
    oracle=f"""
    WITH s AS ({_S_SQL}),
    stats AS (
      SELECT user_id, AVG(lr) AS mu, STDDEV_SAMP(lr) AS sd
      FROM s GROUP BY user_id
    ),
    v AS (
      SELECT s.user_id,
             COUNT(s.lr) AS n,
             CAST(SUM(CASE WHEN s.lr < st.mu - 1.645 * st.sd THEN 1 ELSE 0 END) AS BIGINT) AS viol,
             ROUND(ANY_VALUE(st.mu - 1.645 * st.sd), 6) AS var95
      FROM s JOIN stats st ON s.user_id = st.user_id
      WHERE s.lr IS NOT NULL
      GROUP BY s.user_id
    ),
    lr AS (
      SELECT user_id, n, viol, var95,
             ROUND(2 * (
               (n - viol) * LN((1.0 - CAST(viol AS DOUBLE)/n) / 0.95)
               + CASE WHEN viol = 0 THEN 0.0
                      ELSE viol * LN((CAST(viol AS DOUBLE)/n) / 0.05) END), 6)
               AS kupiec_lr
      FROM v WHERE viol < n
    )
    SELECT user_id, n, viol, var95, kupiec_lr,
           ROUND({chi2_sf1_sql("kupiec_lr")}, 6) AS kupiec_p,
           CASE WHEN ROUND({chi2_sf1_sql("kupiec_lr")}, 6) < 0.05
                THEN 'REJECT' ELSE 'ACCEPT' END AS verdict
    FROM lr
    """,
)
def var_backtest_kupiec(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F11 Kupiec POF test of parametric VaR95 violations — reference
    `forcester_ts/var_backtest.py:41-130`. VaR = μ − 1.645σ per series;
    LR_pof closed form with the v=0 branch CASE-guarded identically on
    both sides (0·ln0 := 0)."""
    s = _series(spark, sf_dir).filter(F.col("lr").isNotNull())
    # per-key stats scale with the key count — NO broadcast hint (AQE
    # broadcasts from runtime stats at small sf; at 100 TB the join is a
    # co-partitioned shuffle on user_id, which is the plan you want)
    stats = s.groupBy("user_id").agg(
        F.avg("lr").alias("mu"), F.stddev_samp("lr").alias("sd")
    )
    var95 = F.col("mu") - 1.645 * F.col("sd")
    v = (
        s.join(stats, "user_id")
        .groupBy("user_id")
        .agg(
            F.count("lr").alias("n"),
            F.sum((F.col("lr") < var95).cast("int")).alias("viol"),
            r6(F.any_value(var95)).alias("var95"),
        )
        .filter(F.col("viol") < F.col("n"))
    )
    n, viol = F.col("n"), F.col("viol").cast("double")
    lr_pof = 2 * (
        (n - viol) * F.log((1.0 - viol / n) / 0.95)
        + F.when(F.col("viol") == 0, 0.0).otherwise(viol * F.log((viol / n) / 0.05))
    )
    lr = v.select("user_id", "n", "viol", "var95", r6(lr_pof).alias("kupiec_lr"))
    # p-value from the ROUNDED statistic (bit-identical across engines),
    # and the decision flag the reference emits (var_backtest.py:81-130)
    p = r6(chi2_sf1(F.col("kupiec_lr")))
    return lr.select(
        "*",
        p.alias("kupiec_p"),
        F.when(p < 0.05, "REJECT").otherwise("ACCEPT").alias("verdict"),
    )


# ---------------------------------------------------------------------------
# F11 — Christoffersen independence test (violation transition counts)
# ---------------------------------------------------------------------------


@query(
    "christoffersen_independence",
    oracle=f"""
    WITH s AS ({_S_SQL}),
    stats AS (
      SELECT user_id, AVG(lr) AS mu, STDDEV_SAMP(lr) AS sd
      FROM s GROUP BY user_id
    ),
    i AS (
      SELECT s.user_id, s.rn,
             CASE WHEN s.lr < st.mu - 1.645 * st.sd THEN 1 ELSE 0 END AS hit
      FROM s JOIN stats st ON s.user_id = st.user_id
      WHERE s.lr IS NOT NULL
    ),
    p AS (
      SELECT user_id, hit,
             LAG(hit) OVER (PARTITION BY user_id ORDER BY rn) AS prev
      FROM i
    ),
    c AS (
      SELECT user_id,
             CAST(SUM(CASE WHEN prev = 0 AND hit = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n00,
             CAST(SUM(CASE WHEN prev = 0 AND hit = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n01,
             CAST(SUM(CASE WHEN prev = 1 AND hit = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n10,
             CAST(SUM(CASE WHEN prev = 1 AND hit = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n11
      FROM p WHERE prev IS NOT NULL GROUP BY user_id
    ),
    f AS (
      SELECT user_id, n00, n01, n10, n11,
             CAST(n01 + n11 AS DOUBLE) / (n00 + n01 + n10 + n11) AS pi,
             CAST(n01 AS DOUBLE) / NULLIF(n00 + n01, 0) AS pi01,
             CAST(n11 AS DOUBLE) / NULLIF(n10 + n11, 0) AS pi11
      FROM c
    ),
    g AS (
      SELECT user_id, n00, n01, n10, n11,
             ROUND(2 * (
                 (CASE WHEN n00 = 0 OR pi01 = 1 THEN 0.0 ELSE n00 * LN(1 - pi01) END
                  + CASE WHEN n01 = 0 THEN 0.0 ELSE n01 * LN(pi01) END
                  + CASE WHEN n10 = 0 OR pi11 = 1 THEN 0.0 ELSE n10 * LN(1 - pi11) END
                  + CASE WHEN n11 = 0 THEN 0.0 ELSE n11 * LN(pi11) END)
               - (CASE WHEN n00 + n10 = 0 OR pi = 1 THEN 0.0
                       ELSE (n00 + n10) * LN(1 - pi) END
                  + CASE WHEN n01 + n11 = 0 THEN 0.0
                       ELSE (n01 + n11) * LN(pi) END)), 6) AS lr_ind
      FROM f WHERE pi > 0
    )
    SELECT user_id, n00, n01, n10, n11, lr_ind,
           ROUND({chi2_sf1_sql("GREATEST(lr_ind, 0.0)")}, 6) AS lr_ind_p,
           CASE WHEN ROUND({chi2_sf1_sql("GREATEST(lr_ind, 0.0)")}, 6) < 0.05
                THEN 'REJECT' ELSE 'ACCEPT' END AS verdict
    FROM g
    """,
)
def christoffersen_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F11 Christoffersen independence test: VaR-violation transition counts
    n00..n11 via lag+groupBy (exactly the SURVEY §2.10 note "transition
    counts = lag+groupBy!"), then the LR_ind likelihood ratio — reference
    `forcester_ts/var_backtest.py:132-198`."""
    s = _series(spark, sf_dir).filter(F.col("lr").isNotNull())
    # per-key stats scale with the key count — unhinted join (see
    # var_backtest_kupiec)
    stats = s.groupBy("user_id").agg(
        F.avg("lr").alias("mu"), F.stddev_samp("lr").alias("sd")
    )
    i = s.join(stats, "user_id").select(
        "user_id",
        "rn",
        (F.col("lr") < F.col("mu") - 1.645 * F.col("sd")).cast("int").alias("hit"),
    )
    p = i.select(
        "user_id",
        "hit",
        F.lag("hit").over(Window.partitionBy("user_id").orderBy("rn")).alias("prev"),
    ).filter(F.col("prev").isNotNull())
    c = p.groupBy("user_id").agg(
        *[
            F.sum(((F.col("prev") == a) & (F.col("hit") == b)).cast("int")).alias(
                f"n{a}{b}"
            )
            for a in (0, 1)
            for b in (0, 1)
        ]
    )
    n00, n01, n10, n11 = (F.col(c_) for c_ in ("n00", "n01", "n10", "n11"))
    total = (n00 + n01 + n10 + n11).cast("double")
    pi = (n01 + n11).cast("double") / total
    pi01 = n01.cast("double") / F.nullif((n00 + n01).cast("double"), F.lit(0.0))
    pi11 = n11.cast("double") / F.nullif((n10 + n11).cast("double"), F.lit(0.0))

    def term(count, prob):
        return F.when(count == 0, 0.0).otherwise(count * F.log(prob))

    ll_alt = (
        F.when((n00 == 0) | (pi01 == 1), 0.0).otherwise(n00 * F.log(1 - pi01))
        + term(n01, pi01)
        + F.when((n10 == 0) | (pi11 == 1), 0.0).otherwise(n10 * F.log(1 - pi11))
        + term(n11, pi11)
    )
    ll_null = F.when((n00 + n10 == 0) | (pi == 1), 0.0).otherwise(
        (n00 + n10) * F.log(1 - pi)
    ) + F.when(n01 + n11 == 0, 0.0).otherwise((n01 + n11) * F.log(pi))
    g = c.filter(pi > 0).select(
        "user_id",
        "n00",
        "n01",
        "n10",
        "n11",
        r6(2 * (ll_alt - ll_null)).alias("lr_ind"),
    )
    # LR_ind can round to a tiny negative under boundary counts; clamp
    # before the χ² survival function exactly as the oracle does
    p = r6(chi2_sf1(F.greatest(F.col("lr_ind"), F.lit(0.0))))
    return g.select(
        "*",
        p.alias("lr_ind_p"),
        F.when(p < 0.05, "REJECT").otherwise("ACCEPT").alias("verdict"),
    )


# ---------------------------------------------------------------------------
# F11 — pinball (quantile) loss of a parametric 95% quantile forecast
# ---------------------------------------------------------------------------


@query(
    "pinball_loss",
    oracle=f"""
    WITH s AS ({_S_SQL}),
    q AS (
      SELECT user_id, lr,
             AVG(lr) OVER wt + 1.645 * STDDEV_SAMP(lr) OVER wt AS q95
      FROM s
      WINDOW wt AS (PARTITION BY user_id ORDER BY rn
                    ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING)
      QUALIFY rn >= 22
    )
    SELECT user_id, COUNT(*) AS n,
           ROUND(AVG(CASE WHEN lr >= q95 THEN 0.95 * (lr - q95)
                          ELSE 0.05 * (q95 - lr) END), 6) AS pinball_95
    FROM q GROUP BY user_id
    """,
)
def pinball_loss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F11 pinball loss at τ=0.95 for a trailing parametric quantile
    forecast (μ+1.645σ over the prior 20 bars, current row excluded —
    no lookahead) — reference `forcester_ts/var_backtest.py:200-234`."""
    s = _series(spark, sf_dir)
    wt = _w((-20, -1))
    q95 = F.avg("lr").over(wt) + 1.645 * F.stddev_samp("lr").over(wt)
    q = s.select("user_id", "rn", "lr", q95.alias("q95")).filter(F.col("rn") >= 22)
    loss = F.when(
        F.col("lr") >= F.col("q95"), 0.95 * (F.col("lr") - F.col("q95"))
    ).otherwise(0.05 * (F.col("q95") - F.col("lr")))
    return q.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"), r6(F.avg(loss)).alias("pinball_95")
    )


# ---------------------------------------------------------------------------
# F10 — Diebold-Mariano forecast comparison with Newey-West variance
# ---------------------------------------------------------------------------


@query(
    "diebold_mariano",
    oracle=f"""
    WITH s AS ({_S_SQL}),
    e AS (
      SELECT user_id, rn,
             POWER(value - LAG(value, 1) OVER wp, 2)
               - POWER(value - AVG(value) OVER wm, 2) AS d
      FROM s
      WINDOW wp AS (PARTITION BY user_id ORDER BY rn),
             wm AS (PARTITION BY user_id ORDER BY rn
                    ROWS BETWEEN 5 PRECEDING AND 1 PRECEDING)
      QUALIFY rn >= 6
    ),
    l AS (
      SELECT user_id, d,
             LAG(d) OVER (PARTITION BY user_id ORDER BY rn) AS dl,
             AVG(d) OVER (PARTITION BY user_id) AS db
      FROM e
    ),
    a AS (
      SELECT user_id, COUNT(*) AS n, ANY_VALUE(db) AS dbar,
             AVG((d - db) * (d - db)) AS g0,
             AVG(CASE WHEN dl IS NOT NULL THEN (d - db) * (dl - db) END) AS g1
      FROM l GROUP BY user_id HAVING COUNT(*) > 10
    )
    SELECT user_id, n, ROUND(dbar, 6) AS dbar,
           ROUND(CASE WHEN g0 + 2 * g1 > 0
                      THEN dbar / SQRT((g0 + 2 * g1) / n) END, 6) AS dm_stat
    FROM a
    """,
)
def diebold_mariano(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F10 Diebold-Mariano test comparing two forecasters (naive lag-1 vs
    trailing 5-bar mean) with Newey-West lag-1 variance — reference
    `etl/statistical_tests.py:34-109`. Loss differential d = e1²−e2²;
    DM = d̄ / √((γ0+2γ1)/n), NULL when the NW variance is non-positive
    (guarded identically on both sides)."""
    s = _series(spark, sf_dir)
    wp = _w()
    wm = _w((-5, -1))
    d = F.pow(F.col("value") - F.lag("value", 1).over(wp), 2) - F.pow(
        F.col("value") - F.avg("value").over(wm), 2
    )
    e = s.select("user_id", "rn", d.alias("d")).filter(F.col("rn") >= 6)
    l = e.select(
        "user_id",
        "d",
        F.lag("d").over(Window.partitionBy("user_id").orderBy("rn")).alias("dl"),
        F.avg("d").over(Window.partitionBy("user_id")).alias("db"),
    )
    dc = F.col("d") - F.col("db")
    a = (
        l.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.any_value(F.col("db")).alias("dbar"),
            F.avg(dc * dc).alias("g0"),
            F.avg(
                F.when(F.col("dl").isNotNull(), dc * (F.col("dl") - F.col("db")))
            ).alias("g1"),
        )
        .filter(F.col("n") > 10)
    )
    nw = F.col("g0") + 2 * F.col("g1")
    dm = F.when(nw > 0, F.col("dbar") / F.sqrt(nw / F.col("n")))
    return a.select(
        "user_id", "n", r6(F.col("dbar")).alias("dbar"), r6(dm).alias("dm_stat")
    )


# ---------------------------------------------------------------------------
# A9 — JSON metric rollup (props column)
# ---------------------------------------------------------------------------


@query(
    "props_json_rollup",
    oracle="""
    SELECT event_type, COUNT(*) AS n,
           ROUND(AVG(CAST(props->>'k' AS INTEGER)), 6) AS avg_k,
           ROUND(AVG(CASE WHEN CAST(props->>'k' AS INTEGER) >= 50
                          THEN value END), 6) AS avg_value_highk,
           CAST(SUM(CASE WHEN CAST(props->>'k' AS INTEGER) >= 50
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_highk
    FROM events GROUP BY event_type
    """,
)
def props_json_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9 forecast-metric rollup out of a JSON column — reference
    `etl/database_manager.py:2974-3066` (`json.loads` + filtered AVG over
    diagnostics). ``get_json_object`` stays JVM-side (Catalyst JsonPath),
    no Python in the hot path."""
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        r6(F.avg(k)).alias("avg_k"),
        r6(F.avg(F.when(k >= 50, F.col("value")))).alias("avg_value_highk"),
        F.sum((k >= 50).cast("int")).alias("n_highk"),
    )


# ---------------------------------------------------------------------------
# A8 — pairwise covariance / correlation matrix (long form)
# ---------------------------------------------------------------------------


@query(
    "pairwise_covariance",
    oracle=f"""
    WITH s AS ({_S_SQL})
    SELECT a.user_id AS u1, b.user_id AS u2,
           COUNT(*) AS n,
           ROUND(COVAR_SAMP(a.lr, b.lr), 6) AS cov_lr,
           ROUND(CORR(a.lr, b.lr), 6) AS corr_lr
    FROM s a JOIN s b ON a.rn = b.rn AND a.user_id < b.user_id
    WHERE a.user_id < 20 AND b.user_id < 20
      AND a.lr IS NOT NULL AND b.lr IS NOT NULL
    GROUP BY a.user_id, b.user_id
    HAVING COUNT(*) > 10
    """,
)
def pairwise_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8 empirical covariance matrix in long form: series aligned on
    per-key row number (the reference aligns on the shared DatetimeIndex),
    upper triangle only — reference `etl/portfolio_math.py:239-310`.

    Self-join on (rn) after filtering to the 20-key universe: both sides
    of the join are tiny after the pushed-down filter, and the N×N output
    is the classic long-form covariance at any scale (N keys, not N rows).
    """
    s = (
        _series(spark, sf_dir)
        .filter((F.col("user_id") < 20) & F.col("lr").isNotNull())
        .select("user_id", "rn", "lr")
    )
    a, b = s.alias("a"), s.alias("b")
    return (
        a.join(
            b,
            (F.col("a.rn") == F.col("b.rn"))
            & (F.col("a.user_id") < F.col("b.user_id")),
        )
        .groupBy(
            F.col("a.user_id").alias("u1"), F.col("b.user_id").alias("u2")
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            r6(F.covar_samp("a.lr", "b.lr")).alias("cov_lr"),
            r6(F.corr("a.lr", "b.lr")).alias("corr_lr"),
        )
        .filter(F.col("n") > 10)
    )


# ---------------------------------------------------------------------------
# F10 — Dickey-Fuller stationarity test (native regr_* aggregates)
# ---------------------------------------------------------------------------


@query(
    "adf_test",
    oracle=f"""
    WITH s AS ({_S_SQL}),
    d AS (
      SELECT user_id,
             value - LAG(value) OVER wp AS dy,
             LAG(value) OVER wp AS ylag
      FROM s WINDOW wp AS (PARTITION BY user_id ORDER BY rn)
    ),
    fit AS (
      SELECT user_id,
             COUNT(*) AS n,
             REGR_SLOPE(dy, ylag) AS beta,
             REGR_SXX(dy, ylag) AS sxx,
             REGR_SYY(dy, ylag) AS syy
      FROM d WHERE dy IS NOT NULL
      GROUP BY user_id HAVING COUNT(*) > 20
    )
    SELECT user_id, n,
           ROUND(beta, 6) AS beta,
           ROUND(beta / SQRT(((syy - beta * beta * sxx) / (n - 2))
                             / NULLIF(sxx, 0)), 6) AS df_stat,
           CASE WHEN beta / SQRT(((syy - beta * beta * sxx) / (n - 2))
                                 / NULLIF(sxx, 0)) < -2.89
                THEN 1 ELSE 0 END AS stationary_5pct
    FROM fit
    """,
)
def adf_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F10 Dickey-Fuller stationarity test (constant, lag 0):
    Δy_t = α + β·y_{t−1} + ε, τ = β̂/se(β̂), reject unit root when
    τ < −2.89 (5% critical value, n>25) — reference ADF usage
    `etl/time_series_analyzer.py:338-438` and the joint ADF+KPSS verdict
    `forcester_ts/forecaster.py:611-680`.

    Everything is a native regression aggregate (regr_slope/sxx/syy) —
    the OLS t-statistic in closed form, one groupBy pass, no UDF."""
    s = _series(spark, sf_dir)
    wp = _w()
    d = s.select(
        "user_id",
        (F.col("value") - F.lag("value").over(wp)).alias("dy"),
        F.lag("value").over(wp).alias("ylag"),
    ).filter(F.col("dy").isNotNull())
    fit = (
        d.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.regr_slope("dy", "ylag").alias("beta"),
            F.regr_sxx("dy", "ylag").alias("sxx"),
            F.regr_syy("dy", "ylag").alias("syy"),
        )
        .filter(F.col("n") > 20)
    )
    beta, sxx, syy, n = (F.col(c) for c in ("beta", "sxx", "syy", "n"))
    tau = beta / F.sqrt(
        ((syy - beta * beta * sxx) / (n - 2)) / F.nullif(sxx, F.lit(0.0))
    )
    return fit.select(
        "user_id",
        "n",
        r6(beta).alias("beta"),
        r6(tau).alias("df_stat"),
        F.when(tau < -2.89, 1).otherwise(0).alias("stationary_5pct"),
    )


# ---------------------------------------------------------------------------
# F10 — KPSS stationarity test (completes the joint ADF+KPSS verdict)
# ---------------------------------------------------------------------------


@query(
    "kpss_test",
    oracle=f"""
    WITH s AS ({_S_SQL}),
    base AS (
      SELECT user_id, rn, lr,
             lr - AVG(lr) OVER (PARTITION BY user_id) AS e
      FROM s WHERE lr IS NOT NULL
    ),
    cum AS (
      SELECT user_id, e,
             LAG(e, 1) OVER wp AS e1, LAG(e, 2) OVER wp AS e2,
             LAG(e, 3) OVER wp AS e3, LAG(e, 4) OVER wp AS e4,
             SUM(e) OVER (PARTITION BY user_id ORDER BY rn
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s_t
      FROM base WINDOW wp AS (PARTITION BY user_id ORDER BY rn)
    ),
    agg AS (
      SELECT user_id, COUNT(*) AS n,
             SUM(s_t * s_t) AS ss,
             AVG(e * e) AS g0,
             AVG(CASE WHEN e1 IS NOT NULL THEN e * e1 END) AS g1,
             AVG(CASE WHEN e2 IS NOT NULL THEN e * e2 END) AS g2,
             AVG(CASE WHEN e3 IS NOT NULL THEN e * e3 END) AS g3,
             AVG(CASE WHEN e4 IS NOT NULL THEN e * e4 END) AS g4
      FROM cum GROUP BY user_id HAVING COUNT(*) > 20
    )
    SELECT user_id, n,
           ROUND(ss / (CAST(n AS DOUBLE) * n)
                 / NULLIF(g0 + 2 * (0.8*g1 + 0.6*g2 + 0.4*g3 + 0.2*g4), 0), 6)
             AS kpss_stat,
           CASE WHEN ss / (CAST(n AS DOUBLE) * n)
                     / NULLIF(g0 + 2 * (0.8*g1 + 0.6*g2 + 0.4*g3 + 0.2*g4), 0)
                     > 0.463
                THEN 0 ELSE 1 END AS stationary_5pct
    FROM agg
    """,
)
def kpss_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F10 KPSS level-stationarity test: η = n⁻²·ΣS_t² / σ̂²_lr with a
    Bartlett long-run variance (lag 4), reject stationarity above the
    0.463 5% critical value — reference joint ADF+KPSS verdict
    `forcester_ts/forecaster.py:611-680`.

    Cumulative partial sums are one running-sum window; the Bartlett
    autocovariances are lag columns + conditional AVGs — a single window
    pass plus one groupBy, no UDF."""
    s = _series(spark, sf_dir).filter(F.col("lr").isNotNull())
    wg = Window.partitionBy("user_id")
    base = s.select(
        "user_id", "rn", (F.col("lr") - F.avg("lr").over(wg)).alias("e")
    )
    wp = Window.partitionBy("user_id").orderBy("rn")
    cum = base.select(
        "user_id",
        "e",
        *[F.lag("e", j).over(wp).alias(f"e{j}") for j in range(1, 5)],
        F.sum("e").over(wp.rowsBetween(Window.unboundedPreceding, 0)).alias("s_t"),
    )
    agg = (
        cum.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("s_t") * F.col("s_t")).alias("ss"),
            F.avg(F.col("e") * F.col("e")).alias("g0"),
            *[
                F.avg(
                    F.when(
                        F.col(f"e{j}").isNotNull(), F.col("e") * F.col(f"e{j}")
                    )
                ).alias(f"g{j}")
                for j in range(1, 5)
            ],
        )
        .filter(F.col("n") > 20)
    )
    n = F.col("n").cast("double")
    lrv = F.col("g0") + 2 * (
        0.8 * F.col("g1") + 0.6 * F.col("g2") + 0.4 * F.col("g3") + 0.2 * F.col("g4")
    )
    eta = F.col("ss") / (n * n) / F.nullif(lrv, F.lit(0.0))
    return agg.select(
        "user_id",
        "n",
        r6(eta).alias("kpss_stat"),
        F.when(eta > 0.463, 0).otherwise(1).alias("stationary_5pct"),
    )


# ---------------------------------------------------------------------------
# F16/A8 — minimum-variance two-asset weights (closed-form Markowitz core)
# ---------------------------------------------------------------------------


@query(
    "min_variance_pair_weights",
    oracle=f"""
    WITH s AS ({_S_SQL}),
    pairs AS (
      SELECT a.user_id AS u1, b.user_id AS u2,
             COUNT(*) AS n,
             VAR_SAMP(a.lr) AS v1, VAR_SAMP(b.lr) AS v2,
             COVAR_SAMP(a.lr, b.lr) AS c12
      FROM s a JOIN s b ON a.rn = b.rn AND a.user_id < b.user_id
      WHERE a.user_id < 10 AND b.user_id < 10
        AND a.lr IS NOT NULL AND b.lr IS NOT NULL
      GROUP BY a.user_id, b.user_id HAVING COUNT(*) > 10
    )
    SELECT u1, u2, n,
           ROUND((v2 - c12) / NULLIF(v1 + v2 - 2 * c12, 0), 6) AS w1,
           ROUND((v1 - c12) / NULLIF(v1 + v2 - 2 * c12, 0), 6) AS w2,
           ROUND(SQRT(GREATEST((v1 * v2 - c12 * c12)
                 / NULLIF(v1 + v2 - 2 * c12, 0), 0)), 6) AS min_vol
    FROM pairs
    """,
)
def min_variance_pair_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F16/A8 Markowitz core in closed form: the two-asset minimum-variance
    weights w1 = (σ2²−σ12)/(σ1²+σ2²−2σ12) and the resulting portfolio vol
    — reference `etl/portfolio_math.py:312-382` (scipy minimize for N
    assets; for N=2 the optimum is algebraic, so the whole optimizer is a
    join + aggregate). Series aligned on per-key row number as in A8."""
    s = (
        _series(spark, sf_dir)
        .filter((F.col("user_id") < 10) & F.col("lr").isNotNull())
        .select("user_id", "rn", "lr")
    )
    a, b = s.alias("a"), s.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.rn") == F.col("b.rn"))
            & (F.col("a.user_id") < F.col("b.user_id")),
        )
        .groupBy(
            F.col("a.user_id").alias("u1"), F.col("b.user_id").alias("u2")
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.var_samp("a.lr").alias("v1"),
            F.var_samp("b.lr").alias("v2"),
            F.covar_samp("a.lr", "b.lr").alias("c12"),
        )
        .filter(F.col("n") > 10)
    )
    v1, v2, c12 = F.col("v1"), F.col("v2"), F.col("c12")
    den = F.nullif(v1 + v2 - 2 * c12, F.lit(0.0))
    return pairs.select(
        "u1",
        "u2",
        "n",
        r6((v2 - c12) / den).alias("w1"),
        r6((v1 - c12) / den).alias("w2"),
        r6(F.sqrt(F.greatest((v1 * v2 - c12 * c12) / den, F.lit(0.0)))).alias(
            "min_vol"
        ),
    )


# ---------------------------------------------------------------------------
# F10 — Durbin-Watson on forecast errors + Welch two-sample t-test
# ---------------------------------------------------------------------------


@query(
    "durbin_watson",
    oracle=f"""
    WITH s AS ({_S_SQL}),
    e AS (
      SELECT user_id, rn,
             value - AVG(value) OVER (PARTITION BY user_id ORDER BY rn
               ROWS BETWEEN 5 PRECEDING AND 1 PRECEDING) AS err
      FROM s QUALIFY rn >= 6
    ),
    l AS (
      SELECT user_id, err,
             LAG(err) OVER (PARTITION BY user_id ORDER BY rn) AS prev
      FROM e
    )
    SELECT user_id, COUNT(*) AS n,
           ROUND(SUM(CASE WHEN prev IS NOT NULL
                          THEN (err - prev) * (err - prev) END)
                 / NULLIF(SUM(err * err), 0), 6) AS dw_stat
    FROM l GROUP BY user_id HAVING COUNT(*) > 10
    """,
)
def durbin_watson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F10 Durbin-Watson autocorrelation statistic over trailing-mean
    forecast errors: DW = Σ(e_t−e_{t−1})²/Σe_t², ≈2 under independence —
    reference `etl/statistical_tests.py:226-249` (Ljung-Box +
    Durbin-Watson pair on model residuals)."""
    s = _series(spark, sf_dir)
    err = (F.col("value") - F.avg("value").over(_w((-5, -1)))).alias("err")
    e = s.select("user_id", "rn", err).filter(F.col("rn") >= 6)
    l = e.select(
        "user_id",
        "err",
        F.lag("err").over(Window.partitionBy("user_id").orderBy("rn")).alias("prev"),
    )
    num = F.sum(
        F.when(
            F.col("prev").isNotNull(),
            (F.col("err") - F.col("prev")) * (F.col("err") - F.col("prev")),
        )
    )
    den = F.nullif(F.sum(F.col("err") * F.col("err")), F.lit(0.0))
    return (
        l.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), r6(num / den).alias("dw_stat"))
        .filter(F.col("n") > 10)
    )


@query(
    "welch_half_test",
    oracle=f"""
    WITH s AS ({_S_SQL}),
    tagged AS (
      SELECT user_id, lr,
             CASE WHEN rn <= MAX(rn) OVER (PARTITION BY user_id) / 2
                  THEN 0 ELSE 1 END AS half
      FROM s WHERE lr IS NOT NULL
    ),
    g AS (
      SELECT user_id, half, COUNT(*) AS n, AVG(lr) AS m, VAR_SAMP(lr) AS v
      FROM tagged GROUP BY user_id, half
    )
    SELECT a.user_id,
           a.n AS n1, b.n AS n2,
           ROUND(a.m - b.m, 6) AS mean_diff,
           ROUND((a.m - b.m) / SQRT(a.v / a.n + b.v / b.n), 6) AS welch_t
    FROM g a JOIN g b ON a.user_id = b.user_id AND a.half = 0 AND b.half = 1
    WHERE a.n > 5 AND b.n > 5
    """,
)
def welch_half_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F10 Welch two-sample t-test: first-half vs second-half returns per
    key (unequal-variance t) — reference `etl/portfolio_math.py:453-481`
    (Welch t-test + Levene between return regimes)."""
    s = _series(spark, sf_dir).filter(F.col("lr").isNotNull())
    wg = Window.partitionBy("user_id")
    tagged = s.select(
        "user_id",
        "lr",
        F.when(F.col("rn") <= F.max("rn").over(wg) / 2, 0).otherwise(1).alias(
            "half"
        ),
    )
    g = tagged.groupBy("user_id", "half").agg(
        F.count(F.lit(1)).alias("n"),
        F.avg("lr").alias("m"),
        F.var_samp("lr").alias("v"),
    )
    a = g.filter(F.col("half") == 0).alias("a")
    b = g.filter(F.col("half") == 1).alias("b")
    t = (F.col("a.m") - F.col("b.m")) / F.sqrt(
        F.col("a.v") / F.col("a.n") + F.col("b.v") / F.col("b.n")
    )
    return (
        a.join(b, F.col("a.user_id") == F.col("b.user_id"))
        .filter((F.col("a.n") > 5) & (F.col("b.n") > 5))
        .select(
            F.col("a.user_id").alias("user_id"),
            F.col("a.n").alias("n1"),
            F.col("b.n").alias("n2"),
            r6(F.col("a.m") - F.col("b.m")).alias("mean_diff"),
            r6(t).alias("welch_t"),
        )
    )


# ---------------------------------------------------------------------------
# F10 — PACF via Yule-Walker closed form + Levene variance-equality test
# ---------------------------------------------------------------------------


@query(
    "pacf_yule_walker",
    oracle=f"""
    WITH s AS ({_S_SQL}),
    l AS (
      SELECT user_id, lr,
             LAG(lr, 1) OVER wp AS l1, LAG(lr, 2) OVER wp AS l2,
             LAG(lr, 3) OVER wp AS l3
      FROM s WINDOW wp AS (PARTITION BY user_id ORDER BY rn)
    ),
    a AS (
      SELECT user_id, COUNT(lr) AS n,
             CORR(lr, l1) AS r1, CORR(lr, l2) AS r2, CORR(lr, l3) AS r3
      FROM l GROUP BY user_id HAVING COUNT(lr) > 12
    ),
    dl AS (
      SELECT user_id, n, r1, r2, r3,
             (r2 - r1 * r1) / NULLIF(1 - r1 * r1, 0) AS p22
      FROM a
    ),
    dl2 AS (
      SELECT user_id, n, r1, r2, r3, p22,
             r1 * (1 - p22) AS p21
      FROM dl
    )
    SELECT user_id, n,
           ROUND(r1, 6) AS pacf_1,
           ROUND(p22, 6) AS pacf_2,
           ROUND((r3 - p21 * r2 - p22 * r1)
                 / NULLIF(1 - p21 * r1 - p22 * r2, 0), 6) AS pacf_3
    FROM dl2
    """,
)
def pacf_yule_walker(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F10 partial autocorrelations at lags 1-3 via the Yule-Walker /
    Durbin-Levinson recursion: φ11 = ρ1, φ22 = (ρ2−ρ1²)/(1−ρ1²),
    φ21 = ρ1(1−φ22), φ33 = (ρ3−φ21ρ2−φ22ρ1)/(1−φ21ρ1−φ22ρ2) —
    reference ACF/PACF usage `etl/time_series_analyzer.py:338-438`.
    Sample autocorrelations come from the same lag-column CORR pattern as
    `ljung_box`; the recursion collapses to algebra for the first two
    lags, so the whole PACF is one groupBy."""
    s = _series(spark, sf_dir)
    wp = _w()
    l = s.select(
        "user_id",
        "lr",
        F.lag("lr", 1).over(wp).alias("l1"),
        F.lag("lr", 2).over(wp).alias("l2"),
        F.lag("lr", 3).over(wp).alias("l3"),
    )
    a = (
        l.groupBy("user_id")
        .agg(
            F.count("lr").alias("n"),
            F.corr("lr", "l1").alias("r1"),
            F.corr("lr", "l2").alias("r2"),
            F.corr("lr", "l3").alias("r3"),
        )
        .filter(F.col("n") > 12)
    )
    r1, r2, r3 = F.col("r1"), F.col("r2"), F.col("r3")
    dl = a.select(
        "user_id", "n", "r1", "r2", "r3",
        ((r2 - r1 * r1) / F.nullif(1 - r1 * r1, F.lit(0.0))).alias("p22"),
    )
    p22 = F.col("p22")
    dl2 = dl.select("*", (r1 * (1 - p22)).alias("p21"))
    p21 = F.col("p21")
    return dl2.select(
        "user_id",
        "n",
        r6(r1).alias("pacf_1"),
        r6(p22).alias("pacf_2"),
        r6(
            (r3 - p21 * r2 - p22 * r1)
            / F.nullif(1 - p21 * r1 - p22 * r2, F.lit(0.0))
        ).alias("pacf_3"),
    )


@query(
    "levene_half_test",
    oracle=f"""
    WITH s AS ({_S_SQL}),
    tagged AS (
      SELECT user_id, lr,
             CASE WHEN rn <= MAX(rn) OVER (PARTITION BY user_id) / 2
                  THEN 0 ELSE 1 END AS half
      FROM s WHERE lr IS NOT NULL
    ),
    med AS (
      SELECT user_id, half, MEDIAN(lr) AS md
      FROM tagged GROUP BY user_id, half
    ),
    z AS (
      SELECT t.user_id, t.half, ABS(t.lr - m.md) AS zv
      FROM tagged t JOIN med m ON t.user_id = m.user_id AND t.half = m.half
    ),
    g AS (
      SELECT user_id, half, COUNT(*) AS n, AVG(zv) AS zbar,
             SUM(zv * zv) AS zss
      FROM z GROUP BY user_id, half
    ),
    f AS (
      SELECT a.user_id,
             a.n AS n1, b.n AS n2, a.zbar AS z1, b.zbar AS z2,
             (a.n * a.zbar + b.n * b.zbar) / (a.n + b.n) AS zg,
             (a.zss - a.n * a.zbar * a.zbar)
               + (b.zss - b.n * b.zbar * b.zbar) AS ssw
      FROM g a JOIN g b ON a.user_id = b.user_id AND a.half = 0 AND b.half = 1
      WHERE a.n > 5 AND b.n > 5
    )
    SELECT user_id, n1, n2,
           ROUND((n1 + n2 - 2)
                 * (n1 * (z1 - zg) * (z1 - zg) + n2 * (z2 - zg) * (z2 - zg))
                 / NULLIF(ssw, 0), 6) AS levene_w
    FROM f
    """,
)
def levene_half_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F10 Brown-Forsythe/Levene variance-equality test between the two
    halves of each series (median-centered absolute deviations, k=2
    one-way ANOVA closed form) — reference `etl/portfolio_math.py:453-481`
    (Welch t-test + Levene pair). Exact MEDIAN (interpolating percentile)
    on both sides."""
    s = _series(spark, sf_dir).filter(F.col("lr").isNotNull())
    wg = Window.partitionBy("user_id")
    tagged = s.select(
        "user_id",
        "lr",
        F.when(F.col("rn") <= F.max("rn").over(wg) / 2, 0).otherwise(1).alias(
            "half"
        ),
    )
    med = tagged.groupBy("user_id", "half").agg(
        F.percentile("lr", F.lit(0.5)).alias("md")
    )
    z = tagged.join(med, ["user_id", "half"]).select(
        "user_id", "half", F.abs(F.col("lr") - F.col("md")).alias("zv")
    )
    g = z.groupBy("user_id", "half").agg(
        F.count(F.lit(1)).alias("n"),
        F.avg("zv").alias("zbar"),
        F.sum(F.col("zv") * F.col("zv")).alias("zss"),
    )
    a = g.filter(F.col("half") == 0).alias("a")
    b = g.filter(F.col("half") == 1).alias("b")
    n1, n2 = F.col("a.n"), F.col("b.n")
    z1, z2 = F.col("a.zbar"), F.col("b.zbar")
    zg = (n1 * z1 + n2 * z2) / (n1 + n2)
    ssw = (F.col("a.zss") - n1 * z1 * z1) + (F.col("b.zss") - n2 * z2 * z2)
    w = (
        (n1 + n2 - 2)
        * (n1 * (z1 - zg) * (z1 - zg) + n2 * (z2 - zg) * (z2 - zg))
        / F.nullif(ssw, F.lit(0.0))
    )
    return (
        a.join(b, F.col("a.user_id") == F.col("b.user_id"))
        .filter((n1 > 5) & (n2 > 5))
        .select(
            F.col("a.user_id").alias("user_id"),
            n1.alias("n1"),
            n2.alias("n2"),
            r6(w).alias("levene_w"),
        )
    )


@query(
    "risk_parity_pair_weights",
    oracle=f"""
    WITH s AS ({_S_SQL}),
    vols AS (
      SELECT user_id, STDDEV_SAMP(lr) AS sd
      FROM s WHERE lr IS NOT NULL
      GROUP BY user_id HAVING COUNT(lr) > 10
    )
    SELECT a.user_id AS u1, b.user_id AS u2,
           ROUND(b.sd / (a.sd + b.sd), 6) AS w1,
           ROUND(a.sd / (a.sd + b.sd), 6) AS w2,
           ROUND(b.sd / (a.sd + b.sd) * a.sd, 6) AS risk_contrib
    FROM vols a JOIN vols b ON a.user_id < b.user_id
    WHERE a.user_id < 10 AND b.user_id < 10
    """,
)
def risk_parity_pair_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F16 risk-parity core: the two-asset equal-risk-contribution
    solution w_i ∝ 1/σ_i (exact for N=2 at any correlation: w1σ1 = w2σ2)
    — reference `etl/portfolio_math.py:312-382` (risk-parity scipy
    optimize; algebraic for pairs, so the optimizer is one join).
    Both assets' risk contributions are equal by construction —
    the emitted `risk_contrib` is that common value."""
    s = _series(spark, sf_dir).filter(F.col("lr").isNotNull())
    vols = (
        s.groupBy("user_id")
        .agg(F.stddev_samp("lr").alias("sd"), F.count("lr").alias("n"))
        .filter((F.col("n") > 10) & (F.col("user_id") < 10))
        .drop("n")
    )
    a, b = vols.alias("a"), vols.alias("b")
    sa, sb = F.col("a.sd"), F.col("b.sd")
    return a.join(b, F.col("a.user_id") < F.col("b.user_id")).select(
        F.col("a.user_id").alias("u1"),
        F.col("b.user_id").alias("u2"),
        r6(sb / (sa + sb)).alias("w1"),
        r6(sa / (sa + sb)).alias("w2"),
        r6(sb / (sa + sb) * sa).alias("risk_contrib"),
    )


# ---------------------------------------------------------------------------
# F16 — N-asset portfolio optimization (general-N path; pairs above are
# the closed-form special case)
# ---------------------------------------------------------------------------


def _weights_verify_sql(
    staged_glob: str,
    method: str,
    aligned: bool = False,
    shrunk: bool = False,
    extra_cols: str = "",
) -> str:
    """Verification oracle for the driver-solved weight queries: read the
    STAGED weights, recompute the covariance in SQL (same pairwise /
    aligned-panel semantics as ``operators.portfolio.covariance_long``),
    and re-derive risk_contrib + port_vol independently. The solve stays
    pytest-pinned (KKT / fixed-point vs numpy); the oracle checks that
    the emitted risk decomposition is consistent with the data."""
    align_cte = (
        """
    nass AS (SELECT COUNT(DISTINCT user_id) AS na FROM base),
    full_t AS (
      SELECT rn FROM base CROSS JOIN nass
      GROUP BY rn, na HAVING COUNT(*) = ANY_VALUE(na)
    ),
    ab AS (SELECT base.* FROM base JOIN full_t USING (rn)),"""
        if aligned
        else """
    ab AS (SELECT * FROM base),"""
    )
    if shrunk:
        sigma_cte = """
    mu AS (
      SELECT SUM(cov) / COUNT(*) AS mu FROM full_m WHERE u1 = u2
    ),
    lamv AS (
      SELECT ANY_VALUE(shrinkage) AS lam
      FROM read_parquet('""" + staged_glob + """')
    ),
    sig AS (
      SELECT u1, u2,
             (1.0 - lam) * cov
               + CASE WHEN u1 = u2 THEN lam * mu ELSE 0.0 END AS cov
      FROM full_m CROSS JOIN mu CROSS JOIN lamv
    )"""
    else:
        sigma_cte = """
    sig AS (SELECT u1, u2, cov FROM full_m)"""
    return f"""
    WITH s AS ({{s_sql}}),
    base AS (
      SELECT user_id, rn, lr FROM s
      WHERE user_id < 20 AND lr IS NOT NULL
    ),{align_cte}
    tri AS (
      SELECT a.user_id AS u1, b.user_id AS u2,
             COVAR_SAMP(a.lr, b.lr) AS cov, COUNT(*) AS n
      FROM ab a JOIN ab b
        ON a.rn = b.rn AND a.user_id <= b.user_id
      GROUP BY 1, 2 HAVING COUNT(*) > 10
    ),
    full_m AS (
      SELECT u1, u2, cov FROM tri
      UNION ALL
      SELECT u2, u1, cov FROM tri WHERE u1 <> u2
    ),{sigma_cte},
    w AS (
      SELECT user_id, weight{extra_cols}
      FROM read_parquet('{staged_glob}')
    ),
    mrc AS (
      SELECT sig.u1 AS user_id, SUM(sig.cov * w2.weight) AS mrc
      FROM sig JOIN w w2 ON sig.u2 = w2.user_id
      GROUP BY sig.u1
    ),
    pv AS (
      SELECT SQRT(SUM(w.weight * mrc.mrc)) AS port_vol
      FROM w JOIN mrc USING (user_id)
    )
    SELECT w.user_id, '{method}' AS method, w.weight,
           ROUND(w.weight * mrc.mrc / pv.port_vol, 6) AS risk_contrib,
           ROUND(pv.port_vol, 6) AS port_vol{extra_cols}
    FROM w JOIN mrc USING (user_id) CROSS JOIN pv
    """


@query("min_variance_weights_n")
def min_variance_weights_n(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F16 long-only minimum-variance weights over the full N-asset
    covariance matrix (N=20 universe) — reference
    `etl/portfolio_math.py:312-347` SLSQP, solved here by exact active-set
    elimination on the driver after a distributed covariance aggregation.

    The N×N inverse itself is not SQL-expressible, but the output IS
    value-checked: the solved weights are STAGED and the oracle
    recomputes the covariance in SQL and re-derives risk_contrib and
    port_vol from the staged weights independently — the risk
    decomposition (and therefore the weights' consistency with the
    data) is differentially verified, while the solve stays pinned by
    the KKT/numpy tests."""
    from ..operators.portfolio import min_variance_weights
    from .queries import stage_cached

    s = (
        _series(spark, sf_dir)
        .filter(F.col("user_id") < 20)
        .select("user_id", "rn", "lr")
    )
    return stage_cached(
        spark, sf_dir, "minvar_weights", lambda: min_variance_weights(s)
    )


ORACLE["min_variance_weights_n"] = _weights_verify_sql(
    "__ORACLE_STAGE__/minvar_weights/*.parquet", "min_variance"
).format(s_sql=_S_SQL)


@query("min_variance_weights_shrunk")
def min_variance_weights_shrunk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F16 long-only min-variance on the Ledoit-Wolf-shrunk covariance
    Σ_λ = (1−λ)S + λμI, with λ estimated from the data (reference
    `etl/portfolio_math.py:266-310`, method="ledoit_wolf" via sklearn;
    re-derived here with the fourth-moment statistic computed as a
    distributed per-time-point aggregate). Staged-verification oracle:
    the oracle rebuilds Σ_λ from its OWN aligned-panel SQL covariance
    plus the staged λ and re-derives the risk decomposition; the λ
    estimate itself stays pinned against numpy in
    tests/test_portfolio.py."""
    from ..operators.portfolio import min_variance_weights_shrunk
    from .queries import stage_cached

    s = (
        _series(spark, sf_dir)
        .filter(F.col("user_id") < 20)
        .select("user_id", "rn", "lr")
    )
    return stage_cached(
        spark,
        sf_dir,
        "minvar_shrunk_weights",
        lambda: min_variance_weights_shrunk(s),
    )


ORACLE["min_variance_weights_shrunk"] = _weights_verify_sql(
    "__ORACLE_STAGE__/minvar_shrunk_weights/*.parquet",
    "min_variance_lw",
    aligned=True,
    shrunk=True,
    extra_cols=", shrinkage",
).format(s_sql=_S_SQL)


@query("risk_parity_weights_n")
def risk_parity_weights_n(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F16 N-asset equal-risk-contribution weights (N=20 universe) —
    reference `etl/portfolio_math.py:349-382`, damped fixed-point on the
    driver over the distributed covariance. Staged-verification oracle
    (same scheme as `min_variance_weights_n`): the oracle's independent
    risk_contrib recomputation IS the ERC optimality check — unequal
    contributions would surface as a value mismatch against the near-
    equal ones the fixed point emits."""
    from ..operators.portfolio import risk_parity_weights
    from .queries import stage_cached

    s = (
        _series(spark, sf_dir)
        .filter(F.col("user_id") < 20)
        .select("user_id", "rn", "lr")
    )
    return stage_cached(
        spark, sf_dir, "riskparity_weights", lambda: risk_parity_weights(s)
    )


ORACLE["risk_parity_weights_n"] = _weights_verify_sql(
    "__ORACLE_STAGE__/riskparity_weights/*.parquet", "risk_parity"
).format(s_sql=_S_SQL)


# ---------------------------------------------------------------------------
# F4 — MSSA-RL Q-table policy stage: variance-ratio state discretization
# + broadcast policy-artifact lookup with support gating
# ---------------------------------------------------------------------------

# The offline policy artifact (reference `forcester_ts/mssa_rl.py:271-430`
# builds it; `:650-800` loads and gates it). Deterministic literal here —
# states are digitize(variance_ratio, bins=[0.8, 1.0, 1.2]), actions are
# {0: risk-on, 1: HOLD, 2: risk-off}; best_action = argmax Q precomputed
# exactly as `build_mssa_offline_policy_artifact` ranks mean rewards.
_MSSA_MIN_SUPPORT = 20
_MSSA_Q_ALPHA = 0.3  # reference q_learning_alpha (`mssa_rl.py:151`)


def _mssa_rewards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The walk-forward (state, action, reward) experience table from the
    SSA action-forecast kernel, staged once per (code version, dataset)
    — shared by the learning query and the policy-application query."""
    from ..forecast.models import mssa_reward_windows
    from .queries import stage_cached

    return stage_cached(
        spark,
        sf_dir,
        "mssa_rewards",
        lambda: mssa_reward_windows(
            _series(spark, sf_dir).select("user_id", "rn", "value")
        ),
    )


_MSSA_CELL_SQL = """
      SELECT state, action,
             CAST(COUNT(*) AS BIGINT) AS support,
             AVG(reward) AS av,
             {alpha} * SUM(reward * POWER(1.0 - {alpha}, cnt - idx)) AS qtd
      FROM (SELECT state, action, reward,
                   ROW_NUMBER() OVER (PARTITION BY state, action
                                      ORDER BY user_id, train_end) AS idx,
                   COUNT(*) OVER (PARTITION BY state, action) AS cnt
            FROM read_parquet('__ORACLE_STAGE__/mssa_rewards/*.parquet'))
      GROUP BY state, action
""".format(alpha=_MSSA_Q_ALPHA)


@query(
    "mssa_q_iteration",
    oracle=f"""
    WITH cell AS ({_MSSA_CELL_SQL}),
    rk AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY state
                 ORDER BY av DESC, action ASC) AS rnk
      FROM cell
    ),
    stv AS (
      SELECT state,
             MAX(CASE WHEN rnk = 1 THEN action END) AS best_action,
             MAX(CASE WHEN rnk = 1 THEN av END) AS best_av,
             MAX(CASE WHEN rnk = 2 THEN av END) AS second_av
      FROM rk GROUP BY state
    )
    SELECT r.state, r.action, r.support,
           ROUND(r.av, 6) AS action_value,
           ROUND(r.qtd, 6) AS q_td,
           CAST(s.best_action AS INT) AS best_action,
           r.rnk = 1 AS is_best,
           ROUND(s.best_av - s.second_av, 6) AS action_margin
    FROM rk r JOIN stv s USING (state)
    """,
)
def mssa_q_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F4 proper — the MSSA-RL offline policy LEARNING itself (reference
    `forcester_ts/mssa_rl.py:271-430` `build_mssa_offline_policy_
    artifact`): walk-forward SSA action-forecast rewards per (state,
    action) cell, aggregated two ways — the reference artifact's
    mean-reward action value (`:371-383`; its "q_table" is the flattened
    action-value dict, `:650`) AND the incremental Q-update fold
    Q ← (1−α)Q + αr at the config's q_learning_alpha=0.3 (`:151`),
    evaluated in closed form α·Σ(1−α)^(N−i)·r_i over the chronological
    experience stream. best_action/margin rank exactly as the artifact
    builder ranks (value desc, lowest action on ties).

    The SVD/forecast kernel output is STAGED (stage_cached); both
    engines re-derive every aggregate, the rank, the argmax policy and
    the margin independently from the staged rows — the LEARNING half is
    differentially verified while the SSA kernel stays pytest-pinned
    (planted regime-switch recovery in tests/test_forecast.py).

    Scale: the experience table is (keys × windows × 3) rows; both
    aggregations are single shuffles on the (state, action) grid and the
    TD fold's closed form is a distributed weighted SUM, not a
    sequential driver loop."""
    rew = _mssa_rewards(spark, sf_dir)
    wc = Window.partitionBy("state", "action").orderBy("user_id", "train_end")
    wcn = Window.partitionBy("state", "action")
    a = _MSSA_Q_ALPHA
    cell = (
        rew.select(
            "state",
            "action",
            "reward",
            F.row_number().over(wc).alias("idx"),
            F.count(F.lit(1)).over(wcn).alias("cnt"),
        )
        .groupBy("state", "action")
        .agg(
            F.count(F.lit(1)).alias("support"),
            F.avg("reward").alias("av"),
            (
                F.lit(a)
                * F.sum(
                    F.col("reward")
                    * F.pow(F.lit(1.0 - a), F.col("cnt") - F.col("idx"))
                )
            ).alias("qtd"),
        )
    )
    wst = Window.partitionBy("state").orderBy(F.desc("av"), F.asc("action"))
    wst_all = Window.partitionBy("state")
    rk = cell.withColumn("rnk", F.row_number().over(wst))
    return rk.select(
        "state",
        "action",
        "support",
        r6(F.col("av")).alias("action_value"),
        r6(F.col("qtd")).alias("q_td"),
        F.max(F.when(F.col("rnk") == 1, F.col("action")))
        .over(wst_all)
        .cast("int")
        .alias("best_action"),
        (F.col("rnk") == 1).alias("is_best"),
        r6(
            F.max(F.when(F.col("rnk") == 1, F.col("av"))).over(wst_all)
            - F.max(F.when(F.col("rnk") == 2, F.col("av"))).over(wst_all)
        ).alias("action_margin"),
    )


@query(
    "mssa_policy_actions",
    oracle=f"""
    WITH s0 AS (
      SELECT user_id, ts, event_id, value,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
             value / LAG(value) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               - 1.0 AS sr
      FROM (SELECT * FROM events WHERE value > 0)
    ),
    q AS (
      SELECT user_id, rn,
             CAST(FLOOR(LEAST(GREATEST(sr, -10.0), 10.0) * 1000000.0 + 0.5)
                  AS BIGINT) AS qr
      FROM s0 WHERE sr IS NOT NULL
    ),
    w AS (
      SELECT user_id, rn, qr,
             COUNT(*) OVER wr AS wn,
             SUM(qr) OVER wr AS ws,
             SUM(qr * qr) OVER wr AS wss
      FROM q
      WINDOW wr AS (PARTITION BY user_id ORDER BY rn
                    ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)
    ),
    base AS (
      SELECT user_id,
             COUNT(*) AS bn, SUM(qr) AS bs, SUM(qr * qr) AS bss
      FROM q GROUP BY user_id HAVING COUNT(*) > 20
    ),
    r AS (
      SELECT w.user_id, w.rn,
             CASE WHEN w.wn < 5 OR (bss - CAST(bs AS DOUBLE) * bs / bn) <= 0
                  THEN 1.0
                  ELSE ((wss - CAST(ws AS DOUBLE) * ws / wn) / (wn - 1))
                       / ((bss - CAST(bs AS DOUBLE) * bs / bn) / (bn - 1))
             END AS vratio,
             ROW_NUMBER() OVER (PARTITION BY w.user_id ORDER BY w.rn DESC) AS rk
      FROM w JOIN base ON w.user_id = base.user_id
    ),
    st AS (
      SELECT user_id,
             ROUND(vratio, 6) AS variance_ratio,
             CASE WHEN vratio < 0.8 THEN 0
                  WHEN vratio < 1.0 THEN 1
                  WHEN vratio < 1.2 THEN 2
                  ELSE 3 END AS state
      FROM r WHERE rk = 1
    ),
    cell AS ({_MSSA_CELL_SQL}),
    policy AS (
      SELECT state,
             MAX(CASE WHEN rnk = 1 THEN action END) AS best_action,
             MAX(CASE WHEN rnk = 1 THEN av END) AS q_value,
             MAX(CASE WHEN rnk = 1 THEN support END) AS support
      FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY state
                       ORDER BY av DESC, action ASC) AS rnk FROM cell)
      GROUP BY state
    )
    SELECT st.user_id, st.variance_ratio, st.state,
           CAST(COALESCE(p.best_action, 1) AS INT) AS best_action,
           ROUND(COALESCE(p.q_value, 0.0), 6) AS q_value,
           CAST(COALESCE(p.support, 0) AS BIGINT) AS support,
           CASE WHEN COALESCE(p.support, 0) >= {_MSSA_MIN_SUPPORT}
                THEN 'ready' ELSE 'insufficient_support' END AS policy_status,
           CASE WHEN COALESCE(p.support, 0) >= {_MSSA_MIN_SUPPORT}
                THEN COALESCE(p.best_action, 1)
                ELSE 1 END AS selected_action
    FROM st LEFT JOIN policy p ON st.state = p.state
    """,
)
def mssa_policy_actions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F4 MSSA-RL policy stage — reference `forcester_ts/mssa_rl.py:
    653-664` (`_compute_state_series`: rolling-variance ratio vs baseline
    digitized at bins [0.8, 1.0, 1.2]) and `:700-800` (Q-table lookup
    with `min_policy_state_support` gating; under-supported states fall
    back to the neutral HOLD action 1).

    Spark-first shape: the Q-table is LEARNED by `mssa_q_iteration`'s
    experience aggregation (shared staged table) and joined as a tiny
    broadcast dimension on the discretized state — at 100 TB the fact
    side shuffles zero bytes for the policy lookup; states the
    experience never visited fall back to HOLD with status
    insufficient_support, exactly the reference's unready-policy path. Cross-engine exactness: returns are
    quantized to integers (FLOOR(x·1e6 + 0.5), bit-identical in both
    engines) so windowed variance comes from EXACT integer sums and the
    digitize thresholds cannot flip between Spark and DuckDB kernels
    (simple returns, not log returns: LN differs by 1 ulp across libm)."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("value") > 0)
    wp = Window.partitionBy("user_id").orderBy("ts", "event_id")
    s0 = ev.select(
        "user_id",
        F.row_number().over(wp).alias("rn"),
        (F.col("value") / F.lag("value").over(wp) - 1.0).alias("sr"),
    ).filter(F.col("sr").isNotNull())
    # P9 sanity clamp (±1000%) bounds the integer squares so ANSI-mode
    # window sums cannot overflow on pathological return outliers
    sr_c = F.least(F.greatest(F.col("sr"), F.lit(-10.0)), F.lit(10.0))
    q = s0.select(
        "user_id",
        "rn",
        F.floor(sr_c * 1000000.0 + 0.5).cast("bigint").alias("qr"),
    )
    wr = Window.partitionBy("user_id").orderBy("rn").rowsBetween(-9, 0)
    w = q.select(
        "user_id",
        "rn",
        F.count(F.lit(1)).over(wr).alias("wn"),
        F.sum("qr").over(wr).alias("ws"),
        F.sum(F.col("qr") * F.col("qr")).over(wr).alias("wss"),
    )
    base = (
        q.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("bn"),
            F.sum("qr").alias("bs"),
            F.sum(F.col("qr") * F.col("qr")).alias("bss"),
        )
        .filter(F.col("bn") > 20)
    )
    bvar_num = F.col("bss") - F.col("bs").cast("double") * F.col("bs") / F.col("bn")
    wvar = (F.col("wss") - F.col("ws").cast("double") * F.col("ws") / F.col("wn")) / (
        F.col("wn") - 1
    )
    r = (
        w.join(base, "user_id")
        .select(
            "user_id",
            "rn",
            F.when((F.col("wn") < 5) | (bvar_num <= 0), F.lit(1.0))
            .otherwise(wvar / (bvar_num / (F.col("bn") - 1)))
            .alias("vratio"),
        )
        .withColumn(
            "rk",
            F.row_number().over(Window.partitionBy("user_id").orderBy(F.desc("rn"))),
        )
    )
    vr = F.col("vratio")
    st = r.filter(F.col("rk") == 1).select(
        "user_id",
        r6(vr).alias("variance_ratio"),
        F.when(vr < 0.8, 0)
        .when(vr < 1.0, 1)
        .when(vr < 1.2, 2)
        .otherwise(3)
        .alias("state"),
    )
    # the LEARNED policy from the staged experience table (the output of
    # mssa_q_iteration's learning pass) — a tiny broadcast dimension
    rew = _mssa_rewards(spark, sf_dir)
    cell = rew.groupBy("state", "action").agg(
        F.count(F.lit(1)).alias("support"), F.avg("reward").alias("av")
    )
    wst = Window.partitionBy("state").orderBy(F.desc("av"), F.asc("action"))
    policy = (
        cell.withColumn("rnk", F.row_number().over(wst))
        .filter(F.col("rnk") == 1)
        .select(
            "state",
            F.col("action").cast("int").alias("best_action"),
            F.col("av").alias("q_value"),
            "support",
        )
    )
    ready = F.coalesce(F.col("support"), F.lit(0)) >= _MSSA_MIN_SUPPORT
    return st.join(F.broadcast(policy), "state", "left").select(
        "user_id",
        "variance_ratio",
        "state",
        F.coalesce(F.col("best_action"), F.lit(1)).cast("int").alias("best_action"),
        r6(F.coalesce(F.col("q_value"), F.lit(0.0))).alias("q_value"),
        F.coalesce(F.col("support"), F.lit(0)).cast("long").alias("support"),
        F.when(ready, "ready").otherwise("insufficient_support").alias("policy_status"),
        F.when(ready, F.coalesce(F.col("best_action"), F.lit(1)))
        .otherwise(F.lit(1))
        .cast("int")
        .alias("selected_action"),
    )


# ---------------------------------------------------------------------------
# Dataset-analyzer diagnostics: ACF with significance flags
# ---------------------------------------------------------------------------

_ACF_NLAGS = 20


@session_frame_cache
def _acf_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-key biased ACF at lags 1.._ACF_NLAGS: (user_id, lag, rho, n).

    Memoized + materialized (keys x 20 lags rows): the ACF pipeline (the
    lag self-join + per-key stats) previously re-executed inside BOTH
    consumers (acf_significant_lags, pacf_durbin_levinson); now it runs
    once per session (optimization round 12, guide §2.4)."""
    s = _series(spark, sf_dir).select("user_id", "rn", "value")
    st = s.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.avg("value").alias("mu"),
        (
            F.sum(F.col("value") * F.col("value"))
            - F.sum("value") * F.sum("value") / F.count(F.lit(1))
        ).alias("ssd"),
    )
    left = s.select("user_id", F.col("rn").alias("rn_t"), F.col("value").alias("y_t"))
    # the lags dimension is exploded in-row (no join node, no broadcast
    # nested loop); the per-key stats join is UNHINTED — st has one row
    # per key, which is broadcastable at test scale but corpus-keyed at
    # 100 TB, so AQE must make the call
    probe = s.select(
        "user_id",
        "rn",
        F.col("value").alias("y_s"),
        F.explode(F.sequence(F.lit(1), F.lit(_ACF_NLAGS))).alias("lag"),
    ).select("user_id", "lag", (F.col("rn") + F.col("lag")).alias("rn_t"), "y_s")
    pairs = left.join(probe, ["user_id", "rn_t"])
    return (
        pairs.join(st, "user_id")
        .groupBy("user_id", "lag")
        .agg(
            (
                F.sum((F.col("y_t") - F.col("mu")) * (F.col("y_s") - F.col("mu")))
                / F.max("ssd")
            ).alias("rho"),
            F.max("n").alias("n"),
        )
        .localCheckpoint(eager=False)
    )


@query(
    "acf_significant_lags",
    oracle=f"""
    WITH s AS ({_S_SQL}),
    st AS (
      SELECT user_id, COUNT(*) AS n, AVG(value) AS mu,
             SUM(value * value) - SUM(value) * SUM(value) / COUNT(*) AS ssd
      FROM s GROUP BY user_id
    ),
    shifted AS (
      SELECT a.user_id, i.lag, a.value AS y_t, b.value AS y_s
      FROM s a
      JOIN (SELECT UNNEST(RANGE(1, {_ACF_NLAGS + 1})) AS lag) i ON TRUE
      JOIN s b ON b.user_id = a.user_id AND b.rn + i.lag = a.rn
    ),
    acf AS (
      SELECT sh.user_id, sh.lag,
             SUM((sh.y_t - st.mu) * (sh.y_s - st.mu)) / MAX(st.ssd) AS rho,
             MAX(st.n) AS n
      FROM shifted sh JOIN st ON st.user_id = sh.user_id
      GROUP BY sh.user_id, sh.lag
    )
    SELECT user_id, CAST(lag AS INT) AS lag,
           ROUND(rho, 6) AS acf,
           ROUND(1.96 / SQRT(n), 6) AS conf_int,
           CAST(CASE WHEN ABS(rho) > 1.96 / SQRT(n) THEN 1 ELSE 0 END AS INT)
             AS is_significant
    FROM acf
    """,
)
def acf_significant_lags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset-analyzer autocorrelation profile — reference
    `etl/time_series_analyzer.py:388-437` (`compute_autocorrelation`):
    per-key ACF at lags 1..20 with the biased (statsmodels-default)
    estimator rho(k) = sum_t>k (y_t - mu)(y_t-k - mu) / sum_t (y_t - mu)^2,
    the 1.96/sqrt(n) 95% band, and the significant-lag flag the reference
    reports.

    Plan: per-key mean/ssd is ONE aggregate (broadcast back); the lagged
    pairs come from a single co-partitioned self-equijoin on
    (user_id, rn - lag) with the 20-row lags dim broadcast onto the
    probe side — rn is dense per key, so the join is exact. Both sides
    shuffle once on user_id (AQE can co-locate them); pair count is
    nlags x n rows, linear in the fact, never quadratic. Spark's lag()
    window needs a literal offset, so the join IS the idiomatic
    variable-lag formulation."""
    acf = _acf_frame(spark, sf_dir)
    ci = 1.96 / F.sqrt(F.col("n"))
    return acf.select(
        "user_id",
        "lag",
        r6(F.col("rho")).alias("acf"),
        r6(ci).alias("conf_int"),
        F.when(F.abs(F.col("rho")) > ci, 1).otherwise(0).cast("int").alias(
            "is_significant"
        ),
    )


# ---------------------------------------------------------------------------
# PACF via Durbin-Levinson on the per-key ACF vector
# ---------------------------------------------------------------------------

_PACF_NLAGS = 10


@query(
    "pacf_durbin_levinson",
    oracle=f"""
    WITH RECURSIVE s AS ({_S_SQL}),
    st AS (
      SELECT user_id, COUNT(*) AS n, AVG(value) AS mu,
             SUM(value * value) - SUM(value) * SUM(value) / COUNT(*) AS ssd
      FROM s GROUP BY user_id
    ),
    shifted AS (
      SELECT a.user_id, i.lag, a.value AS y_t, b.value AS y_s
      FROM s a
      JOIN (SELECT UNNEST(RANGE(1, {_ACF_NLAGS + 1})) AS lag) i ON TRUE
      JOIN s b ON b.user_id = a.user_id AND b.rn + i.lag = a.rn
    ),
    acf AS (
      SELECT sh.user_id, sh.lag,
             ROUND(SUM((sh.y_t - st.mu) * (sh.y_s - st.mu)) / MAX(st.ssd), 6)
               AS rho,
             MAX(st.n) AS n
      FROM shifted sh JOIN st ON st.user_id = sh.user_id
      GROUP BY sh.user_id, sh.lag
    ),
    rhov AS (
      SELECT user_id, LIST(rho ORDER BY lag) AS rho, MAX(n) AS n
      FROM acf GROUP BY user_id
    ),
    dl AS (
      SELECT user_id, 1 AS k, [rho[1]] AS phi, rho[1] AS pacf, rho, n
      FROM rhov
      UNION ALL
      SELECT d.user_id, d.k + 1,
             list_concat(
               list_transform(range(1, d.k + 1),
                              j -> d.phi[j] - l.pk * d.phi[d.k + 1 - j]),
               [l.pk]) AS phi,
             l.pk AS pacf, d.rho, d.n
      FROM dl d, LATERAL (
        SELECT (d.rho[d.k + 1]
                - list_sum(list_transform(range(1, d.k + 1),
                                          j -> d.phi[j] * d.rho[d.k + 1 - j])))
               / (1 - list_sum(list_transform(range(1, d.k + 1),
                                              j -> d.phi[j] * d.rho[j]))) AS pk
      ) l
      WHERE d.k < {_PACF_NLAGS}
    )
    SELECT user_id, CAST(k AS INT) AS lag, ROUND(pacf, 6) AS pacf,
           ROUND(1.96 / SQRT(n), 6) AS conf_int,
           CAST(CASE WHEN ABS(pacf) > 1.96 / SQRT(n) THEN 1 ELSE 0 END AS INT)
             AS is_significant
    FROM dl
    """,
)
def pacf_durbin_levinson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial autocorrelation at lags 1..10 via the Durbin-Levinson
    recursion on the per-key ACF vector — reference
    `etl/time_series_analyzer.py:388-437` (statsmodels `pacf`; this is
    the Yule-Walker variant on the biased ACF, which keeps |pacf| <= 1
    by construction), with the same 1.96/sqrt(n) significance band.

    The recursion input is the ROUNDED ACF (6 dp) on both engines, so
    the DL iterations start from bit-identical values. Spark runs DL as
    ten successive narrow projections over an array column — each step
    materializes pacf_k as a column, so the expression tree stays linear
    in the lag count (naive inlining is 3^k) and everything remains
    JVM-side whole-stage codegen: zip_with/reverse/aggregate, no UDF.
    One row per key; the oracle replays the identical recursion as a
    recursive CTE over DuckDB lists."""
    acf = _acf_frame(spark, sf_dir)
    rhov = acf.groupBy("user_id").agg(
        F.transform(
            F.array_sort(
                F.collect_list(F.struct(F.col("lag"), r6(F.col("rho")).alias("r")))
            ),
            lambda x: x["r"],
        ).alias("rho"),
        F.max("n").alias("n"),
    )
    df = rhov.select(
        "user_id",
        "n",
        "rho",
        F.element_at("rho", 1).alias("pacf1"),
        F.array(F.element_at("rho", 1)).alias("phi"),
    )
    for k in range(1, _PACF_NLAGS):
        rho, phi = F.col("rho"), F.col("phi")
        num = F.element_at(rho, k + 1) - F.aggregate(
            F.zip_with(phi, F.reverse(F.slice(rho, 1, k)), lambda a, b: a * b),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        den = F.lit(1.0) - F.aggregate(
            F.zip_with(phi, F.slice(rho, 1, k), lambda a, b: a * b),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        df = df.withColumn(f"pacf{k + 1}", num / den)
        pk = F.col(f"pacf{k + 1}")
        df = df.withColumn(
            "phi",
            F.concat(
                F.zip_with(phi, F.reverse(phi), lambda a, b: a - pk * b),
                F.array(pk),
            ),
        )
    stack = ", ".join(f"{k}, pacf{k}" for k in range(1, _PACF_NLAGS + 1))
    long = df.select(
        "user_id",
        "n",
        F.expr(f"stack({_PACF_NLAGS}, {stack}) as (lag, pacf)"),
    )
    ci = 1.96 / F.sqrt(F.col("n"))
    return long.select(
        "user_id",
        F.col("lag").cast("int").alias("lag"),
        r6(F.col("pacf")).alias("pacf"),
        r6(ci).alias("conf_int"),
        F.when(F.abs(F.col("pacf")) > ci, 1).otherwise(0).cast("int").alias(
            "is_significant"
        ),
    )


# ---------------------------------------------------------------------------
# VIF screening of SARIMAX exogenous features (closed-form, fully unrolled)
# ---------------------------------------------------------------------------

# Reference `forcester_ts/forecaster.py:403-478` (`_drop_high_vif_features`):
# iteratively drop the highest-VIF feature until all VIFs <= 10, keeping at
# most max_features=3 columns. Because the cap is enforced BEFORE VIF is
# computed, the loop only ever sees <= 3 features — so every VIF is a
# function of the three pairwise correlations (R^2 of one feature on the
# other two has a closed form), and the whole while-loop unrolls into two
# CASE stages: at most one drop from 3 features, then at most one drop from
# the surviving pair (reference `vifs.index(max_vif)` keeps the FIRST
# argmax — ties resolve to the lower original column index).
_VIF_THRESHOLD = 10.0


@query(
    "vif_exog_screening",
    oracle=f"""
    WITH s AS ({_S_SQL}),
    f AS (
      SELECT user_id,
             AVG(value) OVER (PARTITION BY user_id ORDER BY rn
                              ROWS BETWEEN 8 PRECEDING AND CURRENT ROW)
               AS x1,
             AVG(value) OVER (PARTITION BY user_id ORDER BY rn
                              ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)
               AS x2,
             STDDEV_SAMP(lr) OVER (PARTITION BY user_id ORDER BY rn
                                   ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
               AS x3,
             rn
      FROM s
      QUALIFY rn >= 21
    ),
    c AS (
      SELECT user_id, COUNT(*) AS n,
             CORR(x1, x2) AS r12, CORR(x1, x3) AS r13, CORR(x2, x3) AS r23
      FROM f GROUP BY user_id
      HAVING COUNT(*) >= 20
         AND CORR(x1, x2) IS NOT NULL AND CORR(x1, x3) IS NOT NULL
         AND CORR(x2, x3) IS NOT NULL
    ),
    v AS (
      SELECT *,
             1.0 / (1.0 - (r12*r12 + r13*r13 - 2*r12*r13*r23) / (1.0 - r23*r23))
               AS vif1,
             1.0 / (1.0 - (r12*r12 + r23*r23 - 2*r12*r23*r13) / (1.0 - r13*r13))
               AS vif2,
             1.0 / (1.0 - (r13*r13 + r23*r23 - 2*r13*r23*r12) / (1.0 - r12*r12))
               AS vif3
      FROM c
    ),
    d1 AS (
      SELECT *,
             CASE WHEN GREATEST(vif1, vif2, vif3) <= {_VIF_THRESHOLD} THEN 0
                  WHEN vif1 >= vif2 AND vif1 >= vif3 THEN 1
                  WHEN vif2 >= vif3 THEN 2
                  ELSE 3 END AS drop1
      FROM v
    ),
    d2 AS (
      SELECT *,
             CASE drop1 WHEN 0 THEN NULL
                        WHEN 1 THEN 1.0 / (1.0 - r23*r23)
                        WHEN 2 THEN 1.0 / (1.0 - r13*r13)
                        ELSE 1.0 / (1.0 - r12*r12) END AS vif_pair,
             CASE WHEN drop1 = 0 THEN 0
                  WHEN (CASE drop1 WHEN 1 THEN 1.0 / (1.0 - r23*r23)
                                   WHEN 2 THEN 1.0 / (1.0 - r13*r13)
                                   ELSE 1.0 / (1.0 - r12*r12) END)
                       <= {_VIF_THRESHOLD} THEN 0
                  WHEN drop1 = 1 THEN 2
                  ELSE 1 END AS drop2
      FROM d1
    )
    SELECT user_id, n,
           ROUND(r12, 6) AS r12, ROUND(r13, 6) AS r13, ROUND(r23, 6) AS r23,
           ROUND(vif1, 6) AS vif_ma9,
           ROUND(vif2, 6) AS vif_ma10,
           ROUND(vif3, 6) AS vif_vol20,
           CASE drop1 WHEN 0 THEN 'none' WHEN 1 THEN 'ma9'
                      WHEN 2 THEN 'ma10' ELSE 'vol20' END AS dropped_first,
           ROUND(vif_pair, 6) AS vif_pair,
           CASE drop2 WHEN 0 THEN 'none' WHEN 1 THEN 'ma9'
                      WHEN 2 THEN 'ma10' ELSE 'vol20' END AS dropped_second,
           CONCAT_WS(',',
             CASE WHEN drop1 <> 1 AND drop2 <> 1 THEN 'ma9' END,
             CASE WHEN drop1 <> 2 AND drop2 <> 2 THEN 'ma10' END,
             CASE WHEN drop1 <> 3 AND drop2 <> 3 THEN 'vol20' END)
             AS kept_features,
           3 - CASE WHEN drop1 = 0 THEN 0 ELSE 1 END
             - CASE WHEN drop2 = 0 THEN 0 ELSE 1 END AS n_kept
    FROM d2
    """,
)
def vif_exog_screening(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Phase-8.4 VIF screening of the SARIMAX exogenous design —
    reference `forcester_ts/forecaster.py:403-478`
    (`_drop_high_vif_features`): drop the highest-VIF feature until all
    VIFs <= 10, max 3 features kept. The reference applies the
    max-features cap BEFORE computing VIF, so the screen only ever sees 3
    columns — VIF_i = 1/(1 - R^2_i) where R^2 of one feature regressed on
    the other two is closed-form in the three pairwise correlations, and
    the while-loop fully unrolls: one possible drop from {{ma9, ma10,
    vol20}}, then one possible drop from the surviving pair (first-argmax
    tie order preserved). The trailing MA pair is genuinely collinear on
    wandering series (|r| often > 0.95 <=> VIF > 10) so both the drop and
    the keep-all branches fire on real data.

    Scale: one window pass + one CORR aggregation per user —
    key-cardinality output, no UDF, no iteration at runtime."""
    s = _series(spark, sf_dir)
    f = s.select(
        "user_id",
        "rn",
        F.avg("value").over(_w((-8, 0))).alias("x1"),
        F.avg("value").over(_w((-9, 0))).alias("x2"),
        F.stddev_samp("lr").over(_w((-19, 0))).alias("x3"),
    ).filter(F.col("rn") >= 21)
    c = (
        f.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.corr("x1", "x2").alias("r12"),
            F.corr("x1", "x3").alias("r13"),
            F.corr("x2", "x3").alias("r23"),
        )
        .filter(
            (F.col("n") >= 20)
            & F.col("r12").isNotNull()
            & F.col("r13").isNotNull()
            & F.col("r23").isNotNull()
        )
    )
    r12, r13, r23 = F.col("r12"), F.col("r13"), F.col("r23")
    v = c.select(
        "*",
        (1.0 / (1.0 - (r12 * r12 + r13 * r13 - 2 * r12 * r13 * r23) / (1.0 - r23 * r23))).alias("vif1"),
        (1.0 / (1.0 - (r12 * r12 + r23 * r23 - 2 * r12 * r23 * r13) / (1.0 - r13 * r13))).alias("vif2"),
        (1.0 / (1.0 - (r13 * r13 + r23 * r23 - 2 * r13 * r23 * r12) / (1.0 - r12 * r12))).alias("vif3"),
    )
    vif1, vif2, vif3 = F.col("vif1"), F.col("vif2"), F.col("vif3")
    d1 = v.withColumn(
        "drop1",
        F.when(F.greatest(vif1, vif2, vif3) <= _VIF_THRESHOLD, 0)
        .when((vif1 >= vif2) & (vif1 >= vif3), 1)
        .when(vif2 >= vif3, 2)
        .otherwise(3),
    )
    pair_vif = (
        F.when(F.col("drop1") == 0, F.lit(None).cast("double"))
        .when(F.col("drop1") == 1, 1.0 / (1.0 - r23 * r23))
        .when(F.col("drop1") == 2, 1.0 / (1.0 - r13 * r13))
        .otherwise(1.0 / (1.0 - r12 * r12))
    )
    d2 = d1.withColumn("vif_pair", pair_vif).withColumn(
        "drop2",
        F.when(F.col("drop1") == 0, 0)
        .when(F.col("vif_pair") <= _VIF_THRESHOLD, 0)
        .when(F.col("drop1") == 1, 2)
        .otherwise(1),
    )

    def fname(col):
        return (
            F.when(F.col(col) == 0, "none")
            .when(F.col(col) == 1, "ma9")
            .when(F.col(col) == 2, "ma10")
            .otherwise("vol20")
        )

    def kept(idx, name):
        return F.when(
            (F.col("drop1") != idx) & (F.col("drop2") != idx), name
        )

    return d2.select(
        "user_id",
        "n",
        r6(r12).alias("r12"),
        r6(r13).alias("r13"),
        r6(r23).alias("r23"),
        r6(vif1).alias("vif_ma9"),
        r6(vif2).alias("vif_ma10"),
        r6(vif3).alias("vif_vol20"),
        fname("drop1").alias("dropped_first"),
        r6(F.col("vif_pair")).alias("vif_pair"),
        fname("drop2").alias("dropped_second"),
        F.concat_ws(
            ",", kept(1, "ma9"), kept(2, "ma10"), kept(3, "vol20")
        ).alias("kept_features"),
        (
            F.lit(3)
            - F.when(F.col("drop1") == 0, 0).otherwise(1)
            - F.when(F.col("drop2") == 0, 0).otherwise(1)
        ).alias("n_kept"),
    )


# ---------------------------------------------------------------------------
# Joint ADF+KPSS stationarity verdict (Phase 8.3 series diagnostics)
# ---------------------------------------------------------------------------


@query(
    "stationarity_verdict",
    oracle=f"""
    WITH s AS ({_S_SQL}),
    u AS (
      SELECT user_id, rn, 'level' AS series, value AS y FROM s
      UNION ALL
      SELECT user_id, rn, 'log_return' AS series, lr AS y
      FROM s WHERE lr IS NOT NULL
    ),
    d AS (
      SELECT user_id, series, rn, y,
             y - LAG(y) OVER wp AS dy,
             LAG(y) OVER wp AS ylag,
             y - AVG(y) OVER (PARTITION BY user_id, series) AS e
      FROM u WINDOW wp AS (PARTITION BY user_id, series ORDER BY rn)
    ),
    cum AS (
      SELECT *,
             LAG(e, 1) OVER wp AS e1, LAG(e, 2) OVER wp AS e2,
             LAG(e, 3) OVER wp AS e3, LAG(e, 4) OVER wp AS e4,
             SUM(e) OVER (PARTITION BY user_id, series ORDER BY rn
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s_t
      FROM d WINDOW wp AS (PARTITION BY user_id, series ORDER BY rn)
    ),
    agg AS (
      SELECT user_id, series, COUNT(*) AS n,
             COUNT(dy) AS n_adf,
             REGR_SLOPE(dy, ylag) AS beta,
             REGR_SXX(dy, ylag) AS sxx,
             REGR_SYY(dy, ylag) AS syy,
             SUM(s_t * s_t) AS ss,
             AVG(e * e) AS g0,
             AVG(CASE WHEN e1 IS NOT NULL THEN e * e1 END) AS g1,
             AVG(CASE WHEN e2 IS NOT NULL THEN e * e2 END) AS g2,
             AVG(CASE WHEN e3 IS NOT NULL THEN e * e3 END) AS g3,
             AVG(CASE WHEN e4 IS NOT NULL THEN e * e4 END) AS g4
      FROM cum GROUP BY user_id, series HAVING COUNT(dy) > 20
    ),
    stats AS (
      SELECT user_id, series, n,
             beta / SQRT(((syy - beta * beta * sxx) / (n_adf - 2))
                         / NULLIF(sxx, 0)) AS tau,
             ss / (CAST(n AS DOUBLE) * n)
               / NULLIF(g0 + 2 * (0.8*g1 + 0.6*g2 + 0.4*g3 + 0.2*g4), 0)
               AS eta
      FROM agg
    ),
    verd AS (
      SELECT user_id, series, n, tau, eta,
             CASE WHEN tau < -2.89 THEN 1 ELSE 0 END AS adf_stationary,
             CASE WHEN eta > 0.463 THEN 0 ELSE 1 END AS kpss_stationary
      FROM stats
    )
    SELECT user_id, series, n,
           ROUND(tau, 6) AS df_stat,
           ROUND(eta, 6) AS kpss_stat,
           adf_stationary, kpss_stationary,
           CASE WHEN adf_stationary = 1 AND kpss_stationary = 1
                THEN 'stationary'
                WHEN adf_stationary = 0 AND kpss_stationary = 0
                THEN 'non_stationary'
                ELSE 'conflicted' END AS stationarity_verdict,
           CASE WHEN adf_stationary = 1 AND kpss_stationary = 1
                THEN 0 ELSE 1 END AS force_difference
    FROM verd
    """,
)
def stationarity_verdict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Phase-8.3 joint stationarity verdict — reference
    `forcester_ts/forecaster.py:646-669` (`_capture_series_diagnostics`):
    ADF (H0 = unit root; reject -> stationary) and KPSS (H0 = stationary;
    reject -> non-stationary) at the 5% level combine into
    stationary / non_stationary / conflicted, where disagreement is
    treated as a likely structural break and conservatively forces
    differencing (`force_difference`). Run per user on BOTH the level
    series and the log-return series (the two series the pipeline feeds
    through diagnostics), so all three verdict branches occur: levels
    wander (non_stationary), returns are stationary, and the boundary
    cases conflict. Test statistics are the engine's own closed forms
    (`adf_test`, `kpss_test` above) over a two-branch UNION frame —
    one window pass per (user, series), no UDF."""
    s = _series(spark, sf_dir)
    u = s.select(
        "user_id", "rn", F.lit("level").alias("series"), F.col("value").alias("y")
    ).unionAll(
        s.filter(F.col("lr").isNotNull()).select(
            "user_id", "rn", F.lit("log_return").alias("series"),
            F.col("lr").alias("y"),
        )
    )
    wp = Window.partitionBy("user_id", "series").orderBy("rn")
    wg = Window.partitionBy("user_id", "series")
    d = u.select(
        "user_id",
        "series",
        "rn",
        "y",
        (F.col("y") - F.lag("y").over(wp)).alias("dy"),
        F.lag("y").over(wp).alias("ylag"),
        (F.col("y") - F.avg("y").over(wg)).alias("e"),
    )
    cum = d.select(
        "*",
        *[F.lag("e", j).over(wp).alias(f"e{j}") for j in range(1, 5)],
        F.sum("e").over(wp.rowsBetween(Window.unboundedPreceding, 0)).alias("s_t"),
    )
    agg = (
        cum.groupBy("user_id", "series")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count("dy").alias("n_adf"),
            F.regr_slope("dy", "ylag").alias("beta"),
            F.regr_sxx("dy", "ylag").alias("sxx"),
            F.regr_syy("dy", "ylag").alias("syy"),
            F.sum(F.col("s_t") * F.col("s_t")).alias("ss"),
            F.avg(F.col("e") * F.col("e")).alias("g0"),
            *[
                F.avg(
                    F.when(
                        F.col(f"e{j}").isNotNull(), F.col("e") * F.col(f"e{j}")
                    )
                ).alias(f"g{j}")
                for j in range(1, 5)
            ],
        )
        .filter(F.col("n_adf") > 20)
    )
    beta, sxx, syy = F.col("beta"), F.col("sxx"), F.col("syy")
    tau = beta / F.sqrt(
        ((syy - beta * beta * sxx) / (F.col("n_adf") - 2))
        / F.nullif(sxx, F.lit(0.0))
    )
    nd = F.col("n").cast("double")
    lrv = F.col("g0") + 2 * (
        0.8 * F.col("g1") + 0.6 * F.col("g2") + 0.4 * F.col("g3") + 0.2 * F.col("g4")
    )
    eta = F.col("ss") / (nd * nd) / F.nullif(lrv, F.lit(0.0))
    verd = agg.select(
        "user_id",
        "series",
        "n",
        tau.alias("tau"),
        eta.alias("eta"),
        F.when(tau < -2.89, 1).otherwise(0).alias("adf_stationary"),
        F.when(eta > 0.463, 0).otherwise(1).alias("kpss_stationary"),
    )
    both = (F.col("adf_stationary") == 1) & (F.col("kpss_stationary") == 1)
    neither = (F.col("adf_stationary") == 0) & (F.col("kpss_stationary") == 0)
    return verd.select(
        "user_id",
        "series",
        "n",
        r6(F.col("tau")).alias("df_stat"),
        r6(F.col("eta")).alias("kpss_stat"),
        "adf_stationary",
        "kpss_stationary",
        F.when(both, "stationary")
        .when(neither, "non_stationary")
        .otherwise("conflicted")
        .alias("stationarity_verdict"),
        F.when(both, 0).otherwise(1).alias("force_difference"),
    )


# ---------------------------------------------------------------------------
# Strategy significance vs the equal-weight benchmark (NW sqrt-n lags)
# ---------------------------------------------------------------------------


@query(
    "strategy_significance_test",
    oracle=f"""
    WITH s AS ({_S_SQL}),
    r AS (SELECT user_id, rn, lr FROM s WHERE lr IS NOT NULL),
    bench AS (
      SELECT rn, AVG(lr) AS blr FROM r GROUP BY rn
    ),
    diff AS (
      SELECT r.user_id, r.rn, r.lr - b.blr AS df,
             POWER(r.lr - b.blr, 2) AS d
      FROM r JOIN bench b ON b.rn = r.rn
    ),
    ctr AS (
      SELECT user_id, rn, df, d,
             AVG(d) OVER (PARTITION BY user_id) AS db
      FROM diff
    ),
    lagd AS (
      SELECT user_id, rn, df, d, db, d - db AS c,
             {', '.join(f"LAG(d - db, {k}) OVER (PARTITION BY user_id ORDER BY rn) AS c{k}" for k in range(1, 10))}
      FROM ctr
    ),
    agg AS (
      SELECT user_id, COUNT(*) AS n, ANY_VALUE(db) AS mean_d,
             AVG(df) AS mu_diff,
             STDDEV_POP(df) AS sd_diff,
             SUM(c * c) AS g0s,
             {', '.join(f"SUM(CASE WHEN c{k} IS NOT NULL THEN c * c{k} END) AS g{k}s" for k in range(1, 10))}
      FROM lagd GROUP BY user_id HAVING COUNT(*) >= 3
    ),
    nw AS (
      SELECT user_id, n, mean_d, mu_diff, sd_diff,
             CAST(FLOOR(SQRT(n)) AS INTEGER) AS lag,
             GREATEST(
               g0s / n + {' + '.join(f"CASE WHEN {k} <= CAST(FLOOR(SQRT(n)) AS INTEGER) AND g0s > 0 THEN 2.0 * (1.0 - {k} / (CAST(FLOOR(SQRT(n)) AS INTEGER) + 1.0)) * COALESCE(g{k}s, 0.0) / n ELSE 0.0 END" for k in range(1, 10))},
               1e-12) AS nw_var
      FROM agg
    ),
    tt AS (
      SELECT user_id, n, lag, mean_d, mu_diff, sd_diff,
             mean_d / SQRT(nw_var / n) AS t_stat
      FROM nw
    )
    SELECT user_id, n, lag AS nw_lags,
           ROUND(mean_d, 6) AS mean_sq_diff,
           ROUND(mu_diff / CASE WHEN sd_diff = 0 THEN 1e-12 ELSE sd_diff END,
                 6) AS information_ratio,
           ROUND(t_stat, 6) AS t_stat,
           ROUND({chi2_sf1_sql("t_stat * t_stat")}, 6) AS p_normal,
           CASE WHEN {chi2_sf1_sql("t_stat * t_stat")} < 0.05
                THEN 1 ELSE 0 END AS significant,
           CASE WHEN {chi2_sf1_sql("t_stat * t_stat")} < 0.05
                THEN CASE WHEN mean_d < 0 THEN 'model_1' ELSE 'model_2' END
                END AS better_model
    FROM tt
    """,
)
def strategy_significance_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strategy significance vs the equal-weight universe benchmark —
    reference `etl/statistical_tests.py:193-218` (`test_strategy_
    significance`, benchmark arm): information ratio of the return
    differential (population std, numpy's default), then the reference's
    `diebold_mariano(diff, zeros)` call — squared loss makes the loss
    differential diff^2 vs 0, so the test asks whether the mean SQUARED
    deviation exceeds zero (faithfully replicated, degeneracy and all:
    mean_d >= 0 forces better_model='model_2' whenever significant).
    The Newey-West variance uses the reference's floor(sqrt(n)) lag rule
    with Bartlett weights (`:78-90`), unrolled to the 9 lags the data's
    series lengths can reach. p-value is the two-sided NORMAL
    approximation via erfc — the reference uses the Student-t CDF
    (`:93-94`); at the n >= 40 typical here the approximation moves the
    0.05 boundary by < 0.007 and the exact t statistic is emitted for
    audit. One benchmark aggregation + one window pass per key."""
    s = _series(spark, sf_dir).filter(F.col("lr").isNotNull())
    bench = s.groupBy("rn").agg(F.avg("lr").alias("blr"))
    diff = s.join(bench, "rn").select(
        "user_id",
        "rn",
        (F.col("lr") - F.col("blr")).alias("df"),
        F.pow(F.col("lr") - F.col("blr"), 2).alias("d"),
    )
    wu = Window.partitionBy("user_id")
    wo = Window.partitionBy("user_id").orderBy("rn")
    ctr = diff.select(
        "user_id", "rn", "df", "d", F.avg("d").over(wu).alias("db")
    )
    lagd = ctr.select(
        "*",
        (F.col("d") - F.col("db")).alias("c"),
        *[
            F.lag(F.col("d") - F.col("db"), k).over(wo).alias(f"c{k}")
            for k in range(1, 10)
        ],
    )
    agg = (
        lagd.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.any_value("db").alias("mean_d"),
            F.avg("df").alias("mu_diff"),
            F.stddev_pop("df").alias("sd_diff"),
            F.sum(F.col("c") * F.col("c")).alias("g0s"),
            *[
                F.sum(
                    F.when(
                        F.col(f"c{k}").isNotNull(), F.col("c") * F.col(f"c{k}")
                    )
                ).alias(f"g{k}s")
                for k in range(1, 10)
            ],
        )
        .filter(F.col("n") >= 3)
    )
    n = F.col("n")
    lag = F.floor(F.sqrt(n)).cast("int")
    nw_var = F.col("g0s") / n
    for k in range(1, 10):
        nw_var = nw_var + (
            F.when(
                (F.lit(k) <= lag) & (F.col("g0s") > 0),
                2.0
                * (1.0 - k / (lag + 1.0))
                * F.coalesce(F.col(f"g{k}s"), F.lit(0.0))
                / n,
            ).otherwise(F.lit(0.0))
        )
    nw_var = F.greatest(nw_var, F.lit(1e-12))
    t = F.col("mean_d") / F.sqrt(nw_var / n)
    sd = F.when(F.col("sd_diff") == 0, 1e-12).otherwise(F.col("sd_diff"))
    # two-sided normal p through the portable A&S helper:
    # chi2_sf1(t^2) = erfc(|t|/sqrt(2))
    p = chi2_sf1(t * t)
    return agg.select(
        "user_id",
        "n",
        lag.alias("nw_lags"),
        r6(F.col("mean_d")).alias("mean_sq_diff"),
        r6(F.col("mu_diff") / sd).alias("information_ratio"),
        r6(t).alias("t_stat"),
        r6(p).alias("p_normal"),
        F.when(p < 0.05, 1).otherwise(0).alias("significant"),
        F.when(
            p < 0.05,
            F.when(F.col("mean_d") < 0, "model_1").otherwise("model_2"),
        ).alias("better_model"),
    )


# ---------------------------------------------------------------------------
# Spectral density profile (periodogram)
# ---------------------------------------------------------------------------


@query(
    "spectral_density_profile",
    oracle=f"""
    WITH s AS ({_S_SQL}),
    x AS (
      SELECT user_id, rn, value,
             value - AVG(value) OVER (PARTITION BY user_id) AS xc,
             COUNT(*) OVER (PARTITION BY user_id) AS n
      FROM s
    ),
    freqs AS (
      SELECT DISTINCT user_id, n, k
      FROM x, (SELECT UNNEST(RANGE(1, 201)) AS k)
      WHERE k <= n // 2
    ),
    dft AS (
      SELECT f.user_id, f.k, f.n,
             SUM(x.xc * COS(2 * PI() * f.k * (x.rn - 1) / f.n)) AS re,
             SUM(x.xc * SIN(2 * PI() * f.k * (x.rn - 1) / f.n)) AS im
      FROM freqs f
      JOIN x ON x.user_id = f.user_id
      GROUP BY f.user_id, f.k, f.n
    ),
    psd AS (
      SELECT user_id, k, n,
             ROUND(k * 1.0 / n, 6) AS frequency,
             ROUND((re * re + im * im) / n, 6) AS power
      FROM dft
    ),
    dom AS (
      SELECT user_id, k AS dom_k,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY power DESC, k ASC) AS rk
      FROM psd
    )
    SELECT p.user_id, p.k, p.frequency, p.power,
           ROUND(p.n * 1.0 / p.k, 6) AS period,
           CAST(p.k = d.dom_k AS INTEGER) AS is_dominant
    FROM psd p
    JOIN (SELECT user_id, dom_k FROM dom WHERE rk = 1) d
      ON d.user_id = p.user_id
    """,
)
def spectral_density_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequency-domain profile — reference
    `etl/visualizer.py:441-493` (`plot_spectral_density`): the power
    spectral density S(f) = |DFT(x)|^2/n of each key's demeaned series
    at the Fourier frequencies k/n (k = 1..n/2), with the dominant
    frequency flagged (argmax over the rounded powers, smallest-k
    tie-break) and the implied period. The reference plots Welch's
    averaged estimate; the engine computes the single-segment
    (boxcar) periodogram Welch reduces to when nperseg = n —
    documented divergence, the dominant-frequency semantics match.

    Scale: the frequency fan-out is bounded (k <= n/2 <= 200 per key)
    and the DFT sums are per-(key, k) partial aggregations — O(n^2/2)
    work per key with bounded n per key, shuffled once on the key.
    No UDF, no FFT library."""
    s = _series(spark, sf_dir)
    wk = Window.partitionBy("user_id")
    x = s.select(
        "user_id",
        "rn",
        (F.col("value") - F.avg("value").over(wk)).alias("xc"),
        F.count(F.lit(1)).over(wk).alias("n"),
    )
    ks = spark.range(1, 201).select(F.col("id").cast("int").alias("k"))
    freqs = (
        x.select("user_id", "n")
        .distinct()
        .join(F.broadcast(ks), F.col("k") <= F.col("n") / 2)
    )
    dft = (
        freqs.join(x.withColumnRenamed("n", "n2"), "user_id")
        .groupBy("user_id", "k", "n")
        .agg(
            F.sum(
                F.col("xc")
                * F.cos(
                    2 * math.pi * F.col("k") * (F.col("rn") - 1) / F.col("n")
                )
            ).alias("re"),
            F.sum(
                F.col("xc")
                * F.sin(
                    2 * math.pi * F.col("k") * (F.col("rn") - 1) / F.col("n")
                )
            ).alias("im"),
        )
    )
    psd = dft.select(
        "user_id",
        "k",
        "n",
        F.round(F.col("k") / F.col("n"), 6).alias("frequency"),
        F.round(
            (F.col("re") * F.col("re") + F.col("im") * F.col("im"))
            / F.col("n"),
            6,
        ).alias("power"),
    )
    dom = (
        psd.withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("user_id").orderBy(
                    F.col("power").desc(), F.col("k").asc()
                )
            ),
        )
        .filter(F.col("rk") == 1)
        .select("user_id", F.col("k").alias("dom_k"))
    )
    return psd.join(dom, "user_id").select(
        "user_id",
        "k",
        "frequency",
        "power",
        F.round(F.col("n") / F.col("k"), 6).alias("period"),
        (F.col("k") == F.col("dom_k")).cast("int").alias("is_dominant"),
    )


# ---------------------------------------------------------------------------
# Distribution-analysis profile (normal fit + QQ deciles + box-plot fences)
# ---------------------------------------------------------------------------

# Inverse normal CDF (Acklam's rational approximation, |eps| < 1.15e-9) —
# evaluated identically by both engines on the same rational arithmetic.
# Used for the QQ-plot's theoretical quantiles; the reference calls
# scipy.stats.probplot.
_PPF_SQL = """(
  CASE WHEN {p} < 0.02425 THEN
    (((((-7.784894002430293e-03 * q1 - 3.223964580411365e-01) * q1
        - 2.400758277161838e+00) * q1 - 2.549732539343734e+00) * q1
        + 4.374664141464968e+00) * q1 + 2.938163982698783e+00)
    / ((((7.784695709041462e-03 * q1 + 3.224671290700398e-01) * q1
        + 2.445134137142996e+00) * q1 + 3.754408661907416e+00) * q1 + 1.0)
  WHEN {p} > 0.97575 THEN
    -((((( -7.784894002430293e-03 * q2 - 3.223964580411365e-01) * q2
        - 2.400758277161838e+00) * q2 - 2.549732539343734e+00) * q2
        + 4.374664141464968e+00) * q2 + 2.938163982698783e+00)
    / ((((7.784695709041462e-03 * q2 + 3.224671290700398e-01) * q2
        + 2.445134137142996e+00) * q2 + 3.754408661907416e+00) * q2 + 1.0)
  ELSE
    (((((-3.969683028665376e+01 * r + 2.209460984245205e+02) * r
        - 2.759285104469687e+02) * r + 1.383577518672690e+02) * r
        - 3.066479806614716e+01) * r + 2.506628277459239e+00) * qm
    / (((((-5.447609879822406e+01 * r + 1.615858368580409e+02) * r
        - 1.556989798598866e+02) * r + 6.680131188771972e+01) * r
        - 1.328068155288572e+01) * r + 1.0)
  END
)"""


def _ppf_sql(p: str) -> str:
    return _PPF_SQL.format(p=p)


def _ppf_col(p):
    """Acklam inverse-normal-CDF as a Column expression (twin of _PPF_SQL)."""
    q1 = F.sqrt(-2.0 * F.log(p))
    q2 = F.sqrt(-2.0 * F.log(1.0 - p))
    qm = p - 0.5
    r = qm * qm
    lo = (
        ((((-7.784894002430293e-03 * q1 - 3.223964580411365e-01) * q1
           - 2.400758277161838e+00) * q1 - 2.549732539343734e+00) * q1
         + 4.374664141464968e+00) * q1 + 2.938163982698783e+00
    ) / (
        (((7.784695709041462e-03 * q1 + 3.224671290700398e-01) * q1
          + 2.445134137142996e+00) * q1 + 3.754408661907416e+00) * q1 + 1.0
    )
    hi = -(
        ((((-7.784894002430293e-03 * q2 - 3.223964580411365e-01) * q2
           - 2.400758277161838e+00) * q2 - 2.549732539343734e+00) * q2
         + 4.374664141464968e+00) * q2 + 2.938163982698783e+00
    ) / (
        (((7.784695709041462e-03 * q2 + 3.224671290700398e-01) * q2
          + 2.445134137142996e+00) * q2 + 3.754408661907416e+00) * q2 + 1.0
    )
    mid = (
        ((((-3.969683028665376e+01 * r + 2.209460984245205e+02) * r
           - 2.759285104469687e+02) * r + 1.383577518672690e+02) * r
         - 3.066479806614716e+01) * r + 2.506628277459239e+00
    ) * qm / (
        ((((-5.447609879822406e+01 * r + 1.615858368580409e+02) * r
           - 1.556989798598866e+02) * r + 6.680131188771972e+01) * r
         - 1.328068155288572e+01) * r + 1.0
    )
    return F.when(p < 0.02425, lo).when(p > 0.97575, hi).otherwise(mid)


@query(
    "distribution_analysis_profile",
    oracle=f"""
    WITH s AS ({_S_SQL}),
    stats AS (
      SELECT user_id,
             CAST(COUNT(*) AS BIGINT) AS n,
             AVG(value) AS mu, STDDEV_SAMP(value) AS sigma,
             MIN(value) AS vmin, MAX(value) AS vmax,
             QUANTILE_CONT(value, 0.1) AS q10v,
             QUANTILE_CONT(value, 0.25) AS q1v,
             QUANTILE_CONT(value, 0.5) AS medv,
             QUANTILE_CONT(value, 0.75) AS q3v,
             QUANTILE_CONT(value, 0.9) AS q90v
      FROM s GROUP BY user_id
    ),
    fences AS (
      SELECT *, q3v - q1v AS iqr,
             q1v - 1.5 * (q3v - q1v) AS lo_fence,
             q3v + 1.5 * (q3v - q1v) AS hi_fence
      FROM stats
    ),
    outl AS (
      SELECT s.user_id,
             CAST(SUM(CASE WHEN s.value < f.lo_fence THEN 1 ELSE 0 END)
               AS BIGINT) AS n_outliers_low,
             CAST(SUM(CASE WHEN s.value > f.hi_fence THEN 1 ELSE 0 END)
               AS BIGINT) AS n_outliers_high
      FROM s JOIN fences f ON f.user_id = s.user_id
      GROUP BY s.user_id
    ),
    dec AS (
      SELECT user_id, 0.1 AS p, ROUND(q10v, 6) AS sample_q FROM fences
      UNION ALL SELECT user_id, 0.25, ROUND(q1v, 6) FROM fences
      UNION ALL SELECT user_id, 0.5, ROUND(medv, 6) FROM fences
      UNION ALL SELECT user_id, 0.75, ROUND(q3v, 6) FROM fences
      UNION ALL SELECT user_id, 0.9, ROUND(q90v, 6) FROM fences
    ),
    qq AS (
      SELECT d.user_id, d.p, d.sample_q,
             ROUND(f.mu + f.sigma * {_ppf_sql('d.p')}, 6) AS normal_q
      FROM (
        SELECT *, SQRT(-2.0 * LN(p)) AS q1, SQRT(-2.0 * LN(1.0 - p)) AS q2,
               (p - 0.5) * (p - 0.5) AS r, p - 0.5 AS qm
        FROM dec
      ) d JOIN fences f ON f.user_id = d.user_id
    )
    SELECT 'stats' AS record_type, f.user_id,
           CAST(NULL AS DOUBLE) AS p,
           CAST(f.n AS DOUBLE) AS metric_a,
           ROUND(f.mu, 6) AS metric_b,
           ROUND(f.sigma, 6) AS metric_c,
           ROUND(f.iqr, 6) AS metric_d,
           CAST(o.n_outliers_low AS DOUBLE) AS metric_e,
           CAST(o.n_outliers_high AS DOUBLE) AS metric_f
    FROM fences f JOIN outl o ON o.user_id = f.user_id
    UNION ALL
    SELECT 'qq', user_id, p, sample_q, normal_q,
           ROUND(sample_q - normal_q, 6), NULL, NULL, NULL
    FROM qq
    """,
)
def distribution_analysis_profile(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Distribution-analysis panel data — reference
    `etl/visualizer.py:162-262` (`plot_distribution_analysis`): the
    per-key normal fit (mu, sigma), box-plot five-number summary with
    1.5-IQR fences and the low/high outlier censuses, and the QQ-plot
    pairs (sample quantile vs the normal-fit theoretical quantile at
    p in {{0.1, 0.25, 0.5, 0.75, 0.9}}) with their deviation — scipy's
    probplot replaced by the Acklam inverse-normal-CDF rational
    approximation both engines evaluate identically.

    Scale: two bounded per-key aggregations + a constant 5-point
    quantile fan-out. No UDF."""
    s = _series(spark, sf_dir)
    stats = s.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.avg("value").alias("mu"),
        F.stddev_samp("value").alias("sigma"),
        F.expr("percentile(value, 0.1)").alias("q10v"),
        F.expr("percentile(value, 0.25)").alias("q1v"),
        F.expr("percentile(value, 0.5)").alias("medv"),
        F.expr("percentile(value, 0.75)").alias("q3v"),
        F.expr("percentile(value, 0.9)").alias("q90v"),
    )
    fences = stats.select(
        "*",
        (F.col("q3v") - F.col("q1v")).alias("iqr"),
        (F.col("q1v") - 1.5 * (F.col("q3v") - F.col("q1v"))).alias("lo_fence"),
        (F.col("q3v") + 1.5 * (F.col("q3v") - F.col("q1v"))).alias("hi_fence"),
    )
    outl = (
        s.join(fences.select("user_id", "lo_fence", "hi_fence"), "user_id")
        .groupBy("user_id")
        .agg(
            F.sum((F.col("value") < F.col("lo_fence")).cast("int"))
            .cast("bigint")
            .alias("n_outliers_low"),
            F.sum((F.col("value") > F.col("hi_fence")).cast("int"))
            .cast("bigint")
            .alias("n_outliers_high"),
        )
    )
    qpairs = [
        (0.1, "q10v"), (0.25, "q1v"), (0.5, "medv"),
        (0.75, "q3v"), (0.9, "q90v"),
    ]
    dec = fences.select(
        "user_id",
        "mu",
        "sigma",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(pv).alias("p"),
                        F.round(F.col(cn), 6).alias("sample_q"),
                    )
                    for pv, cn in qpairs
                ]
            )
        ).alias("q"),
    ).select("user_id", "mu", "sigma", "q.p", "q.sample_q")
    qq = dec.select(
        "user_id",
        "p",
        "sample_q",
        F.round(
            F.col("mu") + F.col("sigma") * _ppf_col(F.col("p")), 6
        ).alias("normal_q"),
    )
    srow = fences.join(outl, "user_id").select(
        F.lit("stats").alias("record_type"),
        "user_id",
        F.lit(None).cast("double").alias("p"),
        F.col("n").cast("double").alias("metric_a"),
        F.round("mu", 6).alias("metric_b"),
        F.round("sigma", 6).alias("metric_c"),
        F.round("iqr", 6).alias("metric_d"),
        F.col("n_outliers_low").cast("double").alias("metric_e"),
        F.col("n_outliers_high").cast("double").alias("metric_f"),
    )
    qrow = qq.select(
        F.lit("qq").alias("record_type"),
        "user_id",
        "p",
        F.col("sample_q").alias("metric_a"),
        F.col("normal_q").alias("metric_b"),
        F.round(F.col("sample_q") - F.col("normal_q"), 6).alias("metric_c"),
        F.lit(None).cast("double").alias("metric_d"),
        F.lit(None).cast("double").alias("metric_e"),
        F.lit(None).cast("double").alias("metric_f"),
    )
    return srow.unionByName(qrow)


# ---------------------------------------------------------------------------
# Dataset analyzer: missing-data profile + temporal-structure profile
# ---------------------------------------------------------------------------

# Reference `etl/time_series_analyzer.py:122-278` (the two analyzer phases
# `scripts/analyze_dataset.py` drives that were still uncovered):
# `analyze_missing_data` (`:122-180`) — per-column missing counts/rates,
# overall rate, MIT severity ladder, Shannon entropy of the per-ROW
# missing-count distribution (scipy `stats.entropy` on normalized counts
# + 1e-10, which re-normalizes before the log), max per-row missing; and
# `identify_temporal_structure` (`:183-278`) — modal sampling period from
# the diff distribution, frequency-classification ladder, Nyquist
# frequency, 3-sigma temporal-gap census and the 1 - sd/mean regularity
# score. The events table plays the dataset; the four analyzed columns
# use the pack's deterministic masking conventions (JSON k < 10 masks
# `value` — same rule as `ffill_masked_values` — plus two modular masks)
# so every severity branch has support without touching the testdata.
# Diffs are computed in integer MICROSECONDS so the modal-bucket groupBy
# is exact on both engines (double-seconds diffs would split equal
# deltas on last-bit noise).

_DSP_SQL = """
    WITH masked AS (
      SELECT event_id,
             CASE WHEN CAST(props->>'k' AS INTEGER) < 10
                  THEN 1 ELSE 0 END AS m_value,
             CASE WHEN event_id % 37 = 0 THEN 1 ELSE 0 END AS m_score,
             CASE WHEN event_type = 'error' AND event_id % 2 = 0
                  THEN 1 ELSE 0 END AS m_latency,
             0 AS m_count
      FROM events
    ),
    rowm AS (
      SELECT event_id,
             m_value + m_score + m_latency + m_count AS rm
      FROM masked
    ),
    dist AS (
      SELECT rm, CAST(COUNT(*) AS BIGINT) AS c FROM rowm GROUP BY rm
    ),
    tot AS (
      SELECT CAST(SUM(c) AS BIGINT) AS n,
             CAST(MAX(rm) AS BIGINT) AS max_row_missing
      FROM dist
    ),
    ent0 AS (
      SELECT SUM(CAST(c AS DOUBLE) / tot.n + 1e-10) AS s
      FROM dist CROSS JOIN tot GROUP BY tot.n
    ),
    ent AS (
      SELECT -SUM(((CAST(c AS DOUBLE) / tot.n + 1e-10) / ent0.s)
                  * LN((CAST(c AS DOUBLE) / tot.n + 1e-10) / ent0.s))
               AS pattern_entropy
      FROM dist CROSS JOIN tot CROSS JOIN ent0
      GROUP BY tot.n, ent0.s
    ),
    colstats AS (
      SELECT CAST(SUM(m_value) AS BIGINT) AS c_value,
             CAST(SUM(m_score) AS BIGINT) AS c_score,
             CAST(SUM(m_latency) AS BIGINT) AS c_latency,
             CAST(SUM(m_count) AS BIGINT) AS c_count
      FROM masked
    ),
    fold AS (
      SELECT tot.n, tot.max_row_missing, ent.pattern_entropy,
             cs.c_value, cs.c_score, cs.c_latency, cs.c_count,
             cs.c_value + cs.c_score + cs.c_latency + cs.c_count
               AS total_missing,
             CAST(cs.c_value + cs.c_score + cs.c_latency + cs.c_count
                  AS DOUBLE) / (tot.n * 4) * 100 AS overall_rate,
             CAST(CASE WHEN cs.c_value > 0 THEN 1 ELSE 0 END
                  + CASE WHEN cs.c_score > 0 THEN 1 ELSE 0 END
                  + CASE WHEN cs.c_latency > 0 THEN 1 ELSE 0 END
                  + CASE WHEN cs.c_count > 0 THEN 1 ELSE 0 END AS BIGINT)
               AS n_cols_missing
      FROM tot CROSS JOIN ent CROSS JOIN colstats cs
    ),
    percol AS (
      SELECT 'value' AS column_name, c_value AS n_missing, * FROM fold
      UNION ALL
      SELECT 'score', c_score, * FROM fold
      UNION ALL
      SELECT 'latency', c_latency, * FROM fold
      UNION ALL
      SELECT 'count', c_count, * FROM fold
    )
    SELECT column_name, n_missing,
           ROUND(CAST(n_missing AS DOUBLE) / n * 100, 6) AS missing_pct,
           n_missing = n AS completely_missing,
           n AS total_rows,
           CAST(4 AS BIGINT) AS total_columns,
           total_missing AS total_missing_values,
           ROUND(overall_rate, 6) AS overall_missing_rate,
           CASE WHEN overall_rate = 0 THEN 'Complete data (rho = 0)'
                WHEN overall_rate < 1 THEN 'Minimal missing data (rho < 1%)'
                WHEN overall_rate < 5 THEN 'Seldom missing data (rho < 5%)'
                ELSE 'Substantial missing data (rho = '
                     || printf('%.2f', overall_rate) || '%)' END
             AS missing_category,
           CASE WHEN overall_rate < 1 THEN 'excellent'
                WHEN overall_rate < 5 THEN 'acceptable'
                ELSE 'concerning' END AS severity,
           ROUND(pattern_entropy, 6) AS pattern_entropy,
           max_row_missing,
           n_cols_missing AS n_columns_with_missing
    FROM percol
"""


@query("dataset_missing_profile", oracle=_DSP_SQL)
def dataset_missing_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Missing-data profile — reference
    `etl/time_series_analyzer.py:122-180` (`analyze_missing_data`):
    per-column missing counts and percentages, the overall rate with
    the MIT severity ladder (complete/minimal/seldom/substantial ->
    excellent/acceptable/concerning), the Shannon entropy of the
    per-row missing-count distribution (scipy-compatible: normalized
    counts + 1e-10, re-normalized inside the log), and the maximum
    per-row missing count. Masks follow this repo's deterministic
    conventions (JSON k < 10 on `value`, two modular masks) so the
    ladder has non-trivial support.

    Scale: one conditional-aggregation pass for the column census, one
    bounded groupBy (per-row missing count has <= 5 distinct values)
    for the entropy — both map-side combinable; the fold is scalar."""
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    masked = ev.select(
        "event_id",
        F.when(k < 10, 1).otherwise(0).alias("m_value"),
        F.when(F.col("event_id") % 37 == 0, 1).otherwise(0).alias("m_score"),
        F.when(
            (F.col("event_type") == "error") & (F.col("event_id") % 2 == 0),
            1,
        )
        .otherwise(0)
        .alias("m_latency"),
        F.lit(0).alias("m_count"),
    )
    rm = (
        F.col("m_value")
        + F.col("m_score")
        + F.col("m_latency")
        + F.col("m_count")
    )
    dist = (
        masked.select(rm.alias("rm"))
        .groupBy("rm")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    tot = dist.agg(
        F.sum("c").cast("bigint").alias("n"),
        F.max("rm").cast("bigint").alias("max_row_missing"),
    )
    d2 = dist.crossJoin(F.broadcast(tot))
    ent0 = d2.groupBy("n").agg(
        F.sum(F.col("c").cast("double") / F.col("n") + 1e-10).alias("s")
    )
    v = F.col("c").cast("double") / F.col("n") + 1e-10
    ent = (
        d2.crossJoin(F.broadcast(ent0.select("s")))
        .groupBy("n", "s")
        .agg(
            (-F.sum((v / F.col("s")) * F.log(v / F.col("s")))).alias(
                "pattern_entropy"
            )
        )
        .select("pattern_entropy")
    )
    cs = masked.agg(
        F.sum("m_value").cast("bigint").alias("c_value"),
        F.sum("m_score").cast("bigint").alias("c_score"),
        F.sum("m_latency").cast("bigint").alias("c_latency"),
        F.sum("m_count").cast("bigint").alias("c_count"),
    )
    tm = (
        F.col("c_value")
        + F.col("c_score")
        + F.col("c_latency")
        + F.col("c_count")
    )
    nz = lambda c: F.when(c > 0, 1).otherwise(0)  # noqa: E731
    fold = (
        tot.crossJoin(F.broadcast(ent))
        .crossJoin(F.broadcast(cs))
        .select(
            "*",
            tm.alias("total_missing"),
            (tm.cast("double") / (F.col("n") * 4) * 100).alias(
                "overall_rate"
            ),
            (
                nz(F.col("c_value"))
                + nz(F.col("c_score"))
                + nz(F.col("c_latency"))
                + nz(F.col("c_count"))
            )
            .cast("bigint")
            .alias("n_cols_missing"),
        )
        .localCheckpoint()
    )
    percol = None
    for cname, ccol in (
        ("value", "c_value"),
        ("score", "c_score"),
        ("latency", "c_latency"),
        ("count", "c_count"),
    ):
        row = fold.select(
            F.lit(cname).alias("column_name"),
            F.col(ccol).alias("n_missing"),
            "*",
        )
        percol = row if percol is None else percol.unionByName(row)
    rate = F.col("overall_rate")
    return percol.select(
        "column_name",
        "n_missing",
        r6(F.col("n_missing").cast("double") / F.col("n") * 100).alias(
            "missing_pct"
        ),
        (F.col("n_missing") == F.col("n")).alias("completely_missing"),
        F.col("n").alias("total_rows"),
        F.lit(4).cast("bigint").alias("total_columns"),
        F.col("total_missing").alias("total_missing_values"),
        r6(rate).alias("overall_missing_rate"),
        F.when(rate == 0, "Complete data (rho = 0)")
        .when(rate < 1, "Minimal missing data (rho < 1%)")
        .when(rate < 5, "Seldom missing data (rho < 5%)")
        .otherwise(
            F.concat(
                F.lit("Substantial missing data (rho = "),
                F.format_string("%.2f", rate),
                F.lit("%)"),
            )
        )
        .alias("missing_category"),
        F.when(rate < 1, "excellent")
        .when(rate < 5, "acceptable")
        .otherwise("concerning")
        .alias("severity"),
        r6(F.col("pattern_entropy")).alias("pattern_entropy"),
        "max_row_missing",
        F.col("n_cols_missing").alias("n_columns_with_missing"),
    )


_DTP_SQL = """
    WITH ts_us AS (
      SELECT CAST(epoch_us(ts) AS BIGINT) AS tus, event_id FROM events
    ),
    diffs AS (
      SELECT tus - LAG(tus) OVER (ORDER BY tus, event_id) AS d
      FROM ts_us
    ),
    dd AS (SELECT d FROM diffs WHERE d IS NOT NULL),
    modal AS (
      SELECT d AS modal_us FROM (
        SELECT d, COUNT(*) AS c FROM dd GROUP BY d
      ) ORDER BY c DESC, d ASC LIMIT 1
    ),
    st AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_diffs,
             AVG(CAST(d AS DOUBLE)) AS mean_us,
             STDDEV_SAMP(CAST(d AS DOUBLE)) AS sd_us
      FROM dd
    ),
    sp AS (
      SELECT CAST(MIN(tus) AS BIGINT) AS min_us,
             CAST(MAX(tus) AS BIGINT) AS max_us,
             CAST(COUNT(*) AS BIGINT) AS total_periods
      FROM ts_us
    ),
    gaps AS (
      SELECT CAST(SUM(CASE WHEN CAST(d.d AS DOUBLE)
                                > m.modal_us + 3 * s.sd_us
                      THEN 1 ELSE 0 END) AS BIGINT) AS n_gaps
      FROM dd d CROSS JOIN modal m CROSS JOIN st s
    ),
    fold AS (
      SELECT m.modal_us,
             CAST(m.modal_us AS DOUBLE) / 86400000000 AS spd,
             s.n_diffs, s.mean_us, s.sd_us,
             sp.min_us, sp.max_us, sp.total_periods, g.n_gaps
      FROM modal m CROSS JOIN st s CROSS JOIN sp CROSS JOIN gaps g
    )
    SELECT TRUE AS is_time_series,
           'ts' AS date_column,
           CASE WHEN spd = 1 THEN 'Daily'
                WHEN spd = 7 THEN 'Weekly'
                WHEN spd >= 28 AND spd <= 31 THEN 'Monthly'
                WHEN spd >= 89 AND spd <= 92 THEN 'Quarterly'
                WHEN spd >= 365 AND spd <= 366 THEN 'Annual'
                ELSE 'Custom (dt = ' || printf('%.2f', spd) || ' days)'
                END AS sampling_frequency,
           CASE WHEN spd = 1 THEN 'D'
                WHEN spd = 7 THEN 'W'
                WHEN spd >= 28 AND spd <= 31 THEN 'M'
                WHEN spd >= 89 AND spd <= 92 THEN 'Q'
                WHEN spd >= 365 AND spd <= 366 THEN 'Y'
                ELSE 'custom' END AS frequency_code,
           ROUND(spd, 6) AS sampling_period_days,
           ROUND(1 / (2 * spd), 6) AS nyquist_frequency,
           min_us AS span_start_us,
           max_us AS span_end_us,
           total_periods,
           CAST(FLOOR(CAST(max_us - min_us AS DOUBLE) / 86400000000)
                AS BIGINT) AS duration_days,
           n_gaps AS temporal_gaps_detected,
           ROUND(CAST(n_gaps AS DOUBLE) / n_diffs, 6) AS gap_rate,
           ROUND(1 - sd_us / mean_us, 6) AS temporal_regularity
    FROM fold
"""


@query("dataset_temporal_profile", oracle=_DTP_SQL)
def dataset_temporal_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal-structure profile — reference
    `etl/time_series_analyzer.py:183-278`
    (`identify_temporal_structure`): modal sampling period from the
    timestamp-diff distribution (max count, smallest-diff tiebreak —
    pandas `value_counts` head made deterministic), the
    Daily/Weekly/Monthly/Quarterly/Annual/Custom classification ladder,
    Nyquist frequency, the 3-sigma temporal-gap census over the diffs,
    the time-span block and the 1 - sd/mean regularity score. Diffs are
    integer MICROSECONDS so modal grouping is exact on both engines.

    Scale: the lag-diff runs through `scalable_lag`'s two-pass
    partition-boundary exchange (range-repartition on (tus, event_id),
    local lags, partition-boundary values carried via a broadcast) — no
    single-partition window; everything downstream is a bounded groupBy
    over distinct diffs + broadcast scalars."""
    from ..operators.windows import scalable_lag

    ev = load_table(spark, sf_dir, "events")
    ts_us = ev.select(
        F.unix_micros(F.col("ts")).cast("bigint").alias("tus"), "event_id"
    )
    dd = (
        scalable_lag(ts_us, ["tus", "event_id"], "tus", out_col="prev_tus")
        .select((F.col("tus") - F.col("prev_tus")).alias("d"))
        .filter(F.col("d").isNotNull())
    ).localCheckpoint()
    modal = (
        dd.groupBy("d")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.col("c").desc(), F.col("d").asc())
        .limit(1)
        .select(F.col("d").alias("modal_us"))
    )
    st = dd.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_diffs"),
        F.avg(F.col("d").cast("double")).alias("mean_us"),
        F.stddev_samp(F.col("d").cast("double")).alias("sd_us"),
    )
    sp = ts_us.agg(
        F.min("tus").cast("bigint").alias("min_us"),
        F.max("tus").cast("bigint").alias("max_us"),
        F.count(F.lit(1)).cast("bigint").alias("total_periods"),
    )
    gaps = (
        dd.crossJoin(F.broadcast(modal))
        .crossJoin(F.broadcast(st.select("sd_us")))
        .agg(
            F.sum(
                (
                    F.col("d").cast("double")
                    > F.col("modal_us") + 3 * F.col("sd_us")
                ).cast("long")
            )
            .cast("bigint")
            .alias("n_gaps")
        )
    )
    spd = F.col("modal_us").cast("double") / F.lit(86400000000)
    fold = (
        modal.crossJoin(F.broadcast(st))
        .crossJoin(F.broadcast(sp))
        .crossJoin(F.broadcast(gaps))
        .select("*", spd.alias("spd"))
    )
    s = F.col("spd")
    return fold.select(
        F.lit(True).alias("is_time_series"),
        F.lit("ts").alias("date_column"),
        F.when(s == 1, "Daily")
        .when(s == 7, "Weekly")
        .when((s >= 28) & (s <= 31), "Monthly")
        .when((s >= 89) & (s <= 92), "Quarterly")
        .when((s >= 365) & (s <= 366), "Annual")
        .otherwise(
            F.concat(
                F.lit("Custom (dt = "),
                F.format_string("%.2f", s),
                F.lit(" days)"),
            )
        )
        .alias("sampling_frequency"),
        F.when(s == 1, "D")
        .when(s == 7, "W")
        .when((s >= 28) & (s <= 31), "M")
        .when((s >= 89) & (s <= 92), "Q")
        .when((s >= 365) & (s <= 366), "Y")
        .otherwise("custom")
        .alias("frequency_code"),
        r6(s).alias("sampling_period_days"),
        r6(F.lit(1) / (2 * s)).alias("nyquist_frequency"),
        F.col("min_us").alias("span_start_us"),
        F.col("max_us").alias("span_end_us"),
        "total_periods",
        F.floor(
            (F.col("max_us") - F.col("min_us")).cast("double")
            / F.lit(86400000000)
        )
        .cast("bigint")
        .alias("duration_days"),
        F.col("n_gaps").alias("temporal_gaps_detected"),
        r6(F.col("n_gaps").cast("double") / F.col("n_diffs")).alias(
            "gap_rate"
        ),
        r6(F.lit(1) - F.col("sd_us") / F.col("mean_us")).alias(
            "temporal_regularity"
        ),
    )


# ---------------------------------------------------------------------------
# Fresh-data regime validation scan (validate_regime_on_fresh_data.py)
# ---------------------------------------------------------------------------

# Reference `scripts/validate_regime_on_fresh_data.py`: load the freshest
# price snapshot, dedupe duplicate timestamps keep-last (`_dedupe_series`,
# `:65-69`), then scan every prefix (`_scan_regime_hits`, `:115-138`)
# classifying the trailing-lookback window with the RegimeDetector and
# recording the FIRST date each regime appears; the summary logs row/dupe
# censuses, the date range and the latest as-of classification. Features
# and ladder from `forcester_ts/regime_detector.py`: realized vol =
# ann. std of the last-W returns, trend strength = linregress R² over the
# last-W prices with the <14-point and flat-series zero guards
# (`:116-143`), classify ladder `:202-244` (CRISIS vol>0.40; HVT on
# (vol>0.30 ∧ trend>0.30) ∨ (vol>0.15 ∧ trend>0.60); rangebound on
# vol<0.15 ∧ trend<0.30; MODERATE_TRENDING on trend>0.30; else
# MODERATE_MIXED). The rangebound hurst/ADF sub-split (LIQUID vs
# MODERATE_RANGEBOUND) is merged into one RANGEBOUND class here — the
# scan's target regimes never depend on it and both diagnostics are
# served standalone (`hurst_exponent`, the F10 ADF suite). Lookback/
# min_len rescaled 60/80 → 20/25 for the engine's 49-88-bar series, and
# the vol/trend cutoffs are rescaled from the reference's
# annualized-equity calibration (0.15/0.30/0.40 vol, 0.30/0.60 trend) to
# the engine series' per-bar grain (its raw window vol sits in [1, 1e3],
# trend R² in [0, 0.5]) so every ladder branch is reachable: vol
# 4/14/40 ≈ the scan distribution's p25/p75/p90, trend 0.05/0.13 ≈
# p70/p90. Structure and branch order are the reference's exactly.
_RFH_W = 20
_RFH_MIN_LEN = 25
_RFH_VOL_LOW = 4.0
_RFH_VOL_HIGH = 14.0
_RFH_VOL_CRISIS = 40.0
_RFH_TR_WEAK = 0.05
_RFH_TR_STRONG = 0.13

_RFH_SQL = f"""
    dd AS (
      SELECT user_id, ts, event_id, value
      FROM (SELECT user_id, ts, event_id, value,
                   ROW_NUMBER() OVER (PARTITION BY user_id, ts
                                      ORDER BY event_id DESC) AS dup_rk,
                   COUNT(*) OVER (PARTITION BY user_id, ts) AS dup_n
            FROM events WHERE value > 0)
      WHERE dup_rk = 1
    ),
    sb AS (
      SELECT user_id, ts, value,
             ROW_NUMBER() OVER wk - 1 AS bar,
             value / LAG(value) OVER wk - 1.0 AS ret
      FROM dd WINDOW wk AS (PARTITION BY user_id ORDER BY ts)
    ),
    ft AS (
      SELECT user_id, ts, bar, value,
             STDDEV_SAMP(ret) OVER wr AS vol_raw,
             COUNT(ret) OVER wr AS n_ret,
             CASE WHEN COUNT(value) OVER wr < 14
                       OR STDDEV_POP(value) OVER wr < 1e-10 THEN 0.0
                  ELSE POWER(CORR(CAST(bar AS DOUBLE), value) OVER wr, 2)
                  END AS trend_raw
      FROM sb
      WINDOW wr AS (PARTITION BY user_id ORDER BY bar
                    ROWS BETWEEN {_RFH_W - 1} PRECEDING AND CURRENT ROW)
    ),
    cls AS (
      SELECT user_id, ts, bar,
             COALESCE(vol_raw, 0.0) AS vol,
             COALESCE(trend_raw, 0.0) AS trend,
             CASE WHEN COALESCE(vol_raw, 0.0) > {_RFH_VOL_CRISIS}
                    THEN 'CRISIS'
                  WHEN COALESCE(vol_raw, 0.0) > {_RFH_VOL_HIGH}
                       AND COALESCE(trend_raw, 0.0) > {_RFH_TR_WEAK}
                    THEN 'HIGH_VOL_TRENDING'
                  WHEN COALESCE(vol_raw, 0.0) > {_RFH_VOL_LOW}
                       AND COALESCE(trend_raw, 0.0) > {_RFH_TR_STRONG}
                    THEN 'HIGH_VOL_TRENDING'
                  WHEN COALESCE(vol_raw, 0.0) < {_RFH_VOL_LOW}
                       AND COALESCE(trend_raw, 0.0) < {_RFH_TR_WEAK}
                    THEN 'RANGEBOUND'
                  WHEN COALESCE(trend_raw, 0.0) > {_RFH_TR_WEAK}
                    THEN 'MODERATE_TRENDING'
                  ELSE 'MODERATE_MIXED' END AS regime
      FROM ft
      WHERE bar >= {_RFH_MIN_LEN} AND bar + 1 >= {_RFH_W} + 5
        AND bar >= {_RFH_W} AND n_ret = {_RFH_W}
    )
"""


@query(
    "regime_first_hit_scan",
    oracle=f"""
    WITH {_RFH_SQL}
    SELECT user_id, regime,
           CAST(bar AS INT) AS first_bar,
           EPOCH_MS(ts) AS first_ms,
           CAST(bar + 1 AS BIGINT) AS raw_len,
           ROUND(vol, 6) AS realized_volatility,
           ROUND(trend, 6) AS trend_strength
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, regime
                                       ORDER BY bar) AS rk
          FROM cls)
    WHERE rk = 1
    """,
)
def regime_first_hit_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R142: first-occurrence-per-regime prefix scan — the reference's
    `_scan_regime_hits` loop collapsed into one windowed pass: trailing
    (vol, trend-R²) features at every qualifying bar, the RegimeDetector
    ladder, then min-bar per (key, regime). One shuffle on user_id;
    every feature is a frame aggregate, the first-hit pick a window
    rank — linear at any scale (the reference refits per prefix,
    O(n²))."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("value") > 0)
    # same-ts dedup INSIDE the user_id partitioning every later window
    # already needs (guide §2.4 "window functions partitioned by the
    # same key ... do not need a second shuffle"): ordered by
    # (ts, event_id DESC), the first row of each ts-run IS the max-
    # event_id row the old (user_id, ts) row_number window kept — one
    # exchange of the event stream instead of two
    wseq = Window.partitionBy("user_id").orderBy(
        "ts", F.col("event_id").desc()
    )
    dd = (
        ev.withColumn("prev_ts", F.lag("ts").over(wseq))
        .filter(F.col("prev_ts").isNull() | (F.col("prev_ts") != F.col("ts")))
        .select("user_id", "ts", "value")
    )
    wk = Window.partitionBy("user_id").orderBy("ts")
    sb = dd.select(
        "user_id",
        "ts",
        "value",
        (F.row_number().over(wk) - 1).alias("bar"),
        (F.col("value") / F.lag("value").over(wk) - 1.0).alias("ret"),
    )
    wr = Window.partitionBy("user_id").orderBy("bar").rowsBetween(
        -(_RFH_W - 1), 0
    )
    ft = sb.select(
        "user_id",
        "ts",
        "bar",
        "value",
        F.stddev_samp("ret").over(wr).alias("vol_raw"),
        F.count("ret").over(wr).alias("n_ret"),
        F.when(
            (F.count("value").over(wr) < 14)
            | (F.stddev_pop("value").over(wr) < 1e-10),
            0.0,
        )
        .otherwise(
            F.pow(F.corr(F.col("bar").cast("double"), F.col("value")).over(wr), 2)
        )
        .alias("trend_raw"),
    )
    vol = F.coalesce(F.col("vol_raw"), F.lit(0.0))
    trend = F.coalesce(F.col("trend_raw"), F.lit(0.0))
    regime = (
        F.when(vol > _RFH_VOL_CRISIS, "CRISIS")
        .when((vol > _RFH_VOL_HIGH) & (trend > _RFH_TR_WEAK),
              "HIGH_VOL_TRENDING")
        .when((vol > _RFH_VOL_LOW) & (trend > _RFH_TR_STRONG),
              "HIGH_VOL_TRENDING")
        .when((vol < _RFH_VOL_LOW) & (trend < _RFH_TR_WEAK), "RANGEBOUND")
        .when(trend > _RFH_TR_WEAK, "MODERATE_TRENDING")
        .otherwise("MODERATE_MIXED")
    )
    cls = ft.filter(
        (F.col("bar") >= _RFH_MIN_LEN)
        & (F.col("bar") + 1 >= _RFH_W + 5)
        & (F.col("bar") >= _RFH_W)
        & (F.col("n_ret") == _RFH_W)
    ).select(
        "user_id", "ts", "bar",
        vol.alias("vol"), trend.alias("trend"), regime.alias("regime"),
    )
    whit = Window.partitionBy("user_id", "regime").orderBy("bar")
    return (
        cls.withColumn("rk", F.row_number().over(whit))
        .filter(F.col("rk") == 1)
        .select(
            "user_id",
            "regime",
            F.col("bar").cast("int").alias("first_bar"),
            F.unix_millis(F.col("ts")).alias("first_ms"),
            (F.col("bar") + 1).cast("long").alias("raw_len"),
            r6(F.col("vol")).alias("realized_volatility"),
            r6(F.col("trend")).alias("trend_strength"),
        )
    )


@query(
    "fresh_data_validation_summary",
    oracle=f"""
    WITH {_RFH_SQL},
    dup AS (
      SELECT user_id,
             CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(SUM(dup_extra) AS BIGINT) AS dupes_removed,
             MIN(ts) AS ts_min, MAX(ts) AS ts_max
      FROM (SELECT user_id, ts, MAX(dup_n) - 1 AS dup_extra
            FROM (SELECT user_id, ts, event_id,
                         COUNT(*) OVER (PARTITION BY user_id, ts) AS dup_n
                  FROM events WHERE value > 0)
            GROUP BY user_id, ts) d
      GROUP BY user_id
    ),
    latest AS (
      SELECT user_id, regime AS latest_regime,
             ROUND(vol, 6) AS latest_volatility,
             ROUND(trend, 6) AS latest_trend
      FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                                         ORDER BY bar DESC) AS rk
            FROM cls)
      WHERE rk = 1
    ),
    seen AS (
      SELECT user_id, CAST(COUNT(DISTINCT regime) AS BIGINT)
               AS n_regimes_seen
      FROM cls GROUP BY user_id
    )
    SELECT d.user_id, d.n_rows, d.dupes_removed,
           EPOCH_MS(d.ts_min) AS start_ms,
           EPOCH_MS(d.ts_max) AS end_ms,
           l.latest_regime, l.latest_volatility, l.latest_trend,
           COALESCE(s.n_regimes_seen, 0) AS n_regimes_seen
    FROM dup d
    LEFT JOIN latest l ON l.user_id = d.user_id
    LEFT JOIN seen s ON s.user_id = d.user_id
    """,
)
def fresh_data_validation_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R143: the per-file validation block (`validate_regime_on_fresh_
    data.py:215-238`): deduped row count, duplicate-timestamp census,
    date range, and the LATEST as-of classification with its features,
    plus the count of distinct regimes the scan surfaced."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("value") > 0)
    per_ts = ev.groupBy("user_id", "ts").agg(
        (F.count(F.lit(1)) - 1).alias("dup_extra")
    )
    dup = per_ts.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum("dup_extra").cast("long").alias("dupes_removed"),
        F.unix_millis(F.min("ts")).alias("start_ms"),
        F.unix_millis(F.max("ts")).alias("end_ms"),
    )
    # rebuild the scan frame (shares the plan up to `cls` with R142)
    wdup = Window.partitionBy("user_id", "ts").orderBy(F.col("event_id").desc())
    dd = (
        ev.withColumn("dup_rk", F.row_number().over(wdup))
        .filter(F.col("dup_rk") == 1)
        .select("user_id", "ts", "value")
    )
    wk = Window.partitionBy("user_id").orderBy("ts")
    sb = dd.select(
        "user_id",
        "ts",
        "value",
        (F.row_number().over(wk) - 1).alias("bar"),
        (F.col("value") / F.lag("value").over(wk) - 1.0).alias("ret"),
    )
    wr = Window.partitionBy("user_id").orderBy("bar").rowsBetween(
        -(_RFH_W - 1), 0
    )
    ft = sb.select(
        "user_id",
        "bar",
        F.stddev_samp("ret").over(wr).alias("vol_raw"),
        F.count("ret").over(wr).alias("n_ret"),
        F.when(
            (F.count("value").over(wr) < 14)
            | (F.stddev_pop("value").over(wr) < 1e-10),
            0.0,
        )
        .otherwise(
            F.pow(F.corr(F.col("bar").cast("double"), F.col("value")).over(wr), 2)
        )
        .alias("trend_raw"),
    )
    vol = F.coalesce(F.col("vol_raw"), F.lit(0.0))
    trend = F.coalesce(F.col("trend_raw"), F.lit(0.0))
    regime = (
        F.when(vol > _RFH_VOL_CRISIS, "CRISIS")
        .when((vol > _RFH_VOL_HIGH) & (trend > _RFH_TR_WEAK),
              "HIGH_VOL_TRENDING")
        .when((vol > _RFH_VOL_LOW) & (trend > _RFH_TR_STRONG),
              "HIGH_VOL_TRENDING")
        .when((vol < _RFH_VOL_LOW) & (trend < _RFH_TR_WEAK), "RANGEBOUND")
        .when(trend > _RFH_TR_WEAK, "MODERATE_TRENDING")
        .otherwise("MODERATE_MIXED")
    )
    cls = ft.filter(
        (F.col("bar") >= _RFH_MIN_LEN)
        & (F.col("bar") + 1 >= _RFH_W + 5)
        & (F.col("bar") >= _RFH_W)
        & (F.col("n_ret") == _RFH_W)
    ).select("user_id", "bar", vol.alias("vol"), trend.alias("trend"),
             regime.alias("regime"))
    wlast = Window.partitionBy("user_id").orderBy(F.col("bar").desc())
    latest = (
        cls.withColumn("rk", F.row_number().over(wlast))
        .filter(F.col("rk") == 1)
        .select(
            "user_id",
            F.col("regime").alias("latest_regime"),
            r6(F.col("vol")).alias("latest_volatility"),
            r6(F.col("trend")).alias("latest_trend"),
        )
    )
    seen = cls.groupBy("user_id").agg(
        F.countDistinct("regime").cast("long").alias("n_regimes_seen")
    )
    return (
        dup.join(latest, "user_id", "left")
        .join(seen, "user_id", "left")
        .select(
            "user_id",
            "n_rows",
            "dupes_removed",
            "start_ms",
            "end_ms",
            "latest_regime",
            "latest_volatility",
            "latest_trend",
            F.coalesce(F.col("n_regimes_seen"), F.lit(0).cast("long")).alias(
                "n_regimes_seen"
            ),
        )
    )
