"""Query pack 2 — the portfolio/time-series analytics surface.

The testdata has no bars table, so the reference's per-ticker OHLCV
computations are exercised on the closest driver-provided analog: the
``events`` stream treated as 15 per-user price series (``value`` > 0
always), and per-customer order histories. The MAPPING is what is being
verified — each query is the exact window/aggregation shape the reference
computes over (ticker, ts, close), applied to (user_id, ts, value).

Randomness convention: anything sampled (bootstrap, Monte Carlo) derives
its draws from md5-based deterministic uniforms (`functions.scalars.
hash_unit_interval`) so Spark and the DuckDB oracle agree bit-for-bit on
which rows/paths are drawn — Spark's ``rand(seed)`` and DuckDB's RNG can
never hash-match. Reference precedent for seeding everything:
`forcester_ts/monte_carlo_simulator.py:143`, `etl/synthetic_extractor.py:430`.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators import joins as OJ
from ..operators import windows as OW
from ..sources.catalog import load_table
from .queries import literal_grid, query, r6

PI = 3.141592653589793


def _user_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events as per-user price series with log returns. Non-positive
    prices are scrubbed first (P2, `etl/data_validator.py:52-61`) — also
    keeps the log-return ANSI-safe (sf0.1 has value=0 rows; Spark 4's
    default ANSI mode raises on x/0 in the driver's vanilla session)."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("value") > 0)
    w = Window.partitionBy("user_id").orderBy("ts")
    return ev.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        "value",
        F.log(F.col("value") / F.lag("value", 1).over(w)).alias("lr"),
    )


_USER_SERIES_SQL = """
      SELECT user_id, ts, event_id, event_type, value,
             LN(value / LAG(value, 1) OVER (PARTITION BY user_id ORDER BY ts)) AS lr
      FROM (SELECT * FROM events WHERE value > 0)
"""


@query(
    "user_return_metrics",
    oracle=f"""
    WITH s AS ({_USER_SERIES_SQL}),
    base AS (
      SELECT user_id,
             COUNT(lr) AS n_rets,
             AVG(lr) AS mean_lr,
             STDDEV_SAMP(lr) AS vol,
             SUM(lr) AS total_lr,
             AVG(CASE WHEN lr < 0 THEN lr END) AS dmean,
             STDDEV_SAMP(CASE WHEN lr < 0 THEN lr END) AS dvol,
             QUANTILE_CONT(lr, 0.05) AS var_95,
             SUM(GREATEST(lr, 0)) / SUM(GREATEST(-lr, 0)) AS omega,
             LEAST(AVG(lr) / VAR_SAMP(lr), 0.25) AS kelly
      FROM s GROUP BY user_id
    ),
    cvar AS (
      SELECT s.user_id, AVG(s.lr) AS cvar_95
      FROM s JOIN base b ON s.user_id = b.user_id
      WHERE s.lr <= b.var_95
      GROUP BY s.user_id
    )
    SELECT b.user_id, b.n_rets,
           ROUND(b.mean_lr, 6) AS mean_lr,
           ROUND(b.vol, 6) AS vol,
           ROUND(b.total_lr, 6) AS total_lr,
           ROUND(b.mean_lr / b.vol, 6) AS sharpe,
           ROUND(b.mean_lr / b.dvol, 6) AS sortino,
           ROUND(b.var_95, 6) AS var_95,
           ROUND(c.cvar_95, 6) AS cvar_95,
           ROUND(b.omega, 6) AS omega,
           ROUND(b.kelly, 6) AS kelly
    FROM base b JOIN cvar c ON b.user_id = c.user_id
    """,
)
def user_return_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5/A6/A7 portfolio metrics suite per series [§2.4] — reference
    `etl/portfolio_math.py:84-264` (Sharpe/Sortino/VaR/CVaR/omega/Kelly).

    ONE groupBy pass for everything (optimization round 13, guide §2.4):
    the CVaR tail mean used to be a second full scan of the events table
    joined back on the VaR cutoff — two extra Exchanges and a repeated
    source pass. The exact 5% quantile already buffers every return per
    key inside the sort-based percentile aggregate, so collecting the
    same values as a sorted array costs the same order of state and lets
    the tail mean (mean of lr <= var_95) fold into the one aggregation
    as array algebra. The old inner join dropped keys with no returns
    (no cvar group); the var_95-not-null filter keeps that row set
    identical — a non-null var_95 always has a non-empty tail (min <=
    any percentile).
    """
    s = _user_series(spark, sf_dir)
    lr = F.col("lr")
    base = s.groupBy("user_id").agg(
        F.count(lr).alias("n_rets"),
        F.avg(lr).alias("mean_lr"),
        F.stddev_samp(lr).alias("vol"),
        F.sum(lr).alias("total_lr"),
        F.stddev_samp(F.when(lr < 0, lr)).alias("dvol"),
        F.percentile(lr, F.lit(0.05)).alias("var_95"),
        (F.sum(F.greatest(lr, F.lit(0.0))) / F.sum(F.greatest(-lr, F.lit(0.0)))).alias(
            "omega"
        ),
        F.least(F.avg(lr) / F.var_samp(lr), F.lit(0.25)).alias("kelly"),
        F.sort_array(F.collect_list(lr)).alias("_lrs"),
    )
    tail = F.filter(F.col("_lrs"), lambda x: x <= F.col("var_95"))
    cvar_95 = F.aggregate(
        tail, F.lit(0.0), lambda acc, x: acc + x
    ) / F.size(tail)
    base = base.filter(F.col("var_95").isNotNull()).withColumn(
        "cvar_95", cvar_95
    )
    return base.select(
        "user_id",
        "n_rets",
        r6("mean_lr").alias("mean_lr"),
        r6("vol").alias("vol"),
        r6("total_lr").alias("total_lr"),
        r6(F.col("mean_lr") / F.col("vol")).alias("sharpe"),
        r6(F.col("mean_lr") / F.col("dvol")).alias("sortino"),
        r6("var_95").alias("var_95"),
        r6("cvar_95").alias("cvar_95"),
        r6("omega").alias("omega"),
        r6("kelly").alias("kelly"),
    )


@query(
    "user_drawdown",
    oracle=f"""
    WITH s AS ({_USER_SERIES_SQL}),
    eq AS (
      SELECT user_id, ts,
             EXP(SUM(COALESCE(lr, 0)) OVER (PARTITION BY user_id ORDER BY ts
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS equity
      FROM s
    ),
    dd AS (
      SELECT user_id,
             equity / MAX(equity) OVER (PARTITION BY user_id ORDER BY ts
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1 AS drawdown,
             equity
      FROM eq
    )
    SELECT user_id,
           ROUND(MIN(drawdown), 6) AS max_drawdown,
           ROUND(LAST(equity ORDER BY equity), 6) AS max_equity
    FROM dd GROUP BY user_id
    """,
)
def user_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W5/W14 wealth curve + max drawdown — reference
    `etl/portfolio_math.py:135-138, 432-438`: cumprod(1+r) as
    exp(running-sum(log r)) so the scan stays associative, running max via
    the same window, min(dd) as the final aggregate."""
    s = _user_series(spark, sf_dir)
    w_cum = OW.cumulative(["user_id"], "ts")
    eq = s.withColumn(
        "equity", F.exp(F.sum(F.coalesce("lr", F.lit(0.0))).over(w_cum))
    )
    dd = eq.withColumn("drawdown", OW.drawdown(F.col("equity"), w_cum))
    return dd.groupBy("user_id").agg(
        r6(F.min("drawdown")).alias("max_drawdown"),
        r6(F.max("equity")).alias("max_equity"),
    )


@query(
    "hourly_bars_atr",
    oracle="""
    WITH bars AS (
      SELECT user_id, EPOCH_MS(DATE_TRUNC('hour', ts)) AS hour_ms,
             ARG_MIN(value, ts) AS open,
             MAX(value) AS high,
             MIN(value) AS low,
             ARG_MAX(value, ts) AS close,
             COUNT(*) AS n_ticks
      FROM events GROUP BY 1, 2
    ),
    tr AS (
      SELECT user_id, hour_ms, open, high, low, close, n_ticks,
             GREATEST(high - low,
                      ABS(high - LAG(close) OVER w),
                      ABS(low  - LAG(close) OVER w)) AS true_range
      FROM bars WINDOW w AS (PARTITION BY user_id ORDER BY hour_ms)
    )
    SELECT user_id, hour_ms,
           ROUND(open, 6) AS open, ROUND(high, 6) AS high,
           ROUND(low, 6) AS low, ROUND(close, 6) AS close,
           n_ticks,
           ROUND(true_range, 6) AS true_range,
           ROUND(AVG(true_range) OVER (PARTITION BY user_id ORDER BY hour_ms
             ROWS BETWEEN 13 PRECEDING AND CURRENT ROW), 6) AS atr_14
    FROM tr
    """,
)
def hourly_bars_atr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W10 ATR(14) over resampled OHLC bars — reference
    `models/time_series_signal_generator.py:2019-2047`. Tick→bar resample is
    one groupBy with arg_min/arg_max (no sort of the raw ticks); TR/ATR ride
    a window over the (much smaller) bars table."""
    ev = load_table(spark, sf_dir, "events")
    bars = ev.groupBy(
        "user_id", F.unix_millis(F.date_trunc("hour", F.col("ts"))).alias("hour_ms")
    ).agg(
        F.min_by("value", "ts").alias("open"),
        F.max("value").alias("high"),
        F.min("value").alias("low"),
        F.max_by("value", "ts").alias("close"),
        F.count(F.lit(1)).alias("n_ticks"),
    )
    w = Window.partitionBy("user_id").orderBy("hour_ms")
    from ..functions.scalars import true_range

    tr = bars.withColumn(
        "true_range",
        true_range(F.col("high"), F.col("low"), F.lag("close", 1).over(w)),
    )
    w14 = Window.partitionBy("user_id").orderBy("hour_ms").rowsBetween(-13, 0)
    return tr.select(
        "user_id",
        "hour_ms",
        r6("open").alias("open"),
        r6("high").alias("high"),
        r6("low").alias("low"),
        r6("close").alias("close"),
        "n_ticks",
        r6("true_range").alias("true_range"),
        r6(F.avg("true_range").over(w14)).alias("atr_14"),
    )


def _ewma_oracle(alpha: float = 0.3, k: int = 10) -> str:
    num = " + ".join(
        f"COALESCE(LAG(value, {i}) OVER w * {(1 - alpha) ** i!r}, 0)" for i in range(k)
    )
    den = " + ".join(
        f"(CASE WHEN LAG(value, {i}) OVER w IS NOT NULL THEN {(1 - alpha) ** i!r} ELSE 0 END)"
        for i in range(k)
    )
    return f"""
    SELECT user_id, event_id,
           ROUND(({num}) / ({den}), 6) AS ewma_10
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    """


@query("ewma_value", oracle=_ewma_oracle())
def ewma_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W11 EWMA as the truncated closed form (k=10, α=0.3) — reference
    `forcester_ts/forecaster.py:334-335` (`ewm(span)` exog). Native lag
    arithmetic, no Python; the exact infinite-memory EWMA lives in
    forecast/ (applyInPandas) where parity with pandas matters more than
    SQL expressibility."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts")
    return ev.select(
        "user_id",
        "event_id",
        r6(OW.ewma(F.col("value"), w, alpha=0.3, k=10)).alias("ewma_10"),
    )


@query(
    "asof_click_context",
    oracle="""
    WITH tagged AS (
      SELECT user_id, ts, event_id, value, 1 AS side, NULL::DOUBLE AS click_value
      FROM events WHERE event_type = 'purchase'
      UNION ALL
      SELECT user_id, ts, NULL, NULL, 0, value FROM events WHERE event_type = 'click'
    ),
    filled AS (
      SELECT user_id, ts, event_id, value, side,
             LAST_VALUE(click_value IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY ts, side
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_click_value
      FROM tagged
    )
    SELECT user_id, event_id,
           ROUND(value, 6) AS value,
           ROUND(last_click_value, 6) AS last_click_value,
           ROUND(value - last_click_value, 6) AS click_gap
    FROM filled WHERE side = 1
    """,
)
def asof_click_context(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J6 as-of join: each purchase gets the most recent prior click value —
    the reference's ffill-reindexed macro context
    (`etl/time_series_feature_builder.py:222-234`). Union + ignorenulls-last
    window: one shuffle on user_id, no range cross-product."""
    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id", "value"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", F.col("value").alias("click_value")
    )
    joined = OJ.asof_join(
        purchases, clicks, keys=["user_id"], ts="ts", right_value_cols=["click_value"]
    )
    return joined.select(
        "user_id",
        "event_id",
        r6("value").alias("value"),
        r6("click_value").alias("last_click_value"),
        r6(F.col("value") - F.col("click_value")).alias("click_gap"),
    )


@query(
    "event_type_matrix",
    oracle="""
    SELECT user_id,
           COUNT(CASE WHEN event_type = 'click' THEN 1 END)    AS n_click,
           COUNT(CASE WHEN event_type = 'view' THEN 1 END)     AS n_view,
           COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS n_purchase,
           COUNT(CASE WHEN event_type = 'signup' THEN 1 END)   AS n_signup,
           COUNT(CASE WHEN event_type = 'error' THEN 1 END)    AS n_error,
           ROUND(COALESCE(SUM(CASE WHEN event_type = 'purchase' THEN value END), 0), 6)
             AS purchase_value
    FROM events GROUP BY user_id
    """,
)
def event_type_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J7 long→wide pivot with a declared domain — reference ticker×date
    matrix `backtesting/candidate_simulator.py:238-243`. Declared pivot
    values skip the distinct-scan job; single shuffle on user_id."""
    ev = load_table(spark, sf_dir, "events")
    types = ["click", "view", "purchase", "signup", "error"]
    counts = (
        ev.groupBy("user_id")
        .pivot("event_type", types)
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("v"))
    )
    return counts.select(
        "user_id",
        *[F.coalesce(F.col(f"{t}_n"), F.lit(0)).alias(f"n_{t}") for t in types],
        r6(F.coalesce(F.col("purchase_v"), F.lit(0.0))).alias("purchase_value"),
    )


@query(
    "fifo_lot_allocation",
    oracle="""
    WITH lots AS (
      SELECT o_custkey, o_orderkey, o_totalprice AS lot_qty,
             COALESCE(SUM(o_totalprice) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
      FROM orders
    ),
    demand AS (
      SELECT o_custkey, 0.6 * SUM(o_totalprice) AS demand_qty
      FROM orders GROUP BY o_custkey
    )
    SELECT l.o_custkey, l.o_orderkey,
           ROUND(l.lot_qty, 6) AS lot_qty,
           ROUND(GREATEST(0, LEAST(l.lot_qty, d.demand_qty - l.cum_before)), 6)
             AS allocated
    FROM lots l JOIN demand d ON l.o_custkey = d.o_custkey
    """,
)
def fifo_lot_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J8 FIFO lot matching as running-sum interval overlap — the closed
    form of the reference's Python lot loop
    (`execution/paper_trading_engine.py:344-453`). Each customer's demand
    (60% of total spend) is consumed across lots in order-date order."""
    o = load_table(spark, sf_dir, "orders")
    lots = o.select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        F.col("o_totalprice").alias("lot_qty"),
    )
    demand = o.groupBy("o_custkey").agg(
        (F.lit(0.6) * F.sum("o_totalprice")).alias("demand_qty")
    )
    out = OJ.fifo_allocate(
        lots, demand, keys=["o_custkey"], lot_order=F.expr("struct(o_orderdate, o_orderkey)")
    )
    return out.select(
        "o_custkey",
        "o_orderkey",
        r6("lot_qty").alias("lot_qty"),
        r6("allocated").alias("allocated"),
    )


@query(
    "forward_return_labels",
    oracle="""
    SELECT user_id, event_id,
           FLOOR((LEAD(value, 5) OVER w / NULLIF(value, 0) - 1) * 1000000 + 0.5)
             / 1000000 AS fwd_ret_5,
           CASE WHEN LEAD(value, 5) OVER w / NULLIF(value, 0) - 1 > 0 THEN 1
                WHEN LEAD(value, 5) OVER w / NULLIF(value, 0) - 1 <= 0 THEN 0
           END AS label_up
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    """,
)
def forward_return_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W24 forward-return label generation — reference
    `scripts/run_etl_pipeline.py:441-480` classifier labels. The base
    price is NULLIF-guarded: sf0.1 carries value=0 rows and ANSI mode
    raises on x/0. Rounding is FLOOR(x·1e6+0.5)/1e6 rather than ROUND:
    both engines evaluate that float pipeline bit-identically, whereas
    their ROUND implementations (BigDecimal vs libc) can disagree within
    one ulp of the grid — observed once in 100k rows at sf0.1."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts")
    fwd = F.lead("value", 5).over(w) / F.nullif(F.col("value"), F.lit(0.0)) - 1
    return ev.select(
        "user_id",
        "event_id",
        (F.floor(fwd * 1000000 + 0.5) / 1000000).alias("fwd_ret_5"),
        F.when(fwd > 0, 1).when(fwd <= 0, 0).alias("label_up"),
    )


@query(
    "downside_vol_20",
    oracle=f"""
    WITH s AS ({_USER_SERIES_SQL})
    SELECT user_id, event_id,
           ROUND(COALESCE(STDDEV_SAMP(CASE WHEN lr < 0 THEN lr END) OVER (
             PARTITION BY user_id ORDER BY ts
             ROWS BETWEEN 19 PRECEDING AND CURRENT ROW), 0), 6) AS downside_vol_20
    FROM s
    """,
)
def downside_vol_20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W4 rolling downside volatility (negative returns only, 20-bar) —
    reference `etl/time_series_feature_builder.py:151-152`."""
    s = _user_series(spark, sf_dir)
    w20 = Window.partitionBy("user_id").orderBy("ts").rowsBetween(-19, 0)
    return s.select(
        "user_id",
        "event_id",
        r6(
            F.coalesce(OW.downside_vol(F.col("lr"), w20), F.lit(0.0))
        ).alias("downside_vol_20"),
    )


@query(
    "value_outlier_counts",
    oracle="""
    WITH z AS (
      SELECT user_id,
             (value - AVG(value) OVER (PARTITION BY user_id))
               / STDDEV_SAMP(value) OVER (PARTITION BY user_id) AS zscore
      FROM events
    )
    SELECT user_id,
           COUNT(*) AS n,
           CAST(SUM(CASE WHEN ABS(zscore) > 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers_3s,
           CAST(SUM(CASE WHEN ABS(zscore) > 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers_2s
    FROM z GROUP BY user_id
    """,
)
def value_outlier_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P5 3σ outlier rule via per-group z-scores — reference
    `etl/data_validator.py:1-13`; grouped z-stats per A1
    (`etl/preprocessor.py:216-268`)."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id")
    z = ev.withColumn(
        "zscore",
        (F.col("value") - F.avg("value").over(w)) / F.stddev_samp("value").over(w),
    )
    return z.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum((F.abs(F.col("zscore")) > 3).cast("int")).alias("n_outliers_3s"),
        F.sum((F.abs(F.col("zscore")) > 2).cast("int")).alias("n_outliers_2s"),
    )


@query(
    "low_value_runs",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts, event_id,
             CASE WHEN value < 20 THEN 1 ELSE 0 END AS low,
             CASE WHEN CASE WHEN value < 20 THEN 1 ELSE 0 END
                    <> COALESCE(LAG(CASE WHEN value < 20 THEN 1 ELSE 0 END) OVER w, -1)
                  THEN 1 ELSE 0 END AS changed
      FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ),
    runs AS (
      SELECT user_id, ts, low,
             CAST(SUM(changed) OVER (PARTITION BY user_id ORDER BY ts
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS run_id
      FROM flagged
    )
    SELECT user_id, run_id,
           COUNT(*) AS run_len,
           EPOCH_MS(MIN(ts)) AS run_start_ms
    FROM runs WHERE low = 1
    GROUP BY user_id, run_id
    HAVING COUNT(*) >= 3
    """,
)
def low_value_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W9 run-length encoding (gap groups) — reference missing-gap runs
    `etl/time_series_feature_builder.py:122-129`: change-flag cumsum ids the
    run, per-run count filters to runs ≥ 3."""
    ev = load_table(spark, sf_dir, "events")
    flagged = OW.gap_run_length(
        ev, F.col("value") < 20, keys=["user_id"], order="ts"
    )
    return (
        flagged.filter(F.col("_flag") == 1)
        .groupBy("user_id", "run_id")
        .agg(
            F.count(F.lit(1)).alias("run_len"),
            F.unix_millis(F.min("ts").cast("timestamp_ltz")).alias("run_start_ms"),
        )
        .filter(F.col("run_len") >= 3)
    )


@query(
    "model_rank_stability",
    oracle="""
    WITH halves AS (
      SELECT user_id, event_type, value,
             CASE WHEN ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id)
                    <= COUNT(*) OVER (PARTITION BY user_id) / 2
                  THEN 0 ELSE 1 END AS fold
      FROM events
    ),
    scored AS (
      SELECT user_id, fold, event_type, AVG(value) AS score
      FROM halves GROUP BY user_id, fold, event_type
    )
    SELECT user_id, fold, event_type,
           ROUND(score, 6) AS score,
           RANK() OVER (PARTITION BY user_id, fold ORDER BY score DESC, event_type)
             AS score_rank
    FROM scored
    """,
)
def model_rank_stability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A13 per-fold rank of candidate scores — reference model-rank
    stability `etl/statistical_tests.py:112-171`: two folds per user,
    event_type standing in for the model id, rank with a total-order
    tiebreak."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    halves = ev.withColumn(
        "fold",
        F.when(
            F.row_number().over(w)
            <= F.count(F.lit(1)).over(Window.partitionBy("user_id")) / 2,
            0,
        ).otherwise(1),
    )
    scored = halves.groupBy("user_id", "fold", "event_type").agg(
        F.avg("value").alias("score")
    )
    return scored.select(
        "user_id",
        "fold",
        "event_type",
        r6("score").alias("score"),
        F.rank()
        .over(
            Window.partitionBy("user_id", "fold").orderBy(
                F.desc("score"), F.asc("event_type")
            )
        )
        .alias("score_rank"),
    )


@query(
    "ensemble_blend",
    oracle="""
    WITH f AS (
      SELECT user_id, event_id, value,
             AVG(value) OVER (PARTITION BY user_id ORDER BY ts
               ROWS BETWEEN 5 PRECEDING AND 1 PRECEDING) AS f_short,
             AVG(value) OVER (PARTITION BY user_id ORDER BY ts
               ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING) AS f_long
      FROM events
    )
    SELECT user_id, event_id,
           ROUND((0.6 * COALESCE(f_short, 0) + 0.4 * COALESCE(f_long, 0))
             / NULLIF(0.6 * (CASE WHEN f_short IS NOT NULL THEN 1 ELSE 0 END)
                    + 0.4 * (CASE WHEN f_long IS NOT NULL THEN 1 ELSE 0 END), 0), 6)
             AS blended,
           ROUND(value, 6) AS actual
    FROM f
    """,
)
def ensemble_blend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5/F6 NaN-aware weighted forecast blend with weight renormalization —
    reference `forcester_ts/ensemble.py:296-377`: two trailing-mean "models"
    (5/20-bar, shifted one bar so they are genuine forecasts), weights
    0.6/0.4 renormalized over the non-null models per row."""
    ev = load_table(spark, sf_dir, "events")

    def trailing(k: int):
        return F.avg("value").over(
            Window.partitionBy("user_id").orderBy("ts").rowsBetween(-k, -1)
        )

    f = ev.select(
        "user_id",
        "event_id",
        "value",
        trailing(5).alias("f_short"),
        trailing(20).alias("f_long"),
    )
    wsum = F.lit(0.6) * F.col("f_short").isNotNull().cast("double") + F.lit(
        0.4
    ) * F.col("f_long").isNotNull().cast("double")
    num = F.lit(0.6) * F.coalesce("f_short", F.lit(0.0)) + F.lit(0.4) * F.coalesce(
        "f_long", F.lit(0.0)
    )
    return f.select(
        "user_id",
        "event_id",
        r6(num / F.nullif(wsum, F.lit(0.0))).alias("blended"),
        r6("value").alias("actual"),
    )


# md5-derived uniform in [0,1) — portable Spark/DuckDB seeded randomness
_HASH_U = (
    "(('0x' || SUBSTR(MD5(CAST({r} AS VARCHAR) || '|' || CAST({i} AS VARCHAR)), 1, 6))::BIGINT"
    " / 16777216.0)"
)

# Universal-hash bootstrap draws: ONE md5 per event, 100 affine mixes —
# same family as llmdata/dedup.py (md5 dominates cost; integer mixes are
# ~free). Inclusion in replicate r: ((a_r·x + b_r) mod P) < P/2.
_BOOT_P = 2_147_483_647
_N_REPS = 100


def _boot_params() -> list[tuple[int, int]]:
    import hashlib

    def h(key: str) -> int:
        return int(hashlib.md5(key.encode()).hexdigest()[:8], 16)

    return [
        ((h(f"ba|{r}") % (_BOOT_P - 1)) + 1, h(f"bb|{r}") % _BOOT_P)
        for r in range(_N_REPS)
    ]


_BOOT_PARAMS = _boot_params()

_BOOT_VALUES = ", ".join(
    f"({r}, {a}, {b})" for r, (a, b) in enumerate(_BOOT_PARAMS)
)


@query(
    "bootstrap_mean_ci",
    oracle=f"""
    WITH x AS (
      SELECT value,
             ('0x' || SUBSTR(MD5(CAST(event_id AS VARCHAR)), 1, 8))::BIGINT
               % {_BOOT_P} AS x
      FROM events
    ),
    params(rep, a, b) AS (VALUES {_BOOT_VALUES}),
    means AS (
      SELECT p.rep, AVG(e.value) AS rep_mean
      FROM x e CROSS JOIN params p
      WHERE (p.a * e.x + p.b) % {_BOOT_P} < {_BOOT_P // 2}
      GROUP BY p.rep
    )
    SELECT COUNT(*) AS n_reps,
           ROUND(AVG(rep_mean), 6) AS mean_of_means,
           ROUND(QUANTILE_CONT(rep_mean, 0.025), 6) AS ci_lo,
           ROUND(QUANTILE_CONT(rep_mean, 0.975), 6) AS ci_hi
    FROM means
    """,
)
def bootstrap_mean_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A12 bootstrap CI with deterministic hash-draws — reference bootstrap
    resampling `etl/portfolio_math.py:388-429`, `etl/statistical_tests.py:
    251-291` (500 seeded resamples).

    ONE md5 per event; membership in each of the 100 replicates is an
    affine integer mix of that fingerprint (universal-hash family, same
    as the MinHash pipeline). The 100× fan-out is a broadcast nested loop
    whose rows die in the map-side partial aggregation — the shuffle
    carries exactly 100 (rep, sum, count) rows at any corpus size."""
    ev = load_table(spark, sf_dir, "events")
    x = (
        F.conv(F.substring(F.md5(F.col("event_id").cast("string")), 1, 8), 16, 10)
        .cast("long")
        % _BOOT_P
    )
    base = ev.select("value", x.alias("x"))
    params = literal_grid(
        ev.sparkSession,
        [(r, a, b) for r, (a, b) in enumerate(_BOOT_PARAMS)],
        "rep int, a long, b long",
    )
    sampled = base.crossJoin(F.broadcast(params)).filter(
        (F.col("a") * F.col("x") + F.col("b")) % _BOOT_P < _BOOT_P // 2
    )
    means = sampled.groupBy("rep").agg(F.avg("value").alias("rep_mean"))
    return means.agg(
        F.count(F.lit(1)).alias("n_reps"),
        r6(F.avg("rep_mean")).alias("mean_of_means"),
        r6(F.percentile("rep_mean", F.lit(0.025))).alias("ci_lo"),
        r6(F.percentile("rep_mean", F.lit(0.975))).alias("ci_hi"),
    )


@query(
    "ar1_forecast",
    oracle="""
    WITH pairs AS (
      SELECT user_id, value AS y,
             LAG(value) OVER (PARTITION BY user_id ORDER BY ts) AS ylag
      FROM events
    ),
    fit AS (
      SELECT user_id,
             COVAR_SAMP(y, ylag) / VAR_SAMP(ylag) AS phi,
             AVG(y) - COVAR_SAMP(y, ylag) / VAR_SAMP(ylag) * AVG(ylag) AS intercept
      FROM pairs WHERE ylag IS NOT NULL GROUP BY user_id
    ),
    last_obs AS (
      SELECT user_id, ARG_MAX(value, ts) AS last_value FROM events GROUP BY user_id
    )
    SELECT f.user_id,
           ROUND(f.phi, 6) AS phi,
           ROUND(f.intercept, 6) AS intercept,
           ROUND(f.intercept + f.phi * l.last_value, 6) AS forecast_1
    FROM fit f JOIN last_obs l ON f.user_id = l.user_id
    """,
)
def ar1_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1-lite: AR(1) fit + 1-step forecast in closed form (OLS slope =
    covar/var) — the relational-algebra core of the reference's SARIMAX
    surface (`forcester_ts/sarimax.py:708-1013`); full grid-fit lives in
    forecast/ as an applyInPandas harness."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts")
    pairs = ev.select(
        "user_id",
        F.col("value").alias("y"),
        F.lag("value").over(w).alias("ylag"),
        "ts",
        "value",
    )
    fit = (
        pairs.filter(F.col("ylag").isNotNull())
        .groupBy("user_id")
        .agg(
            (F.covar_samp("y", "ylag") / F.var_samp("ylag")).alias("phi"),
            (
                F.avg("y")
                - (F.covar_samp("y", "ylag") / F.var_samp("ylag")) * F.avg("ylag")
            ).alias("intercept"),
        )
    )
    last_obs = ev.groupBy("user_id").agg(F.max_by("value", "ts").alias("last_value"))
    return fit.join(last_obs, "user_id").select(
        "user_id",
        r6("phi").alias("phi"),
        r6("intercept").alias("intercept"),
        r6(F.col("intercept") + F.col("phi") * F.col("last_value")).alias("forecast_1"),
    )


@query(
    "mc_terminal_stats",
    oracle=f"""
    WITH params AS (
      SELECT user_id,
             AVG(lr) AS mu, STDDEV_SAMP(lr) AS sigma,
             ARG_MAX(value, ts) AS last_value
      FROM ({_USER_SERIES_SQL}) GROUP BY user_id
    ),
    grid AS (
      SELECT p.user_id, p.mu, p.sigma, p.last_value, r1.range AS path, r2.range AS step
      FROM params p, RANGE(50) r1, RANGE(1, 11) r2
    ),
    shocks AS (
      SELECT user_id, path, mu, sigma, last_value,
             SQRT(-2 * LN({_HASH_U.format(r="user_id || '-' || path || '-' || step", i="1")} + 1e-12))
               * COS(2 * {PI!r} * {_HASH_U.format(r="user_id || '-' || path || '-' || step", i="2")})
               AS z
      FROM grid
    ),
    terminals AS (
      SELECT user_id,
             last_value * EXP(SUM(mu - 0.5 * sigma * sigma + sigma * z)) AS terminal
      FROM shocks GROUP BY user_id, path, last_value
    )
    SELECT user_id,
           COUNT(*) AS n_paths,
           ROUND(AVG(terminal), 6) AS mean_terminal,
           ROUND(QUANTILE_CONT(terminal, 0.05), 6) AS q05,
           ROUND(QUANTILE_CONT(terminal, 0.95), 6) AS q95
    FROM terminals GROUP BY user_id
    """,
)
def mc_terminal_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F7 Monte-Carlo GBM paths, fully native [UDTF-style explode] —
    reference `forcester_ts/monte_carlo_simulator.py:86-190` (seeded shocks,
    cumprod paths, quantile bands). Gaussian draws via Box-Muller over
    md5-hash uniforms → deterministic AND identical in the oracle; paths
    explode map-side (sequence+explode), one shuffle for the per-user
    quantiles."""
    from ..functions.scalars import hash_unit_interval

    s = _user_series(spark, sf_dir)
    params = s.groupBy("user_id").agg(
        F.avg("lr").alias("mu"),
        F.stddev_samp("lr").alias("sigma"),
        F.max_by("value", "ts").alias("last_value"),
    )
    grid = (
        params.select(
            "user_id",
            "mu",
            "sigma",
            "last_value",
            F.explode(F.sequence(F.lit(0), F.lit(49))).alias("path"),
        )
        .select("*", F.explode(F.sequence(F.lit(1), F.lit(10))).alias("step"))
    )
    key = F.concat_ws(
        "-", F.col("user_id").cast("string"), F.col("path").cast("string"), F.col("step").cast("string")
    )
    u1 = hash_unit_interval(key, F.lit(1)) + F.lit(1e-12)
    u2 = hash_unit_interval(key, F.lit(2))
    z = F.sqrt(-2 * F.log(u1)) * F.cos(2 * F.lit(PI) * u2)
    shocks = grid.withColumn("z", z)
    terminals = shocks.groupBy("user_id", "path", "last_value").agg(
        (
            F.col("last_value")
            * F.exp(
                F.sum(
                    F.col("mu") - 0.5 * F.col("sigma") * F.col("sigma") + F.col("sigma") * F.col("z")
                )
            )
        ).alias("terminal")
    ).select("user_id", "terminal")
    return terminals.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_paths"),
        r6(F.avg("terminal")).alias("mean_terminal"),
        r6(F.percentile("terminal", F.lit(0.05))).alias("q05"),
        r6(F.percentile("terminal", F.lit(0.95))).alias("q95"),
    )


@query(
    "mc_path_bands",
    oracle=f"""
    WITH params AS (
      SELECT user_id,
             AVG(lr) AS mu, STDDEV_SAMP(lr) AS sigma,
             ARG_MAX(value, ts) AS last_value
      FROM ({_USER_SERIES_SQL}) GROUP BY user_id
      HAVING COUNT(lr) > 10
    ),
    grid AS (
      SELECT p.user_id, p.mu, p.sigma, p.last_value,
             r1.range AS path, r2.range AS step
      FROM params p, RANGE(32) r1, RANGE(1, 9) r2
    ),
    shocks AS (
      SELECT user_id, path, step, mu, sigma, last_value,
             SQRT(-2 * LN({_HASH_U.format(r="user_id || '-' || path || '-' || step", i="1")} + 1e-12))
               * COS(2 * {PI!r} * {_HASH_U.format(r="user_id || '-' || path || '-' || step", i="2")})
               AS z
      FROM grid
    ),
    walk AS (
      SELECT user_id, path, step, last_value,
             last_value * EXP(SUM(mu - 0.5 * sigma * sigma + sigma * z) OVER (
               PARTITION BY user_id, path ORDER BY step
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS px
      FROM shocks
    )
    SELECT user_id, step,
           ROUND(QUANTILE_CONT(px, 0.05), 6) AS band_lo,
           ROUND(QUANTILE_CONT(px, 0.50), 6) AS band_mid,
           ROUND(QUANTILE_CONT(px, 0.95), 6) AS band_hi,
           ROUND(AVG(CASE WHEN px > last_value THEN 1.0 ELSE 0.0 END), 6)
             AS prob_up
    FROM walk
    GROUP BY user_id, step
    """,
)
def mc_path_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F7 Monte-Carlo price paths with PER-STEP quantile bands and
    prob-up — reference `forcester_ts/monte_carlo_simulator.py:86-190`
    (seeded shocks → cumulative-product paths → mean/quantile bands →
    prob-up). Fully native: `explode(sequence)` fans out (path, step),
    hash Box-Muller draws are portable to the oracle, the walk is a
    running log-sum per (key, path), bands are exact per-step quantiles.
    The fan-out (32×8 per key) dies into the per-(key,step) aggregate —
    partial aggregation keeps the shuffle at bands-size rows."""
    from ..functions.scalars import hash_unit_interval

    s = _user_series(spark, sf_dir)
    params = (
        s.groupBy("user_id")
        .agg(
            F.avg("lr").alias("mu"),
            F.stddev_samp("lr").alias("sigma"),
            F.max_by("value", "ts").alias("last_value"),
            F.count("lr").alias("n_lr"),
        )
        .filter(F.col("n_lr") > 10)
        .drop("n_lr")
    )
    grid = params.select(
        "*", F.explode(F.sequence(F.lit(0), F.lit(31))).alias("path")
    ).select("*", F.explode(F.sequence(F.lit(1), F.lit(8))).alias("step"))
    seed = F.concat_ws(
        "-", F.col("user_id"), F.col("path"), F.col("step")
    )
    u1 = hash_unit_interval(seed, F.lit(1))
    u2 = hash_unit_interval(seed, F.lit(2))
    z = F.sqrt(-2 * F.log(u1 + 1e-12)) * F.cos(2 * math.pi * u2)
    shocks = grid.select(
        "user_id", "path", "step", "mu", "sigma", "last_value", z.alias("z")
    )
    wpath = (
        Window.partitionBy("user_id", "path")
        .orderBy("step")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    walk = shocks.select(
        "user_id",
        "path",
        "step",
        "last_value",
        (
            F.col("last_value")
            * F.exp(
                F.sum(
                    F.col("mu")
                    - 0.5 * F.col("sigma") * F.col("sigma")
                    + F.col("sigma") * F.col("z")
                ).over(wpath)
            )
        ).alias("px"),
    )
    return walk.groupBy("user_id", "step").agg(
        r6(F.percentile("px", F.lit(0.05))).alias("band_lo"),
        r6(F.percentile("px", F.lit(0.50))).alias("band_mid"),
        r6(F.percentile("px", F.lit(0.95))).alias("band_hi"),
        r6(
            F.avg(
                F.when(F.col("px") > F.col("last_value"), 1.0).otherwise(0.0)
            )
        ).alias("prob_up"),
    )


# ---------------------------------------------------------------------------
# Benchmark-relative metrics vs the equal-weight universe
# ---------------------------------------------------------------------------

_BM_TRADING_DAYS = 252


@query(
    "benchmark_relative_metrics",
    oracle=f"""
    WITH ev AS (SELECT * FROM events WHERE value > 0),
    dayrows AS (
      SELECT user_id, CAST(ts AS DATE) AS d, value,
             ROW_NUMBER() OVER (PARTITION BY user_id, CAST(ts AS DATE)
                                ORDER BY ts DESC, event_id DESC) AS rk
      FROM ev
    ),
    daily AS (SELECT user_id, d, value FROM dayrows WHERE rk = 1),
    rets AS (
      SELECT user_id, d,
             value / LAG(value) OVER (PARTITION BY user_id ORDER BY d) - 1
               AS r
      FROM daily
    ),
    rr AS (SELECT * FROM rets WHERE r IS NOT NULL),
    bench AS (SELECT d, AVG(r) AS rb FROM rr GROUP BY d),
    j AS (
      SELECT rr.user_id, rr.r AS rp, b.rb, rr.r - b.rb AS ex
      FROM rr JOIN bench b ON b.d = rr.d
    ),
    agg AS (
      SELECT user_id,
             CAST(COUNT(*) AS BIGINT) AS n,
             AVG(ex) AS mean_ex,
             SQRT(AVG(ex * ex) - AVG(ex) * AVG(ex)) AS sd_ex,
             AVG(rp) AS mean_p, AVG(rb) AS mean_b,
             COVAR_POP(rb, rp) AS cov_bp,
             VAR_POP(rb) AS var_b, VAR_POP(rp) AS var_p
      FROM j GROUP BY user_id
    )
    SELECT user_id, n AS n_periods,
           ROUND(sd_ex * SQRT({_BM_TRADING_DAYS}), 6) AS tracking_error,
           ROUND(CASE WHEN sd_ex * SQRT({_BM_TRADING_DAYS}) > 1e-8
                      THEN mean_ex * SQRT({_BM_TRADING_DAYS})
                           / (sd_ex * SQRT({_BM_TRADING_DAYS}))
                      ELSE 0.0 END, 6) AS information_ratio,
           ROUND(CASE WHEN n < 2 OR SQRT(var_b) <= 1e-12
                      THEN mean_ex * {_BM_TRADING_DAYS}
                      ELSE (mean_p - (cov_bp / var_b) * mean_b)
                           * {_BM_TRADING_DAYS} END, 6) AS alpha,
           ROUND(CASE WHEN n < 2 OR SQRT(var_b) <= 1e-12 THEN 0.0
                      ELSE cov_bp / var_b END, 6) AS beta,
           ROUND(CASE WHEN n < 2 OR SQRT(var_b) <= 1e-12 OR var_p <= 0
                      THEN 0.0
                      ELSE (cov_bp * cov_bp) / (var_b * var_p) END, 6)
             AS r_squared
    FROM agg
    """,
)
def benchmark_relative_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-relative performance vs the equal-weight universe —
    reference `backtesting/candidate_backtester.py:25-130` (the
    BacktestResult benchmark block) with the metric math from
    `etl/portfolio_math.py:169-210` and the benchmark construction from
    `backtesting/candidate_simulator.py:234-259`: day-grain per-key
    returns (last observation per day), the benchmark as the
    cross-sectional mean return per day, then per key the annualized
    tracking error (population std of excess x sqrt252), information
    ratio (zero when TE degenerate), and the linregress alpha
    (intercept x 252) / beta (slope) / R^2 with the reference's
    degenerate-benchmark fallback (alpha from mean excess, beta = 0).

    Plan: one day-grain dedup window, one lag window, the benchmark as a
    per-day aggregate joined back (AQE decides broadcast vs shuffle),
    one per-key aggregate. The benchmark join key is the DAY — bounded
    cardinality at any corpus size."""
    from pyspark.sql import Window as W

    ev = load_table(spark, sf_dir, "events").filter(F.col("value") > 0)
    wday = W.partitionBy("user_id", F.to_date("ts")).orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    daily = (
        ev.select(
            "user_id",
            F.to_date("ts").alias("d"),
            "value",
            F.row_number().over(wday).alias("rk"),
        )
        .filter(F.col("rk") == 1)
        .drop("rk")
    )
    wd = W.partitionBy("user_id").orderBy("d")
    rr = daily.select(
        "user_id",
        "d",
        (F.col("value") / F.lag("value").over(wd) - 1).alias("r"),
    ).filter(F.col("r").isNotNull())
    bench = rr.groupBy("d").agg(F.avg("r").alias("rb"))
    j = rr.join(bench, "d").select(
        "user_id",
        F.col("r").alias("rp"),
        "rb",
        (F.col("r") - F.col("rb")).alias("ex"),
    )
    agg = j.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.avg("ex").alias("mean_ex"),
        F.sqrt(
            F.avg(F.col("ex") * F.col("ex")) - F.avg("ex") * F.avg("ex")
        ).alias("sd_ex"),
        F.avg("rp").alias("mean_p"),
        F.avg("rb").alias("mean_b"),
        F.covar_pop("rb", "rp").alias("cov_bp"),
        F.var_pop("rb").alias("var_b"),
        F.var_pop("rp").alias("var_p"),
    )
    sq = math.sqrt(_BM_TRADING_DAYS)
    te = F.col("sd_ex") * sq
    degenerate = (F.col("n") < 2) | (F.sqrt(F.col("var_b")) <= 1e-12)
    beta = F.col("cov_bp") / F.col("var_b")
    return agg.select(
        "user_id",
        F.col("n").alias("n_periods"),
        r6(te).alias("tracking_error"),
        r6(
            F.when(te > 1e-8, F.col("mean_ex") * sq / te).otherwise(0.0)
        ).alias("information_ratio"),
        r6(
            F.when(degenerate, F.col("mean_ex") * _BM_TRADING_DAYS).otherwise(
                (F.col("mean_p") - beta * F.col("mean_b")) * _BM_TRADING_DAYS
            )
        ).alias("alpha"),
        r6(F.when(degenerate, 0.0).otherwise(beta)).alias("beta"),
        r6(
            F.when(degenerate | (F.col("var_p") <= 0), 0.0).otherwise(
                (F.col("cov_bp") * F.col("cov_bp"))
                / (F.col("var_b") * F.col("var_p"))
            )
        ).alias("r_squared"),
    )


# ---------------------------------------------------------------------------
# Directional-accuracy failure diagnosis (per-ticker issue census)
# ---------------------------------------------------------------------------

# Reference `scripts/diagnose_directional_accuracy.py:91-143`
# (`diagnose_model_issues`): per-ticker quant-validation metrics checked
# against four issue patterns — overfitting (deeply negative Sharpe AND
# Sortino), trend reversal (annual return < -15%), volatility spike
# (max drawdown > 30% OR volatility > 20%) and insufficient data
# (lookback < 200 bars). The engine computes the metric block per key
# from the log-return series (annualized x252; Sortino over the
# below-zero semideviation; drawdown from the running peak of the
# cumulative log return) — the reference reads the same fields from the
# quant_validation payload. The fleet recommendation union (`:145-253`)
# shares its shape with `ensemble_monitor_recommendations`.
_DAD_SHARPE = -1.5
_DAD_SORTINO = -2.0
_DAD_ANN_RET = -0.15
_DAD_MAX_DD = 0.30
_DAD_VOL = 0.20
_DAD_MIN_BARS = 200


@query(
    "directional_accuracy_diagnosis",
    oracle=f"""
    WITH s AS (
      SELECT user_id, ts, event_id, value,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS rn,
             LN(value / LAG(value, 1)
                 OVER (PARTITION BY user_id ORDER BY ts, event_id)) AS lr
      FROM (SELECT * FROM events WHERE value > 0)
    ),
    cum1 AS (
      SELECT user_id, rn, lr,
             SUM(lr) OVER (PARTITION BY user_id ORDER BY rn
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cum_lr
      FROM s WHERE lr IS NOT NULL
    ),
    cum AS (
      SELECT user_id, rn, lr, cum_lr,
             MAX(cum_lr) OVER (PARTITION BY user_id ORDER BY rn
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND CURRENT ROW) AS peak
      FROM cum1
    ),
    m AS (
      SELECT user_id,
             CAST(COUNT(*) AS BIGINT) AS lookback_bars,
             AVG(lr) * 252 AS annual_return,
             STDDEV_SAMP(lr) * SQRT(252) AS volatility,
             CASE WHEN STDDEV_SAMP(lr) > 0
                  THEN AVG(lr) / STDDEV_SAMP(lr) * SQRT(252) END AS sharpe,
             CASE WHEN SQRT(AVG(CASE WHEN lr < 0 THEN lr * lr
                                     ELSE 0.0 END)) > 0
                  THEN AVG(lr) / SQRT(AVG(CASE WHEN lr < 0 THEN lr * lr
                                               ELSE 0.0 END)) * SQRT(252)
                  END AS sortino,
             MAX(1.0 - EXP(cum_lr - peak)) AS max_drawdown
      FROM cum GROUP BY user_id
    )
    SELECT user_id,
           lookback_bars,
           ROUND(annual_return, 6) AS annual_return,
           ROUND(volatility, 6) AS volatility,
           ROUND(sharpe, 6) AS sharpe_ratio,
           ROUND(sortino, 6) AS sortino_ratio,
           ROUND(max_drawdown, 6) AS max_drawdown,
           CAST(sharpe < {_DAD_SHARPE} AND sortino < {_DAD_SORTINO}
                AS INTEGER) AS overfitting,
           CAST(annual_return < {_DAD_ANN_RET} AS INTEGER)
             AS trend_reversal,
           CAST(max_drawdown > {_DAD_MAX_DD} OR volatility > {_DAD_VOL}
                AS INTEGER) AS volatility_spike,
           CAST(lookback_bars < {_DAD_MIN_BARS} AS INTEGER)
             AS insufficient_data,
           CAST(sharpe < {_DAD_SHARPE} AND sortino < {_DAD_SORTINO}
                AS INTEGER)
             + CAST(annual_return < {_DAD_ANN_RET} AS INTEGER)
             + CAST(max_drawdown > {_DAD_MAX_DD} OR volatility > {_DAD_VOL}
                    AS INTEGER)
             + CAST(lookback_bars < {_DAD_MIN_BARS} AS INTEGER)
             AS issue_count
    FROM m
    """,
)
def directional_accuracy_diagnosis(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-ticker model-issue diagnosis — reference
    `scripts/diagnose_directional_accuracy.py:91-143`: the four issue
    patterns (overfitting: Sharpe < -1.5 AND Sortino < -2; trend
    reversal: annualized return < -15%; volatility spike: max drawdown
    > 30% OR volatility > 20%; insufficient data: < 200 lookback bars)
    over per-key metrics — x252 annualization, Sortino over the
    below-zero semideviation, drawdown off the running cumulative-return
    peak.

    Scale: one ordered window pass per key + one groupBy. No UDF."""
    from .queries_stats import _series

    s = _series(spark, sf_dir).filter(F.col("lr").isNotNull())
    w = (
        Window.partitionBy("user_id")
        .orderBy("rn")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = s.select(
        "user_id",
        "rn",
        "lr",
        F.sum("lr").over(w).alias("cum_lr"),
    ).withColumn("peak", F.max("cum_lr").over(w))
    down = F.sqrt(
        F.avg(F.when(F.col("lr") < 0, F.col("lr") * F.col("lr")).otherwise(0.0))
    )
    m = cum.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("lookback_bars"),
        (F.avg("lr") * 252).alias("annual_return"),
        (F.stddev_samp("lr") * math.sqrt(252)).alias("volatility"),
        F.when(
            F.stddev_samp("lr") > 0,
            F.avg("lr") / F.stddev_samp("lr") * math.sqrt(252),
        ).alias("sharpe"),
        F.when(down > 0, F.avg("lr") / down * math.sqrt(252)).alias("sortino"),
        F.max(1.0 - F.exp(F.col("cum_lr") - F.col("peak"))).alias(
            "max_drawdown"
        ),
    )
    overfit = (F.col("sharpe") < _DAD_SHARPE) & (
        F.col("sortino") < _DAD_SORTINO
    )
    reversal = F.col("annual_return") < _DAD_ANN_RET
    spike = (F.col("max_drawdown") > _DAD_MAX_DD) | (
        F.col("volatility") > _DAD_VOL
    )
    insuff = F.col("lookback_bars") < _DAD_MIN_BARS

    def flag(c):
        return F.coalesce(c.cast("int"), F.lit(0))

    return m.select(
        "user_id",
        "lookback_bars",
        r6(F.col("annual_return")).alias("annual_return"),
        r6(F.col("volatility")).alias("volatility"),
        r6(F.col("sharpe")).alias("sharpe_ratio"),
        r6(F.col("sortino")).alias("sortino_ratio"),
        r6(F.col("max_drawdown")).alias("max_drawdown"),
        overfit.cast("int").alias("overfitting"),
        reversal.cast("int").alias("trend_reversal"),
        spike.cast("int").alias("volatility_spike"),
        insuff.cast("int").alias("insufficient_data"),
        (
            flag(overfit) + flag(reversal) + flag(spike) + flag(insuff)
        ).alias("issue_count"),
    )


# ---------------------------------------------------------------------------
# OHLCV duplicate audit with both dedupe strategies
# ---------------------------------------------------------------------------


@query(
    "ohlcv_duplicate_audit",
    oracle="""
    WITH bars AS (
      SELECT user_id, CAST(ts AS DATE) AS d, ts, event_id, value,
             ROW_NUMBER() OVER (PARTITION BY user_id, CAST(ts AS DATE)
                                ORDER BY ts DESC, event_id DESC) AS rk
      FROM events WHERE value > 0
    ),
    per AS (
      SELECT user_id,
             CAST(COUNT(*) AS BIGINT) AS total_rows,
             CAST(COUNT(DISTINCT d) AS BIGINT) AS unique_dates,
             CAST(COUNT(*) - COUNT(DISTINCT d) AS BIGINT) AS duplicates,
             CAST(MIN(d) AS VARCHAR) AS first_date,
             CAST(MAX(d) AS VARCHAR) AS last_date,
             AVG(CASE WHEN rk = 1 THEN value END) AS close_keep_last
      FROM bars GROUP BY user_id
    ),
    mm AS (
      SELECT user_id, AVG(day_mean) AS close_mean_agg
      FROM (SELECT user_id, d, AVG(value) AS day_mean
            FROM bars GROUP BY user_id, d)
      GROUP BY user_id
    )
    SELECT p.user_id, total_rows, unique_dates, duplicates,
           first_date, last_date,
           ROUND(close_keep_last, 6) AS close_keep_last,
           ROUND(close_mean_agg, 6) AS close_mean_agg,
           ROUND(close_keep_last - close_mean_agg, 6) AS strategy_divergence
    FROM per p JOIN mm ON mm.user_id = p.user_id
    """,
)
def ohlcv_duplicate_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-bar audit — reference
    `scripts/audit_ohlcv_duplicates.py:34-104`: per-ticker row count vs
    unique bar dates, the duplicate census and date range, plus BOTH
    dedupe strategies summarized side-by-side (`_dedupe`, `:46-57`:
    keep-last under the deterministic (ts, id) order vs numeric
    mean-aggregation) with their divergence — the audit's reason to
    exist is showing when the two disagree.

    Scale: one rank window + two bounded per-key aggregations."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("value") > 0)
    bars = ev.select(
        "user_id",
        F.to_date("ts").alias("d"),
        "value",
        F.row_number()
        .over(
            Window.partitionBy("user_id", F.to_date("ts")).orderBy(
                F.col("ts").desc(), F.col("event_id").desc()
            )
        )
        .alias("rk"),
    )
    per = bars.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("total_rows"),
        F.countDistinct("d").alias("unique_dates"),
        (F.count(F.lit(1)) - F.countDistinct("d")).alias("duplicates"),
        F.min("d").cast("string").alias("first_date"),
        F.max("d").cast("string").alias("last_date"),
        F.avg(F.when(F.col("rk") == 1, F.col("value"))).alias(
            "close_keep_last"
        ),
    )
    mm = (
        bars.groupBy("user_id", "d")
        .agg(F.avg("value").alias("day_mean"))
        .groupBy("user_id")
        .agg(F.avg("day_mean").alias("close_mean_agg"))
    )
    return per.join(mm, "user_id").select(
        "user_id",
        "total_rows",
        "unique_dates",
        "duplicates",
        "first_date",
        "last_date",
        r6(F.col("close_keep_last")).alias("close_keep_last"),
        r6(F.col("close_mean_agg")).alias("close_mean_agg"),
        r6(F.col("close_keep_last") - F.col("close_mean_agg")).alias(
            "strategy_divergence"
        ),
    )


# ---------------------------------------------------------------------------
# Synthetic-dataset TA feature factory (generate_synthetic_dataset.py)
# ---------------------------------------------------------------------------

# Reference `scripts/generate_synthetic_dataset.py:61-128`
# (`build_feature_frames`): per-ticker technical features over the close
# series with pandas rolling semantics (min_periods = max(1, w//2), sample
# std) — SMA(5/20), rolling return vol(10), forward returns (1/5 bars,
# `pct_change(h).shift(-h)`), RSI(14) in the simple-rolling-mean variant
# with the loss→NaN guard, MACD(12/26/9) on `ewm(adjust=False)` EMAs,
# Bollinger(20, 2σ), and rolling z-score(20). The factor-beta stub stays
# disabled (factor_exposures defaults to [], `:73,116-123`).
#
# EMA(adjust=False) is computed EXACTLY by factoring the recursion into a
# prefix sum: ema_t = (1-α)^t · (x_0 + α·Σ_{i=1..t} x_i·(1-α)^{-i}). The
# (1-α)^{-i} terms stay ≤ ~1e9 for the engine's ≤100-bar series; for
# unbounded-length series the Arrow-kernel exact recursion
# (`forecast/ewma.py`) is the scale path, exactly like W11.
_TAF_SPANS = (12, 26, 9)  # MACD fast/slow/signal


def _taf_alpha(span: int) -> float:
    return 2.0 / (span + 1.0)


_TAF_A_FAST = _taf_alpha(12)
_TAF_A_SLOW = _taf_alpha(26)
_TAF_A_SIG = _taf_alpha(9)

_TAF_SQL = f"""
    s AS (
      SELECT user_id, value AS x,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) - 1 AS bar
      FROM events WHERE value > 0
    ),
    d AS (
      SELECT user_id, bar, x,
             x / LAG(x) OVER wk - 1.0 AS ret,
             x - LAG(x) OVER wk AS delta,
             LEAD(x, 1) OVER wk AS x_f1,
             LEAD(x, 5) OVER wk AS x_f5,
             CASE WHEN bar = 0 THEN x
                  ELSE {_TAF_A_FAST} * x * POWER(1.0 - {_TAF_A_FAST}, -bar)
                  END AS uf,
             CASE WHEN bar = 0 THEN x
                  ELSE {_TAF_A_SLOW} * x * POWER(1.0 - {_TAF_A_SLOW}, -bar)
                  END AS us
      FROM s WINDOW wk AS (PARTITION BY user_id ORDER BY bar)
    ),
    e AS (
      SELECT user_id, bar, x, ret, delta, x_f1, x_f5,
             POWER(1.0 - {_TAF_A_FAST}, bar)
               * SUM(uf) OVER wc AS ema_fast,
             POWER(1.0 - {_TAF_A_SLOW}, bar)
               * SUM(us) OVER wc AS ema_slow,
             AVG(x) OVER w5 AS sma5_raw, COUNT(x) OVER w5 AS n5,
             AVG(x) OVER w20 AS sma20_raw, COUNT(x) OVER w20 AS n20,
             STDDEV_SAMP(ret) OVER w10 AS vol10_raw,
             COUNT(ret) OVER w10 AS nr10,
             AVG(GREATEST(delta, 0.0)) OVER w14 AS gain14,
             AVG(GREATEST(-delta, 0.0)) OVER w14 AS loss14,
             COUNT(delta) OVER w14 AS nd14,
             STDDEV_SAMP(x) OVER w20 AS std20_raw
      FROM d
      WINDOW
        wc AS (PARTITION BY user_id ORDER BY bar
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        w5 AS (PARTITION BY user_id ORDER BY bar
               ROWS BETWEEN 4 PRECEDING AND CURRENT ROW),
        w10 AS (PARTITION BY user_id ORDER BY bar
                ROWS BETWEEN 9 PRECEDING AND CURRENT ROW),
        w14 AS (PARTITION BY user_id ORDER BY bar
                ROWS BETWEEN 13 PRECEDING AND CURRENT ROW),
        w20 AS (PARTITION BY user_id ORDER BY bar
                ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
    ),
    g AS (
      SELECT *, ema_fast - ema_slow AS macd_line,
             CASE WHEN bar = 0 THEN ema_fast - ema_slow
                  ELSE {_TAF_A_SIG} * (ema_fast - ema_slow)
                       * POWER(1.0 - {_TAF_A_SIG}, -bar) END AS ug
      FROM e
    ),
    h AS (
      SELECT *, POWER(1.0 - {_TAF_A_SIG}, bar)
                  * SUM(ug) OVER (PARTITION BY user_id ORDER BY bar
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND CURRENT ROW) AS macd_signal_raw
      FROM g
    ),
    taf AS (
      SELECT user_id, CAST(bar AS INT) AS bar,
             CASE WHEN n5 >= 2 THEN sma5_raw END AS sma_5,
             CASE WHEN n20 >= 10 THEN sma20_raw END AS sma_20,
             CASE WHEN nr10 >= 5 THEN vol10_raw END AS vol_10,
             x_f1 / x - 1.0 AS return_fwd_1,
             x_f5 / x - 1.0 AS return_fwd_5,
             CASE WHEN nd14 >= 7 AND loss14 > 0
                  THEN 100.0 - 100.0 / (1.0 + gain14 / loss14)
                  END AS rsi_14,
             macd_line AS macd,
             macd_signal_raw AS macd_signal,
             macd_line - macd_signal_raw AS macd_hist,
             CASE WHEN n20 >= 10 THEN sma20_raw END AS boll_mid,
             CASE WHEN n20 >= 10 THEN sma20_raw + 2.0 * std20_raw
                  END AS boll_upper,
             CASE WHEN n20 >= 10 THEN sma20_raw - 2.0 * std20_raw
                  END AS boll_lower,
             CASE WHEN n20 >= 10 THEN
               (x - sma20_raw) / NULLIF(std20_raw, 0.0) END AS zscore_20
      FROM h
    )
"""


@query(
    "ta_feature_frame",
    oracle=f"""
    WITH {_TAF_SQL}
    SELECT user_id, bar,
           ROUND(sma_5, 6) AS sma_5,
           ROUND(sma_20, 6) AS sma_20,
           ROUND(vol_10, 6) AS vol_10,
           ROUND(return_fwd_1, 6) AS return_fwd_1,
           ROUND(return_fwd_5, 6) AS return_fwd_5,
           ROUND(rsi_14, 6) AS rsi_14,
           ROUND(macd, 6) AS macd,
           ROUND(macd_signal, 6) AS macd_signal,
           ROUND(macd_hist, 6) AS macd_hist,
           ROUND(boll_mid, 6) AS boll_mid,
           ROUND(boll_upper, 6) AS boll_upper,
           ROUND(boll_lower, 6) AS boll_lower,
           ROUND(zscore_20, 6) AS zscore_20
    FROM taf
    """,
)
def ta_feature_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R144: the synthetic-dataset TA feature factory — one windowed pass
    per key; the two close EMAs and the signal EMA are exact
    adjust=False recursions via factored prefix sums, everything else is
    frame aggregates with pandas min_periods gates. Linear, one shuffle."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("value") > 0)
    wk = Window.partitionBy("user_id").orderBy("ts", "event_id")
    s = ev.select(
        "user_id",
        F.col("value").alias("x"),
        (F.row_number().over(wk) - 1).alias("bar"),
    )
    wb = Window.partitionBy("user_id").orderBy("bar")
    af, asl, asg = _TAF_A_FAST, _TAF_A_SLOW, _TAF_A_SIG
    x = F.col("x")
    bar = F.col("bar")
    d = s.select(
        "user_id",
        "bar",
        "x",
        (x / F.lag("x").over(wb) - 1.0).alias("ret"),
        (x - F.lag("x").over(wb)).alias("delta"),
        F.lead("x", 1).over(wb).alias("x_f1"),
        F.lead("x", 5).over(wb).alias("x_f5"),
        F.when(bar == 0, x)
        .otherwise(af * x * F.pow(F.lit(1.0 - af), -bar))
        .alias("uf"),
        F.when(bar == 0, x)
        .otherwise(asl * x * F.pow(F.lit(1.0 - asl), -bar))
        .alias("us"),
    )
    wc = wb.rowsBetween(Window.unboundedPreceding, 0)
    w5 = wb.rowsBetween(-4, 0)
    w10 = wb.rowsBetween(-9, 0)
    w14 = wb.rowsBetween(-13, 0)
    w20 = wb.rowsBetween(-19, 0)
    e = d.select(
        "*",
        (F.pow(F.lit(1.0 - af), bar) * F.sum("uf").over(wc)).alias(
            "ema_fast"
        ),
        (F.pow(F.lit(1.0 - asl), bar) * F.sum("us").over(wc)).alias(
            "ema_slow"
        ),
        F.avg("x").over(w5).alias("sma5_raw"),
        F.count("x").over(w5).alias("n5"),
        F.avg("x").over(w20).alias("sma20_raw"),
        F.count("x").over(w20).alias("n20"),
        F.stddev_samp("ret").over(w10).alias("vol10_raw"),
        F.count("ret").over(w10).alias("nr10"),
        F.avg(F.greatest(F.col("delta"), F.lit(0.0))).over(w14).alias(
            "gain14"
        ),
        F.avg(F.greatest(-F.col("delta"), F.lit(0.0))).over(w14).alias(
            "loss14"
        ),
        F.count("delta").over(w14).alias("nd14"),
        F.stddev_samp("x").over(w20).alias("std20_raw"),
    )
    macd_line = F.col("ema_fast") - F.col("ema_slow")
    g = e.select(
        "*",
        macd_line.alias("macd_line"),
        F.when(bar == 0, macd_line)
        .otherwise(asg * macd_line * F.pow(F.lit(1.0 - asg), -bar))
        .alias("ug"),
    )
    h = g.select(
        "*",
        (F.pow(F.lit(1.0 - asg), bar) * F.sum("ug").over(wc)).alias(
            "macd_signal_raw"
        ),
    )
    m20 = F.col("n20") >= 10
    return h.select(
        "user_id",
        bar.cast("int").alias("bar"),
        r6(F.when(F.col("n5") >= 2, F.col("sma5_raw"))).alias("sma_5"),
        r6(F.when(m20, F.col("sma20_raw"))).alias("sma_20"),
        r6(F.when(F.col("nr10") >= 5, F.col("vol10_raw"))).alias("vol_10"),
        r6(F.col("x_f1") / x - 1.0).alias("return_fwd_1"),
        r6(F.col("x_f5") / x - 1.0).alias("return_fwd_5"),
        r6(
            F.when(
                (F.col("nd14") >= 7) & (F.col("loss14") > 0),
                100.0 - 100.0 / (1.0 + F.col("gain14") / F.col("loss14")),
            )
        ).alias("rsi_14"),
        r6(F.col("macd_line")).alias("macd"),
        r6(F.col("macd_signal_raw")).alias("macd_signal"),
        r6(F.col("macd_line") - F.col("macd_signal_raw")).alias("macd_hist"),
        r6(F.when(m20, F.col("sma20_raw"))).alias("boll_mid"),
        r6(
            F.when(m20, F.col("sma20_raw") + 2.0 * F.col("std20_raw"))
        ).alias("boll_upper"),
        r6(
            F.when(m20, F.col("sma20_raw") - 2.0 * F.col("std20_raw"))
        ).alias("boll_lower"),
        r6(
            F.when(
                m20,
                (x - F.col("sma20_raw"))
                / F.nullif(F.col("std20_raw"), F.lit(0.0)),
            )
        ).alias("zscore_20"),
    )


@query(
    "series_calibration_stats",
    oracle=f"""
    WITH {_TAF_SQL},
    lr AS (
      SELECT user_id, ret,
             LN(x) - LN(LAG(x) OVER (PARTITION BY user_id ORDER BY bar))
               AS logret
      FROM d
    )
    SELECT user_id,
           CAST(COUNT(ret) AS BIGINT) AS observations,
           ROUND(COALESCE(AVG(ret), 0.0), 6) AS mean_return,
           ROUND(COALESCE(STDDEV_SAMP(ret), 0.0), 6) AS volatility,
           ROUND(COALESCE(AVG(logret), 0.0), 6) AS log_return_mean,
           ROUND(COALESCE(VAR_SAMP(logret), 0.0), 6) AS log_return_variance
    FROM lr GROUP BY user_id
    """,
)
def series_calibration_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R145: per-ticker calibration stats (`generate_synthetic_dataset
    .py:139-152`, `compute_calibration_stats`): simple-return mean/vol
    and log-return mean/variance with the empty-series zero defaults.
    One map-side-combinable groupBy."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("value") > 0)
    wk = Window.partitionBy("user_id").orderBy("ts", "event_id")
    d = ev.select(
        "user_id",
        (F.col("value") / F.lag("value").over(wk) - 1.0).alias("ret"),
        (F.log("value") - F.log(F.lag("value").over(wk))).alias("logret"),
    )
    return d.groupBy("user_id").agg(
        F.count("ret").cast("long").alias("observations"),
        r6(F.coalesce(F.avg("ret"), F.lit(0.0))).alias("mean_return"),
        r6(F.coalesce(F.stddev_samp("ret"), F.lit(0.0))).alias("volatility"),
        r6(F.coalesce(F.avg("logret"), F.lit(0.0))).alias("log_return_mean"),
        r6(F.coalesce(F.var_samp("logret"), F.lit(0.0))).alias(
            "log_return_variance"
        ),
    )


# ---------------------------------------------------------------------------
# Rolling-window cross-validation aggregate (forcester_ts/cross_validation)
# ---------------------------------------------------------------------------

# Reference `forcester_ts/cross_validation.py` (RollingWindowValidator):
# expanding-train folds from min_train_size at step_size stride, each
# REFIT with the real forecaster stack and evaluated on the next
# `horizon` bars with the full `compute_regression_metrics` bundle
# (`forcester_ts/metrics.py:39-107`: rmse, eps-guarded smape, tracking
# error = population std of residuals, one-step directional accuracy
# with zero-zero counted correct, terminal DA with the
# flat-forecast-is-wrong rule), then mean-aggregated per (model, metric)
# across folds (`_aggregate_metrics`, `:134-148`). Constants rescaled
# 180/5/5 → 40/5/5 for the engine's 49-88-bar series (40 = the kernels'
# minimum fit window); the model set is the REAL kernel stack refit per
# fold (`forecast/rollingcv.py`: HR-ARIMA grid, GARCH AR(1) mean path,
# SAMoSSA) plus their equal-weight ensemble, staged once per
# (code version, dataset) and re-read by the oracle.
_CV_MIN_TRAIN = 40
_CV_HORIZON = 5
_CV_EPS = 1e-9

_RCV_SQL = f"""
    s AS (
      SELECT user_id, value AS x,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) - 1 AS bar,
             COUNT(*) OVER (PARTITION BY user_id) AS n
      FROM events WHERE value > 0
    ),
    fcs AS (
      SELECT user_id, CAST(fold_id AS INT) AS fold_id, CAST(h AS INT) AS h,
             p_sarimax, p_garch, p_samossa
      FROM read_parquet(
        '__ORACLE_STAGE__/rolling_cv_forecasts/*.parquet')
    ),
    te AS (
      SELECT s.user_id, s.bar, s.x,
             CAST(FLOOR((s.bar - {_CV_MIN_TRAIN})
                        / {_CV_HORIZON}) AS INT) AS fold_id,
             s.bar - {_CV_MIN_TRAIN}
               - {_CV_HORIZON} * FLOOR((s.bar - {_CV_MIN_TRAIN})
                                       / {_CV_HORIZON}) AS h
      FROM s
      WHERE s.bar >= {_CV_MIN_TRAIN}
        AND {_CV_MIN_TRAIN} + {_CV_HORIZON}
            * (FLOOR((s.bar - {_CV_MIN_TRAIN}) / {_CV_HORIZON}) + 1) <= s.n
    ),
    pr AS (
      SELECT t.user_id, t.fold_id, t.bar, t.x, m.model,
             CASE m.model
               WHEN 'sarimax' THEN f.p_sarimax
               WHEN 'garch' THEN f.p_garch
               WHEN 'samossa' THEN f.p_samossa
               ELSE (f.p_sarimax + f.p_garch + f.p_samossa) / 3.0
               END AS pred
      FROM te t
      JOIN fcs f ON f.user_id = t.user_id AND f.fold_id = t.fold_id
                AND f.h = t.h + 1
      CROSS JOIN (VALUES ('sarimax'), ('garch'), ('samossa'),
                         ('ensemble')) AS m(model)
    ),
    lg AS (
      SELECT *, LAG(x) OVER wf AS a_prev, LAG(pred) OVER wf AS p_prev
      FROM pr WINDOW wf AS (PARTITION BY user_id, fold_id, model
                            ORDER BY bar)
    ),
    fm AS (
      SELECT user_id, fold_id, model,
             SQRT(AVG(POWER(pred - x, 2))) AS f_rmse,
             2.0 * AVG(ABS(pred - x)
                   / GREATEST(ABS(x) + ABS(pred), {_CV_EPS})) AS f_smape,
             STDDEV_POP(pred - x) AS f_te,
             AVG(CASE WHEN a_prev IS NOT NULL THEN
               CASE WHEN SIGN(x - a_prev) = SIGN(pred - p_prev)
                    THEN 1.0 ELSE 0.0 END END) AS f_da,
             MAX(CASE WHEN h_first THEN x END) AS a0,
             MAX(CASE WHEN h_last THEN x END) AS an,
             MAX(CASE WHEN h_first THEN pred END) AS p0,
             MAX(CASE WHEN h_last THEN pred END) AS pn,
             CAST(COUNT(*) AS BIGINT) AS n_obs
      FROM (SELECT *,
              bar = MIN(bar) OVER (PARTITION BY user_id, fold_id, model)
                AS h_first,
              bar = MAX(bar) OVER (PARTITION BY user_id, fold_id, model)
                AS h_last
            FROM lg)
      GROUP BY user_id, fold_id, model
      HAVING COUNT(*) = {_CV_HORIZON}
    ),
    fm2 AS (
      SELECT *,
             CASE WHEN SIGN(pn - p0) = 0 OR SIGN(an - a0) = 0 THEN 0.0
                  WHEN SIGN(pn - p0) = SIGN(an - a0) THEN 1.0
                  ELSE 0.0 END AS f_tda
      FROM fm
    )
"""


def _rolling_cv_folds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every test bar of every complete rolling-CV fold with the staged
    kernel forecasts for it: (user_id, fold_id, h1, bar, x, p_sarimax,
    p_garch, p_samossa), h1 the 1-based step inside the fold. The one
    builder of the ``rolling_cv_forecasts`` artifact (the per-(key,
    fold) refits of ``forecast/rollingcv.py``)."""
    from ..forecast.rollingcv import rolling_cv_forecast_table
    from .queries import stage_cached

    ev = load_table(spark, sf_dir, "events").filter(F.col("value") > 0)
    wk = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wp = Window.partitionBy("user_id")
    s = ev.select(
        "user_id",
        F.col("value").alias("x"),
        (F.row_number().over(wk) - 1).alias("bar"),
    ).withColumn("n", F.count(F.lit(1)).over(wp))
    fcs = stage_cached(
        spark,
        sf_dir,
        "rolling_cv_forecasts",
        lambda: rolling_cv_forecast_table(
            ev.select(
                "user_id",
                (F.row_number().over(wk) - 1).alias("rn"),
                "value",
            ),
            min_train=_CV_MIN_TRAIN,
            horizon=_CV_HORIZON,
        ),
    )
    fold_id = F.floor(
        (F.col("bar") - _CV_MIN_TRAIN) / _CV_HORIZON
    ).cast("int")
    te = s.filter(
        (F.col("bar") >= _CV_MIN_TRAIN)
        & (
            _CV_MIN_TRAIN
            + _CV_HORIZON
            * (F.floor((F.col("bar") - _CV_MIN_TRAIN) / _CV_HORIZON) + 1)
            <= F.col("n")
        )
    ).select(
        "user_id",
        "bar",
        "x",
        fold_id.alias("fold_id"),
        (
            F.col("bar")
            - _CV_MIN_TRAIN
            - _CV_HORIZON
            * F.floor((F.col("bar") - _CV_MIN_TRAIN) / _CV_HORIZON)
            + 1
        ).alias("h1"),
    )
    return te.join(
        fcs.select(
            "user_id", "fold_id", F.col("h").alias("h1"),
            "p_sarimax", "p_garch", "p_samossa",
        ),
        ["user_id", "fold_id", "h1"],
    )


@query(
    "rolling_cv_aggregate",
    oracle=f"""
    WITH {_RCV_SQL}
    SELECT user_id, model,
           CAST(COUNT(*) AS BIGINT) AS fold_count,
           CAST({_CV_HORIZON} AS INT) AS horizon,
           ROUND(AVG(f_rmse), 6) AS mean_rmse,
           ROUND(AVG(f_smape), 6) AS mean_smape,
           ROUND(AVG(f_te), 6) AS mean_tracking_error,
           ROUND(AVG(f_da), 6) AS mean_directional_accuracy,
           ROUND(AVG(f_tda), 6) AS mean_terminal_da,
           ROUND(AVG(CAST(n_obs AS DOUBLE)), 6) AS mean_n_observations
    FROM fm2
    GROUP BY user_id, model
    """,
)
def rolling_cv_aggregate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R146: the RollingWindowValidator with REAL per-fold kernel refits
    — expanding-train fold grid, the staged `rolling_cv_forecasts`
    kernel fan-out (HR-ARIMA grid / GARCH AR(1) mean path / SAMoSSA,
    refit per (key, fold), `forecast/rollingcv.py`), the equal-weight
    ensemble arm, per-fold regression-metric bundle per model,
    cross-fold means per (key, model). The refits run once per
    (code version, dataset) behind the stage cache; the metric bundle is
    one fine-grained groupBy — linear."""
    models = literal_grid(
        spark,
        [("sarimax",), ("garch",), ("samossa",), ("ensemble",)],
        "model string",
    )
    pr = (
        _rolling_cv_folds(spark, sf_dir)
        .crossJoin(F.broadcast(models))
        .select(
            "user_id",
            "fold_id",
            "bar",
            "x",
            "model",
            F.when(F.col("model") == "sarimax", F.col("p_sarimax"))
            .when(F.col("model") == "garch", F.col("p_garch"))
            .when(F.col("model") == "samossa", F.col("p_samossa"))
            .otherwise(
                (
                    F.col("p_sarimax")
                    + F.col("p_garch")
                    + F.col("p_samossa")
                )
                / 3.0
            )
            .alias("pred"),
        )
    )
    wf = Window.partitionBy("user_id", "fold_id", "model").orderBy("bar")
    wfu = Window.partitionBy("user_id", "fold_id", "model")
    lg = pr.select(
        "*",
        F.lag("x").over(wf).alias("a_prev"),
        F.lag("pred").over(wf).alias("p_prev"),
        (F.col("bar") == F.min("bar").over(wfu)).alias("h_first"),
        (F.col("bar") == F.max("bar").over(wfu)).alias("h_last"),
    )
    resid = F.col("pred") - F.col("x")
    da_term = F.when(
        F.col("a_prev").isNotNull(),
        F.when(
            F.signum(F.col("x") - F.col("a_prev"))
            == F.signum(F.col("pred") - F.col("p_prev")),
            1.0,
        ).otherwise(0.0),
    )
    fm = (
        lg.groupBy("user_id", "fold_id", "model")
        .agg(
            F.sqrt(F.avg(F.pow(resid, 2))).alias("f_rmse"),
            (
                2.0
                * F.avg(
                    F.abs(resid)
                    / F.greatest(
                        F.abs(F.col("x")) + F.abs(F.col("pred")),
                        F.lit(_CV_EPS),
                    )
                )
            ).alias("f_smape"),
            F.stddev_pop(resid).alias("f_te"),
            F.avg(da_term).alias("f_da"),
            F.max(F.when(F.col("h_first"), F.col("x"))).alias("a0"),
            F.max(F.when(F.col("h_last"), F.col("x"))).alias("an"),
            F.max(F.when(F.col("h_first"), F.col("pred"))).alias("p0"),
            F.max(F.when(F.col("h_last"), F.col("pred"))).alias("pn"),
            F.count(F.lit(1)).cast("long").alias("n_obs"),
        )
        .filter(F.col("n_obs") == _CV_HORIZON)
    )
    p_dir = F.signum(F.col("pn") - F.col("p0"))
    a_dir = F.signum(F.col("an") - F.col("a0"))
    fm2 = fm.withColumn(
        "f_tda",
        F.when((p_dir == 0) | (a_dir == 0), 0.0)
        .when(p_dir == a_dir, 1.0)
        .otherwise(0.0),
    )
    return fm2.groupBy("user_id", "model").agg(
        F.count(F.lit(1)).cast("long").alias("fold_count"),
        F.lit(_CV_HORIZON).cast("int").alias("horizon"),
        r6(F.avg("f_rmse")).alias("mean_rmse"),
        r6(F.avg("f_smape")).alias("mean_smape"),
        r6(F.avg("f_te")).alias("mean_tracking_error"),
        r6(F.avg("f_da")).alias("mean_directional_accuracy"),
        r6(F.avg("f_tda")).alias("mean_terminal_da"),
        r6(F.avg(F.col("n_obs").cast("double"))).alias(
            "mean_n_observations"
        ),
    )


# ---------------------------------------------------------------------------
# R154 — ensemble-weights verification (scripts/check_ensemble_weights.py)
# ---------------------------------------------------------------------------

# Reference `scripts/check_ensemble_weights.py:21-150`: per-ticker
# ensemble-weight report from stored forecasts — the weights dict sorted
# descending, the GARCH-weight band ladder (>=60% dominant / 40-60%
# balanced / <40% under-weighted / absent), per-model RMSE with forecast
# counts, the best single model (ensemble excluded), the ensemble/best
# RMSE ratio and its EXCELLENT (<1.1) / GOOD (<1.2) / ACCEPTABLE (<1.5) /
# POOR verdict ladder. Engine mapping: per-key model RMSEs come from the
# rolling-CV kernel refits (the staged `rolling_cv_forecasts` real-kernel
# fan-out), weights are the engine's inverse-RMSE rule over the three
# component kernels, confidence = each model's inverse-RMSE share.
_EWC_SQL = f"""
    WITH {_RCV_SQL},
    mr AS (
      SELECT user_id, model, AVG(f_rmse) AS rmse,
             CAST(COUNT(*) AS BIGINT) AS n_folds
      FROM fm2 GROUP BY user_id, model
    ),
    wide AS (
      SELECT user_id,
             MAX(CASE WHEN model = 'sarimax' THEN rmse END) AS r_sar,
             MAX(CASE WHEN model = 'garch' THEN rmse END) AS r_gar,
             MAX(CASE WHEN model = 'samossa' THEN rmse END) AS r_ssa,
             MAX(CASE WHEN model = 'ensemble' THEN rmse END) AS r_ens,
             MAX(n_folds) AS n_folds
      FROM mr GROUP BY user_id
    ),
    wts AS (
      SELECT *,
             1.0 / r_sar + 1.0 / r_gar + 1.0 / r_ssa AS z,
             LEAST(r_sar, r_gar, r_ssa) AS best_rmse,
             CASE WHEN r_sar <= r_gar AND r_sar <= r_ssa THEN 'sarimax'
                  WHEN r_gar <= r_ssa THEN 'garch'
                  ELSE 'samossa' END AS best_model
      FROM wide
    )
    SELECT user_id,
           ROUND((1.0 / r_sar) / z, 6) AS w_sarimax,
           ROUND((1.0 / r_gar) / z, 6) AS w_garch,
           ROUND((1.0 / r_ssa) / z, 6) AS w_samossa,
           CASE WHEN (1.0 / r_gar) / z >= 0.60 THEN 'garch_dominant'
                WHEN (1.0 / r_gar) / z >= 0.40 THEN 'garch_balanced'
                ELSE 'garch_underweighted' END AS garch_band,
           ROUND(r_sar, 6) AS rmse_sarimax,
           ROUND(r_gar, 6) AS rmse_garch,
           ROUND(r_ssa, 6) AS rmse_samossa,
           ROUND(r_ens, 6) AS rmse_ensemble,
           n_folds,
           best_model,
           ROUND(best_rmse, 6) AS best_rmse,
           ROUND(r_ens / best_rmse, 6) AS rmse_ratio,
           CASE WHEN r_ens / best_rmse < 1.1 THEN 'EXCELLENT'
                WHEN r_ens / best_rmse < 1.2 THEN 'GOOD'
                WHEN r_ens / best_rmse < 1.5 THEN 'ACCEPTABLE'
                ELSE 'POOR' END AS rmse_verdict
    FROM wts
"""


@query("ensemble_weights_check", oracle=_EWC_SQL)
def ensemble_weights_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R154: the ensemble-weights verification report — reference
    `scripts/check_ensemble_weights.py:21-150` (see `_EWC_SQL` mapping
    note). One row per key with the inverse-RMSE component weights, the
    GARCH-band ladder, per-model rolling-CV RMSEs, best single model and
    the ensemble/best ratio verdict.

    Scale: a per-(key, model) aggregate over the staged kernel-refit
    folds, pivoted key-grain. No new fits — the staged rolling-CV
    artifact is shared with R146."""
    from pyspark.sql import functions as F

    pr = _rolling_cv_folds(spark, sf_dir).select(
        "user_id", "fold_id", "x",
        "p_sarimax", "p_garch", "p_samossa",
        (
            (F.col("p_sarimax") + F.col("p_garch") + F.col("p_samossa"))
            / 3.0
        ).alias("p_ens"),
    )

    def rmse(pred):
        return F.sqrt(F.avg(F.pow(pred - F.col("x"), 2)))

    fold_rmse = (
        pr.groupBy("user_id", "fold_id")
        .agg(
            F.count(F.lit(1)).alias("n_obs"),
            rmse(F.col("p_sarimax")).alias("f_sar"),
            rmse(F.col("p_garch")).alias("f_gar"),
            rmse(F.col("p_samossa")).alias("f_ssa"),
            rmse(F.col("p_ens")).alias("f_ens"),
        )
        .filter(F.col("n_obs") == _CV_HORIZON)
    )
    wide = fold_rmse.groupBy("user_id").agg(
        F.avg("f_sar").alias("r_sar"),
        F.avg("f_gar").alias("r_gar"),
        F.avg("f_ssa").alias("r_ssa"),
        F.avg("f_ens").alias("r_ens"),
        F.count(F.lit(1)).cast("long").alias("n_folds"),
    )
    z = 1.0 / F.col("r_sar") + 1.0 / F.col("r_gar") + 1.0 / F.col("r_ssa")
    w_gar = (1.0 / F.col("r_gar")) / z
    best_rmse = F.least("r_sar", "r_gar", "r_ssa")
    best_model = (
        F.when(
            (F.col("r_sar") <= F.col("r_gar"))
            & (F.col("r_sar") <= F.col("r_ssa")),
            "sarimax",
        )
        .when(F.col("r_gar") <= F.col("r_ssa"), "garch")
        .otherwise("samossa")
    )
    ratio = F.col("r_ens") / best_rmse
    return wide.select(
        "user_id",
        r6((1.0 / F.col("r_sar")) / z).alias("w_sarimax"),
        r6(w_gar).alias("w_garch"),
        r6((1.0 / F.col("r_ssa")) / z).alias("w_samossa"),
        F.when(w_gar >= 0.60, "garch_dominant")
        .when(w_gar >= 0.40, "garch_balanced")
        .otherwise("garch_underweighted")
        .alias("garch_band"),
        r6(F.col("r_sar")).alias("rmse_sarimax"),
        r6(F.col("r_gar")).alias("rmse_garch"),
        r6(F.col("r_ssa")).alias("rmse_samossa"),
        r6(F.col("r_ens")).alias("rmse_ensemble"),
        "n_folds",
        best_model.alias("best_model"),
        r6(best_rmse).alias("best_rmse"),
        r6(ratio).alias("rmse_ratio"),
        F.when(ratio < 1.1, "EXCELLENT")
        .when(ratio < 1.2, "GOOD")
        .when(ratio < 1.5, "ACCEPTABLE")
        .otherwise("POOR")
        .alias("rmse_verdict"),
    )
